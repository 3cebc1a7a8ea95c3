package graft

import java.net.URI
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.Trigger

import graft.sinks.{GraftLocalFileSystem, GraftLocalFs, GraftRawLocalFileSystem, TableLog}

/** graft's `file:` scheme ([[GraftRawLocalFileSystem]]): every graft
  * session resolves `file:` to it, writing through it starts no child
  * process, and it leaves the same modes and link answers as stock
  * Hadoop. */
class LocalFsSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  /** The command lines (and stacks) of the processes the JVM started
    * while `body` ran (JFR's `jdk.ProcessStart` event), except on
    * Spark's executor heartbeat thread: its first beat, 10-20 s after
    * the context starts, runs `getconf PAGESIZE` once per JVM for the
    * process-tree metrics, whatever else is running. */
  private def processStarts(body: => Unit): Seq[String] = {
    val r = new Recording()
    r.enable("jdk.ProcessStart")
    r.start()
    try body finally r.stop()
    val f = Files.createTempFile("graft-process-starts", ".jfr")
    try {
      r.dump(f)
      RecordingFile.readAllEvents(f).asScala.filterNot { e =>
        Option(e.getThread("eventThread")).exists(_.getJavaName == "executor-heartbeater")
      }.map { e =>
        s"[${Option(e.getThread("eventThread")).fold("?")(_.getJavaName)}] " +
          e.getString("command") + Option(e.getStackTrace).fold("")(_.getFrames.asScala
          .map(fr => fr.getMethod.getType.getName + "." + fr.getMethod.getName)
          .mkString(" <- ", " <- ", ""))
      }.toSeq
    } finally { r.close(); Files.delete(f) }
  }

  private def rows(ids: Range): DataFrame =
    ids.map(i => (i.toLong, s"p$i")).toDF("id", "payload")

  private def changes(cs: (Long, Long, String, String)*): DataFrame =
    cs.toDF("id", "seq", "op", "payload")

  test("no TableLog write verb and no file-checkpointed foreachBatch starts a process") {
    // Hadoop's Shell class probes for `setsid` once, when first loaded
    spark.range(1).write.mode("overwrite").parquet(tmp("graft-warm"))
    val t = tmp("graft-ps-table")
    val src = tmp("graft-ps-src")
    val serve = tmp("graft-ps-serve")
    val ckpt = tmp("graft-ps-ckpt")
    TableLog.append(rows(0 until 3), src)
    val started = processStarts {
      TableLog.append(rows(0 until 4), t)
      TableLog.appendStreamBatch(rows(4 until 6), t, "w", 0L)
      TableLog.addConstraint(spark, t, "nonneg", "id >= 0")
      TableLog.upsert(rows(5 until 8), t, Seq("id"))
      TableLog.merge(spark, t, changes((1L, 1L, "U", "u1"), (20L, 1L, "I", "i20")),
        "id", "seq", "op")
      TableLog.mergeStreamBatch(spark, t, changes((21L, 1L, "I", "i21")),
        "id", "seq", "op", "m", 0L)
      TableLog.delete(spark, t, $"id" === 2L)
      TableLog.deleteVectors(spark, t, $"id" === 3L)
      TableLog.compact(spark, t)
      TableLog.append(rows(30 until 31), t)
      TableLog.append(rows(31 until 32), t)
      TableLog.compactSmallFiles(spark, t, minSmallFiles = 2)
      TableLog.overwrite(rows(0 until 3), t)
      TableLog.dropConstraint(spark, t, "nonneg")
      TableLog.restore(spark, t, 2L)
      spark.readStream.format("graft.streaming.TableLogSource").option("path", src).load()
        .writeStream
        .foreachBatch(TableLog.exactlyOnceSink(serve, "hop"))
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
        .awaitTermination()
    }
    assert(TableLog.read(spark, serve).count() == 3L)
    assert(TableLog.read(spark, t).count() == 6L) // restored v2
    assert(started.isEmpty, s"${started.size} process starts: ${started.distinct.take(5)}")
  }

  test("the factory session and its newSession() resolve file: to graft's classes") {
    // Hadoop caches one `file:` FileSystem per JVM: a stock instance
    // cached before the first session would be served to every later one
    val p = new Path(tmp("graft-fs"))
    for (s <- Seq(spark, spark.newSession())) {
      val conf = s.sessionState.newHadoopConf()
      val fs = p.getFileSystem(conf)
      assert(fs.getClass == classOf[GraftLocalFileSystem], fs.getClass)
      assert(fs.asInstanceOf[GraftLocalFileSystem].getRaw.getClass ==
        classOf[GraftRawLocalFileSystem])
      assert(p.getFileSystem(s.sparkContext.hadoopConfiguration) eq fs)
      val afs = FileContext.getFileContext(p.toUri, conf).getDefaultFileSystem
      assert(afs.getClass == classOf[GraftLocalFs], afs.getClass)
    }
  }

  test("graft's file: scheme leaves stock Hadoop's modes and link statuses") {
    val root = Files.createTempDirectory("graft-modes")
    def mode(p: String): Int =
      Files.getAttribute(Paths.get(p), "unix:mode").asInstanceOf[Int] & 0xfff
    def fsFor(fs: RawLocalFileSystem, umask: String): RawLocalFileSystem = {
      val conf = new Configuration()
      conf.set("fs.permissions.umask-mode", umask)
      fs.initialize(URI.create("file:///"), conf)
      fs
    }
    // a directory whose new subdirectories inherit setgid
    val shared = Files.createDirectory(root.resolve("shared"))
    Files.setAttribute(shared, "unix:mode", Integer.valueOf(0x5fd)) // 02775
    for (umask <- Seq("022", "077", "002")) {
      def made(fs: RawLocalFileSystem, tag: String): Seq[Int] = {
        val d = s"$root/$tag-$umask"
        val sub = s"$shared/$tag-$umask"
        fs.mkdirs(new Path(s"$d/a/b"))
        fs.create(new Path(s"$d/a/f")).close()
        fs.create(new Path(s"$d/a/g"), new FsPermission("640"), false, 4096,
          1.toShort, 1L << 20, null).close()
        fs.create(new Path(s"$d/h")).close()
        fs.setPermission(new Path(s"$d/h"), new FsPermission("751"))
        fs.mkdirs(new Path(s"$d/sticky"), new FsPermission(0x3ff.toShort)) // 01777
        fs.mkdirs(new Path(sub))
        Seq(s"$d/a", s"$d/a/b", s"$d/a/f", s"$d/a/g", s"$d/h", s"$d/sticky", sub).map(mode)
      }
      val ours = made(fsFor(new GraftRawLocalFileSystem, umask), "graft")
      val stock = made(fsFor(new RawLocalFileSystem, umask), "stock")
      assert(ours == stock, s"umask $umask: ${ours.map(_.toOctalString)} vs " +
        stock.map(_.toOctalString))
    }
    val graft = fsFor(new GraftRawLocalFileSystem, "022")
    val stock = fsFor(new RawLocalFileSystem, "022")
    val target = Files.createFile(root.resolve("target"))
    val link = new Path(Files.createSymbolicLink(root.resolve("link"), target).toString)
    for (fs <- Seq(graft, stock)) {
      val st = fs.getFileLinkStatus(link)
      assert(st.isSymlink && st.getSymlink.toUri.getPath == target.toString, st)
      assert(!fs.getFileLinkStatus(new Path(target.toString)).isSymlink)
    }
    intercept[java.io.FileNotFoundException](graft.getFileLinkStatus(new Path(s"$root/none")))
  }
}
