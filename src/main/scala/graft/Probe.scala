package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.sinks.TableLog

/** Ad-hoc TableLog scale probes — the isolated-JVM measurements the
  * bench's gate suite can't express (phase-separated walls, byte
  * accounting). NOT driver surface. Each subcommand builds its tables
  * in temp dirs, prints ONE JSON line and deletes what it built; the
  * rows land in SCALING.md / SCALE100_r{N}.json with the protocol
  * noted there. `SPARK_GRAFT_CPUS` sizes the session (default 32).
  *
  *   sbt "runMain graft.Probe widedelete <sfDir>"
  *   sbt "runMain graft.Probe dvdelete <sfDir> [reps]"
  *   sbt "runMain graft.Probe manifest [nFiles]"
  *
  *  - `widedelete` — the worst copy-on-write
  *    case: a table committed as FEW WIDE files (4 range appends of
  *    the full documents frame, text column included), then (a) a
  *    one-hot-row-PER-FILE delete (every file rewrites for a 1-row
  *    logical change — the case merge-on-read deletion vectors exist
  *    for) and (b) a same-size delete confined to ONE file (the
  *    stats-prune best case), each timed separately with
  *    bytes-rewritten accounting from the manifests.
  *  - `dvdelete` (10 reps by default) — the widedelete worst case re-run
  *    against deletion vectors: a REPS× documents corpus in 4 wide
  *    files, ONE hot row per file (chosen per actual file membership
  *    via _metadata), deleted through (a) the copy-on-write verb and
  *    (b) deleteVectors: wall + bytes written + files rewritten for
  *    each, plus the DV-applied read's cost vs the materialized read.
  *  - `manifest` (10000 files by default) — the manifest file-count ceiling: one
  *    commit of N range-clustered files (repartitionByRange(N) of 10·N
  *    rows), then every driver-side metadata verb the log's scale
  *    story leans on: the commit itself (data write + pooled footer
  *    harvest + manifest publish), head resolution, full-manifest
  *    parse, a selective readWhere prune over N per-file stats,
  *    statsSummary, history, a small append on top (the O(Δ) claim),
  *    and the checkpoint-due commit (the amortized
  *    O(files)/CHECKPOINT_EVERY cost).
  *
  * A bare `count()` of a TableLog read is answered from the manifest
  * (plans.MetadataCount), so read timings force the scan with a
  * `noop` write and row parity uses `.rdd.count()`.
  */
object Probe {

  def main(args: Array[String]): Unit = {
    val usage = "usage: Probe widedelete <sfDir> | dvdelete <sfDir> [reps] | manifest [nFiles]"
    val arg = args.lift
    val probe: SparkSession => Unit = (arg(0), arg(1)) match {
      case (Some("widedelete"), Some(sfDir)) => wideDelete(_, sfDir)
      case (Some("dvdelete"), Some(sfDir)) =>
        dvDelete(_, sfDir, arg(2).fold(10)(_.toInt))
      case (Some("manifest"), n) => manifest(_, n.fold(10000)(_.toInt))
      case _ => sys.error(usage)
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.local(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try probe(spark) finally spark.stop()
  }

  private def ms[A](body: => A): (A, Long) = {
    val t0 = System.nanoTime(); val a = body
    (a, (System.nanoTime() - t0) / 1000000L)
  }

  /** Runs `body` on fresh temp table dirs, one per tag, then deletes
    * each tree (deepest-first; the Files.walk stream closed explicitly
    * — it holds a directory fd). */
  private def withTables[A](tags: String*)(body: Seq[String] => A): A = {
    val dirs = tags.map(t =>
      java.nio.file.Files.createTempDirectory(s"graft-probe-$t").toString)
    try body(dirs) finally dirs.foreach { root =>
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala.toSeq.sortBy(-_.getNameCount)
          .foreach(java.nio.file.Files.deleteIfExists(_))
      } finally walk.close()
    }
  }

  private def bytesOf(spark: SparkSession, t: String, files: Seq[String]): Long = {
    val f = new Path(t).getFileSystem(spark.sparkContext.hadoopConfiguration)
    files.map(rel => f.getFileStatus(new Path(t, rel)).getLen).sum
  }

  private def wideDelete(spark: SparkSession, sfDir: String): Unit =
    withTables("widedelete") { case Seq(t) =>
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val (mn, mx, n) = {
        val r = docs.agg(min("doc_id"), max("doc_id"), count(lit(1))).head
        (r.getLong(0), r.getLong(1), r.getLong(2))
      }
      val span = (mx - mn) / 4 + 1
      // 4 range appends, each coalesced to ONE wide file (text included)
      (0 until 4).foreach { i =>
        TableLog.append(docs.filter(col("doc_id") >= mn + i * span &&
          col("doc_id") < mn + (i + 1) * span).coalesce(1), t)
      }
      val m0 = TableLog.manifest(spark, t)
      val tableBytes = bytesOf(spark, t, m0.files)
      // one hot row per file — REAL ids (the corpus ids are sparse:
      // rep-offset blocks), one inside each file's stats interval
      val hotIds = (0 until 4).map(i =>
        docs.filter(col("doc_id") >= mn + i * span)
          .agg(min("doc_id")).head.getLong(0))
      val (_, msAll) = ms(TableLog.delete(spark, t, col("doc_id").isin(hotIds: _*)))
      val m1 = TableLog.manifest(spark, t)
      val rewrittenAll = bytesOf(spark, t, m1.files.filterNot(m0.files.toSet))
      val touchedAll = m0.files.count(x => !m1.files.contains(x))
      // the contrast: same cardinality, confined to ONE file's range
      val oneIds = (1 until 5).map(k => mn + k) // 4 ids, all in range 0
      val (_, msOne) = ms(TableLog.delete(spark, t, col("doc_id").isin(oneIds: _*)))
      val m2 = TableLog.manifest(spark, t)
      val rewrittenOne = bytesOf(spark, t, m2.files.filterNot(m1.files.toSet))
      val touchedOne = m1.files.count(x => !m2.files.contains(x))
      def sec(millis: Long): String = f"${millis / 1000.0}%.2f"
      println(
        s"""{"probe":"widedelete","rows":$n,"files":4,"table_mb":${tableBytes >> 20},""" +
        s""""hot_per_file":{"sec":${sec(msAll)},"files_rewritten":$touchedAll,"mb_rewritten":${rewrittenAll >> 20}},""" +
        s""""one_file":{"sec":${sec(msOne)},"files_rewritten":$touchedOne,"mb_rewritten":${rewrittenOne >> 20}}}""")
    }

  private def dvDelete(spark: SparkSession, src: String, reps: Int): Unit =
    withTables("cow", "dv") { case Seq(cowT, dvT) =>
      val base = graft.sources.Tables.documents(spark, src)
      val docs = (0 until reps).map(r => base.withColumn("doc_id",
          col("doc_id") + lit(r.toLong * 10_000_000L)))
        .reduce(_ unionByName _)
        .repartition(4)
        .localCheckpoint(true)
      Seq(cowT, dvT).foreach(TableLog.append(docs, _))
      // one hot row per file, chosen from REAL file membership
      val hot = spark.read.parquet(
          TableLog.manifest(spark, cowT).files.map(r => s"$cowT/$r"): _*)
        .groupBy(col("_metadata.file_name"))
        .agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id")).collect().map(_.getLong(0)).toSeq
      val pred = col("doc_id").isin(hot: _*)
      val preCow = TableLog.manifest(spark, cowT)
      val tableBytes = bytesOf(spark, cowT, preCow.files)
      val (_, tCow) = ms(TableLog.delete(spark, cowT, pred))
      val postCow = TableLog.manifest(spark, cowT)
      val cowNew = postCow.files.filterNot(preCow.files.toSet)
      val cowBytes = bytesOf(spark, cowT, cowNew)
      val preDv = TableLog.manifest(spark, dvT)
      val (_, tDv) = ms(TableLog.deleteVectors(spark, dvT, pred))
      val postDv = TableLog.manifest(spark, dvT)
      val dvNew = postDv.files.filterNot(preDv.files.toSet) ++
        postDv.dvs.valuesIterator.map(_.path).toSeq.distinct
      val dvBytes = bytesOf(spark, dvT, dvNew)
      val carried = postDv.files.toSet == preDv.files.toSet
      // read costs: DV-applied vs materialized, each a full scan
      def scan(t: String): Unit =
        TableLog.read(spark, t).write.format("noop").mode("overwrite").save()
      val (_, tReadDv) = ms(scan(dvT))
      val (_, tReadCow) = ms(scan(cowT))
      val nDv = TableLog.read(spark, dvT).rdd.count()
      val nCow = TableLog.read(spark, cowT).rdd.count()
      require(nDv == nCow, s"parity: $nDv vs $nCow")
      val (_, tCompact) = ms(TableLog.compact(spark, dvT, numFiles = 4))
      val (_, tReadMat) = ms(scan(dvT))
      println(s"""{"probe":"dv_delete","reps":$reps,"rows":${docs.count()},""" +
        s""""table_bytes":$tableBytes,"hot_rows":${hot.size},""" +
        s""""cow_ms":$tCow,"cow_bytes":$cowBytes,"cow_files_rewritten":${cowNew.size},""" +
        s""""dv_ms":$tDv,"dv_bytes":$dvBytes,"dv_carried_all":$carried,""" +
        s""""read_dv_ms":$tReadDv,"read_cow_ms":$tReadCow,""" +
        s""""compact_ms":$tCompact,"read_materialized_ms":$tReadMat}""")
    }

  private def manifest(spark: SparkSession, n: Int): Unit =
    withTables(s"manifest-$n") { case Seq(table) =>
      val rows = spark.range(10L * n)
        .select(col("id"), (col("id") % 97).as("x"),
          concat(lit("doc-"), col("id")).as("s"))
        .repartitionByRange(n, col("id"))
      val (_, tCommit) = ms(TableLog.append(rows, table))
      val files = TableLog.manifest(spark, table).files.size
      val (_, tHead) = ms(TableLog.headVersion(spark, table))
      val (_, tResolve) = ms(TableLog.manifest(spark, table))
      // selective range prune: ~1/1000 of the id space
      val pred = col("id") >= lit(5L * n) && col("id") < lit(5L * n + 10L * n / 1000)
      val ((all, kept), tPrune) = ms(TableLog.pruneFiles(spark, table, pred))
      // a filtered count stays on the scan path (MetadataCount needs a bare count)
      val (_, tScan) = ms(TableLog.readWhere(spark, table, pred).count())
      val (_, tSummary) = ms(TableLog.statsSummary(spark, table).count())
      val (_, tHistory) = ms(TableLog.history(spark, table))
      // the O(Δ) face: a 1-file append on top of the N-file head
      val one = spark.range(1).select((col("id") + 100L * n).as("id"),
        lit(0L).as("x"), lit("tail").as("s")).coalesce(1)
      val (_, tDelta) = ms(TableLog.append(one, table))
      // force the checkpoint-due commit (CHECKPOINT_EVERY = 8): pays the
      // full-snapshot write — the amortized O(files) cost per 8 commits
      (3 to TableLog.CHECKPOINT_EVERY).foreach(_ => TableLog.append(one, table))
      val (_, tCkptCommit) = ms(TableLog.append(one, table))
      val (_, tResolveTail) = ms(TableLog.manifest(spark, table))
      val manifestBytes = new java.io.File(table, "_log")
        .listFiles().map(_.length()).max
      println(s"""{"probe":"manifest_scale","n_files":$files,""" +
        s""""commit_ms":$tCommit,"head_ms":$tHead,"resolve_ms":$tResolve,""" +
        s""""prune_ms":$tPrune,"pruned_to":${kept.size},"of":${all.size},""" +
        s""""scan_ms":$tScan,"summary_ms":$tSummary,"history_ms":$tHistory,""" +
        s""""delta_append_ms":$tDelta,"ckpt_commit_ms":$tCkptCommit,""" +
        s""""resolve_with_tail_ms":$tResolveTail,""" +
        s""""max_manifest_bytes":$manifestBytes}""")
    }
}
