package graft

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import graft.sinks.LogStore

/** A conditional-put [[LogStore]] for the `grafts3` test scheme
  * ([[FakeObjectStoreFS]]) that loses ONE publish on demand: once
  * [[arm]]ed, the next manifest publish first runs the `rival` commit
  * (which takes the very version the writer was about to publish,
  * through this same store) and then attempts its own put — which the
  * conditional put refuses. Every TableLog write verb's lose-and-retry
  * path is driven through this seam, the one a production object
  * store plugs into, with no test hook in the verbs themselves.
  * `losses` counts refused puts since the last [[arm]]. */
final class RacingLogStore extends LogStore {
  private var rival: Option[() => Unit] = None
  @volatile var losses = 0

  /** Make the next publish lose to `commit`. */
  def arm(commit: => Unit): Unit = synchronized {
    rival = Some(() => commit)
    losses = 0
  }

  override def putIfAbsent(f: FileSystem, dst: Path, body: Array[Byte]): Boolean = {
    val r = synchronized { val x = rival; rival = None; x }
    r.foreach(_.apply())
    val won = synchronized {
      if (f.exists(dst)) false
      else {
        val out = f.create(dst, false)
        try out.write(body) finally out.close()
        true
      }
    }
    if (!won) losses += 1
    won
  }
}

object RacingLogStore {

  /** Run `body` with a fresh [[RacingLogStore]] serving `grafts3`
    * (the fake object-store FileSystem installed on the session's
    * Hadoop conf); `table()` names a fresh `grafts3://` table dir.
    * The scheme's previous store binding is restored afterwards. */
  def withStore[A](spark: SparkSession)(body: (RacingLogStore, () => String) => A): A = {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.grafts3.impl", classOf[FakeObjectStoreFS].getName)
    conf.set("fs.grafts3.impl.disable.cache", "true")
    val store = new RacingLogStore
    val prev = LogStore.register("grafts3", store)
    try body(store, () =>
      "grafts3://" + java.nio.file.Files.createTempDirectory("graft-race").toString)
    finally prev match {
      case Some(p) => LogStore.register("grafts3", p)
      case None => LogStore.unregister("grafts3")
    }
  }
}
