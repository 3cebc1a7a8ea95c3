package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one per JVM — sbt forks one
  * test JVM; getOrCreate dedups across suites). Per-suite teardown
  * releases the semantic family's operator-internal persists
  * (Similarity.retainedAssignment's caller contract): a suite that
  * exercises semanticDedup and friends would otherwise leave
  * MEMORY_AND_DISK frames resident for every LATER suite in the
  * shared JVM. */
trait SparkSpec extends AnyFunSuite with org.scalatest.BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(dir: String): String = s"/root/testdata/$dir"

  /** Runs `body` and counts the Spark jobs it started from this
    * thread. Jobs are matched by a local property set for the call,
    * so work still running from earlier tests (streams, pool
    * threads) is not counted; the listener bus is flushed before the
    * count is read. */
  def jobsIn[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(SparkSpec.JobTag) == tag)
          n.incrementAndGet()
    }
    sc.addSparkListener(l)
    sc.setLocalProperty(SparkSpec.JobTag, tag)
    try {
      val out = body
      org.apache.spark.graftbridge.ListenerBridge.flush(sc)
      (out, n.get)
    } finally {
      sc.setLocalProperty(SparkSpec.JobTag, null)
      sc.removeSparkListener(l)
    }
  }

  override protected def afterAll(): Unit = {
    if (SparkSpec.started) graft.analytics.Similarity.releaseRetained(SparkSpec.session)
    super.afterAll()
  }
}

object SparkSpec {
  private val JobTag = "graft.test.jobTag"
  @volatile private var started = false
  lazy val session: SparkSession = {
    // the shipped factory, so every suite runs with its rules
    val s = GraftSession.builder("local[4]", 4)
      .appName("graft-test")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    started = true
    s
  }
}
