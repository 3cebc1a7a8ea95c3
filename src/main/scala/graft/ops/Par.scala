package graft.ops

/** Driver-side overlap of INDEPENDENT job chains (optimization guide
  * §2.6): Spark's scheduler happily runs several jobs at once inside
  * one application — actions are only sequential because the driver
  * calls them sequentially. Model-fit pairs (coarse quantizer vs PQ
  * codebooks), store-build pairs (coarse-assignment vs code store)
  * are independent collect/checkpoint chains whose wall time should
  * be max, not sum. Two lanes only — enough to fill the tail of a
  * small fit job, not so many they fight for executors.
  *
  * Each call runs its lanes on its own two-thread executor, shut
  * down on return. Each lane runs under the caller's active session
  * and a copy of the caller's local properties (job group, job tags,
  * scheduler pool, any span property), plus one job tag of its own.
  * When a lane fails, the sibling's tag is cancelled until the
  * sibling ends, so no job of the call outlives it; the first
  * failure is rethrown.
  */
object Par {

  def both[A, B](fa: => A, fb: => B): (A, B) = {
    import java.util.concurrent.{CompletableFuture, ExecutionException, Executors, TimeUnit}
    val spark = org.apache.spark.sql.SparkSession.active
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val sc = spark.sparkContext
    val pool = Executors.newFixedThreadPool(2)
    val call = s"graft-par-${java.util.UUID.randomUUID()}"
    def lane[T](tag: String)(body: => T): CompletableFuture[T] =
      org.apache.spark.sql.execution.SQLExecution.withThreadLocalCaptured(spark, pool) {
        sc.addJobTag(tag)
        body
      }
    // a cancelled lane may start another job before it sees the
    // failure, so cancel until it has ended
    def stop(tag: String, f: CompletableFuture[_]): Unit =
      while (!f.isDone) {
        sc.cancelJobsWithTag(tag, "a sibling Par.both lane failed")
        try f.get(100, TimeUnit.MILLISECONDS)
        catch { case _: Exception => }
      }
    val (tagA, tagB) = (s"$call-a", s"$call-b")
    val a = lane(tagA)(fa)
    val b = lane(tagB)(fb)
    try {
      try CompletableFuture.anyOf(a, b).get()
      catch { case _: ExecutionException => } // rethrown by the lane's get below
      if (a.isCompletedExceptionally) stop(tagB, b)
      if (b.isCompletedExceptionally) stop(tagA, a)
      (a.get(), b.get())
    } catch {
      case e: ExecutionException => throw e.getCause
      case e: InterruptedException => stop(tagA, a); stop(tagB, b); throw e
    } finally pool.shutdownNow()
  }
}
