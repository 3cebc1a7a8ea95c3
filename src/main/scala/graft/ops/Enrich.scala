package graft.ops

import org.apache.spark.sql.{Dataset, Encoder}

/** Enrichment (SURVEY.md §2.2 O5 / §2.3 J3): geocoding-style lookup.
  *
  * Deterministic mode — the default — is a plain dimension-table left
  * join (`df.join(broadcast(dim), keys, "left_outer")`): reproducible,
  * testable, oracle-friendly. Live mode wraps an
  * external client in mapPartitions with a client-side rate limiter
  * (the reference hits Nominatim at 1 req/s; a 1000-task cluster
  * calling an external API needs the limiter INSIDE the task, and few
  * partitions for the side that calls out).
  */
object Enrich {

  /** Live mode: one client per partition, at most one call per
    * `minIntervalMs` within the partition. The lookup is applied
    * row-by-row with per-row failure isolation (None on error) —
    * the F5 policy, not a task failure. */
  def rateLimited[T, U](ds: Dataset[T],
                        makeClient: () => T => Option[U],
                        minIntervalMs: Long)
                       (implicit enc: Encoder[(T, Option[U])]): Dataset[(T, Option[U])] =
    ds.mapPartitions { rows =>
      val client = makeClient()
      var lastCall = 0L
      rows.map { r =>
        val wait = lastCall + minIntervalMs - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        lastCall = System.currentTimeMillis()
        r -> (try client(r) catch { case _: Exception => None })
      }
    }
}
