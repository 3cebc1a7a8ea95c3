package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One verifiable operator demonstration: a Spark query over the
  * corpus tables plus (optionally) the byte-identical DuckDB oracle
  * SQL. Determinism contract for the driver's hash compare:
  *   - every query ends with a total ORDER BY on a unique key prefix;
  *   - no raw double aggregation — sums go through ops.Exact;
  *   - computed doubles are either pure passthrough or identical
  *     IEEE scalar expressions on both sides;
  *   - integer-valued computed columns are cast to BIGINT on both
  *     sides (Spark row_number is INT, DuckDB's is BIGINT; DuckDB
  *     sum(int) is HUGEINT, Spark's is LONG).
  */
final case class Q(
    name: String,
    oracle: Option[String],
    run: (SparkSession, String) => DataFrame)

object Q {
  def apply(name: String, oracle: String)(run: (SparkSession, String) => DataFrame): Q =
    Q(name, Some(oracle), run)

  /** Oracle-side decimal type of the 2-decimal money columns. */
  private[queries] val DEC = "DECIMAL(18,2)"
  /** Oracle-side exact sum of a 2-decimal double column (see ops.Exact). */
  private[queries] def dsum(c: String) = s"CAST(sum(CAST($c AS $DEC)) AS DOUBLE)"
}
