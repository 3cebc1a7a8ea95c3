package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.ops.Exact

/** OLAP surface beyond the reference (SURVEY.md §2.5 notes the
  * reference has no real analytics): rollup, pivot, and the window
  * function suite. Parity notes: rollup's null group keys need
  * explicit NULLS FIRST in the oracle (DuckDB defaults NULLS LAST,
  * Spark ascending defaults nulls first); pivot cells with no rows are
  * null in Spark vs 0 for DuckDB's count FILTER — na.fill(0) aligns.
  */
object OlapQueries {

  import Q.{DEC, dsum}

  /** Shared pre-aggregate for the grouping-set family: lineitem
    * collapsed to one partial (count, decimal sum) row per
    * (returnflag, linestatus) combo — the Expand of rollup/cube/
    * grouping-sets then multiplies ~25 rows, not the fact table. */
  private[queries] def groupingBase(s: org.apache.spark.sql.SparkSession,
      d: String, valueCol: String): org.apache.spark.sql.DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("pn"),
        sum(graft.ops.Exact.dec(col(valueCol))).as("ps"))

  val queries: Seq[Q] = Seq(

    // ---------------------------------------------------------------- q42
    Q("q42_rollup",
      s"""SELECT l_returnflag, l_linestatus, count(*) AS n, ${dsum("l_quantity")} AS sum_qty
         |FROM lineitem
         |GROUP BY ROLLUP(l_returnflag, l_linestatus)
         |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin) { (s, d) =>
      // pre-aggregate to the (flag, status) combos BEFORE the rollup:
      // the Expand that multiplies rows per grouping set then runs
      // over ~25 partial rows instead of the whole fact table, and
      // decimal partials re-aggregate exactly
      OlapQueries.groupingBase(s, d, "l_quantity")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("pn")).as("n"), sum(col("ps")).cast("double").as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    },

    // ---------------------------------------------------------------- q66
    // CUBE completes the OLAP grouping family (ROLLUP q42, GROUPING
    // SETS q51, pivot q43): all four (flag, status) subtotal
    // combinations, with grouping() flags disambiguating real nulls
    // from subtotal rows.
    Q("q66_cube",
      s"""SELECT l_returnflag, l_linestatus,
         |  CAST(grouping(l_returnflag) AS BIGINT) AS g_flag,
         |  CAST(grouping(l_linestatus) AS BIGINT) AS g_status,
         |  count(*) AS n, ${dsum("l_extendedprice")} AS sum_price
         |FROM lineitem
         |GROUP BY CUBE(l_returnflag, l_linestatus)
         |ORDER BY g_flag, g_status, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin) { (s, d) =>
      OlapQueries.groupingBase(s, d, "l_extendedprice")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(grouping(col("l_returnflag")).cast("long").as("g_flag"),
          grouping(col("l_linestatus")).cast("long").as("g_status"),
          sum(col("pn")).as("n"), sum(col("ps")).cast("double").as("sum_price"))
        .select(col("l_returnflag"), col("l_linestatus"), col("g_flag"),
          col("g_status"), col("n"), col("sum_price"))
        .orderBy(col("g_flag"), col("g_status"),
          col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    },

    // ---------------------------------------------------------------- q69
    // Exact interpolated percentiles (R-7 / linear interpolation —
    // both engines place the quantile at p·(n-1) and lerp), the exact
    // counterpart of q38's GK sketch and a generalization of q54's
    // median. Both sides round at 6 to absorb last-bit lerp
    // differences.
    Q("q69_percentile_cont",
      """SELECT event_type,
        |  round(quantile_cont(value, 0.25), 6) AS p25,
        |  round(quantile_cont(value, 0.5), 6) AS p50,
        |  round(quantile_cont(value, 0.75), 6) AS p75
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(
          Exact.duckRound(expr("percentile(value, 0.25)"), 6).as("p25"),
          Exact.duckRound(expr("percentile(value, 0.5)"), 6).as("p50"),
          Exact.duckRound(expr("percentile(value, 0.75)"), 6).as("p75"))
        .orderBy("event_type")
    },

    // ---------------------------------------------------------------- q70
    // Relative-rank window functions: percent_rank ((rank-1)/(n-1))
    // and cume_dist (peers-inclusive fraction) — rational arithmetic
    // over integers, identical definitions in both engines.
    Q("q70_window_relrank",
      """SELECT event_id,
        |  round(percent_rank() OVER w, 6) AS prank,
        |  round(cume_dist() OVER w, 6) AS cdist
        |FROM events
        |WINDOW w AS (PARTITION BY event_type ORDER BY value)
        |ORDER BY event_id""".stripMargin) { (s, d) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type")).orderBy(col("value"))
      Tables.events(s, d)
        .select(col("event_id"),
          Exact.duckRound(percent_rank().over(w), 6).as("prank"),
          Exact.duckRound(cume_dist().over(w), 6).as("cdist"))
        .orderBy("event_id")
    },

    // ---------------------------------------------------------------- q71
    // UNPIVOT (melt): the inverse of q43's pivot — wide per-nation
    // counts back to long (nationkey, metric, value) form.
    Q("q71_unpivot",
      """WITH wide AS (
        |  SELECT c_nationkey AS k,
        |    CAST(count(*) AS BIGINT) AS n_cust,
        |    CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS n_segments
        |  FROM customer GROUP BY 1)
        |SELECT k, metric, value FROM wide
        |UNPIVOT (value FOR metric IN (n_cust, n_segments))
        |ORDER BY k, metric""".stripMargin) { (s, d) =>
      Tables.customer(s, d)
        .groupBy(col("c_nationkey").as("k"))
        .agg(count(lit(1)).as("n_cust"),
          countDistinct(col("c_mktsegment")).as("n_segments"))
        .unpivot(Array(col("k")), Array(col("n_cust"), col("n_segments")),
          "metric", "value")
        .orderBy("k", "metric")
    },

    // ---------------------------------------------------------------- q43
    Q("q43_pivot",
      """SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
        |  count(*) FILTER (WHERE event_type = 'click') AS click,
        |  count(*) FILTER (WHERE event_type = 'error') AS error,
        |  count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
        |  count(*) FILTER (WHERE event_type = 'signup') AS signup,
        |  count(*) FILTER (WHERE event_type = 'view') AS view
        |FROM events GROUP BY 1 ORDER BY day""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .groupBy(date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy("day")
    },

    // ---------------------------------------------------------------- q44
    // The window-function suite over customer order history.
    Q("q44_window_suite",
      """SELECT o_custkey, o_orderkey,
        |  CAST(row_number()  OVER w AS BIGINT) AS rn,
        |  CAST(rank()        OVER w AS BIGINT) AS rnk,
        |  CAST(dense_rank()  OVER w AS BIGINT) AS drnk,
        |  CAST(ntile(4)      OVER w AS BIGINT) AS quartile,
        |  lag(o_orderkey)    OVER w AS prev_order,
        |  lead(o_orderkey)   OVER w AS next_order,
        |  first_value(o_orderkey) OVER w AS first_order,
        |  CAST(count(*) OVER (PARTITION BY o_custkey) AS BIGINT) AS n_orders
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, rn""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
      Tables.orders(s, d)
        .select(
          col("o_custkey"), col("o_orderkey"),
          row_number().over(w).cast("long").as("rn"),
          rank().over(w).cast("long").as("rnk"),
          dense_rank().over(w).cast("long").as("drnk"),
          ntile(4).over(w).cast("long").as("quartile"),
          lag(col("o_orderkey"), 1).over(w).as("prev_order"),
          lead(col("o_orderkey"), 1).over(w).as("next_order"),
          first(col("o_orderkey")).over(w).as("first_order"),
          count(lit(1)).over(Window.partitionBy(col("o_custkey"))).as("n_orders"))
        .orderBy("o_custkey", "rn")
    },

    // ---------------------------------------------------------------- q175
    // Equi-frequency discretization — the feature-engineering
    // ASSIGNMENT operator next to q69's percentile VALUES: per-group
    // quartile boundaries (duckRound(6) — the q69 parity spelling),
    // broadcast back, every row binned 0..3 by comparison against
    // the rounded boundaries (raw value vs rounded cut: both engines
    // compare the same doubles). The ML-prep quantile-bucketizer a
    // training pipeline runs before crossing/hashing features; plan
    // is one |groups|-row agg + a broadcast join riding the scan.
    Q("q175_quantile_binning",
      """WITH b AS (SELECT event_type,
        |    round(quantile_cont(value, 0.25), 6) AS p25,
        |    round(quantile_cont(value, 0.5), 6) AS p50,
        |    round(quantile_cont(value, 0.75), 6) AS p75
        |  FROM events WHERE value IS NOT NULL GROUP BY event_type)
        |SELECT event_id, e.event_type, round(value, 6) AS v,
        |  CAST(CASE WHEN value <= p25 THEN 0 WHEN value <= p50 THEN 1
        |       WHEN value <= p75 THEN 2 ELSE 3 END AS BIGINT) AS bin
        |FROM events e JOIN b USING (event_type)
        |WHERE value IS NOT NULL
        |ORDER BY event_id""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d).filter(col("value").isNotNull)
      val b = ev.groupBy(col("event_type")).agg(
        Exact.duckRound(expr("percentile(value, 0.25)"), 6).as("p25"),
        Exact.duckRound(expr("percentile(value, 0.5)"), 6).as("p50"),
        Exact.duckRound(expr("percentile(value, 0.75)"), 6).as("p75"))
      ev.join(broadcast(b), Seq("event_type"))
        .select(col("event_id"), col("event_type"),
          Exact.duckRound(col("value"), 6).as("v"),
          when(col("value") <= col("p25"), 0L)
            .when(col("value") <= col("p50"), 1L)
            .when(col("value") <= col("p75"), 2L)
            .otherwise(3L).as("bin"))
        .orderBy("event_id")
    },

    // ---------------------------------------------------------------- q176
    // Per-group z-score standardization — the other half of ML
    // feature prep: group mean and sample stddev via the q13
    // exact-decimal component spelling (sums as DECIMAL, one sqrt —
    // the portable root), broadcast back, every row standardized
    // and duckRounded. Same plan shape as q175.
    Q("q176_group_zscore",
      s"""WITH m AS (SELECT o_orderpriority,
         |    count(*) AS n,
         |    ${dsum("o_totalprice")} / CAST(count(*) AS DOUBLE) AS mu,
         |    CASE WHEN count(*) > 1 THEN sqrt(
         |      (CAST(sum(CAST(o_totalprice AS $DEC) * CAST(o_totalprice AS $DEC)) AS DOUBLE)
         |       - ${dsum("o_totalprice")} * ${dsum("o_totalprice")} / CAST(count(*) AS DOUBLE))
         |      / (count(*) - 1)) END AS sd
         |  FROM orders GROUP BY o_orderpriority)
         |SELECT o_orderkey, o.o_orderpriority,
         |  round(CASE WHEN sd > 0 THEN (o_totalprice - mu) / sd END, 6) AS z
         |FROM orders o JOIN m USING (o_orderpriority)
         |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      val o = Tables.orders(s, d)
      val m = o.groupBy(col("o_orderpriority")).agg(
        Exact.davg(col("o_totalprice")).as("mu"),
        Exact.dstddev(col("o_totalprice")).as("sd"))
      o.join(broadcast(m), Seq("o_orderpriority"))
        .select(col("o_orderkey"), col("o_orderpriority"),
          Exact.duckRound(
            when(col("sd") > 0, (col("o_totalprice") - col("mu")) / col("sd")),
            6).as("z"))
        .orderBy("o_orderkey")
    }
  )
}
