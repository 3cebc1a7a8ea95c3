package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.ops.{Dedup, Exact, Merge, Normalize, Validate}

/** Relational operator inventory (SURVEY.md §2.1–§2.7) demonstrated on
  * the corpus. Every query is scale-shaped: filters/projections sit
  * directly on the parquet scan (pushdown), small sides of joins are
  * broadcast, aggregations are partial-agg friendly, and no query
  * collects to the driver.
  */
object Relational {

  import Q.{DEC, dsum}

  val queries: Seq[Q] = Seq(

    // ---------------------------------------------------------------- q01
    // A-class aggregation (TPC-H Q1 shape): scan-filter-groupBy-agg.
    // Partial aggregation (map-side combine) keeps the shuffle at
    // |groups| x partitions rows regardless of input size.
    Q("q01_pricing_summary",
      s"""SELECT l_returnflag, l_linestatus,
         |  ${dsum("l_quantity")} AS sum_qty,
         |  ${dsum("l_extendedprice")} AS sum_base_price,
         |  CAST(sum(CAST(l_extendedprice AS $DEC) * (1 - CAST(l_discount AS $DEC))) AS DOUBLE) AS sum_disc_price,
         |  CAST(sum(CAST(l_extendedprice AS $DEC) * (1 - CAST(l_discount AS $DEC)) * (1 + CAST(l_tax AS $DEC))) AS DOUBLE) AS sum_charge,
         |  ${dsum("l_quantity")} / count(*) AS avg_qty,
         |  ${dsum("l_extendedprice")} / count(*) AS avg_price,
         |  count(*) AS count_order
         |FROM lineitem
         |WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") <= to_timestamp(lit("1998-09-01 00:00:00")))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          Exact.dsum(col("l_quantity")).as("sum_qty"),
          Exact.dsum(col("l_extendedprice")).as("sum_base_price"),
          Exact.dsumExpr(Exact.discPrice(col("l_extendedprice"), col("l_discount"))).as("sum_disc_price"),
          Exact.dsumExpr(Exact.charge(col("l_extendedprice"), col("l_discount"), col("l_tax"))).as("sum_charge"),
          Exact.davg(col("l_quantity")).as("avg_qty"),
          Exact.davg(col("l_extendedprice")).as("avg_price"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },

    // ---------------------------------------------------------------- q02
    // Pushdown projection + predicate (S2/O11): the whole WHERE clause
    // and the 4-column ReadSchema reach the parquet reader.
    Q("q02_filter_pushdown",
      """SELECT l_orderkey, l_linenumber, l_extendedprice, l_discount
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24
        |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01 00:00:00")) &&
                col("l_shipdate") <  to_timestamp(lit("1997-01-01 00:00:00")) &&
                col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
                col("l_quantity") < 24)
        .select("l_orderkey", "l_linenumber", "l_extendedprice", "l_discount")
        .orderBy("l_orderkey", "l_linenumber")
    },

    // ---------------------------------------------------------------- q03
    // Broadcast hash join (J1 shape): `part` is the small dim side —
    // broadcast it so lineitem never shuffles.
    Q("q03_broadcast_join",
      s"""SELECT p_brand,
         |  CAST(sum(CAST(l_extendedprice AS $DEC) * (1 - CAST(l_discount AS $DEC))) AS DOUBLE) AS revenue,
         |  count(*) AS n_items
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE p_size < 20
         |GROUP BY p_brand
         |ORDER BY p_brand""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d).filter(col("p_size") < 20)),
              col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(
          Exact.dsumExpr(Exact.discPrice(col("l_extendedprice"), col("l_discount"))).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("p_brand"))
    },

    // ---------------------------------------------------------------- q04
    // Multi-way join (star schema): fact lineitem⋈orders shuffles on
    // the big keys; customer/nation/region dims broadcast.
    Q("q04_nation_revenue",
      s"""SELECT n_name,
         |  CAST(sum(CAST(l_extendedprice AS $DEC) * (1 - CAST(l_discount AS $DEC))) AS DOUBLE) AS revenue,
         |  CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_orders
         |FROM customer
         |JOIN orders   ON c_custkey = o_custkey
         |JOIN lineitem ON l_orderkey = o_orderkey
         |JOIN nation   ON c_nationkey = n_nationkey
         |JOIN region   ON n_regionkey = r_regionkey
         |GROUP BY n_name
         |ORDER BY n_name""".stripMargin) { (s, d) =>
      // Aggregation pushed below the join: lineitem collapses to one
      // decimal revenue row per order BEFORE meeting orders, so the
      // fact-fact join moves |orders| rows instead of |lineitem|, the
      // per-order groupBy's hash partitioning feeds the orderkey join
      // with no extra exchange, and n_orders becomes a plain count
      // (per-order rows are unique) — no countDistinct Expand. The
      // decimal partial sums re-aggregate exactly (associative), so
      // the result is bit-identical to the flat formulation.
      val perOrder = Tables.lineitem(s, d)
        .groupBy(col("l_orderkey"))
        .agg(sum(Exact.discPrice(col("l_extendedprice"), col("l_discount"))).as("rev"))
      perOrder
        .join(Tables.orders(s, d).select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, d).select("c_custkey", "c_nationkey"),
          col("c_custkey") === col("o_custkey"))
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(sum(col("rev")).cast("double").as("revenue"),
          count(col("o_orderkey")).as("n_orders"))
        .orderBy(col("n_name"))
    },

    // ---------------------------------------------------------------- q05
    // J1: anti-join — customers with no URGENT order (the reference's
    // "key not in existing set" as a real anti-join).
    Q("q05_anti_join",
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin) { (s, d) =>
      Dedup.antiJoinComposite(
          Tables.customer(s, d).withColumnRenamed("c_custkey", "k"),
          Tables.orders(s, d).filter(col("o_orderpriority") === "1-URGENT")
            .select(col("o_custkey").as("k")), Seq("k"))
        .select(col("k").as("c_custkey"), col("c_name"))
        .orderBy("c_custkey")
    },

    // ---------------------------------------------------------------- q06
    // Left-semi join (EXISTS): suppliers that shipped something.
    Q("q06_semi_join",
      """SELECT s_suppkey, s_name FROM supplier
        |WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_suppkey = s_suppkey)
        |ORDER BY s_suppkey""".stripMargin) { (s, d) =>
      Tables.supplier(s, d)
        .join(Tables.lineitem(s, d).select(col("l_suppkey").as("s_suppkey")),
              Seq("s_suppkey"), "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    },

    // ---------------------------------------------------------------- q07
    // J2: anti-join on a COMPOSITE key — 1997 line items whose
    // (orderkey, partkey) never appears with discount > 5%.
    Q("q07_anti_join_composite",
      s"""SELECT l_returnflag, count(*) AS n, ${dsum("l_quantity")} AS sum_qty
         |FROM lineitem l
         |WHERE year(l_shipdate) = 1997 AND NOT EXISTS (
         |  SELECT 1 FROM lineitem e
         |  WHERE e.l_discount > 0.05
         |    AND e.l_orderkey = l.l_orderkey AND e.l_partkey = l.l_partkey)
         |GROUP BY l_returnflag
         |ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      val li = Tables.lineitem(s, d)
      Dedup.antiJoinComposite(
          li.filter(year(col("l_shipdate")) === 1997),
          li.filter(col("l_discount") > 0.05).select("l_orderkey", "l_partkey"),
          Seq("l_orderkey", "l_partkey"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), Exact.dsum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("l_returnflag"))
    },

    // ---------------------------------------------------------------- q08
    // U2: append-merge of two overlapping batches + full-row dedup.
    Q("q08_union_merge",
      """SELECT o_orderstatus, count(*) AS n FROM (
        |  SELECT DISTINCT * FROM (
        |    SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |    UNION ALL
        |    SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderdate < TIMESTAMP '1999-01-01 00:00:00'))
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin) { (s, d) =>
      val o = Tables.orders(s, d)
      val existing = o.filter(col("o_orderdate") < to_timestamp(lit("1998-01-01 00:00:00")))
        .select("o_orderkey", "o_orderstatus")
      val fresh = o.filter(col("o_orderdate") < to_timestamp(lit("1999-01-01 00:00:00")))
        .select("o_orderkey", "o_orderstatus")
      Merge.mergeByKey(existing, fresh, Seq("o_orderkey", "o_orderstatus"))
        .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
        .orderBy(col("o_orderstatus"))
    },

    // ---------------------------------------------------------------- q09
    // U3: distinct on a projected key pair.
    Q("q09_distinct",
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
        |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d).select("l_returnflag", "l_linestatus").distinct()
        .orderBy("l_returnflag", "l_linestatus")
    },

    // ---------------------------------------------------------------- q10
    // U4: explode/flatten — word histogram over documents.
    Q("q10_explode_words",
      """SELECT word, count(*) AS n FROM (
        |  SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |GROUP BY word ORDER BY word""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(explode(split(col("text"), " ")).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("n"))
        .orderBy(col("word"))
    },

    // ---------------------------------------------------------------- q11
    // T1+T2: top-k = orderBy desc + limit → TakeOrderedAndProject
    // (k rows per partition flow to the driver-side heap, never the
    // full data).
    Q("q11_topk",
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)
    },

    // ---------------------------------------------------------------- q12
    // Window functions: rank + running sum per customer.
    Q("q12_window_rank",
      s"""SELECT * FROM (
         |  SELECT o_custkey, o_orderkey, o_totalprice,
         |    CAST(row_number() OVER w AS BIGINT) AS rn,
         |    CAST(sum(CAST(o_totalprice AS $DEC)) OVER (
         |      PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS run_spend
         |  FROM orders
         |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey))
         |WHERE rn <= 3
         |ORDER BY o_custkey, rn""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
        .withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("run_spend",
          sum(Exact.dec(col("o_totalprice")))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("double"))
        .filter(col("rn") <= 3)
        .orderBy(col("o_custkey"), col("rn"))
    },

    // ---------------------------------------------------------------- q13
    // A-class stats incl. exact-component stddev (see ops.Exact).
    Q("q13_agg_stats",
      s"""SELECT o_orderpriority,
         |  count(*) AS n,
         |  CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_custs,
         |  min(o_totalprice) AS min_price,
         |  max(o_totalprice) AS max_price,
         |  ${dsum("o_totalprice")} AS sum_price,
         |  ${dsum("o_totalprice")} / count(*) AS avg_price,
         |  round(CASE WHEN count(*) > 1 THEN sqrt(
         |    (CAST(sum(CAST(o_totalprice AS $DEC) * CAST(o_totalprice AS $DEC)) AS DOUBLE)
         |     - ${dsum("o_totalprice")} * ${dsum("o_totalprice")} / CAST(count(*) AS DOUBLE))
         |    / (count(*) - 1)) END, 2) AS stddev_price
         |FROM orders
         |GROUP BY o_orderpriority
         |ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .groupBy(col("o_orderpriority"))
        .agg(
          count(lit(1)).as("n"),
          countDistinct(col("o_custkey")).as("n_custs"),
          min(col("o_totalprice")).as("min_price"),
          max(col("o_totalprice")).as("max_price"),
          Exact.dsum(col("o_totalprice")).as("sum_price"),
          Exact.davg(col("o_totalprice")).as("avg_price"),
          Exact.duckRound(Exact.dstddev(col("o_totalprice")), 2).as("stddev_price"))
        .orderBy(col("o_orderpriority"))
    },

    // ---------------------------------------------------------------- q14
    // O1/O7: null-introduction + coalesce defaults + CASE tagging.
    Q("q14_null_defaults",
      """SELECT c_custkey,
        |  coalesce(CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END, 0.0) AS bal,
        |  CASE WHEN c_acctbal < 0 THEN 'overdrawn' ELSE 'ok' END AS status
        |FROM customer ORDER BY c_custkey""".stripMargin) { (s, d) =>
      Tables.customer(s, d)
        .select(
          col("c_custkey"),
          coalesce(when(col("c_acctbal") < 0, lit(null)).otherwise(col("c_acctbal")),
                   lit(0.0)).as("bal"),
          when(col("c_acctbal") < 0, lit("overdrawn")).otherwise(lit("ok")).as("status"))
        .orderBy("c_custkey")
    },

    // ---------------------------------------------------------------- q15
    // O2/O3: regex extraction with fallback-to-input semantics.
    Q("q15_regex_extract",
      """SELECT prio_num, prio_word, count(*) AS n FROM (
        |  SELECT
        |    regexp_extract(o_orderpriority, '([0-9]+)-([A-Z ]+)', 1) AS prio_num,
        |    CASE WHEN trim(regexp_extract(o_orderpriority, '([0-9]+)-([A-Z ]+)', 2)) = ''
        |         THEN o_orderpriority
        |         ELSE trim(regexp_extract(o_orderpriority, '([0-9]+)-([A-Z ]+)', 2)) END AS prio_word
        |  FROM orders)
        |GROUP BY prio_num, prio_word
        |ORDER BY prio_num, prio_word""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .select(
          regexp_extract(col("o_orderpriority"), "([0-9]+)-([A-Z ]+)", 1).as("prio_num"),
          Normalize.extractOrSelf(col("o_orderpriority"), "([0-9]+)-([A-Z ]+)", 2).as("prio_word"))
        .groupBy("prio_num", "prio_word").agg(count(lit(1)).as("n"))
        .orderBy("prio_num", "prio_word")
    },

    // ---------------------------------------------------------------- q16
    // O4: sha256 surrogate key — exact reference formula shape.
    Q("q16_surrogate_key",
      """SELECT doc_id,
        |  sha256(concat_ws('|', source, CAST(doc_id AS VARCHAR), lang)) AS id
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(
          col("doc_id"),
          Normalize.surrogateKey(col("source"), col("doc_id").cast("string"), col("lang")).as("id"))
        .orderBy("doc_id")
    },

    // ---------------------------------------------------------------- q17
    // O6: parse-with-default — extract int from the props JSON string,
    // defaulting to 0 on miss (reference `int(x or 0)`).
    Q("q17_cast_default",
      """SELECT event_id,
        |  coalesce(TRY_CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS INTEGER), 0) AS k
        |FROM events ORDER BY event_id""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .select(
          col("event_id"),
          Normalize.castWithDefault(
            regexp_extract(col("props"), "\"k\": ([0-9]+)", 1), 0).as("k"))
        .orderBy("event_id")
    },

    // ---------------------------------------------------------------- q18
    // O10: URL decode — roundtrip identity (DuckDB 1.0 has no
    // url_decode, so the oracle is the identity projection; the Spark
    // side actually exercises url_encode→url_decode).
    Q("q18_url_roundtrip",
      "SELECT doc_id, text FROM documents ORDER BY doc_id") { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), url_decode(url_encode(col("text"))).as("text"))
        .orderBy("doc_id")
    },

    // ---------------------------------------------------------------- q19
    // O13: bounded preview + char length.
    Q("q19_preview",
      """SELECT doc_id, substr(text, 1, 50) AS preview, length(text) AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(
          col("doc_id"),
          Normalize.preview(col("text")).as("preview"),
          length(col("text")).cast("long").as("n_chars"))
        .orderBy("doc_id")
    },

    // ---------------------------------------------------------------- q20
    // Tumbling window rollup (events): hour buckets via date_trunc.
    Q("q20_hourly_rollup",
      s"""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
         |  event_type, count(*) AS n, ${dsum("value")} AS sum_value
         |FROM events
         |GROUP BY 1, 2
         |ORDER BY hour, event_type""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .groupBy(
          date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("hour"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), Exact.dsum(col("value")).as("sum_value"))
        .orderBy("hour", "event_type")
    },

    // ---------------------------------------------------------------- q21
    // Sliding window (1h window, 30m hop): each event lands in exactly
    // two epoch-aligned windows — generated arithmetically so batch
    // SQL, Spark batch, and the streaming runner agree on the grid.
    Q("q21_sliding_window",
      s"""SELECT strftime(make_timestamp(win_start_us), '%Y-%m-%d %H:%M:%S') AS win_start,
         |  count(*) AS n, ${dsum("value")} AS sum_value
         |FROM (
         |  SELECT value,
         |    (epoch_us(ts) // 1800000000) * 1800000000
         |      - unnest([0, 1800000000]) AS win_start_us
         |  FROM events)
         |GROUP BY win_start_us
         |ORDER BY win_start""".stripMargin) { (s, d) =>
      val slideUs = 1800000000L
      Tables.events(s, d)
        .select(col("value"),
          explode(array(lit(0L), lit(slideUs))).as("k"),
          (floor(unix_micros(col("ts")) / slideUs) * slideUs).cast("long").as("base"))
        .select(col("value"),
          date_format(timestamp_micros(col("base") - col("k")), "yyyy-MM-dd HH:mm:ss").as("win_start"),
          (col("base") - col("k")).as("win_start_us"))
        .groupBy(col("win_start_us"), col("win_start"))
        .agg(count(lit(1)).as("n"), Exact.dsum(col("value")).as("sum_value"))
        .select("win_start", "n", "sum_value")
        .orderBy("win_start")
    },

    // ---------------------------------------------------------------- q22
    // Sessionization: 30-min-gap sessions via lag + running sum —
    // the batch twin of the streaming state machine.
    Q("q22_sessionize",
      s"""WITH o AS (
         |  SELECT user_id, event_id, ts, value,
         |    epoch_us(ts) - lag(epoch_us(ts)) OVER
         |      (PARTITION BY user_id ORDER BY ts, event_id) AS gap
         |  FROM events),
         |s AS (
         |  SELECT *, CAST(sum(CASE WHEN gap IS NULL OR gap > 1800000000 THEN 1 ELSE 0 END)
         |    OVER (PARTITION BY user_id ORDER BY ts, event_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
         |  FROM o)
         |SELECT user_id, session_id, count(*) AS n_events,
         |  min(epoch_us(ts)) AS start_us, max(epoch_us(ts)) AS end_us,
         |  ${dsum("value")} AS sum_value
         |FROM s
         |GROUP BY user_id, session_id
         |ORDER BY user_id, session_id""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val gapUs = 1800000000L
      Tables.events(s, d)
        .withColumn("gap", unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w))
        .withColumn("new_sess",
          when(col("gap").isNull || col("gap") > gapUs, 1).otherwise(0))
        .withColumn("session_id",
          sum(col("new_sess")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).cast("long"))
        .groupBy(col("user_id"), col("session_id"))
        .agg(
          count(lit(1)).as("n_events"),
          min(unix_micros(col("ts"))).as("start_us"),
          max(unix_micros(col("ts"))).as("end_us"),
          Exact.dsum(col("value")).as("sum_value"))
        .orderBy("user_id", "session_id")
    },

    // ---------------------------------------------------------------- q23
    // §3.1 pipeline spine: incremental ingest = validate + normalize +
    // anti-join against known keys (J1/O8/ST2 batch form).
    Q("q23_incremental_ingest",
      """SELECT o_orderkey, o_custkey, o_totalprice,
        |  regexp_extract(o_orderpriority, '([0-9]+)', 1) AS prio,
        |  sha256(concat_ws('|', CAST(o_orderkey AS VARCHAR), CAST(o_custkey AS VARCHAR))) AS row_id
        |FROM orders o
        |WHERE o_custkey IS NOT NULL AND o_totalprice IS NOT NULL
        |  AND NOT EXISTS (
        |    SELECT 1 FROM orders e
        |    WHERE e.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |      AND e.o_orderkey = o.o_orderkey)
        |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      val o = Tables.orders(s, d)
      val existingKeys = o
        .filter(col("o_orderdate") < to_timestamp(lit("1998-01-01 00:00:00")))
        .select("o_orderkey")
      val fresh = Validate.requireFields(o, Seq("o_custkey", "o_totalprice"))
      Dedup.antiJoinKeys(fresh, existingKeys, "o_orderkey")
        .select(
          col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          regexp_extract(col("o_orderpriority"), "([0-9]+)", 1).as("prio"),
          Normalize.surrogateKey(
            col("o_orderkey").cast("string"), col("o_custkey").cast("string")).as("row_id"))
        .orderBy("o_orderkey")
    }
  )
}
