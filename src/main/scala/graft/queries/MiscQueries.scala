package graft.queries

import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.ops.Exact

/** Surface gap-fill: outer joins, date/time arithmetic, string
  * function suite, grouping sets. Parity notes: Spark dayofweek is
  * 1=Sunday, DuckDB 0=Sunday (+1 in the oracle); month-diff semantics
  * differ between engines (boundary count vs fractional) so only day
  * diffs are exposed; no initcap in DuckDB 1.0.
  */
object MiscQueries {

  import Q.dsum

  /** q167's stored match-pair list as a durable TableLog table —
    * built + committed once per dir (Scratch.storeMemo); the measured
    * run reads the pinned version. */
  private val erPairStore = Scratch.storeMemo("graft-q167-store-") {
    (s, d, tbl) =>
      import graft.analytics.EntityResolution
      val base = Tables.part(s, d)
        .select(col("p_partkey"), col("p_brand"), col("p_name"),
          col("p_type"), col("p_size"))
        .filter(col("p_partkey") % 10 =!= 0)
      val v1 = graft.sinks.TableLog.append(
        EntityResolution.matchPairs(base, base), tbl)
      (tbl, v1)
  }

  /** DuckDB spelling of `EntityResolution.block4Col` (the name's
    * middle section — pass-4 blocking key, round 13). Anchored
    * regexes, so DuckDB's first-match replace and Spark's global
    * replace agree; \S/\s are RE2- and Java-identical on this
    * ASCII name space. ONE helper feeds every ER oracle (the
    * batteryCtes anti-drift rule). */
  private def erMiddleSql(c: String): String =
    s"regexp_replace(regexp_replace($c, '^\\S+\\s*', ''), '\\s*\\S+$$', '')"

  /** The part table with the pass-4 middle key and the pass-5/6
    * stripped prefix/suffix windows PRECOMPUTED per row — the ER
    * oracles' pair joins are quadratic in DuckDB (OR-of-equalities
    * can't hash-join), so the regexes must run n times in a CTE,
    * never n² times inside the join condition. DuckDB regexp_replace
    * needs the 'g' flag to match Spark's global replace. */
  private def erPmSqlOver(src: String): String =
    s"""pm0 AS (SELECT *, ${erMiddleSql("p_name")} AS mid,
      |  regexp_replace(p_name, '\\s+', '', 'g') AS st FROM $src),
      |pm AS (SELECT *, substr(st, 1, 8) AS pre8,
      |  substr(st, greatest(length(st) - 7, 1)) AS suf8 FROM pm0)""".stripMargin

  /** The ER oracles' blocking disjunction — brand ∪ first-token ∪
    * last-token ∪ middle-section ∪ stripped-prefix ∪ stripped-suffix,
    * the union the six disjoint Spark passes cover (disjointness
    * matters only for exactly-once streaming emission; set-wise the
    * union is this OR). Operands must be [[erPmSql]] aliases (for the
    * precomputed mid/pre8/suf8). */
  private def erBlockSql(a: String, b: String): String =
    s"""($a.p_brand = $b.p_brand
       |        OR split_part($a.p_name, ' ', 1) = split_part($b.p_name, ' ', 1)
       |        OR split_part($a.p_name, ' ', -1) = split_part($b.p_name, ' ', -1)
       |        OR ($a.mid = $b.mid AND $a.mid <> '')
       |        OR ($a.pre8 = $b.pre8 AND $a.pre8 <> '')
       |        OR ($a.suf8 = $b.suf8 AND $a.suf8 <> ''))""".stripMargin

  /** Full-recompute ER oracle (scored pairs → recursive closure →
    * canonical + sizes). q166 AND q167 read this ONE string — q167's
    * gate is the identity proof "incremental ≡ full recompute", so
    * the two oracles must be the same text by construction, not by
    * discipline (the batteryCtes rule). */
  private def erResolveSqlOver(src: String): String =
    s"""WITH RECURSIVE ${erPmSqlOver(src)},
      |sc AS (
      |  SELECT a.p_partkey AS d1, b.p_partkey AS d2
      |  FROM pm a JOIN pm b
      |    ON ${erBlockSql("a", "b")}
      |       AND a.p_partkey < b.p_partkey
      |  WHERE levenshtein(a.p_name, b.p_name) <= 2
      |    AND 2 + CASE WHEN a.p_type = b.p_type THEN 1 ELSE 0 END
      |          + CASE WHEN abs(a.p_size - b.p_size) <= 1 THEN 1 ELSE 0 END >= 4),
      |e AS (SELECT d1 AS a, d2 AS b FROM sc UNION SELECT d2, d1 FROM sc),
      |reach(a, b) AS (
      |  SELECT a, b FROM e
      |  UNION
      |  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
      |comp AS (SELECT a AS pk, least(a, min(b)) AS entity FROM reach GROUP BY a),
      |m AS (SELECT entity, CAST(count(*) AS BIGINT) AS n FROM comp GROUP BY entity)
      |SELECT p.p_partkey, coalesce(c.entity, p.p_partkey) AS entity,
      |  coalesce(c.entity, p.p_partkey) = p.p_partkey AS is_canonical,
      |  CAST(coalesce(m.n, 1) AS BIGINT) AS n_members
      |FROM pm0 p LEFT JOIN comp c ON c.pk = p.p_partkey
      |LEFT JOIN m ON m.entity = coalesce(c.entity, p.p_partkey)
      |ORDER BY p.p_partkey""".stripMargin

  private val erResolveSql: String = erResolveSqlOver("part")

  val queries: Seq[Q] = Seq(

    // ---------------------------------------------------------------- q47
    // LEFT OUTER enrichment with miss-handling (J3/O5 shape: the
    // geocode join where some addresses don't resolve).
    Q("q47_left_outer_enrich",
      """SELECT c_custkey,
        |  coalesce(n_name, 'UNKNOWN') AS nation_name,
        |  CASE WHEN n_name IS NULL THEN 'miss' ELSE 'hit' END AS enrich_status
        |FROM customer LEFT JOIN (SELECT * FROM nation WHERE n_regionkey < 2) n
        |  ON c_nationkey = n_nationkey
        |ORDER BY c_custkey""".stripMargin) { (s, d) =>
      Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d).filter(col("n_regionkey") < 2)),
              col("c_nationkey") === col("n_nationkey"), "left_outer")
        .select(
          col("c_custkey"),
          coalesce(col("n_name"), lit("UNKNOWN")).as("nation_name"),
          when(col("n_name").isNull, lit("miss")).otherwise(lit("hit")).as("enrich_status"))
        .orderBy("c_custkey")
    },

    // ---------------------------------------------------------------- q48
    // FULL OUTER join: per-nation customer vs supplier counts.
    Q("q48_full_outer",
      """WITH c AS (SELECT c_nationkey AS k, count(*) AS n_cust FROM customer GROUP BY 1),
        |s AS (SELECT s_nationkey AS k, count(*) AS n_supp FROM supplier GROUP BY 1)
        |SELECT coalesce(c.k, s.k) AS nationkey,
        |  coalesce(n_cust, 0) AS n_cust, coalesce(n_supp, 0) AS n_supp
        |FROM c FULL OUTER JOIN s ON c.k = s.k
        |ORDER BY nationkey""".stripMargin) { (s, d) =>
      val c = Tables.customer(s, d).groupBy(col("c_nationkey").as("ck"))
        .agg(count(lit(1)).as("n_cust"))
      val su = Tables.supplier(s, d).groupBy(col("s_nationkey").as("sk"))
        .agg(count(lit(1)).as("n_supp"))
      c.join(su, col("ck") === col("sk"), "full_outer")
        .select(
          coalesce(col("ck"), col("sk")).as("nationkey"),
          coalesce(col("n_cust"), lit(0L)).as("n_cust"),
          coalesce(col("n_supp"), lit(0L)).as("n_supp"))
        .orderBy("nationkey")
    },

    // ---------------------------------------------------------------- q49
    // Date/time arithmetic + component extraction.
    Q("q49_datetime",
      """SELECT o_orderkey,
        |  CAST(year(o_orderdate) AS BIGINT) AS y,
        |  CAST(month(o_orderdate) AS BIGINT) AS m,
        |  CAST(day(o_orderdate) AS BIGINT) AS dom,
        |  CAST(quarter(o_orderdate) AS BIGINT) AS q,
        |  CAST(dayofweek(o_orderdate) + 1 AS BIGINT) AS dow,
        |  strftime(date_add(CAST(o_orderdate AS DATE), 30), '%Y-%m-%d') AS plus30,
        |  CAST(date_diff('day', DATE '1995-01-01', o_orderdate) AS BIGINT) AS days_since
        |FROM orders ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .select(
          col("o_orderkey"),
          year(col("o_orderdate")).cast("long").as("y"),
          month(col("o_orderdate")).cast("long").as("m"),
          dayofmonth(col("o_orderdate")).cast("long").as("dom"),
          quarter(col("o_orderdate")).cast("long").as("q"),
          dayofweek(col("o_orderdate")).cast("long").as("dow"),
          date_format(date_add(col("o_orderdate"), 30), "yyyy-MM-dd").as("plus30"),
          datediff(col("o_orderdate"), to_date(lit("1995-01-01"))).cast("long").as("days_since"))
        .orderBy("o_orderkey")
    },

    // ---------------------------------------------------------------- q50
    // String function suite over part attributes.
    Q("q50_strings",
      """SELECT p_partkey,
        |  upper(p_type) AS t_up,
        |  lower(p_brand) AS b_low,
        |  lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_pad,
        |  reverse(p_name) AS name_rev,
        |  left(p_name, 5) AS name_l,
        |  right(p_name, 3) AS name_r,
        |  replace(p_name, ' ', '_') AS name_us,
        |  CAST(instr(p_name, 'o') AS BIGINT) AS o_pos,
        |  repeat('*', p_size % 4) AS stars,
        |  translate(p_type, 'AEO', 'aeo') AS t_tr
        |FROM part ORDER BY p_partkey""".stripMargin) { (s, d) =>
      Tables.part(s, d)
        .select(
          col("p_partkey"),
          upper(col("p_type")).as("t_up"),
          lower(col("p_brand")).as("b_low"),
          lpad(col("p_size").cast("string"), 4, "0").as("size_pad"),
          reverse(col("p_name")).as("name_rev"),
          expr("left(p_name, 5)").as("name_l"),
          expr("right(p_name, 3)").as("name_r"),
          regexp_replace(col("p_name"), " ", "_").as("name_us"),
          instr(col("p_name"), "o").cast("long").as("o_pos"),
          expr("repeat('*', p_size % 4)").as("stars"),
          translate(col("p_type"), "AEO", "aeo").as("t_tr"))
        .orderBy("p_partkey")
    },

    // ---------------------------------------------------------------- q52
    // The custom TopKPerKey operator under the oracle: its heap-based
    // result must match SQL's window formulation row for row.
    Q("q52_topk_per_key",
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) WHERE rn <= 3
        |ORDER BY o_custkey, o_totalprice DESC, o_orderkey""".stripMargin) { (s, d) =>
      graft.plans.TopKPerKey(
          Tables.orders(s, d).select(col("o_custkey"), col("o_orderkey"), col("o_totalprice")),
          Seq("o_custkey"), "o_totalprice", "o_orderkey", 3)
        .orderBy(col("o_custkey"), col("o_totalprice").desc, col("o_orderkey"))
    },

    // ---------------------------------------------------------------- q53
    // Array/collection function suite (arrays stringified for the
    // compare — list-valued output columns are hash-hostile).
    Q("q53_array_funcs",
      """SELECT doc_id,
        |  CAST(len(ws) AS BIGINT) AS n_tokens,
        |  array_to_string(list_sort(list_distinct(ws)), ',') AS sorted_vocab,
        |  list_contains(ws, 'spark') AS has_spark,
        |  CAST(coalesce(list_position(ws, 'data'), 0) AS BIGINT) AS data_pos,
        |  array_to_string(ws[2:4], ' ') AS mid3
        |FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
        .select(
          col("doc_id"),
          size(col("ws")).cast("long").as("n_tokens"),
          array_join(array_sort(array_distinct(col("ws"))), ",").as("sorted_vocab"),
          array_contains(col("ws"), "spark").as("has_spark"),
          // array_position yields 0 when absent — matches the
          // coalesce(list_position, 0) on the DuckDB side by
          // construction, so parity no longer depends on every
          // document containing the token
          array_position(col("ws"), "data").cast("long").as("data_pos"),
          array_join(slice(col("ws"), 2, 3), " ").as("mid3"))
        .orderBy("doc_id")
    },

    // ---------------------------------------------------------------- q55
    // INTERSECT: customers active in both 1997 and 1998.
    Q("q55_intersect",
      """SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1998
        |ORDER BY o_custkey""".stripMargin) { (s, d) =>
      val o = Tables.orders(s, d)
      o.filter(year(col("o_orderdate")) === 1997).select("o_custkey")
        .intersect(o.filter(year(col("o_orderdate")) === 1998).select("o_custkey"))
        .orderBy("o_custkey")
    },

    // ---------------------------------------------------------------- q56
    // EXCEPT: customers active in 1997 but gone in 1998 (churn).
    Q("q56_except",
      """SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1998
        |ORDER BY o_custkey""".stripMargin) { (s, d) =>
      val o = Tables.orders(s, d)
      o.filter(year(col("o_orderdate")) === 1997).select("o_custkey")
        .except(o.filter(year(col("o_orderdate")) === 1998).select("o_custkey"))
        .orderBy("o_custkey")
    },

    // ---------------------------------------------------------------- q54
    // Exact median per group, deterministically: the element at
    // position (n+1)/2 under a total order (value, id) — the exact
    // counterpart of q38's sketch quantiles.
    Q("q54_exact_median",
      """WITH o AS (
        |  SELECT event_type, value, event_id,
        |    row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM events)
        |SELECT event_type, value AS median FROM o
        |WHERE rn = (n + 1) // 2
        |ORDER BY event_type""".stripMargin) { (s, d) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type")).orderBy(col("value"), col("event_id"))
      Tables.events(s, d)
        .withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("event_type"))))
        .filter(col("rn") === expr("(n + 1) div 2"))
        .select(col("event_type"), col("value").as("median"))
        .orderBy("event_type")
    },

    // ---------------------------------------------------------------- q87
    // The same exact median as q54 WITHOUT any per-group sort:
    // ops/DistributedSelect histogram narrowing (per-group stats →
    // per-bin counts → rank only the target bin's ~n/1024 rows).
    // q54's window formulation sorts every group's full row set in
    // one task — unbounded per group at scale; this is the
    // distributed-selection twin whose shuffles are bounded by
    // |groups|·bins and the residual bin. Same oracle as q54: the
    // element at rank (n+1) div 2 under (value, event_id).
    Q("q87_distributed_median",
      """WITH o AS (
        |  SELECT event_type, value, event_id,
        |    row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM events)
        |SELECT event_type, value AS median FROM o
        |WHERE rn = (n + 1) // 2
        |ORDER BY event_type""".stripMargin) { (s, d) =>
      graft.ops.DistributedSelect.groupMedian(
          Tables.events(s, d), "event_type", "value", "event_id")
        .orderBy("event_type")
    },

    // ---------------------------------------------------------------- q51
    // GROUPING SETS beyond rollup: two single-dimension cuts + total.
    Q("q51_grouping_sets",
      s"""SELECT l_returnflag, l_linestatus, count(*) AS n, ${dsum("l_quantity")} AS sum_qty
         |FROM lineitem
         |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
         |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin) { (s, d) =>
      // pre-aggregated base: the grouping-sets Expand runs over ~25
      // (flag, status) partials, not the fact table (see OlapQueries)
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("pn"), sum(Exact.dec(col("l_quantity"))).as("ps"))
        .groupingSets(
          Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq()),
          col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("pn")).as("n"), sum(col("ps")).cast("double").as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    },

    // ---------------------------------------------------------------- q57
    // Declarative window top-k, auto-rewritten: the user writes the
    // idiomatic row_number-over-window-then-filter spelling; the
    // RewriteWindowTopK optimizer rule, which every graft session
    // carries from its build (GraftExtensions), replaces it with the
    // TopKPerKey bounded-heap plan. Same rows as the window form —
    // RewriteTopKSpec proves the plan swap, this query proves value
    // parity against the window-formulated oracle.
    Q("q57_window_topk_rewrite",
      """WITH t AS (SELECT o_custkey, o_orderkey,
        |                  coalesce(CAST(o_totalprice AS DOUBLE), 0.0) AS price
        |           FROM orders),
        |r AS (SELECT o_custkey, o_orderkey, price,
        |             row_number() OVER (PARTITION BY o_custkey
        |                                ORDER BY price DESC, o_orderkey) AS rn
        |      FROM t)
        |SELECT o_custkey, o_orderkey, price FROM r WHERE rn <= 3
        |ORDER BY o_custkey, o_orderkey""".stripMargin) { (s, d) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey"))
        .orderBy(col("price").desc, col("o_orderkey").asc)
      Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"),
          // coalesce makes the score provably non-nullable — the
          // rewrite only fires when null scores are impossible
          coalesce(col("o_totalprice").cast("double"), lit(0.0)).as("price"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .drop("rn")
        .orderBy("o_custkey", "o_orderkey")
    },

    // ---------------------------------------------------------------- q62
    // Semi-structured extraction: events.props is a JSON string;
    // pull $.k out, type it, aggregate per event_type. The JSON path
    // evaluates inside the scan projection (codegen'd get_json_object)
    // — no UDF, no intermediate parse table.
    Q("q62_json_extract",
      """SELECT event_type,
        |  CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  CAST(count(CASE WHEN CAST(json_extract(props, '$.k') AS BIGINT) > 50
        |             THEN 1 END) AS BIGINT) AS n_high
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      val k = get_json_object(col("props"), "$.k").cast("long")
      Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(sum(k).as("sum_k"),
          count(when(k > 50, lit(1))).as("n_high"))
        .orderBy("event_type")
    },

    // ---------------------------------------------------------------- q64
    // SQL surface: correlated EXISTS + NOT IN subqueries run through
    // spark.sql over the registered corpus views — the same query
    // text both engines execute. Catalyst decorrelates EXISTS to a
    // semi join and NOT IN to a null-aware anti join; no float
    // arithmetic, so parity is structural.
    Q("q64_sql_subqueries",
      """SELECT c_custkey FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey
        |                AND o.o_orderpriority = '1-URGENT')
        |  AND c_custkey NOT IN (SELECT s_suppkey FROM supplier)
        |ORDER BY c_custkey""".stripMargin) { (s, d) =>
      Tables.register(s, d)
      s.sql("""SELECT c_custkey FROM customer c
              |WHERE EXISTS (SELECT 1 FROM orders o
              |              WHERE o.o_custkey = c.c_custkey
              |                AND o.o_orderpriority = '1-URGENT')
              |  AND c_custkey NOT IN (SELECT s_suppkey FROM supplier)
              |ORDER BY c_custkey""".stripMargin)
    },

    // ---------------------------------------------------------------- q88
    // Recursive SQL (Spark 4 WITH RECURSIVE): hierarchy walk from
    // every customer up a synthetic org tree (parent = custkey/10) to
    // the root — depth and chain length per node. The SAME query text
    // runs on both engines (q64 pattern), floor-division spelled
    // portably. Each chain is ≤ 6 rows (digit count), so the
    // recursion's per-step frame shrinks geometrically — the shape
    // recursive CTEs scale with. The anchor aliases every column:
    // `SELECT c_custkey, c_custkey, 0` would project ONE attribute
    // twice, and when the loop materializes an iteration as a
    // LogicalRDD the optimizer dedups the twin slots to a single
    // exprId — tripping the logical-vs-optimized output check (WARN
    // LogicalRDD) on every step. Distinct aliases keep the anchor's
    // output attributes distinct through optimization.
    {
      val sql =
        """WITH RECURSIVE chain(custkey, anc, depth) AS (
          |  SELECT c_custkey AS custkey, c_custkey AS anc, 0 AS depth
          |  FROM customer
          |  UNION ALL
          |  SELECT custkey, CAST(floor(anc / 10.0) AS BIGINT), depth + 1
          |  FROM chain WHERE anc > 0)
          |SELECT custkey, CAST(max(depth) AS BIGINT) AS depth,
          |  CAST(count(*) AS BIGINT) AS chain_len
          |FROM chain GROUP BY custkey ORDER BY custkey""".stripMargin
      Q("q88_sql_recursive_chain", sql) { (s, d) =>
        Tables.register(s, d)
        s.sql(sql)
      }
    },

    // ---------------------------------------------------------------- q89
    // Time-range window frames: per-user rolling 10-minute sums —
    // RANGE BETWEEN INTERVAL, value-based peers (deterministic under
    // ties without any tiebreak column). Decimal window sums keep the
    // rolling totals exact on both engines; identical SQL text runs
    // on both (frames partition by user_id: ~n/|users| rows per
    // window task).
    {
      val sql =
        """SELECT event_id,
          |  CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS roll_sum,
          |  CAST(count(*) OVER w AS BIGINT) AS roll_n
          |FROM events
          |WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP)
          |             RANGE BETWEEN INTERVAL 10 MINUTES PRECEDING AND CURRENT ROW)
          |ORDER BY event_id""".stripMargin
      Q("q89_rolling_time_window", sql) { (s, d) =>
        Tables.register(s, d)
        s.sql(sql)
      }
    },

    // ---------------------------------------------------------------- q90
    // Exact distributed correlation: corr(value, props.k) per event
    // type from five exact decimal/integer component sums — the
    // built-in corr() aggregates doubles in partition order (non-
    // deterministic on a cluster); this form is partition-order-
    // independent AND engine-portable, with the final scalar formula
    // in IEEE double on both sides.
    Q("q90_exact_corr",
      """WITH t AS (SELECT event_type,
        |    CAST(value AS DECIMAL(18,2)) AS x,
        |    CAST(json_extract(props, '$.k') AS BIGINT) AS y
        |  FROM events)
        |SELECT event_type,
        |  CAST(count(*) AS BIGINT) AS n,
        |  round((CAST(count(*) AS DOUBLE) * CAST(sum(x * y) AS DOUBLE)
        |       - CAST(sum(x) AS DOUBLE) * CAST(sum(y) AS DOUBLE))
        |    / sqrt((CAST(count(*) AS DOUBLE) * CAST(sum(x * x) AS DOUBLE)
        |          - CAST(sum(x) AS DOUBLE) * CAST(sum(x) AS DOUBLE))
        |         * (CAST(count(*) AS DOUBLE) * CAST(sum(y * y) AS DOUBLE)
        |          - CAST(sum(y) AS DOUBLE) * CAST(sum(y) AS DOUBLE))), 6) AS corr_xy
        |FROM t GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      val y = get_json_object(col("props"), "$.k").cast("long")
      def d2(c: org.apache.spark.sql.Column) = c.cast("double")
      Tables.events(s, d)
        .select(col("event_type"), Exact.dec(col("value")).as("x"), y.as("y"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
        .select(col("event_type"), col("n"),
          Exact.duckRound(
            (d2(col("n")) * d2(col("sxy")) - d2(col("sx")) * d2(col("sy")))
              / sqrt((d2(col("n")) * d2(col("sxx")) - d2(col("sx")) * d2(col("sx")))
                   * (d2(col("n")) * d2(col("syy")) - d2(col("sy")) * d2(col("sy")))),
            6).as("corr_xy"))
        .orderBy("event_type")
    },

    // ---------------------------------------------------------------- q93
    // Incremental aggregate maintenance: the stored rollup (events
    // before the cutoff) merges with the delta batch's rollup (events
    // at/after it) by RE-AGGREGATING partial states — count and
    // decimal sum are mergeable, so merged == full recompute exactly
    // (the oracle computes the full rollup; the Spark side never
    // touches the pre-cutoff rows and the post-cutoff rows in one
    // aggregation). This is the property that makes nightly
    // incremental pipelines exact at 100 TB: decimal partial sums
    // re-aggregate associatively, doubles would not.
    Q("q93_incremental_rollup",
      s"""SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         |  ${dsum("value")} AS sum_value
         |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      val cutoff = "2024-01-15" // events span 2024-01: ~half per side
      val ev = Tables.events(s, d)
      def rollup(df: org.apache.spark.sql.DataFrame) =
        df.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), sum(Exact.dec(col("value"))).as("s"))
      val stored = rollup(ev.filter(col("ts") < lit(cutoff).cast("timestamp")))
      val delta = rollup(ev.filter(col("ts") >= lit(cutoff).cast("timestamp")))
      stored.unionByName(delta)
        .groupBy(col("event_type"))
        .agg(sum(col("n")).as("n"), sum(col("s")).cast("double").as("sum_value"))
        .orderBy("event_type")
    },

    // ---------------------------------------------------------------- q91
    // SCD2 validity intervals: each customer's order history becomes
    // type-2 dimension rows with [eff_from, eff_to) built by lead()
    // over (custkey, date, key) — the standard warehouse history
    // build. Window partitions by customer (bounded per-key rows);
    // the open interval is pinned to a sentinel date and flagged.
    Q("q91_scd2_intervals",
      """SELECT o_custkey, o_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS eff_from,
        |  coalesce(strftime(lead(o_orderdate) OVER w, '%Y-%m-%d'), '9999-12-31') AS eff_to,
        |  lead(o_orderdate) OVER w IS NULL AS is_current
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin) { (s, d) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
      val next = lead(col("o_orderdate"), 1).over(w)
      Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("eff_from"),
          coalesce(date_format(next, "yyyy-MM-dd"), lit("9999-12-31")).as("eff_to"),
          next.isNull.as("is_current"))
        .orderBy("o_custkey", "o_orderkey")
    },

    // ---------------------------------------------------------------- q77
    // Ordered aggregation: top-5 users per event type as a
    // comma-joined ranked list. collect_list's order is partition-
    // dependent — sorting the collected (rank, id) structs inside the
    // aggregation makes the output deterministic on any cluster
    // layout, mirroring DuckDB's string_agg(... ORDER BY).
    Q("q77_ordered_agg",
      """WITH c AS (SELECT event_type, user_id, count(*) AS n
        |           FROM events GROUP BY 1, 2),
        |r AS (SELECT event_type, user_id, n,
        |        row_number() OVER (PARTITION BY event_type ORDER BY n DESC, user_id) AS rn
        |      FROM c)
        |SELECT event_type,
        |  string_agg(CAST(user_id AS VARCHAR), ',' ORDER BY rn) AS top_users
        |FROM r WHERE rn <= 5 GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type")).orderBy(col("n").desc, col("user_id"))
      Tables.events(s, d)
        .groupBy(col("event_type"), col("user_id")).agg(count(lit(1)).as("n"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .groupBy(col("event_type"))
        .agg(array_join(expr(
          "transform(array_sort(collect_list(struct(rn, user_id))), x -> cast(x.user_id AS string))"),
          ",").as("top_users"))
        .orderBy("event_type")
    },

    // ---------------------------------------------------------------- q76
    // Skew-safe exact distinct: dedup (key, value) first, then count
    // per key — two partial-aggregated shuffles, each spreading load
    // across (key, value) hash space, instead of countDistinct's
    // Expand + per-key value collection. event_type has 5 hot keys
    // over the whole table: exactly the shape where the single-stage
    // form concentrates a key's every distinct value in one task.
    Q("q76_twostage_distinct",
      """SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .select(col("event_type"), col("user_id")).distinct()
        .groupBy(col("event_type")).agg(count(lit(1)).as("n_users"))
        .orderBy("event_type")
    },

    // ---------------------------------------------------------------- q75
    // Data profiling: per-column row/null/distinct counts over
    // customer — the data-quality summary every ingest pipeline runs
    // before trusting a batch. One pass for counts + one distinct agg
    // per column, unpivoted to (column, metric) rows.
    Q("q75_profile",
      """WITH s AS (SELECT
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(c_name) AS BIGINT) AS nn_name,
        |  CAST(count(c_mktsegment) AS BIGINT) AS nn_seg,
        |  CAST(count(DISTINCT c_name) AS BIGINT) AS nd_name,
        |  CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS nd_seg,
        |  CAST(count(DISTINCT c_nationkey) AS BIGINT) AS nd_nation
        |FROM customer)
        |SELECT col, n_nonnull, n_distinct FROM (
        |  SELECT 'c_name' AS col, nn_name AS n_nonnull, nd_name AS n_distinct FROM s
        |  UNION ALL
        |  SELECT 'c_mktsegment', nn_seg, nd_seg FROM s
        |  UNION ALL
        |  SELECT 'c_nationkey', n_rows, nd_nation FROM s)
        |ORDER BY col""".stripMargin) { (s, d) =>
      val prof = Tables.customer(s, d).agg(
        count(lit(1)).as("n_rows"),
        count(col("c_name")).as("nn_name"),
        count(col("c_mktsegment")).as("nn_seg"),
        countDistinct(col("c_name")).as("nd_name"),
        countDistinct(col("c_mktsegment")).as("nd_seg"),
        countDistinct(col("c_nationkey")).as("nd_nation"))
      prof.select(lit("c_name").as("col"), col("nn_name").as("n_nonnull"), col("nd_name").as("n_distinct"))
        .unionByName(prof.select(lit("c_mktsegment").as("col"), col("nn_seg").as("n_nonnull"), col("nd_seg").as("n_distinct")))
        .unionByName(prof.select(lit("c_nationkey").as("col"), col("n_rows").as("n_nonnull"), col("nd_nation").as("n_distinct")))
        .orderBy("col")
    },

    // ---------------------------------------------------------------- q65
    // Entity-resolution-style fuzzy matching, dictionary-first: the
    // expensive pairwise Levenshtein runs over DISTINCT names (the
    // dictionary — |names|² evals, 64² here), and row pairs are then
    // recovered through equi-joins on (name, brand). The naive
    // formulation (the oracle SQL below — correct but row-pairwise)
    // evaluates the metric O(rows²/brand) times: 800M evals at sf0.1
    // vs 4k this way. Dictionary ≪ corpus is the normal shape for
    // names/titles/categories at 100 TB, so precompute-the-dictionary
    // is the scalable plan; blocking by brand bounds the recovered
    // pair space. The dictionary pair space is itself blocked: edit
    // distance <= 2 forces |len(n1) - len(n2)| <= 2, so the left side
    // explodes to its five candidate lengths and equi-joins the right
    // side's exact length — a millions-of-names dictionary yields
    // O(|names| x names-per-length-band) pairs, not |names|².
    Q("q65_fuzzy_match",
      """SELECT a.p_partkey AS pk1, b.p_partkey AS pk2,
        |       CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
        |FROM part a JOIN part b
        |  ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
        |WHERE levenshtein(a.p_name, b.p_name) <= 2
        |ORDER BY pk1, pk2""".stripMargin) { (s, d) =>
      val p = Tables.part(s, d).select(col("p_partkey"), col("p_brand"), col("p_name"))
      val names = p.select(col("p_name")).distinct()
      // the shared length-band dictionary metric — one spelling with
      // the ER family (EntityResolution.levBandPairs scaladoc has
      // the blocking argument)
      val nd = graft.analytics.EntityResolution.levBandPairs(names, names, 2)
      val a = p.select(col("p_partkey").as("pk1"), col("p_brand"), col("p_name").as("n1"))
      val b = p.select(col("p_partkey").as("pk2"), col("p_brand").as("b2"), col("p_name").as("n2b"))
      a.join(broadcast(nd), Seq("n1"))
        .join(b, col("n2") === col("n2b") && col("p_brand") === col("b2")
          && col("pk1") < col("pk2"))
        .select(col("pk1"), col("pk2"), col("dist"))
        .orderBy("pk1", "pk2")
    },

    // ---------------------------------------------------------------- q137
    // Z-order (Morton) layout key: interleave the bits of two
    // dimensions so one sort key clusters BOTH — the storage-side
    // lever behind multi-dimensional row-group pruning (ops/Layout;
    // LayoutSpec measures the same box query emitting 70× fewer
    // rows from the scan on a z-ordered write). Pure integer shift
    // arithmetic; the SQL side is GENERATED from the same loop
    // (Layout.zorderKeyNSql), so the spellings cannot drift, and the
    // gate hash-verifies every interleaved bit.
    Q("q137_zorder_key",
      s"""SELECT c_custkey,
         |  CAST(${graft.ops.Layout.zorderKeyNSql(Seq("c_custkey", "c_nationkey"))} AS BIGINT) AS zkey
         |FROM customer ORDER BY c_custkey""".stripMargin) { (s, d) =>
      Tables.customer(s, d)
        .select(col("c_custkey"),
          graft.ops.Layout.zorderKeyN(Seq(col("c_custkey"), col("c_nationkey"))).as("zkey"))
        .orderBy("c_custkey")
    },

    // ---------------------------------------------------------------- q193
    // N-DIMENSIONAL Z-order key (3 dims here) — the Delta/Iceberg
    // `OPTIMIZE ZORDER BY (c1..cn)` surface generalizing q137: bit b
    // of dim i lands at position 3b+i, one sort key clusters all
    // three, every dimension's per-file min/max stays tight
    // (LayoutSpec measures the third-dim prune end-to-end; the gate
    // hash-verifies every interleaved bit). SQL generated from the
    // SAME loop (Layout.zorderKeyNSql) — the spellings cannot drift.
    // 16 bits × 3 dims = 48 key bits, inside the signed-long budget.
    Q("q193_zorder3_key",
      s"""SELECT l_orderkey, l_linenumber,
         |  CAST(${graft.ops.Layout.zorderKeyNSql(
               Seq("l_partkey", "l_suppkey", "l_linenumber"))} AS BIGINT) AS zkey
         |FROM lineitem WHERE l_orderkey % 100 = 0
         |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_orderkey") % 100 === 0)
        .select(col("l_orderkey"), col("l_linenumber"),
          graft.ops.Layout.zorderKeyN(
            Seq(col("l_partkey"), col("l_suppkey"), col("l_linenumber"))).as("zkey"))
        .orderBy("l_orderkey", "l_linenumber")
    },

    // ---------------------------------------------------------------- q139
    // PageRank over the supplier↔customer co-purchase graph — the
    // iterative-graph workload (the Pregel shape: per iteration ONE
    // shuffle of edge contributions into their destination, ranks a
    // node-sized frame the join side broadcasts). 5 unrolled
    // iterations; engine-portability comes from the q80 rule applied
    // per superstep: each contribution r/outdeg is duckRound'ed to 9
    // decimals, summed as exact DECIMAL(27,12) (a 9-rounded double
    // casts exactly at scale 12 on both engines — its 12-decimal
    // expansion ends in 000, so the cast never sits on a boundary),
    // and the damping arithmetic is plain IEEE. Ranks localCheckpoint
    // per round: lineage stays flat, and the node-sized frame is the
    // only thing carried between supersteps.
    Q("q139_pagerank",
      """WITH e AS (SELECT DISTINCT 's' || CAST(l_suppkey AS VARCHAR) AS src,
        |                           'c' || CAST(o_custkey AS VARCHAR) AS dst
        |           FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |ee AS (SELECT src, dst FROM e UNION ALL SELECT dst AS src, src AS dst FROM e),
        |deg AS (SELECT src, count(*) AS od FROM ee GROUP BY 1),
        |nodes AS (SELECT DISTINCT src AS node FROM ee),
        |r0 AS (SELECT node, 1.0 / (SELECT count(*) FROM nodes) AS r FROM nodes),
        |r1 AS (SELECT n.node, 0.15 + 0.85 * CAST(coalesce(sum(
        |         CAST(round(p.r / deg.od, 9) AS DECIMAL(27,12))), 0) AS DOUBLE) AS r
        |       FROM nodes n LEFT JOIN ee ON ee.dst = n.node
        |         LEFT JOIN r0 p ON p.node = ee.src LEFT JOIN deg ON deg.src = ee.src
        |       GROUP BY n.node),
        |r2 AS (SELECT n.node, 0.15 + 0.85 * CAST(coalesce(sum(
        |         CAST(round(p.r / deg.od, 9) AS DECIMAL(27,12))), 0) AS DOUBLE) AS r
        |       FROM nodes n LEFT JOIN ee ON ee.dst = n.node
        |         LEFT JOIN r1 p ON p.node = ee.src LEFT JOIN deg ON deg.src = ee.src
        |       GROUP BY n.node),
        |r3 AS (SELECT n.node, 0.15 + 0.85 * CAST(coalesce(sum(
        |         CAST(round(p.r / deg.od, 9) AS DECIMAL(27,12))), 0) AS DOUBLE) AS r
        |       FROM nodes n LEFT JOIN ee ON ee.dst = n.node
        |         LEFT JOIN r2 p ON p.node = ee.src LEFT JOIN deg ON deg.src = ee.src
        |       GROUP BY n.node),
        |r4 AS (SELECT n.node, 0.15 + 0.85 * CAST(coalesce(sum(
        |         CAST(round(p.r / deg.od, 9) AS DECIMAL(27,12))), 0) AS DOUBLE) AS r
        |       FROM nodes n LEFT JOIN ee ON ee.dst = n.node
        |         LEFT JOIN r3 p ON p.node = ee.src LEFT JOIN deg ON deg.src = ee.src
        |       GROUP BY n.node),
        |r5 AS (SELECT n.node, 0.15 + 0.85 * CAST(coalesce(sum(
        |         CAST(round(p.r / deg.od, 9) AS DECIMAL(27,12))), 0) AS DOUBLE) AS r
        |       FROM nodes n LEFT JOIN ee ON ee.dst = n.node
        |         LEFT JOIN r4 p ON p.node = ee.src LEFT JOIN deg ON deg.src = ee.src
        |       GROUP BY n.node)
        |SELECT node, round(r, 9) AS rank FROM r5 ORDER BY node""".stripMargin) { (s, d) =>
      graft.ops.Graph.pageRank(
          Tables.lineitem(s, d)
            .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
            .select(concat(lit("s"), col("l_suppkey").cast("string")).as("src"),
              concat(lit("c"), col("o_custkey").cast("string")).as("dst"))
            .distinct(),
          iters = 5)
        .select(col("node"), Exact.duckRound(col("r"), 9).as("rank"))
        .orderBy("node")
    },

    // ---------------------------------------------------------------- q151
    // Exact triangle counting over the supplier co-purchase graph
    // (suppliers co-occurring in ≥5 distinct orders — the support
    // filter is what makes a co-occurrence projection a GRAPH instead
    // of a near-clique: at sf0.1 it keeps 47,703 of 343,725 candidate
    // edges and 155,378 real triangles survive; at sf0.01 the
    // 100-supplier graph is complete, the dense extreme). The engine
    // runs the degree-oriented wedge-close (ops/Graph.triangleCounts,
    // O(m^1.5) independent of hub degree); the oracle is the naive
    // x<y<z three-way self-join DuckDB can afford single-node. Output
    // is per-node triangle participation — the clustering-structure
    // profile next to q139's centrality.
    Q("q151_triangles",
      """WITH pairs AS (
        |  SELECT a.l_suppkey AS u, b.l_suppkey AS v,
        |         count(DISTINCT a.l_orderkey) AS w
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
        |  GROUP BY 1, 2),
        |e AS (SELECT u, v FROM pairs WHERE w >= 5),
        |tri AS (SELECT a.u AS x, a.v AS y, b.v AS z
        |        FROM e a JOIN e b ON b.u = a.v
        |                 JOIN e t ON t.u = a.u AND t.v = b.v),
        |m AS (SELECT x AS node FROM tri
        |      UNION ALL SELECT y FROM tri
        |      UNION ALL SELECT z FROM tri)
        |SELECT node, CAST(count(*) AS BIGINT) AS n_tri
        |FROM m GROUP BY 1 ORDER BY node""".stripMargin) { (s, d) =>
      val li = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey"))
      val pairs = li.as("a").join(li.as("b"),
          col("a.l_orderkey") === col("b.l_orderkey") &&
            col("a.l_suppkey") < col("b.l_suppkey"))
        .groupBy(col("a.l_suppkey").as("u"), col("b.l_suppkey").as("v"))
        .agg(countDistinct(col("a.l_orderkey")).as("w"))
      graft.ops.Graph.triangleCounts(
          pairs.filter(col("w") >= 5).select(col("u"), col("v")))
        .orderBy("node")
    },

    // ---------------------------------------------------------------- q141
    // Join-key skew audit — the operational "before you shuffle,
    // audit the key" report the skew playbook (ops/Skew, AQE, salting)
    // starts from: per-key row counts reduced to a keys-sized frame
    // (the corpus is touched by ONE partial-agged groupBy), then
    // exact order statistics (p50/p99 by rank selection over the
    // count distribution), the max/mean skew ratio in integer
    // arithmetic (×1000, floor division — no doubles to round), and
    // the top-5 hot keys under a (count desc, key asc) total order.
    // One relation: (metric, key, cnt), key=0 for scalar stats.
    Q("q141_join_skew_audit",
      """WITH c AS (SELECT l_suppkey AS k, count(*) AS cnt FROM lineitem GROUP BY 1),
        |s AS (SELECT CAST(count(*) AS BIGINT) AS n_keys, CAST(sum(cnt) AS BIGINT) AS total,
        |             CAST(max(cnt) AS BIGINT) AS mx FROM c),
        |r AS (SELECT k, cnt, row_number() OVER (ORDER BY cnt ASC, k ASC) AS rn FROM c),
        |p AS (SELECT
        |    (SELECT CAST(cnt AS BIGINT) FROM r, s WHERE rn = (s.n_keys + 1) // 2) AS p50,
        |    (SELECT CAST(cnt AS BIGINT) FROM r, s
        |     WHERE rn = s.n_keys - (s.n_keys - 1) // 100) AS p99),
        |top AS (SELECT 'top_' || CAST(row_number() OVER (ORDER BY cnt DESC, k ASC) AS VARCHAR) AS metric,
        |               CAST(k AS BIGINT) AS key, CAST(cnt AS BIGINT) AS cnt
        |        FROM c ORDER BY cnt DESC, k ASC LIMIT 5)
        |SELECT metric, key, cnt FROM (
        |  SELECT 'n_keys' AS metric, 0 AS key, n_keys AS cnt FROM s
        |  UNION ALL SELECT 'total_rows', 0, total FROM s
        |  UNION ALL SELECT 'max_cnt', 0, mx FROM s
        |  UNION ALL SELECT 'p50_cnt', 0, p50 FROM p
        |  UNION ALL SELECT 'p99_cnt', 0, p99 FROM p
        |  UNION ALL SELECT 'skew_x1000', 0, (1000 * s.mx * s.n_keys) // s.total FROM s
        |  UNION ALL SELECT metric, key, cnt FROM top)
        |ORDER BY metric""".stripMargin) { (s, d) =>
      import s.implicits._
      val counts = Tables.lineitem(s, d)
        .groupBy(col("l_suppkey").as("k")).agg(count(lit(1)).as("cnt"))
        .localCheckpoint(true) // keys-sized; consumed by stats + ranks + top-5
      val st = counts.agg(
          count(lit(1)).as("n_keys"), sum(col("cnt")).as("total"), max(col("cnt")).as("mx"))
        .collect()(0)
      val (nKeys, total, mx) = (st.getLong(0), st.getLong(1), st.getLong(2))
      // exact p50/p99 by histogram rank-selection (ops/DistributedSelect,
      // q87's machinery): the audit runs ON pathological corpora, so it
      // can't own a one-task global sort — the old partition-less
      // row_number window over the counts frame was exactly the cliff
      // this query exists to flag (PlanSpec asserts no partition-less
      // Window survives in the plan). Both ranks ride one histogram
      // pass; ranks are model values from the already-collected n_keys.
      // pmod(k, 1): a NON-FOLDABLE zero — a lit(0) group key would
      // constant-fold out of the cumsum window's partitionSpec and
      // re-trigger the "No Partition Defined" WindowExec warning the
      // audit just got rid of (the window input is nBins-bounded
      // either way; this keeps the partitioning explicit)
      val sel = graft.ops.DistributedSelect.groupRankSelect(
          counts.withColumn("_g", pmod(col("k"), lit(1L))), "_g", "cnt", "k",
          Seq("p50_cnt" -> (_ => lit((nKeys + 1) / 2)),
            "p99_cnt" -> (_ => lit(nKeys - (nKeys - 1) / 100))))
        .collect().map(r => r.getAs[String]("rank_name") ->
          r.getAs[Double]("value").toLong).toMap
      // top-5 hot keys: TakeOrderedAndProject to 5 rows, labels stamped
      // driver-side (model-sized) — no window at all
      val top5 = counts.orderBy(col("cnt").desc, col("k").asc).limit(5)
        .collect().toSeq.zipWithIndex.map { case (r, i) =>
          (s"top_${i + 1}", r.getAs[Long]("k"), r.getAs[Long]("cnt"))
        }
      val rows = Seq(
        ("n_keys", 0L, nKeys), ("total_rows", 0L, total), ("max_cnt", 0L, mx),
        ("p50_cnt", 0L, sel("p50_cnt")), ("p99_cnt", 0L, sel("p99_cnt")),
        ("skew_x1000", 0L, 1000L * mx * nKeys / total)) ++ top5
      rows.toDF("metric", "key", "cnt").orderBy("metric")
    },

    // ---------------------------------------------------------------- q143
    // Data-contract audit — the dbt-test/great-expectations face: one
    // conditional-aggregation scan for the row-level rules (nulls,
    // ranges, profile thresholds), plus the three rules that need a
    // second relation: primary-key duplicates (two-stage groupBy, no
    // Expand), referential orphans (ONE anti-join), and the
    // cross-table ordering invariant (ship before order date). Every
    // count is a BIGINT — nothing to round — and zero-violation
    // integrity rows are as hash-verified as the firing profile rows.
    Q("q143_contract_audit",
      """WITH agg AS (SELECT
        |    CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_orderkey,
        |    CAST(sum(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS nonpositive_qty,
        |    CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 0.1 THEN 1 ELSE 0 END) AS BIGINT) AS discount_range,
        |    CAST(sum(CASE WHEN l_quantity > 45 THEN 1 ELSE 0 END) AS BIGINT) AS qty_over_45,
        |    CAST(sum(CASE WHEN l_extendedprice <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS nonpositive_price
        |  FROM lineitem),
        |dup AS (SELECT CAST(count(*) AS BIGINT) AS n FROM (
        |    SELECT l_orderkey, l_linenumber FROM lineitem GROUP BY 1, 2 HAVING count(*) > 1)),
        |orph AS (SELECT CAST(count(*) AS BIGINT) AS n FROM lineitem
        |         WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)),
        |early AS (SELECT CAST(count(*) AS BIGINT) AS n
        |          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |          WHERE l_shipdate < o_orderdate)
        |SELECT check_name, n_violations FROM (
        |  SELECT 'null_orderkey' AS check_name, null_orderkey AS n_violations FROM agg
        |  UNION ALL SELECT 'nonpositive_qty', nonpositive_qty FROM agg
        |  UNION ALL SELECT 'discount_range', discount_range FROM agg
        |  UNION ALL SELECT 'qty_over_45', qty_over_45 FROM agg
        |  UNION ALL SELECT 'nonpositive_price', nonpositive_price FROM agg
        |  UNION ALL SELECT 'dup_pk', n FROM dup
        |  UNION ALL SELECT 'orphan_lineitems', n FROM orph
        |  UNION ALL SELECT 'ship_before_order', n FROM early)
        |ORDER BY check_name""".stripMargin) { (s, d) =>
      val li = Tables.lineitem(s, d)
      def cnt(c: org.apache.spark.sql.Column) = sum(when(c, 1L).otherwise(0L))
      val rules = Seq(
        "null_orderkey" -> col("l_orderkey").isNull,
        "nonpositive_qty" -> (col("l_quantity") <= 0),
        "discount_range" -> (col("l_discount") < 0 || col("l_discount") > 0.1),
        "qty_over_45" -> (col("l_quantity") > 45),
        "nonpositive_price" -> (col("l_extendedprice") <= 0))
      // the row rules: one aggregate row exploded to one row per rule
      val rowRules = li.agg(array(rules.map { case (n, c) =>
          struct(lit(n).as("check_name"), cnt(c).as("n_violations")) }: _*).as("r"))
        .select(explode(col("r")).as("r")).select("r.*")
      def audit(name: String, violations: org.apache.spark.sql.DataFrame) =
        violations.agg(count(lit(1)).as("n_violations"))
          .select(lit(name).as("check_name"), col("n_violations"))
      val dup = li.groupBy(col("l_orderkey"), col("l_linenumber"))
        .agg(count(lit(1)).as("c")).filter(col("c") > 1)
      val orph = li.join(Tables.orders(s, d),
        col("l_orderkey") === col("o_orderkey"), "left_anti")
      val early = li.join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .filter(col("l_shipdate") < col("o_orderdate"))
      // one lazy plan: the caller's single action runs all four
      // branches' stages together instead of four jobs in a chain
      rowRules
        .unionByName(audit("dup_pk", dup))
        .unionByName(audit("orphan_lineitems", orph))
        .unionByName(audit("ship_before_order", early))
        .orderBy("check_name")
    },

    // ---------------------------------------------------------------- q144
    // CDC changelog apply — MERGE INTO semantics next to q08's
    // append-only upsert: a deterministic changelog derived from
    // orders (op by orderkey mod 13: D / U / I-with-new-key, seq =
    // the unique orderkey) folds into the customer snapshot via
    // ops/Cdc.applyChangelog: latest-change-per-key by partial-agged
    // max-struct (NO window sort), one full-outer equi-join, D wins,
    // U-to-missing inserts (idempotent over compacted-log replay).
    // Payload columns pass through untouched (doubles never
    // recomputed), so the merged snapshot hash-matches exactly.
    Q("q144_cdc_apply",
      """WITH ch AS (SELECT
        |    CASE WHEN o_orderkey % 13 = 0 THEN 'D'
        |         WHEN o_orderkey % 13 < 7 THEN 'U' ELSE 'I' END AS op0,
        |    o_orderkey, o_custkey, o_totalprice, o_orderpriority FROM orders),
        |cg AS (SELECT CASE WHEN op0 = 'I' THEN o_custkey + 1000000 ELSE o_custkey END AS k,
        |              o_orderkey AS seq, op0 AS op, o_totalprice AS bal,
        |              o_orderpriority AS seg FROM ch),
        |lt AS (SELECT k, op, bal, seg FROM (
        |    SELECT k, op, bal, seg, row_number() OVER (PARTITION BY k ORDER BY seq DESC) AS rn
        |    FROM cg) WHERE rn = 1),
        |sn AS (SELECT c_custkey AS k, c_acctbal AS bal, c_mktsegment AS seg FROM customer)
        |SELECT k,
        |  CASE WHEN lt.op IS NULL THEN sn.bal ELSE lt.bal END AS bal,
        |  CASE WHEN lt.op IS NULL THEN sn.seg ELSE lt.seg END AS seg
        |FROM sn FULL OUTER JOIN lt USING (k)
        |WHERE coalesce(lt.op, '') <> 'D'
        |ORDER BY k""".stripMargin) { (s, d) =>
      val op0 = when(col("o_orderkey") % 13 === 0, lit("D"))
        .when(col("o_orderkey") % 13 < 7, lit("U")).otherwise(lit("I"))
      val changes = Tables.orders(s, d)
        .select(op0.as("op0"), col("o_orderkey"), col("o_custkey"),
          col("o_totalprice"), col("o_orderpriority"))
        .select(
          when(col("op0") === "I", col("o_custkey") + 1000000).otherwise(col("o_custkey")).as("k"),
          col("o_orderkey").as("seq"), col("op0").as("op"),
          col("o_totalprice").as("bal"), col("o_orderpriority").as("seg"))
      val snapshot = Tables.customer(s, d)
        .select(col("c_custkey").as("k"), col("c_acctbal").as("bal"),
          col("c_mktsegment").as("seg"))
      graft.ops.Cdc.applyChangelog(snapshot, changes, "k", "seq", "op",
          Seq("bal", "seg"))
        .orderBy("k")
    },

    // ---------------------------------------------------------------- q166
    // Structured-record ENTITY RESOLUTION end to end — the full ER
    // pipeline q65 is the metric kernel of: blocking (brand +
    // length band) → multi-field weighted scoring (Fellegi–Sunter
    // shape: 2·[name lev ≤ 2] + 1·[type =] + 1·[|size Δ| ≤ 1],
    // match ⇔ score ≥ 4 — name similarity alone is NOT sufficient,
    // 220k lev-pairs at sf0.1 collapse to 2,135 corroborated
    // matches) → connected components over the match pairs
    // (DedupOps.nearDupComponents — the q58 machinery on RECORD
    // pairs instead of document pairs) → canonical record = min key
    // per entity, singletons self-labeled. This is text-dedup's
    // structured sibling: the master-data/catalog dedup a warehouse
    // runs nightly. Scale shape inherits q65's dictionary-first
    // metric (distinct names × length band, never rows²) and the
    // pair list entering CC is match-output-sized.
    Q("q166_entity_resolution",
      erResolveSql) { (s, d) =>
      import graft.analytics.EntityResolution
      val p = Tables.part(s, d).select(col("p_partkey"), col("p_brand"),
        col("p_name"), col("p_type"), col("p_size"))
      EntityResolution.resolve(p, EntityResolution.matchPairs(p, p))
        .orderBy("p_partkey")
    },

    // ---------------------------------------------------------------- q167
    // Incremental entity resolution — the O(Δ) nightly contract for
    // the ER family (the q97/q102/q117 lifecycle applied to record
    // matching): the persisted match-pair STORE covers the ingested
    // base; a delta probes the full record set ONE-SIDED
    // (old–new and new–new pairs both reachable — the q102
    // symmetry argument on the blocking join), and store ∪
    // deltaPairs feeds the same components/canonical election. The
    // oracle is q166's FULL-RECOMPUTE SQL verbatim — the gate IS the
    // identity proof: incremental-served labels ≡ from-first-
    // principles resolution, both scales. Nightly cost: the delta's
    // name dictionary × length band + the delta-side blocking join —
    // never the base×base pair space.
    Q("q167_incremental_er",
      erResolveSql) { (s, d) =>
      import graft.analytics.EntityResolution
      val p = Tables.part(s, d).select(col("p_partkey"), col("p_brand"),
        col("p_name"), col("p_type"), col("p_size"))
      val delta = p.filter(col("p_partkey") % 10 === 0)
      // the stored pair list is the persisted nightly artifact — a
      // TableLog table built+committed once per dir (round 12, the
      // q97/q149 store convention): the measured run reads the PINNED
      // version and pays only the delta probe + merge + resolve,
      // which is the nightly's actual cost
      val (tbl, v1) = erPairStore(s, d)
      val store = graft.sinks.TableLog.read(s, tbl, Some(v1))
      val deltaPairs = EntityResolution.matchPairs(delta, p)
      EntityResolution.resolve(p,
          store.unionByName(deltaPairs).distinct())
        .orderBy("p_partkey")
    },

    // ---------------------------------------------------------------- q179
    // Transactional table log + TIME TRAVEL (sinks/TableLog): three
    // commits land on a fresh manifest-log table — append the %7≠0
    // documents (v1), append the %7=0 remainder (v2), overwrite with
    // the %5≠0 slice (v3) — and the query answers "what changed"
    // purely from PINNED version reads: ids visible at v2 but not v1
    // ('added@2' — exactly the second append) and ids visible at v2
    // but not v3 ('removed@3' — exactly what the overwrite dropped).
    // The oracle recomputes both sets from the documents table alone,
    // so a hash match proves the log served each version's exact file
    // set. Concurrency (one winner, one rebase-retry), crashed-writer
    // invisibility and torn-manifest detection are TableLogSpec's;
    // this gate pins the read-side contract. Anti-joins broadcast the
    // small side; the table data stays plain parquet (pushdown and
    // pruning unchanged — the log only decides WHICH files a version
    // scans).
    Q("q179_table_time_travel",
      """SELECT doc_id, 'added@2' AS status FROM documents WHERE doc_id % 7 = 0
        |UNION ALL
        |SELECT doc_id, 'removed@3' AS status FROM documents WHERE doc_id % 5 = 0
        |ORDER BY status, doc_id""".stripMargin) { (s, d) =>
      import graft.sinks.TableLog
      val docs = Tables.documents(s, d).select(col("doc_id"), col("source"))
      // Scratch-managed: each run's table tree replaces the previous
      // run's (Bench best-of-2 would otherwise leak 3 full document
      // copies to /tmp per run — round-11 advisor finding)
      val table = Scratch.fresh("graft-q179-table").toString
      val v1 = TableLog.append(docs.filter(col("doc_id") % 7 =!= 0), table)
      val v2 = TableLog.append(docs.filter(col("doc_id") % 7 === 0), table)
      val v3 = TableLog.overwrite(docs.filter(col("doc_id") % 5 =!= 0), table)
      require((v1, v2, v3) == (1L, 2L, 3L), s"unexpected versions ($v1,$v2,$v3)")
      def at(v: Long) = TableLog.read(s, table, Some(v)).select("doc_id")
      val added = at(v2).join(at(v1), Seq("doc_id"), "left_anti")
        .select(col("doc_id"), lit("added@2").as("status"))
      val removed = at(v2).join(at(v3), Seq("doc_id"), "left_anti")
        .select(col("doc_id"), lit("removed@3").as("status"))
      added.unionByName(removed).orderBy("status", "doc_id")
    },

    // ---------------------------------------------------------------- q180
    // ER blocking-recall audit — the knob-validator the ER family
    // owed its block (the q98/q124/q142/q177 convention: every
    // approximation ships with its audit). Truth arm = the SAME score
    // rule re-run WITHOUT blocking keys (the name length band stays:
    // lev ≤ 2 forces |lenΔ| ≤ 2, a lossless block); the one-row
    // report is (truth, blocked, missed, recall bp, candidate pairs).
    // Round-11 measured single-pass BRAND blocking at 390 bp (2,135
    // of 54,658 corroborated pairs at sf0.1 — the synthetic name
    // space collides heavily ACROSS brands); round 12 added the
    // standard fix: SECOND and THIRD blocking passes on the name's
    // first and last tokens (multi-pass blocking —
    // EntityResolution.block2Col/block3Col), candidates unioned
    // pass-disjointly. The token keys ride the metric's structure: a
    // lev ≤ 2 budget cannot disturb both ends of the name unless it
    // splits two single-char edits across them — and round 13's
    // FOURTH pass (middle section, block4Col) closes that corner
    // structurally for ≥ 3-token names: edits split across first AND
    // last leave the middle intact. The EMPTY middle ("" — every
    // ≤ 2-token name) is PURGED from the pass (Papadakis-style
    // oversized-block hygiene: on this corpus's 2-token names "" is
    // one degenerate bucket = the unblocked arm in disguise, and a
    // 20,000-member FMGWS funnel in the stream — measured 2,621 →
    // 599 recs/s before the purge). Measured at sf0.1: 390 bp
    // single-pass → 5,858 two-pass → 10,000 bp three-pass,
    // candidates 5.5M (output-bounded; cand_pairs rides in the
    // report so the recall/volume trade stays visible). Round 14
    // adds passes 5/6 (stripped prefix/suffix windows —
    // EntityResolution.block5Col/block6Col), closing the
    // token-RESTRUCTURING corner (space-merge + far-end edit)
    // structurally: stripping spaces refunds the whitespace edit, and
    // one remaining edit cannot disturb both windows. Residual
    // corner, still audited: 2-edit splits touching both windows (the
    // 2-token whole-name class); AnalyticsSpec pins recovered and
    // residual evaders.
    Q("q180_er_blocking_audit",
      s"""WITH ${erPmSqlOver("part")},
        |names AS (SELECT DISTINCT p_name FROM part),
        |nd AS (SELECT a.p_name AS n1, b.p_name AS n2
        |       FROM names a JOIN names b
        |         ON abs(length(a.p_name) - length(b.p_name)) <= 2
        |       WHERE levenshtein(a.p_name, b.p_name) <= 2),
        |sc AS (SELECT least(a.p_partkey, b.p_partkey) AS d1,
        |              greatest(a.p_partkey, b.p_partkey) AS d2,
        |              max(CASE WHEN ${erBlockSql("a", "b")}
        |                  THEN 1 ELSE 0 END) AS fb
        |       FROM nd JOIN pm a ON a.p_name = nd.n1
        |               JOIN pm b ON b.p_name = nd.n2 AND a.p_partkey <> b.p_partkey
        |       WHERE 2 + CASE WHEN a.p_type = b.p_type THEN 1 ELSE 0 END
        |               + CASE WHEN abs(a.p_size - b.p_size) <= 1 THEN 1 ELSE 0 END >= 4
        |       GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT least(a.p_partkey, b.p_partkey) AS d1,
        |                greatest(a.p_partkey, b.p_partkey) AS d2
        |         FROM nd JOIN pm a ON a.p_name = nd.n1
        |                 JOIN pm b ON b.p_name = nd.n2 AND a.p_partkey <> b.p_partkey
        |         WHERE ${erBlockSql("a", "b")}),
        |cn AS (SELECT CAST(count(*) AS BIGINT) AS cand_pairs FROM cand)
        |SELECT CAST(count(*) AS BIGINT) AS truth_pairs,
        |       CAST(sum(fb) AS BIGINT) AS blocked_pairs,
        |       CAST(count(*) - sum(fb) AS BIGINT) AS missed_pairs,
        |       CASE WHEN count(*) > 0
        |         THEN CAST(sum(fb) * 10000 // count(*) AS BIGINT) END AS recall_bp,
        |       (SELECT cand_pairs FROM cn) AS cand_pairs
        |FROM sc""".stripMargin) { (s, d) =>
      import graft.analytics.EntityResolution
      val p = Tables.part(s, d).select(col("p_partkey"), col("p_brand"),
        col("p_name"), col("p_type"), col("p_size"))
      EntityResolution.blockingRecallAudit(p)
    },

    // ---------------------------------------------------------------- q182
    // Table-log MERGE + OPTIMIZE: upsert (q179's protocol carrying
    // Merge.mergeByKey — first-writer-wins key dedup published as one
    // atomic version, the reference's read-merge-rewrite race made
    // safe at table level) followed by compaction (contents
    // identical, file count collapses to 1, pinned history intact —
    // the runner REQUIRES both invariants before returning). The
    // hashed output is the post-compaction table: overlapping keys
    // (%2=0 ∧ %3=0) kept their ORIGINAL source — proof the upsert's
    // existing-wins precedence survived the merge-rewrite-publish
    // cycle — while new keys (%3=0 ∧ %2≠0) landed with the marker.
    Q("q182_table_merge_compact",
      """SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN source ELSE 'UPSERTED' END AS src
        |FROM documents WHERE doc_id % 2 = 0 OR doc_id % 3 = 0
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      import graft.sinks.TableLog
      val docs = Tables.documents(s, d).select(col("doc_id"), col("source").as("src"))
      val table = Scratch.fresh("graft-q182-table").toString
      // two appends ⇒ the head manifest lists ≥ 2 files (one+ per commit)
      TableLog.append(docs.filter(col("doc_id") % 4 === 0), table)
      TableLog.append(docs.filter(col("doc_id") % 4 === 2), table)
      val preFiles = TableLog.manifest(s, table).files.length
      val preRows = TableLog.read(s, table).count()
      val v3 = TableLog.compact(s, table, numFiles = 1)
      val m = TableLog.manifest(s, table)
      require(m.files.length == 1 && preFiles > 1,
        s"compaction did not shrink files ($preFiles -> ${m.files.length})")
      require(TableLog.read(s, table).count() == preRows,
        "compaction changed the row count")
      val fresh = docs.filter(col("doc_id") % 3 === 0)
        .withColumn("src", lit("UPSERTED"))
      val v4 = TableLog.upsert(fresh, table, Seq("doc_id"))
      require((v3, v4) == (3L, 4L), s"unexpected versions ($v3,$v4)")
      TableLog.read(s, table).orderBy("doc_id")
    },

    // ---------------------------------------------------------------- q183
    // TableLog DATA SKIPPING gate (round-12 judge item #2): commits
    // carry per-file footer stats (rows, col min/max/nulls) in the
    // manifest, and readWhere prunes the FILE LIST against the query
    // predicate before Spark builds a scan — the Delta/Iceberg
    // mechanism one level above parquet row-group pruning (which
    // still pays a footer open per file at 100× file counts). Three
    // disjoint doc_id-range commits; arm 'lowq' reads the HEAD with
    // a low-range predicate, arm 'pinned' TIME-TRAVELS to v2 with a
    // mid-range predicate — both arms REQUIRE strictly-pruned file
    // lists in the body (self-enforcing: rows matching without
    // skipping engaged fails the gate), and the returned rows hash
    // against DuckDB recomputing both slices from documents alone —
    // proof pruning removed only files that could not match.
    // Thresholds derive from max(doc_id) by the same integer
    // arithmetic on both engines (t1 = m/3, t2 = 2*t1, half = t1/2).
    Q("q183_table_data_skipping",
      """WITH mx AS (SELECT max(doc_id) // 3 AS t1 FROM documents)
        |SELECT doc_id, source, 'lowq' AS status FROM documents, mx
        |WHERE doc_id <= t1 // 2
        |UNION ALL
        |SELECT doc_id, source, 'pinned' AS status FROM documents, mx
        |WHERE doc_id > t1 AND doc_id <= 2 * t1
        |ORDER BY status, doc_id""".stripMargin) { (s, d) =>
      import graft.sinks.TableLog
      val docs = Tables.documents(s, d).select(col("doc_id"), col("source"))
      val table = Scratch.fresh("graft-q183-table").toString
      // doc-count-sized scalar: the slice thresholds (model-sized collect)
      val m = docs.agg(max("doc_id")).head.getLong(0)
      val t1 = m / 3; val t2 = 2 * t1; val half = t1 / 2
      TableLog.append(docs.filter(col("doc_id") <= t1).coalesce(2), table)
      val v2 = TableLog.append(
        docs.filter(col("doc_id") > t1 && col("doc_id") <= t2).coalesce(2), table)
      TableLog.append(docs.filter(col("doc_id") > t2).coalesce(2), table)
      val predLow = col("doc_id") <= half
      val (allH, keptH) = TableLog.pruneFiles(s, table, predLow)
      require(keptH.nonEmpty && keptH.length < allH.length,
        s"head skipping engaged nothing (${keptH.length}/${allH.length})")
      val predMid = col("doc_id") > t1
      val (allP, keptP) = TableLog.pruneFiles(s, table, predMid, Some(v2))
      require(keptP.nonEmpty && keptP.length < allP.length,
        s"pinned skipping engaged nothing (${keptP.length}/${allP.length})")
      val lowq = TableLog.readWhere(s, table, predLow)
        .select(col("doc_id"), col("source"), lit("lowq").as("status"))
      val pinned = TableLog.readWhere(s, table, predMid, Some(v2))
        .select(col("doc_id"), col("source"), lit("pinned").as("status"))
      lowq.unionByName(pinned).orderBy("status", "doc_id")
    },

    // ---------------------------------------------------------------- q192
    // TABLE-TO-TABLE STREAMING HOP — the composition the table log
    // exists for, hash-verified end to end: table A streams through
    // TableLogSource (offsets = versions, batches = the appended
    // files) into table B via the exactly-once ledger sink — the
    // incremental-pipeline hop where BOTH ends price at the delta
    // (source reads only new files, sink appends one atomic version).
    // Three runs of the SAME checkpointed query: the first serves A's
    // history, the second consumes ONLY the commit landed in between
    // (runner requires B gained exactly the delta's rows, from the
    // manifest stats — no data recount), the third finds nothing new
    // and must publish NOTHING (runner requires B's head unmoved).
    // The hashed output is B itself ≡ the documents table.
    Q("q192_table_stream_hop",
      "SELECT doc_id, source FROM documents ORDER BY doc_id") { (s, d) =>
      import graft.sinks.TableLog
      val docs = Tables.documents(s, d).select(col("doc_id"), col("source"))
      val root = Scratch.fresh("graft-q192")
      val (a, b, ck) = (s"$root/a", s"$root/b", s"$root/ck")
      TableLog.append(docs.filter(col("doc_id") % 3 === 0), a)
      TableLog.append(docs.filter(col("doc_id") % 3 === 1), a)
      def hop(): Unit = {
        val q = s.readStream.format("graft.streaming.TableLogSource")
          .option("path", a).load()
          .writeStream
          .foreachBatch { (df: org.apache.spark.sql.DataFrame, bid: Long) =>
            TableLog.appendStreamBatch(df, b, "hop192", bid); ()
          }
          .option("checkpointLocation", ck)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      hop()
      val v1 = TableLog.headVersion(s, b)
      TableLog.append(docs.filter(col("doc_id") % 3 === 2), a)
      hop()
      val h = TableLog.history(s, b)
      require(h.length == 2 && v1 == 1L,
        s"each hop must land as one atomic version (got ${h.length}, v1=$v1)")
      // delta pricing from manifest stats alone — no data recount
      val deltaRows = docs.filter(col("doc_id") % 3 === 2).count()
      require(h.last.nRows - h.head.nRows == deltaRows,
        s"hop 2 must carry exactly the delta (${h.last.nRows - h.head.nRows} vs $deltaRows)")
      hop() // nothing new in A: no batch, no commit
      require(TableLog.headVersion(s, b) == h.last.version,
        "an idle hop must publish nothing")
      TableLog.read(s, b).orderBy("doc_id")
    },

    // ---------------------------------------------------------------- q194
    // TABLE LOG RETENTION — the maintenance verb that keeps a
    // frequently-committing table's LOG from growing without bound
    // (round 13's delta manifests make each commit O(Δ); this bounds
    // the cumulative history): expireVersions(floor) first publishes
    // a VERIFIED load-bearing checkpoint at the floor, then drops
    // older manifests and the data files only they referenced. The
    // runner REQUIRES the fence behavior end-to-end: expired data
    // bytes actually deleted (the compacted-away originals), reads
    // below the floor fail LOUDLY with the resume instruction (never
    // a silent hole), retained reads + data skipping unchanged.
    // Output = the retained head ≡ a documents slice.
    Q("q194_table_retention",
      """SELECT doc_id, source FROM documents WHERE doc_id % 4 <> 0
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      import graft.sinks.TableLog
      val docs = Tables.documents(s, d).select(col("doc_id"), col("source"))
      val table = Scratch.fresh("graft-q194").toString
      TableLog.append(docs.filter(col("doc_id") % 4 === 1), table) // v1
      TableLog.append(docs.filter(col("doc_id") % 4 === 2), table) // v2
      TableLog.append(docs.filter(col("doc_id") % 4 === 3), table) // v3
      val preFiles = TableLog.manifest(s, table).files.toSet
      TableLog.compact(s, table, numFiles = 2)                     // v4 rewrite
      val deleted = TableLog.expireVersions(s, table, 4L)
      require(preFiles.subsetOf(deleted.toSet),
        s"the pre-compaction data files are referenced only by expired " +
          s"versions and must be deleted (${preFiles.size} expected in " +
          s"${deleted.length} deleted)")
      require(TableLog.lowestVersion(s, table) == 4L,
        s"floor must be v4, got v${TableLog.lowestVersion(s, table)}")
      val loud =
        try { TableLog.read(s, table, Some(2)); false }
        catch { case e: IllegalStateException =>
          e.getMessage.contains("expired") && e.getMessage.contains("resume") }
      require(loud, "a read below the retention floor must fail loudly " +
        "with the resume instruction")
      require(TableLog.orphans(s, table).isEmpty,
        "retention must leave no orphans behind")
      // the audit verb still works over the truncated log
      require(TableLog.history(s, table).map(_.version) == Seq(4L),
        "history must cover exactly the retained versions")
      TableLog.read(s, table).orderBy("doc_id")
    },

    // ---------------------------------------------------------------- q195
    // TABLE-LOG ROW DELETE — copy-on-write DELETE WHERE with
    // manifest-stats FILE PRUNING (the Delta DELETE + data-skipping
    // shape; the GDPR-erasure verb a 100 TB corpus table runs): three
    // appends partition documents by doc_id RANGE (disjoint per-file
    // doc_id stats), then a delete of the even ids INSIDE range 1.
    // The runner REQUIRES the scale contract, not just the rows:
    // ranges 2+3's files carry into the new version UNTOUCHED (file
    // identity preserved — zero new bytes for 2/3 of the table),
    // range 1's files are all replaced, the commit lands as ONE
    // 'delete' version, incremental readers fail loudly across it (a
    // delete IS a data update), and a stats-provably-empty delete is
    // a metadata NO-OP (no version bump). Output = the table after
    // the delete ≡ a WHERE NOT slice of documents.
    Q("q195_table_delete",
      """SELECT doc_id, source FROM documents
        |WHERE NOT (doc_id < (SELECT count(*) // 3 FROM documents)
        |           AND doc_id % 2 = 0)
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      import graft.sinks.TableLog
      val docs = Tables.documents(s, d).select(col("doc_id"), col("source"))
      val c = docs.count() / 3
      val table = Scratch.fresh("graft-q195").toString
      TableLog.append(docs.filter(col("doc_id") < c), table)           // v1
      TableLog.append(docs.filter(col("doc_id") >= c &&
        col("doc_id") < 2 * c), table)                                 // v2
      TableLog.append(docs.filter(col("doc_id") >= 2 * c), table)      // v3
      val pre = TableLog.manifest(s, table)
      val (_, r1Files) = TableLog.pruneFiles(s, table, col("doc_id") < c)
      val vDel = TableLog.delete(s, table,
        col("doc_id") < c && col("doc_id") % 2 === 0)
      val post = TableLog.manifest(s, table, Some(vDel))
      val carried = pre.files.toSet -- r1Files.toSet
      require(carried.subsetOf(post.files.toSet),
        s"files outside the deleted range must carry UNTOUCHED " +
          s"(${carried.size} expected in ${post.files.length})")
      require(r1Files.toSet.intersect(post.files.toSet).isEmpty,
        "every possibly-matching file must be replaced")
      require(post.action == "delete" && vDel == 4L,
        s"one atomic delete version (got ${post.action}@$vDel)")
      val loud =
        try { TableLog.readAppendsSince(s, table, 3L); false }
        catch { case e: IllegalStateException =>
          e.getMessage.contains("delete") }
      require(loud, "incremental reads across a delete must fail loudly")
      // stats prove no doc_id is negative: metadata no-op, no commit
      require(TableLog.delete(s, table, col("doc_id") < -1) == vDel,
        "a stats-provably-empty delete must be a metadata no-op")
      require(TableLog.headVersion(s, table) == vDel,
        "a no-op delete must not publish a version")
      TableLog.read(s, table).orderBy("doc_id")
    },

    // ---------------------------------------------------------------- q199
    // RESTORE TO VERSION — the undo verb (Delta RESTORE): two appends
    // build the table, a deliberate bad delete drops half of range 1,
    // restore(v2) publishes a head whose contents are exactly v2's
    // again — with ZERO data movement (runner requires the restored
    // manifest's file set IDENTICAL to v2's — old files re-referenced
    // by identity, nothing rewritten) and history PRESERVED (append,
    // append, delete, restore — the mistake and its undo both audit;
    // restore is a new version, never a rewind). The txns ledger
    // carries forward. Output = the restored head ≡ the full
    // documents table.
    Q("q199_table_restore",
      "SELECT doc_id, source FROM documents ORDER BY doc_id") { (s, d) =>
      import graft.sinks.TableLog
      val docs = Tables.documents(s, d).select(col("doc_id"), col("source"))
      val c = docs.count() / 2
      val table = Scratch.fresh("graft-q199").toString
      TableLog.append(docs.filter(col("doc_id") < c), table)      // v1
      val v2 = TableLog.append(docs.filter(col("doc_id") >= c), table)
      val m2 = TableLog.manifest(s, table, Some(v2))
      TableLog.delete(s, table,
        col("doc_id") < c && col("doc_id") % 2 === 0)             // v3: oops
      val v4 = TableLog.restore(s, table, v2)
      val m4 = TableLog.manifest(s, table)
      require(v4 == 4L && m4.action == "restore", s"restore lands as v4 ($v4)")
      require(m4.files == m2.files,
        "restore must re-reference v2's files by identity (zero data moved)")
      require(TableLog.history(s, table).map(_.action) ==
        Seq("append", "append", "delete", "restore"),
        "history preserved: the mistake and its undo both audit")
      // idempotent no-op when already at the target contents
      require(TableLog.restore(s, table, v4) == v4,
        "restore to head is a no-op")
      TableLog.read(s, table).orderBy("doc_id")
    },

    // ---------------------------------------------------------------- q200
    // MERGE INTO — copy-on-write changelog apply with a STATS-PRUNED
    // TOUCH SET (the Delta MERGE verb; completes the DML triad
    // append/delete/merge — the nightly 100 TB CDC apply, previously
    // only available as the O(table) full-outer join of ops.Cdc/q144):
    // three range appends, then ONE merge whose changelog targets only
    // range 1 — deletes (doc_id%15=0), updates (%15=1 → source||'-u'),
    // inserts at brand-new keys (doc_id+n for %15=2), and a
    // same-key seq conflict (%15=3: seq-1 'D' then seq-2 'U' → the
    // LATEST change wins, so the row survives updated to 'w'). The
    // runner REQUIRES the scale contract: ranges 2+3's files carry
    // into the new version UNTOUCHED (identity — zero new bytes for
    // 2/3 of the table), every possibly-matching file is replaced,
    // the commit lands as ONE 'merge' version, incremental readers
    // fail loudly across it, and a merge whose keys are stats-provably
    // absent is a metadata NO-OP. Output = the merged table ≡ a
    // MERGE-semantics rebuild over documents. The carried-untouched
    // require holds at ANY corpus size (the r14 ADVICE scale
    // artifact, fixed round 15): above the inline cap the touch
    // domain CLIPS to the table's committed key range first, so the
    // fresh-key insert tail drops out and the residual envelope stays
    // inside range 1 whether or not the update keys fit the IN set.
    Q("q200_table_merge",
      """WITH p AS (SELECT count(*) // 3 AS c, max(doc_id) + 1 AS n
        |           FROM documents)
        |SELECT doc_id,
        |  CASE WHEN doc_id < (SELECT c FROM p) AND doc_id % 15 = 1
        |         THEN source || '-u'
        |       WHEN doc_id < (SELECT c FROM p) AND doc_id % 15 = 3
        |         THEN 'w'
        |       ELSE source END AS source
        |FROM documents
        |WHERE NOT (doc_id < (SELECT c FROM p) AND doc_id % 15 = 0)
        |UNION ALL
        |SELECT doc_id + (SELECT n FROM p), 'ins' FROM documents
        |WHERE doc_id < (SELECT c FROM p) AND doc_id % 15 = 2
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      import graft.sinks.TableLog
      val docs = Tables.documents(s, d).select(col("doc_id"), col("source"))
      val agg = docs.agg(count(lit(1)), max(col("doc_id"))).head
      val c = agg.getLong(0) / 3
      val n = agg.getLong(1) + 1
      val table = Scratch.fresh("graft-q200").toString
      TableLog.append(docs.filter(col("doc_id") < c), table)           // v1
      TableLog.append(docs.filter(col("doc_id") >= c &&
        col("doc_id") < 2 * c), table)                                 // v2
      TableLog.append(docs.filter(col("doc_id") >= 2 * c), table)      // v3
      val r1 = docs.filter(col("doc_id") < c)
      def ch(flt: org.apache.spark.sql.Column, key: org.apache.spark.sql.Column,
             seq: Long, op: String, pay: org.apache.spark.sql.Column) =
        r1.filter(flt).select(key.as("doc_id"), lit(seq).as("seq"),
          lit(op).as("op"), pay.cast("string").as("source"))
      val changes =
        ch(col("doc_id") % 15 === 0, col("doc_id"), 1L, "D", lit(null))
          .unionByName(ch(col("doc_id") % 15 === 1, col("doc_id"), 1L, "U",
            concat(col("source"), lit("-u"))))
          .unionByName(ch(col("doc_id") % 15 === 2, col("doc_id") + n, 1L, "I",
            lit("ins")))
          .unionByName(ch(col("doc_id") % 15 === 3, col("doc_id"), 1L, "D",
            lit(null)))
          .unionByName(ch(col("doc_id") % 15 === 3, col("doc_id"), 2L, "U",
            lit("w")))
      val pre = TableLog.manifest(s, table)
      val (_, r1Files) = TableLog.pruneFiles(s, table, col("doc_id") < c)
      val vM = TableLog.merge(s, table, changes, "doc_id", "seq", "op")
      val post = TableLog.manifest(s, table, Some(vM))
      val carried = pre.files.toSet -- r1Files.toSet
      require(carried.subsetOf(post.files.toSet),
        s"files outside the change-key domain must carry UNTOUCHED " +
          s"(${carried.size} expected in ${post.files.length})")
      require(r1Files.toSet.intersect(post.files.toSet).isEmpty,
        "every possibly-matching file must be replaced")
      require(post.action == "merge" && vM == 4L,
        s"one atomic merge version (got ${post.action}@$vM)")
      val loud =
        try { TableLog.readAppendsSince(s, table, 3L); false }
        catch { case e: IllegalStateException =>
          e.getMessage.contains("merge") }
      require(loud, "incremental reads across a merge must fail loudly")
      // stats prove key -5 exists nowhere: metadata no-op, no commit
      val absent = docs.limit(1).select(lit(-5L).as("doc_id"),
        lit(1L).as("seq"), lit("D").as("op"),
        lit(null).cast("string").as("source"))
      require(TableLog.merge(s, table, absent, "doc_id", "seq", "op") == vM &&
        TableLog.headVersion(s, table) == vM,
        "a stats-provably-absent changelog must be a metadata no-op")
      TableLog.read(s, table).orderBy("doc_id")
    },

    // ---------------------------------------------------------------- q201
    // CHANGE DATA FEED ACROSS A MERGE — readChanges serves a merge
    // commit's row changes as −preimage/+postimage pairs at O(touched
    // files) (old-touched ∖ new and new ∖ old-touched — the q197
    // multiset machinery generalized; an UPDATE is its delete + its
    // insert, the signed-row CDC contract): two appends are pure
    // inserts, then one merge deletes %9=0, updates %9=1 and inserts
    // new keys — the feed must carry the appends' inserts, the
    // deletes' and updates' preimages as −rows, and the updates' and
    // inserts' postimages as +rows, all stamped with the merge's
    // commit version. Rows untouched by the merge cancel out of the
    // diff entirely (they appear in both the old and new touched
    // sets). Oracle rebuilds all change sets from documents.
    Q("q201_table_merge_cdf",
      """WITH p AS (SELECT count(*) // 2 AS c, max(doc_id) + 1 AS n
        |           FROM documents)
        |SELECT doc_id, source, 'insert' AS _change_type,
        |  CAST(CASE WHEN doc_id < (SELECT c FROM p) THEN 1 ELSE 2 END
        |       AS BIGINT) AS _commit_version
        |FROM documents
        |UNION ALL
        |SELECT doc_id, source, 'delete', CAST(3 AS BIGINT)
        |FROM documents
        |WHERE doc_id < (SELECT c FROM p) AND doc_id % 9 IN (0, 1)
        |UNION ALL
        |SELECT doc_id, source || '-u', 'insert', CAST(3 AS BIGINT)
        |FROM documents
        |WHERE doc_id < (SELECT c FROM p) AND doc_id % 9 = 1
        |UNION ALL
        |SELECT doc_id + (SELECT n FROM p), 'ins', 'insert', CAST(3 AS BIGINT)
        |FROM documents
        |WHERE doc_id < (SELECT c FROM p) AND doc_id % 9 = 2
        |ORDER BY _commit_version, _change_type, doc_id""".stripMargin) { (s, d) =>
      import graft.sinks.TableLog
      val docs = Tables.documents(s, d).select(col("doc_id"), col("source"))
      val agg = docs.agg(count(lit(1)), max(col("doc_id"))).head
      val c = agg.getLong(0) / 2
      val n = agg.getLong(1) + 1
      val table = Scratch.fresh("graft-q201").toString
      TableLog.append(docs.filter(col("doc_id") < c), table)      // v1
      TableLog.append(docs.filter(col("doc_id") >= c), table)     // v2
      val r1 = docs.filter(col("doc_id") < c)
      def ch(flt: org.apache.spark.sql.Column, key: org.apache.spark.sql.Column,
             op: String, pay: org.apache.spark.sql.Column) =
        r1.filter(flt).select(key.as("doc_id"), lit(1L).as("seq"),
          lit(op).as("op"), pay.cast("string").as("source"))
      val changes =
        ch(col("doc_id") % 9 === 0, col("doc_id"), "D", lit(null))
          .unionByName(ch(col("doc_id") % 9 === 1, col("doc_id"), "U",
            concat(col("source"), lit("-u"))))
          .unionByName(ch(col("doc_id") % 9 === 2, col("doc_id") + n, "I",
            lit("ins")))
      val vM = TableLog.merge(s, table, changes, "doc_id", "seq", "op")
      require(vM == 3L, s"fixture: merge lands as v3 (got $vM)")
      TableLog.readChanges(s, table, 0L)
        .orderBy("_commit_version", "_change_type", "doc_id")
    },

    // ---------------------------------------------------------------- q198
    // ZERO-COPY SHALLOW CLONE + copy-on-write divergence — the
    // experiment/staging verb (Delta CLONE SHALLOW): cloning the
    // 3-range documents table is ONE manifest write referencing the
    // source's files absolutely (runner requires the clone's data
    // dir holds ZERO bytes at clone time), then a delete on the
    // CLONE rewrites only range 1 into the clone's own storage while
    // ranges 2+3 stay SHARED source files (runner requires both the
    // share and the source head byte-identical after the delete —
    // production untouched by the what-if). Output = clone post-
    // delete ('clone' arm) ∪ source ('src' arm), both hashed.
    Q("q198_table_shallow_clone",
      """SELECT doc_id, source, 'clone' AS arm FROM documents
        |WHERE NOT (doc_id < (SELECT count(*) // 3 FROM documents)
        |           AND doc_id % 2 = 0)
        |UNION ALL
        |SELECT doc_id, source, 'src' AS arm FROM documents
        |ORDER BY arm, doc_id""".stripMargin) { (s, d) =>
      import graft.sinks.TableLog
      val docs = Tables.documents(s, d).select(col("doc_id"), col("source"))
      val c = docs.count() / 3
      val src = Scratch.fresh("graft-q198-src").toString
      val cln = Scratch.fresh("graft-q198-clone").toString
      TableLog.append(docs.filter(col("doc_id") < c), src)
      TableLog.append(docs.filter(col("doc_id") >= c &&
        col("doc_id") < 2 * c), src)
      TableLog.append(docs.filter(col("doc_id") >= 2 * c), src)
      val srcHead = TableLog.manifest(s, src)
      require(TableLog.cloneShallow(s, src, cln) == 1L, "clone is v1")
      def cloneDataBytes(): Long = {
        val dd = new java.io.File(cln, "data")
        if (!dd.exists()) 0L
        else { var n = 0L
          val walk = java.nio.file.Files.walk(dd.toPath)
          try walk.forEach(p => if (p.toFile.isFile) n += p.toFile.length())
          finally walk.close() // Files.walk leaks a dir handle unclosed
          n }
      }
      require(cloneDataBytes() == 0L,
        "a shallow clone must copy ZERO data bytes")
      val (_, touched) = TableLog.pruneFiles(s, cln, col("doc_id") < c)
      TableLog.delete(s, cln, col("doc_id") < c && col("doc_id") % 2 === 0)
      val post = TableLog.manifest(s, cln)
      val shared = post.files.filter(_.contains(new java.io.File(src).getName))
      require(shared.size == srcHead.files.size - touched.size && shared.nonEmpty,
        s"untouched ranges must stay SHARED source files " +
          s"(${shared.size} of ${post.files.size})")
      require(TableLog.manifest(s, src).files == srcHead.files &&
        TableLog.headVersion(s, src) == srcHead.version,
        "the source must be byte-identical after the clone's delete")
      TableLog.read(s, cln)
        .select(col("doc_id"), col("source"), lit("clone").as("arm"))
        .unionByName(TableLog.read(s, src)
          .select(col("doc_id"), col("source"), lit("src").as("arm")))
        .orderBy("arm", "doc_id")
    },

    // ---------------------------------------------------------------- q202
    // TABLELOG FORMAT FACE — the `graftlog` data source (the Delta
    // connector's route: a HadoopFsRelation whose FileIndex IS the
    // pinned manifest, over Spark's own vectorized parquet reader):
    // every table verb reachable from format/SQL surface instead of
    // library calls. Three range appends, then (a) a pure-SQL read
    // through CREATE TEMPORARY VIEW … USING graftlog with a WHERE the
    // runner REQUIRES to engage manifest-stats skipping at the
    // FileSourceScan (fewer files scanned than the table holds, with
    // zero caller cooperation — readWhere's prune under plain SQL),
    // and (b) a versionAsOf time-travel read pinned below the head.
    // Output = both arms ≡ documents slices.
    Q("q202_table_format",
      """WITH p AS (SELECT count(*) // 3 AS c FROM documents)
        |SELECT doc_id, source, 'flt' AS arm FROM documents
        |WHERE doc_id >= 2 * (SELECT c FROM p)
        |UNION ALL
        |SELECT doc_id, source, 'v2' AS arm FROM documents
        |WHERE doc_id < 2 * (SELECT c FROM p)
        |ORDER BY arm, doc_id""".stripMargin) { (s, d) =>
      import graft.sinks.TableLog
      val docs = Tables.documents(s, d).select(col("doc_id"), col("source"))
      val c = docs.count() / 3
      val table = Scratch.fresh("graft-q202").toString
      TableLog.append(docs.filter(col("doc_id") < c), table)           // v1
      TableLog.append(docs.filter(col("doc_id") >= c &&
        col("doc_id") < 2 * c), table)                                 // v2
      TableLog.append(docs.filter(col("doc_id") >= 2 * c), table)      // v3
      val total = TableLog.manifest(s, table).files.size
      s.sql(s"CREATE OR REPLACE TEMPORARY VIEW graftlog_q202 " +
        s"USING graftlog OPTIONS (path '$table')")
      val flt = s.sql(
        s"SELECT doc_id, source FROM graftlog_q202 WHERE doc_id >= ${2 * c}")
      flt.collect() // finalize the (possibly adaptive) executed plan
      import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
        case sc: FileSourceScanExec => Seq(sc)
        case q: QueryStageExec => scans(q.plan)
        case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
        case other => other.children.flatMap(scans)
      }
      val scanned = scans(flt.queryExecution.executedPlan)
        .map(_.metrics("numFiles").value).sum
      require(scanned > 0 && scanned < total,
        s"manifest-stats skipping must engage through the format's " +
          s"FileIndex (scanned $scanned of $total files)")
      val v2 = s.read.format("graftlog").option("versionAsOf", "2")
        .load(table).select(col("doc_id"), col("source"))
      require(v2.count() == docs.filter(col("doc_id") < 2 * c).count(),
        "versionAsOf must pin the time-travel snapshot")
      flt.select(col("doc_id"), col("source"), lit("flt").as("arm"))
        .unionByName(v2.select(col("doc_id"), col("source"),
          lit("v2").as("arm")))
        .orderBy("arm", "doc_id")
    },

    // ---------------------------------------------------------------- q203
    // MERGE-ON-READ DELETION VECTORS — delete's scale face for the
    // erasure shape copy-on-write handles worst (SCALE100_r14's
    // widedelete probe: ONE hot row per file rewrites 100% of table
    // bytes): a scattered delete (doc_id % 97 = 3 — a few rows in
    // EVERY file) lands as per-file position sidecars. The runner
    // REQUIRES the scale contract: every data file carries into the
    // new version BY IDENTITY (zero data bytes rewritten — the exact
    // case the probe measured as a full-table rewrite), the commit is
    // ONE atomic 'delete' version, CDF serves the deleted rows at
    // O(dv) positions, a SECOND scattered delete unions into fresh
    // sidecars with the files still untouched and exact audited
    // cardinalities, and compact MATERIALIZES the vectors away with
    // content preserved. Output = the DV-applied read (the
    // merge-on-read path itself is what the oracle hashes).
    Q("q203_table_delete_dv",
      """SELECT doc_id, source FROM documents
        |WHERE NOT (doc_id % 97 = 3 OR doc_id % 89 = 7)
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      import graft.sinks.TableLog
      val docs = Tables.documents(s, d).select(col("doc_id"), col("source"))
      val c = docs.count() / 3
      val table = Scratch.fresh("graft-q203").toString
      TableLog.append(docs.filter(col("doc_id") < c), table)           // v1
      TableLog.append(docs.filter(col("doc_id") >= c &&
        col("doc_id") < 2 * c), table)                                 // v2
      TableLog.append(docs.filter(col("doc_id") >= 2 * c), table)      // v3
      val pre = TableLog.manifest(s, table)
      val v4 = TableLog.deleteVectors(s, table, col("doc_id") % 97 === 3)
      val m4 = TableLog.manifest(s, table, Some(v4))
      require(m4.action == "delete" && v4 == 4L,
        s"one atomic delete version (got ${m4.action}@$v4)")
      require(m4.files == pre.files,
        "a scattered DV delete must carry EVERY data file by IDENTITY " +
          "(zero data bytes rewritten)")
      require(m4.dvs.nonEmpty, "the delete must land as deletion vectors")
      val card4 = m4.dvs.valuesIterator.map(_.card).sum
      require(card4 == docs.where(col("doc_id") % 97 === 3).count(),
        "audited DV cardinalities must equal the deleted-row count")
      // CDF rides the DV commit: deleted rows recovered BY POSITION
      val fed = TableLog.readChanges(s, table, 3L, Some(v4))
      require(fed.where(col("_change_type") === "delete").count() == card4 &&
        fed.where(col("_change_type") === "insert").count() == 0,
        "the change feed must serve exactly the DV-deleted rows")
      // second scattered delete: per-file sidecars UNION, still zero
      // data bytes (positions already deleted must not recount)
      val v5 = TableLog.deleteVectors(s, table, col("doc_id") % 89 === 7)
      val m5 = TableLog.manifest(s, table, Some(v5))
      require(m5.files == pre.files, "re-delete must still carry every file")
      val fresh = docs.where(col("doc_id") % 89 === 7 &&
        !(col("doc_id") % 97 === 3)).count()
      require(m5.dvs.valuesIterator.map(_.card).sum == card4 + fresh,
        "re-delete sidecars must hold the exact position UNION")
      val live = TableLog.read(s, table) // the DV-applied plan — pinned
      val nLive = live.count()
      // compact materializes: vectors gone, content preserved
      TableLog.compact(s, table, numFiles = 2)
      val mC = TableLog.manifest(s, table)
      require(mC.dvs.isEmpty, "compact must materialize the vectors away")
      val after = TableLog.read(s, table)
      require(after.count() == nLive && live.exceptAll(after).isEmpty,
        "materialization must preserve the DV-applied content exactly")
      live.orderBy("doc_id")
    },

    // ---------------------------------------------------------------- q204
    // SQL DML FACE — MERGE INTO + DELETE FROM + DESCRIBE HISTORY as
    // pure SQL text over a graftlog table (GraftSql: Spark's OWN
    // parser, the MergeIntoTable/DeleteFromTable nodes rerouted onto
    // the TableLog verbs; the r14 "DML is Scala-only" gap). The CDC
    // merge shape (guarded-insert clause matrix) updates %11=1,
    // deletes %11=2 and inserts fresh keys for %11=3 of range 1; a
    // SQL DELETE FROM then erases %13=5 table-wide. The runner
    // REQUIRES: the merge lands as ONE 'merge' version whose
    // untouched ranges carry by identity (the SQL face inherits the
    // stats-pruned touch set), DESCRIBE HISTORY audits the verb
    // sequence, and the final SELECT goes through the auto-refreshed
    // temp view — parse-to-read, zero library calls in the consumer
    // path. Oracle rebuilds the same DML from documents.
    Q("q204_sql_dml",
      """WITH p AS (SELECT count(*) // 3 AS c, max(doc_id) + 1 AS n
        |           FROM documents),
        |m AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id < (SELECT c FROM p) AND doc_id % 11 = 1
        |         THEN source || '-u' ELSE source END AS source
        |  FROM documents
        |  WHERE NOT (doc_id < (SELECT c FROM p) AND doc_id % 11 = 2)
        |  UNION ALL
        |  SELECT doc_id + (SELECT n FROM p), 'ins' FROM documents
        |  WHERE doc_id < (SELECT c FROM p) AND doc_id % 11 = 3
        |)
        |SELECT doc_id, source FROM m WHERE doc_id % 13 <> 5
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      import graft.sinks.TableLog
      import graft.sql.GraftSql
      val docs = Tables.documents(s, d).select(col("doc_id"), col("source"))
      val agg = docs.agg(count(lit(1)), max(col("doc_id"))).head
      val c = agg.getLong(0) / 3
      val n = agg.getLong(1) + 1
      val table = Scratch.fresh("graft-q204").toString
      TableLog.append(docs.filter(col("doc_id") < c), table)           // v1
      TableLog.append(docs.filter(col("doc_id") >= c &&
        col("doc_id") < 2 * c), table)                                 // v2
      TableLog.append(docs.filter(col("doc_id") >= 2 * c), table)      // v3
      GraftSql.register(s, "q204_t", table)
      val r1 = docs.filter(col("doc_id") < c)
      r1.filter(col("doc_id") % 11 === 1)
        .select(col("doc_id"), concat(col("source"), lit("-u")).as("source"),
          lit("U").as("op"))
        .unionByName(r1.filter(col("doc_id") % 11 === 2)
          .select(col("doc_id"), lit(null).cast("string").as("source"),
            lit("D").as("op")))
        .unionByName(r1.filter(col("doc_id") % 11 === 3)
          .select((col("doc_id") + n).as("doc_id"), lit("ins").as("source"),
            lit("U").as("op")))
        .createOrReplaceTempView("q204_src")
      val pre = TableLog.manifest(s, table)
      val (_, r1Files) = TableLog.pruneFiles(s, table, col("doc_id") < c)
      GraftSql.sql(s,
        """MERGE INTO q204_t USING q204_src s ON q204_t.doc_id = s.doc_id
          |WHEN MATCHED AND s.op = 'D' THEN DELETE
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED AND NOT (s.op = 'D') THEN INSERT *""".stripMargin)
      val post = TableLog.manifest(s, table)
      require(post.action == "merge" && post.version == 4L,
        s"SQL MERGE must land as one merge version (${post.action}@${post.version})")
      val carried = pre.files.toSet -- r1Files.toSet
      require(carried.subsetOf(post.files.toSet),
        "the SQL face inherits the stats-pruned touch set: untouched " +
          "ranges carry by identity")
      GraftSql.sql(s, "DELETE FROM q204_t WHERE doc_id % 13 = 5")
      val hist = GraftSql.sql(s, "DESCRIBE HISTORY q204_t")
        .select(col("action")).collect().map(_.getString(0)).toSeq
      require(hist == Seq("append", "append", "append", "merge", "delete"),
        s"DESCRIBE HISTORY must audit the verb sequence (got $hist)")
      // parse-to-read: the consumer path is pure SQL over the
      // auto-refreshed view
      s.sql("SELECT doc_id, source FROM q204_t ORDER BY doc_id")
    },

    // ---------------------------------------------------------------- q205
    // STREAMING UPSERT HOP — stream → MERGE INTO, exactly once (the
    // Delta foreachBatch-merge pattern; the r14 verdict's third ask):
    // table A is a CDC changelog (doc_id, seq, op, payload) appended
    // in two waves; a TableLogSource stream drives
    // TableLog.upsertSink, which maintains serving table B through
    // ledger-checked merges — the first batch BOOTSTRAPS B from its
    // own fold, the second applies updates (%7=1) and deletes (%7=2)
    // through the stats-pruned merge path (the wave's ~N/7 keys
    // exceed the inline cap at sf0.1, so this gate also drives the
    // clipped-envelope touch predicate). The runner REQUIRES: each
    // hop lands as ONE atomic merge version, a re-run hop with the
    // same checkpoint publishes NOTHING (replay idempotence through
    // the txns ledger), and B ≡ the folded changelog.
    Q("q205_table_stream_merge",
      """SELECT doc_id,
        |  CASE WHEN doc_id % 7 = 1 THEN source || '-u' ELSE source END AS source
        |FROM documents
        |WHERE doc_id % 7 <> 2
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      import graft.sinks.TableLog
      val docs = Tables.documents(s, d).select(col("doc_id"), col("source"))
      val root = Scratch.fresh("graft-q205")
      val (a, b, ck) = (s"$root/a", s"$root/b", s"$root/ck")
      TableLog.append(docs.select(col("doc_id"), lit(1L).as("seq"),
        lit("I").as("op"), col("source")), a) // wave 1: the corpus as inserts
      def hop(): Unit = {
        val q = s.readStream.format("graft.streaming.TableLogSource")
          .option("path", a).load()
          .writeStream
          .foreachBatch(TableLog.upsertSink(b, "hop205", "doc_id", "seq", "op"))
          .option("checkpointLocation", ck)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      hop()
      require(TableLog.headVersion(s, b) == 1L,
        "the first batch must bootstrap the serving table as v1")
      TableLog.append(
        docs.filter(col("doc_id") % 7 === 1)
          .select(col("doc_id"), lit(2L).as("seq"), lit("U").as("op"),
            concat(col("source"), lit("-u")).as("source"))
          .unionByName(docs.filter(col("doc_id") % 7 === 2)
            .select(col("doc_id"), lit(2L).as("seq"), lit("D").as("op"),
              lit(null).cast("string").as("source"))), a) // wave 2
      hop()
      val h = TableLog.history(s, b)
      require(h.map(_.action) == Seq("merge", "merge"),
        s"each hop lands as one atomic merge version (got ${h.map(_.action)})")
      hop() // idle: no new source version → no batch, no commit
      require(TableLog.headVersion(s, b) == 2L,
        "an idle hop must publish nothing")
      TableLog.read(s, b).orderBy("doc_id")
    },

    // ---------------------------------------------------------------- q206
    // EXACT-DEDUP-FIRST ENTITY RESOLUTION — the 100× composition
    // (SCALE100_r14 stopped ER at 10× with "the FIRST move is q28
    // before ER"; this wires and GATES it): the corpus is part ∪ a
    // %3 replica under fresh keys (exact duplicate groups, the
    // duplicate-heavy shape mass replication produces), and the
    // pipeline collapses identical (name, brand, type, size) groups
    // to min-key representatives, resolves the REPRESENTATIVE space
    // only, and expands labels back through group membership. The
    // oracle is the DIRECT full-ER resolution over the same record
    // set — the hash match IS the identity proof composed ≡ direct
    // (exact because the match rule and every blocking key are
    // group-constant, and identical records always score exactly at
    // threshold). Under R× replication the direct pipeline's match
    // list grows R² while the representative space stays constant —
    // the only ER spelling that survives a duplicate-heavy decade
    // (measured in SCALE100_r15).
    Q("q206_er_dedup_first",
      erResolveSqlOver(
        """(SELECT p_partkey, p_brand, p_name, p_type, p_size FROM part
          |      UNION ALL
          |      SELECT p_partkey + (SELECT max(p_partkey) + 1 FROM part),
          |             p_brand, p_name, p_type, p_size
          |      FROM part WHERE p_partkey % 3 = 0) rep_src""".stripMargin)) { (s, d) =>
      import graft.analytics.EntityResolution
      val p = Tables.part(s, d).select(col("p_partkey"), col("p_brand"),
        col("p_name"), col("p_type"), col("p_size"))
      val mx = p.agg(max(col("p_partkey"))).head.getLong(0) + 1
      val records = p.unionByName(p.filter(col("p_partkey") % 3 === 0)
        .withColumn("p_partkey", col("p_partkey") + mx))
      val total = records.count()
      val reps = records
        .dropDuplicates("p_name", "p_brand", "p_type", "p_size").count()
      require(reps < total,
        s"fixture: the replica must create exact-duplicate groups " +
          s"($reps reps of $total records)")
      EntityResolution.resolveDeduped(records).orderBy("p_partkey")
    },

    // ---------------------------------------------------------------- q197
    // CHANGE DATA FEED, reconstructed — row-level +insert/-delete per
    // commit derived from the log + immutable data files alone (no
    // writer-side change files; Delta CDF's consumer contract for the
    // verbs this log can recover after the fact): two appends are
    // pure inserts, the delete's removed rows are the O(touched
    // files) multiset diff old-touched ∖ new, and the interleaved
    // COMPACT must contribute ZERO changes (layout-only — the runner
    // requires the version gap). A row inserted AND deleted in the
    // range appears twice, once per change — the CDC contract; the
    // oracle rebuilds all three change sets from documents.
    Q("q197_table_changes",
      """SELECT doc_id, source, 'insert' AS _change_type,
        |  CAST(CASE WHEN doc_id < (SELECT count(*) // 2 FROM documents)
        |       THEN 1 ELSE 2 END AS BIGINT) AS _commit_version
        |FROM documents
        |UNION ALL
        |SELECT doc_id, source, 'delete', CAST(4 AS BIGINT)
        |FROM documents WHERE doc_id % 7 = 0
        |ORDER BY _commit_version, _change_type, doc_id""".stripMargin) { (s, d) =>
      import graft.sinks.TableLog
      val docs = Tables.documents(s, d).select(col("doc_id"), col("source"))
      val c = docs.count() / 2
      val table = Scratch.fresh("graft-q197").toString
      TableLog.append(docs.filter(col("doc_id") < c), table)      // v1
      TableLog.append(docs.filter(col("doc_id") >= c), table)     // v2
      TableLog.compact(s, table, numFiles = 2)                    // v3: 0 changes
      TableLog.delete(s, table, col("doc_id") % 7 === 0)          // v4
      val ch = TableLog.readChanges(s, table, 0L)
      require(TableLog.headVersion(s, table) == 4L, "fixture: 4 versions")
      ch.orderBy("_commit_version", "_change_type", "doc_id")
    },

    // ---------------------------------------------------------------- q196
    // METADATA-ONLY TABLE AGGREGATES — COUNT/MIN/MAX/null-count per
    // column answered from the manifest's committed footer stats
    // alone (the Delta/Iceberg SELECT-COUNT(*) metadata optimization
    // as a verb): at 10⁵ files this is a manifest read vs a 100 TB
    // scan. The runner REQUIRES zero data-file I/O — the result is a
    // LocalRelation with no input files — and the gate hashes the
    // VALUES against DuckDB's full recompute over documents, proving
    // the commit-time footer harvest is exact (min/max are real row
    // values decoded whole, counts summed at commit). text is
    // excluded by the operator's own honesty rule (no stats ⇒
    // omitted), so the served columns are doc_id/lang/source.
    Q("q196_table_stats_agg",
      """SELECT * FROM (
        |  SELECT 'doc_id' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(min(doc_id) AS VARCHAR) AS min_v,
        |    CAST(max(doc_id) AS VARCHAR) AS max_v,
        |    CAST(0 AS BIGINT) AS n_nulls FROM documents
        |  UNION ALL
        |  SELECT 'lang', CAST(count(*) AS BIGINT), min(lang), max(lang),
        |    CAST(0 AS BIGINT) FROM documents
        |  UNION ALL
        |  SELECT 'source', CAST(count(*) AS BIGINT), min(source), max(source),
        |    CAST(0 AS BIGINT) FROM documents)
        |ORDER BY col_name""".stripMargin) { (s, d) =>
      import graft.sinks.TableLog
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("source"))
      val table = Scratch.fresh("graft-q196").toString
      (0 until 3).foreach(k => TableLog.append(
        docs.filter(pmod(col("doc_id"), lit(3L)) === k), table))
      val agg = TableLog.statsSummary(s, table)
      require(agg.inputFiles.isEmpty,
        "statsSummary must answer from the manifest alone (zero data files)")
      agg.select(col("column").as("col_name"), col("n_rows"),
          col("min_v"), col("max_v"), col("n_nulls"))
        .orderBy("col_name")
    },

    // ---------------------------------------------------------------- q187
    // TableLog INCREMENTAL READ — the nightly/streaming consumer
    // contract (Delta-as-a-streaming-source semantics): rows appended
    // in (since, to] read from ONLY the files those commits added, so
    // a downstream consumer (indexer, dedup probe, replication)
    // prices each cycle at the DELTA, never the corpus — the read
    // face of the O(Δ) store lifecycle every family's nightly
    // documents (q97/q102/q117/q149). Three appends partition the
    // corpus by doc_id mod 3; arm 'd12' consumes exactly commit 2's
    // rows (bounded upper version), arm 'd13' consumes everything
    // after v1. The runner REQUIRES each delta scan to touch exactly
    // the appended files (O(Δ) is self-enforcing, the q183
    // convention); non-append commits in a range throw — spec-pinned
    // (TableLogSpec), since a thrown gate can't hash.
    Q("q187_table_incremental_read",
      """SELECT doc_id, source, 'd12' AS arm FROM documents WHERE doc_id % 3 = 1
        |UNION ALL
        |SELECT doc_id, source, 'd13' AS arm FROM documents WHERE doc_id % 3 <> 0
        |ORDER BY arm, doc_id""".stripMargin) { (s, d) =>
      import graft.sinks.TableLog
      val docs = Tables.documents(s, d).select(col("doc_id"), col("source"))
      val table = Scratch.fresh("graft-q187-table").toString
      val v1 = TableLog.append(docs.filter(col("doc_id") % 3 === 0), table)
      val v2 = TableLog.append(docs.filter(col("doc_id") % 3 === 1), table)
      val v3 = TableLog.append(docs.filter(col("doc_id") % 3 === 2), table)
      def newFiles(from: Long, to: Long): Int =
        TableLog.manifest(s, table, Some(to)).files.length -
          TableLog.manifest(s, table, Some(from)).files.length
      val d12 = TableLog.readAppendsSince(s, table, v1, Some(v2))
      require(d12.inputFiles.length == newFiles(v1, v2),
        s"delta (v1,v2] must scan only commit 2's files " +
          s"(${d12.inputFiles.length} vs ${newFiles(v1, v2)})")
      val d13 = TableLog.readAppendsSince(s, table, v1)
      require(d13.inputFiles.length == newFiles(v1, v3),
        s"delta (v1,head] must scan only commits 2+3's files " +
          s"(${d13.inputFiles.length} vs ${newFiles(v1, v3)})")
      d12.select(col("doc_id"), col("source"), lit("d12").as("arm"))
        .unionByName(d13.select(col("doc_id"), col("source"), lit("d13").as("arm")))
        .orderBy("arm", "doc_id")
    },

    // ---------------------------------------------------------------- q186
    // URL curation — the STAGE-0 pass of a web-scale pipeline
    // (CCNet/RefinedWeb: URL canonicalization + URL-level dedup +
    // per-domain caps run before any text is fetched or shingled,
    // because a canonical-URL match is free while a text comparison
    // costs a fetch). Raw crawl URLs are synthesized deterministically
    // per doc (scheme/host case mix, www. prefixes, userinfo with a
    // NUMERIC password — the strip-as-port hazard the round-13
    // advisor named — bracketed IPv6 hosts, default and
    // non-default ports, trailing slashes, utm_* tracking params,
    // fragments — the real crawl-dup channels); UrlOps.canonicalizeUrl
    // normalizes them with codegen'd regex built-ins, urlCurate elects
    // the min-id keeper per canonical URL (one partial-agged groupBy)
    // and caps keepers per domain at 10 in (sha-bucket, id) order (the
    // engine-wide stable-sample key). The collision channel is real:
    // ?utm_source=feed&id=N and ?id=N&utm_campaign=rel canonicalize to
    // the same ?id=N. Oracle rebuilds generation + every
    // canonicalization step + dedup + cap as CTEs.
    Q("q186_url_curation", {
      val bucket = TextQueries.hexValSql("CAST(doc_id AS VARCHAR)", 1, 3)
      """WITH u AS (SELECT doc_id,
        |  (CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'HTTP' END) || '://'
        |  || (CASE WHEN doc_id % 11 = 0
        |           THEN 'u' || CAST(doc_id % 3 AS VARCHAR) || ':9@'
        |           ELSE '' END)
        |  || (CASE WHEN doc_id % 13 = 0
        |           THEN '[2001:DB8::' || CAST(doc_id % 4 AS VARCHAR) || ']'
        |           ELSE (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END)
        |                || (CASE WHEN doc_id % 5 = 0 THEN upper('cdn-' || source)
        |                         ELSE 'cdn-' || source END)
        |                || '.example.com' END)
        |  || (CASE WHEN doc_id % 9 < 3 THEN
        |             (CASE WHEN doc_id % 2 = 0 THEN ':443' ELSE ':80' END)
        |           WHEN doc_id % 9 = 3 THEN ':8080' ELSE '' END)
        |  || '/' || lang || '/doc/' || CAST(doc_id % 200 AS VARCHAR)
        |  || (CASE WHEN doc_id % 6 = 0 THEN '/' ELSE '' END)
        |  || (CASE WHEN doc_id % 3 = 1
        |             THEN '?utm_source=feed&id=' || CAST(doc_id % 50 AS VARCHAR)
        |           WHEN doc_id % 3 = 2
        |             THEN '?id=' || CAST(doc_id % 50 AS VARCHAR) || '&utm_campaign=rel'
        |           ELSE '' END)
        |  || (CASE WHEN doc_id % 7 = 0 THEN '#s2' ELSE '' END) AS raw
        |FROM documents),
        |p0 AS (SELECT doc_id, raw,
        |  lower(regexp_extract(raw, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        |  regexp_replace(raw, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest FROM u),
        |p1 AS (SELECT *, regexp_extract(rest, '^([^/?#]*)', 1) AS hostport,
        |  substr(rest, length(regexp_extract(rest, '^([^/?#]*)', 1)) + 1) AS tail
        |FROM p0),
        |p1a AS (SELECT *, regexp_replace(hostport, '^[^@]*@', '') AS auth
        |FROM p1),
        |p2 AS (SELECT *,
        |  regexp_replace(lower(regexp_replace(auth, ':[0-9]+$', '')),
        |                 '^www\.', '') AS host,
        |  regexp_extract(auth, ':([0-9]+)$', 1) AS port FROM p1a),
        |p3 AS (SELECT *,
        |  CASE WHEN port = '' OR (scheme = 'http' AND port = '80')
        |         OR (scheme = 'https' AND port = '443') THEN ''
        |       ELSE ':' || port END AS portpart,
        |  CASE WHEN regexp_extract(tail, '^([^?#]*)', 1) = '' THEN '/'
        |       ELSE regexp_replace(regexp_extract(tail, '^([^?#]*)', 1),
        |                           '(.)/$', '\1') END AS path,
        |  regexp_replace(regexp_replace(regexp_replace(
        |    regexp_extract(tail, '\?([^#]*)', 1),
        |    '(^|&)utm_[^&]*', '\1', 'g'), '&&+', '&', 'g'), '^&|&$', '', 'g') AS q
        |FROM p2),
        |c AS (SELECT doc_id, host AS domain,
        |  scheme || '://' || host || portpart || path
        |    || (CASE WHEN q = '' THEN '' ELSE '?' || q END) AS canon FROM p3),
        |k AS (SELECT canon, min(doc_id) AS keeper_id FROM c GROUP BY 1),
        |f AS (SELECT c.doc_id, c.canon, c.domain,
        |  c.doc_id = k.keeper_id AS is_keeper
        |FROM c JOIN k ON c.canon = k.canon),
        |r AS (SELECT doc_id, row_number() OVER (
        |    PARTITION BY domain ORDER BY bucket, doc_id) AS rk
        |  FROM (SELECT doc_id, domain,
        |          """.stripMargin + bucket + """ AS bucket
        |        FROM f WHERE is_keeper))
        |SELECT f.doc_id, f.canon, f.domain, f.is_keeper,
        |  (f.is_keeper AND r.rk <= 10) AS kept
        |FROM f LEFT JOIN r ON f.doc_id = r.doc_id
        |ORDER BY f.doc_id""".stripMargin
    }) { (s, d) =>
      import graft.ops.UrlOps
      def m(k: Int) = pmod(col("doc_id"), lit(k.toLong))
      val raw = concat(
        when(m(2) === 0, lit("https")).otherwise(lit("HTTP")), lit("://"),
        when(m(11) === 0, concat(lit("u"), m(3).cast("string"), lit(":9@")))
          .otherwise(lit("")),
        when(m(13) === 0,
            concat(lit("[2001:DB8::"), m(4).cast("string"), lit("]")))
          .otherwise(concat(
            when(m(3) === 0, lit("WWW.")).otherwise(lit("")),
            when(m(5) === 0, upper(concat(lit("cdn-"), col("source"))))
              .otherwise(concat(lit("cdn-"), col("source"))),
            lit(".example.com"))),
        when(m(9) < 3, when(m(2) === 0, lit(":443")).otherwise(lit(":80")))
          .when(m(9) === 3, lit(":8080")).otherwise(lit("")),
        lit("/"), col("lang"), lit("/doc/"), m(200).cast("string"),
        when(m(6) === 0, lit("/")).otherwise(lit("")),
        when(m(3) === 1, concat(lit("?utm_source=feed&id="), m(50).cast("string")))
          .when(m(3) === 2,
            concat(lit("?id="), m(50).cast("string"), lit("&utm_campaign=rel")))
          .otherwise(lit("")),
        when(m(7) === 0, lit("#s2")).otherwise(lit("")))
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), raw.as("url"))
      UrlOps.urlCurate(docs, "url", "doc_id", cap = 10).orderBy("doc_id")
    },

    // ---------------------------------------------------------------- q211
    // TABLE CHECK CONSTRAINTS end-to-end (the q200-family runner
    // contract on the round-15 invariants feature): build the table
    // in two appends around an ADD CONSTRAINT, with the runner
    // REQUIRING the whole enforcement story on the way — a violating
    // batch refuses naming the guilty constraint (and commits
    // NOTHING: the head version is unchanged), a constraint the
    // existing data violates refuses at add time, the set survives
    // the second append and an OPTIMIZE, and DESCRIBE DETAIL counts
    // it. Output = the final table ≡ plain documents (the violating
    // batch must have left no trace).
    Q("q211_table_constraints",
      """SELECT doc_id, source, n_chars FROM documents
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      import graft.sinks.TableLog
      val docs = Tables.documents(s, d).select(col("doc_id"), col("source"),
        col("n_chars"))
      val cnt = docs.count()
      val table = Scratch.fresh("graft-q211").toString
      TableLog.append(docs.filter(col("doc_id") % 2 === 0), table)      // v1
      TableLog.addConstraint(s, table, "n_chars_pos", "n_chars > 0")    // v2
      val vPre = TableLog.headVersion(s, table)
      val bad = docs.limit(1).select((col("doc_id") + cnt).as("doc_id"),
        col("source"), lit(-5L).as("n_chars"))
      val refused =
        try { TableLog.append(bad, table); false }
        catch { case e: IllegalArgumentException =>
          e.getMessage.contains("n_chars_pos") }
      require(refused, "a violating append must refuse naming the constraint")
      require(TableLog.headVersion(s, table) == vPre,
        "a refused append must commit NOTHING")
      val addRefused =
        try { TableLog.addConstraint(s, table, "id_small", "doc_id < 10"); false }
        catch { case e: IllegalArgumentException => e.getMessage.contains("id_small") }
      require(addRefused, "existing data violating a new constraint must refuse the add")
      TableLog.append(docs.filter(col("doc_id") % 2 =!= 0), table)      // v3
      TableLog.compact(s, table, 2)                                     // v4
      require(TableLog.constraintsOf(s, table) ==
        Map("n_chars_pos" -> "n_chars > 0"),
        "the set must survive append + OPTIMIZE")
      require(TableLog.detail(s, table).head
        .getAs[Long]("n_constraints") == 1L, "DESCRIBE DETAIL count")
      TableLog.read(s, table).orderBy("doc_id")
    }
  )
}
