package graft.queries

import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Event-analytics suite over the events stream table: gap-filled
  * time series, funnel conversion, cohort retention — the product-
  * analytics queries an events pipeline serves. All joins are
  * equi-keyed (user_id / hour), so every plan is hash-join shaped;
  * the generated hour spine derives its bounds from the data, not
  * constants.
  */
object EventQueries {

  /** q207's oracle — ALSO q209's: the incremental assembly's identity
    * under test is "store ∪ delta rebuild ≡ full recompute", so both
    * gates verify against this one full-recompute SQL (the
    * q97/q117/q149 convention). */
  private lazy val sftConvoSql: String =
    """WITH o AS (
      |  SELECT user_id, event_id, ts, event_type,
      |    epoch_us(ts) - lag(epoch_us(ts)) OVER
      |      (PARTITION BY user_id ORDER BY ts, event_id) AS gap
      |  FROM events),
      |s AS (
      |  SELECT *, CAST(sum(CASE WHEN gap IS NULL OR gap > 1800000000 THEN 1 ELSE 0 END)
      |    OVER (PARTITION BY user_id ORDER BY ts, event_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      |  FROM o),
      |t AS (
      |  SELECT user_id, session_id, ts, event_id,
      |    (CASE WHEN list_contains(['click', 'view', 'signup'], event_type)
      |          THEN 'user' ELSE 'assistant' END) || ': ' || event_type AS turn
      |  FROM s),
      |c AS (
      |  SELECT user_id, session_id, count(*) AS n_turns,
      |    sha256(string_agg(turn, chr(10) ORDER BY ts, event_id)) AS fp
      |  FROM t GROUP BY user_id, session_id)
      |SELECT user_id, session_id, n_turns, fp,
      |  CAST(CASE WHEN row_number() OVER (PARTITION BY fp
      |    ORDER BY user_id, session_id) = 1 THEN 1 ELSE 0 END AS BIGINT) AS is_keeper
      |FROM c ORDER BY user_id, session_id""".stripMargin

  /** The q209 "nightly" split: the delta is the LAST fifth of the
    * timeline restricted to user_id % 7 == 0 (only some users were
    * active tonight — so untouched users exist and their rows must
    * CARRY). Cut point derives from the data (one model-sized agg). */
  private def deltaCutUs(s: org.apache.spark.sql.SparkSession, d: String): Long = {
    val b = Tables.events(s, d)
      .agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts")))).head
    b.getLong(0) + (b.getLong(1) - b.getLong(0)) / 5L * 4L
  }

  private def isDelta(cut: Long): org.apache.spark.sql.Column =
    unix_micros(col("ts")) >= cut && col("user_id") % 7 === 0

  /** Build-once-serve-on-repeat conversation store
    * (Scratch.storeMemo): the persisted q207 output over everything
    * EXCEPT the delta. */
  private val convoStoreTable = Scratch.storeMemo("graft-q209-store-") {
    (s, d, tbl) =>
      val cut = deltaCutUs(s, d)
      val preDelta = Tables.events(s, d).filter(!isDelta(cut))
      graft.sinks.TableLog.append(
        graft.analytics.Assembly.conversations(preDelta)
          .select("user_id", "session_id", "n_turns", "fp"), tbl)
      tbl
  }

  val queries: Seq[Q] = Seq(

    // ---------------------------------------------------------------- q72
    // Gap-filled hourly series: hours with zero purchases appear with
    // n = 0. The hour spine is generated from the aggregate's own
    // min/max (sequence + explode), then left-joined — the standard
    // densification step before charting/forecasting.
    Q("q72_gapfill",
      """WITH agg AS (SELECT date_trunc('hour', ts) AS h, count(*) AS n
        |            FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |b AS (SELECT min(h) AS lo, max(h) AS hi FROM agg),
        |hours AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h FROM b)
        |SELECT epoch_us(hours.h) AS h_us, CAST(coalesce(n, 0) AS BIGINT) AS n
        |FROM hours LEFT JOIN agg ON hours.h = agg.h
        |ORDER BY h_us""".stripMargin) { (s, d) =>
      val agg = Tables.events(s, d)
        .filter(col("event_type") === "purchase")
        .groupBy(date_trunc("hour", col("ts")).as("h"))
        .agg(count(lit(1)).as("n"))
      val hours = agg.agg(min(col("h")).as("lo"), max(col("h")).as("hi"))
        .select(explode(sequence(col("lo"), col("hi"), expr("INTERVAL 1 HOUR"))).as("h"))
      hours.join(agg, Seq("h"), "left")
        .select(unix_micros(col("h")).as("h_us"),
          coalesce(col("n"), lit(0L)).as("n"))
        .orderBy("h_us")
    },

    // ---------------------------------------------------------------- q73
    // Funnel: per first-click day, how many users purchased within an
    // hour of their first click. The purchase probe is an equi-join on
    // user_id with a time-range residual — hash join, no inequality
    // explosion.
    Q("q73_funnel",
      """WITH fc AS (SELECT user_id, min(ts) AS t0 FROM events
        |            WHERE event_type = 'click' GROUP BY 1),
        |conv AS (SELECT fc.user_id, min(p.ts) AS tp
        |         FROM fc JOIN events p ON p.user_id = fc.user_id
        |           AND p.event_type = 'purchase'
        |           AND p.ts >= t0 AND p.ts <= t0 + INTERVAL 1 HOUR
        |         GROUP BY 1)
        |SELECT strftime(date_trunc('day', t0), '%Y-%m-%d') AS day,
        |  CAST(count(*) AS BIGINT) AS n_users,
        |  CAST(count(tp) AS BIGINT) AS n_converted
        |FROM fc LEFT JOIN conv ON fc.user_id = conv.user_id
        |GROUP BY 1 ORDER BY day""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
      val fc = ev.filter(col("event_type") === "click")
        .groupBy(col("user_id")).agg(min(col("ts")).as("t0"))
      val conv = fc.join(
          ev.filter(col("event_type") === "purchase")
            .select(col("user_id"), col("ts").as("pts")), Seq("user_id"))
        .filter(col("pts") >= col("t0") &&
          col("pts") <= col("t0") + expr("INTERVAL 1 HOUR"))
        .groupBy(col("user_id")).agg(min(col("pts")).as("tp"))
      fc.join(conv, Seq("user_id"), "left")
        .groupBy(date_format(date_trunc("day", col("t0")), "yyyy-MM-dd").as("day"))
        .agg(count(lit(1)).as("n_users"), count(col("tp")).as("n_converted"))
        .orderBy("day")
    },

    // ---------------------------------------------------------------- q74
    // Cohort retention: users grouped by first-seen day; how many
    // return exactly 1 and 7 days later. One distinct activity frame
    // joined back on user_id.
    Q("q74_retention",
      """WITH f AS (SELECT user_id, date_trunc('day', min(ts)) AS d0 FROM events GROUP BY 1),
        |act AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS d FROM events)
        |SELECT strftime(d0, '%Y-%m-%d') AS cohort,
        |  CAST(count(DISTINCT f.user_id) AS BIGINT) AS n_users,
        |  CAST(count(DISTINCT CASE WHEN a.d = d0 + INTERVAL 1 DAY THEN f.user_id END) AS BIGINT) AS d1,
        |  CAST(count(DISTINCT CASE WHEN a.d = d0 + INTERVAL 7 DAY THEN f.user_id END) AS BIGINT) AS d7
        |FROM f JOIN act a ON f.user_id = a.user_id
        |GROUP BY d0 ORDER BY cohort""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
      val f = ev.groupBy(col("user_id")).agg(date_trunc("day", min(col("ts"))).as("d0"))
      val act = ev.select(col("user_id"), date_trunc("day", col("ts")).as("d")).distinct()
      f.join(act, Seq("user_id"))
        .groupBy(date_format(col("d0"), "yyyy-MM-dd").as("cohort"))
        .agg(countDistinct(col("user_id")).as("n_users"),
          countDistinct(when(col("d") === col("d0") + expr("INTERVAL 1 DAY"), col("user_id"))).as("d1"),
          countDistinct(when(col("d") === col("d0") + expr("INTERVAL 7 DAY"), col("user_id"))).as("d7"))
        .orderBy("cohort")
    },

    // ---------------------------------------------------------------- q152
    // Rate-anomaly detection — the monitoring face of the event
    // pipeline: per event type, hourly counts vs the type's own
    // month-long distribution; flag hours above mean + 3σ and report
    // the z-score. Every statistic is exact-component (integer sums
    // through DECIMAL — Exact.dstddev/davg; sqrt is the one allowed
    // IEEE-exact transcendental), so the flag boundary and the
    // rounded z agree across engines. Corpus is touched ONCE (the
    // hourly partial-agg groupBy); the per-type stats frame is 5 rows
    // and broadcasts back onto the hourly frame — at 100 TB this is
    // the classic two-stage rollup whose second stage is free.
    Q("q152_rate_anomaly",
      """WITH h AS (SELECT event_type,
        |    strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1, 2),
        |st AS (SELECT event_type,
        |    CAST(sum(CAST(cnt AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS mean,
        |    sqrt((CAST(sum(CAST(cnt AS DECIMAL(18,2)) * CAST(cnt AS DECIMAL(18,2))) AS DOUBLE)
        |          - CAST(sum(CAST(cnt AS DECIMAL(18,2))) AS DOUBLE)
        |            * CAST(sum(CAST(cnt AS DECIMAL(18,2))) AS DOUBLE) / count(*))
        |         / (count(*) - 1)) AS sd
        |  FROM h GROUP BY 1)
        |SELECT h.event_type, h.hour, h.cnt,
        |  round(CASE WHEN sd <> 0
        |    THEN (CAST(cnt AS DOUBLE) - mean) / sd END, 4) AS z
        |FROM h JOIN st ON st.event_type = h.event_type
        |WHERE CAST(cnt AS DOUBLE) > mean + 3.0 * sd
        |ORDER BY h.event_type, h.hour""".stripMargin) { (s, d) =>
      val h = Tables.events(s, d)
        .groupBy(col("event_type"),
          date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("hour"))
        .agg(count(lit(1)).as("cnt"))
      val st = h.groupBy(col("event_type")).agg(
        graft.ops.Exact.davg(col("cnt").cast("double")).as("mean"),
        graft.ops.Exact.dstddev(col("cnt").cast("double")).as("sd"))
      h.join(broadcast(st), Seq("event_type"))
        .filter(col("cnt").cast("double") > col("mean") + lit(3.0) * col("sd"))
        .select(col("event_type"), col("hour"), col("cnt"),
          graft.ops.Exact.duckRound(
            when(col("sd") =!= 0,
              (col("cnt").cast("double") - col("mean")) / col("sd")), 4).as("z"))
        .orderBy("event_type", "hour")
    },

    // ---------------------------------------------------------------- q207
    // SFT conversation assembly: the event log rendered into ordered
    // multi-turn conversations (sessionize at the q22 gap → role-
    // template turns → in-agg ordered fold → sha-256 fingerprint →
    // conversation-level exact dedup electing one keeper per
    // fingerprint). The step between a product's raw event stream and
    // an instruction-tuning corpus; the fold carries template-sized
    // turn structs only, never the raw event row, and the only sort
    // is sessionization's inherent per-user window.
    Q("q207_sft_conversations", sftConvoSql) { (s, d) =>
      graft.analytics.Assembly.conversations(Tables.events(s, d))
        .orderBy("user_id", "session_id")
    },

    // ---------------------------------------------------------------- q209
    // INCREMENTAL conversation assembly — q207's O(Δ) nightly face
    // (the q97/q117 store contract on the assembly stage):
    // conversations are user-decomposable, so the composed spelling
    // reads the persisted store, carries every untouched user's rows
    // BY IDENTITY (anti-join against the delta's user set), rebuilds
    // ONLY the touched users from their own history (a key-pruned
    // read at corpus scale), and re-elects keepers over the
    // sessions-sized merged frame. Oracle = q207's full recompute:
    // the identity IS the property under test. Runner REQUIRES the
    // split to be non-vacuous both ways (carried users exist AND a
    // pre-delta conversation of a touched user is actually replaced).
    Q("q209_sft_incremental", sftConvoSql) { (s, d) =>
      import graft.analytics.Assembly
      val ev = Tables.events(s, d)
      val store = graft.sinks.TableLog.read(s, convoStoreTable(s, d))
      val cut = deltaCutUs(s, d)
      val deltaUsers = ev.filter(isDelta(cut)).select("user_id").distinct()
      val touched = ev.join(broadcast(deltaUsers), Seq("user_id"), "left_semi")
      val nTouchedInStore = store
        .join(broadcast(deltaUsers), Seq("user_id"), "left_semi").count()
      require(nTouchedInStore > 0,
        "vacuous split: no touched user has pre-delta conversations to replace")
      require(store.join(broadcast(deltaUsers), Seq("user_id"), "left_anti")
          .limit(1).count() == 1,
        "vacuous split: every user touched — nothing exercises the carry path")
      Assembly.conversationsIncremental(store, touched)
        .orderBy("user_id", "session_id")
    }
  )
}
