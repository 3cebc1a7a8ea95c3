package graft.queries

import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.analytics.TextAnalysis
import graft.analytics.TextAnalysis._

/** Text-analysis operator inventory over `documents` (SURVEY.md §7.4
  * north-star). Oracle SQL mirrors the column expressions exactly —
  * same operation order, doubles only (no transcendentals), sha-256
  * for anything hashed.
  */
object TextQueries {

  private def vocabSql(vocab: Seq[String]): String =
    vocab.mkString("['", "', '", "']")

  /** q149's stored inverted index as a DURABLE TableLog table +
    * the ingested batch's (nDocs, nTokens) — built and committed ONCE
    * per dir (Scratch.storeMemo): v1 = `append` of the 80% batch's
    * postings; measured runs read the PINNED v1 from parquet — the
    * term-partitioned-store-served plan, replacing the
    * round-11-flagged eager localCheckpoint stand-in (a corpus-sized
    * block-manager write inside the measured path). Lifecycle
    * (append/compact/crash/race) is spec'd on the q97 store —
    * AnalyticsSpec — one mechanism, one proof. */
  private val bm25IndexStore = Scratch.storeMemo("graft-q149-index-") {
    (s, d, tbl) =>
      val ingested = Tables.documents(s, d).filter(col("doc_id") % 5 =!= 0)
      // TERM-partitioned layout: range-partition the postings by term
      // before the commit so each data file's footer stats carry a
      // tight term range — TableLog.readWhere(term IN query-vocab)
      // then prunes whole FILES at the manifest (the round-12
      // data-skipping path), and parquet row-group pruning still
      // applies inside the survivors. This is the literal
      // "term-partitioned store read" the r11 verdict asked q149's
      // gate to measure.
      val v1 = graft.sinks.TableLog.append(
        graft.analytics.Retrieval.buildIndex(ingested)
          .repartitionByRange(16, col("term"))
          .sortWithinPartitions("term"), tbl)
      val (n1, t1) = graft.analytics.Retrieval.corpusTokenStats(ingested)
      (tbl, v1, n1, t1)
  }

  /** DuckDB spelling of "integer value of sha-256 hex chars
    * [start, start+len)" — the portable hash-bucket idiom (DuckDB 1.0
    * has no conv()). */
  private[queries] def hexValSql(arg: String, start: Int, len: Int): String =
    (0 until len).map { k =>
      val mult = math.pow(16, len - 1 - k).toLong
      s"CAST(strpos('0123456789abcdef', substr(sha256($arg), ${start + k}, 1)) - 1 AS BIGINT)" +
        (if (mult > 1) s" * $mult" else "")
    }.mkString("\n    + ")

  /** Shared BPE-training CTE chain (q138 trains, q140 applies): word
    * dictionary -> char segmentation -> 3 unrolled rounds of
    * pair-count / top-1 / merge. Ends at t3 (round-3 winner) and s2
    * (segmentation before it); consumers add their own tail. */
  private val bpeCtes =
    """WITH w AS (SELECT word, count(*) AS freq FROM (
      |    SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      |  WHERE word <> '' GROUP BY 1),
      |s0 AS (SELECT word, freq, trim(regexp_replace(word, '(.)', '\1 ', 'g')) AS seg FROM w),
      |p1 AS (SELECT ts[i] || ' ' || ts[i+1] AS pair, sum(freq) AS cnt FROM (
      |    SELECT freq, ts, unnest(generate_series(1, greatest(len(ts) - 1, 0))) AS i
      |    FROM (SELECT freq, string_split(seg, ' ') AS ts FROM s0)) GROUP BY 1),
      |t1 AS (SELECT pair, cnt FROM (
      |    SELECT pair, cnt, row_number() OVER (ORDER BY cnt DESC, pair ASC) AS rn FROM p1)
      |  WHERE rn = 1),
      |s1 AS (SELECT word, freq, trim(replace(' ' || seg || ' ',
      |         ' ' || t1.pair || ' ', ' ' || replace(t1.pair, ' ', '') || ' ')) AS seg
      |       FROM s0, t1),
      |p2 AS (SELECT ts[i] || ' ' || ts[i+1] AS pair, sum(freq) AS cnt FROM (
      |    SELECT freq, ts, unnest(generate_series(1, greatest(len(ts) - 1, 0))) AS i
      |    FROM (SELECT freq, string_split(seg, ' ') AS ts FROM s1)) GROUP BY 1),
      |t2 AS (SELECT pair, cnt FROM (
      |    SELECT pair, cnt, row_number() OVER (ORDER BY cnt DESC, pair ASC) AS rn FROM p2)
      |  WHERE rn = 1),
      |s2 AS (SELECT word, freq, trim(replace(' ' || seg || ' ',
      |         ' ' || t2.pair || ' ', ' ' || replace(t2.pair, ' ', '') || ' ')) AS seg
      |       FROM s1, t2),
      |p3 AS (SELECT ts[i] || ' ' || ts[i+1] AS pair, sum(freq) AS cnt FROM (
      |    SELECT freq, ts, unnest(generate_series(1, greatest(len(ts) - 1, 0))) AS i
      |    FROM (SELECT freq, string_split(seg, ' ') AS ts FROM s2)) GROUP BY 1),
      |t3 AS (SELECT pair, cnt FROM (
      |    SELECT pair, cnt, row_number() OVER (ORDER BY cnt DESC, pair ASC) AS rn FROM p3)
      |  WHERE rn = 1)""".stripMargin

  /** The corpus word-frequency dictionary both BPE queries train on. */
  private def bpeWords(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))

  /** The q26 quality score as a standalone CTE `qual(doc_id, quality)`
    * over `documents` — the single spelling q26 verifies and q147's
    * canonical-keeper policy reuses (one definition, so the two
    * oracles cannot drift). Mirrors TextAnalysis.qualityScore. */
  private[queries] lazy val qualityCteSql: String =
    s"""qual AS (SELECT doc_id,
       |  round(0.3 * least(1.0, nt / 100.0)
       |      + 0.2 * (1.0 - dg / greatest(nc, 1.0))
       |      + 0.3 * least(1.0, st / greatest(nt, 1.0) * 5.0)
       |      + 0.2 * least(1.0, nc / greatest(nt, 1.0) / 8.0), 6) AS quality
       |  FROM (SELECT doc_id,
       |    CAST(length(text) AS DOUBLE) AS nc,
       |    CAST(len(string_split(text, ' ')) AS DOUBLE) AS nt,
       |    CAST(${charCountSql("[0-9]")} AS DOUBLE) AS dg,
       |    CAST(${hitsSql(EN_MARKERS)} AS DOUBLE) AS st
       |  FROM documents))""".stripMargin

  /** The fixed retrieval workload q146 scores: (query_id, term) —
    * three 3-term keyword queries over the corpus vocabulary.
    * Declared before `queries` (object init order: the SQL strings
    * below read it eagerly). */
  private val BM25_QUERIES: Seq[(Long, String)] = Seq(
    1L -> "spark", 1L -> "join", 1L -> "hash",
    2L -> "customer", 2L -> "order", 2L -> "query",
    3L -> "vector", 3L -> "stream", 3L -> "scan")

  /** DuckDB mirror of TextAnalysis.vocabHits. */
  private def hitsSql(vocab: Seq[String]): String =
    s"len(list_filter(string_split(text, ' '), w -> list_contains(${vocabSql(vocab)}, w)))"

  private def charCountSql(pattern: String): String =
    s"length(text) - length(regexp_replace(text, '$pattern', '', 'g'))"

  /** Shared SQL spelling of the q132 battery INPUTS (CTE `f`) — the
    * DuckDB mirror of the fused TextStats pass. q132, q155 and q165
    * read this one string so the stat definitions cannot drift
    * between consumers (the qualityBattery single-spelling rule
    * applied to the oracle side). */
  private[queries] lazy val batteryInputCte: String =
    s"""f AS (SELECT doc_id,
       |  CAST(len(string_split(text, ' ')) AS BIGINT) AS nt,
       |  CAST(length(text) AS BIGINT) AS nc,
       |  CAST(${charCountSql("[0-9]")} AS BIGINT) AS dg,
       |  CAST(${hitsSql(EN_MARKERS)} AS BIGINT) AS st,
       |  CAST(length(replace(text, ' ', '')) AS BIGINT) AS wc
       |FROM documents)""".stripMargin

  /** `f` + the conjunctive keep set `qb` (q132's battery verdict as
    * a filter). */
  private[queries] lazy val batteryCtes: String =
    s"""$batteryInputCte,
       |qb AS (SELECT doc_id FROM f
       |  WHERE nt BETWEEN 30 AND 10000 AND 3 * nt <= wc AND 2 * wc <= 9 * nt
       |    AND 10 * dg <= nc AND st >= 2)""".stripMargin

  val queries: Seq[Q] = Seq(

    // ---------------------------------------------------------------- q24
    // Token counting: the whitespace tokenizer + surface stats.
    Q("q24_token_stats",
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |  CAST(length(text) AS BIGINT) AS n_chars,
        |  round(CAST(length(replace(text, ' ', '')) AS DOUBLE)
        |        / CAST(len(string_split(text, ' ')) AS DOUBLE), 6) AS avg_token_len
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(
          col("doc_id"),
          size(tokens(col("text"))).cast("long").as("n_tokens"),
          length(col("text")).cast("long").as("n_chars"),
          graft.ops.Exact.duckRound(length(translate(col("text"), " ", "")).cast("double")
                / size(tokens(col("text"))).cast("double"), 6).as("avg_token_len"))
        .orderBy("doc_id")
    },

    // ---------------------------------------------------------------- q25
    // Language ID: char-script ratios + marker-word vote.
    Q("q25_lang_id", {
      val ratio = (p: String) =>
        s"CAST(${charCountSql(p)} AS DOUBLE) / CAST(greatest(length(text), 1) AS DOUBLE)"
      s"""SELECT doc_id, lang,
         |  CASE WHEN ${ratio("[\\x{3040}-\\x{30ff}]")} > 0.05 THEN 'ja'
         |       WHEN ${ratio("[\\x{ac00}-\\x{d7a3}]")} > 0.3 THEN 'ko'
         |       WHEN ${ratio("[\\x{4e00}-\\x{9fff}]")} > 0.3 THEN 'zh'
         |       WHEN ${ratio("[\\x{0400}-\\x{04ff}]")} > 0.3 THEN 'ru'
         |       WHEN ${hitsSql(DE_MARKERS)} > ${hitsSql(EN_MARKERS)}
         |        AND ${hitsSql(DE_MARKERS)} >= ${hitsSql(FR_MARKERS)}
         |        AND ${hitsSql(DE_MARKERS)} >= ${hitsSql(ES_MARKERS)} THEN 'de'
         |       WHEN ${hitsSql(FR_MARKERS)} > ${hitsSql(EN_MARKERS)}
         |        AND ${hitsSql(FR_MARKERS)} >= ${hitsSql(ES_MARKERS)} THEN 'fr'
         |       WHEN ${hitsSql(ES_MARKERS)} > ${hitsSql(EN_MARKERS)} THEN 'es'
         |       ELSE 'en' END AS lang_pred
         |FROM documents ORDER BY doc_id""".stripMargin
    }) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), langId(col("text")).as("lang_pred"))
        .orderBy("doc_id")
    },

    // ---------------------------------------------------------------- q26
    // Quality scoring: rational-arithmetic surface heuristics.
    Q("q26_quality_score",
      s"""WITH $qualityCteSql
         |SELECT doc_id, quality FROM qual ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), TextAnalysis.qualityScore(col("text")).as("quality"))
        .orderBy("doc_id")
    },

    // ---------------------------------------------------------------- q27
    // Shingling stats: instances vs distinct 3-gram shingles.
    Q("q27_shingle_stats",
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |idx AS (SELECT doc_id, ws, unnest(generate_series(1, greatest(len(ws) - 2, 0))) AS i FROM w),
        |sh AS (SELECT DISTINCT doc_id, array_to_string(ws[i:i+2], ' ') AS s FROM idx),
        |c AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_distinct FROM sh GROUP BY doc_id)
        |SELECT w.doc_id, CAST(len(ws) AS BIGINT) AS n_tokens,
        |  CAST(greatest(len(ws) - 2, 0) AS BIGINT) AS n_shingles, c.n_distinct
        |FROM w JOIN c ON w.doc_id = c.doc_id
        |ORDER BY w.doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val stats = docs.select(
        col("doc_id"),
        size(tokens(col("text"))).cast("long").as("n_tokens"),
        greatest(size(tokens(col("text"))) - 2, lit(0)).cast("long").as("n_shingles"))
      val distinctCounts = shingleSet(docs, 3)
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_distinct"))
      stats.join(distinctCounts, Seq("doc_id"))
        .orderBy("doc_id")
    },

    // ---------------------------------------------------------------- q28
    // Document fingerprint + exact dedup groups (the groupBy-hash
    // dedup that replaces the reference's in-memory key set).
    Q("q28_fingerprint_dedup",
      """SELECT fp, min(doc_id) AS keep_id, count(*) AS n_docs FROM (
        |  SELECT doc_id,
        |    sha256(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |  FROM documents)
        |GROUP BY fp ORDER BY keep_id""".stripMargin) { (s, d) =>
      graft.analytics.DedupOps.exactGroups(Tables.documents(s, d))
        .orderBy("keep_id")
    },

    // ---------------------------------------------------------------- q63
    // Repetition signals (Gopher-style quality filters): fraction of
    // duplicated tokens and duplicated bigrams per document. Entirely
    // map-side — the distinct counts come from array_distinct on the
    // row's own token/bigram arrays, no explode, no shuffle.
    Q("q63_repetition_stats",
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |idx AS (SELECT doc_id, ws, unnest(generate_series(1, greatest(len(ws) - 1, 0))) AS i FROM w),
        |bg AS (SELECT doc_id, count(DISTINCT array_to_string(ws[i:i+1], ' ')) AS d2
        |       FROM idx GROUP BY doc_id)
        |SELECT w.doc_id,
        |  CAST(len(ws) AS BIGINT) AS n_tokens,
        |  round(1.0 - CAST(len(list_distinct(ws)) AS DOUBLE) / CAST(len(ws) AS DOUBLE), 6) AS tok_rep,
        |  round(1.0 - CAST(coalesce(d2, 0) AS DOUBLE) / CAST(greatest(len(ws) - 1, 1) AS DOUBLE), 6) AS bigram_rep
        |FROM w LEFT JOIN bg ON w.doc_id = bg.doc_id
        |ORDER BY w.doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), tokens(col("text")).as("ws"))
        .select(col("doc_id"),
          size(col("ws")).cast("long").as("n_tokens"),
          graft.ops.Exact.duckRound(lit(1.0)
            - size(array_distinct(col("ws"))).cast("double")
              / size(col("ws")).cast("double"), 6).as("tok_rep"),
          graft.ops.Exact.duckRound(lit(1.0)
            - size(array_distinct(shingles(col("ws"), 2))).cast("double")
              / greatest(size(col("ws")) - 1, lit(1)).cast("double"), 6).as("bigram_rep"))
        .orderBy("doc_id")
    },

    // ---------------------------------------------------------------- q68
    // Decontamination: training documents sharing any word 4-gram
    // with the held-out benchmark slice (doc_id % 50 = 0). The bench
    // side's distinct grams are small by construction (it is the
    // benchmark, not the corpus) → broadcast; the corpus side streams
    // map-side-distinct grams through the broadcast join, so the scan
    // never shuffles. n_hits counts distinct overlapping grams — the
    // triage signal for "remove or audit".
    Q("q68_decontamination",
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |idx AS (SELECT doc_id, ws, unnest(generate_series(1, greatest(len(ws) - 3, 0))) AS i FROM w),
        |sh4 AS (SELECT DISTINCT doc_id, array_to_string(ws[i:i+3], ' ') AS s FROM idx),
        |bench AS (SELECT DISTINCT s FROM sh4 WHERE doc_id % 50 = 0)
        |SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_hits
        |FROM (SELECT * FROM sh4 WHERE doc_id % 50 <> 0) c JOIN bench USING (s)
        |GROUP BY c.doc_id ORDER BY c.doc_id""".stripMargin) { (s, d) =>
      val sh4 = shingleSet(Tables.documents(s, d), 4)
      val bench = sh4.filter(col("doc_id") % 50 === 0).select(col("s")).distinct()
      sh4.filter(col("doc_id") % 50 =!= 0)
        .join(broadcast(bench), Seq("s"))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hits"))
        .orderBy("doc_id")
    },

    // ---------------------------------------------------------------- q129
    // Bloom-pruned decontamination — q68's scale path. q68 broadcasts
    // the exact benchmark shingle set, which stops working when the
    // union of held-out benchmarks reaches 10^8-10^9 n-grams
    // (gigabytes exact vs ~1.1 B/key in a 3% Bloom). Here the Bloom
    // broadcasts and prunes the corpus shingles MAP-SIDE (no false
    // negatives, so a failing probe is definitely clean — at the <1%
    // hit rates of real decontamination that drops ~the whole
    // corpus before any shuffle), and only survivors reach the exact
    // semi-join that resolves the fpp% false positives
    // (Dedup.bloomSemiJoinKeys; the probe is the codegen'd Catalyst
    // BloomFilterMightContain, not a UDF). Output is row-identical to
    // the exact spelling — the oracle recomputes it exactly and the
    // Bloom is invisible — and extends q68's hit list to the decision
    // surface: every clean doc with its hit count and a
    // contaminated flag (n_hits >= 3), zero-hit docs included.
    Q("q129_decontamination_bloom",
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |idx AS (SELECT doc_id, ws, unnest(generate_series(1, greatest(len(ws) - 3, 0))) AS i FROM w),
        |sh4 AS (SELECT DISTINCT doc_id, array_to_string(ws[i:i+3], ' ') AS s FROM idx),
        |bench AS (SELECT DISTINCT s FROM sh4 WHERE doc_id % 50 = 0),
        |hits AS (SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_hits
        |         FROM (SELECT * FROM sh4 WHERE doc_id % 50 <> 0) c JOIN bench USING (s)
        |         GROUP BY c.doc_id)
        |SELECT d.doc_id, COALESCE(n_hits, 0) AS n_hits,
        |  COALESCE(n_hits, 0) >= 3 AS contaminated
        |FROM (SELECT doc_id FROM documents WHERE doc_id % 50 <> 0) d
        |LEFT JOIN hits USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val sh4 = shingleSet(docs, 4)
      val bench = sh4.filter(col("doc_id") % 50 === 0).select(col("s")).distinct()
      val hits = graft.ops.Dedup.bloomSemiJoinKeys(
          sh4.filter(col("doc_id") % 50 =!= 0), bench, "s",
          expectedKeys = 1L << 18)
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hits"))
      docs.filter(col("doc_id") % 50 =!= 0).select(col("doc_id"))
        .join(hits, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          (coalesce(col("n_hits"), lit(0L)) >= 3).as("contaminated"))
        .orderBy("doc_id")
    },

    // ---------------------------------------------------------------- q132
    // Hard quality-rule battery — the C4/Gopher-style FILTER face of
    // quality, complementing q26's soft score: per-document boolean
    // verdicts for word-count bounds, mean-word-length bounds,
    // digit-char ratio, and stopword presence (Rae et al. 2021 §A1.1,
    // Raffel et al. 2020 §2.2 rule families), plus the conjunctive
    // keep. Every ratio rule is INTEGER CROSS-MULTIPLIED
    // (3·nt ≤ wc, 10·dg ≤ nc …) — no double division for the engines
    // to round differently, the q80/q81 portability lesson applied to
    // predicates. Inputs come from the native codegen'd TextStats
    // expression (one pass over the string for nt/nc/dg/stopwords —
    // no HOF, no Expand); word chars = replace(text,' ','') length on
    // both sides. Bounds are set where this corpus actually splits
    // (117/500 keep at sf0.01); r_digit passes everywhere here (the
    // synthetic text is digit-light) and earns its column as the
    // battery's completeness, not its discrimination.
    Q("q132_quality_rules",
      s"""WITH $batteryInputCte
         |SELECT doc_id, nt AS n_tokens,
         |  nt BETWEEN 30 AND 10000 AS r_wordcount,
         |  (3 * nt <= wc AND 2 * wc <= 9 * nt) AS r_meanlen,
         |  10 * dg <= nc AS r_digit,
         |  st >= 2 AS r_stopword,
         |  (nt BETWEEN 30 AND 10000 AND 3 * nt <= wc AND 2 * wc <= 9 * nt
         |    AND 10 * dg <= nc AND st >= 2) AS keep
         |FROM f ORDER BY doc_id""".stripMargin) { (s, d) =>
      val b = TextAnalysis.qualityBattery(col("text"))
      Tables.documents(s, d).select(col("doc_id"),
          b.getField("nt").as("n_tokens"),
          b.getField("r_wordcount").as("r_wordcount"),
          b.getField("r_meanlen").as("r_meanlen"),
          b.getField("r_digit").as("r_digit"),
          b.getField("r_stopword").as("r_stopword"),
          b.getField("keep").as("keep"))
        .orderBy("doc_id")
    },

    // ---------------------------------------------------------------- q130
    // Source-mixture rebalancing (ops.Mixture) — the data-mixing pass
    // between curation and tokenization, here over the corpus's
    // naturally skewed language axis (en dominates ~3.4:1): every
    // language is downsampled to ≈ the smallest language's count,
    // DETERMINISTICALLY (keep ⇔ sha-bucket·c_lang < n_min·4096 — the
    // q59 stable-sample contract extended per-group; rand()/
    // TABLESAMPLE would make the mixture partitioning-dependent).
    // Plan shape: one tiny count agg, the |langs|-row rate table
    // broadcast back map-side, target attached by the non-foldable-
    // key 1-row broadcast (q126 pattern — a literal join key would
    // constant-fold into the banned BNLJ). Pure integer acceptance
    // arithmetic: no ratio for the engines to round differently.
    Q("q130_mixture_rebalance",
      """WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS c FROM documents GROUP BY lang),
        |m AS (SELECT min(c) AS nmin FROM c),
        |b AS (SELECT doc_id, lang,
        |    CAST(strpos('0123456789abcdef', substr(sha256(CAST(doc_id AS VARCHAR)), 1, 1)) - 1 AS BIGINT) * 256
        |  + CAST(strpos('0123456789abcdef', substr(sha256(CAST(doc_id AS VARCHAR)), 2, 1)) - 1 AS BIGINT) * 16
        |  + CAST(strpos('0123456789abcdef', substr(sha256(CAST(doc_id AS VARCHAR)), 3, 1)) - 1 AS BIGINT) AS bucket
        |  FROM documents)
        |SELECT doc_id, lang, bucket
        |FROM b JOIN c USING (lang) CROSS JOIN m
        |WHERE bucket * c < nmin * 4096
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      graft.ops.Mixture.balancedSample(Tables.documents(s, d), "lang", "doc_id")
        .orderBy("doc_id")
    },

    // ---------------------------------------------------------------- q169
    // Temperature-scaled mixture sampling (mT5/UniMax, T = 2) — the
    // knob BETWEEN q130's balanced mixture and proportional
    // sampling, run on the same naturally-skewed language axis q130
    // uses (en ≈ 3.4:1 — a uniform axis would hide the temperature;
    // at T = 2 the en keep-rate lands below ½ and the tail
    // languages above): per-group weight ∝ √n_s, integer targets
    // t_s = ⌊(N/2)·r_s/R⌋ with r_s = duckRound(√n_s, 6) and R the
    // order-free DECIMAL sum, then the q130 sha-bucket integer
    // acceptance. √ is correctly-rounded IEEE on both engines and
    // the remaining double ops run on identical inputs, so the
    // whole target table is bit-reproducible — the one
    // "transcendental" this engine allows is the one that isn't
    // (ops/Mixture.temperatureSample scaladoc). Same plan shape as
    // q130: |sources|-row agg, non-foldable-key 1-row broadcast,
    // rates broadcast map-side, acceptance inside the scan.
    Q("q169_temperature_mixture",
      """WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS c,
        |             round(sqrt(CAST(count(*) AS DOUBLE)), 6) AS r
        |           FROM documents GROUP BY lang),
        |t AS (SELECT CAST(sum(c) AS BIGINT) AS ntot,
        |        CAST(sum(CAST(r AS DECIMAL(21,10))) AS DOUBLE) AS rsum FROM c),
        |rt AS (SELECT lang, c,
        |         CAST(floor(CAST(ntot // 2 AS DOUBLE) * r / rsum) AS BIGINT) AS tt
        |       FROM c CROSS JOIN t),
        |b AS (SELECT doc_id, lang,
        |    CAST(strpos('0123456789abcdef', substr(sha256(CAST(doc_id AS VARCHAR)), 1, 1)) - 1 AS BIGINT) * 256
        |  + CAST(strpos('0123456789abcdef', substr(sha256(CAST(doc_id AS VARCHAR)), 2, 1)) - 1 AS BIGINT) * 16
        |  + CAST(strpos('0123456789abcdef', substr(sha256(CAST(doc_id AS VARCHAR)), 3, 1)) - 1 AS BIGINT) AS bucket
        |  FROM documents)
        |SELECT doc_id, lang, bucket, tt AS target
        |FROM b JOIN rt USING (lang)
        |WHERE bucket * c < tt * 4096
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      graft.ops.Mixture.temperatureSample(Tables.documents(s, d), "lang", "doc_id")
        .orderBy("doc_id")
    },

    // ---------------------------------------------------------------- q177
    // Mixture-sampling bias audit — the knob-validator the sampling
    // family was missing (q98's pattern: ANN has its recall audit,
    // SimHash its q142 sweep, SemDeDup its q124 — this row tells a
    // user whether the hash-bucket acceptance actually delivers the
    // per-group targets): per language, kept count vs q169's integer
    // target with a 4σ binomial acceptance bound spelled in pure
    // integers — Var[kept] ≤ t, so ok ⇔ (kept − t)² ≤ 16·t. The
    // sha buckets are fixed, so the verdicts are deterministic and
    // hash-pinned (an `ok=false` row would mean the bucket hash is
    // biased — the failure this audit exists to catch).
    Q("q177_mixture_audit",
      """WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS c,
        |             round(sqrt(CAST(count(*) AS DOUBLE)), 6) AS r
        |           FROM documents GROUP BY lang),
        |t AS (SELECT CAST(sum(c) AS BIGINT) AS ntot,
        |        CAST(sum(CAST(r AS DECIMAL(21,10))) AS DOUBLE) AS rsum FROM c),
        |rt AS (SELECT lang, c,
        |         CAST(floor(CAST(ntot // 2 AS DOUBLE) * r / rsum) AS BIGINT) AS tt
        |       FROM c CROSS JOIN t),
        |b AS (SELECT doc_id, lang,
        |    CAST(strpos('0123456789abcdef', substr(sha256(CAST(doc_id AS VARCHAR)), 1, 1)) - 1 AS BIGINT) * 256
        |  + CAST(strpos('0123456789abcdef', substr(sha256(CAST(doc_id AS VARCHAR)), 2, 1)) - 1 AS BIGINT) * 16
        |  + CAST(strpos('0123456789abcdef', substr(sha256(CAST(doc_id AS VARCHAR)), 3, 1)) - 1 AS BIGINT) AS bucket
        |  FROM documents),
        |k AS (SELECT lang, CAST(count(*) AS BIGINT) AS kept
        |      FROM b JOIN rt USING (lang) WHERE bucket * c < tt * 4096
        |      GROUP BY lang)
        |SELECT rt.lang, rt.c AS n_docs, rt.tt AS target,
        |  CAST(coalesce(k.kept, 0) AS BIGINT) AS kept,
        |  (coalesce(k.kept, 0) - tt) * (coalesce(k.kept, 0) - tt) <= 16 * tt AS ok
        |FROM rt LEFT JOIN k USING (lang)
        |ORDER BY rt.lang""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val targets = graft.ops.Mixture.temperatureTargets(docs, "lang")
      val kept = graft.ops.Mixture.temperatureSample(docs, "lang", "doc_id")
        .groupBy(col("lang")).agg(count(lit(1)).as("kept"))
      val diff = coalesce(col("kept"), lit(0L)) - col("_t")
      targets.join(kept, Seq("lang"), "left")
        .select(col("lang"), col("_c").as("n_docs"), col("_t").as("target"),
          coalesce(col("kept"), lit(0L)).cast("long").as("kept"),
          (diff * diff <= lit(16L) * col("_t")).as("ok"))
        .orderBy("lang")
    },

    // ---------------------------------------------------------------- q59
    // Deterministic hash sampling: a reproducible ~10% corpus sample
    // via sha-256(doc_id) mod 100 < 10. This is how a training
    // pipeline takes STABLE samples — rerunning (or re-sharding) the
    // job selects the same documents, unlike rand()/TABLESAMPLE which
    // are engine- and partitioning-dependent. Map-only: the predicate
    // evaluates inside the scan, no shuffle.
    Q("q59_hash_sample",
      """SELECT doc_id,
        |  CAST(strpos('0123456789abcdef', substr(sha256(CAST(doc_id AS VARCHAR)), 1, 1)) - 1 AS BIGINT) * 16
        |  + CAST(strpos('0123456789abcdef', substr(sha256(CAST(doc_id AS VARCHAR)), 2, 1)) - 1 AS BIGINT) AS bucket
        |FROM documents
        |WHERE (CAST(strpos('0123456789abcdef', substr(sha256(CAST(doc_id AS VARCHAR)), 1, 1)) - 1 AS BIGINT) * 16
        |  + CAST(strpos('0123456789abcdef', substr(sha256(CAST(doc_id AS VARCHAR)), 2, 1)) - 1 AS BIGINT)) % 100 < 10
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val bucket = conv(substring(sha2(col("doc_id").cast("string"), 256), 1, 2), 16, 10)
        .cast("long")
      Tables.documents(s, d)
        .select(col("doc_id"), bucket.as("bucket"))
        .filter(col("bucket") % 100 < 10)
        .orderBy("doc_id")
    },

    // ---------------------------------------------------------------- q171
    // Exact k-per-group stable sample — the third deterministic
    // sampling contract next to q59 (stable RATE) and q130/q169
    // (stable MIXTURE): exactly min(k, |group|) docs per source,
    // identical across reruns, re-shards and partitionings, ordered
    // by each doc's sha-256 (the "random" order that is a pure
    // function of the row — rand()/TABLESAMPLE are neither exact-k
    // nor stable). The eval-set/debugging-panel op: "give me the
    // same 25 docs per source every night". Plan: the rank filter
    // directly above row_number is WindowGroupLimit — partial
    // map-side top-k per group BEFORE the exchange, so the shuffle
    // carries ≤ k rows per partition per group, never the corpus
    // (the q153/Kmv.sketch pattern).
    Q("q171_stable_group_sample",
      """SELECT doc_id, source, CAST(rn AS BIGINT) AS rn FROM (
        |  SELECT doc_id, source, row_number() OVER (PARTITION BY source
        |    ORDER BY sha256(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents) WHERE rn <= 25
        |ORDER BY source, rn""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      Tables.documents(s, d)
        .select(col("doc_id"), col("source"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("source"))
            .orderBy(sha2(col("doc_id").cast("string"), 256), col("doc_id"))))
        .filter(col("rn") <= 25)
        .select(col("doc_id"), col("source"), col("rn").cast("long").as("rn"))
        .orderBy("source", "rn")
    },

    // ---------------------------------------------------------------- q60
    // Token-budget shard packing: documents in doc_id order are
    // assigned to consecutive training shards of ≤ 10k tokens via a
    // running prefix sum (shard = floor((cum - n) / budget)). The
    // contiguous-by-order contract makes packing deterministic and
    // mergeable: shard boundaries depend only on the prefix sums, not
    // on partitioning. The cumsum is ops.PrefixSum's two-pass
    // distributed form (range-partition → per-partition totals →
    // broadcast offsets → local cumsum) — NOT a global-order window,
    // which would move the whole corpus to one partition (PlanSpec
    // asserts no WindowExec in this plan).
    Q("q60_token_packing",
      """SELECT doc_id, n_tokens,
        |  CAST((cum - n_tokens) // 10000 AS BIGINT) AS shard
        |FROM (
        |  SELECT doc_id, n_tokens,
        |    sum(n_tokens) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents))
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val base = Tables.documents(s, d)
        .select(col("doc_id"), size(tokens(col("text"))).cast("long").as("n_tokens"))
      graft.ops.PrefixSum.withRunningSum(base, "doc_id", "n_tokens", "cum")
        .select(col("doc_id"), col("n_tokens"),
          // integral division on longs, matching the oracle's `//`
          // exactly at ANY prefix-sum magnitude — a double floor-div
          // loses integer precision past 2^53
          expr("(cum - n_tokens) div 10000").as("shard"))
        .orderBy("doc_id")
    },

    // ---------------------------------------------------------------- q184
    // Fixed-window SEQUENCE PACKING (ops/Pack, round 12) — the
    // concat-and-chunk step that turns the curated corpus into
    // training sequences of exactly 512 tokens (GPT-style packing:
    // docs concatenate in doc_id order, the stream is cut every 512
    // tokens, docs may straddle cuts). q60 answers which ≤-budget
    // shard a doc STARTS in; this gate pins the loader-grade answers:
    // the per-sequence manifest — how many docs each window holds
    // (n_docs), how many carried across its left cut (n_carry — the
    // cross-contamination count an attention mask must separate; ≤ 1
    // structurally), and its token fill (512 everywhere but the final
    // partial window; fills sum to the corpus token total). Offsets
    // come from PrefixSum's two-pass distributed cumsum (no
    // single-partition window — PlanSpec's q60 rule); the manifest
    // explode is output-sized (≤ n/512 + 1 rows per doc). All
    // integer arithmetic — floor divisions on non-negative longs are
    // engine-identical.
    Q("q184_sequence_packing",
      """WITH tk AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n
        |            FROM documents),
        |c AS (SELECT doc_id, n,
        |        sum(n) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |      FROM tk),
        |pl AS (SELECT doc_id, n, CAST(cum AS BIGINT) AS cum,
        |         CAST((cum - n) // 512 AS BIGINT) AS fs,
        |         CAST((cum - 1) // 512 AS BIGINT) AS ls FROM c),
        |ex AS (SELECT doc_id, n, cum, fs,
        |         unnest(generate_series(fs, ls)) AS seq_id FROM pl),
        |m AS (SELECT seq_id, CAST(count(*) AS BIGINT) AS n_docs,
        |        CAST(count(*) FILTER (WHERE fs < seq_id) AS BIGINT) AS n_carry,
        |        CAST(sum(least(cum, (seq_id + 1) * 512)
        |               - greatest(cum - n, seq_id * 512)) AS BIGINT) AS tok_fill
        |      FROM ex GROUP BY seq_id)
        |SELECT seq_id, n_docs, n_carry, tok_fill FROM m
        |ORDER BY seq_id""".stripMargin) { (s, d) =>
      val base = Tables.documents(s, d)
        .select(col("doc_id"), size(tokens(col("text"))).cast("long").as("n_tokens"))
      graft.ops.Pack.seqManifest(
          graft.ops.Pack.packPlacement(base, 512), 512)
        .orderBy("seq_id")
    },

    // ---------------------------------------------------------------- q105
    // Shard manifest — the reproducibility artifact a data release
    // publishes next to q60's packing: per shard, document/token
    // counts, id range, and a sha-256 over the ordered id list. A
    // re-pack (any partition count — shard assignment depends only on
    // prefix sums) recomputes the manifest and verifies byte-for-byte
    // that the release is intact. Shards are token-budget-sized, so
    // the per-shard collected id list is small by construction; the
    // order inside the hash comes from array_sort at finalization,
    // not from collect_list's partition-dependent arrival order.
    Q("q105_shard_manifest",
      """WITH b AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |           FROM documents),
        |s AS (SELECT doc_id, n_tokens, CAST((cum - n_tokens) // 10000 AS BIGINT) AS shard
        |      FROM (SELECT doc_id, n_tokens,
        |              sum(n_tokens) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |            FROM b))
        |SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
        |  min(doc_id) AS first_doc, max(doc_id) AS last_doc,
        |  sha256(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)) AS content_sha
        |FROM s GROUP BY shard ORDER BY shard""".stripMargin) { (s, d) =>
      val base = Tables.documents(s, d)
        .select(col("doc_id"), size(tokens(col("text"))).cast("long").as("n_tokens"))
      graft.ops.PrefixSum.withRunningSum(base, "doc_id", "n_tokens", "cum")
        .select(col("doc_id"), col("n_tokens"),
          // integral division, exact at any scale (see q60)
          expr("(cum - n_tokens) div 10000").as("shard"))
        .groupBy(col("shard"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("n_tokens"),
          min(col("doc_id")).as("first_doc"),
          max(col("doc_id")).as("last_doc"),
          sha2(array_join(expr(
            "transform(array_sort(collect_list(doc_id)), x -> cast(x AS string))"),
            ","), 256).as("content_sha"))
        .orderBy("shard")
    },

    // ---------------------------------------------------------------- q112
    // Corpus snapshot delta — the report a nightly ingest publishes
    // next to the incremental-dedup artifacts: which documents were
    // added, removed, or changed (by exact fingerprint, q28's
    // normalization) between two snapshots. The snapshots are
    // deterministic slices of the corpus (%7 / %5 membership, a %11
    // fingerprint edit) so both engines derive them identically. ONE
    // full-outer equi-join of two map-side fingerprint scans; at
    // scale both snapshots live bucketed by doc_id (the layout a
    // snapshot store keeps), so the join co-locates with no shuffle
    // of either side.
    Q("q112_snapshot_delta",
      """WITH fp AS (SELECT doc_id,
        |    sha256(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS f
        |  FROM documents),
        |prev AS (SELECT doc_id, f FROM fp WHERE doc_id % 7 <> 0),
        |cur AS (SELECT doc_id,
        |    CASE WHEN doc_id % 11 = 0 THEN sha256(f || '|v2') ELSE f END AS f
        |  FROM fp WHERE doc_id % 5 <> 0)
        |SELECT COALESCE(p.doc_id, c.doc_id) AS doc_id,
        |  CASE WHEN p.doc_id IS NULL THEN 'added'
        |       WHEN c.doc_id IS NULL THEN 'removed'
        |       ELSE 'changed' END AS status
        |FROM prev p FULL OUTER JOIN cur c ON p.doc_id = c.doc_id
        |WHERE p.doc_id IS NULL OR c.doc_id IS NULL OR p.f <> c.f
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val fp = Tables.documents(s, d)
        .select(col("doc_id"), fingerprint(col("text")).as("f"))
      val prev = fp.filter(col("doc_id") % 7 =!= 0)
        .select(col("doc_id"), col("f").as("f_prev"))
      val cur = fp.filter(col("doc_id") % 5 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 11 === 0, sha2(concat(col("f"), lit("|v2")), 256))
            .otherwise(col("f")).as("f_cur"))
      prev.join(cur, Seq("doc_id"), "full_outer")
        .filter(col("f_prev").isNull || col("f_cur").isNull ||
          col("f_prev") =!= col("f_cur"))
        .select(col("doc_id"),
          when(col("f_prev").isNull, lit("added"))
            .when(col("f_cur").isNull, lit("removed"))
            .otherwise(lit("changed")).as("status"))
        .orderBy("doc_id")
    },

    // ---------------------------------------------------------------- q96
    // Context-window chunking: each document split into 32-token
    // windows at stride 16 (50% overlap) — the long-document splitter
    // feeding a fixed-context trainer. Entirely map-side: sequence +
    // explode + slice evaluate inside the scan projection, no shuffle
    // until the final oracle ORDER BY; ragged tails keep their
    // partial window (both engines' slices clip at the end).
    Q("q96_text_chunking",
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
        |SELECT doc_id,
        |  CAST((i - 1) // 16 AS BIGINT) AS chunk_idx,
        |  array_to_string(ws[i:i+31], ' ') AS chunk,
        |  CAST(len(ws[i:i+31]) AS BIGINT) AS n_tokens
        |FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws), 16)) AS i FROM w)
        |ORDER BY doc_id, chunk_idx""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), tokens(col("text")).as("ws"))
        .select(col("doc_id"), col("ws"),
          explode(sequence(lit(1), size(col("ws")), lit(16))).as("i"))
        .select(col("doc_id"),
          ((col("i") - 1) / 16).cast("long").as("chunk_idx"),
          array_join(slice(col("ws"), col("i"), lit(32)), " ").as("chunk"),
          size(slice(col("ws"), col("i"), lit(32))).cast("long").as("n_tokens"))
        .orderBy("doc_id", "chunk_idx")
    },

    // ---------------------------------------------------------------- q95
    // Token-weighted systematic sampling: a document is selected iff
    // its token interval [cum-n, cum) contains a multiple of the
    // step — selection probability proportional to document length
    // with ZERO randomness (deterministic under re-runs/re-shards,
    // and transcendental-free unlike exponential/A-Res weighted
    // reservoirs, so it oracle-verifies exactly). Same two-pass
    // distributed cumsum as q60; the window spelling below is only
    // the oracle.
    Q("q95_weighted_sample",
      """SELECT doc_id, n_tokens FROM (
        |  SELECT doc_id, n_tokens,
        |    sum(n_tokens) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents))
        |WHERE cum // 1000 > (cum - n_tokens) // 1000
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val base = Tables.documents(s, d)
        .select(col("doc_id"), size(tokens(col("text"))).cast("long").as("n_tokens"))
      graft.ops.PrefixSum.withRunningSum(base, "doc_id", "n_tokens", "cum")
        .filter(floor(col("cum") / 1000) > floor((col("cum") - col("n_tokens")) / 1000))
        .select(col("doc_id"), col("n_tokens"))
        .orderBy("doc_id")
    },

    // ---------------------------------------------------------------- q94
    // The training-corpus pipeline END-TO-END as one composed query:
    // quality-filter (q26) → exact-dedup keepers (q28) → drop the
    // held-out benchmark slice and anything sharing a 4-gram with it
    // (q68) → deterministic stratified split (q86). Every stage is an
    // operator verified on its own elsewhere; this query verifies the
    // COMPOSITION — what a user of the engine actually runs nightly.
    // Plan shape: quality and fingerprints are map-side, keepers one
    // groupBy, decontamination a broadcast semi-join, split map-only.
    Q("q94_corpus_pipeline", {
      val ratio = (p: String) =>
        s"CAST(${charCountSql(p)} AS DOUBLE) / CAST(greatest(length(text), 1) AS DOUBLE)"
      s"""WITH f AS (
         |  SELECT doc_id,
         |    CAST(length(text) AS DOUBLE) AS nc,
         |    CAST(len(string_split(text, ' ')) AS DOUBLE) AS nt,
         |    CAST(${charCountSql("[0-9]")} AS DOUBLE) AS dg,
         |    CAST(${hitsSql(EN_MARKERS)} AS DOUBLE) AS st
         |  FROM documents),
         |q AS (SELECT doc_id,
         |  round(0.3 * least(1.0, nt / 100.0)
         |      + 0.2 * (1.0 - dg / greatest(nc, 1.0))
         |      + 0.3 * least(1.0, st / greatest(nt, 1.0) * 5.0)
         |      + 0.2 * least(1.0, nc / greatest(nt, 1.0) / 8.0), 6) AS quality
         |  FROM f),
         |fp AS (SELECT doc_id,
         |    sha256(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
         |  FROM documents),
         |keep AS (SELECT min(doc_id) AS doc_id FROM fp GROUP BY fp),
         |w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         |idx AS (SELECT doc_id, ws, unnest(generate_series(1, greatest(len(ws) - 3, 0))) AS i FROM w),
         |sh4 AS (SELECT DISTINCT doc_id, array_to_string(ws[i:i+3], ' ') AS s FROM idx),
         |bench AS (SELECT DISTINCT s FROM sh4 WHERE doc_id % 50 = 0),
         |contam AS (SELECT DISTINCT c.doc_id
         |           FROM (SELECT * FROM sh4 WHERE doc_id % 50 <> 0) c JOIN bench USING (s)),
         |b AS (SELECT doc_id,
         |    (CAST(strpos('0123456789abcdef', substr(sha256(CAST(doc_id AS VARCHAR)), 1, 1)) - 1 AS BIGINT) * 16
         |     + CAST(strpos('0123456789abcdef', substr(sha256(CAST(doc_id AS VARCHAR)), 2, 1)) - 1 AS BIGINT)) % 100 AS bucket
         |  FROM documents)
         |SELECT q.doc_id, q.quality,
         |  CASE WHEN b.bucket < 80 THEN 'train'
         |       WHEN b.bucket < 90 THEN 'val' ELSE 'test' END AS split
         |FROM q
         |JOIN keep USING (doc_id)
         |JOIN b USING (doc_id)
         |LEFT JOIN contam USING (doc_id)
         |WHERE q.quality >= 0.5 AND contam.doc_id IS NULL AND q.doc_id % 50 <> 0
         |ORDER BY q.doc_id""".stripMargin
    }) { (s, d) =>
      val docs = Tables.documents(s, d)
      val quality = docs.select(col("doc_id"),
        TextAnalysis.qualityScore(col("text")).as("quality"))
      val keepers = graft.analytics.DedupOps.exactGroups(docs)
        .select(col("keep_id").as("doc_id"))
      val sh4 = shingleSet(docs, 4)
      val bench = sh4.filter(col("doc_id") % 50 === 0).select(col("s")).distinct()
      val contaminated = sh4.filter(col("doc_id") % 50 =!= 0)
        .join(broadcast(bench), Seq("s"))
        .select(col("doc_id")).distinct()
      val bucket = conv(substring(sha2(col("doc_id").cast("string"), 256), 1, 2), 16, 10)
        .cast("long") % 100
      quality.filter(col("quality") >= 0.5)
        .join(keepers, Seq("doc_id"))
        .join(contaminated, Seq("doc_id"), "left_anti")
        .filter(col("doc_id") % 50 =!= 0)
        .select(col("doc_id"), col("quality"),
          when(bucket < 80, lit("train"))
            .when(bucket < 90, lit("val"))
            .otherwise(lit("test")).as("split"))
        .orderBy("doc_id")
    },

    // ---------------------------------------------------------------- q155
    // The CURATION CAPSTONE — the one query a training-data team runs
    // nightly, composing the engine's whole modern pipeline in the
    // order production curation stacks it (each stage is its own
    // verified gate; this composes them and hash-verifies the final
    // ARTIFACT, so a disagreement anywhere upstream flips membership
    // and fails the shard shas):
    //   1. hard quality battery (q132's conjunctive keep),
    //   2. near-dup canonical keepers (q147: LSH components, best
    //      quality wins; non-keepers drop, singletons pass),
    //   3. SemDeDup semantic pruning (q119 verdict by vec_id=doc_id;
    //      docs without an embedding pass — partial coverage is the
    //      production norm),
    //   4. benchmark decontamination (q129's >= 3 shared-4-gram rule
    //      via the Bloom-prefiltered exact semi-join; bench docs
    //      themselves leave the corpus),
    //   5. language-mixture rebalance over the SURVIVORS (q130's
    //      deterministic sha-bucket acceptance — rates computed on
    //      what survived, not the raw corpus),
    //   6. token-budget shard packing + release manifest (q60/q105:
    //      distributed prefix sum, per-shard sha over the ordered id
    //      list).
    // Plan shape at 100 TB: every stage is a verified-scalable
    // citizen (map-side battery, banded LSH join, inlined-quantizer
    // cells, Bloom + equi-join, broadcast rate table, two-pass
    // cumsum) — composing them adds joins on doc_id, never a new
    // all-pairs or global sort.
    Q("q155_curation_capstone",
      s"""${DedupQueries.componentsCtes},
         |$qualityCteSql,
         |k AS (SELECT component, doc_id AS keeper_id FROM (
         |    SELECT c.component, c.doc_id,
         |      row_number() OVER (PARTITION BY c.component
         |        ORDER BY q.quality DESC, c.doc_id ASC) AS rn
         |    FROM comp c JOIN qual q ON q.doc_id = c.doc_id) WHERE rn = 1),
         |${SimilarityQueries.semanticKeptChain("sd_")},
         |$batteryCtes,
         |idx4 AS (SELECT doc_id, ws, unnest(generate_series(1, greatest(len(ws) - 3, 0))) AS i FROM w),
         |sh4 AS (SELECT DISTINCT doc_id, array_to_string(ws[i:i+3], ' ') AS s FROM idx4),
         |bench AS (SELECT DISTINCT s FROM sh4 WHERE doc_id % 50 = 0),
         |contam AS (SELECT c.doc_id FROM (SELECT * FROM sh4 WHERE doc_id % 50 <> 0) c
         |           JOIN bench USING (s) GROUP BY c.doc_id HAVING count(*) >= 3),
         |sv AS (SELECT d.doc_id, d.lang
         |       FROM documents d
         |       JOIN qb ON qb.doc_id = d.doc_id
         |       LEFT JOIN comp cp ON cp.doc_id = d.doc_id
         |       LEFT JOIN k ON k.component = cp.component
         |       LEFT JOIN sd_asg sa ON sa.vec_id = d.doc_id
         |       LEFT JOIN sd_best sb ON sb.vec_id = d.doc_id
         |       WHERE (cp.doc_id IS NULL OR d.doc_id = k.keeper_id)
         |         AND (sa.vec_id IS NULL OR sb.best_sim IS NULL OR sb.best_sim < 0.3)
         |         AND d.doc_id % 50 <> 0
         |         AND NOT EXISTS (SELECT 1 FROM contam ct WHERE ct.doc_id = d.doc_id)),
         |mc AS (SELECT lang, CAST(count(*) AS BIGINT) AS c FROM sv GROUP BY lang),
         |mn AS (SELECT min(c) AS nmin FROM mc),
         |mb AS (SELECT doc_id, lang,
         |    CAST(strpos('0123456789abcdef', substr(sha256(CAST(doc_id AS VARCHAR)), 1, 1)) - 1 AS BIGINT) * 256
         |  + CAST(strpos('0123456789abcdef', substr(sha256(CAST(doc_id AS VARCHAR)), 2, 1)) - 1 AS BIGINT) * 16
         |  + CAST(strpos('0123456789abcdef', substr(sha256(CAST(doc_id AS VARCHAR)), 3, 1)) - 1 AS BIGINT) AS bucket
         |  FROM sv),
         |bal AS (SELECT doc_id FROM mb JOIN mc USING (lang) CROSS JOIN mn
         |        WHERE bucket * c < nmin * 4096),
         |pk AS (SELECT f.doc_id, nt AS n_tokens FROM f JOIN bal ON bal.doc_id = f.doc_id),
         |ps AS (SELECT doc_id, n_tokens, CAST((cum - n_tokens) // 2000 AS BIGINT) AS shard
         |       FROM (SELECT doc_id, n_tokens,
         |               sum(n_tokens) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |             FROM pk))
         |SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         |  min(doc_id) AS first_doc, max(doc_id) AS last_doc,
         |  sha256(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)) AS content_sha
         |FROM ps GROUP BY shard ORDER BY shard""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      // 1. quality battery (the shared q132 spelling)
      val qb = docs
        .filter(TextAnalysis.qualityBattery(col("text")).getField("keep"))
        .select("doc_id")
      // 2. near-dup canonical keepers (q147's session-cached components)
      val quality = docs.select(col("doc_id"),
        TextAnalysis.qualityScore(col("text")).as("quality"))
      val dropNear = graft.analytics.DedupOps.canonicalKeepers(
          DedupQueries.componentsOf(s, d), quality)
        .filter(!col("is_keeper")).select("doc_id")
      // 3. semantic pruning (q119's verdict; missing embedding = kept)
      val emb = Tables.embeddings(s, d)
      val dropSem = graft.analytics.Similarity.semanticDedup(
          emb, graft.analytics.Similarity.kmeansCentroids(emb, 16, 1), 0.3)
        .filter(!col("kept")).select(col("vec_id").as("doc_id"))
      // 4. decontamination (q129's Bloom-prefiltered exact rule)
      val sh4 = shingleSet(docs, 4)
      val bench = sh4.filter(col("doc_id") % 50 === 0).select(col("s")).distinct()
      val contam = graft.ops.Dedup.bloomSemiJoinKeys(
          sh4.filter(col("doc_id") % 50 =!= 0), bench, "s",
          expectedKeys = 1L << 18)
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hits"))
        .filter(col("n_hits") >= 3).select("doc_id")
      val sv = docs.select(col("doc_id"), col("lang"))
        .join(qb, Seq("doc_id"))
        .join(dropNear, Seq("doc_id"), "left_anti")
        .join(dropSem, Seq("doc_id"), "left_anti")
        .filter(col("doc_id") % 50 =!= 0)
        .join(contam, Seq("doc_id"), "left_anti")
      // 5. mixture rebalance over the survivors
      val bal = graft.ops.Mixture.balancedSample(sv, "lang", "doc_id")
        .select("doc_id")
      // 6. packing + manifest (q60's two-pass cumsum, q105's shas)
      val base = docs.join(bal, Seq("doc_id"))
        .select(col("doc_id"), size(tokens(col("text"))).cast("long").as("n_tokens"))
      graft.ops.PrefixSum.withRunningSum(base, "doc_id", "n_tokens", "cum")
        .select(col("doc_id"), col("n_tokens"),
          expr("(cum - n_tokens) div 2000").as("shard"))
        .groupBy(col("shard"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("n_tokens"),
          min(col("doc_id")).as("first_doc"),
          max(col("doc_id")).as("last_doc"),
          sha2(array_join(expr(
            "transform(array_sort(collect_list(doc_id)), x -> cast(x AS string))"),
            ","), 256).as("content_sha"))
        .orderBy("shard")
    },

    // ---------------------------------------------------------------- q83
    // PII redaction: emails and phone numbers scrubbed map-side with
    // codegen'd regexp_replace, plus per-document match counts (the
    // audit signal). The corpus is synthetic, so deterministic PII is
    // appended in-query on BOTH engines — the redaction regexes then
    // genuinely execute against it and the oracle pins the scrubbed
    // output byte-for-byte. Patterns are RE2-and-Java-compatible (no
    // backreferences, no lookaround) — the subset that behaves
    // identically across engines.
    Q("q83_pii_redaction",
      """WITH src AS (SELECT doc_id,
        |    text || ' contact user' || CAST(doc_id AS VARCHAR)
        |         || '@example.com or +1-555-' || CAST(doc_id AS VARCHAR)
        |         || ' now' AS t
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(t, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(t, '\+[0-9]+-[0-9]+-[0-9]+')) AS BIGINT) AS n_phones,
        |  regexp_replace(regexp_replace(t,
        |      '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
        |      '\+[0-9]+-[0-9]+-[0-9]+', '<PHONE>', 'g') AS clean
        |FROM src ORDER BY doc_id""".stripMargin) { (s, d) =>
      val email = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
      val phone = "\\+[0-9]+-[0-9]+-[0-9]+"
      // Two regex passes, not four: the replaces are authoritative,
      // and the match COUNTS fall out of them — count(matches) =
      // occurrences of the inserted token in the replaced string,
      // because the corpus text contains no '<' (verified invariant:
      // the synthetic vocabulary is alphanumeric; the appended PII
      // suffix introduces '@' and '+' but never '<'). n_phones counts
      // on the email-scrubbed string, equal to counting on t: a phone
      // match contains digits/'+'/'-' only, none of which an email
      // replacement consumes here (no '@' follows the phone suffix).
      def tokenCount(s: org.apache.spark.sql.Column, tok: String): org.apache.spark.sql.Column =
        ((length(s) - length(replace(s, lit(tok), lit("")))) / tok.length).cast("long")
      Tables.documents(s, d)
        .select(col("doc_id"),
          concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com or +1-555-"), col("doc_id").cast("string"),
            lit(" now")).as("t"))
        .withColumn("c1", regexp_replace(col("t"), email, "<EMAIL>"))
        .withColumn("clean", regexp_replace(col("c1"), phone, "<PHONE>"))
        .select(col("doc_id"),
          tokenCount(col("c1"), "<EMAIL>").as("n_emails"),
          tokenCount(col("clean"), "<PHONE>").as("n_phones"),
          col("clean"))
        .orderBy("doc_id")
    },

    // ---------------------------------------------------------------- q84
    // Per-source quality rollup (the CCNet-style "score the domain,
    // not just the document" aggregation a crawl pipeline runs before
    // keeping/dropping whole sources). Two-stage groupBy: pre-agg per
    // (source, lang) so distinct-lang counting never plans an Expand
    // over the corpus (the q40 lesson); quality values are 6-decimal
    // doubles, so DECIMAL(18,8) partial sums re-aggregate exactly.
    Q("q84_source_quality", {
      val ratio = (p: String) =>
        s"CAST(${charCountSql(p)} AS DOUBLE) / CAST(greatest(length(text), 1) AS DOUBLE)"
      s"""WITH f AS (
         |  SELECT source, lang,
         |    CAST(length(text) AS DOUBLE) AS nc,
         |    CAST(len(string_split(text, ' ')) AS DOUBLE) AS nt,
         |    CAST(${charCountSql("[0-9]")} AS DOUBLE) AS dg,
         |    CAST(${hitsSql(EN_MARKERS)} AS DOUBLE) AS st
         |  FROM documents),
         |q AS (SELECT source, lang,
         |  round(0.3 * least(1.0, nt / 100.0)
         |      + 0.2 * (1.0 - dg / greatest(nc, 1.0))
         |      + 0.3 * least(1.0, st / greatest(nt, 1.0) * 5.0)
         |      + 0.2 * least(1.0, nc / greatest(nt, 1.0) / 8.0), 6) AS quality,
         |  CAST(nt AS BIGINT) AS nt
         |  FROM f)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
         |  CAST(sum(CAST(quality AS DECIMAL(18,8))) AS DOUBLE) AS sum_quality,
         |  CAST(sum(nt) AS BIGINT) AS sum_tokens
         |FROM q GROUP BY source ORDER BY source""".stripMargin
    }) { (s, d) =>
      val pre = Tables.documents(s, d)
        .select(col("source"), col("lang"),
          TextAnalysis.qualityScore(col("text")).as("quality"),
          size(tokens(col("text"))).cast("long").as("nt"))
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("pn"),
          sum(col("quality").cast(org.apache.spark.sql.types.DecimalType(18, 8))).as("pq"),
          sum(col("nt")).as("pt"))
      pre.groupBy(col("source"))
        .agg(sum(col("pn")).as("n_docs"),
          count(lit(1)).as("n_langs"),
          sum(col("pq")).cast("double").as("sum_quality"),
          sum(col("pt")).as("sum_tokens"))
        .orderBy("source")
    },

    // ---------------------------------------------------------------- q85
    // BPE-style merge candidates: corpus-wide adjacent token-pair
    // frequencies, top 20 — the first iteration of a vocabulary
    // trainer. Pairs are built map-side by the native shingle
    // generator; the partial-agg groupBy shuffles distinct pairs, and
    // the top-k runs as TakeOrderedAndProject under a (count desc,
    // pair asc) total order.
    Q("q85_bpe_pair_counts",
      """WITH w AS (SELECT string_split(text, ' ') AS ws FROM documents),
        |idx AS (SELECT ws, unnest(generate_series(1, greatest(len(ws) - 1, 0))) AS i FROM w),
        |p AS (SELECT ws[i] || ' ' || ws[i+1] AS pair FROM idx),
        |c AS (SELECT pair, CAST(count(*) AS BIGINT) AS n FROM p GROUP BY pair)
        |SELECT pair, n FROM c ORDER BY n DESC, pair LIMIT 20""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(explode(shingles(tokens(col("text")), 2)).as("pair"))
        .groupBy(col("pair")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("pair")).limit(20)
    },

    // ---------------------------------------------------------------- q86
    // Stratified split assignment: the q59 deterministic hash bucket
    // drives train/val/test (80/10/10), reported per language — the
    // reproducible split every training pipeline needs (re-runs and
    // re-shards select identical documents; rand() does not).
    // Map-only until the |langs| x 3 rollup.
    Q("q86_split_assignment",
      """WITH b AS (SELECT lang,
        |    (CAST(strpos('0123456789abcdef', substr(sha256(CAST(doc_id AS VARCHAR)), 1, 1)) - 1 AS BIGINT) * 16
        |     + CAST(strpos('0123456789abcdef', substr(sha256(CAST(doc_id AS VARCHAR)), 2, 1)) - 1 AS BIGINT)) % 100 AS bucket
        |  FROM documents)
        |SELECT lang,
        |  CASE WHEN bucket < 80 THEN 'train'
        |       WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
        |  CAST(count(*) AS BIGINT) AS n_docs
        |FROM b GROUP BY 1, 2 ORDER BY lang, split""".stripMargin) { (s, d) =>
      val bucket = conv(substring(sha2(col("doc_id").cast("string"), 256), 1, 2), 16, 10)
        .cast("long") % 100
      Tables.documents(s, d)
        .select(col("lang"),
          when(bucket < 80, lit("train"))
            .when(bucket < 90, lit("val"))
            .otherwise(lit("test")).as("split"))
        .groupBy(col("lang"), col("split"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("lang", "split")
    },

    // ---------------------------------------------------------------- q138
    // BPE merge TRAINING — q85 counts the first iteration's
    // candidates; this runs the actual loop: 3 rounds of (count
    // adjacent sub-token pairs over the word-frequency dictionary →
    // take the top pair under a (count desc, pair asc) total order →
    // merge it corpus-wide). The engine side is a driver LOOP over
    // model-sized aggregates (each round's top pair is one collected
    // row — the MLlib-fit pattern, not a data loop); the oracle
    // unrolls the same 3 rounds as CTE blocks. The merge rule is
    // non-overlapping left-to-right replace of the spaced pair — the
    // deterministic rule BOTH engines implement natively (replace /
    // regexp LITERAL), which is the point: reproducible vocabulary
    // training, not HuggingFace emulation. Costs scale with the
    // DICTIONARY (distinct words), never the corpus: the corpus pass
    // is one word-count groupBy; every round works on dictionary
    // rows.
    Q("q138_bpe_train",
      s"""$bpeCtes
         |SELECT CAST(r AS BIGINT) AS rank, pair, replace(pair, ' ', '') AS merged,
         |  CAST(cnt AS BIGINT) AS cnt
         |FROM (SELECT 1 AS r, pair, cnt FROM t1
         |      UNION ALL SELECT 2, pair, cnt FROM t2
         |      UNION ALL SELECT 3, pair, cnt FROM t3)
         |ORDER BY rank""".stripMargin) { (s, d) =>
      import s.implicits._
      TextAnalysis.bpeTrain(bpeWords(s, d), 3)._1
        .toDF("rank", "pair", "merged", "cnt").orderBy("rank")
    },

    // ---------------------------------------------------------------- q140
    // BPE APPLY — the train->segment composition: the 3-round merge
    // table from q138's loop segments the word dictionary, and the
    // corpus re-tokenizes through a broadcast dictionary join (the
    // q65 expensive-metric-over-the-dictionary pattern: segmentation
    // is computed once per WORD, never per occurrence). Per document:
    // word count and post-merge sub-token count -- the before/after a
    // tokenization budget is planned with.
    Q("q140_bpe_apply",
      s"""$bpeCtes,
         |s3 AS (SELECT word, freq, trim(replace(' ' || seg || ' ',
         |         ' ' || t3.pair || ' ', ' ' || replace(t3.pair, ' ', '') || ' ')) AS seg
         |       FROM s2, t3),
         |dw AS (SELECT doc_id, word FROM (
         |    SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
         |  WHERE word <> '')
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
         |  CAST(sum(len(string_split(s3.seg, ' '))) AS BIGINT) AS n_subtokens
         |FROM dw JOIN s3 ON dw.word = s3.word
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      val dict = TextAnalysis.bpeTrain(bpeWords(s, d), 3)._2
        .select(col("word"), size(split(col("seg"), " ")).cast("long").as("n_sub"))
      Tables.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
        .filter(col("word") =!= "")
        .join(broadcast(dict), Seq("word"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_words"), sum(col("n_sub")).as("n_subtokens"))
        .orderBy("doc_id")
    },

    // ---------------------------------------------------------------- q146
    // BM25 top-k retrieval — the inverted-index face of corpus
    // curation (find the docs a keyword set describes: targeted
    // inspection, seeded filtering, contamination triage). Shape is
    // the real posting-list scan: the exploded token stream is
    // filtered to the query vocabulary BEFORE the tf groupBy, so the
    // only shuffle is O(matching postings), never O(corpus tokens);
    // document length rides along in the posting row (no corpus-sized
    // dl join); df and the query grid are broadcast. At 100 TB the
    // postings frame is exactly what a persisted inverted index
    // (band-store pattern, DedupOps.bandStore) would serve — same
    // downstream plan.
    //
    // Scoring is BM25 (k1=1.2, b=0.75) with the RATIONAL idf
    // (N-df+0.5)/(df+0.5) — the log damping is omitted because ln is
    // not engine-portable (no-transcendentals rule, COVERAGE.md §C);
    // per-term ranking is order-equivalent, cross-term weighting
    // differs only in idf spread, and this corpus's 31-word
    // near-uniform vocabulary has almost none. Every arithmetic step
    // is a fixed IEEE expression tree (identical on both engines);
    // per-term contributions are duckRound(6)ed then decimal-summed
    // (the q80/q81 pattern), and ranks compare the exact DECIMAL.
    Q("q146_bm25_topk", bm25Sql) { (s, d) =>
      import s.implicits._
      graft.analytics.Retrieval.bm25TopK(Tables.documents(s, d),
          BM25_QUERIES.toDF("query_id", "term"), 10)
        .orderBy("query_id", "rnk")
    },

    // ---------------------------------------------------------------- q149
    // Incremental inverted-index maintenance — q97's nightly contract
    // for retrieval: the corpus splits 80/20 into an already-indexed
    // batch and a delta; the stored index — a DURABLE TableLog table,
    // read back at its PINNED version (round 12: the eager
    // localCheckpoint stand-in was a corpus-sized block-manager write
    // per measured run, hypersensitive to host disk state — the r11
    // driver's 18–58 s readings — and not the production plan) —
    // merges with the delta's index by plain union, corpus stats
    // merge by component sums, and BM25 runs off the MERGED frame.
    // The oracle is q146's full-corpus recompute — incremental ≡ full
    // is the property under test, hash-checked row for row. This is
    // why the posting schema is (term, doc_id, dl, tf): postings of
    // disjoint doc sets union losslessly and df/avgdl recompute from
    // the merged frame, so index maintenance is O(Δ) with no
    // read-modify-write of stored posting lists.
    Q("q149_bm25_incremental", bm25Sql) { (s, d) =>
      import s.implicits._
      val docs = Tables.documents(s, d)
      val delta = docs.filter(col("doc_id") % 5 === 0)
      val (tbl, v1, n1, t1) = bm25IndexStore(s, d)
      // pruned pinned read: manifest stats drop index files whose
      // term range misses the query vocabulary entirely (the
      // downstream scoresCore term filter makes the extra predicate
      // a no-op semantically — readWhere ≡ read().filter always)
      val vocab = BM25_QUERIES.map(_._2).distinct
      val storedIndex = graft.sinks.TableLog.readWhere(s, tbl,
        col("term").isin(vocab: _*), Some(v1))
      val (n2, t2) = graft.analytics.Retrieval.corpusTokenStats(delta)
      val merged = storedIndex.unionByName(
        graft.analytics.Retrieval.buildIndex(delta))
      graft.analytics.Retrieval.bm25TopKFromIndex(merged, n1 + n2,
          (t1 + t2).toDouble / (n1 + n2).toDouble,
          BM25_QUERIES.toDF("query_id", "term"), 10)
        .orderBy("query_id", "rnk")
    },

    // ---------------------------------------------------------------- q156
    // DSIR importance selection (Xie et al. 2023): hashed word-bigram
    // features, CENTERED smoothed target/raw bucket ratios (r − 1,
    // the rational first-order surrogate of the paper's log-ratio —
    // agrees with true-log on 95 of the top-100, measured; see
    // analytics/Selection scaladoc), pair-level decimal weight sums,
    // top-100 by (score desc, doc_id). Target distribution here:
    // English documents — the selection measurably surfaces them
    // (81/100 at sf0.01, 71/100 at sf0.1 from a 41%-en corpus). The
    // oracle rebuilds the whole fit+score pipeline: same hash, same
    // smoothing arithmetic (double multiply/divide/subtract of exact
    // integers — IEEE-identical), same DECIMAL(21,10) sums.
    Q("q156_dsir_selection",
      """WITH wsx AS (SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents),
        |ix AS (SELECT doc_id, lang, ws, unnest(generate_series(1, greatest(len(ws) - 1, 0))) AS i FROM wsx),
        |sh AS (SELECT DISTINCT doc_id, lang, array_to_string(ws[i:i+1], ' ') AS s FROM ix),
        |pb AS (SELECT doc_id, lang,
        |    CAST(strpos('0123456789abcdef', substr(sha256(s), 1, 1)) - 1 AS BIGINT) * 16
        |  + CAST(strpos('0123456789abcdef', substr(sha256(s), 2, 1)) - 1 AS BIGINT) AS bucket
        |  FROM sh),
        |bc AS (SELECT bucket, CAST(count(*) AS BIGINT) AS cr,
        |         CAST(count(*) FILTER (WHERE lang = 'en') AS BIGINT) AS ct
        |       FROM pb GROUP BY bucket),
        |tot AS (SELECT CAST(sum(cr) AS BIGINT) AS cr_tot, CAST(sum(ct) AS BIGINT) AS ct_tot FROM bc),
        |wt AS (SELECT bucket,
        |         CAST(round(((CAST(ct AS DOUBLE) + 1.0) * (CAST(cr_tot AS DOUBLE) + 256.0))
        |              / ((CAST(cr AS DOUBLE) + 1.0) * (CAST(ct_tot AS DOUBLE) + 256.0)) - 1.0, 6)
        |           AS DECIMAL(21,10)) AS wgt
        |       FROM bc CROSS JOIN tot),
        |sc AS (SELECT doc_id, lang, sum(wgt) AS sd
        |       FROM pb JOIN wt USING (bucket) GROUP BY doc_id, lang)
        |SELECT doc_id, lang, CAST(sd AS DOUBLE) AS dsir_score
        |FROM sc ORDER BY dsir_score DESC, doc_id LIMIT 100""".stripMargin) { (s, d) =>
      graft.analytics.Selection.dsirTopK(
        Tables.documents(s, d), col("lang") === "en", 100)
    },

    // ---------------------------------------------------------------- q157
    // Nested scaling-law subsample manifests: S_1/64 ⊂ S_1/16 ⊂
    // S_1/4 ⊂ S_full by sha-bucket arithmetic (bucket < t nests
    // structurally), one MERGEABLE manifest row per threshold
    // (count / token sum / order-independent id checksum / id range
    // — no corpus-sized id list anywhere; see Mixture scaladoc).
    // The ablation-dataset contract for a scaling study: rerun- and
    // reshard-stable membership, and two corpus halves' manifests
    // merge into the whole's.
    Q("q157_scaling_subsamples",
      s"""WITH h AS (SELECT doc_id,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS nt,
         |    ${hexValSql("CAST(doc_id AS VARCHAR)", 1, 3)} AS bucket,
         |    ${hexValSql("CAST(doc_id AS VARCHAR)", 4, 6)} AS iv
         |  FROM documents),
         |t AS (SELECT doc_id, nt, iv,
         |    CASE WHEN bucket < 64 THEN 0 WHEN bucket < 256 THEN 1
         |         WHEN bucket < 1024 THEN 2 ELSE 3 END AS tier
         |  FROM h),
         |g AS (SELECT tier, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(nt) AS BIGINT) AS n_tokens, CAST(sum(iv) AS BIGINT) AS id_sum,
         |    min(doc_id) AS min_id, max(doc_id) AS max_id
         |  FROM t GROUP BY tier),
         |x AS (SELECT g.*, unnest(CASE tier
         |    WHEN 0 THEN [64, 256, 1024, 4096] WHEN 1 THEN [256, 1024, 4096]
         |    WHEN 2 THEN [1024, 4096] ELSE [4096] END) AS threshold FROM g)
         |SELECT CAST(threshold AS BIGINT) AS threshold,
         |  CAST(sum(n_docs) AS BIGINT) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         |  CAST(sum(id_sum) AS BIGINT) AS id_sum,
         |  min(min_id) AS min_id, max(max_id) AS max_id
         |FROM x GROUP BY threshold ORDER BY threshold""".stripMargin) { (s, d) =>
      graft.ops.Mixture.nestedSubsamples(Tables.documents(s, d))
    },

    // ---------------------------------------------------------------- q158
    // Contamination SPAN profile — the evidence a team reviews before
    // q129's verdict drops a document: for every (corpus doc,
    // benchmark doc) sharing 4-grams, the LONGEST CONTIGUOUS run of
    // matched corpus positions (span_tokens = run + 3: every
    // 4-window inside the span appears in that benchmark doc — the
    // n-gram-collision window decontamination reports use), plus
    // total matched positions and run count. Positions come from the
    // native SpanExplode generator (q100's machinery — positional,
    // multiset); the benchmark side is the per-bench-doc DISTINCT
    // gram set; the corpus stream is Bloom-pruned MAP-SIDE against
    // the union of benchmark grams before the equi-join attaches
    // bench ids (Dedup.bloomProbe — at real <1% hit rates the join
    // input is ~the hit set, not the corpus; the inner equi-join
    // resolves the Bloom's false positives exactly). Runs via the
    // i − row_number trick under a (doc, bench) PARTITIONED window —
    // per-pair row counts are doc-length-bounded, no global sort.
    Q("q158_contamination_spans",
      """WITH wsx AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |ix AS (SELECT doc_id, ws, unnest(generate_series(1, greatest(len(ws) - 3, 0))) AS i FROM wsx),
        |cg AS (SELECT doc_id, i, array_to_string(ws[i:i+3], ' ') AS s FROM ix WHERE doc_id % 50 <> 0),
        |bg AS (SELECT DISTINCT doc_id AS bench_id, array_to_string(ws[i:i+3], ' ') AS s
        |       FROM ix WHERE doc_id % 50 = 0),
        |m AS (SELECT DISTINCT cg.doc_id, bg.bench_id, cg.i FROM cg JOIN bg USING (s)),
        |r AS (SELECT doc_id, bench_id, i,
        |        i - row_number() OVER (PARTITION BY doc_id, bench_id ORDER BY i) AS grp
        |      FROM m),
        |g AS (SELECT doc_id, bench_id, grp, CAST(count(*) AS BIGINT) AS run_len
        |      FROM r GROUP BY doc_id, bench_id, grp)
        |SELECT doc_id, bench_id, max(run_len) + 3 AS span_tokens,
        |  CAST(sum(run_len) AS BIGINT) AS n_matches,
        |  CAST(count(*) AS BIGINT) AS n_runs
        |FROM g GROUP BY doc_id, bench_id
        |ORDER BY doc_id, bench_id""".stripMargin) { (s, d) =>
      graft.analytics.DedupOps
        .contaminationSpans(Tables.documents(s, d), col("doc_id") % 50 === 0)
        .orderBy("doc_id", "bench_id")
    },

    // ---------------------------------------------------------------- q162
    // Checksum-validated PII detection — the step beyond q83's regex
    // scrub: a 16-digit match is only a PAYMENT CARD if its Luhn
    // checksum holds (ISO/IEC 7812), and that check is what cuts the
    // ~90% of digit-run regex hits that are order numbers/ids — the
    // false-positive problem real PII pipelines have. PII is
    // synthesized deterministically (q83's convention: doc_id-derived
    // 16-digit candidates; ~10% are Luhn-valid by arithmetic chance,
    // so the validator demonstrably rejects the rest), validation is
    // real: per-candidate digit sum with the doubled-digit 9-cast,
    // UNROLLED into 16 codegen'd integer expressions on the Spark
    // side (no HOF — the CodegenFallback rule), generate_series +
    // group on the oracle side; integer arithmetic end to end. The
    // oracle keys candidates by OCCURRENCE (list position j), not
    // value — a doc repeating the same 16-digit run must contribute
    // each occurrence separately, as the Spark explode does (a
    // value-keyed group would double the digit sum and undercount
    // candidates).
    Q("q162_luhn_card_audit",
      """WITH srcx AS (SELECT doc_id,
        |    text || ' card 4' || lpad(CAST(doc_id * doc_id % 1000000007 AS VARCHAR), 15, '0') AS t
        |  FROM documents),
        |cx AS (SELECT doc_id, regexp_extract_all(t, '[0-9]{16}') AS xs FROM srcx),
        |cand AS (SELECT doc_id, j, xs[j] AS c
        |         FROM (SELECT doc_id, xs, unnest(generate_series(1, len(xs))) AS j FROM cx)),
        |dg AS (SELECT doc_id, j, i, CAST(substr(c, i, 1) AS BIGINT) AS d
        |       FROM (SELECT doc_id, j, c, unnest(generate_series(1, 16)) AS i FROM cand)),
        |lu AS (SELECT doc_id, j, CAST(sum(CASE WHEN i % 2 = 1
        |         THEN CASE WHEN 2 * d > 9 THEN 2 * d - 9 ELSE 2 * d END
        |         ELSE d END) AS BIGINT) AS s
        |       FROM dg GROUP BY doc_id, j)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_candidates,
        |  CAST(count(*) FILTER (WHERE s % 10 = 0) AS BIGINT) AS n_valid,
        |  CAST(min(s % 10) AS BIGINT) AS residue
        |FROM lu GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      val luhnSum = (1 to 16).map { i =>
        val dd = substring(col("c"), i, 1).cast("long")
        if (i % 2 == 1) {
          val t2 = dd * 2
          when(t2 > 9, t2 - 9).otherwise(t2)
        } else dd
      }.reduce(_ + _)
      Tables.documents(s, d)
        .select(col("doc_id"), concat(col("text"), lit(" card 4"),
          lpad(((col("doc_id") * col("doc_id")) % 1000000007L).cast("string"),
            15, "0")).as("t"))
        .select(col("doc_id"),
          explode(expr("regexp_extract_all(t, '[0-9]{16}', 0)")).as("c"))
        .select(col("doc_id"), luhnSum.as("s"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_candidates"),
          count(when(col("s") % 10 === 0, 1)).as("n_valid"),
          min(col("s") % 10).as("residue"))
        .orderBy("doc_id")
    },

    // ---------------------------------------------------------------- q163
    // Corpus-frequency rarity profile — the integer-exact stand-in
    // for CCNet's LM-perplexity filter (Wenzek et al. 2020 §4.3
    // score docs by how UNUSUAL their vocabulary is against the
    // corpus; a log-prob LM is transcendental, so not oracle-
    // portable — the engine-portable spelling is document-frequency
    // rarity, the same signal's counting face). Two corpus passes:
    // token → df dictionary (two-stage distinct groupBy, no Expand),
    // then a token-to-dictionary equi-join back (the q65 dictionary
    // pattern — dictionary ≪ corpus, AQE broadcasts when it fits).
    // "Rare" is scale-free and cross-multiplied: df·1000 ≤ N_docs OR
    // df ≤ 2 (the absolute floor keeps the rule meaningful at gate
    // scales where N/1000 < 1). rare_heavy flags docs where ≥10% of
    // token occurrences are rare — the filter verdict.
    Q("q163_rare_token_profile",
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        |nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
        |dfq AS (SELECT w, CAST(count(*) AS BIGINT) AS df
        |        FROM (SELECT DISTINCT doc_id, w FROM t) GROUP BY w),
        |rr AS (SELECT w, df,
        |         (df * 1000 <= (SELECT n FROM nd) OR df <= 2) AS is_rare
        |       FROM dfq)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(count(*) FILTER (WHERE is_rare) AS BIGINT) AS n_rare,
        |  CAST(min(df) AS BIGINT) AS min_df,
        |  10 * count(*) FILTER (WHERE is_rare) >= count(*) AS rare_heavy
        |FROM t JOIN rr USING (w) GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val nDocs = docs.count()
      val t = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      val dfq = t.select(col("doc_id"), col("w")).distinct()
        .groupBy(col("w")).agg(count(lit(1)).as("df"))
      val rr = dfq.select(col("w"), col("df"),
        (col("df") * 1000 <= lit(nDocs) || col("df") <= 2).as("is_rare"))
      t.join(rr, Seq("w"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"),
          count(when(col("is_rare"), 1)).as("n_rare"),
          min(col("df")).as("min_df"),
          (lit(10) * count(when(col("is_rare"), 1)) >= count(lit(1)))
            .as("rare_heavy"))
        .orderBy("doc_id")
    },

    // ---------------------------------------------------------------- q165
    // Filter-induced distribution drift audit — the train/serve-skew
    // monitor every production pipeline runs: did the q132 quality
    // filter change the corpus MIXTURE (per-feature distribution of
    // kept vs all)? Two-sample chi-square per feature (source, lang,
    // token-length bucket) spelled engine-portably: per-bin
    // (a·N_B − b·N_A)² / (N_A·N_B·(a+b)) with ONLY the two products
    // a·N_B / b·N_A computed in BIGINT (exact to N < 3·10⁹ per
    // side); the square and the denominator run in DOUBLE — the
    // diff is double-exact to |diff| < 2^53 (N ≈ 9·10⁷ per side)
    // and every double op is the same IEEE op on both engines, so
    // parity holds even past exactness. An all-BIGINT spelling
    // would overflow at N ≈ 8·10⁴ (diff² and the N³ denominator
    // both blow 2^63) — keep the square and denominator in double.
    // Then duckRound(6) → DECIMAL(21,10) sum (the q80/q81 pattern).
    // The VERDICT is an effect size, not a p-value:
    // φ² = χ²/N > 0.01 flags the feature (at 100 TB everything is
    // "statistically significant"; effect size is the rule that
    // stays meaningful), per-bin flag at φ²-share > 0.001 names the
    // bins that drive it. Measured on this corpus (sf0.1): the
    // battery's word-count bound makes `len_bucket` drift hard
    // (χ² = 97.3, φ² = 0.019, both short buckets flagged) while
    // `source` (χ² = 11.8) and `lang` (χ² = 1.3 — the synthetic
    // languages share the EN-marker vocabulary, so the stopword rule
    // is lang-neutral here) stay below the line — the audit
    // demonstrably separates drifting from stable features on real
    // output, not by construction. Plan: one corpus scan →
    // 3-way feature explode (union of projections, no Expand) →
    // bin-sized aggs; the |bins| frames are broadcast-scale.
    Q("q165_filter_drift_audit",
      s"""WITH $batteryCtes,
         |feat AS (SELECT d.doc_id, f.nt, d.source, d.lang,
         |           qb.doc_id IS NOT NULL AS kept
         |         FROM documents d JOIN f ON f.doc_id = d.doc_id
         |         LEFT JOIN qb ON qb.doc_id = d.doc_id),
         |fx AS (SELECT 'source' AS feature, source AS bin, kept FROM feat
         |  UNION ALL SELECT 'lang', lang, kept FROM feat
         |  UNION ALL SELECT 'len_bucket', CAST(least(nt // 64, 7) AS VARCHAR), kept FROM feat),
         |bins AS (SELECT feature, bin,
         |    CAST(count(*) AS BIGINT) AS n_all,
         |    CAST(count(*) FILTER (WHERE kept) AS BIGINT) AS n_kept
         |  FROM fx GROUP BY 1, 2),
         |tot AS (SELECT feature, CAST(sum(n_all) AS BIGINT) AS na,
         |          CAST(sum(n_kept) AS BIGINT) AS nb
         |        FROM bins GROUP BY 1),
         |ct AS (SELECT b.feature, b.bin, n_all, n_kept, na, nb,
         |    round(CAST(n_all * nb - n_kept * na AS DOUBLE)
         |        * CAST(n_all * nb - n_kept * na AS DOUBLE)
         |      / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)
         |         * CAST(n_all + n_kept AS DOUBLE)), 6) AS contrib
         |  FROM bins b JOIN tot t ON t.feature = b.feature)
         |SELECT feature, bin, n_all, n_kept, contrib,
         |  contrib * 1000 > CAST(na + nb AS DOUBLE) AS drift
         |FROM ct
         |UNION ALL
         |SELECT feature, '__ALL__', max(na), max(nb),
         |  CAST(sum(CAST(contrib AS DECIMAL(21,10))) AS DOUBLE),
         |  CAST(sum(CAST(contrib AS DECIMAL(21,10))) AS DOUBLE) * 100
         |    > CAST(max(na) + max(nb) AS DOUBLE)
         |FROM ct GROUP BY feature
         |ORDER BY feature, bin""".stripMargin) { (s, d) =>
      val b = TextAnalysis.qualityBattery(col("text"))
      val feat = Tables.documents(s, d).select(col("doc_id"), col("source"),
        col("lang"), b.getField("nt").as("nt"), b.getField("keep").as("kept"))
      val fx = feat.select(lit("source").as("feature"),
          col("source").as("bin"), col("kept"))
        .unionByName(feat.select(lit("lang").as("feature"),
          col("lang").as("bin"), col("kept")))
        .unionByName(feat.select(lit("len_bucket").as("feature"),
          least(expr("nt div 64"), lit(7L)).cast("string").as("bin"), col("kept")))
      val bins = fx.groupBy(col("feature"), col("bin"))
        .agg(count(lit(1)).as("n_all"), count(when(col("kept"), 1)).as("n_kept"))
      val tot = bins.groupBy(col("feature"))
        .agg(sum(col("n_all")).as("na"), sum(col("n_kept")).as("nb"))
      val diff = (col("n_all") * col("nb") - col("n_kept") * col("na"))
        .cast("double")
      val ct = bins.join(tot, Seq("feature"))
        .withColumn("contrib", graft.ops.Exact.duckRound(
          diff * diff
            / (col("na").cast("double") * col("nb").cast("double")
              * (col("n_all") + col("n_kept")).cast("double")),
          6))
      val binRows = ct.select(col("feature"), col("bin"), col("n_all"),
        col("n_kept"), col("contrib"),
        (col("contrib") * 1000 > (col("na") + col("nb")).cast("double")).as("drift"))
      val allRows = ct.groupBy(col("feature"))
        .agg(max(col("na")).as("n_all"), max(col("nb")).as("n_kept"),
          sum(col("contrib").cast("decimal(21,10)")).cast("double").as("chi2"))
        .select(col("feature"), lit("__ALL__").as("bin"), col("n_all"),
          col("n_kept"), col("chi2").as("contrib"),
          (col("chi2") * 100 > (col("n_all") + col("n_kept")).cast("double"))
            .as("drift"))
      binRows.unionByName(allRows).orderBy("feature", "bin")
    },

    // ---------------------------------------------------------------- q190
    // Per-document KEYWORD EXTRACTION — the tagging face of the
    // retrieval stats (q146 ranks docs for a query; this ranks TERMS
    // for a doc — auto-labels, facet keys, inspection summaries): the
    // inverted index's (term, doc, tf) rows scored tf·idf with the
    // rational idf (N−df+0.5)/(df+0.5) — q146's no-ln spelling —
    // duckRound(6) → exact DECIMAL rank compare, top-3 per doc under
    // a (score desc, term asc) total order. The tf groupBy IS the
    // index build (Retrieval.buildIndex, the q149-stored frame — at
    // 100 TB this query reads the store); the df frame is
    // vocabulary-sized and broadcast back; rank-above-row_number
    // plans WindowGroupLimit (map-side partial top-k per doc).
    Q("q190_keyword_extraction",
      """WITH p AS (SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
        |  WHERE term <> '' GROUP BY 1, 2),
        |f AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM p GROUP BY 1),
        |n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
        |sc AS (SELECT p.doc_id, p.term,
        |         CAST(round(CAST(p.tf AS DOUBLE)
        |             * ((n.n - CAST(f.df AS DOUBLE) + 0.5)
        |                / (CAST(f.df AS DOUBLE) + 0.5)), 6)
        |           AS DECIMAL(21,10)) AS s
        |       FROM p JOIN f USING (term) CROSS JOIN n),
        |r AS (SELECT doc_id, term, s, row_number() OVER (
        |        PARTITION BY doc_id ORDER BY s DESC, term ASC) AS rnk FROM sc)
        |SELECT doc_id, CAST(rnk AS BIGINT) AS rnk, term,
        |  CAST(s AS DOUBLE) AS score
        |FROM r WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
      val p = graft.analytics.Retrieval.buildIndex(docs)
      val df_ = p.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val n = docs.count().toDouble // one model-sized scalar (q146's N)
      val sc = p.join(broadcast(df_), Seq("term"))
        .select(col("doc_id"), col("term"),
          graft.ops.Exact.duckRound(col("tf").cast("double")
              * ((lit(n) - col("df").cast("double") + lit(0.5))
                 / (col("df").cast("double") + lit(0.5))), 6)
            .cast("decimal(21,10)").as("s"))
      sc.withColumn("rnk", row_number().over(
          Window.partitionBy(col("doc_id")).orderBy(col("s").desc, col("term").asc)))
        .filter(col("rnk") <= 3)
        .select(col("doc_id"), col("rnk").cast("long").as("rnk"), col("term"),
          col("s").cast("double").as("score"))
        .orderBy("doc_id", "rnk")
    },

    // ---------------------------------------------------------------- q191
    // INCREMENTAL sequence packing — q184's O(Δ) face (the q97 store
    // contract applied to the packing stage): the corpus's first 80%
    // of doc_ids is already packed (its whole stored state is ONE
    // long — the packed token total); the nightly delta packs ALONE
    // from that offset via Pack.packPlacementFrom, never re-reading
    // the packed corpus. The gate is the identity proof: the oracle
    // computes the FULL-corpus window cumsum chain and restricts to
    // delta docs — incremental ≡ full, hash-checked per doc. The
    // windowed sum feeds integer division, so the oracle CASTs it to
    // BIGINT at the window's output (DuckDB windowed sum over BIGINT
    // yields HUGEINT — the q184 binder lesson).
    Q("q191_incremental_packing",
      """WITH mx AS (SELECT 4 * max(doc_id) // 5 AS t FROM documents),
        |tk AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n
        |       FROM documents),
        |c AS (SELECT doc_id, n,
        |        CAST(sum(n) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
        |          AND CURRENT ROW) AS BIGINT) AS cum FROM tk)
        |SELECT doc_id, n AS n_tokens, cum,
        |  CAST((cum - n) // 512 AS BIGINT) AS first_seq,
        |  CAST((cum - 1) // 512 AS BIGINT) AS last_seq,
        |  CAST((cum - n) % 512 AS BIGINT) AS start_off,
        |  CAST((cum - 1) // 512 - (cum - n) // 512 AS BIGINT) AS n_splits
        |FROM c, mx WHERE doc_id > t ORDER BY doc_id""".stripMargin) { (s, d) =>
      val base = Tables.documents(s, d)
        .select(col("doc_id"), size(tokens(col("text"))).cast("long").as("n_tokens"))
      val t = base.agg((lit(4) * max("doc_id") / lit(5)).cast("long")).head.getLong(0)
      // the packing store's whole state: one long (packed token total)
      val packedTokens = base.filter(col("doc_id") <= t)
        .agg(sum(col("n_tokens"))).head.getLong(0)
      graft.ops.Pack.packPlacementFrom(
          base.filter(col("doc_id") > t), 512, packedTokens)
        .select(col("doc_id"), col("n_tokens"), col("cum"), col("first_seq"),
          col("last_seq"), col("start_off"), col("n_splits"))
        .orderBy("doc_id")
    },

    // ---------------------------------------------------------------- q189
    // BPE COMPRESSION CURVE — the vocab-size planning artifact on top
    // of q138 (train) / q140 (apply): corpus-weighted tokens-per-word
    // (fertility) after 0, 1, 2, 3 merge rounds. Round 0 is the
    // char-segmentation ceiling; each row prices what the next merge
    // buys in training-token budget — the curve a tokenizer's vocab
    // size is chosen from (and the multilingual-parity metric's
    // denominator). Everything is DICTIONARY arithmetic: fertility =
    // Σ freq·|seg| / Σ freq over the word-frequency dictionary — the
    // corpus is touched once for the word counts, each round's row is
    // a dictionary-sized agg (no doc re-join, unlike q140's per-doc
    // face). No merge-count shortcut: a self-overlapping pair ("x x"
    // in "x x x") counts adjacent occurrences but merges fewer, so
    // the curve recomputes segmentations rather than subtracting
    // pair counts. One exact BIGINT/BIGINT division per row → IEEE-
    // identical, then duckRound(6).
    Q("q189_bpe_fertility_curve", {
      def row(r: Int, cte: String) =
        s"""SELECT CAST($r AS BIGINT) AS r,
           |  CAST(sum(freq) AS BIGINT) AS n_words,
           |  CAST(sum(freq * len(string_split(seg, ' '))) AS BIGINT) AS n_subtokens,
           |  round(CAST(sum(freq * len(string_split(seg, ' '))) AS DOUBLE)
           |        / CAST(sum(freq) AS DOUBLE), 6) AS fertility
           |FROM $cte""".stripMargin
      s"""$bpeCtes,
         |s3 AS (SELECT word, freq, trim(replace(' ' || seg || ' ',
         |         ' ' || t3.pair || ' ', ' ' || replace(t3.pair, ' ', '') || ' ')) AS seg
         |       FROM s2, t3)
         |${row(0, "s0")}
         |UNION ALL ${row(1, "s1")}
         |UNION ALL ${row(2, "s2")}
         |UNION ALL ${row(3, "s3")}
         |ORDER BY r""".stripMargin
    }) { (s, d) =>
      import graft.analytics.TextAnalysis
      // ONE training run; the trace exposes every round's checkpointed
      // segmentation (re-training per round would repeat rounds² work)
      val trace = TextAnalysis.bpeTrainTrace(bpeWords(s, d), 3)._2
      val rows = trace.zipWithIndex.map { case (segs, r) =>
        segs
          .agg(sum(col("freq")).as("n_words"),
            sum(col("freq") * size(split(col("seg"), " ")).cast("long"))
              .as("n_subtokens"))
          .select(lit(r.toLong).as("r"), col("n_words"), col("n_subtokens"),
            graft.ops.Exact.duckRound(
              col("n_subtokens").cast("double") / col("n_words").cast("double"), 6)
              .as("fertility"))
      }
      rows.reduce(_ unionByName _).orderBy("r")
    },

    // ---------------------------------------------------------------- q188
    // Quality-rule ATTRITION audit — the knob-validator the q132
    // battery was missing (the q98/q124/q142/q177/q180 convention:
    // every filter family ships the query that tells a user what its
    // knobs are doing before they trust the output). Per rule:
    // n_docs = documents the rule fails, n_sole = documents ONLY that
    // rule fails — the marginal payoff of relaxing exactly that rule
    // (sum of n_sole ≤ total drops; the gap is multi-rule attrition a
    // single relaxation cannot recover). Plus the funnel counts a
    // pipeline report leads with: input → quality keeps →
    // exact-dedup keepers (distinct fingerprints among keeps, the
    // q28 spelling). One TextStats scan for the rules (conditional
    // aggs → a 4-struct array exploded map-side — no Expand, no
    // per-rule rescan); the funnel's dedup arm is a two-stage
    // distinct over the keep set only. Rule spellings read the SAME
    // strings as q132 (batteryInputCte / qualityBattery) — the
    // single-spelling rule, so a bound change moves audit and filter
    // together. Measured at sf0.1: mean-word-length is the dominant
    // sole killer (1,631 of 3,189 total drops recoverable by relaxing
    // it alone; stopword sole-kills just 121 despite failing 1,168 —
    // mostly docs other rules already drop) — exactly the report that
    // tells a curator which knob to look at first.
    Q("q188_quality_attrition", {
      s"""WITH $batteryInputCte,
         |v AS (SELECT doc_id,
         |  (nt BETWEEN 30 AND 10000) AS rw,
         |  (3 * nt <= wc AND 2 * wc <= 9 * nt) AS rm,
         |  (10 * dg <= nc) AS rd,
         |  (st >= 2) AS rs FROM f),
         |rules AS (
         |  SELECT 'rule:digit' AS item,
         |    CAST(sum(CASE WHEN NOT rd THEN 1 ELSE 0 END) AS BIGINT) AS n_docs,
         |    CAST(sum(CASE WHEN NOT rd AND rw AND rm AND rs THEN 1 ELSE 0 END) AS BIGINT) AS n_sole
         |  FROM v
         |  UNION ALL SELECT 'rule:meanlen',
         |    CAST(sum(CASE WHEN NOT rm THEN 1 ELSE 0 END) AS BIGINT),
         |    CAST(sum(CASE WHEN NOT rm AND rw AND rd AND rs THEN 1 ELSE 0 END) AS BIGINT)
         |  FROM v
         |  UNION ALL SELECT 'rule:stopword',
         |    CAST(sum(CASE WHEN NOT rs THEN 1 ELSE 0 END) AS BIGINT),
         |    CAST(sum(CASE WHEN NOT rs AND rw AND rm AND rd THEN 1 ELSE 0 END) AS BIGINT)
         |  FROM v
         |  UNION ALL SELECT 'rule:wordcount',
         |    CAST(sum(CASE WHEN NOT rw THEN 1 ELSE 0 END) AS BIGINT),
         |    CAST(sum(CASE WHEN NOT rw AND rm AND rd AND rs THEN 1 ELSE 0 END) AS BIGINT)
         |  FROM v),
         |keeps AS (SELECT doc_id FROM v WHERE rw AND rm AND rd AND rs),
         |fp AS (SELECT sha256(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
         |       FROM documents JOIN keeps USING (doc_id)),
         |stages AS (
         |  SELECT 'stage:1_input' AS item, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(NULL AS BIGINT) AS n_sole FROM documents
         |  UNION ALL SELECT 'stage:2_quality_keep', CAST(count(*) AS BIGINT),
         |    CAST(NULL AS BIGINT) FROM keeps
         |  UNION ALL SELECT 'stage:3_exact_keepers', CAST(count(DISTINCT fp) AS BIGINT),
         |    CAST(NULL AS BIGINT) FROM fp)
         |SELECT item, n_docs, n_sole FROM (
         |  SELECT * FROM rules UNION ALL SELECT * FROM stages)
         |ORDER BY item""".stripMargin
    }) { (s, d) =>
      import graft.analytics.TextAnalysis
      val docs = Tables.documents(s, d)
      val v = docs.select(col("doc_id"), col("text"),
          TextAnalysis.qualityBattery(col("text")).as("b"))
        .select(col("doc_id"), col("text"),
          col("b.r_wordcount").as("rw"), col("b.r_meanlen").as("rm"),
          col("b.r_digit").as("rd"), col("b.r_stopword").as("rs"),
          col("b.keep").as("keep"))
      def cnt(c: org.apache.spark.sql.Column) =
        sum(when(c, 1L).otherwise(0L))
      // one scan → a 1-row agg → 4 rule rows exploded map-side
      val ruleRows = v.agg(
          cnt(!col("rd")).as("f_rd"), cnt(!col("rd") && col("rw") && col("rm") && col("rs")).as("s_rd"),
          cnt(!col("rm")).as("f_rm"), cnt(!col("rm") && col("rw") && col("rd") && col("rs")).as("s_rm"),
          cnt(!col("rs")).as("f_rs"), cnt(!col("rs") && col("rw") && col("rm") && col("rd")).as("s_rs"),
          cnt(!col("rw")).as("f_rw"), cnt(!col("rw") && col("rm") && col("rd") && col("rs")).as("s_rw"))
        .select(explode(array(
          struct(lit("rule:digit").as("item"), col("f_rd").as("n_docs"), col("s_rd").as("n_sole")),
          struct(lit("rule:meanlen").as("item"), col("f_rm").as("n_docs"), col("s_rm").as("n_sole")),
          struct(lit("rule:stopword").as("item"), col("f_rs").as("n_docs"), col("s_rs").as("n_sole")),
          struct(lit("rule:wordcount").as("item"), col("f_rw").as("n_docs"), col("s_rw").as("n_sole"))
        )).as("r")).select(col("r.item"), col("r.n_docs"), col("r.n_sole"))
      val keeps = v.filter(col("keep"))
      val nullSole = lit(null).cast("long").as("n_sole")
      val stageRows =
        docs.agg(count(lit(1)).as("n_docs"))
          .select(lit("stage:1_input").as("item"), col("n_docs"), nullSole)
        .unionByName(keeps.agg(count(lit(1)).as("n_docs"))
          .select(lit("stage:2_quality_keep").as("item"), col("n_docs"), nullSole))
        .unionByName(keeps
          .select(TextAnalysis.fingerprint(col("text")).as("fp"))
          .distinct() // two-stage distinct groupBy: no Expand
          .agg(count(lit(1)).as("n_docs"))
          .select(lit("stage:3_exact_keepers").as("item"), col("n_docs"), nullSole))
      ruleRows.unionByName(stageRows).orderBy("item")
    },

    // ---------------------------------------------------------------- q208
    // Preference-pair mining (the RLHF/DPO assembly step): documents
    // sharing a 4-token prompt prefix form a response group; each
    // group of ≥ 2 elects chosen = best q26 quality (ties → lowest
    // doc_id) and rejected = worst (ties → highest doc_id) via ONE
    // partial-aggregated max/min-struct groupBy — no window sort, no
    // join, text never leaves the scan projection. `margin` is the
    // quality gap a trainer weights pairs by (0.0 = an
    // indistinguishable pair the consumer should drop).
    Q("q208_preference_pairs",
      s"""WITH $qualityCteSql,
         |p AS (SELECT doc_id,
         |        sha256(array_to_string(string_split(text, ' ')[1:4], ' ')) AS prompt_fp
         |      FROM documents),
         |j AS (SELECT p.prompt_fp, p.doc_id, q.quality
         |      FROM p JOIN qual q ON p.doc_id = q.doc_id),
         |b AS (SELECT prompt_fp, doc_id, quality,
         |        row_number() OVER (PARTITION BY prompt_fp
         |          ORDER BY quality DESC, doc_id ASC) AS rb,
         |        row_number() OVER (PARTITION BY prompt_fp
         |          ORDER BY quality ASC, doc_id DESC) AS rw,
         |        count(*) OVER (PARTITION BY prompt_fp) AS n_group
         |      FROM j)
         |SELECT cb.prompt_fp, cb.doc_id AS chosen_id, cw.doc_id AS rejected_id,
         |  round(cb.quality - cw.quality, 6) AS margin,
         |  CAST(cb.n_group AS BIGINT) AS n_group
         |FROM (SELECT * FROM b WHERE rb = 1) cb
         |JOIN (SELECT * FROM b WHERE rw = 1) cw USING (prompt_fp)
         |WHERE cb.n_group >= 2
         |ORDER BY cb.prompt_fp""".stripMargin) { (s, d) =>
      graft.analytics.Assembly.preferencePairs(Tables.documents(s, d))
        .orderBy("prompt_fp")
    },

    // ---------------------------------------------------------------- q210
    // Prompt-prefix-length audit — the q208 knob validator (the
    // q98/q124/q142/q177/q188 convention: measure the knob's regime
    // before trusting the operator). For each candidate prefix length
    // k ∈ {2, 4, 8}: how many groups form, how many yield a pair
    // (≥ 2 members), how many of those pairs are score-indistinguishable
    // (zero margin — the pairs a trainer must drop), and the total
    // margin mass. Too-short prefixes merge unrelated prompts
    // (pairs ↑, margins noisy); too-long yield singletons (pairs → 0).
    // ONE corpus scan: quality + token array computed once, k exploded
    // map-side, two partial-aggregated groupBys — no joins, no windows.
    Q("q210_prefix_audit",
      s"""WITH $qualityCteSql,
         |p AS (SELECT d.doc_id, string_split(d.text, ' ') AS ws, q.quality
         |      FROM documents d JOIN qual q ON d.doc_id = q.doc_id),
         |e AS (SELECT k, sha256(array_to_string(ws[1:k], ' ')) AS pfp, quality
         |      FROM p CROSS JOIN (SELECT unnest([2, 4, 8]) AS k) ks),
         |g AS (SELECT k, pfp, count(*) AS n, max(quality) AS bq, min(quality) AS wq
         |      FROM e GROUP BY 1, 2)
         |SELECT CAST(k AS BIGINT) AS k,
         |  CAST(count(*) AS BIGINT) AS n_groups,
         |  CAST(sum(CASE WHEN n >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_pairs,
         |  CAST(sum(CASE WHEN n >= 2 AND round(bq - wq, 6) = 0
         |           THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_margin,
         |  CAST(sum(CASE WHEN n >= 2 THEN CAST(round(bq - wq, 6) AS DECIMAL(18,6))
         |           ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE) AS sum_margin
         |FROM g GROUP BY k ORDER BY k""".stripMargin) { (s, d) =>
      import graft.ops.Exact
      val scored = Tables.documents(s, d).select(
        split(col("text"), " ").as("ws"),
        TextAnalysis.qualityScore(col("text")).as("q"))
      val groups = scored
        .select(explode(array(lit(2), lit(4), lit(8))).as("k"),
          col("ws"), col("q"))
        .select(col("k"),
          sha2(concat_ws(" ", slice(col("ws"), lit(1), col("k"))), 256).as("pfp"),
          col("q"))
        .groupBy(col("k"), col("pfp"))
        .agg(count(lit(1)).as("n"), max(col("q")).as("bq"), min(col("q")).as("wq"))
      val margin = Exact.duckRound(col("bq") - col("wq"), 6)
      groups.groupBy(col("k"))
        .agg(
          count(lit(1)).as("n_groups"),
          sum(when(col("n") >= 2, 1L).otherwise(0L)).as("n_pairs"),
          sum(when(col("n") >= 2 && margin === 0.0, 1L).otherwise(0L))
            .as("n_zero_margin"),
          sum(when(col("n") >= 2, margin.cast("decimal(18,6)"))
            .otherwise(lit(0).cast("decimal(18,6)"))).cast("double")
            .as("sum_margin"))
        .select(col("k").cast("long").as("k"), col("n_groups"), col("n_pairs"),
          col("n_zero_margin"), col("sum_margin"))
        .orderBy("k")
    }
  )

  /** q146's oracle (also q149's: incremental index ≡ full recompute
    * is that query's property under test). */
  private lazy val bm25Sql: String = {
      val vals = BM25_QUERIES.map { case (q, t) => s"($q, '$t')" }.mkString(", ")
      val termList = BM25_QUERIES.map(_._2).distinct.mkString("['", "', '", "']")
      s"""WITH st AS (SELECT CAST(count(*) AS DOUBLE) AS n,
         |    CAST(sum(CAST(len(string_split(text, ' ')) AS BIGINT)) AS DOUBLE)
         |      / CAST(count(*) AS DOUBLE) AS avgdl FROM documents),
         |p AS (SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf FROM (
         |    SELECT doc_id, CAST(len(ws) AS DOUBLE) AS dl, unnest(ws) AS term
         |    FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents))
         |  WHERE list_contains($termList, term) GROUP BY 1, 2, 3),
         |f AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM p GROUP BY 1),
         |qt AS (SELECT * FROM (VALUES $vals) AS t(query_id, term)),
         |c AS (SELECT qt.query_id, p.doc_id,
         |        CAST(round(((st.n - CAST(f.df AS DOUBLE) + 0.5)
         |                     / (CAST(f.df AS DOUBLE) + 0.5))
         |            * (CAST(tf AS DOUBLE) * 2.2)
         |            / (CAST(tf AS DOUBLE)
         |               + 1.2 * (0.25 + 0.75 * (dl / st.avgdl))), 6)
         |          AS DECIMAL(21,10)) AS c
         |      FROM p JOIN f USING (term) JOIN qt USING (term) CROSS JOIN st),
         |sc AS (SELECT query_id, doc_id, sum(c) AS sc FROM c GROUP BY 1, 2),
         |r AS (SELECT query_id, doc_id, sc,
         |        row_number() OVER (PARTITION BY query_id
         |          ORDER BY sc DESC, doc_id) AS rnk FROM sc)
         |SELECT CAST(query_id AS BIGINT) AS query_id, CAST(rnk AS BIGINT) AS rnk,
         |  doc_id, CAST(sc AS DOUBLE) AS score
         |FROM r WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin
  }
}
