package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.analytics.Similarity
import graft.plans.RewriteSimTopK
import graft.sources.Tables

/** RewriteSimTopK: the brute-force cosine top-k spelling is
  * substituted with the store-served bound-pruned plan when a
  * registered store covers the corpus — output provably identical
  * (triangle-inequality pruning only discards rows that cannot reach
  * the top-k) — and the rewrite declines every shape where the
  * substitution is not known-safe.
  */
class RewriteSimTopKSpec extends SparkSpec {
  import spark.implicits._

  private val K = 10

  private def bruteRows(df: DataFrame): Seq[(Long, Long, Long, Double)] =
    df.select("qid", "nid", "rnk", "sim").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq.sorted

  /** A clustered corpus: `nClusters` tight balls on the 32-sphere —
    * the regime where the covering radii are small and the bound
    * prunes most cells. Deterministic (hash-based jitter). */
  private def clusteredCorpus(n: Int, nClusters: Int, dim: Int = 32): DataFrame = {
    def h(i: Int, j: Int): Double =
      (((i * 1315423911L + j * 2654435761L) >>> 16) % 1000L).toDouble / 1000.0
    val rows = (0 until n).map { i =>
      val c = i % nClusters
      val base = Array.tabulate(dim)(j => if (j == c) 10.0f else 0.0f)
      val jit = Array.tabulate(dim)(j => (h(i, j) * 0.05).toFloat)
      val v = base.zip(jit).map { case (a, b) => a + b }
      (i.toLong, v.toSeq)
    }
    rows.toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
      .localCheckpoint(true)
  }

  private def buildStore(corpus: DataFrame, nCells: Int): (DataFrame, DataFrame) = {
    val cent = Similarity.kmeansCentroids(corpus, nCells, 1).localCheckpoint(true)
    val store = Similarity.kmeansAssign(corpus, cent).localCheckpoint(true)
    (store, cent)
  }

  test("rewrite fires on the brute-force spelling and returns identical rows") {
    val e = Tables.embeddings(spark, sf("sf0.001"))
    val expected = bruteRows(
      Similarity.bruteForceTopK(e.filter($"vec_id" < 10), e, K))
    val (store, cent) = buildStore(e, 16)
    val h = RewriteSimTopK.register(e, store, cent, label = "spec-parquet")
    try {
      val df = Similarity.bruteForceTopK(e.filter($"vec_id" < 10), e, K)
      val got = bruteRows(df)
      assert(h.hitCount > 0, "rewrite did not fire on the registered corpus")
      // the substituted plan scans the checkpointed store, not two
      // parquet corpus branches
      val physical = df.queryExecution.executedPlan.toString
      assert(physical.contains("Scan ExistingRDD"), physical)
      assert(got == expected)
    } finally RewriteSimTopK.unregister(h)
  }

  test("a SECOND parquet read of the same table still matches the registered leaf") {
    val (store, cent) = buildStore(Tables.embeddings(spark, sf("sf0.001")), 16)
    val h = RewriteSimTopK.register(
      Tables.embeddings(spark, sf("sf0.001")), store, cent, label = "spec-releaf")
    try {
      val e2 = Tables.embeddings(spark, sf("sf0.001")) // fresh FileIndex
      Similarity.bruteForceTopK(e2.filter($"vec_id" < 10), e2, K)
        .queryExecution.executedPlan
      assert(h.hitCount > 0, "path-keyed leaf compare failed")
    } finally RewriteSimTopK.unregister(h)
  }

  test("exact on a clustered corpus AND the bound actually prunes") {
    val corpus = clusteredCorpus(240, 8)
    val (store, cent) = buildStore(corpus, 8)
    val quant = Similarity.collectModel(cent)
    val radii = Similarity.cellRadii(store, cent)
    val q = corpus.filter($"vec_id" < 6)
    val expected = bruteRows(Similarity.bruteForceTopK(q, corpus, K))
    val got = bruteRows(
      Similarity.exactTopKFromStoreModel(q, store, quant, radii, K, nProbe0 = 1))
    assert(got == expected)
    // pruning: with 8 tight clusters the kth-best from the query's own
    // cluster beats every other cell's bound — far fewer than 6×8
    // (query, cell) pairs survive
    val survived = Similarity.boundSurvivingPairs(
      q, store, quant, radii, K, nProbe0 = 1).count()
    assert(survived < 6L * 8 / 2, s"bound pruned nothing: $survived of 48 pairs survived")
  }

  test("a zero-norm centroid never prunes its cell — exactness survives a degenerate model") {
    // round-12 advisor finding: a cn = 0 centroid made every query's
    // bound for that cell NULL and the ub >= thr filter silently
    // dropped the whole cell — rows assigned to it vanished from the
    // "provably exact" top-k. The fix coalesces the degenerate cell's
    // bound to a no-prune value (2 + margin beats any cosine threshold).
    val corpus = clusteredCorpus(240, 8)
    val (store, cent) = buildStore(corpus, 8)
    val radii = Similarity.cellRadii(store, cent)
    val q = corpus.filter($"vec_id" < 6)
    val expected = bruteRows(Similarity.bruteForceTopK(q, corpus, K))
    // zero out one centroid the queries' own cluster lives in (cluster
    // of vec_id 0..5 spans cells; zero them ALL one at a time is
    // overkill — zeroing any cell that holds expected neighbors shows
    // the drop): degrade EVERY centroid to zero-norm so every cell
    // rides the no-prune path — the result must still be brute-exact
    val quant0 = Similarity.collectModel(cent)
      .map { case (cid, cv, _) => (cid, Array.fill(cv.length)(0.0), 0.0) }
    val got = bruteRows(
      Similarity.exactTopKFromStoreModel(q, store, quant0, radii, K, nProbe0 = 1))
    assert(got == expected,
      "zero-norm centroids must degrade to a full scan, not drop cells")
    // both inline and broadcast-fallback branches carry the fix
    val gotBc = bruteRows(Similarity.exactTopKFromStoreModel(
      q, store, quant0, radii, K, nProbe0 = 1, maxInlineDoubles = 1))
    assert(gotBc == expected)
  }

  test("rewrite fires on a checkpointed (LogicalRDD) corpus too, end to end") {
    val corpus = clusteredCorpus(240, 8)
    val (store, cent) = buildStore(corpus, 8)
    val h = RewriteSimTopK.register(corpus, store, cent, nProbe0 = 1, label = "spec-rdd")
    try {
      val df = Similarity.bruteForceTopK(corpus.filter($"vec_id" < 6), corpus, K)
      val got = bruteRows(df)
      assert(h.hitCount > 0, "rewrite did not fire on LogicalRDD corpus")
      RewriteSimTopK.clear()
      val expected = bruteRows(
        Similarity.bruteForceTopK(corpus.filter($"vec_id" < 6), corpus, K))
      assert(got == expected)
    } finally RewriteSimTopK.clear()
  }

  test("rule composition: the plain HOF dot-product spelling is normalized then served") {
    // a user with no graft imports writes cosine via
    // aggregate(zip_with(...)) — RewriteVecDot normalizes the HOF to
    // the native VecDot in the SAME optimizer batch, and RewriteSimTopK
    // then recognizes the canonical pattern and serves it: two rules
    // composing on one declarative spelling
    import org.apache.spark.sql.expressions.Window
    def hofDot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, v) => acc + v)
    val e = Tables.embeddings(spark, sf("sf0.001"))
    val (store, cent) = buildStore(e, 16)
    val h = RewriteSimTopK.register(e, store, cent, label = "spec-hof")
    try {
      val q = e.filter($"vec_id" < 10)
        .select($"vec_id".as("qid"), $"embedding".as("qv"))
        .withColumn("qn", sqrt(hofDot($"qv", $"qv")))
      val c = e.select($"vec_id".as("nid"), $"embedding".as("nv"))
        .withColumn("nn", sqrt(hofDot($"nv", $"nv")))
      val sims = c.join(broadcast(q), $"qid" =!= $"nid")
        .select($"qid", $"nid",
          graft.ops.Exact.duckRound(hofDot($"qv", $"nv") / ($"qn" * $"nn"), 6).as("sim"))
      val w = Window.partitionBy($"qid").orderBy($"sim".desc, $"nid")
      val df = sims.withColumn("rnk", row_number().over(w).cast("long"))
        .filter($"rnk" <= K)
      val got = bruteRows(df)
      assert(h.hitCount > 0, "HOF spelling did not normalize+serve")
      RewriteSimTopK.clear()
      assert(got == bruteRows(Similarity.bruteForceTopK(e.filter($"vec_id" < 10), e, K)))
    } finally RewriteSimTopK.clear()
  }

  test("pure spark.sql spelling is served too (duck_round + vec_dot as SQL functions)") {
    val e = Tables.embeddings(spark, sf("sf0.001"))
    e.createOrReplaceTempView("emb_simrw")
    val sqlText =
      """SELECT qid, nid, sim, CAST(rn AS BIGINT) AS rnk FROM (
        |  SELECT qid, nid, sim,
        |         row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid ASC) AS rn
        |  FROM (SELECT q.qid, c.nid,
        |          duck_round(vec_dot(q.qv, c.nv) / (q.qn * c.nn), 6) AS sim
        |        FROM (SELECT vec_id AS nid, embedding AS nv,
        |                sqrt(vec_dot(embedding, embedding)) AS nn FROM emb_simrw) c
        |        JOIN (SELECT vec_id AS qid, embedding AS qv,
        |                sqrt(vec_dot(embedding, embedding)) AS qn
        |              FROM emb_simrw WHERE vec_id < 10) q
        |          ON q.qid <> c.nid))
        |WHERE rn <= 10""".stripMargin
    val expected = bruteRows(spark.sql(sqlText))
    val (store, cent) = buildStore(e, 16)
    val h = RewriteSimTopK.register(e, store, cent, label = "spec-sql")
    try {
      val got = bruteRows(spark.sql(sqlText))
      assert(h.hitCount > 0, "SQL spelling did not serve")
      assert(got == expected)
    } finally RewriteSimTopK.unregister(h)
  }

  // ------------------------------------------------------------ declines

  test("decline: no registered store") {
    RewriteSimTopK.clear()
    val e = Tables.embeddings(spark, sf("sf0.001"))
    val df = Similarity.bruteForceTopK(e.filter($"vec_id" < 10), e, K)
    val physical = df.queryExecution.executedPlan.toString
    assert(!physical.contains("Scan ExistingRDD"), physical)
  }

  test("decline: filtered corpus is not the stored corpus") {
    val e = Tables.embeddings(spark, sf("sf0.001"))
    val (store, cent) = buildStore(e, 16)
    val h = RewriteSimTopK.register(e, store, cent, label = "spec-decl-filter")
    try {
      val filtered = e.filter($"vec_id" % 3 =!= 0)
      Similarity.bruteForceTopK(filtered.filter($"vec_id" < 10), filtered, K)
        .queryExecution.executedPlan
      assert(h.hitCount == 0, "rewrite fired on a FILTERED corpus")
    } finally RewriteSimTopK.unregister(h)
  }

  test("decline: non-cosine score (unnormalized dot)") {
    val e = Tables.embeddings(spark, sf("sf0.001"))
    val (store, cent) = buildStore(e, 16)
    val h = RewriteSimTopK.register(e, store, cent, label = "spec-decl-dot")
    try {
      import org.apache.spark.sql.expressions.Window
      val q = e.filter($"vec_id" < 10)
        .select($"vec_id".as("qid"), $"embedding".as("qv"))
      val c = e.select($"vec_id".as("nid"), $"embedding".as("nv"))
      val sims = c.join(broadcast(q), $"qid" =!= $"nid")
        .select($"qid", $"nid",
          graft.ops.Exact.duckRound(Similarity.dot($"qv", $"nv"), 6).as("sim"))
      val w = Window.partitionBy($"qid").orderBy($"sim".desc, $"nid")
      sims.withColumn("rnk", row_number().over(w).cast("long"))
        .filter($"rnk" <= K)
        .queryExecution.executedPlan
      assert(h.hitCount == 0, "rewrite fired on an unnormalized-dot score")
    } finally RewriteSimTopK.unregister(h)
  }

  test("rank consumed downstream: rewrite stays safe (all four columns preserved)") {
    // Downstream consumption sits ABOVE the matched four-column shape
    // as its own Project, and the substitution preserves qid/nid/sim/
    // rnk under their original exprIds — so firing here is
    // compositionally safe (unlike RewriteWindowTopK, whose heap plan
    // DROPS the rank and must decline when it survives). A plan where
    // the extra expression collapses INTO the matched Project (5-item
    // list) declines structurally instead; either way the rows are
    // exactly the brute-force rows.
    val e = Tables.embeddings(spark, sf("sf0.001"))
    val expected = Similarity.bruteForceTopK(e.filter($"vec_id" < 10), e, K)
      .withColumn("rnk2", $"rnk" * 2)
      .collect().map(_.toString).sorted.toSeq
    val (store, cent) = buildStore(e, 16)
    val h = RewriteSimTopK.register(e, store, cent, label = "spec-rank-downstream")
    try {
      val got = Similarity.bruteForceTopK(e.filter($"vec_id" < 10), e, K)
        .withColumn("rnk2", $"rnk" * 2)
        .collect().map(_.toString).sorted.toSeq
      assert(got == expected)
    } finally RewriteSimTopK.unregister(h)
  }

  test("decline: different rounding scale is not the canonical cosine") {
    val e = Tables.embeddings(spark, sf("sf0.001"))
    val (store, cent) = buildStore(e, 16)
    val h = RewriteSimTopK.register(e, store, cent, label = "spec-decl-round")
    try {
      import org.apache.spark.sql.expressions.Window
      val q = e.filter($"vec_id" < 10)
        .select($"vec_id".as("qid"), $"embedding".as("qv"))
        .withColumn("qn", sqrt(Similarity.dot($"qv", $"qv")))
      val c = e.select($"vec_id".as("nid"), $"embedding".as("nv"))
        .withColumn("nn", sqrt(Similarity.dot($"nv", $"nv")))
      val sims = c.join(broadcast(q), $"qid" =!= $"nid")
        .select($"qid", $"nid",
          graft.ops.Exact.duckRound(
            Similarity.dot($"qv", $"nv") / ($"qn" * $"nn"), 4).as("sim"))
      val w = Window.partitionBy($"qid").orderBy($"sim".desc, $"nid")
      sims.withColumn("rnk", row_number().over(w).cast("long"))
        .filter($"rnk" <= K)
        .queryExecution.executedPlan
      assert(h.hitCount == 0, "rewrite fired on a round-4 score")
    } finally RewriteSimTopK.unregister(h)
  }
}
