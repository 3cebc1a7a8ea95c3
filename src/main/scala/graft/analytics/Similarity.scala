package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Vector similarity search over an ARRAY<FLOAT> embedding column.
  *
  * Two paths, one contract:
  *  - bruteForceTopK: exact cosine top-k. The query side is broadcast
  *    (it is k rows), so the candidate table streams through ONE scan
  *    with no shuffle of the big side — at 100 TB this is a map-only
  *    stage plus a per-query top-k heap (TakeOrdered via window).
  *  - lshTopK: multi-table sign-random-projection LSH. Vectors hash
  *    per table to the sign pattern of projections onto deterministic
  *    ±1 hyperplanes; candidates share ANY table's bucket with the
  *    query (L-table union — the standard recall amplification).
  *    Recall/latency trade is (tables, planes-per-table); q98 is the
  *    recall audit that measures both paths on the user's corpus.
  *
  * All arithmetic: float→double casts are exact, products of floats in
  * double are exact, and the fold order is the array order — so the
  * only inexactness is the running double sum, pinned by round(…,6)
  * at the output boundary.
  */
object Similarity {

  /** Σ aᵢ·bᵢ in double, left-to-right — the native codegen'd
    * expression (graft.functions.VecDot). Bit-identical to the HOF
    * formulation `aggregate(zip_with(a, b, _*_), 0.0, _+_)` but stays
    * inside whole-stage codegen (VecSpec asserts both claims). */
  def dot(a: Column, b: Column): Column =
    graft.functions.VecExpressions.vec_dot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Deterministic ±1 hyperplanes: sign from sha256("p|d") parity —
    * reproducible across engines, runs, and languages. */
  def planeWeights(nPlanes: Int, dim: Int): Array[Array[Double]] = {
    Array.tabulate(nPlanes, dim) { (p, d) =>
      val md = java.security.MessageDigest.getInstance("SHA-256")
      val h = md.digest(s"$p|$d".getBytes("UTF-8"))
      if ((h(0) & 1) == 0) 1.0 else -1.0
    }
  }

  /** LSH bucket id: bit p set iff dot(v, plane_p) >= 0. */
  def bucketExpr(v: Column, planes: Array[Array[Double]]): Column =
    planes.zipWithIndex.map { case (w, p) =>
      when(dot(v, typedLit(w.toSeq)) >= 0, lit(1L)).otherwise(lit(0L)) * (1L << p)
    }.reduce(_ + _)

  /** XOR masks of the Hamming ball of `radius` over `nPlanes` bits —
    * the multi-probe list of the near-dup LSH family. One-sided
    * probing with these masks finds every pair whose signatures
    * differ in ≤ radius bits (XOR distance is symmetric).
    *
    * Choosing radius: a pair at cosine s agrees on one plane with
    * p = 1 − acos(s)/π, so it is caught with probability
    * Σ_{i≤radius} C(n,i)·p^(n−i)·(1−p)^i. At the defaults (6 planes,
    * radius 1): ≈0.98 at s=0.99, 0.79 at s=0.9, 0.32 at s=0.45 —
    * fine for true near-dups (they sit near s=1), thin for pairs at
    * a low threshold; radius 2 lifts s=0.9 to 0.95 at 22/7× the
    * probe count. The q98-audit lesson applied to this family: the
    * knob is explicit and the math is here, instead of a silent
    * default. */
  def probeMasks(nPlanes: Int, radius: Int = 1): Seq[Long] =
    // built from bit-position combinations — Σ C(n,i) masks of work,
    // never a 2^nPlanes sweep (a store built with nPlanes=32 would
    // otherwise make the driver filter 4.3 B longs)
    (0 to radius).flatMap(r =>
      (0 until nPlanes).combinations(r)
        .map(_.foldLeft(0L)((m, p) => m | (1L << p)))).sorted

  /** Exact cosine top-k for each query vector (queries broadcast). */
  def bruteForceTopK(queries: DataFrame, candidates: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = queries.select(col("vec_id").as("qid"), col("embedding").as("qv"))
      .withColumn("qn", norm(col("qv")))
    val c = candidates.select(col("vec_id").as("nid"), col("embedding").as("nv"))
      .withColumn("nn", norm(col("nv")))
    val sims = c.join(broadcast(q), col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        graft.ops.Exact.duckRound(dot(col("qv"), col("nv")) / (col("qn") * col("nn")), 6).as("sim"))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid"))
    sims.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
  }

  /** Hard-negative mining for contrastive training data (the DPR
    * recipe, Karpukhin et al. 2020 §3.2: train retrieval/embedding
    * models against the most CONFUSABLE non-positives, not random
    * ones): for each anchor, the k most similar candidates that are
    * NOT positives — from a DIFFERENT source (the weak-supervision
    * positive notion) and below a near-dup ceiling (`maxSim`: a
    * too-similar cross-source candidate is a disguised positive, the
    * known false-negative trap of naive mining). Zero-norm vectors
    * yield null sims (the ANSI-vs-DuckDB x/0 rule) and drop at the
    * ceiling filter on both engines.
    *
    * Same broadcast-anchor exact-scan shape as [[bruteForceTopK]]
    * (the bounded nested loop the PlanSpec allowlist documents); at
    * corpus scale the candidate GENERATOR swaps for the ANN paths
    * (lshTopK buckets / ivfPqRerankTopKFromStore shortlists with k
    * widened to survive the filters) — the source/ceiling filter and
    * rank tail are unchanged. Inputs carry (vec_id, embedding,
    * source). */
  def hardNegativesTopK(queries: DataFrame, candidates: DataFrame,
                        k: Int, maxSim: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = queries.select(col("vec_id").as("qid"), col("embedding").as("qv"),
        col("source").as("q_source"))
      .withColumn("qn", norm(col("qv")))
    val c = candidates.select(col("vec_id").as("nid"), col("embedding").as("nv"),
        col("source").as("n_source"))
      .withColumn("nn", norm(col("nv")))
    val den = col("qn") * col("nn")
    val sim = when(den =!= lit(0.0),
      graft.ops.Exact.duckRound(dot(col("qv"), col("nv")) / den, 6))
    val sims = c.join(broadcast(q),
        col("qid") =!= col("nid") && col("q_source") =!= col("n_source"))
      .select(col("qid"), col("nid"), col("n_source"), sim.as("sim"))
      .filter(col("sim") < maxSim)
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid"))
    sims.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
  }

  /** Embedding near-dup pairs: all (v1 < v2) with cosine ≥ threshold.
    * Exact by construction (this is the oracle-checkable baseline);
    * one side broadcasts, so the pair space streams through a
    * map-side nested loop with the codegen'd VecDot inner loop. At
    * corpus sizes where n² streaming is no longer viable, the
    * candidate set comes from lshTopK/ivfTopK buckets instead — same
    * verify step, sub-quadratic candidates.
    *
    * Guarded as the deliberate O(n²) baseline: refuses more than
    * `maxVectors` inputs (the broadcast side is the FULL vector set
    * replicated per block — past this size the broadcast alone is the
    * failure), naming the candidate-driven scale path. The guard is
    * LAZY (graft.ops.Guards): the count rides the plan as a 1-row
    * broadcast under the block-replicated side, so the check fires
    * while building that side's broadcast — before any pair row
    * exists — and the input is scanned by one query execution, not a
    * count() pre-job plus the query. */
  def cosineNearDupPairs(vecs: DataFrame, threshold: Double,
                         maxVectors: Long = 100000L): DataFrame = {
    val guard = graft.ops.Guards.lazyGuard(
      vecs.agg(count(lit(1)).as("nv")), col("nv"), maxVectors,
      "cosineNearDupPairs is the exact O(n^2) baseline: ",
      s" vectors (> $maxVectors). At this scale use cosineNearDupPairsLsh " +
        "(sign-LSH bucket candidates, same verify join, oracled as q99) — " +
        "or incrementalCosinePairsLsh against a persisted bucket store.")
    // Block trick: an equi-join on a synthetic block key turns the
    // all-pairs nested loop into a codegen'd BroadcastHashJoin (a
    // BroadcastNestedLoopJoin evaluates row-at-a-time, ~4x slower
    // measured). Same pair space: the broadcast side is replicated
    // once per block, the stream side hashes to its own block.
    val blocks = 16
    val n = vecs.select(col("vec_id"), col("embedding"))
      .withColumn("nrm", norm(col("embedding")))
    val a = graft.ops.Guards.gate(
      n.select(col("vec_id").as("v1"), col("embedding").as("av"), col("nrm").as("an"))
        .withColumn("_blk", explode(array((0 until blocks).map(lit): _*))),
      col("v1"), guard)
    // parallelism floor on the STREAM side (round 16): the whole
    // n²/blocks dot-product verify otherwise runs on the corpus
    // scan's split count — one task for a single-row-group file
    // (measured 2.8 s single-task at sf0.1; no-op at real scale)
    val b = graft.ops.Guards.parallelismFloor(
      n.select(col("vec_id").as("v2"), col("embedding").as("bv"), col("nrm").as("bn"))
        .withColumn("_blk", pmod(col("v2"), lit(blocks)).cast("int")))
    // zero-norm guard (round 8): ANSI Spark throws on double x/0;
    // a null cosine simply fails the threshold filter, matching the
    // DuckDB oracle's CASE-guarded spelling on such rows
    val den = col("an") * col("bn")
    b.join(broadcast(a), Seq("_blk"))
      .filter(col("v1") < col("v2"))
      .select(col("v1"), col("v2"),
        when(den =!= lit(0.0), graft.ops.Exact.duckRound(
          dot(col("av"), col("bv")) / den, 6)).as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** Sub-quadratic embedding near-dup — the SCALE sibling of
    * cosineNearDupPairs (which is the guarded exact O(n²) baseline):
    * candidate pairs share a sign-LSH bucket or sit one plane flip
    * apart (multi-probe Hamming-1), then the SAME exact-cosine verify
    * join runs over candidates only. Candidate volume shrinks toward
    * ~n²·(planes+1)/2^planes of the pair space and every step is an
    * equi-join — no broadcast of the full vector set, no nested loop.
    * Output ⊆ the exact pair set with identical sim values
    * (AnalyticsSpec asserts the subset + high-sim recall; q99
    * hash-verifies the whole path against DuckDB). */
  def cosineNearDupPairsLsh(vecs: DataFrame, threshold: Double,
                            nPlanes: Int = 6, probeRadius: Int = 1): DataFrame = {
    val dim = 64
    val planes = planeWeights(nPlanes, dim)
    val masks = probeMasks(nPlanes, probeRadius)
    val n = vecs.select(col("vec_id"), col("embedding"))
      .withColumn("nrm", norm(col("embedding")))
      .withColumn("bucket", bucketExpr(col("embedding"), planes))
    // one-sided probing covers both directions: if sig(a)⊕sig(b) has
    // ≤radius bits set, a's probe list contains b's bucket (see
    // probeMasks for the radius→detection-probability math)
    val probed = n.select(col("vec_id").as("v1"),
      explode(array(masks.map(m =>
        col("bucket").bitwiseXOR(lit(m))): _*)).as("probe"))
    val cands = probed
      .join(n.select(col("vec_id").as("v2"), col("bucket").as("probe")), Seq("probe"))
      .filter(col("v1") < col("v2"))
      .select(col("v1"), col("v2")).distinct()
    // sides re-read the vectors narrowly by id; column pruning drops
    // the bucket computation from these branches
    val a = n.select(col("vec_id").as("v1"), col("embedding").as("av"), col("nrm").as("an"))
    val b = n.select(col("vec_id").as("v2"), col("embedding").as("bv"), col("nrm").as("bn"))
    cands.join(a, Seq("v1")).join(b, Seq("v2"))
      .select(col("v1"), col("v2"),
        graft.ops.Exact.duckRound(
          dot(col("av"), col("bv")) / (col("an") * col("bn")), 6).as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** Exact-cosine verification of a candidate pair list: vectors are
    * re-read narrowly by id (two equi-joins), sims rounded at the
    * boundary, thresholded. The shared tail of every bucketed
    * near-dup spelling. */
  private def verifyCosine(cands: DataFrame, vecs: DataFrame,
                           threshold: Double): DataFrame = {
    val n = vecs.select(col("vec_id"), col("embedding"))
      .withColumn("nrm", norm(col("embedding")))
    val a = n.select(col("vec_id").as("v1"), col("embedding").as("av"), col("nrm").as("an"))
    val b = n.select(col("vec_id").as("v2"), col("embedding").as("bv"), col("nrm").as("bn"))
    cands.join(a, Seq("v1")).join(b, Seq("v2"))
      .select(col("v1"), col("v2"),
        graft.ops.Exact.duckRound(
          dot(col("av"), col("bv")) / (col("an") * col("bn")), 6).as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** Persisted sign-LSH bucket store — (vec_id, bucket) — the nightly
    * artifact incremental embedding dedup probes; the vector-space
    * analog of DedupOps.minhashBandStore. */
  def embedBucketStore(vecs: DataFrame, nPlanes: Int = 6): DataFrame =
    vecs.select(col("vec_id"),
      bucketExpr(col("embedding"), planeWeights(nPlanes, 64)).as("bucket"))

  /** Near-dup pairs among already-ingested vectors, read from the
    * persisted bucket store (buckets are NOT recomputed): candidates
    * from the store's Hamming-1 probe self-join, verified over
    * `vecs`, which must cover every id in the store. Same output as
    * cosineNearDupPairsLsh over the same vectors. `nPlanes` must
    * match the value the store was built with (it sets the probe
    * mask width); a mismatch silently under-probes. */
  def pairsFromBucketStore(store: DataFrame, vecs: DataFrame,
                           threshold: Double, nPlanes: Int = 6,
                           probeRadius: Int = 1): DataFrame = {
    val probed = store.select(col("vec_id").as("v1"),
      explode(array(probeMasks(nPlanes, probeRadius).map(m =>
        col("bucket").bitwiseXOR(lit(m))): _*)).as("probe"))
    val cands = probed
      .join(store.select(col("vec_id").as("v2"), col("bucket").as("probe")), Seq("probe"))
      .filter(col("v1") < col("v2"))
      .select(col("v1"), col("v2")).distinct()
    verifyCosine(cands, vecs, threshold)
  }

  /** O(delta) incremental embedding near-dup — the q97 nightly
    * contract in vector space: pairs INVOLVING at least one vector of
    * `delta`, found by probing the persisted bucket store with only
    * the delta's buckets. A sign-LSH bucket depends only on the
    * vector itself, so old-old pairs cannot change when vectors
    * arrive and P(C ∪ Δ) = P(C) ∪ incremental — EXACTLY; the new
    * store is S(C) ∪ embedBucketStore(Δ). The Hamming-≤1 candidate
    * rule is symmetric, so one-sided probing FROM the delta reaches
    * every old-new and new-new candidate; least/greatest
    * canonicalizes because old and new ids interleave. Verification
    * re-reads ONLY candidate vectors: one semi-join on the candidate
    * id list touches the corpus. AnalyticsSpec proves stored ∪
    * incremental ≡ full recompute across two successive deltas; q102
    * gate-verifies the identity against the full-corpus oracle. */
  def incrementalCosinePairsLsh(store: DataFrame, corpus: DataFrame,
                                delta: DataFrame, threshold: Double,
                                nPlanes: Int = 6, probeRadius: Int = 1): DataFrame = {
    val masks = probeMasks(nPlanes, probeRadius)
    // |delta| rows, consumed by both probe sides AND the store union —
    // materialized, exactly like q97's deltaBands (it IS the store
    // increment a nightly run persists anyway).
    val deltaB = embedBucketStore(delta, nPlanes).localCheckpoint(true)
    val full = store.unionByName(deltaB)
    val probed = deltaB.select(col("vec_id").as("va"),
      explode(array(masks.map(m =>
        col("bucket").bitwiseXOR(lit(m))): _*)).as("probe"))
    // output-sized but feeds the verify chain's three branches —
    // materialized like q97's candidate list
    val cands = probed
      .join(full.select(col("vec_id").as("vb"), col("bucket").as("probe")), Seq("probe"))
      .filter(col("va") =!= col("vb"))
      .select(least(col("va"), col("vb")).as("v1"),
        greatest(col("va"), col("vb")).as("v2"))
      .distinct()
      .localCheckpoint(true)
    val ids = cands.select(col("v1").as("vec_id"))
      .unionByName(cands.select(col("v2").as("vec_id"))).distinct()
    val needed = corpus.unionByName(delta)
      .join(ids, Seq("vec_id"), "left_semi")
      .localCheckpoint(true)
    verifyCosine(cands, needed, threshold)
  }

  /** Initial coarse-quantizer centroids: the `k` lowest-id vectors —
    * the deterministic init both the id-picked quantizer (q45) and
    * k-means training start from. Returns (cid, cv, cn). */
  def initCentroids(vecs: DataFrame, k: Int): DataFrame =
    vecs.orderBy(col("vec_id")).limit(k)
      .select(col("vec_id").as("cid"), col("embedding").cast("array<double>").as("cv"))
      .withColumn("cn", norm(col("cv")))

  /** A coarse quantizer pulled to the driver: (cid, components, norm)
    * per centroid, sorted by cid. A quantizer is a MODEL — k rows of
    * dim doubles, bytes not data — so collecting it is the vector
    * analog of fetching fitted centroids from a k-means estimator,
    * NOT a driver-side data loop. Inlining the model as literals is
    * what removes every shuffle from cell assignment (see cellsExpr). */
  private def collectQuantizer(cent: DataFrame): Array[(Long, Array[Double], Double)] =
    cent.select(col("cid"), col("cv").cast("array<double>"), col("cn"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2)))
      .sortBy(_._1)

  /** The collected (cid, centroid, norm) model rows, public — the
    * FROZEN quantizer a long-running consumer (streaming semantic
    * dedup, SemanticStream) captures once at startup; the stream's
    * scalar assignment replicates nearestCellExpr bit-for-bit against
    * exactly these tuples. One action on the centroid plan, like
    * every other consumer. */
  def frozenQuantizer(cent: DataFrame): Array[(Long, Array[Double], Double)] =
    collectQuantizer(cent)

  /** A collected quantizer rebuilt as a local (cid, cv, cn) frame —
    * the broadcast side of the query-probe joins. A centroid plan can be a
    * full-corpus pass (initCentroids is orderBy+limit over the whole
    * table), so every consumer collects the model ONCE via
    * collectQuantizer and re-derives any frame it needs from the rows
    * — never a second execution of the centroid plan per action. */
  private def localCentroids(spark: SparkSession,
                             quant: Array[(Long, Array[Double], Double)]): DataFrame = {
    import spark.implicits._
    quant.toSeq.map { case (cid, cv, cn) => (cid, cv.toSeq, cn) }
      .toDF("cid", "cv", "cn")
  }

  /** Per-centroid (sim, cid) comparison keys for `v` against an
    * inlined quantizer: sim is the ROUNDED cosine (round(…,6) — the
    * boundary-pinning every oracled cosine uses), `+ 0.0` collapses
    * -0.0 to +0.0 (raw struct comparisons do not normalize the way
    * sort/window operators would), a null sim (zero-norm vector) maps
    * to -2.0 < min cosine (the window's NULLS LAST), and cid rides
    * along NEGATED so lexicographic MAX breaks sim ties toward the
    * LOWEST cid. */
  private def cellKeys(v: Column, nrm: Column,
                       quant: Array[(Long, Array[Double], Double)]): Array[Column] =
    quant.map { case (cid, cv, cn) =>
      // zero-norm guard: ANSI Spark throws on double x/0, so the
      // promised null-sim→-2.0 mapping needs the denominator nulled
      // explicitly (kmeansCentroids never emits a zero-norm centroid,
      // but an input VECTOR can be all-zero)
      val den = nrm * lit(cn)
      val sim = when(den =!= lit(0.0), graft.ops.Exact.duckRound(
        dot(v, typedLit(cv.toSeq)) / den, 6))
      struct((coalesce(sim, lit(-2.0)) + lit(0.0)).as("s"), lit(-cid).as("nc"))
    }

  /** The nearest centroid of `v` — argmax by (rounded cosine desc,
    * cid asc) — as `greatest` over the per-centroid keys: one
    * codegen'd map-side expression, NOTHING shuffles. The old
    * spelling (broadcast nested-loop against the centroid frame +
    * row_number window) expanded the corpus k-fold and shuffled it by
    * vec_id just to pick each row's argmax — at 100 TB that is a
    * full-corpus shuffle per Lloyd round vs zero here. Assignment
    * semantics are bit-identical (q80/q81 hashes). */
  private def nearestCellExpr(v: Column, nrm: Column,
                              quant: Array[(Long, Array[Double], Double)]): Column = {
    require(quant.nonEmpty, "nearestCellExpr: empty quantizer (no centroids)")
    // `greatest` requires >= 2 arguments, and a quantizer CAN shrink to
    // one centroid (kmeansCentroids drops empty cells — a degenerate
    // corpus of near-identical vectors collapses every round into one
    // cell). With a single centroid the argmax is that centroid for
    // every vector, zero-norm ones included.
    if (quant.length == 1) lit(quant.head._1)
    else -greatest(cellKeys(v, nrm, quant).toIndexedSeq: _*).getField("nc")
  }

  /** The `nCells` nearest centroids, nearest first — the multi-probe
    * (query-side) variant: keys sorted DESC via an ascending
    * array_sort on their negation-free form is awkward, so sort the
    * (s, nc) keys ascending and read the tail. array_sort/transform
    * are CodegenFallback HOFs, fine here because only the k query
    * rows (not the corpus) evaluate them; the corpus side always
    * goes through nearestCellExpr. */
  private def cellsExpr(v: Column, nrm: Column,
                        quant: Array[(Long, Array[Double], Double)],
                        nCells: Int): Column = {
    require(quant.nonEmpty, "cellsExpr: empty quantizer (no centroids)")
    val sorted = array_sort(array(cellKeys(v, nrm, quant).toIndexedSeq: _*))
    slice(reverse(transform(sorted, e => -e.getField("nc"))),
      1, nCells)
  }

  /** Ceiling on quantizer size (k×dim doubles) for the
    * inline-as-literals assignment path. The inlined model rides in
    * every task binary: the 16×64 gate quantizer (1k doubles) already
    * shows `Broadcasting large task binary with size 4.1 MiB`
    * warnings — literal arrays cost ~4 KB/double in plan form — so at
    * 4096-dim embeddings × 1024 cells (4M doubles) the pattern would
    * ship ~16 GB per stage. Past this ceiling kmeansAssign/ivfTopK
    * switch to the broadcast-MATRIX spelling (assignLargeK): the
    * collected quantizer broadcasts once per executor and the same
    * rounded-cosine argmax runs in a per-partition loop — still zero
    * shuffle, zero row expansion (the earlier k-fold-explode join
    * fallback spilled >77 GB at k=1600 on the 100× corpus — see
    * assignLargeK's scaladoc). */
  val MAX_INLINE_DOUBLES: Long = 8192L

  /** The LARGE-QUANTIZER argmax assignment — bit-identical semantics
    * to nearestCellExpr (rounded cosine desc, null→-2.0 sentinel,
    * ties → lowest cid) for models too large to inline: the collected
    * quantizer broadcasts ONCE per executor and each row's argmax
    * runs in a per-partition loop — zero row expansion, zero shuffle
    * (the Spark-MLlib KMeans shape; one of the few places a
    * mapPartitions genuinely beats every declarative spelling).
    *
    * Why not the previous exploded broadcast-join: it materialized
    * n×k PAIR ROWS, each carrying the full embedding, through a
    * partial-agged struct-max — fine at the spec scales it was built
    * for, but the k-grows-with-n contract (SemDeDup) breaks it:
    * measured on the 100× corpus (SCALING.md round 12), k=1600 over
    * 200k vectors = 320M wide rows spilled past 77 GB of local disk
    * and killed the job. Dot products here accumulate left-to-right
    * with float→double per element — exactly VecDot's nullSafeEval
    * loop — the cosine rounds through DuckRound's own scalar
    * (`DuckRoundExpr.round6`), and a length-mismatched centroid
    * degrades to the same -2.0 sentinel the join path's null dot
    * produced. AnalyticsSpec pins the inline≡large-k identity. */
  private def assignLargeK(vecs: DataFrame,
                           quant: Array[(Long, Array[Double], Double)]): DataFrame = {
    val sess = vecs.sparkSession
    import sess.implicits._
    val bc = sess.sparkContext.broadcast(quant)
    vecs.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val q = bc.value
        it.map { case (id, v) =>
          var n2 = 0.0
          var i = 0
          while (i < v.length) { n2 += v(i).toDouble * v(i).toDouble; i += 1 }
          val nrm = math.sqrt(n2)
          var bestSim = Double.NegativeInfinity
          var bestCid = Long.MaxValue
          var c = 0
          while (c < q.length) {
            val (cid, cv, cn) = q(c)
            val den = nrm * cn
            val sim =
              if (den == 0.0 || cv.length != v.length) -2.0
              else {
                var d = 0.0
                var j = 0
                while (j < cv.length) { d += v(j).toDouble * cv(j); j += 1 }
                graft.functions.DuckRoundExpr.round6(d / den)
              }
            if (sim > bestSim || (sim == bestSim && cid < bestCid)) {
              bestSim = sim
              bestCid = cid
            }
            c += 1
          }
          (id, bestCid, v)
        }
      }
      .toDF("vec_id", "cid", "embedding")
  }

  /** One Lloyd assignment: each vector to its nearest centroid by
    * ROUNDED cosine (round(…,6), ties → lowest cid) — the same
    * boundary-pinning every oracled cosine in this engine uses, which
    * is what makes the assignment (and so the whole training round)
    * engine-portable: q80 hash-verifies this step against DuckDB.
    * The centroids (a model, ≤ k rows) are inlined as literals via
    * nearestCellExpr, so assignment is one map-side codegen'd pass —
    * no join, no window, no shuffle of the vector side; past
    * `maxInlineDoubles` (see MAX_INLINE_DOUBLES) the broadcast-matrix
    * partition-loop fallback takes over with identical output. */
  def kmeansAssign(vecs: DataFrame, cent: DataFrame,
                   maxInlineDoubles: Long = MAX_INLINE_DOUBLES): DataFrame =
    // ONE action on the centroid plan: the model rows decide
    // inline-vs-join AND feed whichever path runs (re-probing the
    // plan with a count/min(size) aggregate would execute a possibly
    // full-corpus centroid derivation twice per call)
    assignWithQuant(vecs, collectQuantizer(cent), maxInlineDoubles)

  /** Assignment from an ALREADY-COLLECTED quantizer — the path for
    * operators that assign several corpora with one model
    * (semanticContamination): collect once, assign many. */
  private def assignWithQuant(vecs: DataFrame,
                              quant: Array[(Long, Array[Double], Double)],
                              maxInlineDoubles: Long): DataFrame = {
    val modelDoubles = quant.foldLeft(0L)((a, c) => a + c._2.length)
    if (modelDoubles > maxInlineDoubles) assignLargeK(vecs, quant)
    else
      vecs.select(col("vec_id"), col("embedding"))
        .withColumn("cid",
          nearestCellExpr(col("embedding"), norm(col("embedding")), quant))
        .select(col("vec_id"), col("cid"), col("embedding"))
  }

  /** Per-cell, per-dimension exact component sums of an assignment:
    * components are rounded to 6 decimals then summed in DECIMAL —
    * exact, associative, and portable (a raw float→DECIMAL(·,18) cast
    * is NOT: Spark casts through the double's shortest decimal
    * representation while DuckDB rounds its exact binary expansion,
    * and they disagree in the 18th digit). Returns
    * (cid, pos, comp_sum DOUBLE, n) — the verified training
    * intermediate q80 checks; mean = comp_sum / n. */
  def kmeansCellSums(assigned: DataFrame): DataFrame =
    assigned
      .select(col("cid"), posexplode(col("embedding").cast("array<double>")))
      .groupBy(col("cid"), col("pos"))
      .agg(
        sum(graft.ops.Exact.duckRound(col("col"), 6)
          .cast(org.apache.spark.sql.types.DecimalType(21, 10)))
          .cast("double").as("comp_sum"),
        count(lit(1)).as("n"))

  /** Deterministic k-means for the IVF coarse quantizer: `iters` Lloyd
    * rounds of kmeansAssign + per-cell means from kmeansCellSums. The
    * mean is the exact decimal component sum cast to double, divided
    * by the count IN DOUBLE — every step is partition-order-
    * independent AND engine-portable, so the trained quantizer is
    * reproducible run-to-run and expressible in the DuckDB oracle
    * (q80 verifies a training round, q81 runs trained IVF end-to-end).
    * At scale the same loop runs on a sample; the probe structure
    * downstream is unchanged. A cell that captures no vectors drops
    * out of the next round (standard Lloyd behavior, and exactly what
    * the oracle's groupBy does — k shrinks rather than resurrecting
    * an empty cell). Returns (cid, cv, cn) like initCentroids. */
  def kmeansCentroids(vecs: DataFrame, k: Int, iters: Int): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    var cent = initCentroids(vecs, k)
    (1 to iters).foreach { _ =>
      // One distributed pass per round: map-side assignment (no
      // shuffle) + the partial-agg cell-sum groupBy. The k×dim sum
      // rows come back to the driver — model-sized, like the
      // quantizer itself — and the next round's centroids are plain
      // local rows. mean = exact-decimal comp_sum (double) / n and
      // norm = left-to-right Σm² fold, both bit-equal to the SQL
      // spelling the q80/q81 oracles verify.
      val next = kmeansCellSums(kmeansAssign(vecs, cent)).collect()
        .groupBy(_.getLong(0)).toSeq
        .map { case (cid, rows) =>
          val cv = rows.sortBy(_.getInt(1))
            .map(r => r.getDouble(2) / r.getLong(3)).toSeq
          (cid, cv, math.sqrt(cv.foldLeft(0.0)((a, x) => a + x * x)))
        }
        .sortBy(_._1)
      cent = next.toDF("cid", "cv", "cn")
    }
    cent
  }

  /** IVF-style approximate top-k: a deterministic coarse quantizer
    * (the `nCentroids` lowest-id vectors serve as centroids — a
    * k-means iteration would refine them; the partition/probe
    * structure is what matters) assigns every vector to its nearest
    * centroid by cosine; queries probe the `nProbe` nearest cells.
    * Scanned fraction ≈ nProbe/nCentroids of the table, and the cell
    * assignment is the inlined-quantizer expression (cellsExpr) — the
    * candidate side never joins or shuffles to learn its cell. */
  def ivfTopK(queries: DataFrame, candidates: DataFrame, k: Int,
              nCentroids: Int = 16, nProbe: Int = 2,
              centroids: Option[DataFrame] = None,
              maxInlineDoubles: Long = MAX_INLINE_DOUBLES): DataFrame = {
    val cent = centroids.getOrElse(initCentroids(candidates, nCentroids))
    // ONE action on the centroid plan (initCentroids is a full-corpus
    // orderBy+limit — see kmeansAssign): the collected model decides
    // inline-vs-join and feeds both paths.
    val quant = collectQuantizer(cent)
    val modelDoubles = quant.foldLeft(0L)((a, c) => a + c._2.length)
    val cCells =
      if (modelDoubles > maxInlineDoubles)
        // Broadcast-matrix fallback for quantizers past the inline
        // ceiling (see MAX_INLINE_DOUBLES): candidate cells from
        // assignLargeK (identical argmax semantics).
        assignLargeK(candidates.select(col("vec_id"), col("embedding")), quant)
          .select(col("vec_id").as("nid"), col("cid").as("cell"),
            col("embedding").as("nv"))
          .withColumn("nn", norm(col("nv")))
      else
        // Cell assignment is the inlined-model expression
        // (nearestCellExpr): the candidate side streams map-only
        // through ONE codegen'd scan — at 100 TB the only shuffle
        // left in this query is the final top-k.
        candidates.select(col("vec_id").as("nid"), col("embedding").as("nv"))
          .withColumn("nn", norm(col("nv")))
          .withColumn("cell", nearestCellExpr(col("nv"), col("nn"), quant))
    searchCells(queries, cCells, quant, k, nProbe, maxInlineDoubles)
  }

  /** IVF search over a PERSISTED assignment store — the nightly
    * artifact lifecycle the band store already has (q97/q102/q108),
    * applied to the IVF regime q98 says wins on clustered corpora:
    * train once ([[kmeansCentroids]], on the corpus or a sample),
    * persist the centroids and the [[kmeansAssign]] output
    * (vec_id, cid, embedding), then assign ONLY each nightly delta
    * with the FROZEN quantizer — assignment depends on nothing but
    * the row and the model, so store ∪ kmeansAssign(Δ, cent) ≡
    * kmeansAssign(corpus ∪ Δ, cent) exactly (q117 gate-verifies the
    * identity against the from-first-principles oracle; AnalyticsSpec
    * proves it across two deltas and that search from the store
    * matches the recompute). Queries here touch the store only —
    * no per-session retrain, no corpus re-assignment; at 100 TB
    * persist the store bucketed by cid so each probe reads its cells'
    * buckets. Recall under a frozen quantizer drifts as the corpus
    * grows away from the training distribution — re-audit with q98's
    * harness (AnalyticsSpec pins a floor) and retrain when it decays. */
  def ivfTopKFromStore(queries: DataFrame, store: DataFrame,
                       centroids: DataFrame, k: Int, nProbe: Int = 2,
                       maxInlineDoubles: Long = MAX_INLINE_DOUBLES): DataFrame = {
    val quant = collectQuantizer(centroids)
    val cCells = store
      .select(col("vec_id").as("nid"), col("cid").as("cell"),
        col("embedding").as("nv"))
      .withColumn("nn", norm(col("nv")))
    searchCells(queries, cCells, quant, k, nProbe, maxInlineDoubles)
  }

  /** The collected quantizer model, public — (cid, components, norm)
    * rows sorted by cid. Registration-time hook for consumers that
    * serve many queries from one frozen model (RewriteSimTopK's store
    * registry): collect once at registration, plan many times with
    * zero jobs at plan-construction time. */
  def collectModel(cent: DataFrame): Array[(Long, Array[Double], Double)] =
    collectQuantizer(cent)

  /** Safety margin added to every cell bound in
    * [[exactTopKFromStoreModel]]: candidate similarities are rounded
    * half-away to 6 decimals (|round₆(x) − x| ≤ 5·10⁻⁷), and the
    * bound itself is a short chain of IEEE ops (relative error
    * ~10⁻¹⁵). 10⁻⁶ dominates both, so a pruned cell's members sit
    * strictly below the threshold — pruning can only ever DROP rows
    * that provably cannot reach the top-k. */
  val BOUND_MARGIN: Double = 1e-6

  /** Per-cell covering radius of an IVF assignment store:
    * r(cid) = max over members x of ‖x̂ − ĉ‖ on the unit sphere,
    * computed as √(max(0, 2 − 2·cos(x, c))) with the UNROUNDED
    * cosine. A zero-norm member has no direction; it counts as the
    * full diameter 2.0 so the bound stays a true upper bound.
    * One aggregation job + a model-sized collect (≤ nCells rows) —
    * the MLlib-fit pattern, run ONCE at store registration. */
  def cellRadii(store: DataFrame, centroids: DataFrame): Map[Long, Double] = {
    val quant = collectQuantizer(centroids)
    val centLocal = localCentroids(store.sparkSession, quant)
    val nn = norm(col("embedding"))
    val den = nn * col("cn")
    val cosT = when(den =!= lit(0.0), dot(col("embedding"), col("cv")) / den)
    val dist = coalesce(
      sqrt(greatest(lit(0.0), lit(2.0) - lit(2.0) * cosT)), lit(2.0))
    store.join(broadcast(centLocal), Seq("cid"))
      .groupBy(col("cid")).agg(max(dist).as("r"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
  }

  /** EXACT cosine top-k served from a persisted IVF store, with
    * triangle-inequality cell pruning — the plan [[graft.plans.RewriteSimTopK]]
    * substitutes for the brute-force spelling. Output is PROVABLY
    * identical to [[bruteForceTopK]] on nonzero-norm corpora (the
    * brute spelling's own precondition — its unguarded divide throws
    * under ANSI on a zero norm, where this path yields null sims
    * ranked last), on ANY data distribution:
    *
    *  - pass 1 scans the `nProbe0` nearest cells per query and takes
    *    the kth-best rounded cosine as threshold t(q) (−2.0 when
    *    fewer than k candidates turn up — no pruning);
    *  - pass 2 keeps cell j for query q iff
    *    cos(q̂, ĉⱼ) + r(j) + [[BOUND_MARGIN]] ≥ t(q). Cauchy–Schwarz
    *    gives cos(q̂, x̂) ≤ cos(q̂, ĉⱼ) + ‖x̂ − ĉⱼ‖ ≤ cos(q̂, ĉⱼ) + r(j)
    *    for every member x, so every row of a pruned cell scores
    *    strictly below t(q) while ≥ k rows score ≥ t(q) — pruned rows
    *    can never enter the top-k under (sim DESC, nid ASC);
    *  - the exact rounded-cosine rank then runs over surviving cells
    *    only — a SUPERSET of the true top-k, ranked by the same total
    *    order brute force uses, hence the identical result.
    *
    * How much pass 2 prunes is the corpus's business: on a clustered
    * corpus most cells die at the bound (RewriteSimTopKSpec measures
    * it on a planted-cluster corpus); on the near-isotropic gate
    * embeddings radii approach the sphere diameter and the serve
    * degrades gracefully toward a full scan — still exact, never
    * wrong, which is exactly why the REWRITE may substitute it
    * blindly where the approximate serves (q153/q154) remain explicit
    * opt-ins carrying q98's recall audit. Scale shape: the store is
    * the only corpus-sized frame, touched by two cell equi-joins with
    * broadcast (query × cell) probe sides; thresholds are |Q| rows;
    * at 100 TB bucket the store by cid so surviving cells read their
    * buckets alone. */
  def exactTopKFromStoreModel(queries: DataFrame, store: DataFrame,
                              quant: Array[(Long, Array[Double], Double)],
                              radii: Map[Long, Double],
                              k: Int, nProbe0: Int = 2,
                              maxInlineDoubles: Long = MAX_INLINE_DOUBLES): DataFrame =
    rankCellCandidates(storeCells(store),
      boundSurvivingPairs(queries, store, quant, radii, k, nProbe0,
        maxInlineDoubles), k)

  private def storeCells(store: DataFrame): DataFrame =
    store.select(col("vec_id").as("nid"), col("cid").as("cell"),
        col("embedding").as("nv"))
      .withColumn("nn", norm(col("nv")))

  /** The (qid, qv, qn, cell) pairs surviving the covering bound —
    * [[exactTopKFromStoreModel]]'s pruning stage, test-visible so
    * RewriteSimTopKSpec can assert the bound actually prunes on a
    * clustered corpus (and prunes NOTHING it shouldn't anywhere). */
  private[graft] def boundSurvivingPairs(queries: DataFrame, store: DataFrame,
                                         quant: Array[(Long, Array[Double], Double)],
                                         radii: Map[Long, Double],
                                         k: Int, nProbe0: Int = 2,
                                         maxInlineDoubles: Long = MAX_INLINE_DOUBLES): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1, s"exactTopKFromStoreModel: k must be >= 1, got $k")
    require(quant.nonEmpty, "exactTopKFromStoreModel: empty quantizer")
    val cCells = storeCells(store)
    // ---- pass 1: kth-best rounded cosine within each query's nProbe0
    // nearest cells — the pruning threshold t(q)
    val q1 = probeCells(queries, quant, math.min(nProbe0, quant.length),
      maxInlineDoubles)
    val den1 = col("qn") * col("nn")
    val kth = cCells.join(broadcast(q1), Seq("cell"))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), when(den1 =!= lit(0.0),
        graft.ops.Exact.duckRound(dot(col("qv"), col("nv")) / den1, 6)).as("sim"))
      .withColumn("rt", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("sim").desc_nulls_last)))
      .filter(col("rt") === k)
      // kth row with a null sim ⇒ fewer than k non-null candidates ⇒
      // conservative no-prune threshold
      .select(col("qid"), coalesce(col("sim"), lit(-2.0)).as("thr"))
    // ---- pass 2: per-query surviving cells by the covering bound
    val qAll = queries.select(col("vec_id").as("qid"), col("embedding").as("qv"))
      .withColumn("qn", norm(col("qv")))
    val modelDoubles = quant.foldLeft(0L)((a, c) => a + c._2.length)
    val withUb =
      if (modelDoubles > maxInlineDoubles) {
        // broadcast-join fallback past the inline ceiling (the
        // MAX_INLINE_DOUBLES contract): explode cell ids, join the
        // model-sized local frame, same bound arithmetic
        val sess = queries.sparkSession
        import sess.implicits._
        val clDf = quant.toSeq
          .map { case (cid, cv, cn) => (cid, cv.toSeq, cn, radii.getOrElse(cid, -2.0)) }
          .toDF("cell", "cv", "cn", "r")
        val d = col("qn") * col("cn")
        qAll.withColumn("cell",
            explode(array(quant.map(c => lit(c._1)).toIndexedSeq: _*)))
          .join(broadcast(clDf), Seq("cell"))
          .select(col("qid"), col("qv"), col("qn"), col("cell"),
            // a ZERO-NORM CENTROID (cn = 0 — degenerate but legal in a
            // caller-provided model) must read as NO-PRUNE, not null:
            // a null ub would silently drop the whole cell from the
            // "provably exact" result. 2 + margin beats any reachable
            // threshold (cosines are ≤ 1). Zero-norm QUERIES keep the
            // null-everywhere contract (brute throws on the same input).
            when(col("cn") === lit(0.0) && col("qn") =!= lit(0.0),
              lit(2.0 + BOUND_MARGIN))
              .otherwise(when(d =!= lit(0.0),
                dot(col("qv"), col("cv")) / d + col("r") + lit(BOUND_MARGIN)))
              .as("ub"))
      } else {
        val cellUb = array(quant.map { case (cid, cv, cn) =>
          val d = col("qn") * lit(cn)
          // zero-norm centroid ⇒ no-prune bound (see the fallback
          // branch's comment); decided at plan time here — cn is a
          // Scala literal
          val ub =
            if (cn == 0.0) when(col("qn") =!= lit(0.0), lit(2.0 + BOUND_MARGIN))
            else when(d =!= lit(0.0),
              dot(col("qv"), typedLit(cv.toSeq)) / d
                + lit(radii.getOrElse(cid, -2.0)) + lit(BOUND_MARGIN))
          struct(lit(cid).as("cell"), ub.as("ub"))
        }.toIndexedSeq: _*)
        qAll.select(col("qid"), col("qv"), col("qn"), explode(cellUb).as("cu"))
          .select(col("qid"), col("qv"), col("qn"),
            col("cu.cell").as("cell"), col("cu.ub").as("ub"))
      }
    // a zero-norm query has null bounds everywhere and yields no rows
    // (the brute spelling THROWS on the same input — ANSI ÷0)
    withUb.join(broadcast(kth), Seq("qid"), "left")
      .filter(col("ub") >= coalesce(col("thr"), lit(-2.0)))
      .select(col("qid"), col("qv"), col("qn"), col("cell"))
  }

  /** Cell equi-join + exact rounded-cosine per-query top-k — ONE
    * spelling of the IVF rank tail, shared by [[searchCells]] and
    * [[exactTopKFromStoreModel]] (qCells carries (qid, qv, qn, cell);
    * a drifted copy would silently break the rewrite's brute-force
    * identity). */
  private def rankCellCandidates(cCells: DataFrame, qCells: DataFrame,
                                 k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val den = col("qn") * col("nn")
    val sims = cCells.join(broadcast(qCells), Seq("cell"))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        // zero-norm → null sim (ANSI÷0 parity; DuckDB divides to NULL)
        when(den =!= lit(0.0),
          graft.ops.Exact.duckRound(dot(col("qv"), col("nv")) / den, 6)).as("sim"))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc_nulls_last, col("nid"))
    sims.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
  }

  /** Shared IVF probe + rank: query probe cells (inlined multi-probe
    * expression, or the broadcast-join ranking past the inline
    * ceiling — the window runs over |Q|·k rows only), then the
    * cell equi-join and per-query top-k. */
  /** (qid, qv, qn, cell) probe rows: each query's top-`nProbe` cells
    * under the quantizer — the inlined-expression path, or the
    * broadcast-join + window path past the inline ceiling. Shared by
    * [[searchCells]] (IVF) and [[ivfPqRerankTopK]] (IVF-PQ). */
  private def probeCells(queries: DataFrame,
                         quant: Array[(Long, Array[Double], Double)],
                         nProbe: Int, maxInlineDoubles: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val modelDoubles = quant.foldLeft(0L)((a, c) => a + c._2.length)
    if (modelDoubles > maxInlineDoubles) {
      val cids = quant.map(_._1)
      val qExp = queries.select(col("vec_id").as("qid"), col("embedding").as("qv"))
        .withColumn("qn", norm(col("qv")))
        .withColumn("cid", explode(array(cids.map(lit).toIndexedSeq: _*)))
        .join(broadcast(localCentroids(queries.sparkSession, quant)), Seq("cid"))
      // zero-norm guard (the cellKeys/ANSI÷0 rule): a null sim falls
      // to the same -2.0 the inline path maps it to — the two
      // assignment paths stay output-identical on all-zero vectors
      // instead of this one throwing DIVIDE_BY_ZERO
      val qDen = col("qn") * col("cn")
      val qSim = when(qDen =!= lit(0.0), graft.ops.Exact.duckRound(
        dot(col("qv"), col("cv")) / qDen, 6))
      val pw = Window.partitionBy(col("qid"))
        .orderBy(coalesce(qSim, lit(-2.0)).desc, col("cid"))
      qExp.withColumn("rr", row_number().over(pw))
        .filter(col("rr") <= nProbe)
        .select(col("qid"), col("qv"), col("qn"), col("cid").as("cell"))
    } else
      queries.select(col("vec_id").as("qid"), col("embedding").as("qv"))
        .withColumn("qn", norm(col("qv")))
        .withColumn("cell", explode(cellsExpr(col("qv"), col("qn"), quant, nProbe)))
  }

  private def searchCells(queries: DataFrame, cCells: DataFrame,
                          quant: Array[(Long, Array[Double], Double)],
                          k: Int, nProbe: Int,
                          maxInlineDoubles: Long): DataFrame =
    rankCellCandidates(cCells,
      probeCells(queries, quant, nProbe, maxInlineDoubles), k)

  /** lshTopK default hash structure: 6 independent tables of 3 sign
    * planes each — all 18 planes one deterministic sha-parity family
    * (table t owns rows [3t, 3t+3) of planeWeights(18, dim)). */
  val LSH_TABLES = 6
  val LSH_TABLE_PLANES = 3

  /** The per-table bucket ids of `v` as an array column (index =
    * table). One codegen'd expression: 18 VecDot projections, each
    * table folding its 3 sign bits. */
  def tableBucketsExpr(v: Column, nTables: Int = LSH_TABLES,
                       planesPerTable: Int = LSH_TABLE_PLANES,
                       dim: Int = 64): Column = {
    val all = planeWeights(nTables * planesPerTable, dim)
    array((0 until nTables).map { t =>
      bucketExpr(v, all.slice(t * planesPerTable, (t + 1) * planesPerTable))
    }: _*)
  }

  /** Multi-table sign-LSH approximate top-k (the standard recall
    * amplification: L independent small tables, candidates = union of
    * per-table bucket matches — Indyk–Motwani/Gionis et al., VLDB'99).
    * Recall 1−(1−p^b)^L instead of a single table's p^b, at candidate
    * fraction ≈ 1−(1−2^−b)^L.
    *
    * Knob history, measured on the sf0.1 corpus by q98 (the recall
    * audit): the old default — ONE 6-plane table with Hamming-1
    * multi-probe — scanned 11% of the table but found only 20% of the
    * true top-10; the corpus's top neighbors sit at cosine ≈ 0.31–0.41
    * (barely above isotropic noise), so every sign-LSH design needs a
    * large candidate volume, and the measured frontier is ~recall ≈
    * 1.4×fraction whatever the family (Hamming-2/3 balls,
    * query-directed probing per Lv et al. VLDB'07, cross-polytope per
    * Andoni et al. NeurIPS'15 — all simulated on the real corpus).
    * 6 tables × 3 planes lands recall 0.81 at fraction 0.55 — the
    * best measured point at recall ≥ 0.8. On a corpus with genuine
    * cluster structure both recall and fraction improve sharply; when
    * the corpus clusters, trained IVF (ivfTopK, recall 0.97 at
    * fraction 0.125 here) is the stronger path, and q98 is the
    * user-runnable audit that says which applies.
    *
    * Shape: both sides compute their table buckets map-side
    * (tableBucketsExpr, codegen'd), the query side broadcasts, the
    * (qid, nid) candidate set dedups across tables on narrow id rows
    * ONLY, and candidate ids drive the verify joins (AQE broadcasts
    * the candidate list, so the corpus re-read is map-side) — no
    * corpus shuffle anywhere. */
  def lshTopK(queries: DataFrame, candidates: DataFrame, k: Int,
              nTables: Int = LSH_TABLES,
              planesPerTable: Int = LSH_TABLE_PLANES): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val qSide = queries.select(col("vec_id").as("qid"), col("embedding").as("qv"))
      .withColumn("qn", norm(col("qv")))
    val cSide = candidates.select(col("vec_id").as("nid"), col("embedding").as("nv"))
      .withColumn("nn", norm(col("nv")))
    val qB = qSide.select(col("qid"),
      posexplode(tableBucketsExpr(col("qv"), nTables, planesPerTable)))
      .select(col("qid"), col("pos").as("t"), col("col").as("bucket"))
    val cB = cSide.select(col("nid"),
      posexplode(tableBucketsExpr(col("nv"), nTables, planesPerTable)))
      .select(col("nid"), col("pos").as("t"), col("col").as("bucket"))
    // narrow (qid, nid) rows dedup the cross-table union; vectors are
    // joined back by id afterwards (verifyCosine's candidate-driven
    // pattern), so the distinct never shuffles an embedding
    val cands = cB.join(broadcast(qB), Seq("t", "bucket"))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid")).distinct()
    val sims = cands
      .join(cSide, Seq("nid"))
      .join(broadcast(qSide), Seq("qid"))
      .select(col("qid"), col("nid"),
        graft.ops.Exact.duckRound(dot(col("qv"), col("nv")) / (col("qn") * col("nn")), 6).as("sim"))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid"))
    sims.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
  }

  /** Frames persisted INSIDE an operator call (semanticDedup's
    * cell assignment) — registered so a suite harness can free them
    * once the consuming work finishes (Bench releases PER RUN — a
    * best-of-N repeat builds an identical analyzed plan, and
    * CacheManager plan-matching would otherwise hand run 2 the
    * run-1 InMemoryRelation, turning the best-of into a warm-cache
    * number; Verify releases per query; a lone caller can too, or
    * just let session stop reclaim them). Weakly keyed by session
    * like DedupQueries.shingleCache, same value→key caveat: entries
    * only die via explicit release or session stop. persist (lazy,
    * MEMORY_AND_DISK) beat eager localCheckpoint(true) for the
    * embedding-wide assignment — q119 best-of-2 at sf0.1: 2.22 s
    * checkpointed vs 1.70 s persisted, re-confirmed 1.69 s under the
    * per-run cold-release protocol (the win is within-run laziness
    * across the 3 consumers — the checkpoint copies every partition
    * up front — not cross-run cache reuse). */
  private val retainedFrames = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      scala.collection.mutable.ListBuffer[DataFrame]]())

  private def retain(df: DataFrame): DataFrame = {
    retainedFrames.synchronized {
      val s = df.sparkSession
      val buf = Option(retainedFrames.get(s)).getOrElse {
        val b = scala.collection.mutable.ListBuffer.empty[DataFrame]
        retainedFrames.put(s, b)
        b
      }
      buf += df
    }
    df
  }

  /** Unpersist every frame retained by operator calls on `s` since the
    * last release. No-op when nothing is retained. */
  def releaseRetained(s: SparkSession): Unit = retainedFrames.synchronized {
    Option(retainedFrames.remove(s)).foreach(_.foreach(_.unpersist(false)))
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the corpus with a trained coarse
    * quantizer, compare vectors only WITHIN their cell, and mark as a
    * duplicate every vector with a lower-id cellmate at rounded
    * cosine ≥ tau — the lowest id of each semantic group survives.
    * Deterministic (lowest-id keeper, rounded sims, cid-argmax
    * assignment), so the whole decision is oracle-expressible.
    *
    * The pruning rule is the pairwise spelling (dup ⇔ ∃ lower-id
    * cellmate at ≥ tau), not the paper's sequential keep-aware sweep:
    * it is order-free, engine-portable, and never keeps MORE near-
    * duplicates than the sweep (any vector the sweep prunes has some
    * lower-id cellmate at ≥ tau). Cross-cell near-dups are invisible
    * by design — that is SemDeDup's accepted approximation; q98-style
    * audits say when the quantizer is too coarse for the corpus.
    *
    * Scale shape: assignment is the map-side inlined-quantizer pass
    * (no shuffle); the within-cell pair space is Σ cellSize² — the
    * SemDeDup contract is that k grows with n so cells stay bounded
    * (the paper runs k = 11k cells on 1.1 B embeddings). Both join
    * sides shuffle narrow (cid, id, vec) rows once, pairs reduce
    * map-side into a per-vector max before the groupBy exchange, and
    * the assignment is checkpointed once for its three consumers
    * (the ≥3-branch rule, BASELINE.md r5). A corpus whose cells
    * outgrow memory gets the q114 treatment (deterministic member
    * cap + saturated-cell side report) before this join.
    *
    * Returns (vec_id, cell, best_sim, kept): best_sim = max rounded
    * cosine to any lower-id cellmate — null when there is none, or
    * when every lower-id cellmate has zero norm (the cosine is
    * explicitly nulled on a zero denominator: DuckDB returns NULL
    * for double x/0 while ANSI Spark throws, so the guard is what
    * makes the column engine-portable; max then skips nulls); kept ⇔
    * best_sim is null or < tau. Rounded cosines go through the
    * engine's `+ 0.0`
    * normalization (the q45/q81 argmax convention) so a tiny
    * negative cosine that rounds to -0.0 is emitted as 0.0 on both
    * engines. */
  def semanticDedup(vecs: DataFrame, cent: DataFrame, tau: Double): DataFrame = {
    val asg = retainedAssignment(vecs, cent)
    semanticVerdict(asg, asg, tau)
  }

  /** The persisted (vec_id, cid, embedding, nrm) assignment every
    * semantic operator starts from — retained for per-query release.
    *
    * CALLER CONTRACT (any long-lived session using the semantic
    * operators — semanticDedup / semanticDedupCapped /
    * semanticDecontaminate / semanticDedupAudit): each call persists
    * this assignment MEMORY_AND_DISK and the entry lives until
    * [[releaseRetained]] or session stop — the WeakHashMap cannot
    * collect it because the retained frame strongly references its
    * session key. Call `releaseRetained(spark)` after consuming each
    * operator's result, as Bench (per run), Verify (per query), and
    * the shared test harness (per suite) do. */
  private def retainedAssignment(vecs: DataFrame, cent: DataFrame): DataFrame =
    retain(kmeansAssign(vecs, cent)
      .withColumn("nrm", norm(col("embedding")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** Shared verdict body of [[semanticDedup]]/[[semanticDedupCapped]]:
    * per `asg` vector, the max zero-norm-guarded `+ 0.0`-normalized
    * rounded cosine over `candidates`' LOWER-id cellmates, then the
    * kept rule. ONE copy of the parity-critical guard/rounding
    * spelling — the capped twin differs only in its candidate side. */
  private def semanticVerdict(asg: DataFrame, candidates: DataFrame,
                              tau: Double): DataFrame = {
    val a = asg.select(col("cid"), col("vec_id"), col("embedding"), col("nrm"))
    val b = candidates.select(col("cid").as("bcid"), col("vec_id").as("bid"),
      col("embedding").as("bv"), col("nrm").as("bn"))
    // zero-norm guard: ANSI Spark THROWS on double x/0 while DuckDB
    // returns NULL — null the cosine explicitly so both engines agree
    val den = col("nrm") * col("bn")
    val best = a.join(b, col("cid") === col("bcid") && col("bid") < col("vec_id"))
      .groupBy(col("vec_id"))
      .agg(max(when(den =!= lit(0.0),
        graft.ops.Exact.duckRound(
          dot(col("embedding"), col("bv")) / den, 6) + lit(0.0)))
        .as("best_sim"))
    asg.select(col("vec_id"), col("cid"))
      .join(best, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid").as("cell"), col("best_sim"),
        (col("best_sim").isNull || col("best_sim") < tau).as("kept"))
  }

  /** [[semanticDedup]] with a HASH-ORDER MEMBER CAP on the comparison
    * side — the q114/q118 boilerplate treatment in vector space, and
    * the spelling semanticDedup's own scale note prescribes for cells
    * that outgrow memory. Each cell contributes only its `memberCap`
    * members with the lowest sha-256(cid|vec_id) as COMPARISON
    * CANDIDATES (a deterministic pseudorandom M-subset per cell, the
    * q118 rationale: hash order gives every vector an independent
    * chance per cell instead of biasing against high ids); every
    * vector still receives a verdict, judged against the capped
    * subset's lower-id members. Pair space drops from Σ cellSize² to
    * ≤ M·n — linear in the corpus for fixed M.
    *
    * Semantics trade, exactly: removing comparisons can only LOWER a
    * vector's best_sim, so kept(capped) ⊇ kept(uncapped) — the cap
    * never prunes a vector the full computation would keep
    * (AnalyticsSpec proves both the superset and the M ≥ max-cell
    * identity). The rank filter compiles to WindowGroupLimit (per-key
    * top-M before the exchange), so a boilerplate mega-cell costs M
    * rows per input partition in the shuffle, never its size.
    * [[semanticCellSaturation]] prices what the cap diverted.
    *
    * RECALL CAVEAT — this cap is a memory FUSE, not the scale path
    * (measured, SCALING.md round-8 10× run): unlike q118, where a
    * true pair gets an independent M-subset chance per SHARED
    * SHINGLE, a cell pair here has exactly ONE chance — its cell —
    * so near-dup recall degrades toward M/cellSize once the cap
    * binds hard (10× corpus, 1,250-member cells, M=50: kept balloons
    * 704 → 11,171 because most mutated copies never see their source
    * in the capped subset). A firing saturation report therefore
    * means RETRAIN WITH LARGER k — SemDeDup's own k-grows-with-n
    * contract, measured to restore both recall and cost (k=160 at
    * 10×: kept 690, pair stage back to ~M·n shape) — while the cap
    * guarantees the nightly job survives the night the corpus
    * explodes. */
  def semanticDedupCapped(vecs: DataFrame, cent: DataFrame, tau: Double,
                          memberCap: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val asg = retainedAssignment(vecs, cent)
    val capped = asg
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("cid"))
          .orderBy(sha2(concat_ws("|", col("cid").cast("string"),
            col("vec_id").cast("string")), 256), col("vec_id"))))
      .filter(col("rk") <= memberCap)
      .drop("rk")
    semanticVerdict(asg, capped, tau)
  }

  /** Semantic DECONTAMINATION — q68's n-gram benchmark-overlap check
    * in embedding space: flag every TRAIN vector whose cell holds an
    * EVAL vector at rounded cosine ≥ tau (the "remove training docs
    * semantically close to the benchmark" pass a training-data
    * pipeline runs before packing shards). Both corpora are assigned
    * with the SAME frozen quantizer, so the comparison space is
    * within-cell like [[semanticDedup]] — cross-cell contamination is
    * invisible by design (the SemDeDup approximation; widen k-probe
    * or lower tau when the q98-style audit says the quantizer is too
    * coarse for the eval set).
    *
    * Scale shape: an eval/benchmark set is model-sized next to a
    * training corpus, so the eval side BROADCASTS and the train side
    * is scanned ONCE: assignment is the inlined-quantizer expression
    * (the quantizer is collected once for both corpora), the cell
    * equi-join is a map-side broadcast hash join, the per-vector max
    * reduces in the partial aggregate, and the plan's single
    * exchange is that final (vec_id, cid) groupBy — nothing
    * corpus-sized shuffles except the one verdict-row aggregation.
    * Returns (vec_id, cell, best_eval_sim, contaminated):
    * best_eval_sim = max rounded cosine to ANY eval cellmate (null ⇔
    * none, or only zero-norm ones — the divide guard), contaminated ⇔
    * best_eval_sim ≥ tau. */
  def semanticContamination(train: DataFrame, eval: DataFrame,
                            cent: DataFrame, tau: Double): DataFrame = {
    // ONE execution of the centroid plan for both assignments
    val quant = collectQuantizer(cent)
    val t = assignWithQuant(train, quant, MAX_INLINE_DOUBLES)
      .withColumn("nrm", norm(col("embedding")))
    val e = assignWithQuant(eval, quant, MAX_INLINE_DOUBLES)
      .select(col("cid").as("ecid"), col("embedding").as("ev"))
      .withColumn("en", norm(col("ev")))
    val den = col("nrm") * col("en")
    // LEFT broadcast join: vectors with no eval cellmate keep their
    // row with a null max; (vec_id, cid) is functional, so grouping
    // on both leaves ONE exchange and ONE train scan in the plan
    t.join(broadcast(e), col("cid") === col("ecid"), "left")
      .groupBy(col("vec_id"), col("cid"))
      .agg(max(when(den =!= lit(0.0),
        graft.ops.Exact.duckRound(
          dot(col("embedding"), col("ev")) / den, 6) + lit(0.0)))
        .as("best_eval_sim"))
      .select(col("vec_id"), col("cid").as("cell"), col("best_eval_sim"),
        (col("best_eval_sim").isNotNull && col("best_eval_sim") >= tau)
          .as("contaminated"))
  }

  /** Audit of SemDeDup's within-cell approximation — the q98 pattern
    * for the semantic-dedup regime: per vector, the WITHIN-CELL best
    * lower-id cosine ([[semanticDedup]]'s decision input) next to the
    * TRUE best over ALL lower-id vectors (the guarded exact all-pairs
    * baseline), with `missed` flagging vectors a full near-dup pass
    * would prune but the cell approximation keeps (true_best ≥ tau,
    * cell_best < tau or absent). A high missed count says the
    * quantizer is too coarse for the corpus at this tau — grow k or
    * widen probes. Deliberately quadratic through
    * [[cosineNearDupPairs]]'s guard: run it on a sample at corpus
    * scale, exactly like the q98 recall audit. */
  def semanticDedupAudit(vecs: DataFrame, cent: DataFrame, tau: Double,
                         maxVectors: Long = 100000L): DataFrame = {
    val cellBest = semanticDedup(vecs, cent, tau)
      .select(col("vec_id"), col("cell"), col("best_sim").as("cell_best"))
    val trueBest = cosineNearDupPairs(vecs, -1.0, maxVectors)
      .groupBy(col("v2").as("vec_id"))
      .agg(max(col("sim") + lit(0.0)).as("true_best"))
    cellBest.join(trueBest, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"), col("cell_best"), col("true_best"),
        (col("true_best").isNotNull && col("true_best") >= tau &&
          (col("cell_best").isNull || col("cell_best") < tau)).as("missed"))
  }

  /** Side report of the cells [[semanticDedupCapped]] saturated:
    * (cell, n_members, n_dropped) for every cell past `memberCap` —
    * a hot cell here is the quantizer telling you its k is too small
    * for the corpus (the SemDeDup k-grows-with-n contract), or that
    * one embedding basin is boilerplate. */
  def semanticCellSaturation(vecs: DataFrame, cent: DataFrame,
                             memberCap: Int): DataFrame =
    kmeansAssign(vecs, cent)
      .groupBy(col("cid").as("cell"))
      .agg(count(lit(1)).as("n_members"))
      .filter(col("n_members") > memberCap)
      .withColumn("n_dropped", col("n_members") - memberCap)

  // ------------------------------------------------------------------
  // Product quantization (PQ) — the MEMORY scale path of the ANN
  // family. IVF (ivfTopK) prunes which vectors a query touches; PQ
  // shrinks what each touch costs: a 64-float vector (256 B) encodes
  // to nSub 4-bit sub-codes packed in ONE BIGINT (4 B at the default
  // 8×16 layout — 64× less scan traffic), and search runs entirely
  // over codes via asymmetric distance computation (ADC): the query
  // precomputes an nSub×k table of sub-distances once, every
  // candidate costs nSub table lookups, and full vectors are read
  // only to re-rank the survivors (pqRerankTopK). At 100 TB this is
  // the difference between scanning the embedding column and scanning
  // a BIGINT column. Jégou et al., "Product Quantization for Nearest
  // Neighbor Search", IEEE TPAMI 2011.
  // ------------------------------------------------------------------

  /** PQ codebook: `nSub` subspaces × (up to) `k` centroids, each
    * centroid the m-th dim/nSub-wide slice of one of the `k`
    * lowest-id vectors — the same deterministic id-picked init as
    * [[initCentroids]], so the oracle can rebuild the identical book
    * in SQL. Returned collected to the driver as (m, j, components)
    * rows: a MODEL (nSub·k·subDim = dim·k doubles — the 8×16 default
    * over 64 dims is 1024 doubles, far under [[MAX_INLINE_DOUBLES]]),
    * same collect-and-inline pattern as the IVF quantizer. */
  def pqCodebooks(vecs: DataFrame, nSub: Int, k: Int): Array[(Int, Int, Array[Double])] = {
    val base = vecs.orderBy(col("vec_id")).limit(k)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect()
      .sortBy(_.getLong(0))
      .map(_.getSeq[Double](1).toArray)
    require(base.nonEmpty, "pqCodebooks: empty corpus")
    val dim = base.head.length
    require(dim % nSub == 0, s"pqCodebooks: dim $dim not divisible by $nSub subspaces")
    require(base.length <= 16, "pqCodebooks: k > 16 no longer fits a 4-bit sub-code")
    require(nSub <= 16,
      s"pqCodebooks: $nSub subspaces x 4-bit sub-codes overflow one packed BIGINT " +
        "(pqEncode's 1L << (4*m) wraps at m=16 and would silently corrupt codes)")
    require(dim.toLong * base.length <= MAX_INLINE_DOUBLES,
      s"pqCodebooks: ${dim.toLong * base.length} doubles exceeds the inline ceiling")
    val sd = dim / nSub
    for { m <- (0 until nSub).toArray; j <- base.indices.toArray }
      yield (m, j, base(j).slice(m * sd, (m + 1) * sd))
  }

  /** One Lloyd round per subspace from the id-picked init — the PQ
    * twin of [[kmeansCentroids]], trained with the same exact-decimal
    * mean rule (components rounded to 6 decimals, summed in
    * DECIMAL(21,10), divided by the count in double), so the trained
    * book is partition-order-independent, run-reproducible, and
    * rebuildable in the SQL oracle. Sub-cells that capture no vector
    * drop out (k shrinks per subspace; j labels are preserved, codes
    * stay 4-bit). Why exactly ONE round: measured on the real sf0.1
    * parquet (numpy replica, the SCALING.md probe-design protocol) —
    * id-picked books give ADC recall@10 0.20 / re-rank@100 0.65; one
    * Lloyd round lifts that to 0.25 / 0.73; five and ten rounds land
    * BACK at 0.24–0.27 / 0.62–0.66. On this near-isotropic corpus the
    * quantizer stops learning after one round, so one is what the
    * engine trains. At 100 TB the training pass runs on a sample;
    * encode stays a map-only scan either way. */
  def pqTrainCodebooks(vecs: DataFrame, nSub: Int, k: Int): Array[(Int, Int, Array[Double])] = {
    val books0 = pqCodebooks(vecs, nSub, k)
    val sd = books0.head._3.length
    val spark = vecs.sparkSession
    import spark.implicits._
    // the assignment pass is the broadcast-join argmax spelling
    // (the broadcast-frame shape): the book rides as a tiny broadcast frame
    // and distances are VecDot terms — NOT per-centroid inlined
    // literal chains, whose generated code (nSub·k copies of the
    // element arithmetic) cost ~51 s of janino compile per run at
    // sf0.1 before this rewrite
    val bookDf = books0.toSeq.map { case (m, j, c) => (m, j, c.toSeq) }.toDF("m", "j", "cv")
    val subRows = withPqSubCols(vecs, nSub, sd)
      .select(col("vec_id"), explode(array((0 until nSub).map(m =>
        struct(lit(m).as("m"), col(s"_s$m").as("s"))).toIndexedSeq: _*)).as("t"))
      .select(col("vec_id"), col("t.m").as("m"), col("t.s").as("s"))
    val d = graft.ops.Exact.duckRound(
      dot(col("s"), col("s")) - lit(2.0) * dot(col("s"), col("cv"))
        + dot(col("cv"), col("cv")), 6)
    val key = struct(((-d) + lit(0.0)).as("ds"), (-col("j")).as("nj"))
    val asg = subRows.join(broadcast(bookDf), Seq("m"))
      .groupBy(col("vec_id"), col("m"))
      .agg(max(key).as("bk"), first(col("s")).as("s"))
      .select(col("m"), (-col("bk.nj")).as("cj"), col("s"))
    val means = asg.select(col("m"), col("cj"), posexplode(col("s")))
      .groupBy(col("m"), col("cj"), col("pos"))
      .agg((sum(graft.ops.Exact.duckRound(col("col"), 6)
          .cast(org.apache.spark.sql.types.DecimalType(21, 10)))
        .cast("double") / count(lit(1))).as("c"))
      .collect() // a MODEL: ≤ nSub·k·subDim rows — the kmeansCellSums collect pattern
    means.groupBy(r => (r.getAs[Int]("m"), r.getAs[Int]("cj")))
      .toArray
      .map { case ((m, j), rows) =>
        (m, j, rows.sortBy(_.getAs[Int]("pos")).map(_.getAs[Double]("c")))
      }
      .sortBy(t => (t._1, t._2))
  }

  /** Per-subspace slice columns `_s0.._s{nSub-1}` plus their
    * self-dots `_ssq{m}`, projected ONCE over two selects. Every
    * consumer then references ATTRIBUTES: the array<float>→double
    * cast and each slice build evaluate once per row instead of once
    * per centroid term, and downstream trees stay small enough that
    * codegen compile time doesn't dominate (the inline-everything
    * spelling cost ~51 s/run at sf0.1). Two selects on purpose — the
    * aliases are non-cheap and multiply-referenced, so
    * CollapseProject leaves both projections standing. The arrays
    * come from chained GetArrayItem, NOT `slice()` (a CodegenFallback
    * HOF that would drop the corpus-side subtree to interpreted —
    * the engine-wide HOF rule); VecDot over them is bit-identical to
    * list_dot_product over the oracle's list slices. */
  private def withPqSubCols(df: DataFrame, nSub: Int, sd: Int): DataFrame = {
    val v = col("embedding").cast("array<double>")
    val subs = (0 until nSub).map { m =>
      array((0 until sd).map(i => v.getItem(m * sd + i)).toIndexedSeq: _*).as(s"_s$m")
    }
    val withS = df.select((col("vec_id") +: subs).toIndexedSeq: _*)
    val ssqs = (0 until nSub).map(m => dot(col(s"_s$m"), col(s"_s$m")).as(s"_ssq$m"))
    withS.select((col("vec_id") +: (0 until nSub).map(m => col(s"_s$m")) ++: ssqs).toIndexedSeq: _*)
  }

  /** Rounded squared L2 distance between a slice attribute and an
    * inlined centroid: round(s·s − 2·s·c + c·c, 6), every fold
    * left-to-right — exactly the oracle's list_dot_product spelling,
    * so assignments and ADC sums are engine-identical. */
  private def pqDistCol(s: Column, ssq: Column, c: Array[Double]): Column = {
    val csq = c.foldLeft(0.0)((a, x) => a + x * x)
    graft.ops.Exact.duckRound(
      ssq - lit(2.0) * dot(s, typedLit(c.toSeq)) + lit(csq), 6)
  }

  /** The m-th 4-bit sub-code: argmin_j by (rounded d asc, j asc) via
    * the [[nearestCellExpr]] greatest-struct pattern (keys negated;
    * `+ 0.0` collapses the −0.0 a d≈0 round can produce, since raw
    * struct compares — unlike sorts — distinguish signed zeros). */
  private def pqSubCode(s: Column, ssq: Column,
                        cbm: Array[(Int, Array[Double])]): Column =
    if (cbm.length == 1) lit(cbm.head._1) // a subspace CAN collapse; keep its label
    else -greatest(cbm.map { case (j, c) =>
      struct(((-pqDistCol(s, ssq, c)) + lit(0.0)).as("s"), lit(-j).as("nj"))
    }.toIndexedSeq: _*).getField("nj")

  /** The persistable PQ code store: (vec_id, code), all nSub
    * sub-codes packed into one BIGINT (Σ code_m · 2^(4m)) in one
    * codegen'd map-side projection — the 100 TB encode pass is a
    * map-only scan (PqSpec pins zero exchanges). Re-encoding is never
    * needed until the codebook changes; deltas append O(Δ). */
  def pqEncode(vecs: DataFrame, books: Array[(Int, Int, Array[Double])]): DataFrame = {
    val sd = books.head._3.length
    val nSub = books.map(_._1).max + 1
    require(nSub <= 16,
      s"pqEncode: $nSub subspaces overflow one packed BIGINT — 1L << (4*m) wraps at " +
        "m=16 and sub-codes would silently overwrite low nibbles")
    val bySub = books.groupBy(_._1).view.mapValues(_.sortBy(_._2).map(r => (r._2, r._3))).toMap
    val packed = (0 until nSub).map { m =>
      pqSubCode(col(s"_s$m"), col(s"_ssq$m"), bySub(m)).cast("long") * lit(1L << (4 * m))
    }.reduceLeft(_ + _)
    withPqSubCols(vecs, nSub, sd).select(col("vec_id"), packed.as("code"))
  }

  /** ADC approximate top-k: queries broadcast with their precomputed
    * nSub×k distance table (an array column built once per query
    * row), then stream the CODE store — per candidate the approximate
    * distance is nSub element_at lookups summed as DECIMAL(21,10)
    * (each term is a 6-rounded double, so the decimal sum is exact
    * and engine-portable — the q80/q81 rule). The scan side never
    * touches a vector. Rank = row_number over (approx asc, nid asc);
    * the broadcast nested loop is the same documented bounded shape
    * as bruteForceTopK, but over 8-byte codes instead of 256-byte
    * vectors. */
  def pqTopK(queries: DataFrame, candidates: DataFrame, k: Int,
             books: Array[(Int, Int, Array[Double])]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = pqAdcScores(queries, candidates, books)
    val w = Window.partitionBy(col("qid")).orderBy(col("approx").asc, col("nid").asc)
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("nid"), col("rnk"), col("approx"))
  }

  /** (qid, nid, approx) ADC scores — the shared code scan of
    * [[pqTopK]], [[pqRerankTopK]] and [[ivfPqRerankTopK]]. With
    * `pairs = None` every query × candidate is scored (the flat-PQ
    * scan); with `Some(p)` — a (qid, nid) frame — only those pairs
    * are, via equi-joins (the IVF-pruned scan: the code store joins
    * its cell-survivor list, never the full query grid). */
  private def pqAdcScores(queries: DataFrame, candidates: DataFrame,
                          books: Array[(Int, Int, Array[Double])],
                          pairs: Option[DataFrame] = None): DataFrame =
    pqAdcScoresFromCodes(queries,
      pqEncode(candidates, books).select(col("vec_id").as("nid"), col("code")),
      books, pairs)

  /** ADC scores against an ALREADY-ENCODED code frame (nid, code) —
    * the store-served path ([[ivfPqRerankTopKFromStore]]): the
    * nightly artifact is read, never re-encoded. [[pqAdcScores]]
    * wraps this behind a fresh [[pqEncode]] for the train-in-query
    * retrieves. */
  private def pqAdcScoresFromCodes(queries: DataFrame, codes: DataFrame,
                                   books: Array[(Int, Int, Array[Double])],
                                   pairs: Option[DataFrame] = None): DataFrame = {
    val sd = books.head._3.length
    val nSub = books.map(_._1).max + 1
    val kCents = books.map(_._2).max + 1
    // dtable[m*kCents + j] = d(query sub m, centroid (m, j)) — laid out
    // DENSE over j ∈ [0, kCents) so the nibble arithmetic stays valid
    // when training dropped an empty sub-cell (its slot is a dead 0.0:
    // no code ever references a dropped j)
    val byKey = books.map(b => (b._1, b._2) -> b._3).toMap
    val dtable = array(
      (for { m <- 0 until nSub; j <- 0 until kCents } yield byKey.get((m, j)) match {
        case Some(c) => pqDistCol(col(s"_s$m"), col(s"_ssq$m"), c)
        case None    => lit(0.0)
      }).toIndexedSeq: _*)
    val q = withPqSubCols(queries, nSub, sd)
      .select(col("vec_id").as("qid"), dtable.as("dt"))
    val enc = codes
    val approx = (0 until nSub).map { m =>
      val j = shiftright(col("code"), 4 * m).bitwiseAND(lit(15L))
      element_at(col("dt"), (lit(m * kCents) + j + lit(1)).cast("int"))
        .cast("decimal(21,10)")
    }.reduceLeft(_ + _)
    val paired = pairs match {
      case Some(p) => enc.join(p, Seq("nid")).join(broadcast(q), Seq("qid"))
      case None    => enc.join(broadcast(q), col("qid") =!= col("nid"))
    }
    paired.select(col("qid"), col("nid"), approx.cast("double").as("approx"))
  }

  /** Exact-cosine re-rank of a (qid, nid) shortlist to top-k — the
    * shared second stage of [[pqRerankTopK]] and [[ivfPqRerankTopK]]:
    * full vectors are fetched for the shortlist alone by equi-join,
    * and the returned order is the exact rounded cosine. */
  private def exactRerank(shortlist: DataFrame, queries: DataFrame,
                          candidates: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nv = candidates.select(col("vec_id").as("nid"),
      col("embedding").cast("array<double>").as("nv"))
      .withColumn("nn", norm(col("nv")))
    val qv = queries.select(col("vec_id").as("qid"),
      col("embedding").cast("array<double>").as("qv"))
      .withColumn("qn", norm(col("qv")))
    val den = col("qn") * col("nn")
    val sim = when(den =!= lit(0.0),
      graft.ops.Exact.duckRound(dot(col("qv"), col("nv")) / den, 6))
    val wE = Window.partitionBy(col("qid")).orderBy(col("sim").desc_nulls_last, col("nid").asc)
    shortlist.join(nv, Seq("nid")).join(broadcast(qv), Seq("qid"))
      .select(col("qid"), col("nid"), sim.as("sim"))
      .withColumn("rnk", row_number().over(wE).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("nid"), col("rnk"), col("sim"))
  }

  /** The production two-stage retrieve: ADC narrows to `rerankK`
    * candidates per query (code-only scan), full vectors are fetched
    * for THOSE rows alone by equi-join, and the final top-k is the
    * exact rounded cosine — ADC's approximation decides only who gets
    * re-ranked, never the returned order. */
  /** Top-`rerankK` (qid, nid) per query by ADC distance — ONE
    * spelling of the shortlist tie-break (approx ASC, nid ASC; the
    * order both oracles mirror), shared by the flat and IVF-pruned
    * retrieves. */
  private def adcShortlist(scores: DataFrame, rerankK: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wA = Window.partitionBy(col("qid")).orderBy(col("approx").asc, col("nid").asc)
    scores.withColumn("ra", row_number().over(wA))
      .filter(col("ra") <= rerankK)
      .select("qid", "nid")
  }

  def pqRerankTopK(queries: DataFrame, candidates: DataFrame, k: Int, rerankK: Int,
                   books: Array[(Int, Int, Array[Double])]): DataFrame =
    exactRerank(
      adcShortlist(pqAdcScores(queries, candidates, books), rerankK),
      queries, candidates, k)

  /** IVF-PQ two-stage retrieve — the two scale levers COMPOSED, the
    * production index architecture (Jégou et al., "Product
    * Quantization for Nearest Neighbor Search", TPAMI 2011 §V —
    * IVFADC; FAISS's IndexIVFPQ) as one declarative plan:
    *
    *  - the trained coarse quantizer prunes WHICH rows a query
    *    touches (only codes in the query's `nProbe` cells are
    *    scored — the q81 contract);
    *  - PQ prunes what each touch COSTS (8-byte codes + broadcast
    *    distance tables instead of 256-byte vectors — the q135
    *    contract);
    *  - the exact re-rank restores precise order over the
    *    `rerankK`-row shortlist alone (the q136 contract).
    *
    * Plan shape: both assignments are map-only passes under the
    * collected models (inline expression or broadcast-join past
    * MAX_INLINE_DOUBLES — never a corpus shuffle); the cell match is
    * an equi-join of the code store against the narrow
    * (qid, nid) survivor grid; ADC sums stay decimal-exact; re-rank
    * touches `rerankK` full vectors per query. At 100 TB: corpus
    * growth prices the PRUNED code scan — ~(nProbe/nCells) of 8 B/row
    * — never the vector store. A non-obvious MEASURED recall fact
    * (sf0.1, 8×16 books, 16 cells, probe 2, rerank 100): IVF-PQ
    * recall@10 = 0.85 vs flat-PQ's 0.73 at the same rerankK — cell
    * pruning doesn't only cut cost, it IMPROVES the shortlist,
    * because cell membership (the trained IVF audits at 0.97 recall,
    * q98) is a far better candidate signal than raw ADC (0.25, q145)
    * and the rerank competition runs among ~nProbe/nCells of the
    * corpus instead of everyone ADC happens to favor. Audit on your
    * own corpus with the q98/q145 harnesses before trusting either
    * number. */
  def ivfPqRerankTopK(queries: DataFrame, candidates: DataFrame, k: Int,
                      rerankK: Int, books: Array[(Int, Int, Array[Double])],
                      centroids: DataFrame, nProbe: Int = 2,
                      maxInlineDoubles: Long = MAX_INLINE_DOUBLES): DataFrame = {
    val quant = collectQuantizer(centroids)
    // NO parallelism floor on the candidate side — A/B'd round 17 and
    // REVERTED: flooring the corpus before the assignment + encode map
    // passes measured q153 2.86 → 3.63 s / q154 3.65 → 4.24 s warm
    // isolated (the keyless repartition ships the full embedding
    // column, ~50 MB at sf0.1, and the exchange costs more than the
    // single-task map passes it parallelizes — the shingle-cache floor
    // lesson, r16).
    val nCell = assignWithQuant(candidates, quant, maxInlineDoubles)
      .select(col("vec_id").as("nid"), col("cid").as("cell"))
    val qCell = probeCells(queries, quant, nProbe, maxInlineDoubles)
      .select(col("qid"), col("cell"))
    val pairs = nCell.join(broadcast(qCell), Seq("cell"))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"))
    exactRerank(
      adcShortlist(pqAdcScores(queries, candidates, books, Some(pairs)), rerankK),
      queries, candidates, k)
  }

  /** IVF-PQ retrieve served from PERSISTED stores — the composed
    * index's nightly lifecycle, closing the one family that still
    * retrained per run. Both parents already own the O(Δ) contract
    * (coarse: [[ivfTopKFromStore]]/q117; codes: [[pqEncode]]'s
    * append-only store/q134); this composes them:
    *
    *  - `coarseStore` (vec_id, cid, embedding) = persisted
    *    [[kmeansAssign]] output ∪ frozen-model assignments of each
    *    nightly delta — assignment is a pure row×model function, so
    *    the incrementally-built store is row-identical to a full
    *    re-assignment (the q117 identity);
    *  - `codeStore` (vec_id, code) = persisted [[pqEncode]] output ∪
    *    frozen-book encodings of each delta — same purity argument;
    *  - a query session touches ONLY the stores and the two frozen
    *    models: probe cells via the collected quantizer, equi-join
    *    the coarse store for cell survivors, ADC over the code store
    *    (never re-encoding a single row), exact re-rank fetching the
    *    shortlist's vectors from the coarse store itself.
    *
    * q154 gate-verifies store-served ≡ the full from-first-principles
    * recompute at both scales; AnalyticsSpec proves the identity
    * across two successive deltas and a recall floor. At 100 TB
    * persist the coarse store bucketed by cid (probes read their
    * cells' buckets) and the code store by vec_id range; the nightly
    * cost is O(Δ) map-only assignment + encode, and query cost is the
    * q153 contract: ~nProbe/nCells of an 8 B/row code scan plus
    * rerankK vector fetches per query. Recall under frozen models
    * drifts as the corpus grows away from the training distribution —
    * re-audit with the q98/q145 harnesses and retrain when it decays
    * (then rebuild both stores: the models are the stores' schema). */
  def ivfPqRerankTopKFromStore(queries: DataFrame, coarseStore: DataFrame,
                               codeStore: DataFrame, centroids: DataFrame,
                               books: Array[(Int, Int, Array[Double])],
                               k: Int, rerankK: Int, nProbe: Int = 2,
                               maxInlineDoubles: Long = MAX_INLINE_DOUBLES): DataFrame = {
    val quant = collectQuantizer(centroids)
    val qCell = probeCells(queries, quant, nProbe, maxInlineDoubles)
      .select(col("qid"), col("cell"))
    val pairs = coarseStore
      .select(col("vec_id").as("nid"), col("cid").as("cell"))
      .join(broadcast(qCell), Seq("cell"))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"))
    exactRerank(
      adcShortlist(pqAdcScoresFromCodes(queries,
        codeStore.select(col("vec_id").as("nid"), col("code")),
        books, Some(pairs)), rerankK),
      queries, coarseStore.select(col("vec_id"), col("embedding")), k)
  }
}
