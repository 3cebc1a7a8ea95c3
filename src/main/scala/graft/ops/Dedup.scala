package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Join-based dedup — the reference's set-membership anti-joins
  * (SURVEY.md §2.3 J1/J2, §2.4 U3) as real Spark joins.
  *
  * Reference behavior:
  *  - J1: `item["place_id"] not in existing_place_ids`
  *    (restaurant-crawler/restaurant-crawler.py:347-375) — a broadcast
  *    anti-join where the build side is the known-key set.
  *  - J2: per-row `SELECT ... WHERE name=? AND address=? LIMIT 1`
  *    existence probes (review-crawler/restaurant_save.py:77-91) —
  *    O(N) point lookups that become ONE anti-join here.
  *
  * Scale note: `broadcast()` is forced on the key side for J1 because
  * the reference's key set is small by construction (ids seen so far
  * for one partition key). `antiJoinComposite` deliberately does NOT
  * force broadcast — the existing side there is a full table and
  * Catalyst/AQE should pick shuffle vs broadcast from stats.
  */
object Dedup {

  /** J1: keep rows of `fresh` whose key is absent from `existingKeys`.
    * No `distinct` on the key side: a left-anti join only tests
    * existence, so duplicate build keys cannot change the result, and
    * a distinct would cost a shuffle stage and a second job on every
    * ingest commit. The key side is broadcast; for a key set too
    * large to broadcast use [[bloomAntiJoinKeys]]. */
  def antiJoinKeys(fresh: DataFrame, existingKeys: DataFrame, key: String): DataFrame =
    fresh.join(broadcast(existingKeys.select(key)), Seq(key), "left_anti")

  /** J2: anti-join on a composite key; broadcast left to Catalyst. */
  def antiJoinComposite(fresh: DataFrame, existing: DataFrame, keys: Seq[String]): DataFrame =
    fresh.join(existing.select(keys.map(col): _*).distinct(), keys, "left_anti")

  /** U3 / ST3: first-row-wins dedup by key columns. */
  def byKey(df: DataFrame, keys: Seq[String]): DataFrame =
    df.dropDuplicates(keys)

  /** J1 at the scale where the key set no longer broadcasts: a Bloom
    * filter of the existing keys (a few bytes per key at 3% fpp —
    * 100M keys ≈ 90 MB vs gigabytes for the exact set) broadcasts
    * instead, and splits `fresh` map-side:
    *
    *  - "definitely not present" rows (no false negatives, by Bloom
    *    contract) are emitted immediately — they never shuffle;
    *  - "might be present" rows — the true matches plus fpp% false
    *    positives — go through the exact anti-join.
    *
    * Result is row-identical to the plain anti-join (the exact join
    * resolves every false positive); the shuffle shrinks from |fresh|
    * to ~|matches| + fpp·|fresh|. This is the runtime-filter idea
    * (Spark's own bloom-filter join pruning) applied where we hold
    * the build side ourselves — and it probes through the same
    * Catalyst `BloomFilterMightContain` expression the engine's
    * runtime filters use (codegen'd; insert and probe both hash the
    * key with xxhash64, matching BloomFilterAggregate's convention),
    * not a Scala UDF.
    *
    * Determinism contract: `fresh` is evaluated once per branch of
    * the split (the split IS the optimization — the definitely-new
    * branch never shuffles), so `fresh` must be deterministic. If it
    * contains rand()/sample/non-deterministic recomputation, persist
    * it first or rows can be lost from / duplicated in the union. */
  def bloomAntiJoinKeys(fresh: DataFrame, existingKeys: DataFrame, key: String,
                        expectedKeys: Long, fpp: Double = 0.03): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val bloom = existingKeys.select(xxhash64(col(key).cast("string")).as("k"))
      .na.drop().stat.bloomFilter("k", expectedKeys, fpp)
    val out = new java.io.ByteArrayOutputStream()
    bloom.writeTo(out)
    val mightContain = ColumnBridge.column(BloomFilterMightContain(
      Literal(out.toByteArray, org.apache.spark.sql.types.BinaryType),
      ColumnBridge.expression(xxhash64(col(key).cast("string")))))
    val flagged = fresh.withColumn("_graft_mc", mightContain)
    val definitelyNew = flagged.filter(!col("_graft_mc")).drop("_graft_mc")
    val candidates = flagged.filter(col("_graft_mc")).drop("_graft_mc")
    definitelyNew.unionByName(
      candidates.join(existingKeys.select(key).distinct(), Seq(key), "left_anti"))
  }

  /** The map-side Bloom prune alone: keep probe rows whose `key`
    * MIGHT be in `keys` (codegen'd BloomFilterMightContain — no UDF,
    * no shuffle). False positives pass — resolve them with whatever
    * exact equi-join follows; false negatives are impossible, so a
    * dropped row is definitely clean. Split out of
    * [[bloomSemiJoinKeys]] for consumers whose follow-up join needs
    * more than semi semantics (q158 attaches the benchmark doc id). */
  def bloomProbe(probe: DataFrame, keys: DataFrame, key: String,
                 expectedKeys: Long, fpp: Double = 0.03): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val bloom = keys.select(xxhash64(col(key).cast("string")).as("k"))
      .na.drop().stat.bloomFilter("k", expectedKeys, fpp)
    val out = new java.io.ByteArrayOutputStream()
    bloom.writeTo(out)
    val mightContain = ColumnBridge.column(BloomFilterMightContain(
      Literal(out.toByteArray, org.apache.spark.sql.types.BinaryType),
      ColumnBridge.expression(xxhash64(col(key).cast("string")))))
    probe.filter(mightContain)
  }

  /** The semi-join dual of [[bloomAntiJoinKeys]] — keep rows whose key
    * IS in the set, at the scale where the exact set no longer
    * broadcasts. The Bloom's no-false-negative contract flips roles
    * here: a row FAILING the probe definitely has no match and drops
    * map-side — which for a needle-in-haystack probe (benchmark
    * decontamination: hit rates well under 1%) is ~the whole input —
    * and only survivors (true hits + fpp·|probe| false positives)
    * reach the exact semi-join that resolves every false positive.
    * Row-identical to `probe SEMI JOIN keys`; the shuffle shrinks
    * from |probe| to ~|hits| + fpp·|probe|. Same codegen'd Catalyst
    * `BloomFilterMightContain` probe as the anti spelling, no UDF.
    * Unlike the anti split, `probe` is evaluated ONCE (single branch)
    * so no determinism caveat applies. */
  def bloomSemiJoinKeys(probe: DataFrame, keys: DataFrame, key: String,
                        expectedKeys: Long, fpp: Double = 0.03): DataFrame =
    bloomProbe(probe, keys, key, expectedKeys, fpp)
      .join(keys.select(key).distinct(), Seq(key), "left_semi")
}
