package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.analytics.Similarity
import graft.functions.DuckRoundExpr

/** Streaming embedding near-dup detection — the VECTOR twin of
  * [[DedupStream]]: the q102 incremental bucket-store contract as a
  * CONTINUOUS stream instead of a nightly batch. Vectors arrive; each
  * one probes the Hamming ball of its sign-LSH bucket against
  * per-bucket state holding the vectors already stored there, and
  * VERIFIED pairs (exact rounded cosine ≥ threshold) emit the moment
  * the second member arrives. State is the bucket store itself — the
  * same (bucket → vectors) structure `Similarity.embedBucketStore`
  * persists nightly, kept by the streaming state backend, plus the
  * member vectors so the exact verify runs in-stream (the text twin
  * defers Jaccard verify to a foreachBatch; 64 floats per member make
  * in-stream cosine the cheaper spelling here).
  *
  * Pairing protocol: a vector is STORED only under its own bucket
  * (mask 0) and PROBES every bucket within `probeRadius` plane flips.
  * Since a pair within the radius meets in exactly two groups (each
  * side's true bucket) and in-batch arrivals pair only against members
  * added before them in sorted-id order, each qualifying pair emits
  * exactly once per clean run — old×new through the store, new×new
  * through same-batch ordering. Replayed micro-batches can re-emit
  * pairs whose stored side was lost to the replay boundary
  * (at-least-once, absorbed by an idempotent downstream sink — the
  * same trade DedupStream documents).
  */
object EmbedStream {

  final case class Vec(vec_id: Long, embedding: Array[Float])
  /** An incremental event: a vector arrival or a compaction drop —
    * the vector twin of [[DedupStream.DocOp]]. */
  final case class VecOp(vec_id: Long, embedding: Array[Float], drop: Boolean)
  final case class ProbeRow(probe: Long, vec_id: Long, own: Boolean,
                            embedding: Array[Float], drop: Boolean = false)
  final case class Member(id: Long, emb: Array[Float])
  /** Near-dup pair with the EXACT verified similarity — bit-equal to
    * the batch verify column (AnalyticsSpec/StreamingSpec pin it). */
  final case class VerifiedPair(v1: Long, v2: Long, sim: Double)
  /** Per-bucket state: members whose TRUE bucket is this group's key
    * (probe-only visitors never store), plus the `saturated` latch of
    * [[DedupStream.BucketState]] — a bucket past `maxBucketIds` is
    * boilerplate/collapsed-embedding signal, so it stops pairing AND
    * stops growing. Same CHECKPOINT COMPATIBILITY rule as the text
    * twin: these fields are the persisted state schema; changing them
    * breaks restore of existing checkpoints — rebuild from a fresh
    * checkpoint dir (the batch bucket store regenerates state). `ver`
    * (this shape = 1) is the last breaking addition — future
    * evolutions bump it and migrate decoded old rows in place. */
  final case class VecBucketState(members: List[Member], saturated: Boolean,
                                  ver: Int = 1)

  /** Sign-LSH bucket id in plain Scala — bit-equal to
    * `Similarity.bucketExpr` over `planeWeights` (StreamingSpec pins
    * the parity on the corpus): per plane, the VecDot left-to-right
    * double fold of float components against the ±1 sha-parity plane;
    * bit p set iff the projection is >= 0. */
  def bucketOf(emb: Array[Float], planes: Array[Array[Double]]): Long = {
    // batch parity for malformed vectors: VecDot yields NULL on a
    // length mismatch, `when(null >= 0, 1).otherwise(0)` clears every
    // bit, so bucketExpr assigns bucket 0 — mirror that instead of
    // truncating the fold (a truncated projection would put the
    // stream copy in a DIFFERENT bucket than the batch recompute)
    if (planes.exists(_.length != emb.length)) return 0L
    var b = 0L
    var p = 0
    while (p < planes.length) {
      val w = planes(p)
      var acc = 0.0
      var i = 0
      while (i < w.length) { acc += emb(i).toDouble * w(i); i += 1 }
      if (acc >= 0) b |= 1L << p
      p += 1
    }
    b
  }

  /** The one dot/norm loop behind both streaming twins' rounded
    * cosine (this `simOf` and SemanticStream's): left-to-right double
    * folds of a·b, |a|² and |b|² (VecExpressions.nullSafeEval), handed
    * to `sim` as (a·b, |a|·|b|). Length-mismatched inputs yield NaN. */
  private[streaming] def cosineWith(a: Array[Float], b: Array[Float])(
      sim: (Double, Double) => Double): Double = {
    if (a.length != b.length) return Double.NaN
    var d = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < a.length) {
      val x = a(i).toDouble
      val y = b(i).toDouble
      d += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    sim(d, math.sqrt(na) * math.sqrt(nb))
  }

  /** Exact rounded cosine in plain Scala — bit-equal to the batch
    * verify expression `duckRound(vec_dot(a,b)/(norm(a)*norm(b)), 6)`:
    * the [[cosineWith]] folds, IEEE division, then DuckRound's own
    * scalar rounding. Zero-norm or length-mismatched inputs yield
    * NaN, which fails every ≥ threshold test — the same fate the
    * batch null/NaN rows meet at the filter. */
  def simOf(a: Array[Float], b: Array[Float]): Double =
    cosineWith(a, b)((d, den) => DuckRoundExpr.round6(d / den))

  /** Verified near-dup pairs over a vector stream. Pairs are canonical
    * (v1 < v2), each pairs a NEW vector with a stored or same-batch
    * one — the O(delta) property: an arriving vector costs its own
    * |Hamming ball| probes, never a corpus rescan — and every emitted
    * row already carries the exact verified sim (output ≡
    * `Similarity.cosineNearDupPairsLsh` over the union of all batches,
    * values included; StreamingSpec asserts set equality).
    *
    * `maxBucketIds` bounds per-bucket state and emission exactly like
    * [[DedupStream.streamingNearDupCandidates]]: a bucket that would
    * grow past the cap saturates — further members neither pair nor
    * store. With near-isotropic embeddings buckets stay balanced
    * (2^nPlanes cells); the cap guards the adversarial case of mass
    * duplicate embeddings collapsing into one cell. */
  def streamingNearDupPairs(vecs: Dataset[Vec], threshold: Double,
                            nPlanes: Int = 6, probeRadius: Int = 1,
                            maxBucketIds: Int = Int.MaxValue): Dataset[VerifiedPair] = {
    import vecs.sparkSession.implicits._
    streamingNearDupPairsOps(
      vecs.map(v => VecOp(v.vec_id, v.embedding, drop = false)),
      threshold, nPlanes, probeRadius, maxBucketIds)
  }

  /** [[streamingNearDupPairs]] with in-stream state compaction — the
    * vector side of [[DedupStream.streamingNearDupCandidatesOps]]:
    * a drop event evicts its id from its OWN bucket's members (a
    * vector is only ever stored there; probe visits leave no state),
    * so future arrivals pair against keepers only. Within a mixed
    * batch drops apply first; a bucket emptied by eviction removes
    * its state row unless the saturation latch must survive. */
  def streamingNearDupPairsOps(ops: Dataset[VecOp], threshold: Double,
                               nPlanes: Int = 6, probeRadius: Int = 1,
                               maxBucketIds: Int = Int.MaxValue): Dataset[VerifiedPair] = {
    import ops.sparkSession.implicits._
    val planes = Similarity.planeWeights(nPlanes, 64)
    val masks = Similarity.probeMasks(nPlanes, probeRadius)
    ops.flatMap { v =>
      // null embedding: drop the row, exactly like the batch path
      // (VecDot → null sim → filtered) and the text twin's null-text
      // guard — a poison row must not kill the long-running query
      if (v.embedding == null) Nil
      else {
        val b = bucketOf(v.embedding, planes)
        if (v.drop) Seq(ProbeRow(b, v.vec_id, own = true, v.embedding, drop = true))
        else masks.map(m => ProbeRow(b ^ m, v.vec_id, m == 0L, v.embedding))
      }
    }
      .groupByKey(_.probe)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (_: Long, rows: Iterator[ProbeRow], state: GroupState[VecBucketState]) => {
          val prev = state.getOption.getOrElse(VecBucketState(Nil, saturated = false))
          val rs = rows.toSeq
          val droppedIds = rs.iterator.filter(_.drop).map(_.vec_id).toSet
          var members = prev.members.filterNot(m => droppedIds.contains(m.id))
          val knownIds = members.iterator.map(_.id).toSet
          var n = members.size
          var saturated = prev.saturated
          val out = scala.collection.mutable.ListBuffer.empty[VerifiedPair]
          // one row per vec per group (distinct masks hit distinct
          // groups), but a replayed/duplicated input row may repeat an
          // id — collapse, preferring the own-bucket flag, and process
          // in sorted-id order so same-batch pairs form exactly once
          // (the larger id pairs in the group where the smaller is
          // stored first)
          val arrivals = rs.filterNot(_.drop).groupBy(_.vec_id).toSeq
            .map { case (id, vs) => (id, vs.exists(_.own), vs.head.embedding) }
            .sortBy(_._1)
          arrivals.foreach { case (id, own, emb) =>
            if (!knownIds.contains(id) && !droppedIds.contains(id)) {
              // latch on ANY arrival at the cap (own or probe visitor):
              // the text twin latches every arrival, and a probe-only
              // visitor pairing against an at-cap bucket would drift
              // from the "stops pairing" contract in the scaladoc
              if (!saturated && n >= maxBucketIds) saturated = true
              if (!saturated) {
                members.foreach { m =>
                  if (m.id != id) {
                    val s = simOf(emb, m.emb)
                    if (s >= threshold)
                      out += VerifiedPair(math.min(id, m.id), math.max(id, m.id), s)
                  }
                }
                if (own) {
                  members = Member(id, emb) :: members
                  n += 1
                }
              }
            }
          }
          if (members.isEmpty && !saturated) state.remove()
          else state.update(VecBucketState(members, saturated))
          out.iterator
        })
  }
}
