package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.functions.DuckRoundExpr

/** Streaming semantic deduplication — q119's SemDeDup cell-based
  * prune as a CONTINUOUS stream, completing batch/stream parity for
  * the semantic family the way [[DedupStream]] did for MinHash and
  * [[EmbedStream]] for sign-LSH (`Similarity.semanticDedup`,
  * Abbas et al. 2023, arXiv:2303.09540).
  *
  * The quantizer is FROZEN: centroids are trained in batch
  * (`Similarity.kmeansCentroids`), collected once via
  * `Similarity.frozenQuantizer`, and captured in the stream's closure
  * — the same frozen-model contract as the q117 incremental IVF store
  * (assignment depends on nothing but the row and the model, so a
  * restart re-captures identical cells).
  *
  * Why the emitted event is the PRUNE, not the verdict: SemDeDup's
  * pairwise rule — pruned ⇔ ∃ LOWER-id cellmate at rounded cosine ≥
  * tau — is MONOTONE in corpus growth: new arrivals can only create
  * prunes, never undo one. "Kept" is therefore the absence of an
  * event (no retraction channel needed, clean Append output), and
  * each vector produces at most one PruneEvent for the whole life of
  * the stream: on its own arrival if an already-stored lower-id
  * cellmate matches, or later, when a lower-id vector arrives and
  * prunes it retroactively. Keepers at any instant = ids seen minus
  * ids pruned — exactly `semanticDedup(union of batches).kept`
  * regardless of arrival order (StreamingSpec asserts it under a
  * shuffled arrival order). The WITNESS (pruned_by, sim) is
  * arrival-order-dependent — the first qualifying lower-id cellmate
  * observed — only the pruned SET is order-free.
  *
  * Scale: state is sharded by quantizer cell (the batch operator's
  * own partitioning); an arrival costs one scan of its cell's
  * members, never a corpus pass — O(cell) per event, the streaming
  * face of SemDeDup's "within-cell pairs only" bound. `maxCellIds`
  * is the same memory FUSE as q122's member cap, with the measured
  * caveat (SCALING.md round-8): one-chance-per-pair spaces degrade
  * recall toward M/cellSize — the real lever is quantizer k growing
  * with n, so a saturated cell is a re-train signal, not a tuning
  * knob. A saturated cell stops pairing AND storing (the
  * [[DedupStream.BucketState]] latch contract).
  *
  * CHECKPOINT COMPATIBILITY: [[CellState]] is the persisted schema;
  * changing it breaks restore — bump `ver` and migrate decoded rows
  * in place (the EmbedStream rule).
  */
object SemanticStream {

  final case class Vec(vec_id: Long, embedding: Array[Float])
  final case class CellRow(cid: Long, vec_id: Long,
                           embedding: Array[Float])
  /** Stored member: pruned members STAY — the pairwise rule counts
    * every lower-id cellmate, pruned or not (dropping them would keep
    * MORE than batch SemDeDup, AnalyticsSpec's never-keeps-more
    * property). */
  final case class Member(id: Long, emb: Array[Float], pruned: Boolean)
  final case class CellState(members: List[Member], saturated: Boolean,
                             ver: Int = 1)
  /** `vec_id` is pruned by lower-id cellmate `pruned_by` at rounded
    * cosine `sim` (≥ tau, -0.0 normalized — the batch verdict
    * column's spelling). */
  final case class PruneEvent(vec_id: Long, pruned_by: Long, sim: Double)

  /** Frozen-quantizer cell assignment in plain Scala — bit-equal to
    * `Similarity.kmeansAssign`'s nearestCellExpr over the SAME
    * collected tuples (argmax by rounded cosine desc then cid asc;
    * zero-norm or length-mismatched sims map to -2.0; `+ 0.0`
    * normalizes -0.0): left-to-right double folds for dot and norm,
    * IEEE division, DuckRoundExpr.round6. StreamingSpec pins the
    * parity on the corpus. */
  def cellOf(emb: Array[Float],
             quant: Array[(Long, Array[Double], Double)]): Long = {
    require(quant.nonEmpty, "cellOf: empty quantizer")
    if (quant.length == 1) return quant.head._1
    var nv = 0.0
    var i = 0
    while (i < emb.length) { val x = emb(i).toDouble; nv += x * x; i += 1 }
    val nrm = math.sqrt(nv)
    var bestS = Double.NegativeInfinity
    var bestC = Long.MaxValue
    quant.foreach { case (cid, cv, cn) =>
      val den = nrm * cn
      val s =
        if (den == 0.0 || cv.length != emb.length) -2.0
        else {
          var d = 0.0
          var j = 0
          while (j < cv.length) { d += emb(j).toDouble * cv(j); j += 1 }
          DuckRoundExpr.round6(d / den) + 0.0
        }
      if (s > bestS || (s == bestS && cid < bestC)) { bestS = s; bestC = cid }
    }
    bestC
  }

  /** Pairwise rounded cosine with the batch verdict's exact spelling:
    * zero-norm (or length-mismatched) pairs yield NaN, which fails
    * every ≥ tau test — the scalar image of the batch NULL
    * (`when(nrm1*nrm2 =!= 0, duckRound(...) + 0.0)`). */
  def simOf(a: Array[Float], b: Array[Float]): Double =
    EmbedStream.cosineWith(a, b)((d, den) =>
      if (den == 0.0) Double.NaN else DuckRoundExpr.round6(d / den) + 0.0)

  /** Prune events over a vector stream under the frozen quantizer.
    * At any instant, {ids seen} ∖ {events' vec_ids} =
    * `Similarity.semanticDedup(all arrivals, cent, tau)`'s keepers —
    * arrival-order-free (monotone rule; witnesses are not). A
    * duplicate arrival of a stored id is ignored (replay
    * tolerance, ST5). */
  def streamingSemanticPrunes(vecs: Dataset[Vec],
                              quant: Array[(Long, Array[Double], Double)],
                              tau: Double,
                              maxCellIds: Int = Int.MaxValue): Dataset[PruneEvent] = {
    import vecs.sparkSession.implicits._
    vecs.flatMap { v =>
      // null embeddings drop (poison-row isolation, the twins' rule)
      if (v.embedding == null) Nil
      else Seq(CellRow(cellOf(v.embedding, quant), v.vec_id, v.embedding))
    }
      .groupByKey(_.cid)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (_: Long, rows: Iterator[CellRow], state: GroupState[CellState]) => {
          val prev = state.getOption.getOrElse(CellState(Nil, saturated = false))
          var saturated = prev.saturated
          val members = scala.collection.mutable.ArrayBuffer.from(prev.members)
          val known = scala.collection.mutable.Set.from(members.iterator.map(_.id))
          val out = scala.collection.mutable.ListBuffer.empty[PruneEvent]
          // sorted-id order makes in-batch behavior identical to the
          // ids having arrived in separate batches, smallest first —
          // the shape the monotonicity argument is stated for
          val arrivals = rows.toSeq.groupBy(_.vec_id).toSeq
            .map(_._2.head).sortBy(_.vec_id)
          arrivals.foreach { r =>
            if (!known.contains(r.vec_id)) {
              if (!saturated && members.size >= maxCellIds) saturated = true
              if (!saturated) {
                // one pass over the cell: collect this arrival's best
                // lower-id witness AND retro-prune stored higher ids
                var wId = -1L
                var wSim = Double.NegativeInfinity
                var mi = 0
                while (mi < members.length) {
                  val m = members(mi)
                  val s = simOf(r.embedding, m.emb)
                  if (s >= tau) {
                    if (m.id < r.vec_id) {
                      if (s > wSim || (s == wSim && m.id < wId)) {
                        wSim = s; wId = m.id
                      }
                    } else if (!m.pruned) {
                      out += PruneEvent(m.id, r.vec_id, s)
                      members(mi) = m.copy(pruned = true)
                    }
                  }
                  mi += 1
                }
                val prunedSelf = wId >= 0
                if (prunedSelf) out += PruneEvent(r.vec_id, wId, wSim)
                members += Member(r.vec_id, r.embedding, prunedSelf)
                known += r.vec_id
              }
            }
          }
          if (members.isEmpty && !saturated) state.remove()
          else state.update(CellState(members.toList, saturated))
          out.iterator
        })
  }
}
