package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
import graft.sinks.TableStats.utf8Cmp

/** Streaming change-data-capture apply — `ops.Cdc.applyChangelog`
  * (q144) as a CONTINUOUS stream, completing batch/stream parity for
  * the CDC face the way [[DedupStream]]/[[SemanticStream]] do for the
  * dedup families: a serving table maintained from a change stream
  * instead of a nightly merge.
  *
  * Contract (the batch operator's, verbatim): per key only the
  * LATEST change applies, latest = lexicographic max over
  * (seq, op, payload) — seq alone decides when unique, the trailing
  * fields pin determinism under duplicate seqs. 'D' deletes, 'I'/'U'
  * both upsert (update-to-missing inserts). The initial snapshot is
  * primed as the stream's first drop with seq below every log offset
  * ([[snapshotChange]]).
  *
  * Emission: one [[ChangeEvent]] per key per micro-batch, and only
  * when the key's current value CHANGES (the incoming batch-max beats
  * the stored state under the same lexicographic order). A late or
  * replayed change — incoming ≤ stored — emits NOTHING: duplicate
  * replay and out-of-order log segments are absorbed by the state,
  * which is exactly the at-least-once-source tolerance the batch
  * operator gets from idempotent re-merge. Folding the emitted
  * events per key by seq therefore reconstructs
  * `Cdc.applyChangelog(snapshot, allChanges)` at every instant
  * (StreamingSpec pins it across nights + a checkpoint restart).
  *
  * Scale: state is one (seq, op, payload) per LIVE key, sharded by
  * key — an arrival costs O(1); there is no rescan of the snapshot.
  * Deleted keys keep a tombstone (seq must survive so a stale
  * pre-delete update cannot resurrect the key) — on a real deploy,
  * bound it with a TTL past the log's max disorder window (the
  * statefulDedupTtl pattern, EventStreams.scala).
  *
  * CHECKPOINT COMPATIBILITY: [[KeyState]] is the persisted schema;
  * changing it breaks restore — bump `ver` and migrate (the
  * EmbedStream rule).
  */
object CdcStream {

  final case class Change(key: Long, seq: Long, op: String, payload: String)
  final case class KeyState(seq: Long, op: String, payload: String,
                            ver: Int = 1)
  /** Effective event: op is 'U' (upsert — 'I' normalized) or 'D'. */
  final case class ChangeEvent(key: Long, seq: Long, op: String,
                               payload: String)

  /** The snapshot row as a pre-log change (seq below every offset). */
  def snapshotChange(key: Long, payload: String): Change =
    Change(key, Long.MinValue, "I", payload)

  /** The batch operator's lexicographic (seq, op, payload) order,
    * strings compared as UTF-8 bytes with nulls first
    * ([[graft.sinks.TableStats.utf8Cmp]]): a UTF-16 compare would let
    * duplicate-seq ties resolve differently stream vs batch. */
  private val changeOrd: Ordering[Change] = new Ordering[Change] {
    def compare(a: Change, b: Change): Int = {
      val s = java.lang.Long.compare(a.seq, b.seq)
      if (s != 0) return s
      val o = utf8Cmp(a.op, b.op)
      if (o != 0) o else utf8Cmp(a.payload, b.payload)
    }
  }

  /** Fold a changelog stream into per-key current-value change
    * events (Append mode; see object scaladoc for the contract).
    * An incoming change that advances the stored (seq, op, payload)
    * tuple WITHOUT changing the served value — a higher seq carrying
    * the identical upsert, or a delete for a key already absent —
    * updates the state (the seq watermark must advance so stale
    * pre-dated changes stay absorbed) but emits NOTHING: consumers
    * may treat every event as a real mutation. */
  def currentEvents(changes: Dataset[Change]): Dataset[ChangeEvent] = {
    import changes.sparkSession.implicits._
    changes.groupByKey(_.key)
      .flatMapGroupsWithState[KeyState, ChangeEvent](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key, it, state) =>
          val incoming = it.max(changeOrd)
          val stored = state.getOption
          val beats = stored.forall(s =>
            changeOrd.gt(incoming, Change(key, s.seq, s.op, s.payload)))
          if (!beats) Iterator.empty
          else {
            val prevEff = stored.filter(_.op != "D").map(_.payload)
            val newEff = Some(incoming.payload).filter(_ => incoming.op != "D")
            state.update(KeyState(incoming.seq, incoming.op, incoming.payload))
            if (prevEff == newEff) Iterator.empty
            else {
              val eff = if (incoming.op == "D") "D" else "U"
              Iterator.single(ChangeEvent(key, incoming.seq, eff, incoming.payload))
            }
          }
      }
  }
}
