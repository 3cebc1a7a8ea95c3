package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming entity resolution — the ER family's continuous twin
  * (q166 batch, q167 incremental, this the per-arrival face):
  * records stream in, each arrival probes its BLOCKING bucket's
  * stored members with the same multi-field score the batch
  * operator uses, and a match pair emits the moment the second
  * member arrives — the "is this incoming record a duplicate of
  * something we already have" question answered at ingest time.
  *
  * One spelling of the MATCH RULE with the batch side: [[score]]
  * reproduces `EntityResolution.matchPairs`' predicate exactly
  * (Levenshtein ≤ 2 · weight 2, type equality · 1, |size Δ| ≤ 1 ·
  * 1, match ⇔ ≥ 4); [[lev]] is the standard unit-cost edit
  * distance, codepoint-identical to Spark's `levenshtein` on this
  * data. The parity spec pins set equality of the emitted pairs
  * against `matchPairs(all, all)` across drops and a restart.
  *
  * Exactly-once per pair on clean runs: an arrival pairs against
  * the CURRENT members, then stores itself — each unordered pair
  * emits in the batch where its later member arrives (in-batch
  * arrivals are processed in key order, so same-batch pairs emit
  * once too). Replayed micro-batches can re-emit pairs whose stored
  * side predates the replay boundary — at-least-once, absorbed by
  * an idempotent sink (the family contract).
  *
  * Scale: state shards by BLOCKING key — multi-pass like the batch
  * side (round 12, pass 4 round 13, passes 5/6 round 14): each
  * record enters its brand bucket, its name-first-token,
  * name-last-token, name-middle-section, stripped-prefix and
  * stripped-suffix buckets
  * ([[graft.analytics.EntityResolution.block2Key]]/`block3Key`/
  * `block4Key`/`block5Key`/`block6Key`, the one spelling with the
  * batch `blockNCol` family); each later bucket only emits pairs
  * EVERY earlier key fails to cover (the suppress-in-later-passes
  * rule — a pair covered by an earlier key emits from that bucket
  * alone), so clean runs stay exactly-once per pair with no
  * cross-bucket dedup stage. State is one bucket entry per
  * (record, key) — 6× members, same shape. An arrival costs six
  * bucket scans. `maxMembers` is the saturation
  * latch of the other twins — a bucket past the cap is a
  * mass-duplicate signal that stops pairing AND growing.
  *
  * CHECKPOINT COMPATIBILITY: [[ErStream.BucketState]] is the
  * persisted schema; bump `ver` and migrate on change. */
object ErStream {

  final case class Rec(p_partkey: Long, p_brand: String, p_name: String,
                       p_type: String, p_size: Int)
  final case class BucketState(members: List[Rec], saturated: Boolean,
                               ver: Int = 1)
  final case class MatchPair(d1: Long, d2: Long)

  /** Levenshtein via Spark's OWN implementation
    * (`UTF8String.levenshteinDistance` — the engine behind the SQL
    * `levenshtein` function), so the stream's metric is batch-
    * identical BY CONSTRUCTION, codepoints and all (a hand-rolled
    * UTF-16-char DP would diverge on supplementary-plane names —
    * the TableStats.utf8Cmp class of bug). */
  def lev(a: String, b: String): Int =
    org.apache.spark.unsafe.types.UTF8String.fromString(a)
      .levenshteinDistance(org.apache.spark.unsafe.types.UTF8String.fromString(b))

  /** The batch match rule, record-pair form — every constant read
    * from [[graft.analytics.EntityResolution]] (one spelling; a
    * weight edit there changes both sides). The length-band check
    * short-circuits the DP exactly the way `levBandPairs`' blocking
    * does. */
  def isMatch(x: Rec, y: Rec): Boolean = {
    import graft.analytics.EntityResolution._
    math.abs(x.p_name.length - y.p_name.length) <= MAX_NAME_DIST &&
      lev(x.p_name, y.p_name) <= MAX_NAME_DIST && {
        W_NAME + (if (x.p_type == y.p_type) W_TYPE else 0) +
          (if (math.abs(x.p_size - y.p_size) <= SIZE_BAND) W_SIZE else 0) >=
          MATCH_THRESHOLD
      }
  }

  /** Verified match pairs over a record stream, canonical d1 < d2.
    * Each record enters FOUR buckets (brand, name-first-token,
    * name-last-token, name-middle-section); later buckets pair only
    * members every EARLIER key fails to cover, so the passes are
    * disjoint by construction — batch parity with
    * `EntityResolution.matchPairs`' multi-pass recovery. */
  def matchPairs(recs: Dataset[Rec], maxMembers: Int = 10000): Dataset[MatchPair] = {
    import recs.sparkSession.implicits._
    import graft.analytics.EntityResolution.{block2Key, block3Key, block4Key, block5Key, block6Key}
    recs.flatMap { r =>
      val mid = block4Key(r.p_name) // empty-block purge: "" would be a
      // degenerate bucket holding every <= 2-token name (one constant-
      // key FMGWS funnel — see block4Col's scaladoc; batch pass 4
      // carries the same =!= "" guard)
      Seq(("b|" + r.p_brand, r), ("t|" + block2Key(r.p_name), r),
        ("u|" + block3Key(r.p_name), r)) ++
        (if (mid.nonEmpty) Seq(("m|" + mid, r)) else Seq.empty) ++
        // passes 5/6 (round 14): stripped prefix/suffix windows —
        // profiled FINER than the token buckets on this corpus
        // (block5Col scaladoc); "" only for all-space names, purged
        // on the same hygiene as the middle key
        Seq(block5Key(r.p_name)).filter(_.nonEmpty).map(k => ("p|" + k, r)) ++
        Seq(block6Key(r.p_name)).filter(_.nonEmpty).map(k => ("q|" + k, r))
    }
      .groupByKey(_._1)
      .flatMapGroupsWithState[BucketState, MatchPair](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (key, it, state: GroupState[BucketState]) =>
          val pass = key.charAt(0) // 'b' | 't' | 'u' | 'm' | 'p' | 'q'
          var st = state.getOption.getOrElse(BucketState(Nil, saturated = false))
          val out = scala.collection.mutable.ListBuffer.empty[MatchPair]
          it.map(_._2).toSeq.sortBy(_.p_partkey).foreach { r =>
            if (!st.saturated) {
              st.members.foreach { m =>
                // the suppress-in-later-passes rule, one clause per
                // earlier key — a pair covered by an earlier bucket
                // emits from that bucket alone (batch disjointness,
                // mirrored)
                def brandsDiffer = m.p_brand != r.p_brand
                def tok1Differ = block2Key(m.p_name) != block2Key(r.p_name)
                def tok3Differ = block3Key(m.p_name) != block3Key(r.p_name)
                def midUncovered = {
                  val mm = block4Key(m.p_name)
                  mm != block4Key(r.p_name) || mm.isEmpty
                }
                def pre8Differ = block5Key(m.p_name) != block5Key(r.p_name)
                val emit = pass match {
                  case 'b' => true
                  case 't' => brandsDiffer
                  case 'u' => brandsDiffer && tok1Differ
                  case 'm' => brandsDiffer && tok1Differ && tok3Differ
                  case 'p' => brandsDiffer && tok1Differ && tok3Differ &&
                    midUncovered
                  case _ => brandsDiffer && tok1Differ && tok3Differ &&
                    midUncovered && pre8Differ
                }
                if (m.p_partkey != r.p_partkey && emit && isMatch(m, r))
                  out += MatchPair(math.min(m.p_partkey, r.p_partkey),
                    math.max(m.p_partkey, r.p_partkey))
              }
              st =
                // a tripped bucket stops pairing AND growing — and
                // drops its member list: the guard above never reads
                // it again, so keeping 10k Recs in every checkpoint
                // would be maximum-size dead state
                if (st.members.size + 1 > maxMembers)
                  BucketState(Nil, saturated = true)
                else st.copy(members = r :: st.members)
            }
          }
          state.update(st)
          out.iterator
      }
  }
}
