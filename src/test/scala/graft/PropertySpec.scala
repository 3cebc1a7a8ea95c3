package graft

import org.apache.spark.sql.functions._
import graft.ops.{Dedup, Exact, Merge, Normalize}

/** Property tests for the algebraic invariants (SURVEY.md §5):
  * merge idempotency, anti-join disjointness, surrogate-key
  * determinism, duckRound semantics — each over seeded random case
  * batches (hand-rolled generation: the scalatest-scalacheck bridge
  * is not in the offline dependency set).
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new scala.util.Random(42)
  private def randBatch(n: Int): List[(String, String)] =
    List.fill(n)((s"k${rnd.nextInt(20)}", rnd.alphanumeric.take(8).mkString))

  test("U2: mergeByKey is idempotent for arbitrary batches") {
    (1 to 8).foreach { _ =>
      val e = randBatch(rnd.nextInt(30) + 1)
      val f = randBatch(rnd.nextInt(30) + 1)
      val once = Merge.mergeByKey(e.toDF("k", "v"), f.toDF("k", "v"), Seq("k"))
      val twice = Merge.mergeByKey(once, f.toDF("k", "v"), Seq("k"))
      assert(once.select("k").distinct().count() == once.count())
      assert(twice.count() == once.count())
      assert(twice.select("k").except(once.select("k")).count() == 0)
    }
  }

  test("J1: anti-join output is disjoint from existing and preserves the rest") {
    (1 to 8).foreach { _ =>
      val f = randBatch(rnd.nextInt(30) + 1)
      val e = randBatch(rnd.nextInt(30))
      val out = Dedup.antiJoinKeys(f.toDF("place_id", "v"),
        e.map(_._1).toDF("place_id"), "place_id")
      assert(out.join(e.map(_._1).toDF("place_id"), Seq("place_id"), "left_semi").count() == 0)
      val keptKeys = f.map(_._1).toSet -- e.map(_._1).toSet
      assert(out.count() == f.count(r => keptKeys.contains(r._1)))
    }
  }

  test("J1-at-scale: bloom anti-join is row-identical to the exact anti-join") {
    (1 to 5).foreach { _ =>
      val f = randBatch(rnd.nextInt(80) + 20)
      val e = randBatch(rnd.nextInt(40))
      val fresh = f.toDF("place_id", "v")
      val keys = e.map(_._1).toDF("place_id")
      val exact = Dedup.antiJoinKeys(fresh, keys, "place_id")
        .collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq
      val bloomed = Dedup.bloomAntiJoinKeys(fresh, keys, "place_id",
          expectedKeys = math.max(e.size.toLong, 1L))
        .collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq
      assert(bloomed == exact)
    }
  }

  test("decontamination-at-scale: bloom semi-join is row-identical to the exact semi-join") {
    (1 to 5).foreach { _ =>
      val f = randBatch(rnd.nextInt(80) + 20)
      val e = randBatch(rnd.nextInt(40))
      val probe = f.toDF("place_id", "v")
      val keys = e.map(_._1).toDF("place_id")
      val exact = probe.join(keys.distinct(), Seq("place_id"), "left_semi")
        .collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq
      // tiny expectedKeys forces a saturated, high-fpp filter once e
      // outgrows it — the exact join must still resolve every false
      // positive (the no-false-negative contract is what's load-bearing)
      val bloomed = Dedup.bloomSemiJoinKeys(probe, keys, "place_id",
          expectedKeys = math.max(e.size.toLong / 2, 1L), fpp = 0.2)
        .collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq
      assert(bloomed == exact)
    }
  }

  test("O4: surrogate key is deterministic and collision-free on distinct inputs") {
    (1 to 5).foreach { _ =>
      val xs = List.fill(20)(rnd.alphanumeric.take(12).mkString).distinct
      val df = xs.toDF("a")
      val keys = df.select(Normalize.surrogateKey($"a", lit("x")).as("id"))
      assert(keys.except(df.select(Normalize.surrogateKey($"a", lit("x")).as("id"))).count() == 0)
      assert(keys.distinct().count() == xs.size)
    }
  }

  test("TopKPerKey equals the window formulation on random data") {
    import org.apache.spark.sql.expressions.Window
    (1 to 5).foreach { _ =>
      val rows = List.fill(rnd.nextInt(200) + 20)(
        (s"k${rnd.nextInt(8)}", rnd.nextLong(), rnd.nextInt(10).toDouble))
      val df = rows.toDF("k", "id", "score") // many score ties by design
      val k = rnd.nextInt(4) + 1
      val got = graft.plans.TopKPerKey(df, Seq("k"), "score", "id", k)
        .select("k", "id").collect().map(r => (r.getString(0), r.getLong(1))).toSet
      val w = Window.partitionBy($"k").orderBy($"score".desc, $"id".asc)
      val want = df.withColumn("rn", row_number().over(w)).filter($"rn" <= k)
        .select("k", "id").collect().map(r => (r.getString(0), r.getLong(1))).toSet
      assert(got == want)
    }
  }

  test("RangeJoin.binned equals the naive inequality join on random intervals") {
    (1 to 5).foreach { _ =>
      val t0 = 1700000000000000L // epoch micros base
      val pts = List.fill(rnd.nextInt(150) + 10)(
        (rnd.nextLong().abs % 100000, t0 + rnd.nextInt(86400) * 1000000L))
        .map { case (id, us) => (id, new java.sql.Timestamp(us / 1000)) }
      val ivs = List.fill(rnd.nextInt(30) + 2) {
        val lo = t0 + rnd.nextInt(86400) * 1000000L
        (rnd.nextLong().abs % 1000, new java.sql.Timestamp(lo / 1000),
          new java.sql.Timestamp(lo / 1000 + (rnd.nextInt(7200) + 1) * 1000L))
      }
      val p = pts.toDF("id", "ts")
      val iv = ivs.toDF("iid", "lo", "hi")
      val got = graft.ops.RangeJoin.binned(p, "ts", iv, "lo", "hi", rnd.nextInt(3600) + 30)
        .select("id", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val want = p.join(iv, $"ts" >= $"lo" && $"ts" <= $"hi")
        .select("id", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == want)
    }
  }

  test("overlapBinned equals the naive overlap join; emits each pair once") {
    (1 to 5).foreach { _ =>
      val t0 = 1700000000000000L
      def ivs(n: Int, tag: String) = List.fill(n) {
        val lo = t0 + rnd.nextInt(86400) * 1000000L
        (rnd.nextLong().abs % 100000,
          new java.sql.Timestamp(lo / 1000),
          new java.sql.Timestamp(lo / 1000 + (rnd.nextInt(7200) + 1) * 1000L))
      }.toDF(s"id$tag", s"lo$tag", s"hi$tag")
      val a = ivs(rnd.nextInt(60) + 5, "1")
      val b = ivs(rnd.nextInt(60) + 5, "2")
      val got = graft.ops.RangeJoin.overlapBinned(a, "lo1", "hi1", b, "lo2", "hi2",
          rnd.nextInt(3600) + 30)
        .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toList
      val want = a.join(b, $"lo1" <= $"hi2" && $"lo2" <= $"hi1")
        .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toList
      assert(got.sorted == want.sorted) // list equality: no duplicate emissions
    }
  }

  test("capped span profile splits uncapped n_dup exactly, for random corpora and caps") {
    // for ANY corpus and any dfCap >= 1, every capped span (df > cap
    // >= 1 means >= 2 docs, hence >= 2 occurrences) is a dup span, so
    // uncapped.n_dup = capped.n_dup + capped.n_capped per document
    val words = Vector("a", "b", "c", "d", "e")
    (1 to 6).foreach { _ =>
      val docs = (1L to (rnd.nextInt(12) + 4).toLong).map { id =>
        (id, List.fill(rnd.nextInt(10) + 3)(words(rnd.nextInt(words.size))).mkString(" "))
      }.toDF("doc_id", "text")
      val k = rnd.nextInt(2) + 2
      val cap = rnd.nextInt(3) + 1
      val un = graft.analytics.DedupOps.spanDupProfile(docs, k)
        .select("doc_id", "n_dup").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val cp = graft.analytics.DedupOps.spanDupProfileCapped(docs, k, cap)
        .select("doc_id", "n_dup", "n_capped").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(cp.nonEmpty)
      cp.foreach { case (id, nd, nc) =>
        assert(un(id) == nd + nc, s"doc $id: uncapped=${un(id)} capped=$nd+$nc (k=$k cap=$cap)")
      }
    }
  }

  test("TableLog data skipping: readWhere ≡ read().filter for random tables and predicates") {
    // round-12 soundness property: footer-stat pruning may only drop
    // files that provably hold no matching row — for ANY predicate in
    // the supported shapes and any data (nulls, negatives, duplicate
    // values across files, string edges), readWhere's rows equal the
    // unpruned read + filter exactly
    import graft.sinks.TableLog
    val strs = Array("", "a", "ab", "zz", "m-9", "Ωmega", "\u0001ctl")
    (1 to 6).foreach { round =>
      val t = java.nio.file.Files.createTempDirectory(s"graft-skip-prop$round").toString
      // 2–4 commits of random (id, x, s) rows — ranges overlap freely
      val nCommits = 2 + rnd.nextInt(3)
      (1 to nCommits).foreach { _ =>
        val rows = List.fill(rnd.nextInt(40) + 5)((
          rnd.nextInt(200).toLong - 100,
          if (rnd.nextInt(8) == 0) null.asInstanceOf[java.lang.Double]
          else java.lang.Double.valueOf(rnd.nextInt(100) / 7.0),
          if (rnd.nextInt(8) == 0) null else strs(rnd.nextInt(strs.length))))
        TableLog.append(rows.toDF("id", "x", "s").coalesce(1 + rnd.nextInt(2)), t)
      }
      val preds = Seq(
        col("id") === (rnd.nextInt(240) - 120).toLong,
        col("id") > (rnd.nextInt(200) - 100).toLong,
        col("id") <= (rnd.nextInt(200) - 100).toLong && col("id") >= -50L,
        col("x") < rnd.nextInt(15).toDouble,
        col("s") === strs(rnd.nextInt(strs.length)),
        col("s").isNull,
        col("s").isNotNull && col("id") =!= 0L,
        col("id").isin(-3L, 7L, 99L, 1000L),
        col("id") === 5L || col("s") === "zz",
        length(col("s")) > 1) // opaque: must never prune
      preds.foreach { pred =>
        val expected = TableLog.read(spark, t).filter(pred)
          .collect().map(_.toString).sorted.toSeq
        val got = TableLog.readWhere(spark, t, pred)
          .collect().map(_.toString).sorted.toSeq
        assert(got == expected, s"round $round predicate $pred")
      }
    }
  }

  test("TableLog delete: delete(p) ≡ read.filter(NOT coalesce(p, false)) for random tables and predicates") {
    // the round-13 DELETE made manifest-stats pruning LOAD-BEARING for
    // the first time: files mayContain clears carry into the new
    // version untouched, with NO read-side filter stacking on top (the
    // readWhere safety net). This fuzzes the erasure identity itself:
    // for ANY predicate in the supported shapes and any data, the
    // post-delete table equals the pre-delete rows where the predicate
    // is not TRUE (SQL null semantics — a NULL verdict keeps the row).
    // Deletes COMPOSE on one table, so later rounds also exercise
    // delete-on-delete over already-rewritten files.
    import graft.sinks.TableLog
    val strs = Array("", "a", "ab", "zz", "m-9", "Ωmega", "ctl")
    (1 to 4).foreach { round =>
      val t = java.nio.file.Files.createTempDirectory(s"graft-del-prop$round").toString
      (1 to 2 + rnd.nextInt(3)).foreach { _ =>
        val rows = List.fill(rnd.nextInt(40) + 5)((
          rnd.nextInt(200).toLong - 100,
          if (rnd.nextInt(8) == 0) null.asInstanceOf[java.lang.Double]
          else java.lang.Double.valueOf(rnd.nextInt(100) / 7.0),
          if (rnd.nextInt(8) == 0) null else strs(rnd.nextInt(strs.length))))
        TableLog.append(rows.toDF("id", "x", "s").coalesce(1 + rnd.nextInt(2)), t)
      }
      val preds = Seq(
        col("id") === (rnd.nextInt(240) - 120).toLong,
        col("id") > (rnd.nextInt(120) + 40).toLong,
        col("x") < rnd.nextInt(4).toDouble,
        col("s") === strs(rnd.nextInt(strs.length)),
        col("s").isNull,
        col("id").isin(-3L, 7L, 99L, 1000L),
        col("id") === 5L || col("s") === "zz",
        length(col("s")) > 1) // opaque: every file is "touched"
      preds.foreach { pred =>
        val expected = TableLog.read(spark, t)
          .filter(not(coalesce(pred, lit(false))))
          .collect().map(_.toString).sorted.toSeq
        // a delete of every row commits an empty-but-readable version
        TableLog.delete(spark, t, pred)
        val got = TableLog.read(spark, t)
          .collect().map(_.toString).sorted.toSeq
        assert(got == expected, s"round $round predicate $pred")
      }
    }
  }

  test("TableLog deleteVectors: deleteVectors(p) ≡ read.filter(NOT coalesce(p, false)) for random tables, predicates and dv fractions") {
    // the merge-on-read erasure identity: same contract as the
    // copy-on-write delete fuzz, but the verb lands as per-file
    // position sidecars (or a mixed dv/cow/drop commit, steered by a
    // random maxDvFraction — 0.0 forces pure copy-on-write through
    // the verb, 1.0 pure sidecars, 0.5 mixes). Deletes COMPOSE on one
    // table, so later rounds exercise dv-on-dv (sidecar repoint +
    // union), dv-over-rewritten-files, and positions computed over
    // already-DV'd reads.
    import graft.sinks.TableLog
    val strs = Array("", "a", "ab", "zz", "m-9", "Ωmega", "ctl")
    (1 to 4).foreach { round =>
      val t = java.nio.file.Files.createTempDirectory(s"graft-dvp$round").toString
      (1 to 2 + rnd.nextInt(3)).foreach { _ =>
        val rows = List.fill(rnd.nextInt(40) + 5)((
          rnd.nextInt(200).toLong - 100,
          if (rnd.nextInt(8) == 0) null.asInstanceOf[java.lang.Double]
          else java.lang.Double.valueOf(rnd.nextInt(100) / 7.0),
          if (rnd.nextInt(8) == 0) null else strs(rnd.nextInt(strs.length))))
        TableLog.append(rows.toDF("id", "x", "s").coalesce(1 + rnd.nextInt(2)), t)
      }
      val preds = Seq(
        col("id") === (rnd.nextInt(240) - 120).toLong,
        col("id") > (rnd.nextInt(120) + 40).toLong,
        col("x") < rnd.nextInt(4).toDouble,
        col("s") === strs(rnd.nextInt(strs.length)),
        col("s").isNull,
        col("id").isin(-3L, 7L, 99L, 1000L),
        col("id") === 5L || col("s") === "zz",
        length(col("s")) > 1) // opaque: every file is "touched"
      preds.foreach { pred =>
        val frac = Seq(0.0, 0.5, 1.0)(rnd.nextInt(3))
        val expected = TableLog.read(spark, t)
          .filter(not(coalesce(pred, lit(false))))
          .collect().map(_.toString).sorted.toSeq
        // a delete of every row commits an empty-but-readable version
        TableLog.deleteVectors(spark, t, pred, maxDvFraction = frac)
        val got = TableLog.read(spark, t)
          .collect().map(_.toString).sorted.toSeq
        assert(got == expected, s"round $round predicate $pred frac $frac")
      }
    }
  }

  test("TableLog merge: merge(changes) ≡ Cdc-fold over the snapshot for random tables and changelogs") {
    // same load-bearing-pruning hazard as delete, on the MERGE path:
    // untouched files carry by identity, so a false "cannot match"
    // would leave a key unmerged. Fuzz: random range-appended tables,
    // random I/U/D changelogs (in-range, out-of-range, duplicate seqs
    // per key, null keys) — the post-merge table must equal
    // Cdc.applyChangelog over the full pre-merge snapshot (the
    // O(table) spelling the verb replaces).
    import graft.sinks.TableLog
    (1 to 4).foreach { round =>
      val t = java.nio.file.Files.createTempDirectory(s"graft-mrg-prop$round").toString
      (0 until 2 + rnd.nextInt(2)).foreach { k =>
        val rows = (0 until rnd.nextInt(30) + 10).map { i =>
          (k * 100L + i, s"v$k-$i")
        }
        TableLog.append(rows.toDF("id", "pay").coalesce(1 + rnd.nextInt(2)), t)
      }
      val snapshot = TableLog.read(spark, t).collect()
        .map(r => (r.getLong(0), r.getString(1)))
      val ops = Array("I", "U", "D")
      val changes = (1 to rnd.nextInt(25) + 5).map { i =>
        val key: java.lang.Long =
          if (rnd.nextInt(10) == 0) null
          else java.lang.Long.valueOf(rnd.nextInt(400).toLong - 50)
        (key, rnd.nextInt(4).toLong, ops(rnd.nextInt(3)), s"c$i")
      }.toDF("id", "seq", "op", "pay")
      val expected = graft.ops.Cdc.applyChangelog(
          snapshot.toSeq.toDF("id", "pay"), changes, "id", "seq", "op", Seq("pay"))
        .collect().map(_.toString).sorted.toSeq
      TableLog.merge(spark, t, changes, "id", "seq", "op")
      val got = TableLog.read(spark, t).collect().map(_.toString).sorted.toSeq
      assert(got == expected, s"round $round")
    }
  }

  test("q120 histogram binning: Spark floor(x/8) matches Scala IEEE on random doubles incl. negatives; rank invariant holds") {
    // the corpus never exercises negative values or exact bin edges —
    // random doubles do. Division by a power of two is an exponent
    // shift, so Spark's floor(x/8.0) must agree bit-for-bit with the
    // driver-side computation for ANY double, and the q120 estimate
    // invariant (bin upper edge strictly above the rank-r order stat,
    // by at most one bin width) must hold on arbitrary data.
    val W = 8.0
    (1 to 6).foreach { _ =>
      val xs = List.fill(rnd.nextInt(200) + 20)(
        (rnd.nextDouble() - 0.5) * math.pow(10, rnd.nextInt(5)))
      val got = xs.toDF("value")
        .select(floor(col("value") / W).cast("long").as("bin")).collect()
        .map(_.getLong(0)).toList
      val want = xs.map(x => math.floor(x / W).toLong)
      assert(got == want, "engine binning must equal IEEE floor(x/W)")
      // estimate invariant at every q on this batch
      val sorted = xs.sorted
      val n = xs.length
      Seq(0.5, 0.9, 0.99).foreach { q =>
        val r = math.ceil(q * n).toLong.toInt
        val xr = sorted(r - 1)
        val binCounts = xs.groupBy(x => math.floor(x / W).toLong).view
          .mapValues(_.size).toMap
        val bins = binCounts.keys.toList.sorted
        val cum = bins.scanLeft(0L)((a, b) => a + binCounts(b)).tail
        val bIdx = cum.indexWhere(_ >= r)
        val est = (bins(bIdx) + 1) * W
        assert(est > xr && est - xr <= W,
          s"q=$q n=$n: est=$est xr=$xr violates the (0, W] bound")
      }
    }
  }

  test("probeMasks: combination construction equals the Hamming-ball definition") {
    // the combination spelling exists so wide signatures never sweep
    // 2^nPlanes on the driver; it must stay set-equal (and sorted)
    // vs the definitional filter on ranges small enough to enumerate
    for (n <- 1 to 12; r <- 0 to 3) {
      val got = graft.analytics.Similarity.probeMasks(n, r)
      val want = (0L until (1L << n)).filter(m => java.lang.Long.bitCount(m) <= r)
      assert(got == want, s"nPlanes=$n radius=$r")
    }
    // and the wide case the old spelling could not touch: linear count
    assert(graft.analytics.Similarity.probeMasks(62, 1).length == 63)
  }

  test("BM25 scoring equals an independent scalar reimplementation on random corpora") {
    val vocab = Vector("a", "b", "c", "d", "e", "f")
    def duckRound6(x: Double) = {
      val s = x * 1e6
      (if (s >= 0) math.floor(s + 0.5) else math.ceil(s - 0.5)) / 1e6
    }
    (1 to 5).foreach { _ =>
      val nDocs = rnd.nextInt(20) + 5
      val docs = (0 until nDocs).map { i =>
        (i.toLong,
          List.fill(rnd.nextInt(12) + 1)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }
      val qts = Seq((1L, "a"), (1L, "b"), (2L, "c"), (2L, "f"))
      val got = graft.analytics.Retrieval
        .bm25Scores(docs.toDF("doc_id", "text"), qts.toDF("query_id", "term"))
        .collect()
        .map(r => ((r.getLong(0), r.getLong(1)), r.getDecimal(2).doubleValue)).toMap
      val toks = docs.map { case (id, t) => id -> t.split(" ").toSeq }.toMap
      val n = nDocs.toDouble
      val avgdl = toks.values.map(_.size).sum.toDouble / n
      val exp = (for {
        (qid, term) <- qts
        (id, ts) <- toks.toSeq
        tf = ts.count(_ == term)
        if tf > 0
      } yield {
        val df = toks.values.count(_.contains(term)).toDouble
        val idf = (n - df + 0.5) / (df + 0.5)
        ((qid, id), duckRound6(idf * (tf.toDouble * 2.2) /
          (tf.toDouble + 1.2 * (0.25 + 0.75 * (ts.size.toDouble / avgdl)))))
      }).groupBy(_._1).map { case (k, vs) =>
        // exact decimal sum of the 6-dp contributions — the operator's
        // DECIMAL(21,10) path, replayed in BigDecimal
        k -> vs.map(v => BigDecimal.valueOf(v._2)).sum.toDouble
      }
      assert(got.keySet == exp.keySet)
      got.foreach { case (k, v) =>
        assert(math.abs(v - exp(k)) < 1e-12, s"$k: $v vs ${exp(k)}")
      }
    }
  }

  test("CDC apply: replay-idempotent and segment-composable on random changelogs") {
    import graft.ops.Cdc
    import graft.streaming.CdcStream.Change
    val tupOrd = Ordering.Tuple3(Ordering.Long, Ordering.String, Ordering.String)
    def applyB(s: Seq[(Long, String)], cs: Seq[Change]): Map[Long, String] =
      Cdc.applyChangelog(s.toDF("key", "payload"), cs.toDS().toDF(),
          "key", "seq", "op", Seq("payload"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    (1 to 5).foreach { _ =>
      val snap = (0L until (rnd.nextInt(10) + 5).toLong)
        .filter(_ => rnd.nextBoolean()).map(k => (k, s"s$k"))
      def seg(seqBase: Long) = List.fill(rnd.nextInt(20) + 1) {
        Change(rnd.nextInt(12).toLong, seqBase + rnd.nextInt(1000),
          rnd.nextInt(5) match { case 0 => "D"; case 1 => "I"; case _ => "U" },
          rnd.alphanumeric.take(5).mkString)
      }
      val c1 = seg(0); val c2 = seg(10000) // c2 strictly after c1 (log order)
      val once = applyB(snap, c1)
      assert(applyB(snap, c1 ++ c1) == once, "replay changed the result")
      // applying log segments in order == applying their union
      val composed = applyB(once.toSeq, c2)
      val direct = applyB(snap, c1 ++ c2)
      assert(composed == direct, "segment composition broke")
      // independent scalar reference: max (seq, op, payload) per key
      val primed = snap.map { case (k, p) => Change(k, Long.MinValue, "I", p) }
      val ref = (primed ++ c1 ++ c2).groupBy(_.key).flatMap { case (k, cs) =>
        val last = cs.maxBy(c => (c.seq, c.op, c.payload))(tupOrd)
        if (last.op == "D") None else Some(k -> last.payload)
      }.toMap
      assert(direct == ref, s"batch $direct vs reference $ref")
    }
  }

  test("bpeTrain stops early when merges are exhausted instead of crashing") {
    import graft.analytics.TextAnalysis
    // only one mergeable pair exists ("a b"); rounds 2..10 find no
    // adjacent pair anywhere — training must return the merges found
    // so far (the SQL twin's empty-join no-op), not throw on an
    // empty top-pair collect
    val words = Seq(("ab", 3L), ("a", 2L)).toDF("word", "freq")
    val (merges, segs) = TextAnalysis.bpeTrain(words, rounds = 10)
    assert(merges.map(_._2) == Seq("a b"), merges.toString)
    val got = segs.select("word", "seg").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Map("ab" -> "ab", "a" -> "a"), got.toString)
  }

  test("late-round ops are partition-count independent (the determinism contract)") {
    // every deterministic sampling/sketch operator must return the
    // SAME rows regardless of input partitioning — the property that
    // separates them from rand()/TABLESAMPLE. Run each on the
    // natural frame and on a 7-way repartition; row sets must match.
    import graft.analytics.Kmv
    import graft.ops.Mixture
    val docs = graft.sources.Tables.documents(spark, sf("sf0.001"))
    def rowsOf(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.toString).toSet
    val shards = docs.repartition(7)
    assert(
      rowsOf(Mixture.temperatureSample(docs, "lang", "doc_id")) ==
        rowsOf(Mixture.temperatureSample(shards, "lang", "doc_id")),
      "temperatureSample must not depend on partitioning")
    val memb = docs.select($"source", $"doc_id".cast("string").as("e"))
    assert(
      rowsOf(Kmv.sketch(memb, $"source", $"e")) ==
        rowsOf(Kmv.sketch(memb.repartition(7), $"source", $"e")),
      "Kmv.sketch must not depend on partitioning")
    val er = graft.sources.Tables.part(spark, sf("sf0.01"))
      .select($"p_partkey", $"p_brand", $"p_name", $"p_type", $"p_size")
    assert(
      rowsOf(graft.analytics.EntityResolution.matchPairs(er, er)) ==
        rowsOf(graft.analytics.EntityResolution.matchPairs(
          er.repartition(7), er.repartition(5))),
      "matchPairs must not depend on partitioning")
  }

  test("LogHist: bucket is the exact bit length; quantile envelope holds on random heavy tails") {
    import graft.analytics.LogHist
    // bucket(v) == 64 - numberOfLeadingZeros(v) for arbitrary positive longs
    val vs = List.fill(200)(math.abs(rnd.nextLong()) % (1L << 50) + 1) ++
      List(1L, 2L, 3L, 1023L, 1024L, (1L << 40) - 1, 1L << 40)
    val got = vs.map(v => ("p", v)).toDF("scope", "v")
      .select($"v", LogHist.bucket($"v").as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    vs.foreach { v =>
      assert(got(v) == 64 - java.lang.Long.numberOfLeadingZeros(v),
        s"bucket($v)=${got(v)}")
    }
    // envelope x <= est < 2x at arbitrary quantiles on random skewed data
    (1 to 5).foreach { _ =>
      val data = List.fill(rnd.nextInt(300) + 50)(
        math.abs(rnd.nextLong()) % (1L << (rnd.nextInt(40) + 2)) + 1)
      val q = rnd.nextDouble() * 0.98 + 0.01
      val est = LogHist.quantiles(
          LogHist.sketch(data.map(("s", _)).toDF("scope", "v")),
          Seq("e" -> q))
        .collect().head.getLong(2)
      val rank = math.ceil(q * data.size).toInt
      val x = data.sorted.apply(rank - 1)
      assert(est >= x && est < 2 * x, s"q=$q x=$x est=$est n=${data.size}")
    }
  }

  test("duckRound matches half-away-from-zero on the scaled double") {
    val cases = List.fill(60)((rnd.nextDouble() * 4 - 2, rnd.nextInt(7))) ++
      List((0.6146874999999999, 6), (-0.6146874999999999, 6), (2.5e-6, 6), (0.125, 2))
    cases.foreach { case (v, n) =>
      val got = Seq(v).toDF("v").select(Exact.duckRound($"v", n)).collect().head.getDouble(0)
      val p = math.pow(10, n)
      val scaled = v * p
      val want = (if (scaled >= 0) math.floor(scaled + 0.5) else math.ceil(scaled - 0.5)) / p
      assert(got == want, s"v=$v n=$n got=$got want=$want")
    }
  }
}
