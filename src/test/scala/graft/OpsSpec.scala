package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.ops._

/** Unit tests for the reference-surface scalar/join/merge operators,
  * exercised on reference-shaped fixtures (FIXTURES.md §A) including
  * the Korean text and schema-drift cases.
  */
class OpsSpec extends SparkSpec {
  import spark.implicits._

  test("O2 cleanAddress keeps road address, strips detail, falls back on miss") {
    val df = Seq(
      "서울 마포구 마포대로 100 2층",          // detail suffix to strip is absent here (kept prefix)
      "not an address at all"
    ).toDF("addr").select(Normalize.cleanAddress($"addr").as("out"))
    val out = df.collect().map(_.getString(0))
    assert(out(0).startsWith("서울 마포구 마포대로 100"))
    assert(out(1) == "not an address at all") // fallback-to-input semantics
  }

  test("O3 placeIdFromUrl extracts digits") {
    val out = Seq("https://m.place.naver.com/restaurant/place/31238198/home", "no-match")
      .toDF("url").select(Normalize.placeIdFromUrl($"url").as("id"))
      .collect().map(_.getString(0))
    assert(out.toSeq == Seq("31238198", ""))
  }

  test("O4 surrogateKey equals sha256 of pipe-joined fields and is stable") {
    val got = Seq(("익명", "리뷰 본문", "7.25.금")).toDF("a", "c", "v")
      .select(Normalize.surrogateKey($"a", $"c", $"v").as("id"))
      .collect().head.getString(0)
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val want = md.digest("익명|리뷰 본문|7.25.금".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(got == want)
  }

  test("O6 castWithDefault defaults bad casts to 0") {
    val out = Seq("123", "xyz", null).toDF("s")
      .select(Normalize.castWithDefault($"s", 0).as("i"))
      .collect().map(_.getInt(0))
    assert(out.toSeq == Seq(123, 0, 0))
  }

  test("O8 validate split routes invalid rows to dead letter with reason") {
    val df = Seq(("1", "a"), (null, "b"), ("3", null))
      .toDF("place_id", "name")
    val (valid, dead) = Validate.split(df, Seq("place_id", "name"))
    assert(valid.count() == 1)
    val reasons = dead.select("_reject_reason").as[String].collect().toSet
    assert(reasons == Set("place_id", "name"))
  }

  test("§1.2 canonicalize repairs the reference's schema drift") {
    val df = Seq(("31238198", "img.jpg")).toDF("placeId", "thumbnail")
    val out = Normalize.canonicalize(df)
    assert(out.columns.toSet == Set("place_id", "thumbnail_url"))
  }

  test("J1 antiJoinKeys removes existing keys only") {
    val fresh = Seq(("1", "x"), ("2", "y"), ("3", "z")).toDF("place_id", "v")
    val existing = Seq("2").toDF("place_id")
    val out = Dedup.antiJoinKeys(fresh, existing, "place_id")
    assert(out.select("place_id").as[String].collect().sorted.toSeq == Seq("1", "3"))
    // invariant: result ∩ existing = ∅
    assert(out.join(existing, Seq("place_id"), "left_semi").count() == 0)
  }

  test("U2 mergeByKey is idempotent (U2∘U2 = U2)") {
    val existing = Seq(("1", "old")).toDF("k", "v")
    val fresh = Seq(("1", "new"), ("2", "b")).toDF("k", "v")
    val once = Merge.mergeByKey(existing, fresh, Seq("k"))
    val twice = Merge.mergeByKey(once, fresh, Seq("k"))
    assert(once.count() == 2)
    assert(twice.except(once).count() == 0 && once.except(twice).count() == 0)
  }

  test("U1 unionAll aligns schemas by name with missing columns nulled") {
    val a = Seq(("1", "n1")).toDF("place_id", "name")
    val b = Seq(("2", "n2", "url")).toDF("place_id", "name", "thumbnail_url")
    val out = Merge.unionAll(Seq(a, b))
    assert(out.count() == 2 && out.columns.contains("thumbnail_url"))
    assert(out.filter($"place_id" === "1").select("thumbnail_url").collect().head.isNullAt(0))
  }

  test("S7/O10 S3 event parsing explodes records and url-decodes Korean keys") {
    val ev = """{"Records":[{"s3":{"bucket":{"name":"naver-map-restaurant"},
               |"object":{"key":"%EA%B3%B5%EB%8D%95%EC%97%AD+%EC%8B%9D%EB%8B%B9.json"}}},
               |{"s3":{"bucket":{"name":"b2"},"object":{"key":"31238198.json"}}}]}"""
      .stripMargin.replace("\n", "")
    val out = graft.sources.S3Events.objects(Seq(ev).toDF("value"))
    val rows = out.collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(rows == Seq(("naver-map-restaurant", "공덕역 식당.json"), ("b2", "31238198.json")))
  }

  test("Exact.dsum is partition-count independent") {
    val vals = (1 to 10000).map(i => i / 100.0)
    val one = vals.toDF("v").repartition(1).agg(Exact.dsum($"v")).collect().head.getDouble(0)
    val many = vals.toDF("v").repartition(37).agg(Exact.dsum($"v")).collect().head.getDouble(0)
    assert(one == many)
  }
  test("Pack: placement offsets exact; fills sum to the total; at most one carry per cut") {
    // window 7 over uneven docs incl. one longer than the window
    val docs = Seq((1L, 3L), (2L, 5L), (3L, 16L), (4L, 1L), (5L, 4L))
      .toDF("doc_id", "n_tokens")
    val pl = Pack.packPlacement(docs, 7).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
    // (doc, cum, first_seq, last_seq, start_off, n_splits)
    assert(pl.toSeq == Seq(
      (1L, 3L, 0L, 0L, 0L, 0L),    // [0,3)
      (2L, 8L, 0L, 1L, 3L, 1L),    // [3,8) straddles the 7-cut
      (3L, 24L, 1L, 3L, 1L, 2L),   // [8,24) crosses cuts 14 and 21
      (4L, 25L, 3L, 3L, 3L, 0L),   // [24,25) — 24 mod 7 = 3
      (5L, 29L, 3L, 4L, 4L, 1L)))  // [25,29) straddles 28
    val m = Pack.seqManifest(Pack.packPlacement(docs, 7), 7).orderBy("seq_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(m.toSeq == Seq(
      (0L, 2L, 0L, 7L), (1L, 2L, 1L, 7L), (2L, 1L, 1L, 7L),
      (3L, 3L, 1L, 7L), (4L, 1L, 1L, 1L)))
    // invariants on the real corpus: fills sum to the token total,
    // every window but the last is full, carries never exceed 1,
    // explode rows reconcile with per-doc split counts
    val base = graft.sources.Tables.documents(spark, sf("sf0.001"))
      .select($"doc_id", size(split($"text", " ")).cast("long").as("n_tokens"))
    val total = base.agg(sum($"n_tokens")).head.getLong(0)
    val place = Pack.packPlacement(base, 512)
    val man = Pack.seqManifest(place, 512).orderBy("seq_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(man.map(_._4).sum == total)
    assert(man.last._1 == (total - 1) / 512 && man.map(_._1).toSeq == (0L to man.last._1))
    assert(man.init.forall(_._4 == 512L) && man.forall(_._3 <= 1L))
    assert(man.map(_._2).sum ==
      place.agg(sum($"n_splits") + count(lit(1))).head.getLong(0))
  }

  test("Pack.packPlacementFrom: prefix decomposition is exact at any cut") {
    val docs = Seq((1L, 3L), (2L, 5L), (3L, 16L), (4L, 1L), (5L, 4L))
      .toDF("doc_id", "n_tokens")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toSeq
    val full = rows(Pack.packPlacement(docs, 7))
    // every split point: base = ids <= t, delta = ids > t
    (0L to 5L).foreach { t =>
      val base = docs.filter($"doc_id" <= t)
      val delta = docs.filter($"doc_id" > t)
      val packed =
        if (t == 0) 0L
        else base.agg(sum($"n_tokens")).head.getLong(0)
      val baseRows = if (t == 0) Seq.empty else rows(Pack.packPlacement(base, 7))
      val deltaRows =
        if (t == 5) Seq.empty
        else rows(Pack.packPlacementFrom(delta, 7, packed))
      assert(baseRows ++ deltaRows == full, s"cut at $t")
    }
  }

  test("G1 parallelismFloor passes a post-shuffle frame through untouched") {
    // A frame with an upstream Exchange must come back AS-IS (same
    // reference): flooring it would double-execute the shuffle under
    // AQE (.rdd finalizes the adaptive plan and materializes stages;
    // the returned repartition re-runs them) — the r16 ADVICE hole.
    // Zero jobs is implied: the exchange branch never touches .rdd.
    val shuffled = (1 to 100).toDF("x").groupBy($"x" % 7).count()
    val jobsBefore = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    val out = Guards.parallelismFloor(shuffled)
    assert(out eq shuffled)
    assert(spark.sparkContext.statusTracker.getJobIdsForGroup(null).length == jobsBefore,
      "flooring a post-shuffle frame must not run jobs")
  }

  test("G2 parallelismFloor still floors a narrow shuffle-free frame") {
    val narrow = (1 to 100).toDF("x").repartition(1).localCheckpoint(true)
      .select($"x" + 1 as "y") // checkpointed leaf + project: no exchange
    val out = Guards.parallelismFloor(narrow)
    assert(out.rdd.getNumPartitions ==
      spark.sparkContext.defaultParallelism)
  }

  test("G3 parallelismFloor passes a typed grouped frame through with zero jobs") {
    // typed groupByKey/mapGroups plans MapGroups over an exchange; the
    // floor must not know it by name to leave it alone (.rdd unread)
    val grouped = (1 to 100).toDS().groupByKey(_ % 7)
      .mapGroups((k, it) => (k, it.size)).toDF("k", "n")
    val (out, jobs) = jobsIn(Guards.parallelismFloor(grouped))
    assert(out eq grouped)
    assert(jobs == 0, s"flooring a typed grouped frame ran $jobs jobs")
  }

  test("P1 Par.both rethrows a failed lane's error and cancels its sibling's running job") {
    val sc = spark.sparkContext
    val group = s"par-spec-${java.util.UUID.randomUUID()}"
    val t0 = System.nanoTime
    val e = intercept[IllegalStateException] {
      Par.both(
        {
          // fail once lane B's long job is running
          while (sc.statusTracker.getJobIdsForGroup(group).isEmpty) Thread.sleep(10)
          throw new IllegalStateException("lane A failed")
        },
        {
          sc.setJobGroup(group, "a long lane")
          sc.parallelize(Seq(1), 1).map { x =>
            val ctx = org.apache.spark.TaskContext.get()
            val end = System.currentTimeMillis + 60000
            while (!ctx.isInterrupted() && System.currentTimeMillis < end) Thread.sleep(20)
            x
          }.collect()
        })
    }
    assert(e.getMessage == "lane A failed")
    val waited = (System.nanoTime - t0) / 1e9
    assert(waited < 30, s"Par.both returned after $waited s")
    org.apache.spark.graftbridge.ListenerBridge.flush(sc)
    val active = sc.statusTracker.getActiveJobIds.toSet
    val laneJobs = sc.statusTracker.getJobIdsForGroup(group)
    assert(laneJobs.nonEmpty && laneJobs.forall(id => !active.contains(id)),
      s"lane B's jobs ${laneJobs.toSeq} still active")
  }

  test("P2 Par.both lanes run under the caller's local properties") {
    val sc = spark.sparkContext
    val ((n1, n2), jobs) = jobsIn(Par.both(
      sc.parallelize(1 to 10, 2).count(), sc.parallelize(1 to 5, 1).count()))
    assert((n1, n2) == (10L, 5L))
    assert(jobs == 2, s"jobsIn saw $jobs of the lanes' 2 jobs")
  }
}
