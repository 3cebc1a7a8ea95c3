package graft

import org.apache.spark.sql.functions._
import graft.pipeline.{RestaurantPipeline, ReviewPipeline}
import graft.sinks.{HttpSink, TableLog}

/** End-to-end pipeline stages on reference-shaped fixtures (§3.1/§3.3)
  * plus the HTTP delivery sink with an injected transport.
  */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private def freshCrawl = Seq(
    // (place_id, name, thumbnail_url, category, page, origin_address, address, lat, lon)
    ("31238198", "공덕 맛집", "https://img/1.jpg", "한식", 1,
      "서울 마포구 마포대로 100 2층", "서울 마포구 마포대로 100", Some(37.5442), Some(126.9515)),
    ("99999999", null, null, null, 2,
      "서울 용산구 한강대로 405", null, None, None),
    (null, "이름 없음", "", "", 3, null, null, None, None) // invalid: no place_id
  ).toDF("place_id", "name", "thumbnail_url", "category", "page",
         "origin_address", "address", "latitude", "longitude")

  test("§3.1 restaurant pipeline: normalize + validate + anti-join dedup") {
    val existing = Seq("31238198").toDF("place_id")
    val (newRows, dead) = RestaurantPipeline.run(freshCrawl, existing)
    val rows = newRows.collect()
    assert(rows.length == 1)                      // known key dropped, invalid dead-lettered
    val r = rows.head
    assert(r.getAs[String]("place_id") == "99999999")
    assert(r.getAs[String]("name") == "이름 없음") // crawl default applied
    assert(r.getAs[String]("category") == "")
    assert(r.getAs[String]("address").contains("한강대로 405")) // backfilled from origin
    assert(dead.count() == 1)
  }

  test("§3.3 review pipeline: surrogate id, intra-batch dedup, stop-on-seen") {
    val crawled = Seq(
      ("31238198", "A", "great food", "7.25.금"),
      ("31238198", "A", "great food", "7.25.금"),  // intra-batch duplicate (ST3)
      ("31238198", "B", "ok", "7.24.목")
    ).toDF("place_id", "author", "content", "visit_date")
    val withId = ReviewPipeline.withId(crawled)
    assert(withId.count() == 2)
    val known = withId.filter($"author" === "B").select("id")
    val fresh = ReviewPipeline.newReviews(crawled, known)  // ST2 batch twin
    assert(fresh.count() == 1 && fresh.collect().head.getAs[String]("author") == "A")
  }

  test("§3.3 ingest commit: newReviews + appendStreamBatch into a TableLog runs 3 jobs") {
    def crawl(ks: Range) = ks.map(k => ("31238198", s"author$k", s"review $k", "7.25.금"))
      .toDF("place_id", "author", "content", "visit_date")
    val t = java.nio.file.Files.createTempDirectory("graft-ingest").toString
    TableLog.append(ReviewPipeline.withId(crawl(0 until 4)), t)
    // the anti-join's key side is broadcast as is: no distinct job
    val (v, jobs) = jobsIn(TableLog.appendStreamBatch(
      ReviewPipeline.newReviews(crawl(2 until 6), TableLog.read(spark, t).select("id")),
      t, "ingest", 0L))
    assert(v.contains(2L))
    assert(jobs == 3, s"one ingest commit ran $jobs jobs")
    assert(TableLog.read(spark, t).select("author").as[String].collect().sorted.toSeq ==
      (0 until 6).map(k => s"author$k"))
  }

  test("D stage: limit-10 + API payload projection + delivery metrics") {
    val reviews = (1 to 25).map { i =>
      (s"3123819$i", s"author$i", s"content $i", f"7.$i%02d.금")
    }.toDF("place_id", "author", "content", "visit_date")
    val batch = ReviewPipeline.apiBatch(ReviewPipeline.withId(reviews), 10)
    assert(batch.count() == 10)
    assert(batch.columns.toSeq == Seq("restaurantId", "content", "hash"))

    HttpSink.RecordingTransport.clear()
    val transport = new HttpSink.RecordingTransport(failWhen = _.contains("content 25"))
    val deliveries = HttpSink.deliver(batch, "http://api.test/reviews", "hash", transport)
    val m = HttpSink.metrics(deliveries).collect()
      .map(r => r.getAs[String]("status") -> r.getAs[Long]("n")).toMap
    assert(m.values.sum == 10)
    assert(m.getOrElse("failed", 0L) <= 1)
    assert(HttpSink.RecordingTransport.delivered.size() == m("success"))
  }

  test("multimodal: payload plumbing with stubbed decoder") {
    import graft.multimodal.Multimodal
    val docs = Seq((1L, "hello world"), (2L, "spark graft")).toDF("doc_id", "text")
    val feats = Multimodal.decodeWith(Multimodal.fromText(docs), Multimodal.FakeDecoder)
      .collect().sortBy(_.media_id)
    assert(feats.length == 2)
    assert(feats.head.n_bytes == "hello world".getBytes("UTF-8").length)
    assert(feats.head.features.length == 8)
    assert(feats.head.content_sha.length == 64)
    // deterministic: same payload → same features
    val again = Multimodal.decodeWith(Multimodal.fromText(docs), Multimodal.FakeDecoder)
      .collect().sortBy(_.media_id)
    assert(again.head.features.toSeq == feats.head.features.toSeq)
  }

  test("multimodal: resize bounds payload and keeps metadata attached") {
    import graft.multimodal.Multimodal
    val docs = Seq((1L, "x" * 100), (2L, "short")).toDF("doc_id", "text")
    val resized = Multimodal.resize(Multimodal.fromText(docs), maxBytes = 32)
      .collect().sortBy(_.media_id)
    assert(resized(0).payload.length == 32 && resized(0).meta.nBytes == 32)
    assert(resized(1).payload.length == 5 && resized(1).meta.nBytes == 5)
    // durationMs is a TIME field — byte lengths live in nBytes only
    assert(resized.forall(_.meta.durationMs == 0L))
  }

  test("multimodal: frame sampling fans one row into strided frame features") {
    import graft.multimodal.Multimodal
    val docs = Seq((7L, "abcdefghij" * 4)).toDF("doc_id", "text") // 40 bytes
    val frames = Multimodal.frameSample(Multimodal.fromText(docs),
      frameBytes = 8, stride = 2).collect().sortBy(_.frame_idx)
    // 40/8 = 5 frames, every 2nd → idx 0,2,4
    assert(frames.map(_.frame_idx).toSeq == Seq(0, 2, 4))
    assert(frames.forall(_.features.length == 8))
  }

  test("O9/F5: PERMISSIVE read quarantines corrupt records as data") {
    val dir = java.nio.file.Files.createTempDirectory("graft-corrupt").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "r.json"),
      """{"place_id":"1","name":"ok"}
        |this line is not json
        |{"place_id":"2","name":"also ok"}
        |""".stripMargin)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("place_id", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("name", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("_corrupt", org.apache.spark.sql.types.StringType)))
    // cache(): Spark refuses corrupt-column-only queries straight off
    // raw files (the documented contract for this column)
    val df = spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .json(dir)
      .cache()
    assert(df.count() == 3)
    assert(df.filter($"_corrupt".isNotNull).count() == 1) // dead-lettered, not dropped
    assert(df.filter($"_corrupt".isNull).count() == 2)
  }
}
