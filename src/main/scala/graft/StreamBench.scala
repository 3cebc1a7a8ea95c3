package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.streaming.EventStreams

/** Streaming-throughput benchmark (BASELINE.md "Streaming" section):
  * drives the stateful streaming surfaces end-to-end over the sf-dir
  * tables with Trigger.AvailableNow and reports rows/s — the numbers
  * that ground the ST2 "designed for scale" claim with a measurement
  * instead of a spec.
  *
  *  - dedup_tws: transformWithState cross-batch dedup on the RocksDB
  *    state store (EventStreams.statefulDedupTws) — every event id is
  *    a state write, so this measures the state-store path, not just
  *    the scan;
  *  - interval_join: stream-stream interval join purchases×clicks
  *    with watermark-bounded buffers (EventStreams.intervalJoin);
  *  - neardup / emb: the continuous near-dup streams in text
  *    (DedupStream) and vector (EmbedStream) space;
  *  - ss_* / nd_steady / emb_steady: N-drop steady-state rates
  *    through ONE running query (batch 1 pays store init; the rate of
  *    batches 2..N is the sustained figure).
  *
  * Prints ONE JSON line: {"metric":"stream_bench","unit":"rows_per_sec",...}.
  * Reproduce: sbt "runMain graft.StreamBench"   (SPARK_GRAFT_SF_DIR
  * selects the scale, default sf0.1).
  */
object StreamBench {

  private def tmpDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    d.toFile.deleteOnExit()
    d.toString
  }

  /** The streaming file source lists a DIRECTORY; the corpus tables
    * are single parquet files — expose one through a temp-dir
    * symlink. */
  private def linkDir(prefix: String, file: String): String = {
    val d = tmpDir(prefix)
    java.nio.file.Files.createSymbolicLink(
      java.nio.file.Paths.get(d, new java.io.File(file).getName),
      java.nio.file.Paths.get(file))
    d
  }

  /** Move a staged slice's part files into the watched dir. The
    * Files.list stream is closed explicitly (it holds a directory fd;
    * leaking one per drop adds up as SPARK_GRAFT_STREAM_BATCHES
    * grows). Callers must capture t0 BEFORE this move: the running
    * query can pick up the first moved file and complete a micro-batch
    * while later files are still moving, so a timer started after the
    * loop would miss that work and overstate rows/s. */
  private def moveParts(stage: String, dest: String): Unit = {
    val s = java.nio.file.Files.list(java.nio.file.Paths.get(stage))
    try s.iterator().forEachRemaining { p =>
      if (p.toString.endsWith(".parquet"))
        java.nio.file.Files.move(p,
          java.nio.file.Paths.get(dest, p.getFileName.toString))
    } finally s.close()
  }

  /** The steady-state drop protocol, shared by every surface: N
    * successive slices of `src` (by `keyCol` mod N) land in a watched
    * dir feeding ONE running query built by `mkQuery` from the raw
    * file-source stream. Slices are staged to a side dir and their
    * part files MOVED in (atomic per file) so the source cannot start
    * on a half-written drop; the timer starts before the move (see
    * moveParts). Returns (rows, seconds) per drop — batch 1 is the
    * cold figure, 2..N the sustained one. */
  private def steadyDrops(src: DataFrame, keyCol: String, nDrops: Int,
                          prefix: String,
                          mode: org.apache.spark.sql.streaming.OutputMode =
                            org.apache.spark.sql.streaming.OutputMode.Append)
                         (mkQuery: DataFrame => DataFrame): Seq[(Long, Double)] = {
    val spark = src.sparkSession
    val dropDir = tmpDir(s"graft-sbench-$prefix-drop")
    val q = mkQuery(spark.readStream.schema(src.schema).parquet(dropDir))
      .writeStream.outputMode(mode)
      .foreachBatch { (b: DataFrame, _: Long) => b.count(): Unit }
      .option("checkpointLocation", tmpDir(s"graft-sbench-$prefix-ck"))
      .start()
    val times = (0 until nDrops).map { i =>
      val slice = src.filter(pmod(col(keyCol), lit(nDrops)) === i)
      val n = slice.count()
      val stage = tmpDir(s"graft-sbench-$prefix-stage$i")
      slice.write.mode("overwrite").parquet(stage)
      val t0 = System.nanoTime()
      moveParts(stage, dropDir)
      q.processAllAvailable()
      (n, (System.nanoTime() - t0) / 1e9)
    }
    q.stop()
    times
  }

  private def steadyRate(times: Seq[(Long, Double)]): Double =
    times.tail.map(_._1).sum / times.tail.map(_._2).sum

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.local(cpus.toInt)
      // transformWithState requires RocksDB; 4.1's checkpoint checksum
      // writer deadlocks the RocksDB snapshot upload in local mode
      // (see StreamingSpec) — same two settings a deployment uses
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    // Stream the events parquet with the batch reader's schema; ts
    // arrives as nanos LongType (nanosAsLong) or TIMESTAMP_NTZ
    // depending on the corpus vintage — normalize exactly like
    // Tables.events so watermarks see real timestamps. Idempotent
    // (matches the INPUT's ts type), so composing it (the cold path
    // pre-fixes, keyedEvents fixes its raw steady stream) never
    // double-converts.
    val path = s"$sfDir/events.parquet"
    val streamDir = linkDir("graft-sbench-in", path)
    val schema = spark.read.parquet(path).schema
    def fixTs(raw: DataFrame): DataFrame =
      graft.sources.Tables.normalizeEventTs(raw)
    def eventStream(): DataFrame =
      fixTs(spark.readStream.schema(schema).parquet(streamDir))
    def keyedEvents(raw: DataFrame) = fixTs(raw).select(
      col("user_id").cast("string").as("key"),
      col("event_id").cast("string").as("id"),
      col("ts")).as[EventStreams.TimedKeyed]
    val totalRows = spark.read.parquet(path).count()

    def timeRun(df: DataFrame,
                mode: org.apache.spark.sql.streaming.OutputMode =
                  org.apache.spark.sql.streaming.OutputMode.Append)
        : (Double, Long) = {
      val out = new java.util.concurrent.atomic.AtomicLong
      val t0 = System.nanoTime()
      EventStreams.runAvailableNow(df, tmpDir("graft-sbench-ck"), mode) { (batch, _) =>
        out.addAndGet(batch.count()): Unit
      }
      ((System.nanoTime() - t0) / 1e9, out.get())
    }

    // 1. RocksDB transformWithState dedup over every event
    val (dedupSec, dedupOut) = timeRun(
      EventStreams.statefulDedupTws(keyedEvents(eventStream())).toDF())

    // 2. watermark-bounded stream-stream interval join
    val purchases = eventStream().filter(col("event_type") === "purchase")
    val clicks = eventStream().filter(col("event_type") === "click")
    val joinIn = spark.read.parquet(path)
      .filter(col("event_type").isin("purchase", "click")).count()
    val (joinSec, joinOut) = timeRun(EventStreams.intervalJoin(purchases, clicks))

    // 3. streaming near-dup candidates over the documents table:
    // per-document minhash + band-bucket state probes (DedupStream) —
    // the continuous-dedup path; docs/s is the ingest-rate figure.
    val docsPath = s"$sfDir/documents.parquet"
    val docsDir = linkDir("graft-sbench-docs", docsPath)
    val docsSchema = spark.read.parquet(docsPath).schema
    val nDocs = spark.read.parquet(docsPath).count()
    val docStream = spark.readStream.schema(docsSchema).parquet(docsDir)
      .select(col("doc_id"), col("text"))
      .as[graft.streaming.DedupStream.Doc]
    val (ndSec, ndOut) = timeRun(
      graft.streaming.DedupStream.streamingNearDupCandidates(docStream).toDF())

    // 3b. streaming embedding near-dup (the vector twin, EmbedStream):
    // per-vector sign-LSH bucket probes with in-stream exact verify —
    // vecs/s is the continuous vector-ingest figure.
    val embPath = s"$sfDir/embeddings.parquet"
    val embDir = linkDir("graft-sbench-emb", embPath)
    val embSchema = spark.read.parquet(embPath).schema
    val nVecs = spark.read.parquet(embPath).count()
    val vecStream = spark.readStream.schema(embSchema).parquet(embDir)
      .select(col("vec_id"), col("embedding"))
      .as[graft.streaming.EmbedStream.Vec]
    val (embSec, embOut) = timeRun(
      graft.streaming.EmbedStream.streamingNearDupPairs(vecStream, 0.45).toDF())

    // 3c. streaming semantic dedup (SemanticStream): frozen-quantizer
    // cell assignment + within-cell prune events — q119's SemDeDup as
    // a continuous stream; the quantizer trains in batch once (the
    // q117 frozen-model contract) and vecs/s is the semantic-ingest
    // figure under per-cell state.
    val semQuant = graft.analytics.Similarity.frozenQuantizer(
      graft.analytics.Similarity.kmeansCentroids(
        spark.read.parquet(embPath), 16, 1))
    val semStream = spark.readStream.schema(embSchema).parquet(embDir)
      .select(col("vec_id"), col("embedding"))
      .as[graft.streaming.SemanticStream.Vec]
    val (semSec, semOut) = timeRun(
      graft.streaming.SemanticStream
        .streamingSemanticPrunes(semStream, semQuant, 0.3).toDF())

    // 3d. streaming image near-dup (HammingStream over perceptual
    // hashes): the generic banded-Hamming state machine — sigs/s is
    // the signature-ingest figure (decode happens upstream in the
    // same stream; its per-image cost is the q109/q125 batch story).
    val imgSigs = graft.multimodal.Multimodal.perceptualHashes(
      graft.multimodal.Multimodal.syntheticPngClasses(
        spark.read.parquet(docsPath)))
      .selectExpr("media_id", "CAST(0 AS LONG) AS hi",
        "ph_lo | shiftleft(ph_hi, 32) AS lo")
    val sigDir = tmpDir("graft-sbench-sig")
    imgSigs.write.mode("overwrite").parquet(sigDir)
    val sigSchema = spark.read.parquet(sigDir).schema
    val nSigs = spark.read.parquet(sigDir).count()
    val sigStream = spark.readStream.schema(sigSchema).parquet(sigDir)
      .as[graft.streaming.HammingStream.Sig]
    val (hamSec, hamOut) = timeRun(
      graft.streaming.HammingStream
        .streamingNearDupPairs(sigStream, 8, 8, 6).toDF())

    // 3f. streaming inverted-index maintenance (IndexStream): every
    // token flows into its term's posting-list state — docs/s is the
    // retrieval-index ingest figure (the O(Δ) twin of the q149 batch
    // append, with replay suppression the batch path lacks).
    val idxStream = spark.readStream.schema(docsSchema).parquet(docsDir)
      .select(col("doc_id"), col("text"))
      .as[graft.streaming.IndexStream.Doc]
    val (idxSec, idxOut) = timeRun(
      graft.streaming.IndexStream.streamingIndex(idxStream).toDF())

    // 3g. streaming curation (CurationStream): quality battery →
    // benchmark decontamination → fingerprint-keyed exact dedup —
    // the capstone's incremental face; docs/s is the curated-ingest
    // figure (state = one long per unique fingerprint).
    val curBench = graft.streaming.CurationStream.benchGrams(
      spark.read.parquet(docsPath).filter(col("doc_id") % 50 === 0))
    val curInput = spark.read.parquet(docsPath)
      .filter(col("doc_id") % 50 =!= 0)
      .select(col("doc_id"), col("source"), col("lang"), col("text"))
    val curDir = tmpDir("graft-sbench-cur")
    curInput.write.mode("overwrite").parquet(curDir)
    val nCur = curInput.count()
    val curStream = spark.readStream.schema(curInput.schema).parquet(curDir)
      .as[graft.streaming.CurationStream.Doc]
    val (curSec, curOut) = timeRun(
      graft.streaming.CurationStream.curatedStream(curStream, curBench).toDF())

    // 3h. streaming conversation assembly (AssemblyStream): per-user
    // open-session state + event-time-timeout closes + chained
    // first-seen fingerprint dedup — events/s is the SFT-assembly
    // ingest figure. The composed two-FMGWS query needs the
    // conservative global-watermark check stood down (stage 2 is
    // watermark-free; see flagFirstSeen scaladoc) — scoped to this
    // query start and restored.
    val ccKey = "spark.sql.streaming.statefulOperator.checkCorrectness.enabled"
    // capture + finally-restore (r15 ADVICE): a throw mid-run must not
    // leave the conservative check disabled for every later query, and
    // a pre-existing explicit setting must survive
    val ccPrev = spark.conf.getOption(ccKey)
    spark.conf.set(ccKey, "false")
    val (sftSec, sftOut) =
      try timeRun(
        graft.streaming.AssemblyStream.conversationStream(eventStream()).toDF())
      finally ccPrev match {
        case Some(v) => spark.conf.set(ccKey, v)
        case None    => spark.conf.unset(ccKey)
      }

    // 3e. streaming CDC apply (CdcStream): a changelog derived from
    // the events table (key = user, seq = event id, 5% deletes) folds
    // into per-key serving state — every change is a keyed state
    // read+write like dedup_tws, but with single-row state and the
    // latest-wins compare on the hot path; changes/s is the
    // serving-table maintenance figure.
    val cdcChanges = spark.read.parquet(path).select(
      col("user_id").cast("long").as("key"),
      col("event_id").cast("long").as("seq"),
      when(col("event_id") % 20 === 0, lit("D")).otherwise(lit("U")).as("op"),
      col("event_type").cast("string").as("payload"))
    val cdcDir = tmpDir("graft-sbench-cdc")
    cdcChanges.write.mode("overwrite").parquet(cdcDir)
    val cdcSchema = spark.read.parquet(cdcDir).schema
    val nChanges = spark.read.parquet(cdcDir).count()
    val cdcStream = spark.readStream.schema(cdcSchema).parquet(cdcDir)
      .as[graft.streaming.CdcStream.Change]
    val (cdcSec, cdcOut) = timeRun(
      graft.streaming.CdcStream.currentEvents(cdcStream).toDF())

    // 4–6. steady-state drops (see steadyDrops): RocksDB dedup, text
    // near-dup, embedding near-dup — the sustained nightly-ingest
    // figures next to the cold AvailableNow numbers above.
    val nDrops = sys.env.getOrElse("SPARK_GRAFT_STREAM_BATCHES", "4").toInt
    val ssTimes = steadyDrops(spark.read.parquet(path), "event_id", nDrops, "ss") {
      raw => EventStreams.statefulDedupTws(keyedEvents(raw)).toDF()
    }
    val coldRate = ssTimes.head._1 / ssTimes.head._2
    val srcDocs = spark.read.parquet(docsPath).select(col("doc_id"), col("text"))
    val ndTimes = steadyDrops(srcDocs, "doc_id", nDrops, "nd") { raw =>
      graft.streaming.DedupStream.streamingNearDupCandidates(
        raw.as[graft.streaming.DedupStream.Doc]).toDF()
    }
    val srcVecs = spark.read.parquet(embPath).select(col("vec_id"), col("embedding"))
    val embTimes = steadyDrops(srcVecs, "vec_id", nDrops, "embss") { raw =>
      graft.streaming.EmbedStream.streamingNearDupPairs(
        raw.as[graft.streaming.EmbedStream.Vec], 0.45).toDF()
    }
    val semTimes = steadyDrops(srcVecs, "vec_id", nDrops, "semss") { raw =>
      graft.streaming.SemanticStream.streamingSemanticPrunes(
        raw.as[graft.streaming.SemanticStream.Vec], semQuant, 0.3).toDF()
    }
    val cdcTimes = steadyDrops(cdcChanges, "seq", nDrops, "cdcss") { raw =>
      graft.streaming.CdcStream.currentEvents(
        raw.as[graft.streaming.CdcStream.Change]).toDF()
    }
    val idxTimes = steadyDrops(srcDocs, "doc_id", nDrops, "idxss") { raw =>
      graft.streaming.IndexStream.streamingIndex(
        raw.as[graft.streaming.IndexStream.Doc]).toDF()
    }
    val curTimes = steadyDrops(curInput, "doc_id", nDrops, "curss") { raw =>
      graft.streaming.CurationStream.curatedStream(
        raw.as[graft.streaming.CurationStream.Doc], curBench).toDF()
    }

    // 7b. streaming ER: part records probe brand buckets with the
    // q166 score; pairs emit as later members arrive
    val erRecs = spark.read.parquet(s"$sfDir/part.parquet")
      .select(col("p_partkey"), col("p_brand"), col("p_name"),
        col("p_type"), col("p_size"))
    val erDir = tmpDir("graft-sbench-er")
    erRecs.write.mode("overwrite").parquet(erDir)
    val nRecs = erRecs.count()
    val erStream = spark.readStream.schema(erRecs.schema).parquet(erDir)
      .as[graft.streaming.ErStream.Rec]
    val (erSec, erOut) = timeRun(
      graft.streaming.ErStream.matchPairs(erStream).toDF())

    // 7c. quota admission + drift monitor over the documents stream
    val qdocs = spark.read.parquet(docsPath).select(col("source"), col("doc_id"))
    val qTargets = qdocs.groupBy(col("source")).count().collect()
      .map(r => r.getString(0) -> (r.getLong(1) / 2)).toMap
    val qDir = tmpDir("graft-sbench-quota")
    qdocs.write.mode("overwrite").parquet(qDir)
    val nQ = qdocs.count()
    val quotaStream = spark.readStream.schema(qdocs.schema).parquet(qDir)
      .as[graft.streaming.QuotaStream.Arrival]
    val (quoSec, quoOut) = timeRun(
      graft.streaming.QuotaStream.admitted(quotaStream, qTargets).toDF())
    val drDir = tmpDir("graft-sbench-drift")
    spark.read.parquet(docsPath).select(col("lang").as("bin"))
      .write.mode("overwrite").parquet(drDir)
    val drStream = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("bin",
          org.apache.spark.sql.types.StringType))))
      .parquet(drDir).as[graft.streaming.DriftStream.Arrival]
    val (drSec, drOut) = timeRun(
      graft.streaming.DriftStream.runningCounts(drStream),
      org.apache.spark.sql.streaming.OutputMode.Update)

    // 7d. COMPOSED curation→quota (curatedAdmittedStream): two chained
    // keyed-state stages in ONE query — q155's pre-packing pipeline as
    // a stream; docs/s prices the composition against the single-stage
    // cur figure (same input files, + the quota stage's state).
    val cqTargets = spark.read.parquet(docsPath)
      .groupBy(col("source")).count().collect()
      .map(r => r.getString(0) -> math.max(1L, r.getLong(1) / 2)).toMap
    val cqStream = spark.readStream.schema(curInput.schema).parquet(curDir)
      .as[graft.streaming.CurationStream.Doc]
    val (cqSec, cqOut) = timeRun(
      graft.streaming.CurationStream.curatedAdmittedStream(
        cqStream, curBench, cqTargets).toDF())

    // 7. KMV cardinality monitor: shingle arrivals per source into
    // bottom-K state (K longs/scope forever — the sketch is the cap)
    val kmvArr = spark.read.parquet(docsPath).select(
      col("source").as("scope"),
      graft.functions.ShingleExplode.shingle_explode(col("text"), 3).as("elem"))
    val kmvDir = tmpDir("graft-sbench-kmv")
    kmvArr.write.mode("overwrite").parquet(kmvDir)
    val nArr = spark.read.parquet(kmvDir).count()
    val kmvStream = spark.readStream.schema(kmvArr.schema).parquet(kmvDir)
      .as[graft.streaming.KmvStream.Arrival]
    val (kmvSec, kmvOut) = timeRun(
      graft.streaming.KmvStream.sketches(kmvStream).toDF(),
      org.apache.spark.sql.streaming.OutputMode.Update)

    // 7e. log-histogram quantile gauge: token counts per source into
    // ≤ 64-bin streaming-agg state (HistStream — LogHist's twin)
    val histArr = spark.read.parquet(docsPath).select(
      col("source").as("scope"),
      size(split(col("text"), " ")).cast("long").as("v"))
    val histDir = tmpDir("graft-sbench-hist")
    histArr.write.mode("overwrite").parquet(histDir)
    val histStream = spark.readStream.schema(histArr.schema).parquet(histDir)
      .as[graft.streaming.HistStream.Arrival]
    val (histSec, histOut) = timeRun(
      graft.streaming.HistStream.runningSketch(histStream),
      org.apache.spark.sql.streaming.OutputMode.Update)

    // 7f. TableLog as a streaming source: the documents table
    // committed as 4 appends, served back as version-offset
    // micro-batches (AvailableNow = one batch over the whole range
    // here); rows/s prices the O(new-files) delta read + the
    // streaming-frame conversion — the table-to-table hop's source
    // half (its sink half is the exactly-once ledger commit).
    val tblDir = tmpDir("graft-sbench-tbl")
    val tblDocs = spark.read.parquet(docsPath)
      .select(col("doc_id"), col("text"), col("source"))
    (0 until 4).foreach(k => graft.sinks.TableLog.append(
      tblDocs.filter(pmod(col("doc_id"), lit(4L)) === k), tblDir))
    val (tblSec, tblOut) = timeRun(
      spark.readStream.format("graft.streaming.TableLogSource")
        .option("path", tblDir).load())

    // 8b. steady-state for the TABLE source (round-12 verdict #6):
    // N append commits into a fresh table consumed by ONE running
    // query — the sustained table-to-table cycle. Unlike the file
    // drops above, the producer's commit is PART of the timed cycle
    // (the hop's real nightly cost is commit + version-delta read);
    // slices are pre-staged to parquet so slicing cost stays outside.
    val tblSsTimes: Seq[(Long, Double)] = {
      val dir = tmpDir("graft-sbench-tblss")
      val ck = tmpDir("graft-sbench-tblss-ck")
      val staged = (0 until nDrops).map { i =>
        val st = tmpDir(s"graft-sbench-tblss-stage$i")
        val s = tblDocs.filter(pmod(col("doc_id"), lit(nDrops.toLong)) === i)
        s.write.mode("overwrite").parquet(st)
        (spark.read.parquet(st).count(), st)
      }
      val t00 = System.nanoTime()
      graft.sinks.TableLog.append(spark.read.parquet(staged.head._2), dir)
      val q = spark.readStream.format("graft.streaming.TableLogSource")
        .option("path", dir).load()
        .writeStream.outputMode("append")
        .foreachBatch { (b: DataFrame, _: Long) => b.count(): Unit }
        .option("checkpointLocation", ck)
        .start()
      q.processAllAvailable()
      val first = (staged.head._1, (System.nanoTime() - t00) / 1e9)
      val rest = staged.tail.map { case (n, st) =>
        val t0 = System.nanoTime()
        graft.sinks.TableLog.append(spark.read.parquet(st), dir)
        q.processAllAvailable()
        (n, (System.nanoTime() - t0) / 1e9)
      }
      q.stop()
      first +: rest
    }

    // 8c. STREAM → MERGE hop (round 15): a CDC changes table consumed
    // by ONE running query whose sink is the exactly-once ledger
    // MERGE (TableLog.upsertSink) maintaining a serving table — the
    // full nightly upsert cycle per drop (producer commit +
    // version-delta read + stats-pruned ledger merge all inside the
    // timed cycle, like 8b). Batch 1 BOOTSTRAPS the serving table
    // from its own fold (the cold figure).
    val upsSsTimes: Seq[(Long, Double)] = {
      val srcT = tmpDir("graft-sbench-upsss-src")
      val serveT = tmpDir("graft-sbench-upsss-serve")
      val ck = tmpDir("graft-sbench-upsss-ck")
      val staged = (0 until nDrops).map { i =>
        val st = tmpDir(s"graft-sbench-upsss-stage$i")
        cdcChanges.filter(pmod(col("seq"), lit(nDrops.toLong)) === i)
          .write.mode("overwrite").parquet(st)
        (spark.read.parquet(st).count(), st)
      }
      val t00 = System.nanoTime()
      graft.sinks.TableLog.append(spark.read.parquet(staged.head._2), srcT)
      val q = spark.readStream.format("graft.streaming.TableLogSource")
        .option("path", srcT).load()
        .writeStream.outputMode("append")
        .foreachBatch(graft.sinks.TableLog.upsertSink(
          serveT, "sbench-ups", "key", "seq", "op"))
        .option("checkpointLocation", ck)
        .start()
      q.processAllAvailable()
      val first = (staged.head._1, (System.nanoTime() - t00) / 1e9)
      val rest = staged.tail.map { case (n, st) =>
        val t0 = System.nanoTime()
        graft.sinks.TableLog.append(spark.read.parquet(st), srcT)
        q.processAllAvailable()
        (n, (System.nanoTime() - t0) / 1e9)
      }
      q.stop()
      first +: rest
    }

    // 8. steady-state rows for the round-11 twins (curq, hist) —
    // drops 2..N through the same protocol as the others (round-12
    // verdict item #6; placed here because both need the cold
    // sections' curBench/cqTargets/histArr fixtures)
    val cqTimes = steadyDrops(curInput, "doc_id", nDrops, "curqss") { raw =>
      graft.streaming.CurationStream.curatedAdmittedStream(
        raw.as[graft.streaming.CurationStream.Doc], curBench, cqTargets).toDF()
    }
    val histTimes = steadyDrops(histArr, "v", nDrops, "histss",
        org.apache.spark.sql.streaming.OutputMode.Update) { raw =>
      graft.streaming.HistStream.runningSketch(
        raw.as[graft.streaming.HistStream.Arrival])
    }

    val sf = new java.io.File(sfDir).getName
    println(
      f"""{"metric":"stream_bench","unit":"rows_per_sec","sf":"$sf",""" +
      f""""dedup_tws":${totalRows / dedupSec}%.0f,"dedup_sec":$dedupSec%.2f,"dedup_out":$dedupOut,""" +
      f""""interval_join":${joinIn / joinSec}%.0f,"join_sec":$joinSec%.2f,"join_out":$joinOut,""" +
      f""""neardup_docs_per_sec":${nDocs / ndSec}%.0f,"neardup_sec":$ndSec%.2f,"neardup_pairs":$ndOut,""" +
      f""""emb_vecs_per_sec":${nVecs / embSec}%.0f,"emb_sec":$embSec%.2f,"emb_pairs":$embOut,""" +
      f""""sem_vecs_per_sec":${nVecs / semSec}%.0f,"sem_sec":$semSec%.2f,"sem_prunes":$semOut,""" +
      f""""ham_sigs_per_sec":${nSigs / hamSec}%.0f,"ham_sec":$hamSec%.2f,"ham_pairs":$hamOut,""" +
      f""""cdc_changes_per_sec":${nChanges / cdcSec}%.0f,"cdc_sec":$cdcSec%.2f,"cdc_out":$cdcOut,""" +
      f""""sft_events_per_sec":${totalRows / sftSec}%.0f,"sft_sec":$sftSec%.2f,"sft_convos":$sftOut,""" +
      f""""idx_docs_per_sec":${nDocs / idxSec}%.0f,"idx_sec":$idxSec%.2f,"idx_postings":$idxOut,""" +
      f""""cur_docs_per_sec":${nCur / curSec}%.0f,"cur_sec":$curSec%.2f,"cur_out":$curOut,""" +
      f""""kmv_elems_per_sec":${nArr / kmvSec}%.0f,"kmv_sec":$kmvSec%.2f,"kmv_out":$kmvOut,""" +
      f""""er_recs_per_sec":${nRecs / erSec}%.0f,"er_sec":$erSec%.2f,"er_pairs":$erOut,""" +
      f""""quo_docs_per_sec":${nQ / quoSec}%.0f,"quo_sec":$quoSec%.2f,"quo_out":$quoOut,""" +
      f""""curq_docs_per_sec":${nCur / cqSec}%.0f,"curq_sec":$cqSec%.2f,"curq_admitted":$cqOut,""" +
      f""""drift_sec":$drSec%.2f,"drift_bins":$drOut,""" +
      f""""tbl_rows_per_sec":${nDocs / tblSec}%.0f,"tbl_sec":$tblSec%.2f,"tbl_out":$tblOut,""" +
      f""""hist_docs_per_sec":${nDocs / histSec}%.0f,"hist_sec":$histSec%.2f,"hist_bins":$histOut,""" +
      f""""ss_batches":$nDrops,"ss_cold":$coldRate%.0f,"ss_steady":${steadyRate(ssTimes)}%.0f,""" +
      f""""nd_steady":${steadyRate(ndTimes)}%.0f,"emb_steady":${steadyRate(embTimes)}%.0f,""" +
      f""""sem_steady":${steadyRate(semTimes)}%.0f,"cdc_steady":${steadyRate(cdcTimes)}%.0f,""" +
      f""""idx_steady":${steadyRate(idxTimes)}%.0f,"cur_steady":${steadyRate(curTimes)}%.0f,""" +
      f""""curq_steady":${steadyRate(cqTimes)}%.0f,"hist_steady":${steadyRate(histTimes)}%.0f,""" +
      f""""tbl_steady":${steadyRate(tblSsTimes)}%.0f,""" +
      f""""ups_cold":${upsSsTimes.head._1 / upsSsTimes.head._2}%.0f,""" +
      f""""ups_steady":${steadyRate(upsSsTimes)}%.0f}""")
    spark.stop()
  }
}
