package graftbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.pipeline.{RestaurantPipeline, ReviewPipeline}
import graft.sinks.TableLog
import graft.streaming.EventStreams

/** review_ingest: the paper's pipeline as a closed loop with one
  * client. Crawl drops are dirs of JSON array files, as the reference
  * crawlers write them: one `{place_id}.json` per place for reviews,
  * one `{query}.json` per search query for restaurants. Each cycle the
  * client lands the next review crawl in the watched dir, where the
  * file-arrival source (`EventStreams.jsonFileSource`) runs `foreachBatch` →
  * `ReviewPipeline.newReviews` (against the ids already in the table)
  * → `TableLog.appendStreamBatch`; it waits until that commit is
  * readable. Then it lands a restaurant crawl and runs
  * `RestaurantPipeline.run` → `TableLog.append` itself. Then it reads:
  * a `readWhere` point lookup on a place_id, `readChanges` since the
  * last version it consumed (the downstream embed consumer), one
  * time-travel `read` and `ReviewPipeline.apiBatch`. Every
  * `COMPACT_EVERY` cycles it runs `compactSmallFiles` on both tables.
  *
  * Drop 0 of each kind is the bootstrap commit made at set-up; each
  * set-up uses fresh table and landing dirs. The first round of
  * `COMPACT_EVERY` cycles, through the first compaction, is the cold
  * pass; the cycles after it are warm.
  */
final class Ingest(a: Main.Args) extends Workload {
  import Ingest._

  private var root = ""
  private def reviews = s"$root/tables/reviews"
  private def restaurants = s"$root/tables/restaurants"
  private def landing = s"$root/landing"
  private var query: StreamingQuery = _
  private val commits = new LinkedBlockingQueue[java.lang.Long]()
  @volatile private var trace: Trace = _

  private val nDrops: Int =
    Option(new java.io.File(s"${a.drops}/reviews").list).map(_.length).getOrElse(0)
  /** Review and restaurant rows of each drop, as the generator wrote them. */
  private lazy val dropRows: IndexedSeq[Long] =
    scala.io.Source.fromFile(s"${a.drops}/rows.txt").getLines()
      .map(_.split(" ").map(_.toLong).sum).toIndexedSeq

  private def reviewDrop(i: Int) = f"${a.drops}/reviews/d$i%05d"
  private def restaurantDrop(i: Int) = f"${a.drops}/restaurants/d$i%05d"

  /** A crawl dir read the way the stream's source reads it
    * (`EventStreams.jsonFileSource`: JSON array files, multiLine). */
  private def readCrawl(spark: SparkSession, schema: StructType, dir: String): DataFrame =
    spark.read.schema(schema).option("multiLine", "true").json(dir)
  private def readReviews(spark: SparkSession, dir: String) = readCrawl(spark, reviewSchema, dir)
  private def readRestaurants(spark: SparkSession, dir: String) = readCrawl(spark, restaurantSchema, dir)

  /** One restaurant crawl through the pipeline; returns dead letters. */
  private def ingestRestaurants(spark: SparkSession, path: String): Long = {
    val existing =
      if (TableLog.headVersion(spark, restaurants) == 0)
        spark.emptyDataFrame.select(lit("").as("place_id")).limit(0)
      else TableLog.read(spark, restaurants).select("place_id")
    val (fresh, dead) = RestaurantPipeline.run(readRestaurants(spark, path), existing)
    TableLog.append(fresh, restaurants)
    dead.count()
  }

  def setup(spark: SparkSession, i: Int): Unit = {
    require(nDrops > 2, s"no drops under ${a.drops}")
    root = s"${a.work}/ingest-$i"
    rmTree(Paths.get(root))
    Files.createDirectories(Paths.get(s"$landing/reviews"))
    Files.createDirectories(Paths.get(s"$landing/restaurants"))
    TableLog.append(ReviewPipeline.newReviews(readReviews(spark, reviewDrop(0)),
      spark.emptyDataFrame.select(lit("").as("id")).limit(0)), reviews)
    ingestRestaurants(spark, restaurantDrop(0))
    commits.clear()
    // each drop lands as one dir of files: one trigger takes all of it
    query = EventStreams.jsonFileSource(spark, s"$landing/reviews/*", reviewSchema, maxFilesPerTrigger = 1000)
      .writeStream
      .option("checkpointLocation", s"$root/checkpoint")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val t = trace
        val fresh = t.span("pipeline", "new_reviews") {
          ReviewPipeline.newReviews(batch, TableLog.read(spark, reviews).select("id"))
        }._1
        val v = t.span("sinks", "append")(TableLog.appendStreamBatch(fresh, reviews, "ingest", id))._1
        commits.put(java.lang.Long.valueOf(v.getOrElse(-1L)))
        ()
      }
      .start()
  }

  override def teardown(spark: SparkSession): Unit = {
    if (query != null) { query.stop(); query = null }
  }

  def measure(spark: SparkSession, tr: Trace): Result = {
    trace = tr
    val rng = new scala.util.Random(a.seed)
    val lat = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    def record(op: String, ms: Double): Unit = lat.getOrElseUpdate(op, mutable.ArrayBuffer.empty) += ms
    val cycles = mutable.ArrayBuffer.empty[Double]
    val cycleRows = mutable.ArrayBuffer.empty[Long]
    val retained = mutable.ArrayBuffer.empty[Double]
    val filesFrac = mutable.ArrayBuffer.empty[Double]
    var attempted, failed = 0L
    var dead = 0L
    var blocksMax = 0.0
    var landedBytes = treeBytes(Paths.get(reviewDrop(0))) + treeBytes(Paths.get(restaurantDrop(0)))
    var consumed = TableLog.headVersion(spark, reviews)
    // the downstream consumer's state: the ids it has seen inserted
    val consumerIds = mutable.HashSet.empty[String]
    TableLog.read(spark, reviews).select("id").collect().foreach(r => consumerIds += r.getString(0))
    val hot = readReviews(spark, reviewDrop(0)).groupBy("place_id").count()
      .orderBy(col("count").desc, col("place_id")).limit(5).collect().map(_.getString(0))
    val cycleSpans = mutable.ArrayBuffer.empty[Span]
    var i = 1
    var lookup: (String, Long, Array[Row]) = ("", 0L, Array.empty)

    /** Copy a drop's dir beside the landing dir, then rename it in. */
    def land(src: String, kind: String, i: Int): String = {
      val tmp = Paths.get(s"$root/$kind-$i.tmp")
      Files.createDirectories(tmp)
      Files.list(Paths.get(src)).forEach(f => Files.copy(f, tmp.resolve(f.getFileName)))
      val dst = Paths.get(f"$landing/$kind/d$i%05d")
      Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE)
      dst.toString
    }
    def guarded(op: String)(body: => Unit): Unit = {
      attempted += 1
      try {
        val (_, ms) = tr.span(layerOf(op), op)(body)
        if (i > COMPACT_EVERY) record(op, ms) // the first round is the cold one
      } catch {
        case scala.util.control.NonFatal(e) =>
          failed += 1
          System.err.println(s"[graftbench] $op failed: ${e.getMessage}")
      }
    }

    var warmStart = 0L // --seconds counts the warm cycles
    def elapsed = (System.nanoTime() - warmStart) / 1e9
    while (i < nDrops && (cycles.length < MIN_CYCLES || elapsed < a.seconds)) {
      val (_, cycleMs) = tr.span("bench", s"cycle$i") {
        land(reviewDrop(i), "reviews", i)
        guarded("drop") { // from landed to the commit being readable
          val v = commits.poll(120, TimeUnit.SECONDS)
          require(v != null, s"drop $i was not committed within 120 s")
        }
        val landedRestaurants = land(restaurantDrop(i), "restaurants", i)
        guarded("restaurants") {
          dead += ingestRestaurants(spark, landedRestaurants)
        }
        landedBytes += treeBytes(Paths.get(reviewDrop(i))) + treeBytes(Paths.get(restaurantDrop(i)))
        val place = hot(rng.nextInt(hot.length))
        val pred = col("place_id") === lit(place)
        guarded("read_where") {
          val v = TableLog.headVersion(spark, reviews)
          lookup = (place, v, TableLog.readWhere(spark, reviews, pred, Some(v)).collect())
        }
        guarded("read_changes") {
          val head = TableLog.headVersion(spark, reviews)
          TableLog.readChanges(spark, reviews, consumed, Some(head))
            .where(col("_change_type") === "insert").select("id").collect()
            .foreach(r => consumerIds += r.getString(0))
          consumed = head
        }
        guarded("time_travel") {
          val head = TableLog.headVersion(spark, reviews)
          TableLog.read(spark, reviews, Some(1L + rng.nextInt(head.toInt))).count(); ()
        }
        guarded("api_batch") {
          ReviewPipeline.apiBatch(TableLog.readWhere(spark, reviews, pred)).collect(); ()
        }
        if (i % COMPACT_EVERY == 0) guarded("compact") {
          TableLog.compactSmallFiles(spark, reviews)
          TableLog.compactSmallFiles(spark, restaurants); ()
        }
        cycleRows += dropRows(i)
      }
      cycles += cycleMs / 1e3
      if (cycles.length == COMPACT_EVERY) warmStart = System.nanoTime()
      if (tr.enabled) cycleSpans ++= tr.all.filter(s => s.layer == "bench" && s.name == s"cycle$i")

      // check, outside the timed cycle: the point lookup's result against
      // an unskipped read + filter of the same version
      attempted += 1
      val (place, v, got) = lookup
      val pred = col("place_id") === lit(place)
      if (!sameRows(got, TableLog.read(spark, reviews, Some(v)).filter(pred).collect())) {
        failed += 1
        System.err.println(s"[graftbench] readWhere($place) at v$v differs from read + filter")
      }
      if (tr.enabled) {
        val (all, kept) = TableLog.pruneFiles(spark, reviews, pred, Some(v))
        filesFrac += kept.length.toDouble / math.max(1, all.length)
      }
      blocksMax = math.max(blocksMax, Stats.blocksHeldMb(spark))
      if (i % COMPACT_EVERY == 0) retained += Stats.heapAfterGcMb(spark)
      i += 1
    }
    retained += Stats.heapAfterGcMb(spark)
    val landed = i - 1

    // reference recompute over every landed drop, outside the timed cycles
    attempted += 1
    val allReviews = (0 to landed).map(reviewDrop)
    val refReviews = ReviewPipeline.withId(
      allReviews.map(p => readReviews(spark, p)).reduce(_ unionByName _))
    val gotReviews = TableLog.read(spark, reviews)
    val reviewsOk = sameRows(gotReviews.select(refReviews.columns.map(col): _*), refReviews) &&
      gotReviews.select("id").collect().map(_.getString(0)).toSet == consumerIds.toSet
    if (!reviewsOk) { failed += 1; System.err.println("[graftbench] reviews table differs from the recompute") }
    attempted += 1
    val refRest = latestPerKey(spark, (0 to landed).map(j => readRestaurants(spark, restaurantDrop(j))
      .withColumn("__drop", lit(j))))
    val gotRest = TableLog.read(spark, restaurants)
    if (!sameRows(gotRest.select(refRest.columns.map(col): _*), refRest)) {
      failed += 1; System.err.println("[graftbench] restaurants table differs from the recompute")
    }

    val warmCycles = cycles.drop(COMPACT_EVERY)
    val warmRows = cycleRows.drop(COMPACT_EVERY).sum.toDouble
    val medians = lat.map { case (k, v) => k -> Stats.median(v.toSeq) }
    val endToEnd = Seq(
      "cold_pass_s" -> (cycles.take(COMPACT_EVERY).sum, "s"),
      "pass_s" -> (Stats.median(warmCycles.toSeq), "s"),
      "op_geomean_ms" -> (Stats.geomean(medians.values.toSeq), "ms"),
      "rows_per_s" -> (warmRows / warmCycles.sum, "rows/s"),
      "retained_mb" -> (retained.min, "MiB"))
    val layers = if (!tr.enabled) Nil else {
      val tableBytes = treeBytes(Paths.get(s"$root/tables"))
      val logBytes = treeBytes(Paths.get(s"$reviews/_log")) + treeBytes(Paths.get(s"$restaurants/_log"))
      Layers.ingest(tr, cycleSpans.drop(COMPACT_EVERY).toSeq, a.cores, lat.map { case (k, v) => k -> v.toSeq }.toMap,
        filesPerCommit = filesPerCommit(spark, reviews), logMb = logBytes / 1048576.0,
        writeAmp = tableBytes.toDouble / landedBytes, filesReadFrac = Stats.median(filesFrac.toSeq),
        deadLetters = dead, blocksMb = blocksMax)
    }
    Result(endToEnd, layers, attempted, failed)
  }
}

object Ingest {
  val COMPACT_EVERY = 4
  val MIN_CYCLES = 8

  val reviewSchema: StructType = StructType(Seq("place_id", "author", "content", "visit_date")
    .map(StructField(_, StringType)))
  val restaurantSchema: StructType = graft.schema.Schemas.restaurant.add(StructField("url", StringType))

  private def layerOf(op: String): String = op match {
    case "drop" => "streaming"
    case "restaurants" => "pipeline"
    case "api_batch" => "pipeline"
    case _ => "sinks"
  }

  /** The restaurant table a from-scratch recompute gives: every crawl
    * normalized and validated, first valid record per place_id in
    * landing order (RestaurantPipeline.run's anti-join keeps the first
    * one ingested). */
  def latestPerKey(spark: SparkSession, drops: Seq[DataFrame]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.row_number
    val all = drops.reduce(_ unionByName _)
    val (valid, _) = graft.ops.Validate.split(RestaurantPipeline.normalize(all), Seq("place_id", "name"))
    valid.withColumn("__rn", row_number().over(Window.partitionBy("place_id").orderBy("__drop")))
      .where(col("__rn") === 1).drop("__rn", "__drop")
  }

  /** Multiset equality of two row sets. */
  def sameRows(a: Array[Row], b: Array[Row]): Boolean = {
    def bag(rs: Array[Row]): Map[Row, Int] = rs.groupBy(identity).view.mapValues(_.length).toMap
    bag(a) == bag(b)
  }
  def sameRows(a: DataFrame, b: DataFrame): Boolean = sameRows(a.collect(), b.collect())

  /** Mean data files an append commit adds. */
  def filesPerCommit(spark: SparkSession, table: String): Double = {
    val head = TableLog.headVersion(spark, table)
    val floor = TableLog.lowestVersion(spark, table)
    var prev = Set.empty[String]
    val added = mutable.ArrayBuffer.empty[Int]
    (math.max(1L, floor) to head).foreach { v =>
      val m = TableLog.manifest(spark, table, Some(v))
      if (m.action == "append" && v > floor) added += m.files.count(f => !prev.contains(f))
      prev = m.files.toSet
    }
    if (added.isEmpty) 0.0 else added.sum.toDouble / added.length
  }

  def treeBytes(p: java.nio.file.Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
    }

  def rmTree(p: java.nio.file.Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_)) finally s.close()
  }
}
