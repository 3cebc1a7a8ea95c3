package graft.sinks

import java.nio.charset.StandardCharsets
import java.util.Locale

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}

/** Transactional MULTI-file table commits on a plain parquet
  * directory — the mechanism the reference's read-merge-overwrite
  * sink lacks (restaurant-crawler/storage_manager.py:28-45 reads the
  * whole JSON file, concat-appends in memory and rewrites it: two
  * concurrent crawlers lose one side's rows silently). The DSv2 sink
  * fixed the SINGLE-file race with a two-phase commit
  * (JsonLinesSource); this is the table-level protocol above it — the
  * Delta/Iceberg manifest-log mechanism reduced to its load-bearing
  * core:
  *
  *  - data files are IMMUTABLE, written once under `data/` with
  *    unique names; nothing ever rewrites or appends in place;
  *  - a VERSION is a manifest file `_log/v{N}.manifest`. An APPEND
  *    commit publishes a DELTA manifest — only the files it ADDS (the
  *    Delta-Lake add-action shape), so commit bytes are O(Δ), never
  *    O(table files); a REWRITE commit (overwrite/compact/zorder/
  *    merge) publishes a FULL snapshot manifest, which is O(the files
  *    it wrote) — the same files it just paid to write;
  *  - readers RECONSTRUCT a version's snapshot as the nearest
  *    checkpoint-or-full manifest at/below it plus the delta tail — a
  *    CHECKPOINT (`_log/v{N}.checkpoint`, a full snapshot body) is
  *    written every [[TableLog.CHECKPOINT_EVERY]] delta commits, so
  *    the tail is bounded. Checkpoints are best-effort and NEVER
  *    load-bearing for correctness (a missing/torn one just lengthens
  *    the walk, worst case back to the last full manifest or v1 —
  *    a delta from the empty table IS its full file set); cumulative
  *    log bytes are O(files · versions/CHECKPOINT_EVERY) instead of
  *    O(files · versions);
  *  - COMMIT = publishing manifest N+1 under an atomic
  *    put-if-absent primitive ([[LogStore]] — pluggable per scheme:
  *    link(2) on `file:`, rename-no-overwrite on HDFS, a registered
  *    conditional-put implementation for object stores; an unknown
  *    scheme REFUSES to commit rather than run a silently unsafe
  *    log). Exactly one writer can win a version; the loser re-reads
  *    the new head and RETRIES on top (optimistic concurrency — the
  *    lost-update race is structurally gone). Every write verb runs
  *    the ONE commit loop ([[commitLoop]]): each pass re-resolves the
  *    head and runs the verb's attempt, which either finishes without
  *    publishing (a no-op, a replayed streaming batch) or hands back a
  *    delta or full manifest to publish. Appends re-base their
  *    already-written files; rewrites (overwrite / compact / upsert /
  *    merge / delete / restore) re-read the new head and re-apply, so
  *    a racing commit's rows are never lost;
  *  - a crashed writer leaves data files with no manifest pointing at
  *    them: invisible to every reader, garbage-collectable by
  *    comparing `data/` against the union of live manifests;
  *  - READERS pin: resolve head version once, then read that
  *    version's file set for the rest of the job — a concurrent
  *    commit cannot shear a running query. Time travel = pinning an
  *    older version explicitly.
  *
  * A belt-and-braces trailing `#end` sentinel makes a torn manifest
  * detectable: readers treat a sentinel-less manifest as in-flight
  * and fail loudly rather than serve half a version.
  *
  * Log retention: [[expireVersions]] drops history below a floor —
  * it first publishes a LOAD-BEARING checkpoint at the floor (verified
  * before anything is deleted), then removes older manifests and the
  * data files only they referenced. Reads/incremental consumers
  * pinned below the floor fail LOUDLY with a resume instruction —
  * never a silent hole (the fence Delta leaves to documentation).
  *
  * Scale: a delta manifest lists the commit's files — bytes ∝ Δ; a
  * checkpoint lists file PATHS+stats — driver-sized by construction
  * (the Iceberg answer for millions of files is manifest hierarchies;
  * one level is enough here). Data stays parquet: scans, pushdown,
  * pruning all unchanged — the log changes WHICH files a scan sees,
  * never how it reads them.
  */
object TableLog {

  /** `txns` carries the latest committed (streaming appId → batchId)
    * per writer forward through every commit — the exactly-once
    * ledger [[appendStreamBatch]] checks so a replayed micro-batch
    * publishes nothing. Bounded by the number of distinct streaming
    * writers, not by batches.
    *
    * `stats` maps a file path to its footer-harvested
    * [[TableStats.FileStats]] (rows, per-column min/max/nullCount) —
    * recorded at COMMIT time, the Delta data-skipping mechanism:
    * [[readWhere]] prunes the file list against a predicate BEFORE
    * the scan exists. Files committed by pre-stats manifests simply
    * have no entry (never pruned) — old tables stay readable. The
    * footer `rows` serve pruning and, through [[exactRows]],
    * [[detail]]'s `n_rows` and [[graft.plans.MetadataCount]] (a bare
    * `count()` of a read is answered from them, no scan).
    *
    * `schema` is the table's committed schema (the Delta
    * schema-in-log mechanism): commits ENFORCE it — an append whose
    * columns clash in type, or add columns without `evolve = true`,
    * throws instead of publishing — and reads APPLY it, so files
    * written before an evolution null-fill the added columns without
    * a mergeSchema footer sweep (which pays a footer open per file
    * and therefore grows with file count). The stored form is
    * DEEP-nullability-normalized (every field nullable, every
    * array/map element containsNull) — post-evolution reads null-fill
    * older files at ANY nesting depth, so the committed schema never
    * claims non-null for data it null-filled. Pre-schema manifests
    * have None: such legacy tables read from footers and skip
    * enforcement, exactly as before. */
  final case class Manifest(version: Long, base: Long, action: String,
                            files: Seq[String],
                            txns: Map[String, Long] = Map.empty,
                            stats: Map[String, TableStats.FileStats] = Map.empty,
                            schema: Option[StructType] = None,
                            dvs: Map[String, DvRef] = Map.empty,
                            constraints: Map[String, String] = Map.empty)

  /** A data file's DELETION VECTOR reference — merge-on-read erasure
    * ([[deleteVectors]]): `path` is the parquet sidecar holding the
    * deleted (file_name, row_index) positions, `card` the number of
    * deleted rows in THAT data file (exact — audited at commit).
    * Several data files may share one sidecar (one per delete
    * commit); a re-deleted file repoints at a NEW sidecar holding the
    * UNION of its positions, so for any file the referenced sidecar's
    * rows are a superset of every older sidecar's — reading the union
    * of all referenced sidecars is always exact. */
  final case class DvRef(path: String, card: Long)

  /** A DV sidecar's schema: the deleted positions as (data file name,
    * row index) — what [[deleteVectors]] writes. */
  private val DvSchema = StructType(Seq(
    StructField("f", StringType),
    StructField("r", LongType)))

  /** The union of the DV sidecars at `rels` (table-relative), read with
    * [[DvSchema]] so no footer is inferred. */
  private def readSidecars(spark: SparkSession, table: String, rels: Seq[String]): DataFrame =
    spark.read.schema(DvSchema).parquet(rels.distinct.map(rel => new Path(table, rel).toString): _*)

  /** A checkpoint (full-snapshot sidecar) is written after every this
    * many consecutive delta commits — bounds the reconstruction walk
    * AND the amortized commit cost (O(files)/CHECKPOINT_EVERY); the
    * Delta default is 10. */
  val CHECKPOINT_EVERY = 8

  private val LOG_DIR = "_log"
  private val SENTINEL = "#end"

  /** On-disk manifest, as stored: a FULL snapshot (`kind=full`,
    * `adds` = the complete file list) or a DELTA (`kind=delta`,
    * adds/removes relative to version−1). Header (version, base,
    * action, txns, schema) is complete in EVERY manifest — a bounded
    * per-writer ledger and one schema token, never accumulated. */
  private final case class Raw(version: Long, base: Long, action: String,
                               kind: String, adds: Seq[String],
                               removes: Seq[String],
                               addStats: Map[String, TableStats.FileStats],
                               txns: Map[String, Long],
                               schema: Option[StructType],
                               addDvs: Map[String, DvRef],
                               constraints: Map[String, String])

  /** A resolved snapshot plus the length of the delta tail applied to
    * reach it — commit paths use `chain` to decide when the next
    * checkpoint is due. */
  private final case class Resolved(m: Manifest, chain: Int)

  private def fs(spark: SparkSession, table: String): FileSystem =
    new Path(table).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def manifestPath(table: String, v: Long): Path =
    new Path(table, f"$LOG_DIR/v$v%08d.manifest")

  private def checkpointPath(table: String, v: Long): Path =
    new Path(table, f"$LOG_DIR/v$v%08d.checkpoint")

  private def hintPath(table: String): Path =
    new Path(table, s"$LOG_DIR/_head")

  /** Best-effort head hint (the Delta `_last_checkpoint` pattern):
    * overwritten after every successful publish, NEVER load-bearing —
    * a stale, torn, or missing hint only costs the reader extra
    * probes or one directory listing; an invalid one (not naming an
    * existing manifest) is ignored. */
  private def readHint(f: FileSystem, table: String): Option[Long] =
    try {
      val p = hintPath(table)
      if (!f.exists(p)) None
      else {
        val in = f.open(p)
        val s = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
        val v = s.toLong
        if (v >= 1 && f.exists(manifestPath(table, v))) Some(v) else None
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  private def writeHint(f: FileSystem, table: String, v: Long): Unit =
    try {
      val out = f.create(hintPath(table), true)
      try out.write(v.toString.getBytes(StandardCharsets.UTF_8))
      finally out.close()
    } catch { case scala.util.control.NonFatal(_) => () } // best effort

  /** Highest committed version, 0 when the table has no log yet.
    * O(commits-since-hint): starts at the head hint and probes
    * FORWARD until the next version is absent — versions are dense
    * integers, so this is exact whenever hint ≤ head (and a hint can
    * never exceed the head: it is written only after its manifest).
    * Without a usable hint, one directory listing. At 10⁶-commit
    * table ages this is the difference between a constant-cost head
    * read and listing a million-entry directory per commit. */
  def headVersion(spark: SparkSession, table: String): Long = {
    val f = fs(spark, table)
    readHint(f, table) match {
      case Some(hint) =>
        var v = hint
        while (f.exists(manifestPath(table, v + 1))) v += 1
        v
      case None => listVersions(f, table).foldLeft(0L)(math.max)
    }
  }

  private def listVersions(f: FileSystem, table: String): Seq[Long] = {
    val dir = new Path(table, LOG_DIR)
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).map(_.getPath.getName)
      .collect { case n if n.startsWith("v") && n.endsWith(".manifest") =>
        n.stripPrefix("v").stripSuffix(".manifest").toLong }.toSeq
  }

  /** Lowest retained manifest version (1 for never-expired tables),
    * 0 on an empty log. */
  def lowestVersion(spark: SparkSession, table: String): Long =
    lowestVersion(fs(spark, table), table)

  private def lowestVersion(f: FileSystem, table: String): Long = {
    val vs = listVersions(f, table)
    if (vs.isEmpty) 0L else vs.min
  }

  // ------------------------------------------------------ CHECK constraints

  /** SQL-standard CHECK semantics: a row VIOLATES a constraint iff
    * its expression evaluates to FALSE — NULL passes (spell
    * `x IS NOT NULL AND …` to reject nulls), exactly the standard's
    * UNKNOWN-passes rule, pinned by spec. Zero cost when the table
    * has no constraints; one combined scan of the incoming batch
    * otherwise (the guilty constraint is identified on the error
    * path only). */
  private def enforceConstraints(df: DataFrame, cs: Map[String, String],
                                 verb: String, table: String,
                                 schema: Option[StructType] = None): Unit =
    if (cs.nonEmpty) {
      import org.apache.spark.sql.functions.{coalesce, expr, lit, not}
      // a batch may legitimately OMIT committed columns (they
      // null-fill at read): enforcement must see those NULLs — which
      // PASS under the UNKNOWN rule — not an unresolved-column error
      val have = df.columns.map(_.toLowerCase(Locale.ROOT)).toSet
      val aligned = schema.map(_.fields.toSeq).getOrElse(Seq.empty)
        .filterNot(f => have.contains(f.name.toLowerCase(Locale.ROOT)))
        .foldLeft(df)((d, f) =>
          d.withColumn(f.name, lit(null).cast(f.dataType)))
      val all = cs.values.map(e => coalesce(expr(e), lit(true))).reduce(_ && _)
      if (aligned.filter(not(all)).limit(1).count() > 0) {
        val guilty = cs.find { case (_, e) =>
          aligned.filter(not(coalesce(expr(e), lit(true)))).limit(1).count() > 0 }
        throw new IllegalArgumentException(
          s"TableLog.$verb: CHECK constraint " +
            guilty.map { case (n, e) => s"'$n' ($e)" }.getOrElse("?") +
            s" is violated by incoming rows on $table")
      }
    }

  /** Post-write enforcement (round 16, closing the r15 ADVICE gap):
    * CHECK constraints are verified against the FILES writeData just
    * produced, not by a second evaluation of the incoming frame — a
    * non-deterministic or re-evaluated source (rand()/uuid()/a
    * re-read input) could pass a pre-check yet write different,
    * violating rows, and every batch paid a second full scan of its
    * source for the pre-check. Reading the freshly written parquet
    * back is exactly-the-committed-bytes enforcement at the cost of a
    * narrow columnar re-read, paid only on constraint-bearing tables.
    * The files are uncommitted at this point, so a violation abort
    * leaves only orphans (crashed-writer invisibility already covers
    * that), and fresh files carry no deletion vectors, so the raw
    * read is DV-sound (the readFiles seam is for COMMITTED files).
    * The files are read with `written`, the schema of the frame that
    * wrote them, so the re-read infers nothing from their footers. */
  private def enforceConstraintsOnFiles(spark: SparkSession, table: String,
                                        files: Seq[String], written: StructType,
                                        cs: Map[String, String], verb: String,
                                        schema: Option[StructType]): Unit =
    if (cs.nonEmpty && files.nonEmpty)
      enforceConstraints(
        spark.read.schema(written).parquet(files.map(f => new Path(table, f).toString): _*),
        cs, verb, table, schema)

  /** ADD a named CHECK constraint (Delta's `ALTER TABLE … ADD
    * CONSTRAINT`): validates that EVERY existing row satisfies the
    * expression (a full scan — the price Delta charges too; by
    * induction every later commit then needs only its own batch
    * checked), then publishes a zero-file 'append' delta carrying the
    * new constraint set in the header — constraints ride every
    * manifest like the schema token, so they version with the table:
    * RESTORE brings back the restored version's contract, CLONE
    * copies the source's, and incremental consumers ride across the
    * commit as an empty append. Enforcement points: append /
    * appendStreamBatch (one append body) / overwrite / upsert / merge /
    * mergeStreamBatch — delete, deleteVectors and every compact
    * (plain, `where`, `zorder`, compactSmallFiles) only rewrite
    * satisfying rows, so they carry the set untouched. */
  def addConstraint(spark: SparkSession, table: String, name: String,
                    expression: String): Long = {
    require(name.nonEmpty && name.forall(c =>
      c.isLetterOrDigit || c == '_' || c == '-'),
      s"addConstraint: name must be [A-Za-z0-9_-]+, got '$name'")
    commitOnHead(spark, table, "addConstraint") { m =>
      require(!m.constraints.contains(name),
        s"TableLog.addConstraint: constraint '$name' already exists on $table" +
          s" (${m.constraints(name)}) — dropConstraint first")
      enforceConstraints(read(spark, table, Some(m.version)),
        Map(name -> expression), "addConstraint(existing data)", table)
      Publish("delta", "append", Seq.empty, m.txns, Map.empty, m.schema,
        m.constraints + (name -> expression))
    }
  }

  /** DROP a named CHECK constraint — the loud inverse; a missing name
    * throws (a silent no-op would hide a typo'd drop that leaves the
    * constraint enforcing). */
  def dropConstraint(spark: SparkSession, table: String, name: String): Long =
    commitOnHead(spark, table, "dropConstraint") { m =>
      require(m.constraints.contains(name),
        s"TableLog.dropConstraint: no constraint '$name' on $table " +
          s"(have: ${m.constraints.keys.toSeq.sorted.mkString(", ")})")
      Publish("delta", "append", Seq.empty, m.txns, Map.empty, m.schema,
        m.constraints - name)
    }

  /** The head's CHECK constraints (name -> SQL expression). */
  def constraintsOf(spark: SparkSession, table: String): Map[String, String] =
    headResolved(spark, table).map(_.m.constraints).getOrElse(Map.empty)

  // ---------------------------------------------------------- manifest I/O

  private def parseRaw(body: String, where: String): Raw = {
    val lines = body.linesIterator.toSeq
    require(lines.lastOption.contains(SENTINEL),
      s"TableLog: torn manifest $where (no $SENTINEL sentinel) — in-flight or corrupt publish")
    val header = lines.head.split(" ").map { kv =>
      val Array(k, x) = kv.split("=", 2); k -> x
    }.toMap
    val txns = header.get("txns").filter(_.nonEmpty)
      .map(_.split(";").map { t =>
        val Array(a, b) = t.split(":", 2); a -> b.toLong
      }.toMap)
      .getOrElse(Map.empty[String, Long])
    val schema = header.get("schema").map { b64 =>
      DataType.fromJson(new String(
        java.util.Base64.getDecoder.decode(b64), StandardCharsets.UTF_8))
        .asInstanceOf[StructType]
    }
    val constraints = header.get("constraints").filter(_.nonEmpty)
      .map(_.split(";").map { t =>
        val Array(n, e) = t.split(":", 2); n -> urlDec(e)
      }.toMap)
      .getOrElse(Map.empty[String, String])
    val kind = header.getOrElse("kind", "full") // pre-round-13 manifests: full snapshots
    // file line = `path` / `+path` / `-path`, with optional
    // tab-separated tokens on (plain or +) lines: a stats token
    // (starts `rows=` — TableStats.encode's first field) and/or a
    // deletion-vector token `dv=<urlenc(path)>:<card>`
    val adds = Seq.newBuilder[String]
    val removes = Seq.newBuilder[String]
    val addStats = Map.newBuilder[String, TableStats.FileStats]
    val addDvs = Map.newBuilder[String, DvRef]
    lines.slice(1, lines.length - 1).foreach { ln0 =>
      val (isRemove, ln) =
        if (kind == "delta" && ln0.startsWith("-")) (true, ln0.substring(1))
        else if (kind == "delta" && ln0.startsWith("+")) (false, ln0.substring(1))
        else if (kind == "delta") throw new IllegalArgumentException(
          s"TableLog: delta manifest $where has an unprefixed file line '$ln0'")
        else (false, ln0)
      val toks = ln.split("\t")
      val path = toks.head
      if (isRemove) removes += path
      else {
        adds += path
        toks.tail.foreach { t =>
          if (t.startsWith("dv=")) {
            val i = t.lastIndexOf(':') // the urlenc path holds no ':'
            addDvs += path -> DvRef(urlDec(t.substring(3, i)),
              t.substring(i + 1).toLong)
          } else addStats += path -> TableStats.decode(t)
        }
      }
    }
    Raw(header("version").toLong, header("base").toLong, header("action"),
      kind, adds.result(), removes.result(), addStats.result(), txns, schema,
      addDvs.result(), constraints)
  }

  private def urlEnc(s: String): String =
    java.net.URLEncoder.encode(s, StandardCharsets.UTF_8)
  private def urlDec(s: String): String =
    java.net.URLDecoder.decode(s, StandardCharsets.UTF_8)

  private def readRaw(f: FileSystem, table: String, v: Long, wanted: Long): Raw = {
    val p = manifestPath(table, v)
    if (!f.exists(p)) {
      val floor = lowestVersion(f, table)
      throw new IllegalStateException(
        s"TableLog: manifest v$v of $table is missing" +
          (if (wanted != v) s" (needed to resolve version $wanted)" else "") +
          s" — expired by expireVersions or never committed; earliest retained " +
          s"manifest is ${if (floor == 0) "none" else s"v$floor"}. Re-read the " +
          s"table at a retained version (or head) and resume incremental " +
          s"consumers from a fresh snapshot.")
    }
    val in = f.open(p)
    val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
    parseRaw(body, p.toString)
  }

  /** A valid full-snapshot checkpoint at exactly `v`, else None —
    * torn/corrupt/mismatched checkpoints are silently skipped (the
    * reconstruction walk just continues). */
  private def readCheckpoint(f: FileSystem, table: String, v: Long): Option[Raw] =
    try {
      val p = checkpointPath(table, v)
      if (!f.exists(p)) None
      else {
        val in = f.open(p)
        val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
        val r = parseRaw(body, p.toString)
        if (r.version == v && r.kind == "full") Some(r) else None
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  private def headerLine(v: Long, base: Long, action: String, kind: String,
                         txns: Map[String, Long],
                         schema: Option[StructType],
                         constraints: Map[String, String]): String = {
    val txnStr =
      if (txns.isEmpty) ""
      else " txns=" + txns.toSeq.sortBy(_._1)
        .map { case (a, b) => s"$a:$b" }.mkString(";")
    // base64 keeps the JSON schema one space-free header token; the
    // header parser splits key=value at the FIRST '=', so padding
    // survives round-trip
    val schemaStr = schema.map(st => " schema=" +
      java.util.Base64.getEncoder.encodeToString(
        st.json.getBytes(StandardCharsets.UTF_8))).getOrElse("")
    // CHECK constraints ride like schema: complete in every header
    // (never accumulated), names word-safe by addConstraint, the
    // expression url-encoded space-free so ':'/';' stay structural
    val consStr =
      if (constraints.isEmpty) ""
      else " constraints=" + constraints.toSeq.sortBy(_._1)
        .map { case (n, e) => s"$n:${urlEnc(e)}" }.mkString(";")
    s"version=$v base=$base action=$action kind=$kind$txnStr$schemaStr$consStr"
  }

  private def statLine(p: String, stats: Map[String, TableStats.FileStats],
                       dvs: Map[String, DvRef] = Map.empty): String =
    p + stats.get(p).map(st => s"\t${TableStats.encode(st)}").getOrElse("") +
      dvs.get(p).map(d => s"\tdv=${urlEnc(d.path)}:${d.card}").getOrElse("")

  /** `m` as a manifest body: a FULL snapshot lists every file (with
    * its stats and deletion vector); a DELTA lists only the files it
    * ADDS, `+`-prefixed — bytes ∝ Δ, the O(Δ) commit the log's
    * incremental contract sells (a delta never writes a DV). */
  private def manifestBody(m: Manifest, kind: String): String =
    (headerLine(m.version, m.base, m.action, kind, m.txns, m.schema,
      m.constraints) +:
      m.files.map(p => if (kind == "delta") "+" + statLine(p, m.stats)
                       else statLine(p, m.stats, m.dvs)) :+ SENTINEL).mkString("\n")

  /** Best-effort full-snapshot sidecar at `m.version`. Only the
    * winner of a version writes its checkpoint, so overwrite is safe
    * (any complete body for a version is equivalent). */
  private def writeCheckpoint(f: FileSystem, table: String, m: Manifest): Unit =
    try {
      val out = f.create(checkpointPath(table, m.version), true)
      try out.write(manifestBody(m, "full").getBytes(StandardCharsets.UTF_8))
      finally out.close()
    } catch { case scala.util.control.NonFatal(_) => () }

  private def toManifest(r: Raw): Manifest =
    Manifest(r.version, r.base, r.action, r.adds, r.txns, r.addStats, r.schema,
      r.addDvs, r.constraints)

  /** The snapshot after applying `r` on top of `prev` (the snapshot at
    * r.version − 1). Full manifests replace; deltas merge files/stats
    * (and carry the surviving files' deletion vectors forward — a
    * delta commit never writes or drops a DV) and take everything
    * header-borne from `r`. */
  private def applyRaw(prev: Option[Manifest], r: Raw): Manifest =
    if (r.kind == "full") toManifest(r)
    else {
      val rm = r.removes.toSet
      val pf = prev.map(_.files).getOrElse(Seq.empty)
      val ps = prev.map(_.stats).getOrElse(Map.empty[String, TableStats.FileStats])
      val pd = prev.map(_.dvs).getOrElse(Map.empty[String, DvRef])
      Manifest(r.version, r.base, r.action,
        (if (rm.isEmpty) pf else pf.filterNot(rm)) ++ r.adds,
        r.txns, (if (rm.isEmpty) ps else ps -- rm) ++ r.addStats, r.schema,
        (if (rm.isEmpty) pd else pd -- rm) ++ r.addDvs, r.constraints)
    }

  /** Reconstruct the snapshot at `v`: nearest checkpoint-or-full
    * manifest at/below `v`, plus the delta tail — bounded by
    * [[CHECKPOINT_EVERY]] whenever checkpoints land (they are
    * best-effort; a lost one only lengthens the walk, worst case to
    * the last full manifest or the empty table below v1). */
  private def resolve(spark: SparkSession, table: String, v: Long): Resolved = {
    val f = fs(spark, table)
    readCheckpoint(f, table, v) match {
      case Some(cp) => return Resolved(toManifest(cp), 0)
      case None =>
    }
    val top = readRaw(f, table, v, v)
    if (top.kind == "full") return Resolved(toManifest(top), 0)
    var deltas: List[Raw] = List(top)
    var cur = v - 1
    var base: Option[Manifest] = None
    var searching = cur >= 1
    while (searching) {
      readCheckpoint(f, table, cur) match {
        case Some(cp) => base = Some(toManifest(cp)); searching = false
        case None =>
          val r = readRaw(f, table, cur, v)
          if (r.kind == "full") { base = Some(toManifest(r)); searching = false }
          else {
            deltas = r :: deltas
            cur -= 1
            searching = cur >= 1
          }
      }
    }
    val m = deltas.foldLeft(base)((acc, r) => Some(applyRaw(acc, r))).get
    Resolved(m, deltas.length)
  }

  /** The pinned manifest of `version` (head when None). Throws on a
    * torn (sentinel-less) manifest — an in-flight publish on a
    * filesystem without atomic create, surfaced instead of served. */
  def manifest(spark: SparkSession, table: String,
               version: Option[Long] = None): Manifest = {
    val v = version.getOrElse(headVersion(spark, table))
    require(v >= 1, s"TableLog: $table has no committed version")
    resolve(spark, table, v).m
  }

  /** Walk the retained versions [floor, head] once, feeding each
    * resolved snapshot to `step` — O(total manifests) for the whole
    * walk instead of O(versions · chain) repeated resolutions. */
  private def foldSnapshots[A](spark: SparkSession, table: String)(z: A)(
      step: (A, Manifest) => A): A = {
    val f = fs(spark, table)
    val head = headVersion(spark, table)
    if (head == 0) return z
    val floor = math.max(1L, lowestVersion(f, table))
    var acc = z
    var m: Option[Manifest] = None
    (floor to head).foreach { v =>
      m = Some(if (m.isEmpty) resolve(spark, table, v).m
               else applyRaw(m, readRaw(f, table, v, v)))
      acc = step(acc, m.get)
    }
    acc
  }

  // ------------------------------------------------------------------ reads

  /** Read the table at `version` (head when None): exactly the pinned
    * manifest's parquet files — a commit racing this read changes
    * nothing the query sees. Schema is the manifest's committed one
    * when present (files written before a schema evolution null-fill
    * the added columns — no per-file footer sweep); pre-schema
    * manifests fall back to the parquet footers. */
  def read(spark: SparkSession, table: String,
           version: Option[Long] = None): DataFrame = {
    val m = manifest(spark, table, version)
    require(m.files.nonEmpty, s"TableLog: version ${m.version} of $table is empty")
    readFiles(spark, table, m, m.files)
  }

  /** DataFrameReader honoring the manifest's committed schema. */
  private def reader(spark: SparkSession, m: Manifest) =
    m.schema.map(spark.read.schema).getOrElse(spark.read)

  /** When the referenced DV sidecars' total PHYSICAL bytes exceed
    * this, the anti-join loses its broadcast hint and the planner
    * falls back to a shuffled join — correct, never OOM. The bound is
    * on the sidecar FILES the scan unions (what the broadcast would
    * actually build from — a sidecar shared with files outside the
    * scan is read whole, so bounding on the scanned files' audited
    * cardinalities alone would under-count; round-15 review finding),
    * measured driver-side from their FileStatus. A table accumulating
    * more live DV bytes than this is overdue for the [[compact]]
    * (whole or `where`-scoped) that materializes them away. */
  val DV_BROADCAST_BYTES = 32L * 1024 * 1024

  /** Read exactly `files` of snapshot `m`, applying any DELETION
    * VECTORS the manifest carries for them — the one spelling every
    * raw file read in this object (read / readWhere / merge's base /
    * delete's rewrite / readChanges' pre/postimages) goes through, so
    * merge-on-read correctness has a single seam.
    *
    * Mechanism: files without a DV scan as a [[ManifestFileIndex]]
    * listing (zero overhead — the common case stays the engine's
    * vectorized parquet path); files WITH a DV scan with the parquet metadata
    * columns (`_metadata.file_name`, `_metadata.row_index` — stable
    * per-file row positions, the substrate Delta's DVs key on) and
    * anti-join the union of their referenced position sidecars.
    * Position rows key on the data file's NAME: part-file names carry
    * the write job's UUID, and [[deleteVectors]] enforces
    * basename uniqueness across a version's DV'd files at commit, so
    * the join can never cancel a row of a different file. Sidecars
    * are per-commit; a re-deleted file's current sidecar holds the
    * UNION of its positions (strict superset of older ones), so
    * unioning every referenced sidecar stays exact. */
  private def readFiles(spark: SparkSession, table: String, m: Manifest,
                        files: Seq[String], keepPos: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col}
    // DV-free files: the manifest's listing as the scan's file index,
    // so the plan carries (m, files) — stats pruning on pushed
    // filters, and plans.MetadataCount's exact count
    def scan(fs: Seq[String]) =
      spark.baseRelationToDataFrame(ManifestFileIndex.relation(spark, table, m, fs))
    def tag(df: DataFrame) = df.select(col("*"),
      col("_metadata.file_name").as("__dv_f"),
      col("_metadata.row_index").as("__dv_r"))
    val withDv = files.filter(m.dvs.contains)
    if (withDv.isEmpty) return if (keepPos) tag(scan(files)) else scan(files)
    val plain = files.filterNot(m.dvs.contains)
    val dvRels = withDv.map(f => m.dvs(f).path).distinct
    // no name filter needed for CORRECTNESS: a position row of a file
    // OUTSIDE this scan matches nothing in it (names are
    // write-UUID-unique); the broadcast bound is therefore on the
    // sidecar files' PHYSICAL bytes — what the union actually reads
    val dv0 = readSidecars(spark, table, dvRels)
    val fsys = new Path(table).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dvBytes = dvRels.map(rel =>
      try fsys.getFileStatus(new Path(table, rel)).getLen
      catch { case scala.util.control.NonFatal(_) => Long.MaxValue / 1024 }).sum
    val dv = if (dvBytes <= DV_BROADCAST_BYTES) broadcast(dv0) else dv0
    val base = reader(spark, m)
      .parquet(withDv.map(rel => new Path(table, rel).toString): _*)
    val outCols = base.columns.toSeq ++
      (if (keepPos) Seq("__dv_f", "__dv_r") else Seq.empty)
    val tagged = tag(base)
    val applied = tagged.join(dv,
        tagged("__dv_f") === dv("f") && tagged("__dv_r") === dv("r"),
        "left_anti")
      .select(outCols.map(col): _*)
    if (plain.isEmpty) applied
    else (if (keepPos) tag(scan(plain)) else scan(plain)).unionByName(applied)
  }

  /** The exact row count of `files` of snapshot `m` from the
    * manifest: Σ footer `rows` minus the files' DV cardinalities, or
    * None when any file lacks stats (a legacy manifest, a footer that
    * failed to parse). The one spelling [[detail]]'s `n_rows` and
    * [[graft.plans.MetadataCount]] share. */
  private[graft] def exactRows(m: Manifest, files: Seq[String]): Option[Long] =
    if (!files.forall(f => m.stats.get(f).exists(_.rows >= 0))) None
    else Some(files.map(m.stats(_).rows).sum - files.flatMap(m.dvs.get).map(_.card).sum)

  /** `rel`'s basename — the name [[readFiles]]' anti-join keys on. */
  private def baseName(rel: String): String = new Path(rel).getName

  /** Read with MANIFEST-LEVEL data skipping: files whose committed
    * stats prove they cannot hold a matching row are dropped from the
    * scan's file list before Spark ever opens them — the pruning
    * Delta/Iceberg do from their logs, one level ABOVE parquet's own
    * row-group pruning (which still applies inside the survivors, but
    * pays a footer open per file and therefore grows with file count).
    * The predicate is ALSO applied as a normal filter on top —
    * [[TableStats.mayContain]] is conservative, so the result is
    * always exactly `read(...).filter(predicate)`. An empty survivor
    * set returns the filtered scan of one file (schema intact, zero
    * rows — its stats prove the filter eliminates it). */
  def readWhere(spark: SparkSession, table: String,
                predicate: org.apache.spark.sql.Column,
                version: Option[Long] = None): DataFrame = {
    val m = manifest(spark, table, version)
    require(m.files.nonEmpty, s"TableLog: version ${m.version} of $table is empty")
    val keep = survivors(spark, table, m, predicate)
    readFiles(spark, table, m, if (keep.nonEmpty) keep else m.files.take(1))
      .filter(predicate)
  }

  /** Incremental consumption — the rows APPENDED after `sinceVersion`
    * up to `toVersion` (head when None), read from ONLY the data
    * files those commits added: the nightly/streaming consumer
    * contract (Delta-as-a-streaming-source semantics). Appends never
    * remove files, so for an append-only version range the manifest
    * file-set difference IS the row delta, and the read is O(new
    * files) regardless of table size — a downstream consumer
    * (indexer, dedup probe, replication) prices each cycle at the
    * delta, never the corpus.
    *
    * Any NON-append commit in the range (compact / zorder /
    * overwrite / merge) rewrites files, making the file diff not a
    * row delta — this THROWS with the resume instruction instead of
    * silently double-reading rewritten rows (Delta's "data update
    * detected" streaming-source error; maintenance passes schedule
    * around consumers, or consumers re-snapshot). A range reaching
    * below the [[expireVersions]] floor also throws loudly — an
    * expired manifest is a missing prerequisite, never a silent hole.
    * `sinceVersion = 0` reads everything. Validation walks the
    * (since, to] manifests — O(versions consumed) driver-side
    * metadata reads, the same cost Delta pays reading its commit
    * JSONs. */
  def readAppendsSince(spark: SparkSession, table: String, sinceVersion: Long,
                       toVersion: Option[Long] = None): DataFrame = {
    val to = toVersion.getOrElse(headVersion(spark, table))
    require(to >= 1, s"TableLog: $table has no committed version")
    require(sinceVersion >= 0 && sinceVersion <= to,
      s"TableLog.readAppendsSince: sinceVersion $sinceVersion outside [0, $to]")
    val f = fs(spark, table)
    ((sinceVersion + 1) to to).foreach { v =>
      val a = readRaw(f, table, v, v).action // header-only check, O(1) per version
      if (a != "append") throw new IllegalStateException(
        s"TableLog.readAppendsSince: version $v of $table is '$a' — a " +
          s"non-append commit rewrote data files, so the file diff is not a " +
          s"row delta; re-read the snapshot at $v and resume from there")
    }
    val mTo = manifest(spark, table, Some(to))
    val baseFiles: Set[String] =
      if (sinceVersion == 0) Set.empty
      else manifest(spark, table, Some(sinceVersion)).files.toSet
    val lost = baseFiles -- mTo.files.toSet
    if (lost.nonEmpty) throw new IllegalStateException(
      s"TableLog.readAppendsSince: append-only range lost files ${lost.take(3)
        .mkString(", ")} — corrupt log")
    val newFiles = mTo.files.filterNot(baseFiles)
    require(mTo.files.nonEmpty, s"TableLog: version $to of $table is empty")
    if (newFiles.isEmpty)
      // schema-correct empty frame: one pinned file, filtered away
      reader(spark, mTo).parquet(new Path(table, mTo.files.head).toString)
        .filter(org.apache.spark.sql.functions.lit(false))
    else
      // files added inside an append-only range can carry no DV (DV
      // assignment is a 'delete' action, which the range check above
      // rejects) — readFiles is the uniform spelling regardless
      readFiles(spark, table, mTo, newFiles)
  }

  /** [[resume]]'s answer: either the incremental delta (append-only
    * range — apply it downstream and advance to `toVersion`), or a
    * full re-snapshot (a rewrite/expiry broke the incremental
    * contract — REBUILD downstream state from `snapshot`, then
    * continue from `version`). */
  sealed trait Resume { def toVersion: Long }
  final case class Continue(changes: DataFrame, toVersion: Long) extends Resume
  final case class ReSnapshot(snapshot: DataFrame, toVersion: Long) extends Resume

  /** PROGRAMMATIC RESUME across re-snapshot commits — the verb that
    * turns [[readAppendsSince]]'s loud rewrite/expiry failures into a
    * decision a nightly consumer can act on without manual checkpoint
    * surgery (the r14 gap: RESTORE/overwrite implied hand-rebuilding
    * every downstream):
    *
    *  - the (since, head] range is append-only → [[Continue]] with
    *    exactly the appended rows (what readAppendsSince serves);
    *  - the range contains ANY rewrite (overwrite / restore / compact
    *    / zorder / delete / merge / clone), or `sinceVersion` fell
    *    below the [[expireVersions]] floor → [[ReSnapshot]] with the
    *    pinned head read: replace downstream state wholesale, then
    *    resume incrementally from `toVersion`.
    *
    * The STREAMING two-phase recipe (spec-pinned in TableLogSpec):
    * when a TableLogSource query dies on the rewrite error, call
    * `resume(table, lastCheckpointedVersion)` — on ReSnapshot,
    * rebuild the sink from `snapshot` (idempotently: overwrite, or a
    * keyed merge) and restart the stream with a FRESH checkpoint and
    * `startingVersion = toVersion`. No rows lost (the snapshot IS the
    * head), none doubled (the new stream serves only commits after
    * it). Cost: O(new files) on the Continue arm, O(head snapshot)
    * on the ReSnapshot arm — the rewrite already paid that. */
  def resume(spark: SparkSession, table: String, sinceVersion: Long): Resume = {
    val head = headVersion(spark, table)
    require(head >= 1, s"TableLog: $table has no committed version")
    require(sinceVersion >= 0 && sinceVersion <= head,
      s"TableLog.resume: sinceVersion $sinceVersion outside [0, $head]")
    if (sinceVersion == head)
      return Continue(
        readAppendsSince(spark, table, head, Some(head)), head) // empty delta
    val f = fs(spark, table)
    val floor = math.max(1L, lowestVersion(f, table))
    // the base snapshot at sinceVersion must still RESOLVE (v0 is the
    // empty table — always resolvable when the whole log is retained)
    val baseRetained =
      if (sinceVersion == 0) floor == 1 else sinceVersion >= floor
    val appendOnly = baseRetained &&
      ((sinceVersion + 1) to head).forall(v =>
        readRaw(f, table, v, v).action == "append")
    if (appendOnly) Continue(readAppendsSince(spark, table, sinceVersion,
      Some(head)), head)
    else ReSnapshot(read(spark, table, Some(head)), head)
  }

  /** The file subset [[readWhere]] would scan, as (all, kept) —
    * test/audit surface (LayoutSpec-style asserts that a selective
    * predicate reads strictly fewer FILES, not just row groups). */
  def pruneFiles(spark: SparkSession, table: String,
                 predicate: org.apache.spark.sql.Column,
                 version: Option[Long] = None): (Seq[String], Seq[String]) = {
    val m = manifest(spark, table, version)
    (m.files, survivors(spark, table, m, predicate))
  }

  /** Resolve `predicate` against the table's schema (one footer read)
    * and run it through the OPTIMIZER — the user's Column carries
    * UnresolvedAttributes and the analyzer wraps its literals in
    * Casts; constant folding collapses them back to the
    * Literal-vs-AttributeReference shapes [[TableStats.mayContain]]
    * matches (and rewrites large INs to InSet, between to >=∧<=). A
    * predicate the optimizer eliminates entirely (lit(true)) or any
    * resolution surprise keeps every file — skipping is never
    * load-bearing. */
  private def survivors(spark: SparkSession, table: String, m: Manifest,
                        predicate: org.apache.spark.sql.Column): Seq[String] = {
    val probe = reader(spark, m).parquet(new Path(table, m.files.head).toString)
    val cond = probe.filter(predicate).queryExecution.optimizedPlan.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
    }
    cond match {
      case Some(expr) =>
        m.files.filter(rel =>
          m.stats.get(rel).forall(st => TableStats.mayContain(st, expr)))
      case None => m.files
    }
  }

  /** The table-wide [min, max] of `col` over the files that HAVE
    * committed stats for it, as typed JVM values (None when no file
    * does, or kinds clash). Files WITHOUT stats survive every prune,
    * so CLIPPING a change-key domain to this range is sound: a key
    * outside it can only match rows in stat-less files, and those
    * stay in any touch set regardless of the predicate. */
  private def statsKeyRange(m: Manifest, col: String): Option[(Any, Any)] = {
    val cs = m.files.flatMap(f => m.stats.get(f).flatMap(_.cols.get(col)))
    if (cs.isEmpty || cs.exists(_.kind != cs.head.kind)) None
    else {
      val kind = cs.head.kind
      val lo = cs.map(_.min).reduce((a, b) => if (TableStats.lte(kind, a, b)) a else b)
      val hi = cs.map(_.max).reduce((a, b) => if (TableStats.lte(kind, a, b)) b else a)
      def typed(s: String): Any = kind match {
        case 'l' => s.toLong
        case 'd' => s.toDouble
        case _ => s
      }
      Some((typed(lo), typed(hi)))
    }
  }

  // ----------------------------------------------------------------- writes

  /** Write `df` as new immutable data files; returns their
    * table-relative paths with footer-harvested stats. One spark
    * write plus one FOOTER read per new file (metadata-only I/O —
    * the Delta stats-at-commit pattern; no data rescan), no manifest
    * yet — the files are invisible until a commit publishes them. */
  private def writeData(df: DataFrame, table: String)
      : (Seq[String], Map[String, TableStats.FileStats]) = {
    val sub = s"data/c${java.util.UUID.randomUUID().toString.take(12)}"
    val dir = new Path(table, sub)
    df.write.parquet(dir.toString)
    val f = fs(df.sparkSession, table)
    val conf = df.sparkSession.sparkContext.hadoopConfiguration
    val rels = f.listStatus(dir).map(_.getPath.getName)
      .filter(n => n.startsWith("part-") && n.endsWith(".parquet"))
      .sorted.map(n => s"$sub/$n").toSeq
    // footer harvest runs on a bounded thread pool: each read is a
    // ~ms metadata round-trip, and a 10⁵-file commit (the manifest
    // ceiling probe's shape) must not serialize 10⁵ of them on the
    // driver (the Delta answer is distributing stats collection; a
    // pool is enough while manifests stay driver-sized — measured in
    // SCALING.md round 15). Output identical: the map is keyed,
    // order-free.
    val stats = {
      import scala.jdk.CollectionConverters._
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(16, Runtime.getRuntime.availableProcessors))
      try rels.map { rel =>
        rel -> pool.submit(new java.util.concurrent.Callable[Option[TableStats.FileStats]] {
          // a footer that fails to parse leaves the file stat-less
          // (never pruned, counted by a scan); a recorded `rows` must
          // be exact — detail and plans.MetadataCount return it
          def call(): Option[TableStats.FileStats] =
            try Some(TableStats.fromFooter(conf, new Path(table, rel)))
            catch { case scala.util.control.NonFatal(_) => None }
        })
      }.flatMap { case (rel, fut) => fut.get().map(rel -> _) }.toMap
      finally pool.shutdown()
    }
    // Zero-row part artifacts (empty write partitions) carry NO
    // column stats in their footers: committed, each one survives
    // every future manifest-stats prune conservatively — a table of
    // range appends measured 21 of 40 files "touched" by a
    // single-range predicate (1 real + 20 empties) before this drop.
    // Removed here, bytes included (they are this writer's own,
    // still-unpublished files); ONE is kept only when the whole
    // write is empty — empty appends/deletes still need a
    // schema-bearing file for the read invariants and commits that
    // exist only to carry the txns ledger.
    val empties = rels.filter(r => stats.get(r).exists(_.rows == 0))
    val dropped = if (empties.size == rels.size) empties.drop(1) else empties
    dropped.foreach(rel => f.delete(new Path(table, rel), false))
    val keep = rels.filterNot(dropped.toSet)
    (keep, stats.filter { case (k, _) => !dropped.contains(k) })
  }

  /** writeData keeps one schema-bearing empty file when a rewrite
    * produced no rows — needed only when NOTHING else survives: with
    * `carried` files beside it, the empty is dropped (bytes too, it
    * is this writer's own unpublished file). So a rewrite that
    * removes every row commits an empty-but-readable version, and one
    * that leaves rows elsewhere adds no empty file to future prunes. */
  private def dropEmptiesBeside(spark: SparkSession, table: String, carried: Seq[String],
                                written: (Seq[String], Map[String, TableStats.FileStats]))
      : (Seq[String], Map[String, TableStats.FileStats]) = {
    val (files, stats) = written
    val empties = files.filter(f => stats.get(f).exists(_.rows == 0))
    if (carried.isEmpty || empties.isEmpty) written
    else {
      empties.foreach(rel => fs(spark, table).delete(new Path(table, rel), false))
      (files.filterNot(empties.toSet), stats -- empties)
    }
  }

  /** Publish `m` as version `m.version` via the scheme's [[LogStore]].
    * True iff this writer won the version. */
  private def publishManifest(spark: SparkSession, table: String, m: Manifest,
                              kind: String): Boolean = {
    val f = fs(spark, table)
    f.mkdirs(new Path(table, LOG_DIR))
    val dst = f.makeQualified(manifestPath(table, m.version))
    val won = LogStore.forPath(dst).putIfAbsent(f, dst,
      manifestBody(m, kind).getBytes(StandardCharsets.UTF_8))
    if (won) writeHint(f, table, m.version)
    won
  }

  /** After winning delta commit `d` on top of `prev`: write the
    * full-snapshot checkpoint when the delta tail is due. The new
    * snapshot is assembled in memory from what the commit already
    * held — no re-read; a delta never changes deletion vectors. */
  private def maybeCheckpoint(spark: SparkSession, table: String,
                              prev: Option[Resolved], d: Manifest): Unit =
    if (prev.map(_.chain).getOrElse(0) + 1 >= CHECKPOINT_EVERY) {
      val pm = prev.map(_.m)
      writeCheckpoint(fs(spark, table), table,
        d.copy(files = pm.map(_.files).getOrElse(Seq.empty) ++ d.files,
          stats = pm.map(_.stats).getOrElse(Map.empty) ++ d.stats,
          dvs = pm.map(_.dvs).getOrElse(Map.empty)))
    }

  /** One attempt of a write verb, answered against the head it was
    * handed ([[commitLoop]]). */
  private sealed trait Attempt

  /** Done without publishing: a no-op (the head `version`) or a
    * replayed streaming batch (None). */
  private final case class Finished(version: Option[Long]) extends Attempt

  /** Publish the head's successor. `kind = "delta"` lists only the
    * files it ADDS on top of the head (appends and header-only
    * commits: O(Δ) bytes); `"full"` is a whole snapshot (rewrites —
    * O(the files they wrote), doubling as a checkpoint). */
  private final case class Publish(kind: String, action: String, files: Seq[String],
                                   txns: Map[String, Long],
                                   stats: Map[String, TableStats.FileStats],
                                   schema: Option[StructType],
                                   constraints: Map[String, String],
                                   dvs: Map[String, DvRef] = Map.empty) extends Attempt

  /** Lost publish races a write verb retries before it fails. */
  private val MaxRetries = 10

  /** THE optimistic commit loop every write verb runs: each pass
    * re-resolves the head and runs the verb's `attempt` on it. A
    * [[Finished]] answer returns; a [[Publish]] goes out as version
    * head+1 — a won delta runs [[maybeCheckpoint]], a lost publish
    * re-resolves and re-runs the attempt (appends re-base their
    * already-written files; rewrites re-read and REWRITE, because a
    * racing commit may have added rows they must see — the loser's
    * files become vacuum-able orphans). Returns the committed (or
    * finished) version. */
  private def commitLoop(spark: SparkSession, table: String, verb: String)(
      attempt: Option[Resolved] => Attempt): Option[Long] = {
    var tries = 0
    while (tries <= MaxRetries) {
      val head = headResolved(spark, table)
      attempt(head) match {
        case Finished(v) => return v
        case p: Publish =>
          val base = head.map(_.m.version).getOrElse(0L)
          val next = Manifest(base + 1, base, p.action, p.files, p.txns, p.stats,
            p.schema, p.dvs, p.constraints)
          if (publishManifest(spark, table, next, p.kind)) {
            if (p.kind == "delta") maybeCheckpoint(spark, table, head, next)
            return Some(next.version)
          }
      }
      tries += 1
    }
    throw new IllegalStateException(
      s"TableLog.$verb: lost the publish race $MaxRetries times on $table")
  }

  /** [[commitLoop]] for the verbs that need an existing table: the
    * attempt gets the head snapshot, and an empty table throws. */
  private def commitOnHead(spark: SparkSession, table: String, verb: String)(
      attempt: Manifest => Attempt): Long =
    commitLoop(spark, table, verb) { r =>
      require(r.nonEmpty, s"TableLog.$verb: $table has no committed version")
      attempt(r.get.m)
    }.get

  /** The head snapshot (+ delta-tail length), or None on an empty table. */
  private def headResolved(spark: SparkSession, table: String): Option[Resolved] = {
    val v = headVersion(spark, table)
    if (v == 0) None else Some(resolve(spark, table, v))
  }

  /** Deep-nullability-normalized schema: every field nullable, every
    * array/map element containsNull — the form the log commits, so
    * reads never claim non-null for data they null-filled (top-level
    * via evolution, nested via a later writer whose elements DO
    * contain nulls). */
  private def deepNullable(st: StructType): StructType =
    normType(st).asInstanceOf[StructType]

  /** Nullability-normalized type for compatibility comparison: a
    * writer whose array<float> says containsNull=false is NOT a type
    * change against a stored containsNull=true (nullability is a
    * property of the data seen so far, not of the type) — only real
    * shape/type differences reject. */
  private def normType(dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = dt match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = normType(f.dataType), nullable = true)))
    case a: org.apache.spark.sql.types.ArrayType =>
      org.apache.spark.sql.types.ArrayType(normType(a.elementType), true)
    case m: org.apache.spark.sql.types.MapType =>
      org.apache.spark.sql.types.MapType(
        normType(m.keyType), normType(m.valueType), true)
    case other => other
  }

  /** The schema a commit of `df` onto `head` publishes — the Delta
    * enforcement rule: a TYPE change on an existing column always
    * throws; NEW columns throw unless `evolve` (then they append to
    * the stored schema — old files null-fill at read); MISSING
    * columns are fine (the committed schema fills them with null).
    * Columns resolve against the stored schema the way Spark resolves
    * references — case-insensitively unless `spark.sql.caseSensitive`
    * — so a writer sending `ID` against stored `id` is the SAME
    * column, never a second one that would make every later reference
    * ambiguous. A legacy head (pre-schema manifest) skips enforcement
    * and stays legacy — upgrading it would apply a guessed schema to
    * files this code never saw. */
  private def commitSchema(spark: SparkSession, head: Option[Manifest],
                           df: DataFrame, evolve: Boolean, op: String,
                           evolveFlag: String = "evolve = true"): Option[StructType] =
    head match {
      case None => Some(deepNullable(df.schema)) // first commit defines the table
      case Some(m) => m.schema match {
        case None => None // legacy table: no enforcement, no upgrade
        case Some(st) =>
          val caseSensitive =
            spark.conf.get("spark.sql.caseSensitive", "false").toBoolean
          def key(n: String) = if (caseSensitive) n else n.toLowerCase(Locale.ROOT)
          val stored = st.fields.map(f => key(f.name) -> normType(f.dataType)).toMap
          val clash = df.schema.fields.filter(f =>
            stored.get(key(f.name)).exists(_ != normType(f.dataType)))
          if (clash.nonEmpty) throw new IllegalArgumentException(
            s"TableLog.$op: column type change is not allowed on $op — " +
              clash.map(f => s"${f.name}: ${stored(key(f.name)).simpleString} -> " +
                f.dataType.simpleString).mkString(", "))
          val added = df.schema.fields.filter(f => !stored.contains(key(f.name)))
          if (added.isEmpty) Some(st)
          else if (evolve)
            Some(StructType(st.fields ++ added.map(f =>
              StructField(f.name, normType(f.dataType), nullable = true))))
          else throw new IllegalArgumentException(
            s"TableLog.$op: incoming columns ${added.map(_.name).mkString(", ")} " +
              s"are not in the table schema — pass $evolveFlag to accept them")
      }
    }

  /** Append `df` as a new version — a DELTA commit: the manifest
    * lists only the added files, O(Δ) bytes. Optimistic: on losing
    * the publish race the ALREADY-WRITTEN data files are re-based
    * onto the new head (no data rewrite — appends always merge) and
    * the commit retries, up to `MaxRetries` times. Schema is ENFORCED
    * against the table's committed one ([[commitSchema]]): type
    * changes throw, new columns throw unless `evolve = true` (then
    * the stored schema widens and every older file null-fills them at
    * read). Returns the committed version. */
  def append(df: DataFrame, table: String, evolve: Boolean = false): Long =
    appendFiles(df, table, "append", evolve, txn = None).get

  /** EXACTLY-ONCE streaming append — the foreachBatch face of the
    * log (use via [[exactlyOnceSink]]): each commit records the
    * writer's (appId → batchId) in the manifest's `txns` ledger, and
    * a micro-batch at or below the ledger's last committed id
    * publishes NOTHING (returns None) — so Spark's at-least-once
    * foreachBatch replays (failure after the table commit but before
    * the checkpoint advances) cannot duplicate rows. The ledger is
    * one entry per distinct writer, carried forward by every commit;
    * batch data written before a replay is detected becomes a
    * vacuum-able orphan. `appId` must be stable across restarts (use
    * the streaming query's id, a UUID) and contain no ` ;:`. */
  def appendStreamBatch(df: DataFrame, table: String, appId: String,
                        batchId: Long): Option[Long] = {
    require(appId.nonEmpty && !appId.exists(c => c == ' ' || c == ';' || c == ':'),
      s"appendStreamBatch: appId must be non-empty without ' ;:', got '$appId'")
    appendFiles(df, table, "appendStreamBatch", evolve = false,
      txn = Some(appId -> batchId))
  }

  /** True when `txn`'s batch is at or below its writer's ledger entry
    * in `m` — a replayed micro-batch. */
  private def replayed(m: Option[Manifest], txn: Option[(String, Long)]): Boolean =
    txn.exists { case (a, b) => m.exists(_.txns.getOrElse(a, -1L) >= b) }

  /** The one append body behind [[append]] and [[appendStreamBatch]]
    * (`txn` = the streaming ledger entry, checked before paying the
    * data write and again on every attempt — a racing replay of the
    * same batch wins nothing twice). The data is written ONCE; each
    * attempt re-derives the schema (a racing writer may have evolved
    * the table) and re-bases the written files onto the head. */
  private def appendFiles(df: DataFrame, table: String, verb: String,
                          evolve: Boolean, txn: Option[(String, Long)]): Option[Long] = {
    val spark = df.sparkSession
    if (txn.nonEmpty && replayed(headResolved(spark, table).map(_.m), txn)) return None
    val (newFiles, newStats) = writeData(df, table)
    val enforce = constraintsOnWritten(spark, table, newFiles, df.schema, verb)
    commitLoop(spark, table, verb) { r =>
      val m = r.map(_.m)
      if (replayed(m, txn)) Finished(None) // raced replay
      else {
        val schema = commitSchema(spark, m, df, evolve, verb)
        enforce(m)
        Publish("delta", "append", newFiles,
          m.map(_.txns).getOrElse(Map.empty[String, Long]) ++ txn, newStats, schema,
          m.map(_.constraints).getOrElse(Map.empty))
      }
    }
  }

  /** CHECK enforcement on a commit's freshly written `files`
    * ([[enforceConstraintsOnFiles]] — checked rows ARE the committed
    * rows), memoized on the constraint set: the returned check runs
    * once per attempt's head and re-reads the files only when a racing
    * addConstraint/dropConstraint changed the set. */
  private def constraintsOnWritten(spark: SparkSession, table: String, files: Seq[String],
                                   written: StructType, verb: String)
      : Option[Manifest] => Unit = {
    var enforced: Option[Map[String, String]] = None
    m => {
      val cs = m.map(_.constraints).getOrElse(Map.empty[String, String])
      if (!enforced.contains(cs)) {
        enforceConstraintsOnFiles(spark, table, files, written, cs, verb,
          m.flatMap(_.schema))
        enforced = Some(cs)
      }
    }
  }

  /** Replace the table's contents as a new version (the reader-safe
    * spelling of the reference's rewrite — old versions stay
    * readable). The committed schema is ENFORCED like any commit —
    * type changes and new columns throw — unless `overwriteSchema =
    * true` REPLACES it with the frame's (Delta's overwriteSchema
    * flag: one accidental overwrite with a drifted frame must not
    * silently rewrite the table contract for every downstream
    * reader). Pinned readers below keep the old schema either way. */
  def overwrite(df: DataFrame, table: String,
                overwriteSchema: Boolean = false): Long = {
    val spark = df.sparkSession
    // the replacement contents must satisfy the standing contract
    // (constraints survive overwrite like the schema does; an
    // overwriteSchema frame that cannot evaluate them fails loudly
    // in analysis — never a silent drop)
    val (newFiles, newStats) = writeData(df, table)
    val enforce = constraintsOnWritten(spark, table, newFiles, df.schema, "overwrite")
    commitLoop(spark, table, "overwrite") { r =>
      val m = r.map(_.m)
      val schema =
        if (overwriteSchema) Some(deepNullable(df.schema))
        else commitSchema(spark, m, df, evolve = false, "overwrite",
          evolveFlag = "overwriteSchema = true")
      val cs = m.map(_.constraints).getOrElse(Map.empty[String, String])
      // overwriteSchema may not drop a column a standing CHECK
      // constraint references (round 16, r15 ADVICE): the null-fill
      // alignment would evaluate the constraint UNKNOWN (= pass)
      // against the old schema, silently stranding a constraint that
      // every later append then fails to RESOLVE. Delta blocks
      // dropping constraint-referenced columns; so do we.
      if (overwriteSchema) {
        val have = df.schema.fieldNames
          .map(_.toLowerCase(Locale.ROOT)).toSet
        cs.foreach { case (n, e) =>
          val missing = spark.sessionState.sqlParser.parseExpression(e)
            .collect {
              case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
                a.nameParts.head
            }
            .filterNot(r => have.contains(r.toLowerCase(Locale.ROOT)))
            .distinct
          require(missing.isEmpty,
            s"TableLog.overwrite: overwriteSchema drops column(s) " +
              s"${missing.mkString(", ")} referenced by CHECK constraint " +
              s"'$n' ($e) on $table — dropConstraint first")
        }
      }
      enforce(m)
      Publish("full", "overwrite", newFiles, m.map(_.txns).getOrElse(Map.empty),
        newStats, schema.orElse(Some(deepNullable(df.schema))), cs)
    }.get
  }

  /** OPTIMIZE — rewrite data files as a NEW version; rows identical,
    * readers pinned at older versions keep their exact old file sets,
    * and the rewrite MATERIALIZES the touched files' deletion vectors
    * (it reads DV-applied rows). The one compaction entry point:
    *
    *  - `where` None compacts every file (the small-files pass); a
    *    predicate scopes it to the files that might hold matching rows
    *    — the same stats-pruned touch set delete/merge use (Delta's
    *    `OPTIMIZE … WHERE`: the nightly pass compacts the day's hot
    *    key range, and a scoped DV materializer — untouched files carry
    *    BY IDENTITY, stats and DVs included). An empty touch set is a
    *    metadata no-op returning the head;
    *  - `zorder` empty coalesces the touched rows into `numFiles`
    *    files ('compact'); non-empty CLUSTERS them on the Z-order curve
    *    of those integer grid columns ([[graft.ops.Layout.clusterZOrderedN]]
    *    — one spelling with the bare-directory writer; a single column
    *    is a plain cluster-by-it) so every file's parquet min/max stats
    *    are tight on EVERY dimension and box predicates prune at the
    *    footer ('zorder').
    *
    * Content preserved by contract, so the CDF's compact-is-zero-
    * changes rule holds. A lost race re-reads the new head and
    * REWRITES (rebase is unsound for a rewrite). */
  def compact(spark: SparkSession, table: String, numFiles: Int = 1,
              where: Option[org.apache.spark.sql.Column] = None,
              zorder: Seq[String] = Seq.empty): Long = {
    require(numFiles >= 1, s"compact: numFiles must be >= 1, got $numFiles")
    compactTouched(spark, table, "compact",
      m => where.fold(m.files)(survivors(spark, table, m, _)), numFiles, zorder)
  }

  /** AUTO-COMPACT: fold the table's SMALL data files (physical length
    * < `smallBytes`) into `numFiles`, carrying every adequately-sized
    * file BY IDENTITY — Delta's autoCompact policy as an explicit
    * verb. Fewer than `minSmallFiles` small files is a metadata NO-OP
    * (returns the head version unchanged), so the verb is cheap to
    * call after every append; [[appendAuto]] is exactly that policy
    * wrapper, the answer to the streaming/nightly small-append drip
    * that otherwise turns a 100 TB table into millions of KB-sized
    * files. Detection reads ONE FileStatus per file (driver metadata
    * I/O — the DESCRIBE DETAIL cost); touched files' deletion vectors
    * materialize through the rewrite like any OPTIMIZE. */
  def compactSmallFiles(spark: SparkSession, table: String,
                        smallBytes: Long = 8L << 20, minSmallFiles: Int = 4,
                        numFiles: Int = 1): Long = {
    require(numFiles >= 1, s"compactSmallFiles: numFiles must be >= 1, got $numFiles")
    require(minSmallFiles >= 2,
      s"compactSmallFiles: folding fewer than 2 files is never useful, got $minSmallFiles")
    compactTouched(spark, table, "compactSmallFiles",
      m => {
        val f = fs(spark, table)
        val small = m.files.filter { rel =>
          (try f.getFileStatus(new Path(table, rel)).getLen
           catch { case scala.util.control.NonFatal(_) => Long.MaxValue }) < smallBytes
        }
        if (small.length >= minSmallFiles) small else Seq.empty
      },
      numFiles, Seq.empty)
  }

  /** [[append]] + [[compactSmallFiles]] under one call — the
    * auto-compacting writer. Returns the newest version (the compact
    * commit when it fired, the append otherwise). Two separate
    * commits by design (Delta's autoCompact shape): readers pinned
    * between them see the appended-but-unfolded state, incremental
    * consumers see one append then one rewrite. */
  def appendAuto(df: DataFrame, table: String,
                 smallBytes: Long = 8L << 20, minSmallFiles: Int = 4,
                 numFiles: Int = 1): Long = {
    val v = append(df, table)
    math.max(v, compactSmallFiles(df.sparkSession, table, smallBytes,
      minSmallFiles, numFiles))
  }

  /** The rewrite behind [[compact]] and [[compactSmallFiles]]: rewrite
    * exactly `select(m)`'s files, carry the rest by identity (stats
    * and DVs included), publish as one 'compact'/'zorder' version;
    * empty selection = metadata no-op. A rewrite of EVERY file
    * replaces the table with files this code wrote, so it commits the
    * rewrite's schema — which upgrades legacy (pre-schema) tables as
    * a side effect; a scoped one keeps the head's. */
  private def compactTouched(spark: SparkSession, table: String,
                             verb: String, select: Manifest => Seq[String],
                             numFiles: Int, zorder: Seq[String]): Long =
    commitOnHead(spark, table, verb) { m =>
      val touched = select(m)
      if (touched.isEmpty) Finished(Some(m.version)) // nothing to optimize
      else {
        val keptSet = m.files.toSet -- touched
        val kept = m.files.filter(keptSet)
        val scoped = readFiles(spark, table, m, touched) // DVs materialize
        val rewritten =
          if (zorder.isEmpty) scoped.coalesce(numFiles)
          // the N-dim interleaver needs ≥ 2 dims; ZORDER BY (c) is a
          // plain cluster-by-c, which interleaving (c, c) reproduces
          else graft.ops.Layout.clusterZOrderedN(scoped,
            if (zorder.size == 1) zorder ++ zorder else zorder, numFiles)
        val (newFiles, newStats) =
          dropEmptiesBeside(spark, table, kept, writeData(rewritten, table))
        Publish("full", if (zorder.isEmpty) "compact" else "zorder", kept ++ newFiles,
          m.txns, m.stats.filter { case (k, _) => keptSet(k) } ++ newStats,
          if (kept.isEmpty) Some(deepNullable(rewritten.schema)) else m.schema,
          m.constraints, m.dvs.filter { case (k, _) => keptSet(k) })
      }
    }

  /** DESCRIBE DETAIL — one row of table-level metadata served from
    * the manifest (+ one FileStatus per file for bytes): (version,
    * action, n_files, total_bytes, n_rows, n_dv_files, dv_rows,
    * n_columns, n_constraints). n_rows is exact when every file has stats (DV
    * cardinalities subtracted), −1 otherwise — never guessed from
    * data reads ([[exactRows]], the count MetadataCount serves). */
  def detail(spark: SparkSession, table: String,
             version: Option[Long] = None): DataFrame = {
    val m = manifest(spark, table, version)
    val f = fs(spark, table)
    val bytes = m.files.map(rel =>
      try f.getFileStatus(new Path(table, rel)).getLen
      catch { case scala.util.control.NonFatal(_) => 0L }).sum
    val rows = exactRows(m, m.files).getOrElse(-1L)
    val nCols = m.schema.map(_.fields.length).getOrElse(-1)
    import spark.implicits._
    Seq((m.version, m.action, m.files.length.toLong, bytes, rows,
        m.dvs.size.toLong, m.dvs.valuesIterator.map(_.card).sum, nCols,
        m.constraints.size.toLong))
      .toDF("version", "action", "n_files", "total_bytes", "n_rows",
        "n_dv_files", "dv_rows", "n_columns", "n_constraints")
  }

  /** The writeStream sink: `.foreachBatch(TableLog.exactlyOnceSink(table, appId))`. */
  def exactlyOnceSink(table: String, appId: String): (DataFrame, Long) => Unit =
    (df, batchId) => { appendStreamBatch(df, table, appId, batchId); () }

  /** Key-deduped MERGE of `fresh` into the table as a new version —
    * the table-level face of [[graft.ops.Merge.mergeByKey]] (existing
    * rows win; the reference's read-merge-rewrite made safe: the
    * merge result publishes atomically, concurrent committers retry
    * against the new head instead of silently losing each other's
    * rows). Read-modify-write like compact: a lost race re-reads and
    * re-merges. NOTE this verb rewrites the WHOLE table (O(table) per
    * apply — fine for small dims, wrong for a nightly CDC batch into
    * a big table): [[merge]] below is the O(touched files) MERGE INTO
    * with source-wins changelog semantics and a stats-pruned touch
    * set — prefer it whenever the keys are range-clustered. */
  def upsert(fresh: DataFrame, table: String, keys: Seq[String]): Long = {
    val spark = fresh.sparkSession
    commitLoop(spark, table, "upsert") { r =>
      val m = r.map(_.m)
      // strict enforcement on the INCOMING side (merge never evolves);
      // the commit carries the enforced table schema through
      val schema = commitSchema(spark, m, fresh, evolve = false, "upsert")
      val merged = m.fold(fresh)(h =>
        graft.ops.Merge.mergeByKey(read(spark, table, Some(h.version)), fresh, keys))
      val cs = m.map(_.constraints).getOrElse(Map.empty[String, String])
      // the INCOMING-side strict contract stays a pre-check: mergeByKey
      // is existing-rows-win, so a violating incoming row can be
      // DISCARDED by the merge — the contract (ConstraintsSpec) rejects
      // it anyway. The written-files check below adds the
      // non-determinism soundness net over what actually commits.
      enforceConstraints(fresh, cs, "upsert", table, m.flatMap(_.schema))
      val (newFiles, newStats) = writeData(merged, table)
      enforceConstraintsOnFiles(spark, table, newFiles, merged.schema, cs, "upsert",
        m.flatMap(_.schema))
      Publish("full", "merge", newFiles, m.map(_.txns).getOrElse(Map.empty), newStats,
        schema.orElse(Some(deepNullable(merged.schema))), cs)
    }.get
  }

  /** When the changes' distinct non-null keys number at most this,
    * the touch-set predicate is the exact IN set (pruning per key);
    * above it, the [min, max] envelope — two scalars, key-count
    * independent. 1024 keeps the predicate driver-sized while an IN
    * set still beats an envelope for scattered nightly keys. */
  val MERGE_KEY_INLINE_CAP = 1024

  /** MERGE INTO (copy-on-write, changelog semantics — the Delta
    * MERGE verb, completing the DML triad append/delete/merge):
    * fold `changes` — (keyCol, seqCol, opCol, payload…) rows with op
    * ∈ {'I','U','D'}, [[graft.ops.Cdc.applyChangelog]]'s exact
    * semantics (latest seq per key wins; 'D' deletes the key;
    * 'U'/'I' both upsert, so an update to a missing key inserts —
    * idempotent replay over a compacted log) — into the table as ONE
    * atomic 'merge' version, touching only the files that might hold
    * a change key.
    *
    * Scale shape (the q195 delete machinery pointed at the verb a
    * real 100 TB user runs nightly — the CDC apply): the change-key
    * DOMAIN reduces to a pruning predicate (the exact IN set up to
    * [[MERGE_KEY_INLINE_CAP]] distinct keys, else the [min,max]
    * envelope) and the same optimizer-resolved manifest-stats
    * evaluator the read side uses decides the TOUCH SET — files
    * whose committed stats prove no change key can live there carry
    * into the new version UNTOUCHED (not read, not rewritten, zero
    * new bytes). Because an untouched file provably holds no change
    * key, every table row a change can match lives in a touched
    * file — so ONE [[graft.ops.Cdc.applyChangelog]] pass over
    * (touched rows ⟗ changes) yields the rewritten rows AND the
    * inserts (the full-outer join's unmatched change side), and the
    * whole apply costs O(touched files + changes), never O(table) —
    * the O(table) full-outer join `upsert`/`ops.Cdc` standalone pay
    * is gone. A merge whose keys prune EVERY file is a pure insert
    * (no table file read); one that also folds to zero surviving
    * rows is a metadata NO-OP (nothing written, head returned); one
    * that deletes every row commits an empty-but-readable version,
    * like [[delete]].
    * Like [[delete]], the untouched-file carry makes
    * [[TableStats.mayContain]] soundness load-bearing (fuzzed in
    * PropertySpec for both verbs).
    *
    * Null keys: the changelog FOLD treats null as one key (latest
    * seq wins, like any key), but the apply matches NO table row
    * (null ≠ null in the join — SQL MERGE semantics): a folded
    * 'U'/'I' inserts one null-key row, a folded 'D' is a no-op, and
    * existing null-key table rows always carry through. Schema is ENFORCED, never evolved: `changes` must hold
    * exactly keyCol + seqCol + opCol + the table's payload columns,
    * type-compatible with the committed schema. Commits as a REWRITE
    * action ('merge'): incremental readers and the streaming source
    * fail loudly across it; [[readChanges]] serves its ±rows (an
    * update = −preimage +postimage) at O(touched). A lost publish
    * race re-resolves and re-merges (rebase is unsound — the racing
    * commit may have added matching rows); `changes` is eagerly
    * localCheckpoint'd once, so retries and the key probe never
    * recompute a caller's expensive changelog plan.
    *
    * Reference anchor: the skip-if-exists-else-insert loop in
    * review-crawler/restaurant_save.py:77-130 IS this merge, one row
    * at a time. */
  def merge(spark: SparkSession, table: String, changes: DataFrame,
            keyCol: String, seqCol: String, opCol: String): Long =
    mergeImpl(spark, table, changes, keyCol, seqCol, opCol, txn = None).get

  /** EXACTLY-ONCE STREAMING MERGE — [[merge]]'s foreachBatch face
    * (use via [[upsertSink]]), completing the streaming-hop triad:
    * appendStreamBatch lands append-only hops, this lands UPSERT hops
    * (the Delta foreachBatch-merge pattern — a CDC stream maintaining
    * a serving table). Each commit records (appId → batchId) in the
    * same `txns` ledger; a replayed micro-batch (failure after the
    * table commit, before the checkpoint advances) publishes NOTHING
    * and returns None — replay-idempotent even though a re-run merge
    * over already-applied changes would usually be a visible no-op,
    * because 'D'-then-restart interleavings are NOT idempotent
    * without the ledger. A batch whose changes are a stats-provable
    * no-op still publishes a txns-only DELTA commit (zero files —
    * the ledger must advance or the replay check never clears); when
    * none of its changes upserts, no data file is written for it. */
  def mergeStreamBatch(spark: SparkSession, table: String, changes: DataFrame,
                       keyCol: String, seqCol: String, opCol: String,
                       appId: String, batchId: Long): Option[Long] = {
    require(appId.nonEmpty && !appId.exists(c => c == ' ' || c == ';' || c == ':'),
      s"mergeStreamBatch: appId must be non-empty without ' ;:', got '$appId'")
    // cheap ledger check before paying the changelog localCheckpoint
    val txn = Some(appId -> batchId)
    if (replayed(headResolved(spark, table).map(_.m), txn)) return None
    mergeImpl(spark, table, changes, keyCol, seqCol, opCol, txn)
  }

  /** The writeStream sink for a CDC-shaped stream — each micro-batch
    * of (keyCol, seqCol, opCol, payload…) rows MERGEs into `table`
    * exactly once: `.foreachBatch(TableLog.upsertSink(table, appId,
    * "k", "seq", "op"))`. */
  def upsertSink(table: String, appId: String, keyCol: String,
                 seqCol: String, opCol: String): (DataFrame, Long) => Unit =
    (df, batchId) => {
      mergeStreamBatch(df.sparkSession, table, df, keyCol, seqCol, opCol,
        appId, batchId)
      ()
    }

  /** The merge body behind [[merge]] and [[mergeStreamBatch]] (`txn`
    * = the streaming ledger entry). The changelog is pinned and its
    * key domain probed once, on the first attempt that merges into an
    * existing head (a stream's bootstrap attempt needs neither). */
  private def mergeImpl(spark: SparkSession, table: String, changes: DataFrame,
                        keyCol: String, seqCol: String, opCol: String,
                        txn: Option[(String, Long)]): Option[Long] = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, max, min}
    lazy val ch = changes.localCheckpoint(true)
    // ONE probe of the changelog: its distinct keys (null too), each
    // with whether any of its changes is not a 'D' (an upsert)
    lazy val probe = ch.groupBy(col(keyCol))
      .agg(max(coalesce(col(opCol) =!= lit("D"), lit(true))))
      .limit(MERGE_KEY_INLINE_CAP + 2).collect()
    // the change-key domain as a pruning predicate; empty = no non-null
    // keys exist, so nothing in the table can match any change
    lazy val someKeys = probe.map(_.get(0)).filter(_ != null).toSeq
    // every key was probed and none upserts: the fold inserts no row
    lazy val deletesOnly =
      probe.length <= MERGE_KEY_INLINE_CAP + 1 && probe.forall(!_.getBoolean(1))
    /** The TOUCH SET for snapshot `m`. Above the inline cap the
      * domain is first CLIPPED to the table's committed key range
      * ([[statsKeyRange]]): the canonical nightly CDC batch is
      * scattered updates on old keys PLUS inserts at fresh
      * monotonically-high keys, and without clipping the insert tail
      * widens the [min,max] envelope over the whole table — an
      * O(table) rewrite in disguise. Clipped keys that fit the cap
      * become the exact IN set again; a genuinely table-spanning
      * update set falls to the clipped envelope (and the cliff is
      * logged). When NO key lies inside the committed range, the
      * touch set is exactly the files WITHOUT usable key stats (each
      * statted file's range ⊆ [lo, hi], so an out-of-range key cannot
      * match it) — an envelope over the raw keys would straddle
      * [lo, hi] whenever keys sit on both sides and cover the whole
      * table (r15 review finding). Clipping is sound because an
      * out-of-range key can only match rows in stat-less files, which
      * this returns (and which survive every predicate prune). */
    def touchSetFor(m: Manifest): Seq[String] =
      if (someKeys.isEmpty) Seq.empty
      else if (someKeys.length <= MERGE_KEY_INLINE_CAP)
        survivors(spark, table, m, col(keyCol).isin(someKeys: _*))
      else statsKeyRange(m, keyCol) match {
        case None =>
          // no usable key stats anywhere: every file survives any
          // predicate, so the envelope is as good as it gets
          val r = ch.where(col(keyCol).isNotNull)
            .agg(min(col(keyCol)), max(col(keyCol))).head
          survivors(spark, table, m,
            col(keyCol) >= lit(r.get(0)) && col(keyCol) <= lit(r.get(1)))
        case Some((lo, hi)) =>
          val bounds = col(keyCol).isNotNull &&
            col(keyCol) >= lit(lo) && col(keyCol) <= lit(hi)
          val clipped = ch.select(col(keyCol)).where(bounds)
            .distinct().limit(MERGE_KEY_INLINE_CAP + 1).collect()
            .map(_.get(0)).toSeq
          if (clipped.isEmpty)
            m.files.filter(f => !m.stats.get(f).exists(_.cols.contains(keyCol)))
          else if (clipped.length <= MERGE_KEY_INLINE_CAP)
            survivors(spark, table, m, col(keyCol).isin(clipped: _*))
          else {
            val r = ch.where(bounds).agg(min(col(keyCol)), max(col(keyCol))).head
            survivors(spark, table, m,
              col(keyCol) >= lit(r.get(0)) && col(keyCol) <= lit(r.get(1)))
          }
      }
    commitLoop(spark, table, "merge") {
      case None =>
        require(txn.nonEmpty,
          s"TableLog.merge: $table has no committed version — append the " +
            s"initial contents first (MERGE needs an existing target)")
        // BOOTSTRAP: the stream's first batch creates the serving table
        // from the changelog's own fold (the Delta foreachBatch-merge
        // recipe's create-if-absent step, done transactionally: a
        // racing writer's v1 wins the publish and the next attempt
        // takes the normal merge path on its head)
        val payload = changes.columns.toSeq
          .filterNot(c => c == keyCol || c == seqCol || c == opCol)
        val empty = changes.select((col(keyCol) +: payload.map(col)).toIndexedSeq: _*)
          .filter(lit(false))
        val applied = graft.ops.Cdc.applyChangelog(
          empty, changes, keyCol, seqCol, opCol, payload)
        val (newFiles, newStats) = writeData(applied, table)
        Publish("full", "merge", newFiles, txn.toMap, newStats,
          Some(deepNullable(applied.schema)), Map.empty)
      case Some(res) =>
        val m = res.m
        if (replayed(Some(m), txn)) Finished(None) // raced replay of this batch
        else {
          val tableSchema =
            m.schema.getOrElse(read(spark, table, Some(m.version)).schema)
          require(tableSchema.fieldNames.contains(keyCol),
            s"TableLog.merge: key column '$keyCol' is not in the table schema " +
              s"(${tableSchema.fieldNames.mkString(", ")})")
          val payloadCols = tableSchema.fieldNames.toSeq.filterNot(_ == keyCol)
          val expectedCols = (Seq(keyCol, seqCol, opCol) ++ payloadCols).toSet
          require(ch.columns.toSet == expectedCols,
            s"TableLog.merge: changes must carry exactly key+seq+op+payload " +
              s"(${expectedCols.toSeq.sorted.mkString(", ")}); got " +
              s"(${ch.columns.sorted.mkString(", ")}) — merge never evolves " +
              s"the schema")
          // type enforcement against the committed schema (merge never
          // evolves; a racing evolution re-checks on retry)
          commitSchema(spark, Some(m),
            ch.select((col(keyCol) +: payloadCols.map(col)).toIndexedSeq: _*),
            evolve = false, "merge")
          val touched = touchSetFor(m)
          if (touched.size == m.files.size && m.files.size > 8)
            System.err.println(s"TableLog.merge: WARN the touch predicate covers " +
              s"every file of $table (${m.files.size}) — this apply is an " +
              s"O(table) rewrite; cluster the table on '$keyCol' " +
              s"(compact with zorder) or split the changelog by key range")
          val keptSet = m.files.toSet -- touched
          val kept = m.files.filter(keptSet)
          val base: DataFrame =
            if (touched.isEmpty)
              // schema-correct EMPTY snapshot side: stats prove no table
              // row can match, so the apply reduces to the insert arm
              reader(spark, m).parquet(new Path(table, m.files.head).toString)
                .filter(lit(false))
            else readFiles(spark, table, m, touched) // DV-applied preimages
          val applied = graft.ops.Cdc.applyChangelog(
              base, ch, keyCol, seqCol, opCol, payloadCols)
            .select(tableSchema.fieldNames.map(col).toIndexedSeq: _*)
          val written =
            // stats prove no table row matches and no change upserts:
            // the apply has no row, so skip writing (and dropping) an empty file
            if (touched.isEmpty && deletesOnly)
              (Seq.empty[String], Map.empty[String, TableStats.FileStats])
            else writeData(applied, table)
          // post-apply rows must satisfy the contract (carried rows pass
          // by induction; the scan is touched-sized) — checked against
          // the WRITTEN files, the enforceConstraintsOnFiles contract
          enforceConstraintsOnFiles(spark, table, written._1, applied.schema,
            m.constraints, "merge", None)
          // a changelog that removes every row commits an empty-but-
          // readable version, exactly like [[delete]]
          val (newFiles, newStats) = dropEmptiesBeside(spark, table, kept, written)
          if (touched.isEmpty && newFiles.isEmpty) txn match {
            case None => Finished(Some(m.version)) // zero matches/inserts: no-op
            case Some(t) =>
              // a streaming batch must still ADVANCE the ledger, else the
              // replay check never clears — a txns-only delta commit
              // (zero files, action append: incremental consumers see an
              // empty append, never a rewrite; a run of such batches
              // still checkpoints — the delta's maybeCheckpoint)
              Publish("delta", "append", Seq.empty, m.txns + t, Map.empty,
                m.schema, m.constraints)
          } else
            Publish("full", "merge", kept ++ newFiles, m.txns ++ txn,
              m.stats.filter { case (k, _) => keptSet(k) } ++ newStats,
              m.schema, m.constraints,
              m.dvs.filter { case (k, _) => keptSet(k) }) // carried files keep DVs
        }
    }
  }

  /** ROW-LEVEL DELETE (copy-on-write — Delta's DELETE WHERE): remove
    * the rows matching `predicate`, published as ONE atomic 'delete'
    * version. SQL null semantics: only rows where the predicate is
    * TRUE are removed; a NULL verdict keeps the row.
    *
    * The rewrite is FILE-PRUNED through the same optimizer-resolved
    * manifest-stats evaluator the read side uses ([[readWhere]]'s
    * survivors): files whose committed stats PROVE no row can match
    * carry into the new version UNTOUCHED — not read, not rewritten,
    * zero new bytes — so the pass costs O(files that might match),
    * never O(table). On a range/z-ordered table a selective delete
    * rewrites a handful of files out of 10⁵ (the Delta
    * DELETE-with-data-skipping shape); the GDPR/right-to-erasure verb
    * a 100 TB corpus table needs. A delete the stats prove EMPTY is a
    * metadata no-op: nothing written, nothing committed, the current
    * head returned. A delete that removes EVERY row commits an
    * empty-but-readable version (one schema-bearing empty data file):
    * full-table erasure is a version like any other, through this
    * verb, [[deleteVectors]] and [[merge]] alike.
    *
    * Commits as a REWRITE action: incremental readers and the
    * streaming source fail loudly across it per the rewrite contract
    * (a delete IS a data update), and the full manifest doubles as a
    * checkpoint. The committed schema carries forward unchanged
    * (copy-on-write preserves the contract; legacy no-schema tables
    * stay legacy). A lost publish race re-resolves and re-deletes
    * (rebase is unsound — the racing commit may have added matching
    * rows); the loser's files become vacuum-able orphans, and the
    * replaced files stay referenced by OLDER versions until
    * [[expireVersions]] retires them — time travel below the delete
    * still sees the deleted rows, which is the versioned-table
    * contract, not a leak (erasure compliance = delete + expire +
    * vacuum, in that order). */
  def delete(spark: SparkSession, table: String,
             predicate: org.apache.spark.sql.Column): Long = {
    import org.apache.spark.sql.functions.{coalesce, lit, not}
    commitOnHead(spark, table, "delete") { m =>
      val touched = survivors(spark, table, m, predicate)
      if (touched.isEmpty) Finished(Some(m.version)) // stats prove nothing matches
      else {
        val keptSet = m.files.toSet -- touched
        val kept = m.files.filter(keptSet)
        // DV-applied: a touched file's already-deleted rows must not
        // resurrect into its rewrite (the rewrite MATERIALIZES the DV)
        val rewritten = readFiles(spark, table, m, touched)
          .filter(not(coalesce(predicate, lit(false))))
        // writeData drops zero-row part artifacts (stat-less footers
        // would survive every future prune conservatively, turning
        // stats-provably-empty deletes into endless rewrites); a delete
        // of every row keeps its one schema-bearing empty, so the
        // version is empty-but-readable
        val (newFiles, newStats) =
          dropEmptiesBeside(spark, table, kept, writeData(rewritten, table))
        Publish("full", "delete", kept ++ newFiles, m.txns,
          m.stats.filter { case (k, _) => keptSet(k) } ++ newStats,
          m.schema, m.constraints,
          m.dvs.filter { case (k, _) => keptSet(k) }) // carried files keep DVs
      }
    }
  }

  /** MERGE-ON-READ DELETE — [[delete]]'s scale face for the erasure
    * shape copy-on-write handles worst (the SCALE100_r14 widedelete
    * probe: ONE hot row per file rewrites 100% of table bytes — at
    * 100 TB with 1 GB files, a scattered GDPR-style erasure is a
    * full-table rewrite). Instead of rewriting a touched file, this
    * verb writes a DELETION-VECTOR sidecar — the file's deleted
    * (file_name, row_index) positions as one small parquet per
    * commit — and the manifest carries the data file BY IDENTITY with
    * a `dv=` annotation; every read applies the positions as an
    * anti-join ([[readFiles]]), so `read` ≡ the copy-on-write answer
    * while the delete's write cost is O(deleted rows), not O(touched
    * bytes).
    *
    * Per-file auto decision (the commit may MIX modes): a touched
    * file whose matched-row fraction exceeds `maxDvFraction` of its
    * live rows is cheaper rewritten — it takes the copy-on-write
    * path; one whose rows ALL match is dropped from the manifest
    * outright (zero bytes moved — the best case) unless NO file would
    * remain, when the whole erasure takes the copy-on-write path and
    * commits an empty-but-readable version like [[delete]]; the
    * scattered remainder gets DVs. A re-deleted file's new sidecar holds the
    * UNION of its old and new positions (so the union-of-sidecars
    * read stays exact), with the per-file cardinality re-audited at
    * commit. Read-side cost is priced by the manifest itself
    * (Σ card): under [[DV_BROADCAST_BYTES]] the anti-join broadcasts;
    * [[compact]] (plain or `zorder`) MATERIALIZES all DVs away (its
    * rewrite reads DV-applied rows), which is the standing
    * maintenance answer to DV accumulation.
    *
    * Same contracts as [[delete]] otherwise: SQL null semantics (a
    * NULL verdict keeps the row), one atomic 'delete' version,
    * stats-pruned touch set with [[TableStats.mayContain]] soundness
    * load-bearing, metadata no-op when stats prove nothing matches,
    * loud failure for incremental readers crossing it (CDF mode
    * serves the deleted rows at O(dv) — [[readChanges]]), lost races
    * re-resolve and re-run. Stats of a DV'd file stay the committed
    * ones — a SUPERSET of the live rows, conservative for every
    * prune; [[statsSummary]] refuses DV'd versions rather than serve
    * loose bounds, and [[history]] subtracts the audited
    * cardinalities so row counts stay exact.
    *
    * Reference anchor: the erasure verb a real S3-backed corpus
    * (restaurant-crawler/storage_manager.py:44-45's bucket) needs at
    * scale. */
  def deleteVectors(spark: SparkSession, table: String,
                    predicate: org.apache.spark.sql.Column,
                    maxDvFraction: Double = 0.5): Long = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, not}
    require(maxDvFraction >= 0.0 && maxDvFraction <= 1.0,
      s"deleteVectors: maxDvFraction must be in [0, 1], got $maxDvFraction")
    commitOnHead(spark, table, "deleteVectors") { m =>
      val touched = survivors(spark, table, m, predicate)
      if (touched.isEmpty) Finished(Some(m.version)) // stats prove nothing matches
      else {
        // basename-uniqueness fuse: the DV anti-join keys on file NAME
        // (write-UUID-unique by construction); a collision among the
        // files that could carry DVs would let one file's positions
        // cancel another's rows — refuse rather than risk it
        val dvCandidates = touched ++ m.dvs.keys
        require(dvCandidates.map(baseName).distinct.size == dvCandidates.distinct.size,
          s"TableLog.deleteVectors: duplicate data-file basenames in $table — " +
            s"DV positions key on file names; use the copy-on-write delete")
        // the deleted positions, computed over the DV-APPLIED touched
        // rows (already-deleted rows must not recount); small by the
        // verb's premise — eagerly pinned so the per-file audit, the
        // sidecar write and a retry never rescan
        val positions = readFiles(spark, table, m, touched, keepPos = true)
          .where(coalesce(predicate, lit(false)))
          .select(col("__dv_f").as("f"), col("__dv_r").as("r"))
          .localCheckpoint(true)
        val matched: Map[String, Long] = positions.groupBy(col("f"))
          .count().collect().map(x => x.getString(0) -> x.getLong(1)).toMap
        // stats said "may match" but nothing did: metadata no-op
        if (matched.isEmpty) Finished(Some(m.version))
        else {
          // per-file mode decision, driver-sized (O(touched files))
          val dead = Seq.newBuilder[String] // every live row matched: drop outright
          val cow = Seq.newBuilder[String] // dense matches: cheaper rewritten
          val dv = Seq.newBuilder[String] // scattered matches: sidecar
          touched.foreach { f =>
            val hits = matched.getOrElse(baseName(f), 0L)
            if (hits == 0L) () // carried untouched, existing DV (if any) kept
            else m.stats.get(f).map(_.rows - m.dvs.get(f).map(_.card).getOrElse(0L)) match {
              case Some(live) if hits >= live => dead += f
              case Some(live) if hits > maxDvFraction * live => cow += f
              case _ => dv += f // scattered (or stat-less: cost unknown, DV is the ask)
            }
          }
          val (deadF, denseF, dvF) = (dead.result(), cow.result(), dv.result())
          val gone = (deadF ++ denseF).toSet
          val carried = m.files.filterNot(gone)
          // a delete of every row rewrites all of it through the
          // copy-on-write arm, whose one schema-bearing empty file makes
          // the version empty-but-readable, exactly like [[delete]]
          val cowF = if (carried.isEmpty) deadF ++ denseF else denseF
          // new sidecar: this commit's positions for the DV'd files,
          // UNIONed with those files' previous sidecar rows (distinct —
          // re-matching an already-deleted position is harmless)
          val dvNames = dvF.map(baseName)
          val newDvs: Map[String, DvRef] =
            if (dvF.isEmpty) Map.empty
            else {
              val fresh = positions.where(col("f").isin(dvNames: _*))
              val oldPaths = dvF.flatMap(f => m.dvs.get(f).map(_.path)).distinct
              val all =
                if (oldPaths.isEmpty) fresh
                else fresh.unionByName(readSidecars(spark, table, oldPaths)
                    .where(col("f").isin(dvNames: _*))).distinct()
              val (rels, _) = writeData(all.coalesce(1), table)
              val cards = all.groupBy(col("f")).count().collect()
                .map(x => x.getString(0) -> x.getLong(1)).toMap
              dvF.map(f => f -> DvRef(rels.head, cards(baseName(f)))).toMap
            }
          // copy-on-write arm (dense files): DV-applied rewrite, like delete
          val (cowNew, cowStats) =
            if (cowF.isEmpty) (Seq.empty[String], Map.empty[String, TableStats.FileStats])
            else dropEmptiesBeside(spark, table, carried, writeData(
              readFiles(spark, table, m, cowF).filter(not(coalesce(predicate, lit(false)))),
              table))
          // a lost race leaves this attempt's sidecar and rewrites as
          // vacuum-able orphans; the loop re-resolves and re-runs
          Publish("full", "delete", carried ++ cowNew, m.txns,
            m.stats.filter { case (k, _) => !gone(k) } ++ cowStats,
            m.schema, m.constraints, (m.dvs -- gone) ++ newDvs)
        }
      }
    }
  }

  /** RESTORE TO VERSION (Delta's RESTORE): publish a new head whose
    * contents are exactly version `version`'s — the undo verb for a
    * bad delete/overwrite/merge. ZERO data movement: the commit is
    * one full manifest re-referencing the old version's still-present
    * files by identity (retention only deletes files no retained
    * manifest references, so a restorable version's files exist by
    * construction; an EXPIRED version fails loudly in resolve).
    * History is preserved — restore is a new version on top, never a
    * rewind, so the mistake and its undo both audit. The current
    * head's `txns` ledger carries FORWARD (never backwards — a
    * rewound ledger would let replayed streaming batches
    * double-commit); the restored version's SCHEMA comes back with
    * its data (restoring past an evolution restores the narrower
    * contract, documented Delta behavior). Commits as a rewrite
    * action: incremental/streaming consumers fail loudly across it
    * and re-snapshot. */
  def restore(spark: SparkSession, table: String, version: Long): Long = {
    val target = manifest(spark, table, Some(version)) // loud if expired
    commitOnHead(spark, table, "restore") { m =>
      require(version <= m.version,
        s"TableLog.restore: version $version is ahead of head ${m.version}")
      if (version == m.version) Finished(Some(m.version)) // already there: no-op
      else Publish("full", "restore", target.files, m.txns, target.stats, target.schema,
        target.constraints, target.dvs)
    }
  }

  /** ZERO-COPY SHALLOW CLONE (Delta's CLONE SHALLOW): `target`
    * becomes a new table whose v1 manifest references the SOURCE's
    * data files — by qualified ABSOLUTE path — at the pinned
    * `version` (head when None). No data bytes move: cloning a
    * 100 TB table is one manifest write, the
    * experiment/staging/what-if verb (try a delete, a compaction
    * policy, a schema evolution against production data without
    * touching production). Sound because data files are immutable
    * and never rewritten in place.
    *
    * The clone is a fully independent table afterwards: appends land
    * in ITS data dir; a copy-on-write [[delete]] rewrites only
    * touched files into the clone (untouched files stay shared);
    * `compact`/`zorder` MATERIALIZE it (whole-table rewrite into its
    * own files). Divergence safety: the clone's own maintenance
    * ([[vacuum]] scans only its data dir; [[expireVersions]] carries
    * an ownership guard) never deletes source files. Retention ON THE
    * SOURCE — the hazard Delta leaves to documentation — is FENCED:
    * the clone registers a marker in the source's log
    * ([[registerClone]]), and the source's [[expireVersions]] refuses
    * to expire below a live clone's pin while its HEAD still shares
    * source files (materialized/dropped clones auto-detach;
    * [[detachClone]] releases explicitly). The fence covers the
    * clone's head — time travel on the clone below its own
    * materialization point is the clone's own retention trade, as in
    * Delta. A marker write failure (cross-filesystem clone without
    * source write access) degrades to the documented
    * schedule-around-clones contract. The clone commit's action is
    * 'clone' (not append), so incremental/streaming consumers start
    * from `startingVersion = 1`, never across the snapshot boundary. */
  def cloneShallow(spark: SparkSession, source: String, target: String,
                   version: Option[Long] = None): Long = {
    val m = manifest(spark, source, version)
    require(m.files.nonEmpty,
      s"TableLog: version ${m.version} of $source is empty")
    require(headVersion(spark, target) == 0L,
      s"TableLog.cloneShallow: target $target already has committed versions")
    val f = fs(spark, source)
    def qual(rel: String) = f.makeQualified(new Path(source, rel)).toString
    val abs = m.files.map(qual)
    val stats = m.files.zip(abs).flatMap { case (rel, a) =>
      m.stats.get(rel).map(a -> _) }.toMap
    // deletion-vector refs re-key AND re-point absolutely: the clone
    // reads the source's sidecars in place, like its data files
    val dvs = m.files.zip(abs).flatMap { case (rel, a) =>
      m.dvs.get(rel).map(d => a -> d.copy(path = qual(d.path))) }.toMap
    // one-shot v1 publish, no retry: a racing writer's v1 means the
    // target is not a fresh table any more
    if (publishManifest(spark, target, Manifest(1L, 0L, "clone", abs, Map.empty, stats,
        m.schema, dvs, m.constraints), "full")) {
      registerClone(spark, source, target, m.version)
      1L
    } else throw new IllegalStateException(
      s"TableLog.cloneShallow: lost the publish race on $target — another " +
        s"writer committed v1 concurrently; clone into a fresh directory")
  }

  // ------------------------------------------------------- clone registry

  /** The SOURCE-side clone registry (`_log/_clones/<id>`): one marker
    * per shallow clone, recording the target path and the pinned
    * source version. Written by [[cloneShallow]] at clone time so
    * SOURCE-side retention can refuse to delete files an alive clone
    * still references ([[expireVersions]]'s fence) — the hazard Delta
    * leaves to documentation, fenced here the way the
    * retention-vs-streaming-checkpoint hazard already is. Markers are
    * advisory metadata: a marker write failure never fails the clone
    * (cross-filesystem clones may lack source write access — then the
    * documented schedule-around-clones contract applies), and a
    * marker whose clone is GONE or has materialized away from the
    * source auto-detaches at the next retention check. */
  private def clonesDir(table: String): Path = new Path(table, s"$LOG_DIR/_clones")

  private def registerClone(spark: SparkSession, source: String,
                            target: String, pinnedVersion: Long): Unit =
    try {
      val f = fs(spark, source)
      f.mkdirs(clonesDir(source))
      val id = java.util.UUID.randomUUID().toString.take(12)
      val body = s"target=${f.makeQualified(new Path(target)).toString}\t" +
        s"version=$pinnedVersion"
      val out = f.create(new Path(clonesDir(source), s"c$id"), false)
      try out.write(body.getBytes(StandardCharsets.UTF_8))
      finally out.close()
    } catch { case scala.util.control.NonFatal(_) => () } // advisory

  /** Registered clones of `table` as (markerName, targetPath,
    * pinnedVersion) — the audit face of the registry. */
  def clones(spark: SparkSession, table: String): Seq[(String, String, Long)] = {
    val f = fs(spark, table)
    val dir = clonesDir(table)
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).toSeq.flatMap { st =>
      try {
        val in = f.open(st.getPath)
        val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
        val kv = body.split("\t").map { s =>
          val Array(k, v) = s.split("=", 2); k -> v }.toMap
        Some((st.getPath.getName, kv("target"), kv("version").toLong))
      } catch { case scala.util.control.NonFatal(_) => None }
    }
  }

  /** Remove a clone's marker from `source`'s registry — the explicit
    * release after a clone is materialized (`compact`/`zorder`/
    * `overwrite`), dropped, or accepted as the caller's own risk.
    * Returns true when a marker for `target` existed. */
  def detachClone(spark: SparkSession, source: String, target: String): Boolean = {
    val f = fs(spark, source)
    // normalized compare: qualification + Path canonicalization absorb
    // trailing-slash / double-slash / scheme spelling differences, so
    // an operator's re-spelling of the registered path still matches
    // (a truly divergent alias — symlinks — has the ignoreClones
    // escape on expireVersions)
    def normQ(p: String) = f.makeQualified(new Path(p)).toString.stripSuffix("/")
    val tq = normQ(target)
    val mine = clones(spark, source).filter(c => normQ(c._2) == tq)
    mine.foreach { case (name, _, _) =>
      f.delete(new Path(clonesDir(source), name), false) }
    mine.nonEmpty
  }

  /** Markers whose clone would LOSE data if `table` expired history
    * below `minRetainVersion`: the clone must still exist, still
    * reference at least one file under THIS table's directory (a
    * materialized/overwritten clone references none — auto-detached),
    * and pin a version below the new floor. Unreachable clone logs
    * are conservatively treated as alive (a network hiccup must not
    * unfence a data-loss path). */
  private def blockingClones(spark: SparkSession, table: String,
                             minRetainVersion: Long): Seq[(String, String, Long)] = {
    val f = fs(spark, table)
    val tableQ = f.makeQualified(new Path(table)).toString + "/"
    clones(spark, table).filter { case (name, target, pinned) =>
      if (pinned >= minRetainVersion) false
      else {
        val state: Option[Boolean] = // Some(stillShares) | None = unreachable
          try {
            if (headVersion(spark, target) == 0L) Some(false) // clone gone
            else {
              val tm = manifest(spark, target)
              Some((tm.files ++ tm.dvs.valuesIterator.map(_.path))
                .exists(_.startsWith(tableQ)))
            }
          } catch { case scala.util.control.NonFatal(_) => None }
        state match {
          case Some(false) =>
            f.delete(new Path(clonesDir(table), name), false) // auto-detach
            false
          case Some(true) => true
          case None => true // unreachable: assume alive
        }
      }
    }
  }

  /** CHANGE DATA FEED, reconstructed — per-version row-level changes
    * (+insert / -delete) for the commits in (since, to], derived from
    * the log and the immutable data files alone, NO writer-side
    * change files (Delta CDF makes writers emit _change_data; this
    * log's append and delete actions are change-recoverable after
    * the fact, which is cheaper to write and identical to consume
    * for the verbs it covers):
    *
    *  - `append` — the added files' rows ARE the inserts (what
    *    [[readAppendsSince]] serves), O(new files);
    *  - `delete` — copy-on-write only REMOVES rows from the files it
    *    touches, so the deleted rows are exactly
    *    old-touched-files ∖ new-files (multiset exceptAll), and the
    *    diff costs O(touched files), never O(table);
    *  - `compact` / `zorder` — layout-only rewrites, content
    *    preserved by contract (spec-pinned): ZERO row changes,
    *    skipped;
    *  - `overwrite` / `merge` — not change-recoverable at O(Δ)
    *    (the diff would be whole-table): THROWS with the resume
    *    instruction, same contract as [[readAppendsSince]] on
    *    rewrites. Consumers needing CDC across those re-snapshot.
    *
    * Output: the table columns + `_change_type` ('insert'|'delete')
    * + `_commit_version`. A row deleted in the range after being
    * inserted in it appears TWICE (its insert and its delete) — the
    * CDC contract; folding is the consumer's job. A `merge` commit
    * ([[merge]]) serves an UPDATE as its −preimage and +postimage
    * rows (old-touched ∖ new and new ∖ old-touched — O(touched
    * files), the same multiset machinery as delete).
    *
    * The feed's SCHEMA is the TO-version manifest's (Delta CDF
    * behavior): every version's files are read WITH it, so a range
    * spanning an `append(evolve = true)` serves the older versions'
    * rows with the added columns null-filled instead of failing the
    * union. Cost: one pinned read per changed version (one
    * incremental driver-side walk over the range's manifests, the
    * Delta commit-JSON walk). */
  def readChanges(spark: SparkSession, table: String, sinceVersion: Long,
                  toVersion: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val to = toVersion.getOrElse(headVersion(spark, table))
    require(to >= 1, s"TableLog: $table has no committed version")
    require(sinceVersion >= 0 && sinceVersion <= to,
      s"TableLog.readChanges: sinceVersion $sinceVersion outside [0, $to]")
    val f = fs(spark, table)
    val mTo = manifest(spark, table, Some(to))
    def rd(files: Seq[String]) = reader(spark, mTo)
      .parquet(files.map(rel => new Path(table, rel).toString): _*)
    var prev: Option[Manifest] =
      if (sinceVersion == 0) None
      else Some(manifest(spark, table, Some(sinceVersion)))
    val frames = ((sinceVersion + 1) to to).flatMap { v =>
      val raw = readRaw(f, table, v, v)
      val cur = applyRaw(prev, raw)
      val prevFiles = prev.map(_.files.toSet).getOrElse(Set.empty[String])
      val out: Seq[DataFrame] = raw.action match {
        case "append" =>
          val added = cur.files.filterNot(prevFiles)
          if (added.isEmpty) Seq.empty
          else Seq(rd(added)
            .withColumn("_change_type", lit("insert"))
            .withColumn("_commit_version", lit(v)))
        case "delete" | "merge" =>
          import org.apache.spark.sql.functions.col
          val removed = prev.map(_.files).getOrElse(Seq.empty)
            .filterNot(cur.files.toSet)
          val added = cur.files.filterNot(prevFiles)
          // pre/postimages are DV-APPLIED under their OWN version's
          // vectors (a rewritten file's preimage is its live rows,
          // not its physical ones), read with the TO-version schema
          // per the CDF contract
          val oldRows = if (removed.isEmpty) None
            else Some(readFiles(spark, table,
              prev.get.copy(schema = mTo.schema), removed))
          val newRows = if (added.isEmpty) None
            else Some(readFiles(spark, table,
              cur.copy(schema = mTo.schema), added))
          // rows leaving the touched set are deletes, rows entering it
          // are inserts; a merge UPDATE is its −preimage + its
          // +postimage (the signed-row CDC contract). For a delete the
          // insert side is empty by construction and skipped.
          val deleted = oldRows.map(o => newRows.fold(o)(o.exceptAll))
            .map(_.withColumn("_change_type", lit("delete"))
              .withColumn("_commit_version", lit(v)))
          val inserted =
            if (raw.action == "delete") None
            else newRows.map(n => oldRows.fold(n)(n.exceptAll))
              .map(_.withColumn("_change_type", lit("insert"))
                .withColumn("_commit_version", lit(v)))
          // DV-GROWN files (merge-on-read deletes): carried by
          // identity with a larger deletion cardinality — their
          // newly-deleted rows are recovered BY POSITION ((cur ∖
          // prev) sidecar rows semi-joined back into the file), so
          // the feed costs O(dv), cheaper than any content diff
          val grown = cur.files.filter(f => prevFiles.contains(f) &&
            cur.dvs.get(f).exists(nd =>
              prev.flatMap(_.dvs.get(f)).forall(_.card < nd.card)))
          val dvDeleted = if (grown.isEmpty) None else {
            val names = grown.map(baseName)
            def posns(refs: Seq[DvRef]): Option[DataFrame] =
              if (refs.isEmpty) None
              else Some(readSidecars(spark, table, refs.map(_.path))
                .where(col("f").isin(names: _*)))
            val newPos = posns(grown.map(cur.dvs(_))).get
            val oldPos = posns(grown.flatMap(f => prev.flatMap(_.dvs.get(f))))
            val delta = oldPos.fold(newPos)(newPos.exceptAll)
            val tagged = readFiles(spark, table,
              cur.copy(schema = mTo.schema, dvs = Map.empty), grown,
              keepPos = true)
            val outCols = tagged.columns.toSeq
              .filterNot(c => c == "__dv_f" || c == "__dv_r")
            Some(tagged.join(delta,
                tagged("__dv_f") === delta("f") && tagged("__dv_r") === delta("r"),
                "left_semi")
              .select(outCols.map(col): _*)
              .withColumn("_change_type", lit("delete"))
              .withColumn("_commit_version", lit(v)))
          }
          deleted.toSeq ++ dvDeleted.toSeq ++ inserted.toSeq
        case "compact" | "zorder" => Seq.empty // layout-only: zero row changes
        case other => throw new IllegalStateException(
          s"TableLog.readChanges: version $v of $table is '$other' — not " +
            s"change-recoverable at O(Δ) (the diff would be whole-table); " +
            s"re-read the snapshot at $v and resume from there")
      }
      prev = Some(cur)
      out
    }
    if (frames.isEmpty) // empty or change-free range: schema-correct empty feed
      read(spark, table, Some(to))
        .withColumn("_change_type", lit("insert"))
        .withColumn("_commit_version", lit(0L))
        .filter(lit(false))
    else frames.reduce(_ unionByName _)
  }

  /** METADATA-ONLY aggregates — COUNT / per-column MIN / MAX /
    * null-count served from the manifest's committed footer stats
    * alone: ZERO data files opened, O(manifest) driver work, a
    * LocalRelation result (the Delta/Iceberg `SELECT COUNT(*)`
    * metadata optimization exposed as a verb — at 10⁵ files this is
    * the difference between a manifest read and a 100 TB scan).
    * Output: one row per column that has complete stats in EVERY
    * file — (column, kind, n_rows, min_v, max_v, n_nulls), sorted by
    * column. min/max come back in the stats' decoded string form and
    * are EXACT (footer min/max are real row values, decoded whole at
    * commit); n_nulls is null when any file reported the count
    * unknown. Columns lacking stats in any file (unsupported types)
    * are omitted — absence is honest, a wrong bound never is. Fails
    * on legacy manifests without stats rather than guessing. */
  def statsSummary(spark: SparkSession, table: String,
                   version: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.LongType
    val m = manifest(spark, table, version)
    require(m.files.nonEmpty, s"TableLog: version ${m.version} of $table is empty")
    require(m.files.forall(m.stats.contains),
      s"TableLog.statsSummary: version ${m.version} of $table predates " +
        s"per-file stats (legacy manifest) — rewrite the table to upgrade")
    // a DV'd file's committed min/max bound its PHYSICAL rows, a
    // superset of the live ones — loose bounds served as EXACT would
    // be a lie; refuse until a compact materializes the vectors
    require(m.dvs.isEmpty,
      s"TableLog.statsSummary: version ${m.version} of $table carries live " +
        s"deletion vectors — its committed min/max bound deleted rows too; " +
        s"compact the table to materialize them, then summarize")
    val fss = m.files.map(m.stats)
    val nRows = fss.map(_.rows).sum
    val common = fss.map(_.cols.keySet).reduce(_ intersect _).toSeq.sorted
    val rows: Seq[Row] = common.map { c =>
      val cs = fss.map(_.cols(c))
      val kind = cs.head.kind
      val mn = cs.map(_.min).reduce((a, b) => if (TableStats.lte(kind, a, b)) a else b)
      val mx = cs.map(_.max).reduce((a, b) => if (TableStats.lte(kind, a, b)) b else a)
      val nulls =
        if (cs.exists(_.nulls < 0)) null
        else java.lang.Long.valueOf(cs.map(_.nulls).sum)
      Row(c, kind.toString, nRows, mn, mx, nulls)
    }
    val schema = StructType(Seq(
      StructField("column", org.apache.spark.sql.types.StringType, false),
      StructField("kind", org.apache.spark.sql.types.StringType, false),
      StructField("n_rows", LongType, false),
      StructField("min_v", org.apache.spark.sql.types.StringType, false),
      StructField("max_v", org.apache.spark.sql.types.StringType, false),
      StructField("n_nulls", LongType, true)))
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, schema)
  }

  // ------------------------------------------------------------ maintenance

  /** Delete data files no live manifest references (see [[orphans]])
    * — run only once no reader can still be pinned below the
    * retention horizon AND no writer is mid-commit: a writer between
    * writeData and publish holds files no manifest references yet,
    * indistinguishable from a crashed writer's. Production retention
    * adds an age floor (delete only orphans older than the longest
    * plausible commit) — the Delta VACUUM default; here the caller
    * owns the quiesce. Returns the deleted table-relative paths. */
  def vacuum(spark: SparkSession, table: String): Seq[String] =
    vacuum(spark, table, 0L)

  /** Vacuum with the RETENTION AGE FLOOR (the Delta VACUUM default,
    * previously only documented): an orphan younger than
    * `minAgeMillis` is kept — it may belong to a writer currently
    * between writeData and publish, whose commit would otherwise
    * publish a manifest pointing at deleted files. With the floor set
    * above the longest plausible commit duration, vacuum is safe to
    * run WITHOUT quiescing writers; `minAgeMillis = 0` restores the
    * caller-owns-the-quiesce behavior. Age is the file's modification
    * time — set by the filesystem at write, monotone enough for a
    * floor (clock skew subtracts from the safety margin; size the
    * floor generously, Delta's default is 7 days). Vacuum never
    * touches manifests — version history is [[expireVersions]]'s job,
    * with its own fence. */
  def vacuum(spark: SparkSession, table: String, minAgeMillis: Long): Seq[String] = {
    val f = fs(spark, table)
    val cutoff = System.currentTimeMillis() - minAgeMillis
    val os = orphans(spark, table).filter { rel =>
      minAgeMillis <= 0 ||
        (try f.getFileStatus(new Path(table, rel)).getModificationTime <= cutoff
         catch { case scala.util.control.NonFatal(_) => false }) // raced away: skip
    }
    os.foreach(rel => f.delete(new Path(table, rel), false))
    os
  }

  /** LOG RETENTION: drop all history strictly below `minRetainVersion`
    * — expired manifests (and their checkpoints) are deleted, along
    * with the data files ONLY expired versions referenced. The gap
    * Delta leaves to documentation is fenced here in code:
    *
    *  - before anything is deleted, a full-snapshot checkpoint at
    *    `minRetainVersion` is published and VERIFIED readable — the
    *    new floor reconstructs without its predecessors, or the whole
    *    operation aborts having deleted nothing;
    *  - any consumer pinned BELOW the floor — a time-travel read, a
    *    [[readAppendsSince]] range, a TableLogSource checkpoint whose
    *    offset predates it — fails LOUDLY with a resume instruction
    *    the moment it needs an expired manifest; it can never read a
    *    silent hole (the missing manifest is a checked prerequisite,
    *    not an absent file served as empty).
    *
    * Size `minRetainVersion` at or below every live consumer's LAST
    * BATCH START offset, not just its head offset: on restart the
    * streaming engine re-requests the last checkpointed batch
    * (start, end] to prime the source, so the manifests from
    * `start` up must still resolve (the same rule Delta's source
    * imposes on delta.logRetentionDuration vs checkpoint age — here
    * it is explicit, and violating it fails loudly instead of
    * reading a hole). Returns the deleted table-relative paths
    * (data + manifests). */
  def expireVersions(spark: SparkSession, table: String,
                     minRetainVersion: Long): Seq[String] =
    expireVersions(spark, table, minRetainVersion, ignoreClones = false)

  /** [[expireVersions]] with the operator's UNWEDGE: `ignoreClones =
    * true` skips the clone fence — for a clone whose directory is
    * permanently gone (the conservative fence treats unreachable as
    * alive forever) or whose marker path an operator cannot spell
    * back at [[detachClone]] (symlinked mounts). The caller asserts
    * the clones' fate; with the fence off, expiry may delete files a
    * still-alive pinned clone shares. */
  def expireVersions(spark: SparkSession, table: String,
                     minRetainVersion: Long, ignoreClones: Boolean): Seq[String] = {
    val f = fs(spark, table)
    val head = headVersion(spark, table)
    require(head >= 1, s"TableLog: $table has no committed version")
    require(minRetainVersion >= 1 && minRetainVersion <= head,
      s"TableLog.expireVersions: minRetainVersion $minRetainVersion outside [1, $head]")
    val floor = math.max(1L, lowestVersion(f, table))
    if (minRetainVersion <= floor) return Seq.empty
    // 0. clone fence (the hazard Delta leaves to documentation): a
    //    live shallow clone pinned below the new floor still
    //    references files this expiry may delete — REFUSE, loudly,
    //    before anything is removed. Markers for clones that are gone
    //    or have materialized away auto-detach here.
    val blocking =
      if (ignoreClones) Seq.empty
      else blockingClones(spark, table, minRetainVersion)
    if (blocking.nonEmpty) throw new IllegalStateException(
      s"TableLog.expireVersions: $table has live shallow clone(s) pinned " +
        s"below v$minRetainVersion that still reference its files — " +
        blocking.map { case (_, tgt, v) => s"$tgt (pinned v$v)" }
          .mkString(", ") +
        s". Expiring would silently break them. Materialize each clone " +
        s"(compact/zorder/overwrite) or drop it, then detachClone(source, " +
        s"target) — or lower minRetainVersion to at most the oldest pin.")
    // 1. load-bearing checkpoint at the new floor — verified BEFORE
    //    any delete; abort (nothing deleted) if it cannot be read back
    val mFloor = resolve(spark, table, minRetainVersion).m
    writeCheckpoint(f, table, mFloor)
    if (readCheckpoint(f, table, minRetainVersion).isEmpty)
      throw new IllegalStateException(
        s"TableLog.expireVersions: could not publish the load-bearing checkpoint " +
          s"at v$minRetainVersion of $table — aborting, nothing was deleted")
    // 2. data files referenced ONLY by expired versions (one
    //    incremental walk over [floor, head])
    var expiredRef = Set.empty[String]
    var retainedRef = Set.empty[String]
    var m: Option[Manifest] = None
    (floor to head).foreach { v =>
      m = Some(if (m.isEmpty) resolve(spark, table, v).m
               else applyRaw(m, readRaw(f, table, v, v)))
      val refs = m.get.files ++ m.get.dvs.valuesIterator.map(_.path)
      if (v < minRetainVersion) expiredRef ++= refs
      else retainedRef ++= refs
    }
    // ownership guard: retention deletes only files that live UNDER
    // this table's directory — a shallow clone's manifests reference
    // the SOURCE table's files by qualified absolute path
    // ([[cloneShallow]]), and the clone's own retention must never
    // reach into the source (Delta's vacuum-on-clone rule)
    val tableQ = f.makeQualified(new Path(table)).toString + "/"
    val dropData = (expiredRef -- retainedRef).toSeq.sorted
      .filter(rel => f.makeQualified(new Path(table, rel)).toString.startsWith(tableQ))
    dropData.foreach(rel => f.delete(new Path(table, rel), false))
    // 3. expired manifests + their checkpoints
    val droppedManifests = (floor until minRetainVersion).flatMap { v =>
      val cp = checkpointPath(table, v)
      if (f.exists(cp)) f.delete(cp, false)
      if (f.delete(manifestPath(table, v), false))
        Some(f"$LOG_DIR/v$v%08d.manifest") else None
    }
    dropData ++ droppedManifests
  }

  /** DESCRIBE HISTORY: one row per RETAINED version — (version,
    * action, base, n_files, n_rows) with n_rows summed from the
    * manifest's per-file stats (-1 when any file predates stats —
    * never guessed from data reads). One incremental walk over the
    * log; driver-sized like the manifests themselves; the audit verb
    * a maintenance runbook leads with. */
  def history(spark: SparkSession, table: String): Seq[HistoryRow] =
    foldSnapshots(spark, table)(Vector.empty[HistoryRow]) { (acc, m) =>
      val rows =
        if (m.files.forall(m.stats.contains))
          // deletion-vector cardinalities are audited at commit, so
          // subtracting them keeps the count EXACT under live DVs
          m.files.map(f => m.stats(f).rows).sum -
            m.dvs.valuesIterator.map(_.card).sum
        else -1L
      acc :+ HistoryRow(m.version, m.action, m.base, m.files.length, rows)
    }

  final case class HistoryRow(version: Long, action: String, base: Long,
                              nFiles: Int, nRows: Long)

  /** Data files no retained manifest references — crashed or
    * superseded writers' leftovers, safe to delete once no reader can
    * still be pinned below the retention horizon. */
  def orphans(spark: SparkSession, table: String): Seq[String] = {
    val live = foldSnapshots(spark, table)(Set.empty[String])((acc, m) =>
      acc ++ m.files ++ m.dvs.valuesIterator.map(_.path))
    val f = fs(spark, table)
    val dataDir = new Path(table, "data")
    if (!f.exists(dataDir)) Seq.empty
    else {
      // qualified-prefix strip, not URI.relativize: the listing comes
      // back scheme-qualified (file:///…) while `table` may be a bare
      // path, and relativize silently returns the input on mismatch
      val base = f.makeQualified(dataDir).toString + "/"
      val it = f.listFiles(dataDir, true)
      val found = Seq.newBuilder[String]
      while (it.hasNext) {
        val st = it.next()
        if (st.isFile) {
          val full = s"data/${st.getPath.toString.stripPrefix(base)}"
          if (st.getPath.getName.startsWith("part-") && !live.contains(full))
            found += full
        }
      }
      found.result()
    }
  }
}
