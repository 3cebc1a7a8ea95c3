package graft.sinks

import java.nio.charset.StandardCharsets

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.expressions._

/** Per-file column statistics for [[TableLog]] manifests — the
  * Delta/Iceberg data-skipping mechanism reduced to its load-bearing
  * core: at COMMIT time each new data file's parquet FOOTER is read
  * once (metadata-only I/O — no data rescan) and (rows, per-column
  * min/max/nullCount) ride in the manifest's file line; at READ time
  * a query predicate prunes the manifest's file list BEFORE Spark
  * ever builds a scan, so a selective query on a 100×-file table
  * opens only the files that can match (row-group pruning inside the
  * survivors still applies on top — this layer removes the
  * every-footer-open cost that grows with file count). The footer
  * `rows` also serve [[TableLog.detail]] and the metadata-only
  * `count()` of [[graft.plans.MetadataCount]].
  *
  * Pruning is CONSERVATIVE by construction: any expression shape,
  * type, or missing statistic this evaluator doesn't understand keeps
  * the file. The reader stacks the original predicate as a normal
  * filter above the pruned scan, so skipping can only remove files
  * that provably contain no matching row — never change the answer.
  *
  * Stats kinds: integral (`l`), floating (`d`), UTF-8 string (`s`).
  * String ordering compares UTF-8 BYTES unsigned — parquet's binary
  * stats order, NOT java String's UTF-16 order (they disagree for
  * supplementary-plane vs private-use chars — the `utf8Cmp` lesson
  * from CdcStream's tiebreak, applied to skipping: a UTF-16 compare
  * could prune a file that matches).
  */
object TableStats {

  /** One column's merged (across row groups) footer statistics.
    * min/max are the DECODED string forms; `nulls` is -1 when any row
    * group didn't record a null count (⇒ null-based pruning off). */
  final case class ColStats(kind: Char, min: String, max: String, nulls: Long)

  /** One data file's statistics: total rows + per-column stats. */
  final case class FileStats(rows: Long, cols: Map[String, ColStats])

  // ---------------------------------------------------------------- footers

  /** Read `file`'s parquet footer and merge its row groups' column
    * statistics. Columns with non-primitive paths, unsupported types,
    * or unusable statistics are simply absent (⇒ never pruned on). */
  def fromFooter(conf: Configuration, file: Path): FileStats = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.parquet.schema.LogicalTypeAnnotation
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    try {
      val footer = reader.getFooter
      var rows = 0L
      val acc = scala.collection.mutable.HashMap.empty[String, ColStats]
      // a row group with UNUSABLE stats for a column poisons that
      // column for the whole file: a min/max that didn't see every
      // group's rows would prune rows it never bounded. (All-null
      // groups are fine: hasNonNullValue=false with a null count is
      // still a usable "contributes no range" statistic.)
      val poisoned = scala.collection.mutable.HashSet.empty[String]
      val bi = footer.getBlocks.iterator()
      while (bi.hasNext) {
        val b = bi.next()
        rows += b.getRowCount
        val ci = b.getColumns.iterator()
        while (ci.hasNext) {
          val c = ci.next()
          val name = c.getPath.toDotString
          if (!name.contains('.')) { // top-level primitives only
            val pt = c.getPrimitiveType
            val logical = pt.getLogicalTypeAnnotation
            val kind: Char = pt.getPrimitiveTypeName match {
              case INT32 | INT64
                if logical == null ||
                  logical.isInstanceOf[LogicalTypeAnnotation.IntLogicalTypeAnnotation] => 'l'
              case FLOAT | DOUBLE => 'd'
              case BINARY
                if logical.isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation] => 's'
              case _ => ' ' // timestamps, decimals, nested reprs: skip
            }
            if (kind != ' ') {
              val st = c.getStatistics
              if (st == null || st.isEmpty || !st.hasNonNullValue) {
                // no usable non-null stats in this group (all-null
                // groups included — rare, and distinguishing them from
                // a real empty-string min is not worth the edge cases)
                poisoned += name
              } else {
                val (mn, mx) = kind match {
                  case 's' =>
                    val bmin = st.genericGetMin.asInstanceOf[org.apache.parquet.io.api.Binary]
                    val bmax = st.genericGetMax.asInstanceOf[org.apache.parquet.io.api.Binary]
                    (bmin.toStringUsingUTF8, bmax.toStringUsingUTF8)
                  case _ => (st.genericGetMin.toString, st.genericGetMax.toString)
                }
                val nn = if (st.isNumNullsSet) st.getNumNulls else -1L
                acc.get(name) match {
                  case None => acc(name) = ColStats(kind, mn, mx, nn)
                  case Some(prev) if prev.kind == kind =>
                    acc(name) = ColStats(kind,
                      if (lte(kind, prev.min, mn)) prev.min else mn,
                      if (lte(kind, mx, prev.max)) prev.max else mx,
                      if (prev.nulls < 0 || nn < 0) -1L else prev.nulls + nn)
                  case Some(_) => poisoned += name // kind clash
                }
              }
            }
          }
        }
      }
      poisoned.foreach(acc.remove)
      FileStats(rows, acc.toMap)
    } finally reader.close()
  }

  // ---------------------------------------------------------------- encoding

  private def enc(s: String): String =
    java.net.URLEncoder.encode(s, StandardCharsets.UTF_8)
  private def dec(s: String): String =
    java.net.URLDecoder.decode(s, StandardCharsets.UTF_8)

  /** `rows=N;col=k:min:max:nulls;…` — one manifest-line suffix. */
  def encode(fs: FileStats): String =
    (s"rows=${fs.rows}" +: fs.cols.toSeq.sortBy(_._1).map { case (n, c) =>
      s"${enc(n)}=${c.kind}:${enc(c.min)}:${enc(c.max)}:${c.nulls}"
    }).mkString(";")

  def decode(s: String): FileStats = {
    val parts = s.split(";")
    var rows = -1L
    val cols = Map.newBuilder[String, ColStats]
    parts.foreach { p =>
      val Array(k, v) = p.split("=", 2)
      if (k == "rows") rows = v.toLong
      else {
        val Array(kind, mn, mx, nn) = v.split(":", 4)
        cols += dec(k) -> ColStats(kind.head, dec(mn), dec(mx), nn.toLong)
      }
    }
    FileStats(rows, cols.result())
  }

  // ---------------------------------------------------------------- pruning

  /** Unsigned UTF-8 byte compare: parquet's binary stats order, and
    * the order Spark's max(struct(...)) applies to StringType
    * (UTF8String binary), which CdcStream's latest-change election
    * matches. Scala's Ordering.String is UTF-16 code-unit order and
    * DISAGREES for supplementary-plane vs private-use characters.
    * Null orders below any string, as in Spark's struct field
    * comparison (the batch election tolerates null op/payload, so
    * the stream must too). A byte loop, not an allocating compare:
    * `lte`/`mayContain` run it per file on every pruned read. */
  private[graft] def utf8Cmp(a: String, b: String): Int = {
    if (a == null || b == null)
      return java.lang.Boolean.compare(a != null, b != null)
    val x = a.getBytes(StandardCharsets.UTF_8)
    val y = b.getBytes(StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val d = (x(i) & 0xff) - (y(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    x.length - y.length
  }

  /** `a ≤ b` in `kind`'s order. */
  private[sinks] def lte(kind: Char, a: String, b: String): Boolean = kind match {
    case 'l' => a.toLong <= b.toLong
    case 'd' => a.toDouble <= b.toDouble
    case _   => utf8Cmp(a, b) <= 0
  }

  /** A comparable literal value: Right(number) or Left(string). */
  private def litVal(l: Literal): Option[Either[String, BigDecimal]] = anyVal(l.value)

  /** Same, from a raw internal value (InSet's hash-set elements). */
  private def anyVal(value: Any): Option[Either[String, BigDecimal]] = value match {
    case null => None
    case v: java.lang.Long => Some(scala.Right(BigDecimal(v)))
    case v: java.lang.Integer => Some(scala.Right(BigDecimal(v.intValue())))
    case v: java.lang.Short => Some(scala.Right(BigDecimal(v.intValue())))
    case v: java.lang.Byte => Some(scala.Right(BigDecimal(v.intValue())))
    case v: java.lang.Double => Some(scala.Right(BigDecimal(v)))
    case v: java.lang.Float => Some(scala.Right(BigDecimal(v.doubleValue())))
    case v: org.apache.spark.sql.types.Decimal => Some(scala.Right(v.toBigDecimal))
    case v: org.apache.spark.unsafe.types.UTF8String => Some(scala.Left(v.toString))
    case _ => None // dates, timestamps, binary: conservative
  }

  /** Literal vs a column's [min, max]: cmpMin < 0 ⇒ lit < min, etc.
    * None when the literal and stats kinds aren't comparable. */
  private def cmp(c: ColStats, v: Either[String, BigDecimal]): Option[(Int, Int)] =
    (c.kind, v) match {
      case ('l', scala.Right(n)) => Some((n.compare(BigDecimal(c.min.toLong)),
        n.compare(BigDecimal(c.max.toLong))))
      case ('d', scala.Right(n)) =>
        val mn = c.min.toDouble; val mx = c.max.toDouble
        if (mn.isNaN || mx.isNaN) None
        else Some((n.compare(BigDecimal(mn)), n.compare(BigDecimal(mx))))
      case ('s', scala.Left(s)) => Some((utf8Cmp(s, c.min), utf8Cmp(s, c.max)))
      case _ => None
    }

  private def attrName(e: Expression): Option[String] = e match {
    case a: AttributeReference => Some(a.name)
    case _ => None
  }

  /** Could `file` contain a row matching `pred`? Conservative: any
    * shape this doesn't understand answers true. The evaluator treats
    * a file's stats as the INTERVAL [min, max] — sound because parquet
    * footer min/max bound every non-null value in the file.
    *
    * SOUNDNESS IS LOAD-BEARING on the DML paths: `TableLog.delete`
    * and `TableLog.merge` carry files this evaluator clears into the
    * new version UNTOUCHED — a false "cannot match" would silently
    * leave matching rows undeleted/unmerged, and no read-side filter
    * stacks on top there (unlike `readWhere`, where the original
    * filter re-applies and pruning can never change the answer).
    * PropertySpec fuzzes both identities — delete(p) ≡
    * read.filter(NOT coalesce(p, false)) and the readWhere identity —
    * over random tables and predicates. */
  def mayContain(fs: FileStats, pred: Expression): Boolean = pred match {
    case And(l, r) => mayContain(fs, l) && mayContain(fs, r)
    case Or(l, r) => mayContain(fs, l) || mayContain(fs, r)
    case EqualTo(a, l: Literal) => cmpPrune(fs, a, l)((mn, mx) => mn >= 0 && mx <= 0)
    case EqualTo(l: Literal, a) => cmpPrune(fs, a, l)((mn, mx) => mn >= 0 && mx <= 0)
    case LessThan(a, l: Literal) => cmpPrune(fs, a, l)((mn, _) => mn > 0)
    case LessThan(l: Literal, a) => cmpPrune(fs, a, l)((_, mx) => mx < 0)
    case LessThanOrEqual(a, l: Literal) => cmpPrune(fs, a, l)((mn, _) => mn >= 0)
    case LessThanOrEqual(l: Literal, a) => cmpPrune(fs, a, l)((_, mx) => mx <= 0)
    case GreaterThan(a, l: Literal) => cmpPrune(fs, a, l)((_, mx) => mx < 0)
    case GreaterThan(l: Literal, a) => cmpPrune(fs, a, l)((mn, _) => mn > 0)
    case GreaterThanOrEqual(a, l: Literal) => cmpPrune(fs, a, l)((_, mx) => mx <= 0)
    case GreaterThanOrEqual(l: Literal, a) => cmpPrune(fs, a, l)((mn, _) => mn >= 0)
    case In(a, vs) if vs.forall(_.isInstanceOf[Literal]) =>
      vs.exists(v => mayContain(fs, EqualTo(a, v.asInstanceOf[Literal])))
    case InSet(a, vs) => // the optimizer's large-IN spelling
      (for {
        name <- attrName(a)
        c <- fs.cols.get(name)
      } yield vs.exists(v => anyVal(v).flatMap(cmp(c, _)) match {
        case Some((mn, mx)) => mn >= 0 && mx <= 0
        case None => true // incomparable element: may match
      })).getOrElse(true)
    case IsNull(a) =>
      attrName(a).flatMap(fs.cols.get) match {
        case Some(c) if c.nulls == 0 => false
        case _ => true
      }
    case IsNotNull(a) =>
      attrName(a).flatMap(fs.cols.get) match {
        case Some(c) if c.nulls >= 0 && fs.rows >= 0 && c.nulls >= fs.rows => false
        case _ => true
      }
    case _ => true
  }

  /** Keep the file unless stats EXIST, the kinds compare, and `keep`
    * answers false for (lit vs min, lit vs max). A column whose stats
    * omit null counts still prunes on range — nulls never satisfy a
    * comparison predicate, so range pruning is sound regardless. */
  private def cmpPrune(fs: FileStats, attr: Expression, l: Literal)(
      keep: (Int, Int) => Boolean): Boolean =
    (for {
      name <- attrName(attr)
      c <- fs.cols.get(name)
      v <- litVal(l)
      c2 <- cmp(c, v)
    } yield keep(c2._1, c2._2)).getOrElse(true)
}
