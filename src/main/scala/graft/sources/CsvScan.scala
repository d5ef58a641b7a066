package graft.sources

import java.time.{LocalDate, LocalDateTime, LocalTime, ZoneId}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.DateFunctions
import graft.ingest.RobustCsv

/** Executor-side CSV lake decoder — the single-job ingest shape for CSV
  * corpora (the reference's `data_prep.py:51-112` read chain at
  * `batch_fastdata_opendata.py` corpus scale): ONE multi-path `binaryFile`
  * scan over every CSV, a strict in-task parse into the SAME variant cell
  * schema the parquet decoder emits ([[LakeScan.RawSchema]]), then the one
  * keyed aggregate profile. Without this, a 40k-file CSV lake pays one
  * driver-scheduled robust-read + staging-write job PER FILE (~80k
  * sequential jobs) before profiling even starts.
  *
  * Strictness contract: the in-task parse must be BIT-IDENTICAL to the
  * driver chain (`RobustCsv.read`: Spark CSV, header, inferSchema,
  * DROPMALFORMED, nullValue="", sanitize, row_index drop, date promotion,
  * <5-row filter) for every file it accepts — so it only accepts files
  * where that equivalence is certain:
  *  - UTF-8 bytes (no BOM), not a zip container;
  *  - same charset/delimiter sniff (shared pure functions over the same
  *    64 KiB head sample);
  *  - tokenization by the SAME univocity parser Spark's CSV source uses,
  *    configured with Spark's defaults (quote `"`, escape `\`, comments
  *    off, whitespace kept);
  *  - every data row has exactly the header's field count (a malformed
  *    row would be DROPMALFORMED-ed by the driver chain — behavior the
  *    fallback reproduces exactly, so such files are rejected whole);
  *  - per-column types from a faithful replay of Spark's CSV inference
  *    lattice, restricted to the unambiguous core (int/long/double/
  *    boolean/strict ISO date & timestamp/string). Values in the lenient
  *    gray zone (single-digit date fields, zone offsets, >6-digit
  *    fractions) or that would infer DecimalType reject the file.
  *
  * Rejected files surface as one reject row each (`LakeScan.rejectRow`)
  * and fall back to the driver-side `RobustCsv` chain — the expected minority
  * (`data_prep.py:70-78`: most corpus files parse clean on the first try).
  * Tables with fewer than 5 data rows emit NOTHING (P4 — the driver chain
  * returns None for them; they are skipped, not rejected).
  */
object CsvScan {

  /** A decoded lake — what both `scanLake`s return (this one and
    * `LakeScan.scanLake`): `cells` holds the accepted inputs' variant rows
    * (backed by a persisted decode — the reject probe already
    * materialized it; call [[ScanResult.release]] to drop the cache:
    * unpersisting the filtered `cells` view would be a silent no-op,
    * Spark only uncaches plans that match the CACHED plan exactly);
    * `rejected` lists the inputs (CSV files, parquet tables) that need
    * the driver-side reader. */
  final case class ScanResult(cells: DataFrame, rejected: Seq[String],
                              private val cached: DataFrame) {
    def release(): Unit = cached.unpersist()
  }

  /** Basename-derived table names with deterministic collision handling:
    * duplicate basenames (same name in different subdirs, or `a.csv` next
    * to `a.csv.gz`) get `__2`, `__3`… suffixes in sorted-path order
    * instead of silently overwriting one another (the reference dedups on
    * collision too, `data_prep.py:153-156`). Suffixing is collision-aware
    * against LITERAL basenames as well: with files `a`, `a`, `a__2` the
    * second `a` becomes `a__3`, never colliding with the real `a__2`. */
  def tableNames(files: Seq[String]): Map[String, String] = {
    val bases = files.sorted.map { p =>
      p -> p.split('/').last.replaceAll("\\.csv(\\.bz2|\\.gz)?$", "")
    }
    // every literal basename is reserved up front so a suffixed alias can
    // never steal the name of a file that genuinely has it
    val used = scala.collection.mutable.Set[String](bases.map(_._2): _*)
    val claimed = scala.collection.mutable.Set.empty[String]
    bases.map { case (p, n) =>
      val name =
        if (claimed.add(n)) n
        else {
          var i = 2
          while (!used.add(s"${n}__$i")) i += 1
          s"${n}__$i"
        }
      p -> name
    }.toMap
  }

  /** One binaryFile scan + strict decode of a whole CSV lake. Runs the
    * decode ONCE (persisted), probes the reject rows, and returns the
    * accepted cell relation ready for `Profiler.profileFromLong(LakeScan
    * .renderLong(cells))` / `LakeScan.snapshotFromRaw(cells)`. */
  def scanLake(spark: SparkSession, nameByPath: Map[String, String],
               rowCap: Int = RobustCsv.RowCap): ScanResult = {
    val (cached, _, marked) =
      LakeScan.persistAndProbe(rawCells(spark, nameByPath, rowCap), "src_file")
    // report rejects in the CALLER's path space (binaryFile re-schemes
    // paths — file:/x vs /x — which would break nameByPath lookups)
    val byNorm = nameByPath.keys.map(p => normPath(p) -> p).toMap
    val rejected = marked.toSeq.map(p => byNorm.getOrElse(normPath(p), p)).sorted
    // a rejected file's only row is its reject row
    ScanResult(cached.filter(col("col_name") =!= lit(LakeScan.RejectMarker)),
      rejected, cached)
  }

  /** The raw decode: the shared binaryFile scan over the listed files,
    * each decoded by [[decodeFile]] on the executors. */
  private def rawCells(spark: SparkSession, nameByPath: Map[String, String],
                       rowCap: Int): DataFrame = {
    require(nameByPath.nonEmpty, "CsvScan needs at least one file")
    val lookup = nameByPath.map { case (p, n) => normPath(p) -> n }
    val zone = ZoneId.of(spark.sessionState.conf.sessionLocalTimeZone)
    val cap = rowCap
    LakeScan.binaryScan(spark, nameByPath.keys.toSeq.sorted, glob = None) { (path, bytes) =>
      val name = lookup.getOrElse(normPath(path),
        throw new IllegalStateException(
          s"CsvScan: file $path matches no requested table"))
      decodeFile(name, path, bytes, cap, zone)
    }
  }

  /** Scheme-insensitive path key (`file:/x`, `file:///x` and `/x` all
    * name the same file across FS listings and the binaryFile source). */
  private def normPath(p: String): String =
    p.replaceFirst("^[A-Za-z][A-Za-z0-9+.-]*:/+", "/")

  // ---- per-cell type lattice (replays Spark CSVInferSchema's merge) ----
  private val TNull = 0; private val TInt = 1; private val TLong = 2
  private val TDouble = 3; private val TDate = 4; private val TTs = 5
  private val TBool = 6; private val TStr = 7
  private final val TReject = -1

  private val DateRe = "\\d{4}-\\d{2}-\\d{2}".r
  private val TsRe = "\\d{4}-\\d{2}-\\d{2}[ T]\\d{2}:\\d{2}(:\\d{2}(\\.\\d{1,6})?)?".r
  // the lenient gray zone: date-shaped strings Spark's ISO parsers might
  // still accept but our strict grammar does not (single-digit fields,
  // year-month, surrounding whitespace, zone suffixes) — any hit rejects
  // the file to the driver. The tail after the date part must be
  // time/zone-SHAPED (digit after the separator, or a zone mark): Spark
  // never parses a date prefix followed by arbitrary text, so values
  // like "2021-12 report" stay plain strings instead of rejecting
  private val DateyRe =
    "\\s*[+-]?\\d{1,6}-\\d{1,2}(-\\d{1,2})?(Z|[ T]\\s*[0-9].*|[+-][0-9].*)?\\s*".r

  private def classify(tok: String): Int = {
    if (tok == null) return TNull
    if (tryIs(java.lang.Integer.parseInt(tok))) return TInt
    if (tryIs(java.lang.Long.parseLong(tok))) return TLong
    // Spark's decimal leg: BigDecimal parse with scale 0 and precision
    // ≤ 38 infers DecimalType (unsupported slot → reject); negative scale
    // or precision > 38 makes DecimalType construction fail and Spark
    // falls through to double — so only the scale-0 case rejects
    val dec = try Some(new java.math.BigDecimal(tok)) catch { case _: NumberFormatException => None }
    dec match {
      case Some(d) if d.scale == 0 && d.precision <= 38 => return TReject
      case _ => ()
    }
    if (DateRe.matches(tok) && tryIs(LocalDate.parse(tok))) return TDate
    if (TsRe.matches(tok)) {
      // grammar-valid but calendar/clock-invalid ("2021-13-45 25:99:00")
      // must not reach emission — Spark would classify it string, so the
      // file routes to the driver chain instead
      return if (tryIs(tsMicros(tok, java.time.ZoneOffset.UTC))) TTs else TReject
    }
    if (DateyRe.matches(tok)) return TReject
    // Spark's CSV inference special-cases its positiveInf/negativeInf
    // literals ("Inf"/"-Inf") as double, which Java's parseDouble does
    // not accept — a schema the strict decoder cannot mirror bit-for-bit,
    // so such files route to the driver chain ("Infinity"/"NaN" parse
    // identically on both sides and stay here)
    if (tok == "Inf" || tok == "-Inf") return TReject
    if (tryIs(java.lang.Double.parseDouble(tok))) return TDouble
    if (tok.equalsIgnoreCase("true") || tok.equalsIgnoreCase("false")) return TBool
    TStr
  }

  @inline private def tryIs[A](f: => A): Boolean =
    try { f; true } catch { case _: RuntimeException => false }

  /** Spark's findTightestCommonType over the supported lattice: numeric
    * ladder int<long<double, date+timestamp → timestamp, otherwise any
    * cross-family mix → string. */
  private def mergeType(a: Int, b: Int): Int =
    if (a == b) a
    else if (a == TReject || b == TReject) TReject
    else if (a == TNull) b
    else if (b == TNull) a
    else if (a <= TDouble && b <= TDouble) math.max(a, b)
    else if ((a == TDate || a == TTs) && (b == TDate || b == TTs)) TTs
    else TStr

  private def decompress(path: String, bytes: Array[Byte]): Array[Byte] = {
    def readAll(in: java.io.InputStream): Array[Byte] =
      try in.readAllBytes() finally in.close()
    if (path.endsWith(".gz"))
      readAll(new java.util.zip.GZIPInputStream(new java.io.ByteArrayInputStream(bytes)))
    else if (path.endsWith(".bz2"))
      readAll(new org.apache.commons.compress.compressors.bzip2.BZip2CompressorInputStream(
        new java.io.ByteArrayInputStream(bytes)))
    else bytes
  }

  /** Univocity parser configured the way Spark's CSV source configures it
    * (CSVOptions defaults): tokenization parity is BY CONSTRUCTION — the
    * driver chain runs the same parser version over the same lines. */
  private def newParser(delim: Char): com.univocity.parsers.csv.CsvParser = {
    val settings = new com.univocity.parsers.csv.CsvParserSettings
    val fmt = settings.getFormat
    fmt.setDelimiter(delim)
    fmt.setQuote('"')
    fmt.setQuoteEscape('\\')
    fmt.setComment('\u0000') // Spark: comments disabled (univocity default is '#')
    settings.setIgnoreLeadingWhitespaces(false)
    settings.setIgnoreTrailingWhitespaces(false)
    settings.setReadInputOnSeparateThread(false)
    settings.setMaxCharsPerColumn(-1)
    settings.setMaxColumns(20480)
    settings.setNullValue("")
    settings.setEmptyValue("")
    settings.setUnescapedQuoteHandling(
      com.univocity.parsers.csv.UnescapedQuoteHandling.STOP_AT_DELIMITER)
    new com.univocity.parsers.csv.CsvParser(settings)
  }

  /** Decode one CSV file into variant cell rows, or a reject row. */
  private[sources] def decodeFile(table: String, path: String, raw: Array[Byte],
                                  rowCap: Int, zone: ZoneId): Iterator[Row] = {
    def reject(reason: String): Iterator[Row] =
      Iterator.single(LakeScan.rejectRow(table, path, reason))

    val bytes = try decompress(path, raw) catch {
      case _: java.io.IOException => return reject("undecompressable")
    }
    if (bytes.length >= 4 && bytes(0) == 'P' && bytes(1) == 'K' &&
        bytes(2) == 3 && bytes(3) == 4) return reject("zip container")
    if (bytes.length >= 3 && (bytes(0) & 0xff) == 0xef &&
        (bytes(1) & 0xff) == 0xbb && (bytes(2) & 0xff) == 0xbf)
      return reject("utf-8 bom")
    val head = java.util.Arrays.copyOfRange(bytes, 0, math.min(bytes.length, RobustCsv.HeadBytes))
    val charset = RobustCsv.detectCharsetFromBytes(head)
    if (charset != "UTF-8") return reject(s"charset $charset")
    val delim = RobustCsv.sniffDelimiterFromHead(
      new String(head, java.nio.charset.StandardCharsets.UTF_8))
    val parser = newParser(delim.charAt(0))

    // lone-CR (classic Mac) line endings: Hadoop's LineReader in the
    // driver chain accepts \r as a terminator, our \n split does not —
    // such files must REJECT to the driver, not decode to zero rows and
    // silently vanish from the catalog
    var ci = 0
    while (ci < bytes.length) {
      if (bytes(ci) == '\r' && (ci + 1 >= bytes.length || bytes(ci + 1) != '\n'))
        return reject("cr line endings")
      ci += 1
    }

    // line iteration mirrors the driver chain: Hadoop line split on \n
    // (trailing \r trimmed), trim-empty lines skipped (CSVUtils)
    val lines = new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
      .split("\n", -1).iterator
      .map(l => if (l.endsWith("\r")) l.dropRight(1) else l)
      .filter(_.trim.nonEmpty)
    if (!lines.hasNext) return Iterator.empty // no header, no rows: driver chain skips too

    val headerToks = parser.parseLine(lines.next())
    if (headerToks == null || headerToks.isEmpty) return reject("unparseable header")
    val names0 = headerToks.zipWithIndex.map { case (t, i) =>
      RobustCsv.sanitizeName(if (t == null || t.isEmpty) s"_c$i" else t)
    }
    if (names0.distinct.length != names0.length) return reject("duplicate column names")
    val nCols = names0.length
    val dropIdx = names0.indexOf("row_index") // S4: synthetic index column

    val kept = ArrayBuffer.empty[Array[String]] // first rowCap rows (tokens)
    val types = Array.fill(nCols)(TNull)
    var nData = 0L
    while (lines.hasNext) {
      val toks = parser.parseLine(lines.next())
      if (toks == null || toks.length != nCols) return reject("malformed row")
      var j = 0
      while (j < nCols) {
        var t = toks(j)
        if (t != null && t.isEmpty) { t = null; toks(j) = null }
        if (t != null && (t.indexOf('\r') >= 0 || t.indexOf('\n') >= 0))
          return reject("embedded line break")
        // inference replays over EVERY row (Spark's schema pass reads the
        // whole file even though the read is capped)
        types(j) = mergeType(types(j), classify(t))
        if (types(j) == TReject) return reject(s"gray-zone type in '${names0(j)}'")
        j += 1
      }
      nData += 1
      if (nData <= rowCap) kept += toks
    }
    if (nData < RobustCsv.MinRows) return Iterator.empty // P4: skipped, not rejected

    // NullType columns materialize as string (Spark inference final step)
    val finalTypes = types.map(t => if (t == TNull) TStr else t)

    // date promotion replay (RobustCsv.promoteDates): vote over the first
    // 1000 capped rows; promoted string columns re-classify as date and
    // gain an appended <col>_DATE column from the lenient parse
    val sample = kept.take(1000)
    val promoted = Array.tabulate(nCols) { j =>
      finalTypes(j) == TStr && j != dropIdx && {
        var any = false; var all = true
        sample.foreach { r =>
          val t = r(j)
          if (t != null) { any = true; all &&= DateFunctions.parseLenient(t).isDefined }
        }
        any && all
      }
    }

    // output column plan: base columns (minus row_index) then the
    // promoted *_DATE derivatives, in base-column order (same foldLeft
    // append order as the driver chain)
    final case class Out(srcIdx: Int, name: String, colType: String, slot: Int,
                         datePromoted: Boolean, derivedDate: Boolean) {
      /** The typed value of a non-null token, in [[slot]]'s type. */
      def value(tok: String): Any = slot match {
        case LakeScan.SlotLong   => java.lang.Long.parseLong(tok)
        case LakeScan.SlotDouble => java.lang.Double.parseDouble(tok)
        case LakeScan.SlotDate   => LocalDate.parse(tok).toEpochDay.toInt
        case LakeScan.SlotBool   => java.lang.Boolean.valueOf(tok.equalsIgnoreCase("true"))
        case LakeScan.SlotTs if derivedDate =>
          // lenient_date_parse parity: Instant truncated to millis
          DateFunctions.parseLenient(tok).map[Any](_.toEpochMilli * 1000L).orNull
        case LakeScan.SlotTs     => tsMicros(tok, zone)
        case _                   => tok
      }
    }
    val baseOut = (0 until nCols).filter(_ != dropIdx).map { j =>
      val (ct, slot) = finalTypes(j) match {
        case TInt | TLong => ("integer", LakeScan.SlotLong)
        case TDouble      => ("float", LakeScan.SlotDouble)
        case TDate        => ("date", LakeScan.SlotDate)
        case TTs          => ("date", LakeScan.SlotTs)
        case TBool        => ("string", LakeScan.SlotBool) // pandas bool→STRING (data_prep.py:103-108)
        case _            => (if (promoted(j)) "date" else "string", LakeScan.SlotStr)
      }
      Out(j, names0(j), ct, slot, promoted(j), derivedDate = false)
    }
    val derivedOut = (0 until nCols).filter(j => j != dropIdx && promoted(j))
      .map(j => Out(j, names0(j) + "_DATE", "date", LakeScan.SlotTs,
        datePromoted = false, derivedDate = true))
    val outs = (baseOut ++ derivedOut).zipWithIndex

    def cellRows(toks: Array[String], rowId: Long): Iterator[Row] = {
      val rid: java.lang.Long = rowId
      outs.iterator.map { case (o, idx) =>
        val tok = toks(o.srcIdx)
        LakeScan.rawRow(table, idx, o.name, o.colType, present = true, rid, path,
          o.slot, if (tok == null) null else o.value(tok), o.datePromoted)
      }
    }
    val sentinels = outs.iterator.map { case (o, idx) =>
      LakeScan.rawRow(table, idx, o.name, o.colType, present = false, null, path,
        o.slot, null, o.datePromoted)
    }
    kept.iterator.zipWithIndex.flatMap { case (toks, rid) =>
      cellRows(toks, rid.toLong) } ++ sentinels
  }

  /** Micros-since-epoch for a strict-grammar timestamp (or bare date — a
    * date cell in a column that merged to timestamp becomes midnight),
    * resolved in the session time zone like Spark's CSV parse. */
  private def tsMicros(tok: String, zone: ZoneId): Long = {
    val t = tok.replace('T', ' ')
    val ld = LocalDate.parse(t.substring(0, 10))
    val time =
      if (t.length <= 10) LocalTime.MIDNIGHT
      else {
        val p = t.substring(11)
        val h = p.substring(0, 2).toInt
        val mi = p.substring(3, 5).toInt
        val s = if (p.length >= 8) p.substring(6, 8).toInt else 0
        val micros =
          if (p.length > 9) (p.substring(9) + "00000").substring(0, 6).toInt
          else 0
        LocalTime.of(h, mi, s, micros * 1000)
      }
    val inst = LocalDateTime.of(ld, time).atZone(zone).toInstant
    inst.getEpochSecond * 1000000L + inst.getNano / 1000L
  }
}
