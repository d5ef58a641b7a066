package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.functions.DateFunctions

/** Robust CSV ingestion — the Spark re-expression of the reference's
  * fault-tolerant reader chain (`/root/reference/tabsketchfm/data_prep.py:
  * 51-112`):
  *  - strict parse → permissive parse with sniffed delimiter (S3)
  *  - bz2/gz transparent via codec-by-extension (S2)
  *  - 10k-row cap (O1, `NROWS` at `data_prep.py:27`)
  *  - `row_index` synthetic column drop (S4, `:80`)
  *  - <5-row table filter (P4, `:139-141`)
  *  - column-name sanitization (P1, `sanitize_column_names`, `:119-125`)
  *  - string→DATE promotion appending a derived `<col>_DATE` column
  *    (`get_types`, `:87-112`)
  */
object RobustCsv {

  val RowCap = 10000
  val MinRows = 5
  val CandidateDelimiters = Seq(",", ";", "\t", "|")
  /** Head sample size of the charset and delimiter sniffs (both decoders). */
  private[graft] val HeadBytes = 64 * 1024

  /** The first [[HeadBytes]] of a (possibly compressed) file, decompressed
    * — the raw material for the charset, delimiter and magic-byte sniffs.
    * Driver-side single read of a bounded prefix; the distributed scan
    * happens afterwards.
    */
  private def headBytes(spark: SparkSession, path: String): Array[Byte] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val codec = new org.apache.hadoop.io.compress.CompressionCodecFactory(
      spark.sparkContext.hadoopConfiguration).getCodec(p)
    val raw = fs.open(p)
    val in: java.io.InputStream =
      if (codec != null) codec.createInputStream(raw) else raw
    try in.readNBytes(HeadBytes) finally in.close()
  }

  /** Charset sniff over the head sample — BOM first, then strict UTF-8
    * validation, ISO-8859-1 as the 8-bit fallback. This is the
    * `get_encoding` intent (reference `data_prep.py:114-117`, chardet over
    * a head sample) without the dependency: BOM and UTF-8-validity cover
    * the deterministic cases, and Latin-1 decodes every byte sequence, so
    * the fallback never throws — exactly the reference's error-tolerance.
    */
  def detectCharset(spark: SparkSession, path: String): String =
    detectCharsetFromBytes(headBytes(spark, path))

  /** Pure core of [[detectCharset]] over an (up to 64 KiB) head sample —
    * shared with the executor-side decoder ([[graft.sources.CsvScan]]),
    * which must sniff IDENTICALLY to this driver chain or the two paths
    * could classify the same file differently. */
  def detectCharsetFromBytes(bytes: Array[Byte]): String = {
    if (bytes.length >= 2 && (bytes(0) & 0xff) == 0xfe && (bytes(1) & 0xff) == 0xff) "UTF-16BE"
    else if (bytes.length >= 2 && (bytes(0) & 0xff) == 0xff && (bytes(1) & 0xff) == 0xfe) "UTF-16LE"
    else if (validUtf8(bytes)) "UTF-8" // UTF-8 BOM is itself valid UTF-8
    else "ISO-8859-1"
  }

  private def validUtf8(bytes0: Array[Byte]): Boolean = {
    // a multi-byte sequence truncated by the sample boundary must not fail
    // the whole validation — trim up to 3 trailing continuation/lead bytes
    var end = bytes0.length
    var trimmed = 0
    while (end > 0 && trimmed < 4 && (bytes0(end - 1) & 0x80) != 0) {
      end -= 1; trimmed += 1
    }
    val dec = java.nio.charset.StandardCharsets.UTF_8.newDecoder()
      .onMalformedInput(java.nio.charset.CodingErrorAction.REPORT)
      .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPORT)
    try { dec.decode(java.nio.ByteBuffer.wrap(bytes0, 0, end)); true }
    catch { case _: java.nio.charset.CharacterCodingException => false }
  }

  /** Sniff the delimiter from the decoded 64 KiB head sample: the
    * candidate with the highest consistent per-line count wins (reference
    * uses `sep=None` python-engine sniffing, `data_prep.py:76`) — shared
    * with the executor-side decoder. */
  def sniffDelimiterFromHead(headText: String): String = {
    val head = headText.split("\r?\n").iterator.filter(_.nonEmpty).take(20).toArray
    if (head.isEmpty) ","
    else CandidateDelimiters.maxBy { d =>
      val counts = head.map(_.split(java.util.regex.Pattern.quote(d), -1).length)
      val consistent = counts.distinct.length == 1 && counts.head > 1
      (if (consistent) 1000 else 0) + counts.min
    }
  }

  /** Strip quotes/space, remove newlines+commas (no replacement),
    * lowercase — exact `sanitize_column_names` semantics
    * (`data_prep.py:119-125`: `strip('\'" ').replace('\n','')
    * .replace(',','').lower()`). */
  def sanitizeName(name: String): String =
    name.replaceAll("^['\" ]+", "").replaceAll("['\" ]+$", "")
      .replace("\n", "").replace(",", "").toLowerCase

  /** Read one CSV (optionally compressed) with the fallback chain. Returns
    * None when the table is unreadable or has <5 rows.
    */
  def read(spark: SparkSession, path: String): Option[DataFrame] = {
    // Sniff charset + delimiter first: a ';'-separated file "succeeds" as
    // one comma-column, so a strict-then-fallback order would silently
    // mis-parse (the reference hits the same with pandas and retries with
    // sep=None, data_prep.py:76); likewise a Latin-1 file "succeeds" as
    // UTF-8 with mojibake. First pass DROPMALFORMED mirrors the
    // reference's skip-bad-lines default (`on_bad_lines='skip'`,
    // data_prep.py:67-69) — bad rows are dropped by design, not a
    // strictness failure; the PERMISSIVE retry only handles files the
    // skip-mode parser rejects outright; Excel is the reference's last
    // resort (`pd.read_excel`, data_prep.py:78).
    // one 64 KiB head sample feeds the charset, delimiter and magic sniffs
    val head = headBytes(spark, path)
    val charset = detectCharsetFromBytes(head)
    val delim = sniffDelimiterFromHead(new String(head, charset))
    def csvChain = tryRead(spark, path, delim, charset, permissive = false)
      .orElse(tryRead(spark, path, delim, charset, permissive = true))
    // zip magic means an .xlsx workbook, CFB magic a legacy .xls: the
    // permissive CSV parser would otherwise "succeed" on the raw bytes as
    // one garbage column and mask S12
    val cfbMagic = Array(0xD0, 0xCF, 0x11, 0xE0, 0xA1, 0xB1, 0x1A, 0xE1).map(_.toByte)
    val df =
      if (head.startsWith(Array[Byte]('P', 'K', 3, 4)))
        ExcelRead.read(spark, path, RowCap).orElse(csvChain)
      else if (head.startsWith(cfbMagic))
        XlsRead.read(spark, path, RowCap).orElse(csvChain)
      else csvChain.orElse(ExcelRead.read(spark, path, RowCap))
        .orElse(XlsRead.read(spark, path, RowCap))
    df.map(postProcess).filter(_.limit(MinRows).count() >= MinRows)
  }

  private def tryRead(spark: SparkSession, path: String, delim: String,
                      charset: String, permissive: Boolean): Option[DataFrame] = {
    // UTF-16 files can't ride Hadoop's byte-oriented line splitter ('\n'
    // is 0A 00 / 00 0A): multiLine hands the whole file to the parser with
    // a proper decoder, and Java's "UTF-16" charset consumes the BOM the
    // detector keyed on (encoding=UTF-16LE would leak it into the first
    // header name). Whole-file parse is fine HERE by design: UTF-16 CSVs
    // are small interchange files; anything at scan scale is UTF-8/parquet.
    val utf16 = charset.startsWith("UTF-16")
    try {
      val base = spark.read
        .option("header", "true")
        .option("sep", delim)
        .option("encoding", if (utf16) "UTF-16" else charset)
        .option("multiLine", utf16.toString)
        .option("inferSchema", "true")
        .option("mode", if (permissive) "PERMISSIVE" else "DROPMALFORMED")
        .option("nullValue", "")
      val df = base.csv(path).limit(RowCap)
      if (df.columns.isEmpty) None else Some(df)
    } catch { case _: Exception => None }
  }

  private def postProcess(df0: DataFrame): DataFrame = {
    // sanitize names (P1) and drop synthetic row_index (S4)
    val renamed = df0.toDF(df0.columns.toIndexedSeq.map(sanitizeName): _*)
    val df = if (renamed.columns.contains("row_index")) renamed.drop("row_index") else renamed
    promoteDates(df)
  }

  /** String→DATE promotion: a string column whose every non-null value
    * parses leniently gains a derived `<col>_DATE` column appended LAST
    * (downstream code depends on that ordering, `embedding_search.py:75-78`).
    * The ORIGINAL column keeps its string values but is re-classified as
    * DATE for downstream type votes, exactly the reference's get_types
    * split (df values stay, `col_types[col] = DATE`, data_prep.py:92-98):
    * the classification rides Spark schema metadata
    * ([[graft.profile.Profiler.DatePromotedKey]]), which survives parquet
    * round-trips into the sketch catalog.
    */
  def promoteDates(df: DataFrame, sampleRows: Int = 1000): DataFrame = {
    val stringCols = df.schema.fields.filter(_.dataType == StringType).map(_.name)
    if (stringCols.isEmpty) return df
    // one aggregation pass over a sample: per column, all-parse vote
    val sample = df.limit(sampleRows)
    val aggs = stringCols.map { c =>
      (min(when(col(s"`$c`").isNull, true)
        .otherwise(DateFunctions.is_parseable_date(col(s"`$c`")))).as(c),
        count(when(col(s"`$c`").isNotNull, 1)).as(c + "__n"))
    }
    val row = sample.agg(aggs.head._1, (aggs.tail.map(_._1) ++ aggs.map(_._2)).toIndexedSeq: _*).collect()(0)
    val promote = stringCols.filter { c =>
      row.getAs[Boolean](c) && row.getAs[Long](c + "__n") > 0
    }
    val dateMeta = new org.apache.spark.sql.types.MetadataBuilder()
      .putBoolean(graft.profile.Profiler.DatePromotedKey, true).build()
    promote.foldLeft(df) { (acc, c) =>
      acc.withColumn(c, col(s"`$c`").as(c, dateMeta))
        .withColumn(c + "_DATE", DateFunctions.lenient_date_parse(col(s"`$c`")))
    }
  }

  /** Directory-walk source (S6): list `*.csv[.bz2|.gz]` under a directory.
    * The reference's 21-files-per-dir cap (`batch_fastdata_opendata.py:
    * 5-23`) is a corpus-download quirk and is not reproduced.
    */
  def listTables(spark: SparkSession, dir: String): Seq[String] = {
    val path = new org.apache.hadoop.fs.Path(dir)
    path.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(path).toSeq
      .filter(s => s.isFile && (s.getPath.getName.endsWith(".csv") ||
        s.getPath.getName.endsWith(".csv.bz2") || s.getPath.getName.endsWith(".csv.gz")))
      .map(_.getPath.toString).sorted
  }
}
