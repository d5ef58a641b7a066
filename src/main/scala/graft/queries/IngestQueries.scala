package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import Shared._

/** Source and sink round trips: compressed, CSV, JSONL, ORC, Excel and
  * charset inputs, sidecar merges and deterministic splits. Queries that
  * write a fixture read it back in their oracle SQL through the same path
  * constant. */
object IngestQueries {

  private val NationGzDir = "/tmp/graft_fixtures/nation_gz"

  /** S2/S3/S6 round-trip: nation → gzip CSV on disk → directory walk →
    * RobustCsv fallback chain → aggregate. The oracle parses the SAME
    * compressed file with DuckDB's CSV reader, so codec handling, header,
    * quoting, and schema inference are all cross-checked, not just
    * spec'd. */
  private def compressedRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val out = NationGzDir
    t(s, dir, "nation").orderBy("n_nationkey").coalesce(1)
      .write.mode("overwrite").option("header", "true")
      .option("compression", "gzip").csv(out)
    val path = graft.ingest.RobustCsv.listTables(s, out).head
    val df = graft.ingest.RobustCsv.read(s, path).get
    df.groupBy(col("n_regionkey").cast("long").as("n_regionkey"))
      .agg(count(lit(1)).as("n"),
        sum(col("n_nationkey")).cast("long").as("sum_key"),
        sum(length(col("n_name"))).cast("long").as("name_chars"))
      .orderBy("n_regionkey")
  }

  // round-trip fixtures: Verify writes these files BEFORE the oracle
  // runs; DuckDB parses the same bytes with its own readers
  private def compressedRoundtripSql: String =
    s"""SELECT CAST(n_regionkey AS BIGINT) AS n_regionkey, count(*) AS n,
      |  CAST(sum(n_nationkey) AS BIGINT) AS sum_key,
      |  CAST(sum(length(n_name)) AS BIGINT) AS name_chars
      |FROM read_csv('$NationGzDir/*.csv.gz', header=true)
      |GROUP BY 1 ORDER BY n_regionkey""".stripMargin

  private val HygieneDir = "/tmp/graft_fixtures/hygiene"

  /** P1/S4/P4 ingest hygiene: a fixture CSV with messy headers (quote/space
    * padding, an embedded comma) plus a synthetic row_index column, and a
    * second sub-5-row CSV. The robust reader must sanitize names, drop
    * row_index, and filter the tiny table; DuckDB independently parses the
    * SAME files (row counts + the <5-row exclusion), with expected names
    * generated from the same `sanitizeName` the engine runs. */
  private def ingestHygiene(s: SparkSession, dir: String): DataFrame = {
    val fixDir = java.nio.file.Paths.get(HygieneDir)
    java.nio.file.Files.createDirectories(fixDir)
    val data = t(s, dir, "nation").orderBy("n_nationkey").limit(20)
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey")).collect()
    val messy = ("""row_index," n_NationKey ","N,Name",' n_regionkey '""" +:
      data.zipWithIndex.map { case (r, i) => s"$i,${r.get(0)},${r.get(1)},${r.get(2)}" }.toSeq)
      .mkString("", "\n", "\n")
    java.nio.file.Files.write(fixDir.resolve("messy.csv"), messy.getBytes("UTF-8"))
    java.nio.file.Files.write(fixDir.resolve("tiny.csv"),
      "a,b\n1,x\n2,y\n3,z\n".getBytes("UTF-8"))
    val read = graft.ingest.RobustCsv.listTables(s, fixDir.toString)
      .flatMap(p => graft.ingest.RobustCsv.read(s, p).map(df => (p, df)))
    read.map { case (p, df) =>
      df.agg(count(lit(1)).as("n_rows"))
        .select(lit(p.split('/').last).as("file"),
          lit(df.columns.mkString(",")).as("cols"), col("n_rows"))
    }.reduce(_ unionByName _).orderBy("file")
  }

  /** s3_ingest_hygiene: DuckDB parses the SAME fixture files — the messy
    * file's row count comes from its own CSV reader, the sub-5-row file is
    * excluded by a HAVING the oracle computes itself, and the expected
    * sanitized names are generated from the engine's own `sanitizeName`
    * (shared Scala, embedded as literals). */
  private def ingestHygieneSql: String = {
    // post-CSV-parse raw header fields of messy.csv (see the Spark-side fixture)
    val raw = Seq("row_index", " n_NationKey ", "N,Name", "' n_regionkey '")
    val expect = raw.map(graft.ingest.RobustCsv.sanitizeName)
      .filterNot(_ == "row_index")
    s"""SELECT * FROM (
       |  SELECT 'messy.csv' AS file, '${expect.mkString(",")}' AS cols,
       |    count(*) AS n_rows
       |  FROM read_csv('$HygieneDir/messy.csv', header=true)
       |  UNION ALL
       |  SELECT 'tiny.csv', 'filtered', count(*)
       |  FROM read_csv('$HygieneDir/tiny.csv', header=true)
       |  HAVING count(*) >= 5)
       |ORDER BY file""".stripMargin
  }

  private val PairLabelsJson = "/tmp/graft_fixtures/pair_labels.json"

  /** S10/P11 round-trip: write a finetune pair-label JSON descriptor,
    * read it with Splits.readPairLabels, normalize filenames with
    * tableKey. The oracle parses the same file with DuckDB's JSON reader.
    */
  private def splitRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val p = java.nio.file.Paths.get(PairLabelsJson)
    java.nio.file.Files.createDirectories(p.getParent)
    def mk(a: String, b: String, l: Int) =
      s"""{"table1":{"filename":"data/$a.csv"},"table2":{"filename":"data/$b.csv.gz"},"label":$l}"""
    val json =
      s"""{"train":[${mk("customer", "orders", 1)},${mk("nation", "region", 1)},${mk("part", "events", 0)}],
         |"valid":[${mk("supplier", "customer", 1)}],
         |"test":[${mk("lineitem", "orders", 0)}]}""".stripMargin
    java.nio.file.Files.write(p, json.getBytes("UTF-8"))
    graft.sources.Splits.readPairLabels(s, p.toString)
      .select(col("split"),
        graft.sources.Splits.tableKey(col("table1")).as("t1"),
        graft.sources.Splits.tableKey(col("table2")).as("t2"),
        col("label").cast("long").as("label"))
      .orderBy("split", "t1", "t2")
  }

  private def splitRoundtripSql: String =
    raw"""WITH raw AS (SELECT * FROM read_json_auto('$PairLabelsJson')),
      |x AS (
      |  SELECT 'train' AS split, unnest(train, recursive := false) AS r FROM raw
      |  UNION ALL SELECT 'valid', unnest(valid, recursive := false) FROM raw
      |  UNION ALL SELECT 'test', unnest(test, recursive := false) FROM raw)
      |SELECT split,
      |  regexp_replace(string_split(r.table1.filename, '/')[-1], '\.csv(\.bz2|\.gz)?$$', '') AS t1,
      |  regexp_replace(string_split(r.table2.filename, '/')[-1], '\.csv(\.bz2|\.gz)?$$', '') AS t2,
      |  CAST(r.label AS BIGINT) AS label
      |FROM x ORDER BY split, t1, t2""".stripMargin

  private val SidecarDir = "/tmp/graft_fixtures/sidecars"

  /** S5 metadata sidecar merge: per-table JSON sidecars (the reference's
    * `{table_name, table_description, dataset_description}` shape,
    * `datamodule.py:36-44`) read by `Splits.readMetadata` and joined to
    * row counts recomputed from the raw tables. DuckDB parses the SAME
    * sidecar files and recomputes the same counts. */
  private def sidecarMerge(s: SparkSession, dir: String): DataFrame = {
    val fixDir = java.nio.file.Paths.get(SidecarDir)
    java.nio.file.Files.createDirectories(fixDir)
    Seq("region" -> "continental regions", "nation" -> "nations with region links").foreach {
      case (tbl, desc) =>
        java.nio.file.Files.write(fixDir.resolve(s"$tbl.meta.json"),
          s"""{"table_name": "$tbl", "table_description": "$desc", "dataset_description": "tpch-ish driver lake"}"""
            .getBytes("UTF-8"))
    }
    val meta = graft.sources.Splits.readMetadata(s, fixDir.toString)
    val counts = Seq("region", "nation").map { n =>
      t(s, dir, n).agg(count(lit(1)).as("n_rows"))
        .select(lit(n).as("table_name"), col("n_rows"))
    }.reduce(_ unionByName _)
    meta.join(counts, "table_name")
      .select(col("table_name"), col("table_description"),
        col("dataset_description"), col("n_rows"))
      .orderBy("table_name")
  }

  private def sidecarMergeSql: String =
    s"""WITH meta AS (
      |  SELECT table_name, table_description, dataset_description
      |  FROM read_json_auto('$SidecarDir/*.meta.json')),
      |counts AS (
      |  SELECT 'region' AS table_name, count(*) AS n_rows FROM region
      |  UNION ALL SELECT 'nation', count(*) FROM nation)
      |SELECT m.table_name, m.table_description, m.dataset_description, c.n_rows
      |FROM meta m JOIN counts c USING (table_name)
      |ORDER BY table_name""".stripMargin

  /** O7 seeded shuffle: the first 100 customers in seed-42 training order.
    * The order is an MD5 mix of (seed, key), so DuckDB replays it exactly —
    * the point of the deterministic shuffle (`tabular_dataset.py:18-19`):
    * the same seed gives the same epoch order on ANY engine or layout. */
  private def seededShuffleQ(s: SparkSession, dir: String): DataFrame = {
    val sk = graft.sources.Splits.shuffleKey(42L, Seq(col("c_custkey")))
    // Global top-100 in shuffle order as TakeOrderedAndProject (distributed
    // partial top-k per partition, merged on the driver) — NOT a
    // row_number window over the whole shuffled table, which would funnel
    // every row through one partition. The rank window then orders only
    // the 100 survivors (the TextSearch.bm25 pattern).
    val top100 = graft.sources.Splits.seededShuffle(
      t(s, dir, "customer"), seed = 42L, keyCols = Seq("c_custkey"))
      .limit(100)
    // window-free rank of the 100 survivors (TakeOrdered output is one
    // sorted partition; see Ranking.withPosition)
    graft.operators.Ranking.withPosition(top100, "pos")
      .select(col("pos"), col("c_custkey").cast("long").as("c_custkey"))
      .orderBy("pos")
  }

  private def seededShuffleSql: String =
    """SELECT pos, c_custkey FROM (
      |  SELECT CAST(row_number() OVER (
      |      ORDER BY md5('42' || chr(1) ||
      |        CASE WHEN c_custkey IS NULL THEN '0' ELSE '1' END || chr(1) ||
      |        coalesce(CAST(c_custkey AS VARCHAR), '')), c_custkey)
      |    AS BIGINT) AS pos,
      |    CAST(c_custkey AS BIGINT) AS c_custkey
      |  FROM customer)
      |WHERE pos <= 100 ORDER BY pos""".stripMargin

  private val CharsetUtf8Dir = "/tmp/graft_fixtures/charset_utf8"

  /** Fixture rows for `s12_excel_charset` — shared with the oracle-SQL
    * generator the way the MinHash permutation constants are: both engines
    * state the EXPECTED decoded content independently of the file bytes. */
  private val CharsetFixtureRows: Seq[(Long, String, String)] = Seq(
    (1L, "café", "paris"), (2L, "jürgen", "münchen"), (3L, "bjørn", "oslo"),
    (4L, "rené", "nice"), (5L, "niño", "madrid"), (6L, "åsa", "umeå"))

  /** S12 + charset detection, oracle-verified: the SAME logical table is
    * written as an ISO-8859-1 CSV, a UTF-16LE (BOM) CSV, and an .xlsx
    * workbook (sharedStrings layout — `ExcelRead`'s other string path from
    * the spec's inlineStr). The robust reader must detect each charset and
    * decode identical content (reference `data_prep.py:78,114-117`).
    * DuckDB 1.0 reads none of the three encodings natively, so the engine
    * writes UTF-8 conversion copies; the oracle joins those against its
    * own literal expected rows — a wrong decode OR a wrong conversion
    * drops join rows and fails the compare. */
  private def excelCharsetQ(s: SparkSession, dir: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    val fixDir = Paths.get("/tmp/graft_fixtures/charset")
    val convDir = Paths.get(CharsetUtf8Dir)
    Files.createDirectories(fixDir); Files.createDirectories(convDir)
    val csv = "id,name,city\n" +
      CharsetFixtureRows.map { case (i, n, c) => s"$i,$n,$c" }.mkString("\n") + "\n"
    Files.write(fixDir.resolve("latin1.csv"), csv.getBytes("ISO-8859-1"))
    Files.write(fixDir.resolve("utf16.csv"),
      Array[Byte](0xff.toByte, 0xfe.toByte) ++ csv.getBytes("UTF-16LE"))
    writeXlsxShared(fixDir.resolve("book.xlsx").toString, CharsetFixtureRows)
    // same logical table as a legacy BIFF8 workbook (ministream container,
    // RK ids + compressed/UTF-16 SST strings) — the XlsRead arm of S12
    graft.ingest.XlsWrite.write(fixDir.resolve("book.xls").toString,
      Seq("id", "name", "city"),
      CharsetFixtureRows.map { case (i, n, c) => Seq[Any](i, n, c) },
      forceRegularFat = false)
    Seq("latin1.csv", "utf16.csv", "book.xlsx", "book.xls").map { label =>
      val p = fixDir.resolve(label).toString
      val charset =
        if (label.endsWith(".xlsx")) "xlsx"
        else if (label.endsWith(".xls")) "xls-biff8"
        else graft.ingest.RobustCsv.detectCharset(s, p)
      val df = graft.ingest.RobustCsv.read(s, p)
        .getOrElse(sys.error(s"unreadable charset fixture $label"))
        .select(col("id").cast("long").as("id"), col("name"), col("city"))
      // UTF-8 conversion copy for the oracle (bounded: 6 fixture rows)
      val data = df.orderBy("id").collect()
      Files.write(convDir.resolve(label + ".csv"),
        ("id,name,city\n" + data.map(r =>
          s"${r.getLong(0)},${r.getString(1)},${r.getString(2)}").mkString("\n") + "\n")
          .getBytes("UTF-8"))
      df.select(lit(label).as("file"), lit(charset).as("charset"),
        col("id"), col("name"), col("city"))
    }.reduce(_ unionByName _).orderBy("file", "id")
  }

  /** Minimal sharedStrings .xlsx writer (fixture): numeric `id` cells plus
    * shared-string name/city cells — the workbook shape `ExcelRead`
    * decodes via the sharedStrings table. */
  private def writeXlsxShared(path: String, rows: Seq[(Long, String, String)]): Unit = {
    val strings = ("id" +: "name" +: "city" +: rows.flatMap(r => Seq(r._2, r._3))).distinct
    val sidx = strings.zipWithIndex.toMap
    def sCell(ref: String, v: String) = s"""<c r="$ref" t="s"><v>${sidx(v)}</v></c>"""
    def nCell(ref: String, v: Long) = s"""<c r="$ref"><v>$v</v></c>"""
    val header = s"""<row r="1">${sCell("A1", "id")}${sCell("B1", "name")}${sCell("C1", "city")}</row>"""
    val body = rows.zipWithIndex.map { case ((id, n, c), i) =>
      val r = i + 2
      s"""<row r="$r">${nCell(s"A$r", id)}${sCell(s"B$r", n)}${sCell(s"C$r", c)}</row>"""
    }.mkString
    val zos = new java.util.zip.ZipOutputStream(
      java.nio.file.Files.newOutputStream(java.nio.file.Paths.get(path)))
    def entry(name: String, content: String): Unit = {
      zos.putNextEntry(new java.util.zip.ZipEntry(name))
      zos.write(content.getBytes("UTF-8")); zos.closeEntry()
    }
    entry("xl/workbook.xml",
      """<?xml version="1.0"?><workbook><sheets><sheet name="S1" sheetId="1"/></sheets></workbook>""")
    entry("xl/sharedStrings.xml",
      s"""<?xml version="1.0"?><sst>${strings.map(v => s"<si><t>$v</t></si>").mkString}</sst>""")
    entry("xl/worksheets/sheet1.xml",
      s"""<?xml version="1.0"?><worksheet><sheetData>$header$body</sheetData></worksheet>""")
    zos.close()
  }

  private def excelCharsetSql: String = {
    val files = Seq("latin1.csv" -> "ISO-8859-1", "utf16.csv" -> "UTF-16LE",
      "book.xlsx" -> "xlsx", "book.xls" -> "xls-biff8")
    val exp = files.flatMap { case (f, cs) =>
      CharsetFixtureRows.map { case (id, n, c) =>
        s"('$f', '$cs', $id, '$n', '$c')"
      }
    }.mkString(",\n  ")
    val conv = files.map { case (f, _) =>
      s"""SELECT '$f' AS file, id, name, city
         |  FROM read_csv('$CharsetUtf8Dir/$f.csv', header=true,
         |    columns={'id': 'BIGINT', 'name': 'VARCHAR', 'city': 'VARCHAR'})"""
        .stripMargin
    }.mkString("\n  UNION ALL ")
    // expected literals JOIN the engine-converted UTF-8 copies: a wrong
    // decode (or a conversion that doesn't match the in-memory read)
    // drops rows from the join and the compare fails on row count
    s"""WITH exp(file, charset, id, name, city) AS (VALUES
       |  $exp),
       |conv AS (
       |  $conv)
       |SELECT e.file, e.charset, CAST(e.id AS BIGINT) AS id, e.name, e.city
       |FROM exp e JOIN conv c
       |  ON c.file = e.file AND c.id = e.id AND c.name = e.name AND c.city = e.city
       |ORDER BY e.file, e.id""".stripMargin
  }

  private val JsonlDir = "/tmp/graft_fixtures/jsonl"

  /** Fixture rows for `s_jsonl_scan` — stated once, shared with the
    * oracle-SQL generator (the charset-fixture pattern): (id, Title,
    * meta.lang, meta.score). Row 4 has no meta object (null flattening),
    * row 6's title carries an escaped quote + non-ASCII.
    */
  private val JsonlFixtureRows: Seq[(Long, String, Option[(String, Long)])] = Seq(
    (1L, "alpha doc", Some(("en", 90L))),
    (2L, "beta \\\"quoted\\\"", Some(("de", 75L))),
    (3L, "gamma søk", Some(("no", 60L))),
    (4L, "delta bare", None),
    (5L, "epsilon doc", Some(("en", 40L))),
    (6L, "zeta doc", Some(("fr", 85L))))

  /** JSONL corpus ingest, oracle-verified: a plain shard (with one corrupt
    * line and one meta-less row) plus a gzipped shard of the same logical
    * stream. The robust reader must parse both, flatten `meta.*`,
    * lowercase the `Title` key, and account for the corrupt line instead
    * of failing — DuckDB replays with `read_json(ignore_errors)` and
    * literal expected counts. */
  private def jsonlScanQ(s: SparkSession, dir: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    val fixDir = Paths.get(JsonlDir)
    Files.createDirectories(fixDir)
    def line(r: (Long, String, Option[(String, Long)])): String = r match {
      case (id, title, meta) =>
        val m = meta.map { case (l, sc) => s""","meta":{"lang":"$l","score":$sc}""" }.getOrElse("")
        s"""{"id":$id,"Title":"$title"$m}"""
    }
    val (head, tail) = JsonlFixtureRows.splitAt(4)
    val plain = (head.map(line) :+ """{"id":999,"Title": broken""").mkString("\n") + "\n"
    Files.write(fixDir.resolve("shard0.jsonl"), plain.getBytes("UTF-8"))
    val gz = new java.util.zip.GZIPOutputStream(
      Files.newOutputStream(fixDir.resolve("shard1.jsonl.gz")))
    gz.write((tail.map(line).mkString("\n") + "\n").getBytes("UTF-8")); gz.close()
    val docs = graft.ingest.JsonlRead.read(s, fixDir.toString)
    val report = graft.ingest.JsonlRead.ingestReport(s, fixDir.toString)
    docs.filter(col("corrupt_line").isNull)
      .join(report, Seq("src_file"))
      .select(col("src_file").as("file"), col("n_corrupt"),
        col("id").cast("long").as("id"), col("title"),
        col("meta_lang").as("lang"), col("meta_score").cast("long").as("score"))
      .orderBy("file", "id")
  }

  // JSONL ingest replay: DuckDB parses the same shards (gz transparent)
  // with ignore_errors, so parsed values come from the FILES, not from
  // the engine; the corrupt counts are stated as literals the way the
  // charset fixture states its expected rows (shard0 carries exactly
  // one corrupt line by construction, shard1 none).
  private def jsonlScanSql: String = {
    val jcols = "columns={'id': 'BIGINT', 'Title': 'VARCHAR', " +
      "'meta': 'STRUCT(lang VARCHAR, score BIGINT)'}"
    s"""WITH u AS (
       |  SELECT 'shard0.jsonl' AS file, 1 AS n_corrupt, id, "Title" AS title,
       |    meta.lang AS lang, meta.score AS score
       |  FROM read_json('$JsonlDir/shard0.jsonl',
       |    format='newline_delimited', ignore_errors=true, $jcols)
       |  UNION ALL
       |  SELECT 'shard1.jsonl.gz', 0, id, "Title", meta.lang, meta.score
       |  FROM read_json('$JsonlDir/shard1.jsonl.gz',
       |    format='newline_delimited', ignore_errors=true, $jcols))
       |SELECT file, CAST(n_corrupt AS BIGINT) AS n_corrupt, id, title, lang, score
       |FROM u
       |WHERE id IS NOT NULL OR title IS NOT NULL OR lang IS NOT NULL
       |   OR score IS NOT NULL -- ignore_errors renders a skipped line all-NULL
       |ORDER BY file, id""".stripMargin
  }

  /** Corpus sink roundtrip: write documents hive-partitioned by lang
    * into 4 deterministic hash shards with a manifest, read the files
    * back, reconcile against the manifest, and report only shards whose
    * counts AND checksums agree — any write/manifest drift drops rows
    * and fails the compare. The oracle recomputes the shard assignment
    * from the hash formula. */
  private def corpusSinkQ(s: SparkSession, dir: String): DataFrame = {
    import graft.store.CorpusSink
    val out = "/tmp/graft_fixtures/corpus_sink"
    CorpusSink.write(
      t(s, dir, "documents").select("doc_id", "lang", "source", "n_chars"),
      out, Seq("lang"), "doc_id", nShards = 4)
    CorpusSink.reconcile(s, out, Seq("lang"), "doc_id")
      .filter(col("ok"))
      .select(col("lang"), col("shard").cast("long").as("shard"),
        col("rows_manifest").as("n_rows"),
        col("checksum_manifest").as("id_checksum"))
      .orderBy("lang", "shard")
  }

  /** s_corpus_sink: recompute the deterministic shard assignment
    * (md5_low32(doc_id:corpus0) % 4) and the per-(lang, shard) manifest
    * stats straight from the documents table — the engine's value must
    * have survived write → files → read-back → reconcile intact. */
  private def corpusSinkSql: String =
    """SELECT lang,
      |  CAST((md5_number_lower(CAST(doc_id AS VARCHAR) || ':corpus0')
      |        & 4294967295) % 4 AS BIGINT) AS shard,
      |  count(*) AS n_rows, CAST(sum(doc_id) AS BIGINT) AS id_checksum
      |FROM documents
      |GROUP BY lang, shard ORDER BY lang, shard""".stripMargin

  /** Deterministic 5-fold cross-validation assignment over documents
    * ([[graft.sources.Splits.kFold]]) — per (fold, lang) counts with an
    * id checksum pinning the exact assignment.
    */
  private def kFoldQ(s: SparkSession, dir: String): DataFrame =
    graft.sources.Splits.kFold(t(s, dir, "documents"), "doc_id", 5)
      .groupBy("fold", "lang")
      .agg(count(lit(1)).as("n"), sum(col("doc_id")).cast("long").as("id_checksum"))
      .orderBy("fold", "lang")

  /** d_kfold: deterministic md5-mod-k fold assignment, pinned by the
    * per-(fold, lang) id checksum. */
  private def kFoldSql: String =
    """SELECT CAST((md5_number_lower(CAST(doc_id AS VARCHAR) || ':fold0')
      |    & 4294967295) % 5 AS BIGINT) AS fold,
      |  lang, count(*) AS n, CAST(sum(doc_id) AS BIGINT) AS id_checksum
      |FROM documents GROUP BY 1, 2 ORDER BY fold, lang""".stripMargin

  /** CSV WRITER round-trip: nation written with full quoting and read
    * back through the robust reader path — checksums must equal the
    * source exactly (the export side of the ingest contract).
    */
  private def csvWriteRoundtripQ(s: SparkSession, dir: String): DataFrame = {
    val out = s"/tmp/graft_fixtures/csv_write_${math.abs(dir.hashCode)}"
    val src = t(s, dir, "nation")
    src.coalesce(1).write.mode("overwrite")
      .option("header", "true").option("quoteAll", "true").csv(out)
    s.read.option("header", "true")
      .schema(src.schema).csv(out)
      .agg(count(lit(1)).as("n_rows"),
        sum(col("n_nationkey")).cast("long").as("key_sum"),
        sum(length(col("n_name"))).cast("long").as("name_len_sum"),
        sum(col("n_regionkey")).cast("long").as("region_sum"))
  }

  // s_csv_write_roundtrip: the writer must round-trip losslessly —
  // the oracle checksums the SOURCE table directly.
  private def csvWriteRoundtripSql: String =
    """SELECT count(*) AS n_rows, CAST(sum(n_nationkey) AS BIGINT) AS key_sum,
      |  CAST(sum(length(n_name)) AS BIGINT) AS name_len_sum,
      |  CAST(sum(n_regionkey) AS BIGINT) AS region_sum
      |FROM nation""".stripMargin

  /** S7-family, ORC arm: the corpus sink writing ORC instead of parquet
    * — same hive-partitioned, hash-sharded, manifested layout, different
    * columnar codec. The read-back aggregation proves ORC data fidelity
    * (ids, text bytes) and the reconcile count proves the manifest
    * matches what the ORC files actually hold. */
  private def orcRoundtripQ(s: SparkSession, dir: String): DataFrame = {
    import graft.store.CorpusSink
    val out = "/tmp/graft_fixtures/corpus_sink_orc"
    CorpusSink.write(
      t(s, dir, "documents").select("doc_id", "lang", "text"),
      out, Seq("lang"), "doc_id", nShards = 2, salt = "orc0", format = "orc")
    val ok = CorpusSink.reconcile(s, out, Seq("lang"), "doc_id", format = "orc")
      .filter(col("ok")).agg(count(lit(1)).as("n_ok_shards"))
    s.read.orc(out)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("doc_id")).cast("long").as("id_checksum"),
        sum(length(col("text"))).cast("long").as("text_chars"))
      .crossJoin(broadcast(ok))
      .orderBy("lang")
  }

  // ORC sink round-trip: the oracle aggregates the ORIGINAL parquet —
  // green iff the ORC write+read preserved every id and text char —
  // and replays the shard hash to count the reconciled shards
  private def orcRoundtripSql: String =
    """WITH base AS (SELECT lang,
      |    CAST((md5_number_lower(CAST(doc_id AS VARCHAR) || ':orc0')
      |          & 4294967295) % 2 AS BIGINT) AS shard,
      |    doc_id, length(text) AS tc FROM documents),
      |ok AS (SELECT count(*) AS n_ok_shards
      |       FROM (SELECT DISTINCT lang, shard FROM base))
      |SELECT lang, count(*) AS n_docs,
      |  CAST(sum(doc_id) AS BIGINT) AS id_checksum,
      |  CAST(sum(tc) AS BIGINT) AS text_chars,
      |  (SELECT n_ok_shards FROM ok) AS n_ok_shards
      |FROM base GROUP BY lang ORDER BY lang""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("s2_compressed_roundtrip", compressedRoundtrip, compressedRoundtripSql),
    QuerySpec("s3_ingest_hygiene", ingestHygiene, ingestHygieneSql),
    QuerySpec("s10_split_roundtrip", splitRoundtrip, splitRoundtripSql),
    QuerySpec("s5_sidecar_merge", sidecarMerge, sidecarMergeSql),
    QuerySpec("o7_seeded_shuffle", seededShuffleQ, seededShuffleSql),
    QuerySpec("s12_excel_charset", excelCharsetQ, excelCharsetSql),
    QuerySpec("s_jsonl_scan", jsonlScanQ, jsonlScanSql),
    QuerySpec("s_corpus_sink", corpusSinkQ, corpusSinkSql),
    QuerySpec("d_kfold", kFoldQ, kFoldSql),
    QuerySpec("s_csv_write_roundtrip", csvWriteRoundtripQ, csvWriteRoundtripSql),
    QuerySpec("s_orc_roundtrip", orcRoundtripQ, orcRoundtripSql))
}
