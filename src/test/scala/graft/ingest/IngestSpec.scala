package graft.ingest

import graft.SparkSpec
import java.nio.file.{Files, Paths}

class RobustCsvSpec extends SparkSpec {

  private def writeCsv(name: String, content: String): String = {
    val dir = Files.createTempDirectory("graft_csv")
    val p = dir.resolve(name)
    Files.writeString(p, content)
    p.toString
  }

  test("strict csv read with header, null empties, row_index drop") {
    val p = writeCsv("a.csv",
      "row_index,Name ,AMT\n0,alice,1.5\n1,bob,\n2,carol,3.0\n3,dan,4\n4,eve,5\n")
    val df = RobustCsv.read(spark, p).get
    assert(df.columns.sameElements(Array("name", "amt"))) // sanitized + dropped
    assert(df.count() == 5)
    assert(df.filter(df("amt").isNull).count() == 1)
  }

  test("small tables (<5 rows) are rejected (data_prep.py:139-141)") {
    val p = writeCsv("small.csv", "a,b\n1,2\n3,4\n")
    assert(RobustCsv.read(spark, p).isEmpty)
  }

  test("delimiter sniffing falls back for ';' files") {
    val p = writeCsv("semi.csv",
      "x;y\n1;one\n2;two\n3;three\n4;four\n5;five\n")
    val df = RobustCsv.read(spark, p).get
    assert(df.columns.sameElements(Array("x", "y")))
    assert(df.count() == 5)
  }

  test("bz2-compressed csv reads transparently") {
    val dir = Files.createTempDirectory("graft_bz2")
    val raw = "k,v\n1,a\n2,b\n3,c\n4,d\n5,e\n"
    val p = dir.resolve("c.csv.bz2")
    val out = new org.apache.hadoop.io.compress.BZip2Codec()
    // write via java: use Apache Hadoop codec through a local stream
    val conf = new org.apache.hadoop.conf.Configuration()
    out.setConf(conf)
    val os = out.createOutputStream(Files.newOutputStream(p))
    os.write(raw.getBytes("UTF-8")); os.close()
    val df = RobustCsv.read(spark, p.toString).get
    assert(df.count() == 5)
  }

  test("string date columns promote with appended _DATE column LAST") {
    val p = writeCsv("d.csv",
      "id,when\n1,2021-01-01\n2,2021-02-03\n3,03/04/2021\n4,2021-05-06\n5,7-Mar-2021\n")
    val df = RobustCsv.read(spark, p).get
    assert(df.columns.last == "when_DATE")
    assert(df.filter(df("when_DATE").isNull).count() == 0)
    // the ORIGINAL column keeps string values but is re-classified DATE
    // for type votes (get_types split, data_prep.py:92-98)
    def logicalType(c: String) = graft.profile.Profiler.logicalType(df.schema(c))
    assert(logicalType("when") == "date")
    assert(logicalType("when_DATE") == "date")
    assert(logicalType("id") == "integer")
    assert(df.schema("when").dataType == org.apache.spark.sql.types.StringType)
  }

  test("sanitizeName strips quotes, removes newlines/commas, lowers") {
    // exact reference semantics: ',' and '\n' removed, not replaced
    assert(RobustCsv.sanitizeName("\" First,Name \"") == "firstname")
    assert(RobustCsv.sanitizeName("A\nB") == "ab")
    assert(RobustCsv.sanitizeName("' Price '") == "price")
  }
}

class AugmentSpec extends SparkSpec {
  import spark.implicits._

  private lazy val df = Seq((1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0))
    .toDF("k", "s", "v")

  test("obscureColumns renames to colN (data_prep.py:196-200)") {
    assert(Augment.obscureColumns(df).columns.sameElements(Array("col0", "col1", "col2")))
  }

  test("shuffleColumns is a seeded permutation; deterministic") {
    val s1 = Augment.shuffleColumns(df, 7).columns
    val s2 = Augment.shuffleColumns(df, 7).columns
    assert(s1.sameElements(s2))
    assert(s1.sorted.sameElements(df.columns.sorted))
  }

  test("contentHash is row-order independent but content sensitive") {
    val h1 = Augment.contentHash(df).collect()(0).getString(0)
    val h2 = Augment.contentHash(df.orderBy($"v".desc)).collect()(0).getString(0)
    val h3 = Augment.contentHash(df.filter($"k" =!= 2)).collect()(0).getString(0)
    assert(h1 == h2)
    assert(h1 != h3)
  }

  test("lehmerPerm: non-identity bijection, stable across calls") {
    val p = Augment.lehmerPerm(6, 2)
    assert(p.sorted == (0 until 6))
    assert(p != (0 until 6), "permutation degenerated to identity")
    assert(p == Augment.lehmerPerm(6, 2))
    assert(p != Augment.lehmerPerm(6, 3), "aug id must change the order")
    val cols = Augment.shuffleColumnsDet(df, 2).columns.toSeq
    assert(cols == Augment.lehmerPerm(3, 2).map(df.columns))
  }

  test("augmentations: 3 variants, same row count") {
    val augs = Augment.augmentations(df)
    assert(augs.map(_._1) == Seq(0, 1, 2))
    assert(augs.forall(_._2.count() == 3))
    assert(augs(1)._2.columns.head == "col0")
  }
}

class CharsetAndExcelSpec extends SparkSpec {
  import java.nio.file.Files

  test("Latin-1 csv detected and read with correct accents") {
    val dir = Files.createTempDirectory("graft_latin1")
    val p = dir.resolve("l1.csv")
    val content = "city,name\nparis,café\nmünchen,jürgen\noslo,bjørn\nnice,rené\nmadrid,niño\n"
    Files.write(p, content.getBytes("ISO-8859-1"))
    assert(RobustCsv.detectCharset(spark, p.toString) == "ISO-8859-1")
    val df = RobustCsv.read(spark, p.toString).get
    val names = df.select("name").collect().map(_.getString(0)).toSet
    assert(names == Set("café", "jürgen", "bjørn", "rené", "niño"))
  }

  test("UTF-8 input (with accents) stays UTF-8") {
    val dir = Files.createTempDirectory("graft_utf8")
    val p = dir.resolve("u8.csv")
    Files.write(p, "a,b\n1,é\n2,ü\n3,ø\n4,ñ\n5,ç\n".getBytes("UTF-8"))
    assert(RobustCsv.detectCharset(spark, p.toString) == "UTF-8")
    val df = RobustCsv.read(spark, p.toString).get
    assert(df.count() == 5)
  }

  test("UTF-16LE csv (BOM) detected and read with correct accents") {
    val dir = Files.createTempDirectory("graft_utf16")
    val p = dir.resolve("u16.csv")
    val content = "id,name\n1,café\n2,jürgen\n3,bjørn\n4,rené\n5,niño\n"
    val bytes = Array[Byte](0xff.toByte, 0xfe.toByte) ++ content.getBytes("UTF-16LE")
    Files.write(p, bytes)
    assert(RobustCsv.detectCharset(spark, p.toString) == "UTF-16LE")
    val df = RobustCsv.read(spark, p.toString).get
    assert(df.columns.sameElements(Array("id", "name")))
    val names = df.select("name").collect().map(_.getString(0)).toSet
    assert(names == Set("café", "jürgen", "bjørn", "rené", "niño"))
  }

  private def writeXlsx(rows: Seq[Seq[String]]): String = {
    // minimal workbook: one sheet, inline strings
    val dir = Files.createTempDirectory("graft_xlsx")
    val p = dir.resolve("t.xlsx")
    val zos = new java.util.zip.ZipOutputStream(Files.newOutputStream(p))
    def entry(name: String, content: String): Unit = {
      zos.putNextEntry(new java.util.zip.ZipEntry(name))
      zos.write(content.getBytes("UTF-8")); zos.closeEntry()
    }
    def colRef(i: Int): String = { // 0 -> A, 27 -> AB
      var n = i + 1; val sb = new StringBuilder
      while (n > 0) { val r = (n - 1) % 26; sb.insert(0, ('A' + r).toChar); n = (n - 1) / 26 }
      sb.toString
    }
    val sheetRows = rows.zipWithIndex.map { case (r, ri) =>
      val cells = r.zipWithIndex.collect { case (v, ci) if v != null =>
        s"""<c r="${colRef(ci)}${ri + 1}" t="inlineStr"><is><t>$v</t></is></c>"""
      }.mkString
      s"""<row r="${ri + 1}">$cells</row>"""
    }.mkString
    entry("xl/workbook.xml",
      """<?xml version="1.0"?><workbook><sheets><sheet name="S1" sheetId="1"/></sheets></workbook>""")
    entry("xl/worksheets/sheet1.xml",
      s"""<?xml version="1.0"?><worksheet><sheetData>$sheetRows</sheetData></worksheet>""")
    zos.close()
    p.toString
  }

  test("xlsx fallback reads first sheet, header + string cells (S12)") {
    val p = writeXlsx(Seq(
      Seq("Name ", "amt"),
      Seq("alice", "1"), Seq("bob", null), Seq("carol", "3"),
      Seq("dan", "4"), Seq("eve", "5")))
    val df = RobustCsv.read(spark, p).get
    assert(df.columns.sameElements(Array("name", "amt"))) // sanitized like csv
    assert(df.count() == 5)
    assert(df.filter(df("amt").isNull).count() == 1)
    // pd.read_excel-style typing: all-numeric column becomes long,
    // text stays string
    assert(df.schema("amt").dataType == org.apache.spark.sql.types.LongType)
    assert(df.schema("name").dataType == org.apache.spark.sql.types.StringType)
  }

  test("xlsx: formula cells read their CACHED value; only sheet1 is read") {
    // the reference's last resort is pd.read_excel (data_prep.py:78):
    // first sheet only, formulas surface as their stored evaluated value
    // (openpyxl-style cached <v>, never recomputation) — pin both
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft_xlsx_formula")
    val p = dir.resolve("f.xlsx")
    val zos = new java.util.zip.ZipOutputStream(Files.newOutputStream(p))
    def entry(name: String, content: String): Unit = {
      zos.putNextEntry(new java.util.zip.ZipEntry(name))
      zos.write(content.getBytes("UTF-8")); zos.closeEntry()
    }
    entry("xl/workbook.xml",
      """<?xml version="1.0"?><workbook><sheets>""" +
        """<sheet name="S1" sheetId="1"/><sheet name="S2" sheetId="2"/>""" +
        """</sheets></workbook>""")
    def row(ri: Int, a: String, bFormula: (String, String)): String =
      s"""<row r="$ri"><c r="A$ri" t="inlineStr"><is><t>$a</t></is></c>""" +
        s"""<c r="B$ri"><f>${bFormula._1}</f><v>${bFormula._2}</v></c></row>"""
    entry("xl/worksheets/sheet1.xml",
      """<?xml version="1.0"?><worksheet><sheetData>""" +
        """<row r="1"><c r="A1" t="inlineStr"><is><t>k</t></is></c>""" +
        """<c r="B1" t="inlineStr"><is><t>doubled</t></is></c></row>""" +
        (2 to 6).map(i => row(i, s"r$i", (s"2*${i}", (2 * i).toString))).mkString +
        """</sheetData></worksheet>""")
    entry("xl/worksheets/sheet2.xml",
      """<?xml version="1.0"?><worksheet><sheetData>""" +
        """<row r="1"><c r="A1" t="inlineStr"><is><t>OTHER_SHEET</t></is></c></row>""" +
        """</sheetData></worksheet>""")
    zos.close()
    val df = RobustCsv.read(spark, p.toString).get
    assert(df.columns.sameElements(Array("k", "doubled")))
    // formula cells yield the cached evaluated values, typed numeric
    assert(df.schema("doubled").dataType == org.apache.spark.sql.types.LongType)
    assert(df.select("doubled").collect().map(_.getLong(0)).sorted
      .sameElements(Array(4L, 6L, 8L, 10L, 12L)))
    // nothing from sheet2 leaked in
    assert(df.filter(df("k") === "OTHER_SHEET").isEmpty)
  }

  test("non-workbook zip and binary junk fall through to None") {
    val dir = Files.createTempDirectory("graft_junk")
    val p = dir.resolve("junk.bin")
    Files.write(p, Array.fill[Byte](64)(0x7f))
    assert(ExcelRead.read(spark, p.toString).isEmpty)
  }

  test("ExcelRead and XlsRead take a file: URI or a plain path; None when unreadable") {
    // a space in the directory name: the URI form percent-encodes it
    val dir = Files.createTempDirectory("graft excel paths")
    val xlsx = dir.resolve("t.xlsx")
    Files.copy(Paths.get(writeXlsx(Seq(Seq("k", "v"), Seq("1", "a"), Seq("2", "b")))), xlsx)
    val xls = dir.resolve("t.xls")
    XlsWrite.write(xls.toString, Seq("k", "v"), Seq(Seq(1L, "a"), Seq(2L, "b")))
    val readers = Seq[(java.nio.file.Path, String => Option[org.apache.spark.sql.DataFrame])](
      xlsx -> (ExcelRead.read(spark, _)), xls -> (XlsRead.read(spark, _)))
    for ((file, read) <- readers) {
      def values(path: String) = read(path).map(_.orderBy("k").collect().map(_.getString(1)).toSeq)
      assert(values(file.toString) == Some(Seq("a", "b")), file)
      assert(values(file.toUri.toString) == Some(Seq("a", "b")), file)
      assert(read(dir.resolve("missing").toString).isEmpty, file)
      assert(read(dir.resolve("missing").toUri.toString).isEmpty, file)
    }
  }
}
