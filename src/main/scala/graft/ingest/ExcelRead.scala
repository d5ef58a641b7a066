package graft.ingest

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import scala.jdk.CollectionConverters._
import scala.xml.{Node, XML}

/** Last-resort Excel reader (S12) — the reference's final ingest fallback
  * is `pd.read_excel` (`/root/reference/tabsketchfm/data_processing/
  * data_prep.py:78`). An .xlsx file is a zip of XML parts, so the JDK zip
  * reader plus scala-xml (both already on the Spark classpath) cover it
  * without a POI dependency: first worksheet + shared strings → an
  * all-string DataFrame with the first row as header.
  *
  * Driver-side single-node by design, exactly like the reference's pandas
  * path: xlsx is a small-file interchange format (the zip central
  * directory tops out at 4 GiB), not a distributed-scan format — anything
  * at engine scale arrives as CSV/parquet and takes the distributed path.
  */
object ExcelRead {

  /** Read the first worksheet of an .xlsx; None when the file is not a
    * readable workbook (so the caller's fallback chain moves on).
    */
  def read(spark: SparkSession, path: String, rowCap: Int = Int.MaxValue): Option[DataFrame] =
    readLocalFile(path)(readLocal(spark, _, rowCap))

  /** `read` of a local workbook file, shared with [[XlsRead]]: `path`
    * is tried as a `file:` URI, then as a plain path; None when neither
    * reads. */
  private[ingest] def readLocalFile(path: String)(
      read: java.io.File => Option[DataFrame]): Option[DataFrame] =
    try read(new java.io.File(new java.net.URI(path).getPath))
    catch {
      case _: Exception =>
        try read(new java.io.File(path))
        catch { case _: Exception => None }
    }

  private def readLocal(spark: SparkSession, file: java.io.File, rowCap: Int): Option[DataFrame] = {
    val zip = new java.util.zip.ZipFile(file)
    try {
      val entries = zip.entries().asScala.map(_.getName).toSeq
      val sheetName = entries.filter(_.matches("xl/worksheets/sheet[0-9]+\\.xml")).sorted.headOption
      sheetName.flatMap { sheet =>
        val shared = entries.find(_ == "xl/sharedStrings.xml").map { ss =>
          // rich-text runs: concatenate every <t> under each <si>
          (XML.load(zip.getInputStream(zip.getEntry(ss))) \ "si")
            .map(si => (si \\ "t").map(_.text).mkString).toIndexedSeq
        }.getOrElse(IndexedSeq.empty)
        val rows = (XML.load(zip.getInputStream(zip.getEntry(sheet))) \\ "row")
          .take(math.max(rowCap, rowCap + 1)) // the header + rowCap rows, no overflow
          .map(parseRow(_, shared))
        rows.headOption.filter(_.nonEmpty).map { header =>
          val width = header.length
          val schema = StructType(header.zipWithIndex.map { case (h, i) =>
            StructField(Option(h).filter(_.nonEmpty).getOrElse(s"col$i"), StringType, nullable = true)
          })
          val data = rows.tail.map { r =>
            Row.fromSeq(r.padTo(width, null).take(width))
          }
          inferNumeric(spark.createDataFrame(data.asJava, schema))
        }
      }
    } finally zip.close()
  }

  /** One <row>: cells placed by their A1-style reference (sheets store
    * sparse cells), shared-string / inline-string / raw-value decoded.
    */
  private def parseRow(row: Node, shared: IndexedSeq[String]): Seq[String] = {
    val cells = (row \ "c").map { c =>
      val idx = colIndex((c \@ "r").takeWhile(_.isLetter))
      val v = (c \@ "t") match {
        case "s" =>
          (c \ "v").text.toIntOption.flatMap(shared.lift).orNull
        case "inlineStr" => (c \\ "t").map(_.text).mkString
        case _ =>
          val raw = (c \ "v").text
          if (raw.isEmpty) null else raw
      }
      idx -> v
    }
    if (cells.isEmpty) Seq.empty
    else {
      val width = cells.map(_._1).max + 1
      val out = Array.fill[String](width)(null)
      cells.foreach { case (i, v) => if (i >= 0) out(i) = v }
      out.toSeq
    }
  }

  /** "BC" → 54 (0-based): base-26 column letters. Cells without a ref
    * yield -1 and are dropped. */
  private def colIndex(letters: String): Int =
    if (letters.isEmpty) -1
    else letters.foldLeft(0)((acc, ch) => acc * 26 + (ch.toUpper - 'A' + 1)) - 1

  /** Numeric inference over the all-string frame — the `pd.read_excel`
    * typing the reference relies on: a column whose every non-null value
    * casts cleanly becomes long (else double); one aggregation pass, same
    * vote shape as `RobustCsv.promoteDates`.
    */
  private[ingest] def inferNumeric(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    if (df.isEmpty) return df
    val aggs = df.columns.flatMap { c =>
      val v = col(s"`$c`")
      // try_cast, not cast: ANSI mode makes a malformed cast THROW
      val asL = expr(s"try_cast(`$c` AS BIGINT)")
      val asD = expr(s"try_cast(`$c` AS DOUBLE)")
      Seq(count(when(v.isNotNull, 1)).as(c + "__n"),
        count(when(v.isNotNull && asL.isNull, 1)).as(c + "__badL"),
        count(when(v.isNotNull && asD.isNull, 1)).as(c + "__badD"))
    }
    val r = df.agg(aggs.head, aggs.tail.toIndexedSeq: _*).collect()(0)
    df.columns.foldLeft(df) { (acc, c) =>
      val (n, badL, badD) = (r.getAs[Long](c + "__n"),
        r.getAs[Long](c + "__badL"), r.getAs[Long](c + "__badD"))
      if (n == 0) acc
      else if (badL == 0) acc.withColumn(c, col(s"`$c`").cast("long"))
      else if (badD == 0) acc.withColumn(c, col(s"`$c`").cast("double"))
      else acc
    }
  }
}
