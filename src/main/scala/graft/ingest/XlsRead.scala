package graft.ingest

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Legacy `.xls` (BIFF8, Excel 97-2003) reader — the pre-2007 arm of the
  * reference's final ingest fallback (`pd.read_excel`,
  * `/root/reference/tabsketchfm/data_processing/data_prep.py:78`, which
  * routes `.xls` through xlrd). Pure JVM, no POI: a `.xls` file is an
  * OLE2/CFB compound container (public spec [MS-CFB]) holding a
  * `Workbook` stream of BIFF8 records (public spec [MS-XLS]); both are
  * small fixed binary formats. First worksheet only, cached cell values
  * only — exactly the slice `pd.read_excel` consumes for tabular data.
  *
  * Driver-side single-node BY DESIGN, the same stance as [[ExcelRead]]:
  * `.xls` caps at 65 536 rows × 256 columns — an interchange format, not
  * a scan format. Anything at engine scale arrives as CSV/parquet and
  * takes the distributed path.
  */
object XlsRead {

  /** Read the first worksheet of a BIFF8 `.xls`; None when the file is
    * not a readable workbook (the caller's fallback chain moves on). */
  def read(spark: SparkSession, path: String, rowCap: Int = Int.MaxValue): Option[DataFrame] =
    ExcelRead.readLocalFile(path)(readLocal(spark, _, rowCap))

  private def readLocal(spark: SparkSession, file: java.io.File, rowCap: Int): Option[DataFrame] = {
    val bytes = java.nio.file.Files.readAllBytes(file.toPath)
    workbookStream(bytes).flatMap(parseWorkbook(spark, _, rowCap))
  }

  // ---------------------------------------------------------------- CFB

  private val CfbMagic =
    Array(0xD0, 0xCF, 0x11, 0xE0, 0xA1, 0xB1, 0x1A, 0xE1).map(_.toByte)

  /** Extract the `Workbook` stream bytes from an OLE2/CFB container —
    * FAT chains for regular streams, MiniFAT over the root's ministream
    * for streams under the 4096-byte cutoff ([MS-CFB] §2).
    */
  private[ingest] def workbookStream(b: Array[Byte]): Option[Array[Byte]] = {
    if (b.length < 512 || !b.take(8).sameElements(CfbMagic)) return None
    val bb = java.nio.ByteBuffer.wrap(b).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def u16(off: Int) = bb.getShort(off) & 0xffff
    def i32(off: Int) = bb.getInt(off)
    val sectorSize = 1 << u16(30) // 512 (v3) / 4096 (v4)
    val nbSectors = b.length / sectorSize // conservative chain-walk bound
    val firstDir = i32(48)
    val miniCutoff = i32(56)
    val firstMiniFat = i32(60)
    val firstDifat = i32(68)
    def sectorOff(s: Int) = (s + 1) * sectorSize // header occupies sector "-1"

    // FAT sector list: 109 header DIFAT slots + chained DIFAT sectors
    val fatSectors = mutable.ArrayBuffer.empty[Int]
    for (i <- 0 until 109) { val s = i32(76 + 4 * i); if (s >= 0) fatSectors += s }
    var difat = firstDifat
    var dGuard = 0
    while (difat >= 0 && dGuard <= nbSectors) {
      val off = sectorOff(difat)
      for (i <- 0 until sectorSize / 4 - 1) {
        val s = i32(off + 4 * i); if (s >= 0) fatSectors += s
      }
      difat = i32(off + sectorSize - 4); dGuard += 1
    }
    val perSector = sectorSize / 4
    val fat = new Array[Int](fatSectors.length * perSector)
    fatSectors.zipWithIndex.foreach { case (s, i) =>
      val off = sectorOff(s)
      for (j <- 0 until perSector)
        fat(i * perSector + j) = if (off + 4 * j + 4 <= b.length) i32(off + 4 * j) else -1
    }
    def chain(start: Int): Seq[Int] = {
      val out = mutable.ArrayBuffer.empty[Int]
      var s = start
      while (s >= 0 && s < fat.length && out.size <= nbSectors) { out += s; s = fat(s) }
      out.toSeq
    }
    def readChain(start: Int): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      chain(start).foreach { s =>
        val off = sectorOff(s)
        if (off < b.length) out.write(b, off, math.min(sectorSize, b.length - off))
      }
      out.toByteArray
    }

    // directory: 128-byte entries (UTF-16LE name, type, start, size)
    val dir = readChain(firstDir)
    final case class Entry(name: String, typ: Int, start: Int, size: Long)
    val entries = (0 until dir.length / 128).map { i =>
      val off = i * 128
      val db = java.nio.ByteBuffer.wrap(dir).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val nameLen = db.getShort(off + 64) & 0xffff // bytes incl. terminator
      val name =
        if (nameLen < 2) ""
        else new String(dir, off, nameLen - 2, java.nio.charset.StandardCharsets.UTF_16LE)
      Entry(name, dir(off + 66) & 0xff, db.getInt(off + 116),
        db.getInt(off + 120).toLong & 0xffffffffL)
    }
    val root = entries.find(_.typ == 5)
    // BIFF8 stores the stream as "Workbook"; BIFF5's "Book" is a different
    // record dialect this reader does not speak — skip it so the caller
    // falls through rather than mis-parse.
    entries.find(e => e.typ == 2 && e.name == "Workbook").map { e =>
      val raw =
        if (e.size >= miniCutoff || root.isEmpty) readChain(e.start)
        else {
          // ministream: 64-byte mini sectors carved from the root chain,
          // linked by the MiniFAT (itself a regular FAT chain)
          val mini = readChain(root.get.start)
          val miniFatBytes = readChain(firstMiniFat)
          val mf = java.nio.ByteBuffer.wrap(miniFatBytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
          val out = new java.io.ByteArrayOutputStream()
          var s = e.start
          var guard = 0
          while (s >= 0 && 4 * s + 4 <= miniFatBytes.length && guard <= miniFatBytes.length / 4) {
            val off = s * 64
            if (off < mini.length) out.write(mini, off, math.min(64, mini.length - off))
            s = mf.getInt(4 * s); guard += 1
          }
          out.toByteArray
        }
      raw.take(math.min(e.size, Int.MaxValue.toLong).toInt)
    }.filter(_.nonEmpty)
  }

  // -------------------------------------------------------------- BIFF8

  /** Cursor over a byte range split into segments (SST + its CONTINUE
    * records). Char data may split at a segment boundary, where a fresh
    * compressed/UTF-16 flag byte is present ([MS-XLS] §2.5.293); headers
    * and counts never split.
    */
  private final class SegCursor(buf: Array[Byte], segs: IndexedSeq[(Int, Int)]) {
    private var seg = 0
    private var p = if (segs.nonEmpty) segs(0)._1 else 0
    private def segEnd: Int = segs(seg)._1 + segs(seg)._2
    private def remainingInSeg: Int = segEnd - p
    /** Move to the next segment; false when exhausted. */
    private def advance(): Boolean =
      if (seg + 1 < segs.length) { seg += 1; p = segs(seg)._1; true } else false
    def hasMore: Boolean = remainingInSeg > 0 || (advance() && hasMore)
    def u8(): Int = {
      while (remainingInSeg == 0 && advance()) {}
      val v = buf(p) & 0xff; p += 1; v
    }
    def u16(): Int = u8() | (u8() << 8)
    def i32(): Int = u16() | (u16() << 16)
    def skip(n: Int): Unit = {
      var left = n
      while (left > 0 && hasMore) {
        val t = math.min(left, remainingInSeg); p += t; left -= t
      }
    }
    /** XLUnicodeRichExtendedString: header (never split), char data (may
      * split at a segment boundary, where a fresh compressed/UTF-16 flag
      * byte leads the continuation), then rich/ext payloads (skipped). */
    def readString(): String = {
      val cch = u16()
      val flags = u8()
      val cRun = if ((flags & 0x08) != 0) u16() else 0
      val cbExt = if ((flags & 0x04) != 0) i32() else 0
      val sb = new java.lang.StringBuilder(cch)
      var high = (flags & 0x01) != 0
      var left = cch
      while (left > 0) {
        if (remainingInSeg == 0) {
          if (!advance()) left = 0 // truncated input: stop
          else high = (u8() & 0x01) != 0 // continuation's fresh flag byte
        } else {
          val avail = if (high) remainingInSeg / 2 else remainingInSeg
          val take = math.min(left, avail)
          if (take == 0) p = segEnd // stray odd byte before boundary
          var i = 0
          while (i < take) {
            sb.append(if (high) u16().toChar else (u8() & 0xff).toChar)
            i += 1
          }
          left -= take
        }
      }
      skip(4 * cRun + cbExt)
      sb.toString
    }
  }

  private def u16At(b: Array[Byte], off: Int) = (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)
  private def i32At(b: Array[Byte], off: Int) =
    u16At(b, off) | (u16At(b, off + 2) << 16)

  /** RK-compressed number ([MS-XLS] §2.5.217). */
  private[ingest] def rkValue(rk: Int): Double = {
    val v =
      if ((rk & 2) != 0) (rk >> 2).toDouble // signed 30-bit integer
      else java.lang.Double.longBitsToDouble((rk & ~3).toLong << 32) // high 30 bits of a double
    if ((rk & 1) != 0) v / 100 else v
  }

  /** Integral doubles render without the ".0" so downstream numeric
    * inference sees the same strings the xlsx reader's raw `<v>` yields. */
  private def numToStr(d: Double): String =
    if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString else d.toString

  /** Inline BIFF8 unicode string at `off` (cell LABEL / STRING record):
    * cch u16, flags u8, chars. No CONTINUE handling — inline cell strings
    * live inside one record. */
  private def inlineString(b: Array[Byte], off: Int): String = {
    val cch = u16At(b, off)
    val flags = b(off + 2) & 0xff
    var p = off + 3
    if ((flags & 0x08) != 0) p += 2 // rich-run count
    if ((flags & 0x04) != 0) p += 4 // ext size
    if ((flags & 0x01) != 0)
      new String(b, p, 2 * cch, java.nio.charset.StandardCharsets.UTF_16LE)
    else {
      val cs = new Array[Char](cch)
      var i = 0
      while (i < cch) { cs(i) = (b(p + i) & 0xff).toChar; i += 1 }
      new String(cs)
    }
  }

  private[ingest] def parseWorkbook(spark: SparkSession, wb: Array[Byte], rowCap: Int): Option[DataFrame] = {
    if (wb.length < 4 || u16At(wb, 0) != 0x0809) return None
    // ---- globals pass: SST strings + first worksheet's BOF offset
    val sst = mutable.ArrayBuffer.empty[String]
    val sheetOffsets = mutable.ArrayBuffer.empty[Int]
    var pos = 0
    var done = false
    while (!done && pos + 4 <= wb.length) {
      val id = u16At(wb, pos)
      val len = u16At(wb, pos + 2)
      val data = pos + 4
      id match {
        case 0x0085 => // BOUNDSHEET: lbPlyPos i32, grbit u16 (high byte dt)
          if ((wb(data + 5) & 0xff) == 0) sheetOffsets += i32At(wb, data)
        case 0x00FC => // SST (+ CONTINUE segments)
          val segs = mutable.ArrayBuffer((data + 8, len - 8))
          var p2 = data + len
          while (p2 + 4 <= wb.length && u16At(wb, p2) == 0x003C) {
            val cl = u16At(wb, p2 + 2)
            segs += ((p2 + 4, cl))
            p2 += 4 + cl
          }
          val n = i32At(wb, data + 4) // cstUnique
          val cur = new SegCursor(wb, segs.toIndexedSeq)
          var i = 0
          while (i < n && cur.hasMore) { sst += cur.readString(); i += 1 }
        case 0x000A => done = true // globals EOF
        case _ =>
      }
      pos += 4 + len
    }
    sheetOffsets.headOption.flatMap { off =>
      parseSheet(spark, wb, off, sst.toIndexedSeq, rowCap)
    }
  }

  private def parseSheet(spark: SparkSession, wb: Array[Byte], sheetOff: Int,
                         sst: IndexedSeq[String], rowCap: Int): Option[DataFrame] = {
    val cells = mutable.Map.empty[(Int, Int), String]
    var pos = sheetOff
    var done = false
    var pendingFormula: Option[(Int, Int)] = None // STRING record target
    def put(r: Int, c: Int, v: String): Unit =
      if (r <= rowCap && v != null) cells((r, c)) = v
    while (!done && pos + 4 <= wb.length) {
      val id = u16At(wb, pos)
      val len = u16At(wb, pos + 2)
      val d = pos + 4
      id match {
        case 0x00FD => // LABELSST: rw, col, ixfe, isst
          val s = sst.lift(i32At(wb, d + 6)).orNull
          put(u16At(wb, d), u16At(wb, d + 2), s)
        case 0x0203 => // NUMBER: rw, col, ixfe, xnum f64
          val bits = (0 until 8).foldRight(0L)((i, acc) => (acc << 8) | (wb(d + 6 + i) & 0xffL))
          put(u16At(wb, d), u16At(wb, d + 2),
            numToStr(java.lang.Double.longBitsToDouble(bits)))
        case 0x027E => // RK: rw, col, ixfe, RK
          put(u16At(wb, d), u16At(wb, d + 2), numToStr(rkValue(i32At(wb, d + 6))))
        case 0x00BD => // MULRK: rw, colFirst, (ixfe+RK)*, colLast
          val rw = u16At(wb, d); val colFirst = u16At(wb, d + 2)
          val nCells = (len - 6) / 6
          for (i <- 0 until nCells)
            put(rw, colFirst + i, numToStr(rkValue(i32At(wb, d + 4 + 6 * i + 2))))
        case 0x0204 => // LABEL: rw, col, ixfe, inline string
          put(u16At(wb, d), u16At(wb, d + 2), inlineString(wb, d + 6))
        case 0x0205 => // BOOLERR: rw, col, ixfe, value, fError
          if ((wb(d + 7) & 0xff) == 0)
            put(u16At(wb, d), u16At(wb, d + 2),
              if ((wb(d + 6) & 0xff) != 0) "TRUE" else "FALSE")
        case 0x0006 => // FORMULA: cached result (string results follow in STRING)
          val rw = u16At(wb, d); val c = u16At(wb, d + 2)
          if (u16At(wb, d + 12) == 0xFFFF) (wb(d + 6) & 0xff) match {
            case 0 => pendingFormula = Some((rw, c)) // STRING record next
            case 1 => put(rw, c, if ((wb(d + 8) & 0xff) != 0) "TRUE" else "FALSE")
            case _ => // error / empty → null
          } else {
            val bits = (0 until 8).foldRight(0L)((i, acc) => (acc << 8) | (wb(d + 6 + i) & 0xffL))
            put(rw, c, numToStr(java.lang.Double.longBitsToDouble(bits)))
          }
        case 0x0207 => // STRING: pending formula's cached text
          pendingFormula.foreach { case (r, c) => put(r, c, inlineString(wb, d)) }
          pendingFormula = None
        case 0x000A => done = true
        case _ =>
      }
      pos += 4 + len
    }
    if (cells.isEmpty) return None
    val maxRow = math.min(cells.keys.map(_._1).max, rowCap)
    val width = cells.keys.map(_._2).max + 1
    val grid = (0 to maxRow).map { r =>
      (0 until width).map(c => cells.getOrElse((r, c), null)).toSeq
    }.dropWhile(_.forall(_ == null))
    grid.headOption.map { header =>
      val schema = StructType(header.zipWithIndex.map { case (h, i) =>
        StructField(Option(h).filter(_.nonEmpty).getOrElse(s"col$i"), StringType, nullable = true)
      })
      val data = grid.tail.filter(_.exists(_ != null)).map(Row.fromSeq)
      ExcelRead.inferNumeric(spark.createDataFrame(data.asJava, schema))
    }
  }
}
