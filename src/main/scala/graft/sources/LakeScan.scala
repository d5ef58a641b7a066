package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import org.apache.parquet.column.ColumnReader
import org.apache.parquet.column.impl.ColumnReadStoreImpl
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.io.{DelegatingSeekableInputStream, InputFile, SeekableInputStream}
import org.apache.parquet.io.api.{Converter, GroupConverter, PrimitiveConverter}
import org.apache.parquet.schema.{GroupType, LogicalTypeAnnotation, MessageType, Type}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName

/** Distributed lake scanner — the single-job shape of the reference's
  * sketch-build enumeration (`batch_fastdata_opendata.py:6-23` +
  * `data_prep.py:134`, SURVEY §3 E1 "Spark shape"): ONE multi-path
  * `binaryFile` scan over every table file, a `flatMap` that decodes each
  * parquet file into long-format cell rows on the EXECUTORS, and Catalyst
  * expressions for all value rendering. Downstream profiling is then one
  * `groupBy(table_name, col_idx)` regardless of table count — no
  * per-table driver plans, no N-way union (the reference's real corpora
  * are 1k–40k tables; an N-branch plan stalls the driver before any
  * executor works).
  *
  * Scale posture: a file is decoded WHOLE inside one task (binaryFile
  * semantics); the keyed row cap bounds a task's memory to O(cap × width)
  * however large the file. `SketchBuild.build` reads every parquet lake
  * through [[scanLake]]; only the tables it rejects take the per-table
  * `Lake.read` path.
  *
  * One row reader decodes every file, `list<float>` columns included:
  * [[fileRows]] reads the requested columns' pages directly through
  * parquet's `ColumnReader`, and each column's [[ColPlan]] extractor turns
  * the reader's typed values — and, for a list, its repetition and
  * definition levels — into the cell's value.
  *
  * Value-rendering parity is BY CONSTRUCTION: the decoder only moves
  * typed values into a fixed variant schema (one slot per physical type);
  * `value_str` / `value_num` are produced by the same Catalyst casts
  * `Profiler.longFormat` uses, so unified and per-table profiles are
  * bit-identical without replicating any Spark formatting in Scala code.
  */
object LakeScan {

  /** Variant row emitted by the decoder: one row per cell, the value in
    * exactly one typed slot. `present=false` rows are per-column schema
    * sentinels (they guarantee a profile row even for an empty table and
    * contribute zero to every aggregate). `row_id` is the cell's row
    * ordinal within its (capped) table — the snapshot path reassembles
    * row strings from it.
    */
  val RawSchema: StructType = StructType(graft.profile.Profiler.CellKeyFields ++ Seq(
    StructField("row_id", LongType, nullable = true),
    StructField("src_file", StringType, nullable = true),
    StructField("v_str", StringType),
    StructField("v_long", LongType),
    StructField("v_float", FloatType),
    StructField("v_double", DoubleType),
    StructField("v_ts_us", LongType),
    StructField("v_date_days", IntegerType),
    StructField("v_bool", BooleanType),
    StructField("v_arr", ArrayType(FloatType)),
    // P-promotion marker: col_type says "date" (classification) while the
    // VALUES are physically strings — renderLong must keep the string
    // render + P2, exactly Profiler.cellExprs' physical-type split
    StructField("date_promoted", BooleanType, nullable = false)))

  // slot ids → offset of the typed columns after the 6 key/meta fields
  // (private[sources]: CsvScan emits the same variant schema)
  private[sources] val SlotStr = 0; private[sources] val SlotLong = 1
  private[sources] val SlotFloat = 2; private[sources] val SlotDouble = 3
  private[sources] val SlotTs = 4; private[sources] val SlotDate = 5
  private[sources] val SlotBool = 6; private[sources] val SlotArr = 7
  private val SlotBase = 7
  private val Width = SlotBase + 9 // 8 typed slots + date_promoted

  /** `col_name` of a per-file reject row: the decoder cannot express the
    * file, and `col_type` carries the reason. */
  private[sources] val RejectMarker = "__graft_reject__"

  /** The one constructor of [[RawSchema]] rows. A data cell is `present`
    * with its row ordinal and (unless null) its value in `slot`; a schema
    * sentinel passes `present = false` and nulls. */
  private[sources] def rawRow(table: String, colIdx: Int, colName: String,
                              colType: String, present: Boolean,
                              rowId: java.lang.Long, srcFile: String,
                              slot: Int, value: Any, datePromoted: Boolean): Row = {
    val slots = new Array[Any](Width)
    slots(0) = table; slots(1) = colIdx; slots(2) = colName; slots(3) = colType
    slots(4) = present; slots(5) = rowId; slots(6) = srcFile
    if (value != null) slots(SlotBase + slot) = value
    slots(Width - 1) = datePromoted
    Row.fromSeq(scala.collection.immutable.ArraySeq.unsafeWrapArray(slots))
  }

  private[sources] def rejectRow(table: String, srcFile: String, reason: String): Row =
    rawRow(table, 0, RejectMarker, reason, present = false, null, srcFile, 0, null,
      datePromoted = false)

  /** The binaryFile scan both decoders share: load `paths` (keeping only
    * leaves that match `glob`), spread small lakes one file per task, and
    * `decode` each (path, bytes) into [[RawSchema]] rows on the executors.
    * binaryFile's open-cost packing would otherwise put a small lake in
    * one task; a large lake already arrives with ample partitions. The
    * spread is round-robin, so each row (one file) gets its own task up to
    * the partition count.
    */
  private[sources] def binaryScan(spark: SparkSession, paths: Seq[String],
                                  glob: Option[String])(
      decode: (String, Array[Byte]) => Iterator[Row]): DataFrame = {
    val reader = spark.read.format("binaryFile")
    val bin0 = glob.fold(reader)(g => reader.option("pathGlobFilter", g))
      .load(paths: _*).select(col("path"), col("content"))
    val dp = spark.sparkContext.defaultParallelism
    val bin =
      if (paths.size <= dp * 4) bin0.repartition(math.max(paths.size, dp * 2))
      else bin0
    bin.as(Encoders.tuple(Encoders.STRING, Encoders.BINARY))
      .mapPartitions(_.flatMap { case (path, bytes) => decode(path, bytes) })(
        Encoders.row(RawSchema))
  }

  /** Persist a decode and probe it in one small job over its
    * `present = false` rows (schema sentinels and reject rows): every
    * `key` value that decoded, and those with a reject row. */
  private[sources] def persistAndProbe(decoded: DataFrame, key: String)
      : (DataFrame, Set[String], Set[String]) = {
    val cached = decoded.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val probe = cached.filter(!col("present"))
      .select(col(key), col("col_name") === lit(RejectMarker)).distinct().collect()
    (cached, probe.map(_.getString(0)).toSet,
      probe.filter(_.getBoolean(1)).map(_.getString(0)).toSet)
  }

  /** Per-column decode plan: field position, reference-logical type, the
    * variant slot, and `read`, the column's one value extractor: it
    * decodes the reader's current row of the column (null for a null
    * cell) and consumes it — one value of a primitive column, the whole
    * repetition run of a `list<float>`. `datePromoted` mirrors
    * `Profiler.DatePromotedKey`: classification is "date", physical
    * values stay strings. */
  private final case class ColPlan(idx: Int, name: String, colType: String,
                                   slot: Int, read: ColumnReader => Any,
                                   datePromoted: Boolean = false)

  /** A converter tree that converts nothing. `ColumnReadStoreImpl` walks
    * one down to every leaf it opens a reader for; the values themselves
    * are read through `ColumnReader`'s typed getters. */
  private final class NoConverter(t: GroupType) extends GroupConverter {
    override def getConverter(fieldIndex: Int): Converter = {
      val f = t.getType(fieldIndex)
      if (f.isPrimitive) new PrimitiveConverter {} else new NoConverter(f.asGroupType())
    }
    override def start(): Unit = ()
    override def end(): Unit = ()
  }

  /** `InputFile` over the bytes a binaryFile scan already holds — the
    * standard in-memory adapter (no Hadoop round-trip per file). */
  private final class ByteArrayInputFile(bytes: Array[Byte]) extends InputFile {
    override def getLength: Long = bytes.length.toLong
    override def newStream(): SeekableInputStream = {
      val in = new java.io.ByteArrayInputStream(bytes)
      new DelegatingSeekableInputStream(in) {
        override def getPos: Long = bytes.length.toLong - in.available()
        override def seek(newPos: Long): Unit = { in.reset(); in.skip(newPos) }
      }
    }
  }

  /** Map a parquet schema to decode plans. Types are the driver-lake /
    * reference-corpus surface (ints, floats, strings, bools, dates,
    * ms/us/ns timestamps, float-list embeddings); anything else throws
    * `UnsupportedOperationException`, which [[readFile]] turns into the
    * file's reject row.
    */
  private def planFor(schema: MessageType, table: String,
                      promoted: Set[String]): Array[ColPlan] = {
    schema.getFields.asScala.zipWithIndex.map { case (t, i) =>
      def unsupported(what: String) = throw new UnsupportedOperationException(
        s"LakeScan: unsupported $what for column '${t.getName}' of table '$table'")
      // the readers below take one repetition level per row at most
      if (t.isRepetition(Type.Repetition.REPEATED)) unsupported("repeated field")
      // definition level at which the field itself is non-null
      val fieldDef = schema.getMaxDefinitionLevel(t.getName)
      if (t.isPrimitive) {
        def plan(colType: String, slot: Int, datePromoted: Boolean = false)(
            get: ColumnReader => Any) =
          ColPlan(i, t.getName, colType, slot, r => {
            val v = if (r.getCurrentDefinitionLevel == fieldDef) get(r) else null
            r.consume()
            v
          }, datePromoted)
        val ann = t.asPrimitiveType().getLogicalTypeAnnotation
        t.asPrimitiveType().getPrimitiveTypeName match {
          case PrimitiveTypeName.BINARY => ann match {
            case _: LogicalTypeAnnotation.StringLogicalTypeAnnotation |
                 _: LogicalTypeAnnotation.EnumLogicalTypeAnnotation |
                 _: LogicalTypeAnnotation.JsonLogicalTypeAnnotation =>
              // date-promoted string columns (RobustCsv.promoteDates, via
              // the Spark schema in the footer): classified "date", values
              // rendered as strings — same split as Profiler.logicalType
              val dp = promoted.contains(t.getName)
              plan(if (dp) "date" else "string", SlotStr, dp)(
                _.getBinary.toStringUsingUTF8)
            case a => unsupported(s"BINARY annotation $a")
          }
          case PrimitiveTypeName.INT32 => ann match {
            case _: LogicalTypeAnnotation.DateLogicalTypeAnnotation =>
              plan("date", SlotDate)(_.getInteger)
            case _: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation =>
              unsupported("INT32 decimal")
            case _ =>
              plan("integer", SlotLong)(_.getInteger.toLong)
          }
          case PrimitiveTypeName.INT64 => ann match {
            case ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
              import LogicalTypeAnnotation.TimeUnit
              val toMicros: Long => Long = ts.getUnit match {
                case TimeUnit.MILLIS => _ * 1000L
                case TimeUnit.MICROS => identity
                // integer div — the same ns→us truncation Lake.read (and
                // DuckDB's TIMESTAMP_NS load) applies
                case TimeUnit.NANOS => _ / 1000L
              }
              plan("date", SlotTs)(r => toMicros(r.getLong))
            case _: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation =>
              unsupported("INT64 decimal")
            case _ =>
              plan("integer", SlotLong)(_.getLong)
          }
          case PrimitiveTypeName.INT96 =>
            // legacy Spark-written timestamps: 8B nanos-of-day + 4B julian
            // day, little-endian; same CORRECTED-mode conversion Spark's
            // own reader applies (proleptic μs since epoch)
            plan("date", SlotTs) { r =>
              val buf = java.nio.ByteBuffer.wrap(r.getBinary.getBytes)
                .order(java.nio.ByteOrder.LITTLE_ENDIAN)
              val nanosOfDay = buf.getLong
              val julianDay = buf.getInt
              (julianDay - 2440588).toLong * 86400000000L + nanosOfDay / 1000L
            }
          case PrimitiveTypeName.FLOAT => plan("float", SlotFloat)(_.getFloat)
          case PrimitiveTypeName.DOUBLE => plan("float", SlotDouble)(_.getDouble)
          case PrimitiveTypeName.BOOLEAN => // pandas bool→STRING (data_prep.py:103-108)
            plan("string", SlotBool)(_.getBoolean)
          case other => unsupported(s"physical type $other")
        }
      } else {
        val gt = t.asGroupType()
        val isList = t.getLogicalTypeAnnotation != null &&
          t.getLogicalTypeAnnotation.isInstanceOf[LogicalTypeAnnotation.ListLogicalTypeAnnotation]
        if (!isList || gt.getFieldCount != 1) unsupported("nested group")
        // standard 3-level list<float> (repeated group { optional element },
        // Spark's legacy bag/array naming included) plus the legacy 2-level
        // (repeated float) layout
        val inner = gt.getType(0)
        val leafPath =
          if (inner.isPrimitive) Seq(t.getName, inner.getName)
          else if (inner.asGroupType().getFieldCount == 1)
            Seq(t.getName, inner.getName, inner.asGroupType().getType(0).getName)
          else unsupported("list element type (only float lists)")
        val leaf = schema.getType(leafPath: _*)
        if (!leaf.isPrimitive ||
            leaf.asPrimitiveType().getPrimitiveTypeName != PrimitiveTypeName.FLOAT ||
            schema.getMaxRepetitionLevel(leafPath: _*) != 1)
          unsupported("list element type (only float lists)")
        // levels: below fieldDef the list is null, at fieldDef it is empty,
        // above it each value is one element — a float at leafDef, else a
        // null element (the optional element of the 3-level layout);
        // repetition level 1 continues the current row's list
        val leafDef = schema.getMaxDefinitionLevel(leafPath: _*)
        ColPlan(i, t.getName, "other", SlotArr, r => {
          val d = r.getCurrentDefinitionLevel
          if (d <= fieldDef) {
            r.consume()
            if (d < fieldDef) null else IndexedSeq.empty
          } else {
            val out = scala.collection.mutable.ArrayBuffer.empty[Any]
            while ({
              out += (if (r.getCurrentDefinitionLevel == leafDef) r.getFloat else null)
              r.consume()
              r.getCurrentRepetitionLevel == 1
            }) ()
            out.toIndexedSeq
          }
        })
      }
    }.toArray
  }

  /** The one parquet row reader: a lazy row iterator over all row groups
    * of an open reader that caps at `limit` rows and closes the reader
    * when exhausted. Per row group it opens one `ColumnReader` per plan
    * (direct page reads, and only the REQUESTED columns' pages are
    * touched) and streams `chunk`-row slices of each column through its
    * plan's `read` into positional arrays, then zips rows — memory is
    * O(chunk × width), never a whole group. A row is read whole, so a
    * list never splits across a chunk or a row group. An unkeyed cap
    * stops consuming pages mid-group; a file with no plans (a zero-column
    * schema) yields no rows.
    */
  private def fileRows(in: ParquetFileReader, schema: MessageType,
                       plans: Array[ColPlan], limit: Long,
                       chunk: Int = 65536): Iterator[Array[Any]] =
    if (plans.isEmpty) { in.close(); Iterator.empty }
    else new Iterator[Array[Any]] {
      private val createdBy = in.getFooter.getFileMetaData.getCreatedBy
      private val descs = plans.map { p =>
        schema.getColumns.asScala.find(_.getPath()(0) == p.name).getOrElse(
          throw new IllegalStateException(
            s"LakeScan: no column chunk for '${p.name}'"))
      }
      // per-row-group state
      private var readers: Array[ColumnReader] = _
      private var groupLeft = 0L
      // per-chunk state
      private var cols: Array[Array[Any]] = _
      private var nRows = 0
      private var r = 0
      private var emitted = 0L
      private var closed = false

      private def openGroup(): Boolean = {
        val pages = in.readNextRowGroup()
        if (pages == null) false
        else if (pages.getRowCount == 0) openGroup()
        else {
          val crs = new ColumnReadStoreImpl(pages, new NoConverter(schema),
            schema, createdBy)
          readers = descs.map(crs.getColumnReader)
          groupLeft = pages.getRowCount
          true
        }
      }

      private def advance(): Boolean = {
        if (emitted >= limit) return false
        if (groupLeft <= 0 && !openGroup()) return false
        val want = math.min(math.min(groupLeft, chunk.toLong), limit - emitted).toInt
        if (cols == null || cols(0).length < want)
          cols = Array.fill(plans.length)(new Array[Any](want))
        var k = 0
        while (k < plans.length) {
          val reader = readers(k); val read = plans(k).read
          val out = cols(k)
          var i = 0
          while (i < want) { out(i) = read(reader); i += 1 }
          k += 1
        }
        groupLeft -= want
        nRows = want; r = 0
        true
      }

      def hasNext: Boolean = {
        val more = emitted < limit && (r < nRows || advance())
        if (!more && !closed) { closed = true; in.close() }
        more
      }

      def next(): Array[Any] = {
        val out = new Array[Any](plans.length)
        var k = 0
        while (k < plans.length) { out(k) = cols(k)(r); k += 1 }
        r += 1; emitted += 1
        out
      }
    }

  /** Code-point string compare == UTF-8 byte order == Spark orderBy's
    * UTF8String order. Java `compareTo` (UTF-16 code units) disagrees for
    * supplementary characters vs BMP chars ≥ U+E000; encoding both sides
    * to UTF-8 bytes per comparison would allocate in the heap's hot loop —
    * code-point iteration gives the same order allocation-free. */
  private def compareUtf8(x: String, y: String): Int = {
    var i = 0; var j = 0
    while (i < x.length && j < y.length) {
      val cp1 = x.codePointAt(i)
      val cp2 = y.codePointAt(j)
      if (cp1 != cp2) return Integer.compare(cp1, cp2)
      i += Character.charCount(cp1); j += Character.charCount(cp2)
    }
    Integer.compare(x.length - i, y.length - j)
  }

  /** Spark-orderBy-compatible key compare (nulls first, then natural). */
  private def compareKeys(a: Array[Any], b: Array[Any], idxs: Array[Int]): Int = {
    var i = 0
    while (i < idxs.length) {
      val c = (a(idxs(i)), b(idxs(i))) match {
        case (null, null) => 0
        case (null, _) => -1
        case (_, null) => 1
        case (x: java.lang.Long, y: java.lang.Long) => java.lang.Long.compare(x, y)
        case (x: java.lang.Integer, y: java.lang.Integer) => Integer.compare(x, y)
        case (x: java.lang.Double, y: java.lang.Double) => java.lang.Double.compare(x, y)
        case (x: java.lang.Float, y: java.lang.Float) => java.lang.Float.compare(x, y)
        case (x: String, y: String) => compareUtf8(x, y)
        case (x, _) => throw new UnsupportedOperationException(
          s"LakeScan: unsupported row-cap key type ${x.getClass}")
      }
      if (c != 0) return c
      i += 1
    }
    0
  }

  /** Decode one table file into variant cell rows (+ one `present=false`
    * sentinel per column), or one reject row when [[planFor]] cannot
    * express its schema. `rowCap` keeps the first N rows BY TABLE KEY
    * (O1, same semantics as `Lake.read(rowCap)`) via a bounded heap —
    * memory O(cap × width) however large the file; unkeyed tables cap in
    * file order and stop reading early.
    */
  private def readFile(table: String, path: String, bytes: Array[Byte],
                       keys: Map[String, Seq[String]],
                       rowCap: Option[Int]): Iterator[Row] = {
    val in = ParquetFileReader.open(new ByteArrayInputFile(bytes))
    val meta = in.getFooter.getFileMetaData
    val schema = meta.getSchema
    // date-promoted columns ride the Spark schema JSON in the footer
    // (the same metadata Profiler.logicalType(StructField) honors)
    val promoted: Set[String] =
      Option(meta.getKeyValueMetaData.get("org.apache.spark.sql.parquet.row.metadata"))
        .flatMap { json =>
          try Some(DataType.fromJson(json).asInstanceOf[StructType])
          catch { case _: Exception => None }
        }
        .map(_.fields.filter(graft.profile.Profiler.isDatePromoted)
          .map(_.name).toSet)
        .getOrElse(Set.empty)
    val plans =
      try planFor(schema, table, promoted)
      catch {
        case e: UnsupportedOperationException =>
          in.close()
          return Iterator.single(rejectRow(table, path, e.getMessage))
      }

    def rowsOf(vals: Array[Any], rowId: Long): Iterator[Row] = {
      val rid: java.lang.Long = rowId
      plans.iterator.zipWithIndex.map { case (p, pos) =>
        rawRow(table, p.idx, p.name, p.colType, present = true, rid, path,
          p.slot, vals(pos), p.datePromoted)
      }
    }
    // src_file set on sentinels too: the multi-file cap detection and
    // snapshot empty-table rows key off the per-(table, file) sentinels
    val sentinels = plans.iterator.map { p =>
      rawRow(table, p.idx, p.name, p.colType, present = false, null, path,
        p.slot, null, p.datePromoted)
    }

    val keyIdxs = keys.get(table)
      .map(_.map(n => plans.indexWhere(_.name == n)))
      .filter(_.forall(_ >= 0)).map(_.toArray)
    val dataRows: Iterator[Row] = (rowCap, keyIdxs) match {
      case (Some(cap), Some(ki)) =>
        // keyed deterministic cap: bounded max-heap keeps the cap smallest
        // rows by key — same selection as ORDER BY key LIMIT cap on any
        // file layout, without sorting the file
        val heap = scala.collection.mutable.PriorityQueue.empty[Array[Any]](
          Ordering.fromLessThan((x, y) => compareKeys(x, y, ki) < 0))
        fileRows(in, schema, plans, Long.MaxValue).foreach { vals =>
          // once full, one compare against the current worst rejects most
          // rows — O(n) compares + O(cap log cap) heap ops, not O(n log cap)
          if (heap.size < cap) heap.enqueue(vals)
          else if (compareKeys(vals, heap.head, ki) < 0) {
            heap.dequeue(); heap.enqueue(vals)
          }
        }
        val ordered: Iterator[Array[Any]] = heap.dequeueAll.reverseIterator
        ordered.zipWithIndex.flatMap { case (vals, rid) => rowsOf(vals, rid.toLong) }
      case (cap, _) =>
        fileRows(in, schema, plans, cap.map(_.toLong).getOrElse(Long.MaxValue))
          .zipWithIndex.flatMap { case (vals, rid) => rowsOf(vals, rid.toLong) }
    }
    dataRows ++ sentinels
  }

  /** One binaryFile scan + decode of the parquet `tables` under `dir`,
    * the contract `CsvScan.scanLake` has for CSV files. The decode runs
    * ONCE (persisted) and one probe job reads its reject rows. A table is
    * `rejected` whole when any of its part files has a schema [[planFor]]
    * cannot express, or when it decoded no file at all (a directory with
    * no parquet leaf): the caller reads those through `Lake.read`, which
    * raises on the latter instead of letting the table drop silently out
    * of the catalog. `cells` holds every other table's variant rows, ready
    * for `Profiler.profileFromLong(renderLong(cells))` /
    * [[snapshotFromRaw]]; `release()` drops the persisted decode.
    */
  def scanLake(spark: SparkSession, dir: String, tables: Seq[String],
               rowCap: Option[Int]): CsvScan.ScanResult = {
    val raw = decodeScan(spark, dir, tables, rowCap)
    // the per-file keyed heap is only a PRE-filter when a keyed table spans
    // several part files (as the scan lists them, partition subdirs
    // included; listed before any persist, which hides the file relation)
    val multiKeyed = if (rowCap.isEmpty) Nil else {
      val requested = tables.toSet
      val nFiles = raw.inputFiles.toSeq.groupBy(tableOf(requested, _)).map {
        case (t, fs) => t -> fs.size }
      tables.filter(t => Lake.TableKeys.contains(t) && nFiles.getOrElse(t, 0) > 1)
    }
    val (cached, decoded, marked) = rowCap match {
      case Some(cap) if multiKeyed.nonEmpty =>
        // re-select those tables' global top-cap rows: the key tuples and
        // the cells come from one persisted decode, dropped once the
        // capped relation is persisted and probed
        val once = raw.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try persistAndProbe(globalKeyedCap(spark, once, multiKeyed, cap), "table_name")
        finally once.unpersist()
      case _ => persistAndProbe(raw, "table_name")
    }
    val rejected = tables.filter(t => marked(t) || !decoded(t)).sorted
    val unmarked = cached.filter(col("col_name") =!= lit(RejectMarker))
    val cells =
      if (rejected.isEmpty) unmarked
      else unmarked.filter(!col("table_name").isin(rejected: _*))
    CsvScan.ScanResult(cells, rejected, cached)
  }

  /** The requested table a scanned file belongs to: its deepest path
    * segment `<name>.parquet` whose name was REQUESTED — not merely the
    * deepest '.parquet' segment, or a lake directory itself named
    * '*.parquet' would swallow every table into one name. One set lookup
    * per segment, so resolving every file stays linear in the file count. */
  private def tableOf(tables: Set[String], path: String): String =
    path.split('/').reverseIterator
      .collect { case seg if seg.endsWith(".parquet") => seg.stripSuffix(".parquet") }
      .find(tables.contains)
      .getOrElse(throw new IllegalStateException(
        s"LakeScan: file $path matches no requested table"))

  private def decodeScan(spark: SparkSession, dir: String, tables: Seq[String],
                         rowCap: Option[Int]): DataFrame = {
    require(tables.nonEmpty, "LakeScan needs at least one table")
    val keyMap = Lake.TableKeys
    val cap = rowCap
    val known = tables.toSet
    // pathGlobFilter: Spark-written tables are DIRECTORIES of part files
    // (plus _SUCCESS markers) — keep only parquet leaves
    binaryScan(spark, tables.map(t => s"$dir/$t.parquet"), Some("*.parquet")) {
      (path, bytes) => readFile(tableOf(known, path), path, bytes, keyMap, cap)
    }
  }

  /** Global ORDER BY key LIMIT cap across a table's part files: the key
    * cells of the multi-file keyed tables, read from the persisted decode
    * `cells`, give each (pre-filtered) row's key tuple, a per-table window
    * ranks them — bounded input: ≤ nFiles×cap rows per table after the
    * per-file heaps — and `cells` keeps only the winning (file, row)
    * pairs. Single-file tables stream through the left joins untouched.
    */
  private def globalKeyedCap(spark: SparkSession, cells: DataFrame,
                             multiKeyed: Seq[String], cap: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keyRel = spark.createDataFrame(
      multiKeyed.flatMap { t =>
        Lake.TableKeys(t).zipWithIndex.map { case (k, i) => (t, k, i) }
      }).toDF("table_name", "col_name", "key_pos")
    val keyWidth = spark.createDataFrame(
      multiKeyed.map(t => (t, Lake.TableKeys(t).size)))
      .toDF("table_name", "n_keys")
    // one row per data row of a multi-file keyed table, its key tuple as a
    // sort key: (key_pos asc, variant slots) — within one key column every
    // row populates the SAME slot, so struct field order is inert and
    // null-first matches the decoder's null-first key compare. Rows whose
    // key tuple is INCOMPLETE (a part file without the key columns —
    // readFile then falls back to file-order capping) are excluded here
    // and handled by the has-keys gate below. The keyRel join keeps only
    // the key cells of the multi-file keyed tables.
    val rowKeys = cells.filter(col("present"))
      .join(broadcast(keyRel), Seq("table_name", "col_name"))
      .groupBy(col("table_name"), col("src_file"), col("row_id"))
      .agg(sort_array(collect_list(struct(col("key_pos"),
        struct(col("v_long"), col("v_date_days"), col("v_ts_us"),
          col("v_float"), col("v_double"), col("v_str")).as("kv")))).as("k"))
      .join(broadcast(keyWidth), Seq("table_name"))
      .filter(size(col("k")) === col("n_keys"))
    val keep = rowKeys
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("table_name")).orderBy(col("k"))))
      .filter(col("rk") <= cap)
      .select(col("table_name"), col("src_file"), col("row_id"),
        lit(true).as("__keep"))
    // a part file that lacks the key columns produced no rowKeys (its key
    // tuples are incomplete); dropping its rows against an empty keep set
    // would silently empty that file — gate the filter PER (table, file):
    // only files that actually yielded complete key tuples participate in
    // the global re-selection, rows from key-less files pass through with
    // their per-file file-order cap (the same graceful fallback the keyed
    // heap takes inside the decoder). Table-level gating would silently
    // drop a mixed table's key-less files.
    val hasKeys = rowKeys.select(col("table_name"), col("src_file")).distinct()
      .withColumn("__hk", lit(true))
    val multiFlag = spark.createDataFrame(multiKeyed.map(Tuple1(_)))
      .toDF("table_name").withColumn("__multi", lit(true))
    cells
      .join(broadcast(multiFlag), Seq("table_name"), "left")
      .join(broadcast(hasKeys), Seq("table_name", "src_file"), "left")
      .join(keep, Seq("table_name", "src_file", "row_id"), "left")
      .filter(!col("present") || col("__multi").isNull || col("__hk").isNull ||
        col("__keep").isNotNull)
      .drop("__multi", "__hk", "__keep")
  }

  /** Render variant rows into the long-format relation `Profiler
    * .profileFromLong` consumes: `(table_name, col_idx, col_name,
    * col_type, present, value_str, value_num)` — exactly `Profiler
    * .longFormat`'s casts, evaluated by Catalyst.
    *
    * `withRaw` additionally emits `value_raw` (the cast render WITHOUT
    * the P2 empty→null) plus `row_id` — the content-snapshot inputs.
    */
  def renderLong(raw: DataFrame, renderNumerics: Boolean = true,
                 withRaw: Boolean = false): DataFrame = {
    val ts = timestamp_micros(col("v_ts_us"))
    val dt = date_from_unix_date(col("v_date_days"))
    // raw cast render (no P2): string slots as-is, everything else via the
    // same casts Profiler.longFormat / contentSnapshot apply
    val rawRender = coalesce(
      col("v_str"),
      col("v_bool").cast("string"),
      col("v_long").cast("string"),
      col("v_float").cast("string"),
      col("v_double").cast("string"),
      ts.cast("string"),
      dt.cast("string"),
      col("v_arr").cast("string"))
    val valueStr =
      // P2 empty→null for PHYSICAL strings — including date-promoted
      // columns, whose col_type says "date" but whose values are strings
      // (cellExprs branches on the physical type the same way)
      when(col("col_type") === "string" || col("date_promoted"),
        nullif(rawRender, lit("")))
        .when(lit(!renderNumerics), lit(null).cast("string"))
        .otherwise(rawRender)
    val valueNum = coalesce(
      col("v_long").cast("double"),
      col("v_float").cast("double"),
      col("v_double"),
      unix_timestamp(ts).cast("double"),
      unix_timestamp(dt.cast("timestamp")).cast("double"))
    val base = Seq(col("table_name"), col("col_idx"), col("col_name"),
      col("col_type"), col("present"),
      valueStr.as("value_str"), valueNum.as("value_num"))
    val extra =
      if (withRaw) Seq(col("row_id"), col("src_file"), rawRender.as("value_raw"))
      else Nil
    raw.select(base ++ extra: _*)
  }

  /** Whole-table content snapshots of a decoded variant cell relation in
    * ONE job (A13 at lake scale): reassemble each row's space-joined
    * string relationally (group cells by (table, file, row), order by
    * col_idx, concat_ws — nulls drop, empty strings stay, exactly
    * `Profiler.contentSnapshot`'s `concat_ws(" ", cols…)`), then one
    * MinHash aggregation per table. Shared by both decoders.
    */
  def snapshotFromRaw(raw: DataFrame): DataFrame = {
    val all = renderLong(raw, withRaw = true)
    val rowStrs = all.filter(col("present"))
      // src_file in the key: row_id is a PER-FILE ordinal, so multi-part
      // tables must not merge cells of same-ordinal rows across files
      .groupBy(col("table_name"), col("src_file"), col("row_id"))
      .agg(sort_array(collect_list(struct(col("col_idx"), col("value_raw"))))
        .as("cells"))
      .select(col("table_name"),
        concat_ws(" ", transform(col("cells"), c => c.getField("value_raw")))
          .as("row_str"))
    // one null row per table from the schema sentinels: minhash_agg skips
    // nulls, so populated tables are unaffected while an EMPTY table still
    // yields its one empty-digest row — same contract as the per-table
    // Profiler.contentSnapshot global aggregate
    val sentinelRows = all.filter(!col("present"))
      .select(col("table_name")).distinct()
      .select(col("table_name"), lit(null).cast("string").as("row_str"))
    rowStrs.unionByName(sentinelRows)
      .groupBy(col("table_name"))
      .agg(graft.functions.SketchFunctions.minhash_agg(col("row_str"))
        .as("content_snapshot"))
  }
}
