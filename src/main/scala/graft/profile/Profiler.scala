package graft.profile

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.SketchFunctions._

/** Column profiler — re-expresses the reference's `preprocess_cols`
  * (`/root/reference/tabsketchfm/data_prep.py:188-279`) as a two-level
  * Spark aggregation over a long-format values relation.
  *
  * Shape: wide table → `posexplode(array(struct(idx, value_str,
  * value_num)))` → **stage 1** `groupBy(col_idx, value)` frequency
  * histogram → **stage 2** `groupBy(col_idx)` stats over (value, freq)
  * pairs. Why two levels:
  *  - map-side partial aggregation collapses stage 1 to the per-partition
  *    distinct values, so the shuffle carries histograms, not rows;
  *  - `unique` becomes a plain `count(*)` over histogram rows — no
  *    `count_distinct`, so no Expand doubling of the stream;
  *  - exact deciles use the native `exact_deciles(v, freq, probs)`
  *    aggregate in the same stage-2 `groupBy`, whose state is one entry
  *    per histogram row, not per cell;
  *  - MinHash is set-semantics, so sketching distinct values gives the
  *    identical digest while hashing each value once.
  *
  * Reference semantics preserved:
  *  - `num_nan` counts nulls after empty-string→null (P2, `data_prep.py:202`)
  *  - `unique` includes null as a value (the dropna at `:207` re-aligns on
  *    assignment, so NaN is back in the Series by `:209`)
  *  - quantile vector = 9 deciles + mean + std(pop) + min + max
  *    (`:234-244`), omitted for all-null/single-row/single-valued columns
  *    (`:231-232`)
  *  - `cell_width` = avg byte length of string cells (intent of `:214`;
  *    the reference's `tobytes()/len(df)` degenerates to pointer width and
  *    divides by the full row count — we use true avg bytes over non-null
  *    cells, per SURVEY §2.3 A3)
  *  - MinHash over exact values, plus word tokens for strings (`:264-274`).
  *    Deliberate divergence: the reference's `[... for v in col if v]`
  *    drops FALSY values (0, 0.0, False) from sketch input (`:211-213`) —
  *    we keep them; excluding legitimate zeros skews Jaccard estimates,
  *    and digest-level parity is already out of scope (permutation seeds
  *    differ, SURVEY §7 hard part 1).
  */
object Profiler {

  val QuantileProbs: Seq[Double] = (1 to 9).map(_ / 10.0)

  /** Magnitude bound for the exact-decimal sum path: values at or past
    * this fall back to double-summed mean/std (their decimal squares
    * cannot be represented at any Spark precision without ANSI overflow).
    * Driver-lake numerics (keys, money, epoch seconds ≈ 1.7e9) all sit
    * far inside it, so oracle parity is unaffected. */
  val DecimalSumGuard = 1e12

  /** Schema-metadata key set by `RobustCsv.promoteDates` on a string
    * column whose values all parse as dates. The reference re-classifies
    * the ORIGINAL column as DATE in its type map while the values stay
    * strings (`get_types`, data_prep.py:88-98); Spark column metadata is
    * the idiomatic carrier for that out-of-band type vote.
    */
  val DatePromotedKey = "graft.date_promoted"

  /** The single definition of the promotion check — LakeScan's footer
    * decoding and this classification must never diverge. */
  def isDatePromoted(f: StructField): Boolean =
    f.metadata.contains(DatePromotedKey) && f.metadata.getBoolean(DatePromotedKey)

  /** Logical type of a field: the data type's mapping, overridden to
    * "date" for date-promoted string columns (see [[DatePromotedKey]]).
    * Rendering in [[longFormat]] still follows the physical type — the
    * values ARE strings — only the classification changes, exactly the
    * reference's split between df values and col_types.
    */
  def logicalType(f: StructField): String =
    if (isDatePromoted(f)) "date" else logicalType(f.dataType)

  /** Logical type in the reference's 4-type system (SURVEY §1.2). */
  def logicalType(dt: DataType): String = dt match {
    case ByteType | ShortType | IntegerType | LongType => "integer"
    case FloatType | DoubleType | _: DecimalType       => "float"
    case DateType | TimestampType | TimestampNTZType   => "date"
    case StringType                                    => "string"
    case BooleanType                                   => "string" // pandas maps bool→STRING (data_prep.py:103-108)
    case _                                             => "other"  // zero-encoded downstream
  }

  /** The one pair of cell-rendering casts every profile path shares —
    * `(value_str, value_num)` for a field (P2 empty→null on strings,
    * epoch seconds for dates). `LakeScan.renderLong` mirrors these over
    * its variant slots, so the unified and per-table paths render
    * bit-identically.
    */
  private def cellExprs(f: StructField, renderNumerics: Boolean): (Column, Column) = {
    val c = col(s"`${f.name}`")
    val lt = logicalType(f.dataType)
    val valueStr = lt match {
      // empty string → null, matching P2 (data_prep.py:202)
      case "string" => when(c.cast("string") === "", lit(null)).otherwise(c.cast("string"))
      // sketch-free profiles don't need the (expensive) numeric renders;
      // nullness is then carried by value_num alone
      case _ if !renderNumerics => lit(null).cast("string")
      case _        => c.cast("string")
    }
    val valueNum = lt match {
      case "integer" | "float" => c.cast("double")
      case "date"              => unix_timestamp(c.cast("timestamp")).cast("double")
      case _                   => lit(null).cast("double")
    }
    (valueStr, valueNum)
  }

  /** Long-format values relation for one table:
    * (col_idx, value_str, value_num). `value_num` carries numerics (and
    * date→epoch-seconds) for quantiles.
    */
  def longFormat(df: DataFrame, renderNumerics: Boolean = true): DataFrame = {
    val structs = df.schema.fields.zipWithIndex.map { case (f, i) =>
      val (valueStr, valueNum) = cellExprs(f, renderNumerics)
      struct(lit(i).as("col_idx"), valueStr.as("value_str"), valueNum.as("value_num"))
    }
    df.select(posexplode(array(structs.toIndexedSeq: _*)).as(Seq("pos", "c"))).select("c.*")
  }

  /** The leading fields of every per-cell relation — the keyed long
    * format and `LakeScan.RawSchema`: which table and column a cell
    * belongs to, and whether it is a value or a schema sentinel. */
  val CellKeyFields: Seq[StructField] = Seq(
    StructField("table_name", StringType, nullable = false),
    StructField("col_idx", IntegerType, nullable = false),
    StructField("col_name", StringType, nullable = false),
    StructField("col_type", StringType, nullable = false),
    StructField("present", BooleanType, nullable = false))

  /** Schema of the KEYED long-format relation [[profileFromLong]]
    * consumes — one row per cell plus one `present=false` sentinel per
    * column (sentinels preserve the schema through aggregation, so an
    * empty table still profiles to zero-count rows).
    */
  val KeyedLongSchema: StructType = StructType(CellKeyFields ++ Seq(
    StructField("value_str", StringType),
    StructField("value_num", DoubleType)))

  /** One `present=false` row per column of `df`'s schema (tiny local
    * relation — the keyed replacement for the old meta left-join). */
  def schemaSentinels(spark: SparkSession, df: DataFrame, tableName: String): DataFrame = {
    import org.apache.spark.sql.Row
    val rows: java.util.List[Row] = java.util.Arrays.asList(
      df.schema.fields.zipWithIndex.map { case (f, i) =>
        Row(tableName, i, f.name, logicalType(f), false, null, null)
      }: _*)
    spark.createDataFrame(rows, KeyedLongSchema)
  }

  /** [[longFormat]] with the table/column keys riding each row (plus
    * schema sentinels) — the single-table feeder of [[profileFromLong]].
    */
  def longFormatKeyed(df: DataFrame, tableName: String,
                      renderNumerics: Boolean = true): DataFrame = {
    val structs = df.schema.fields.zipWithIndex.map { case (f, i) =>
      val (valueStr, valueNum) = cellExprs(f, renderNumerics)
      struct(lit(tableName).as("table_name"), lit(i).as("col_idx"),
        lit(f.name).as("col_name"), lit(logicalType(f)).as("col_type"),
        lit(true).as("present"),
        valueStr.as("value_str"), valueNum.as("value_num"))
    }
    val data = df.select(posexplode(array(structs.toIndexedSeq: _*)).as(Seq("pos", "c")))
      .select("c.*")
    data.unionByName(schemaSentinels(df.sparkSession, df, tableName))
  }

  /** Full per-column profile of one table (two aggregation levels) —
    * the keyed core [[profileFromLong]] with this table's literal key.
    */
  def profile(df: DataFrame, tableName: String,
              withSketches: Boolean = true,
              withQuantiles: Boolean = true): DataFrame =
    // Repartition the narrow input BEFORE exploding ×nCols — the serial
    // shuffle write from a single-row-group scan is 11× cheaper that way.
    profileFromLong(
      longFormatKeyed(graft.sources.Lake.balance(df), tableName, renderNumerics = withSketches),
      withSketches, withQuantiles)
      .orderBy("col_idx")

  /** The profiling core, keyed by (table_name, col_idx): two aggregation
    * levels over a keyed long-format cell relation (see
    * [[KeyedLongSchema]]), ONE aggregate subtree for however many tables
    * ride in `long`. Feeders: [[longFormatKeyed]] (single table),
    * `LakeScan.renderLong` over a lake scan's cells (whole lake).
    */
  def profileFromLong(long: DataFrame, withSketches: Boolean = true,
                      withQuantiles: Boolean = true): DataFrame = {
    val keyCols = Seq("table_name", "col_idx", "col_name", "col_type").map(col)
    // stage 1: per-column value histogram (map-side combine shrinks to
    // distinct values per partition before any shuffle); schema sentinels
    // ride through with freq 0 so every column aggregates to a row even
    // when it has no cells (empty table)
    val hist = long.groupBy(keyCols ++ Seq(col("value_str"), col("value_num")): _*)
      .agg(sum(when(col("present"), 1L).otherwise(0L)).as("freq"))

    // Exact decimal sums power order-independent quantile-vector mean/std
    // (bit-identical across engines). A value past the guard (decimal CSV
    // columns, 1e22-scale doubles, ±Infinity, NaN — all fail the
    // comparison) would make the ANSI cast THROW mid-aggregation, so the
    // cast is guarded per value and columns whose RANGE exceeds the guard
    // (detected post-agg from min/max) fall back to the double-summed
    // mean/std below. 1e12 leaves the squares' running sum ~1e10 rows of
    // headroom inside the capped Decimal(38,4) accumulator.
    val decimalSafe = abs(col("value_num")) < lit(Profiler.DecimalSumGuard)
    val decV = when(decimalSafe, col("value_num")).otherwise(lit(null))
      .cast(DecimalType(18, 2))
    val baseAggs = Seq(
      sum(col("freq")).as("rows"),                                          // A10
      // null test spans both carriers: strings render into value_str only,
      // numerics/dates may carry value_num only (renderNumerics=false)
      sum(when(col("value_str").isNull && col("value_num").isNull, col("freq"))
        .otherwise(0L)).as("num_nan"),                                      // A1
      // A2 (incl. null): histogram rows with cells behind them — a freq-0
      // row is a sentinel for a column whose null group never materialized
      sum(when(col("freq") > 0, 1L).otherwise(0L)).as("unique"),
      (sum(octet_length(col("value_str")) * col("freq")) /
        sum(when(col("value_str").isNotNull, col("freq")))).as("cell_width"), // A3
      (sum(col("value_num") * col("freq")) /
        sum(when(col("value_num").isNotNull, col("freq")))).as("mean"),     // A5
      min(col("value_num")).as("min_v"),                                    // A7
      max(col("value_num")).as("max_v"),                                    // A7
      // Exact decimal sums: order-independent mean/std for oracle parity
      sum(decV * col("freq")).as("sum_dec"),
      sum(decV * decV * col("freq")).as("sum_sq_dec"),
      sum(col("value_num") * col("value_num") * col("freq")).as("sum_sq"),
      sum(when(col("value_num").isNotNull, col("freq"))).as("n_num"))
    // A12 runs only on string columns — gate INSIDE the aggregation (the
    // reference computes word sketches for strings only, and tokenizing
    // numeric renders just to null them out later would double sketch
    // cost). "other" types (arrays/maps/binary) are zero-encoded
    // downstream (tabular_tokenizer.py:184-189) — hashing their huge
    // renders would be pure waste, so A11 skips them too. Gating rides
    // the col_type KEY column (same values the old per-table index sets
    // produced, but schema-independent so one expression serves any mix
    // of tables).
    val exactInput = when(col("col_type") =!= "other", col("value_str"))
    val wordsInput = when(col("col_type") === "string", col("value_str"))
    val sketchAggs =
      if (withSketches) Seq(
        minhash_agg(exactInput).as("minhash_exact"),                        // A11 (set semantics)
        minhash_words_agg(wordsInput).as("minhash_words_raw"))              // A12
      else Seq.empty
    // A4 deciles (gated at plan construction — consumers that discard the
    // quantile column skip the aggregate). The final buffer holds a whole
    // column's histogram (16 B per row), so only integer/float columns —
    // the ones that get a quantile vector — feed it.
    val deciles =
      if (withQuantiles) exact_deciles(
        when(col("col_type").isin("integer", "float"), col("value_num")),
        col("freq"), QuantileProbs)
      else lit(null).cast(ArrayType(DoubleType))
    val aggd = hist.groupBy(keyCols: _*)
      .agg(baseAggs.head, (baseAggs.tail ++ sketchAggs :+ deciles.as("deciles")): _*)

    // A6: population std = sqrt(E[x²] − E[x]²); guard unique<=2 → 0
    // (data_prep.py:238-241)
    val stdRaw = sqrt(greatest(
      col("sum_sq") / col("n_num") - col("mean") * col("mean"), lit(0.0)))
    // Quantile-vector mean/std ride the EXACT decimal sums (order-independent
    // FP → bit-identical across engines and runs; the lake's numerics are
    // ≤2-decimal so the decimal quantization is lossless). The raw double
    // `mean`/`std` columns keep the un-quantized values. Columns whose
    // range exceeds the decimal guard use the double sums instead — exact
    // decimal arithmetic cannot represent their squares at any precision.
    val isHuge = greatest(abs(col("min_v")), abs(col("max_v"))) >= lit(Profiler.DecimalSumGuard)
    val exactMeanD = when(isHuge, col("mean"))
      .otherwise(col("sum_dec").cast("double") / col("n_num"))
    val exactStdD = when(isHuge, stdRaw).otherwise(sqrt(greatest(
      col("sum_sq_dec").cast("double") / col("n_num") - exactMeanD * exactMeanD,
      lit(0.0))))
    val stdAdj = when(col("unique") > 2, exactStdD).otherwise(lit(0.0))
    // reference omits the quantile vector for all-null, single-row, or
    // single-valued columns (data_prep.py:231-232 guard)
    val quantileVec = when(col("col_type").isin("integer", "float") &&
        (col("rows") - col("num_nan")) > 1 && col("unique") > 1,
      concat(col("deciles"),
        array(exactMeanD, stdAdj, col("min_v"), col("max_v")))) // A8: 13 floats

    val out = aggd
      .withColumn("quantile", quantileVec)
      .withColumn("std", when(col("col_type").isin("integer", "float"), stdRaw))
      .withColumn("cell_width",
        when(col("col_type") === "string", col("cell_width")))
      .withColumn("minhash_words_f",
        if (withSketches) when(col("col_type") === "string", col("minhash_words_raw"))
        else lit(null))
      // zero-encoded "other" columns and all-null columns carry NO digest
      // (an empty sketch would spuriously match other empty sketches at
      // jaccard 1.0 in search)
      .withColumn("minhash_exact",
        if (withSketches)
          when(col("col_type") =!= "other" && col("num_nan") < col("rows"),
            col("minhash_exact"))
        else lit(null))
    val cols = Seq("table_name", "col_idx", "col_name", "col_type", "rows",
      "num_nan", "unique", "cell_width", "quantile", "mean", "std", "min_v", "max_v",
      "sum_dec", "sum_sq_dec") ++
      (if (withSketches) Seq("minhash_exact") else Nil)
    out.select(cols.map(col) ++
      (if (withSketches) Seq(col("minhash_words_f").as("minhash_words")) else Nil): _*)
  }

  /** Whole-table content snapshot (A13): one MinHash over the multiset of
    * space-joined row strings (`create_content_snapshot`, data_prep.py:319-337).
    * MinHash is set-semantics, so we sketch distinct row strings (stage-1
    * dedup shrinks the UDAF input).
    */
  def contentSnapshot(df: DataFrame, tableName: String): DataFrame = {
    val rowStr = concat_ws(" ", df.columns.toIndexedSeq.map(c => col(s"`$c`").cast("string")): _*)
    // Single-level aggregation: partial digests build map-side in every
    // partition and only 100-slot buffers merge — no data shuffle at all.
    // (Row strings are mostly unique, so a dedup pre-stage would only add
    // a shuffle.)
    graft.sources.Lake.balance(df).select(rowStr.as("row_str"))
      .agg(minhash_agg(col("row_str")).as("content_snapshot"))
      .withColumn("table_name", lit(tableName))
      .select("table_name", "content_snapshot")
  }

  /** Profile a whole lake directory of parquet tables into one catalog
    * DataFrame — per-table plans unioned. The independent per-table
    * reference the lake-scan specs compare against; catalogs are built by
    * `SketchBuild.build`, whose one scan plans at a cost CONSTANT in table
    * count instead of an N-branch union.
    */
  def profileLake(spark: SparkSession, dir: String, tables: Seq[String],
                  withSketches: Boolean = true, rowCap: Option[Int] = None,
                  withQuantiles: Boolean = true): DataFrame =
    tables.map { t =>
      // deterministic first-N cap (O1, data_prep.py:27) — see Lake.read
      profile(graft.sources.Lake.read(spark, dir, t, rowCap), t, withSketches,
        withQuantiles)
    }.reduce(_ unionByName _)
}
