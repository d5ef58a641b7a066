package graft.profile

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Mergeable quantile sketch — closes the one non-mergeable gap in the
  * incremental profile: the reference's 13-vector carries nine exact
  * quantiles (`data_prep.py:234-244`), and exact quantiles cannot be
  * folded chunk-by-chunk. This sketch can: it is an HDR-histogram-style
  * exponential histogram (public design: Gil Tene's HdrHistogram;
  * DDSketch, VLDB'19, is the same idea with log-float buckets) over
  * values quantized to integer micro-units.
  *
  * Bucket layout (all EXACT integer arithmetic — no transcendental ever
  * touches a bucket boundary, so chunking, merging, and the DuckDB
  * oracle replay are all bit-deterministic):
  *
  *   q   = floor(v * 1e6)            micro-units, the repo-wide convention
  *   a   = |q|
  *   e   = length(bin(a)) - 1        msb position (exact: string length)
  *   idx = a                                   for a < 2^SubBits
  *       = (e - SubBits + 1)*2^SubBits
  *         + (a >> (e - SubBits)) - 2^SubBits  otherwise
  *   bucket = sign(q) * idx
  *
  * idx is continuous at the seam (for e = SubBits the formula reduces to
  * idx = a), buckets below 2^(SubBits+1) micro hold a single integer
  * (exact), and above that each octave splits into 2^SubBits sub-buckets,
  * so the midpoint estimate is within relative error 2^-(SubBits+1)
  * ≈ 1.6 %.
  *
  * Merge = add bucket counts (associative + commutative, any chunking:
  * files, partitions, stream micro-batches). A quantile is read back by
  * walking the cumulative counts to rank ceil(q·n) — integer rank, no
  * interpolation — and emitting the bucket midpoint.
  *
  * 100 TB posture: a column's sketch is O(octaves × 2^SubBits) rows
  * (≤ ~2,000) regardless of row count; the merged state is
  * O(columns × buckets), never O(rows), and every step is one hash
  * aggregate or one per-column window over that bounded state.
  */
object QuantileSketch {

  /** Sub-bucket resolution bits per octave. */
  val SubBits = 5
  private val SubCount = 1L << SubBits // 32

  // |micro| clamped to 2^62 so bin()/shifts stay well-defined; values
  // beyond ±4.6e12 saturate into the top bucket (documented loss of
  // resolution far outside any profiled domain here).
  private val ClampMicro = 1L << 62

  /** Per-(table, col, bucket) counts for one chunk of a table. Only
    * numeric cells contribute (quantiles are over non-null numerics,
    * mirroring `Series.quantile` after the null drop,
    * `data_prep.py:207,234`).
    */
  def sketchChunk(df: DataFrame, tableName: String): DataFrame =
    sketchLong(
      Profiler.longFormat(graft.sources.Lake.balance(df))
        .withColumn("table_name", lit(tableName)))

  /** Same, over an already-long (table_name, col_idx, value_num) relation
    * — the feeder for lake-wide or streaming use.
    */
  def sketchLong(long: DataFrame): DataFrame =
    withBucket(long.filter(col("value_num").isNotNull), col("value_num"), "bucket")
      .groupBy(col("table_name"), col("col_idx").cast("long").as("col_idx"),
        col("bucket"))
      .agg(count(lit(1)).as("cnt"))

  /** Exact fold of chunk sketches: bucket counts add. */
  def merge(sketches: DataFrame): DataFrame =
    sketches.groupBy(col("table_name"), col("col_idx"), col("bucket"))
      .agg(sum(col("cnt")).as("cnt"))

  /** Adds bucket index `out` for numeric column `value`, as stepwise
    * named columns (keeps the msb chain a flat plan instead of a nested
    * expression re-evaluating the quantization per branch); drops its
    * scratch columns.
    */
  def withBucket(df: DataFrame, value: Column, out: String): DataFrame = {
    val q = "__qs_q"; val a = "__qs_a"; val e = "__qs_e"
    df.withColumn(q,
        least(greatest(floor(value.cast("double") * lit(1e6)).cast("long"),
          lit(-ClampMicro)), lit(ClampMicro)))
      .withColumn(a, abs(col(q)))
      .withColumn(e, (length(expr(s"bin($a)")) - 1).cast("int"))
      .withColumn(out,
        when(col(a) < SubCount, col(a)).otherwise(
          (col(e) - SubBits + 1).cast("long") * SubCount +
            expr(s"shiftright($a, $e - $SubBits)") - SubCount) *
          when(col(q) < 0, -1L).otherwise(1L))
      .drop(q, a, e)
  }

  /** The decile CUT BUCKETS of a sketch — the raw integer bucket ids
    * holding ranks ⌈n·k/10⌉, k = 1..9 (a bucket spanning several
    * deciles appears once per k). [[deciles]] adds the midpoint
    * estimate; [[equiDepthBins]] uses the buckets directly.
    *
    * Window-free by design: a column's sketch is BOUNDED
    * (O(octaves × 2^SubBits) ≈ 2k rows), so the cumulative walk runs as
    * one hash aggregate collecting the sorted (bucket, cnt) array plus a
    * higher-order `aggregate` scan per decile — no per-group sort window.
    * A window would also silently degenerate when the keys are literals
    * (single-column use, [[equiDepthBins]]): Catalyst constant-folds the
    * partition spec to empty and the "No Partition Defined" single-
    * reducer plan appears. The hash-agg shape can't.
    */
  def decileBuckets(sketch: DataFrame): DataFrame =
    rankCutBuckets(sketch, 1 to 9, 10).withColumnRenamed("k", "decile")

  /** Generalized cut read-back: for each numerator in `nums`, the
    * bucket holding rank ⌈n·k/den⌉ — [[decileBuckets]] is
    * nums = 1..9, den = 10; tertiles are nums = 1..2, den = 3. Same
    * window-free bounded-state walk. Output: (table_name, col_idx, k,
    * bucket); a bucket spanning several cuts appears once per k.
    */
  def rankCutBuckets(sketch: DataFrame, nums: Seq[Int], den: Int): DataFrame = {
    require(nums.nonEmpty && den > 0)
    sketch.groupBy("table_name", "col_idx")
      .agg(sort_array(collect_list(struct(col("bucket"), col("cnt")))).as("bs"),
        sum(col("cnt")).as("n"))
      .select(col("table_name"), col("col_idx"), col("n"), col("bs"),
        explode(typedLit(nums.map(_.toLong))).as("k"))
      // integer rank: ceil(n*k/den) = (n*k + den-1) div den, clamped >= 1
      .withColumn("rank",
        greatest(expr(s"(n * k + ${den - 1}) div $den"), lit(1L)))
      // first bucket (ascending) whose cumulative count reaches the rank
      .withColumn("bucket", expr(
        """aggregate(bs,
          |  named_struct('cum', 0L, 'b', CAST(NULL AS BIGINT)),
          |  (acc, x) -> IF(acc.b IS NOT NULL, acc,
          |    named_struct('cum', acc.cum + x.cnt,
          |      'b', IF(acc.cum + x.cnt >= rank, x.bucket,
          |        CAST(NULL AS BIGINT)))),
          |  acc -> acc.b)""".stripMargin))
      .select(col("table_name"), col("col_idx"), col("k"), col("bucket"))
  }

  /** Decile read-back: for k = 1..9, the bucket containing the
    * ceil(n·k/10)-th smallest non-null value, reported as its midpoint.
    * Output: (table_name, col_idx, decile, est).
    */
  def deciles(sketch: DataFrame): DataFrame =
    decileBuckets(sketch)
      .withColumn("est", bucketEstimate(col("bucket")))
      .select(col("table_name"), col("col_idx"), col("decile"), col("est"))

  /** Sketch-DRIVEN equi-depth binning: bucket every row by the HDR
    * quantization, cut at the sketch's nine decile buckets, and report
    * the realized per-bin population — the feature-discretization use
    * of the mergeable sketch, and simultaneously its accuracy report
    * (perfect cuts would put n/10 in every bin; the deviation IS the
    * sketch's bucket-resolution error, visible and verifiable).
    *
    * `bin = Σ_k [bucket(v) > cut_k]` — pure integer comparisons against
    * the broadcast 9-element cut array, so both engines agree exactly.
    * Output: (bin, n_rows, share), bins that received rows only.
    */
  def equiDepthBins(df: DataFrame, valueCol: String): DataFrame = {
    val long = df.select(col(s"`$valueCol`").cast("double").as("value_num"))
      .filter(col("value_num").isNotNull)
      .withColumn("table_name", lit("t"))
      .withColumn("col_idx", lit(0L))
    val cuts = decileBuckets(sketchLong(long))
      .agg(sort_array(collect_list(col("bucket"))).as("cuts"))
    val binned = withBucket(long, col("value_num"), "bucket")
      .crossJoin(broadcast(cuts))
      .withColumn("bin", expr(
        "aggregate(cuts, 0L, (acc, c) -> acc + CASE WHEN bucket > c THEN 1L ELSE 0L END)"))
      .groupBy("bin").agg(count(lit(1)).as("n_rows"))
    val tot = binned.agg(sum(col("n_rows")).as("__n"))
    binned.crossJoin(broadcast(tot))
      .select(col("bin"), col("n_rows"),
        round(col("n_rows").cast("double") / col("__n").cast("double"), 6)
          .as("share"))
  }

  /** Midpoint estimate (original value units) of a `bucket` attribute.
    * Level 0/1 buckets (idx < 2·2^SubBits) hold one micro integer —
    * exact. Level L ≥ 2: lo = (2^SubBits + (idx & mask)) << (L-1), width
    * = 1 << (L-1), midpoint = lo + 1 << (L-2). Integer throughout; the
    * single closing float op is the /1e6.
    */
  private def bucketEstimate(bucket: Column): Column = {
    val idx = abs(bucket)
    val sgn = when(bucket < 0, -1L).otherwise(1L)
    val lvl = s"CAST(shiftright(abs(bucket), $SubBits) AS INT)"
    val estMicro = when(idx < SubCount * 2, idx).otherwise(expr(
      s"shiftleft(CAST($SubCount AS BIGINT) + (abs(bucket) & ${SubCount - 1}), $lvl - 1)" +
        s" + shiftleft(CAST(1 AS BIGINT), $lvl - 2)"))
    (sgn * estMicro).cast("double") / lit(1e6)
  }
}
