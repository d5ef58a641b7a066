package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.SketchFunctions.md5_low32

/** Bloom-filter membership prefilter — the at-scale companion to the
  * shingle semi-join in [[Decontamination]] (reference leakage guard:
  * `data_prep.py`'s eval-overlap stance; public precedent: the standard
  * decontamination pass every pretraining mix runs).
  *
  * Why it exists: [[Decontamination.overlapReport]] equi-joins EVERY
  * corpus shingle against the benchmark shingle set. Catalyst broadcasts
  * the benchmark side when it is small, but the corpus side still
  * materializes (id, shingle) rows into the join for every shingle —
  * at 100 TB that is the dominant row volume. A Bloom bitmap built from
  * the benchmark side turns the first pass into a pure map-side
  * predicate (zero shuffle, zero join) that discards the overwhelming
  * majority of shingles; only Bloom-positive candidates reach the exact
  * join. No false negatives by construction, so the exact overlap counts
  * are unchanged.
  *
  * Everything is engine-replayable: bit positions are salted
  * [[md5_low32]] draws (DuckDB: `md5_number_lower(s || ':bloom' || i) &
  * 4294967295`), the bitmap build is a distributed `distinct` bounded by
  * `mBits` rows, and the membership test compiles to codegen'd built-ins
  * (`element_at` + variable `shiftright`) over a literal bitmap.
  */
object Bloom {

  /** `mBits` bitmap width (power of two not required — positions are
    * `mod mBits`), `k` salted hash draws per value. The bitmap is
    * embedded in the plan as a literal `Array[Long]` (`mBits/64`
    * entries), so keep `mBits` ≤ ~2²⁰ (16 K longs ≈ 128 KB of task
    * closure); beyond that the benchmark side is large enough that the
    * existing broadcast semi-join is the right plan anyway.
    */
  final case class BloomSpec(mBits: Int = 1 << 16, k: Int = 3) {
    require(mBits > 0 && mBits % 64 == 0, s"mBits must be a positive multiple of 64, got $mBits")
    require(k >= 1, s"k must be >= 1, got $k")
    def words: Int = mBits / 64
  }

  /** The `k` bit positions of a value: `md5_low32(v || ":bloom" || i)
    * mod mBits` for `i <- 0 until k`. Salted re-hash rather than the
    * double-hashing trick so the oracle replay is one expression per
    * draw with no intermediate state.
    */
  def positions(v: Column, spec: BloomSpec): Column =
    array((0 until spec.k).map { i =>
      md5_low32(concat(v.cast("string"), lit(s":bloom$i"))) % spec.mBits
    }: _*)

  /** Distinct bit positions set by `valueCol` — the distributed half of
    * the build. Shuffles at most `mBits` rows regardless of input size
    * (positions are distinct-ed, and there are only `mBits` of them).
    */
  def buildBits(values: DataFrame, valueCol: String, spec: BloomSpec = BloomSpec()): DataFrame =
    values.select(explode(positions(col(valueCol), spec)).as("bit_pos")).distinct()

  /** Collect the (≤ `mBits`-row) position set into a packed bitmap.
    * The collect is bounded by `spec.mBits` bits = `spec.words` longs —
    * independent of how many values went in.
    */
  def toBitmap(bits: DataFrame, spec: BloomSpec = BloomSpec()): Array[Long] = {
    val bm = new Array[Long](spec.words)
    bits.select(col("bit_pos").cast("long")).collect().foreach { r =>
      val p = r.getLong(0)
      require(p >= 0 && p < spec.mBits, s"bit position $p out of range [0, ${spec.mBits})")
      bm((p >> 6).toInt) |= 1L << (p & 63)
    }
    bm
  }

  /** One-stop build: distributed position distinct + bounded collect. */
  def build(values: DataFrame, valueCol: String, spec: BloomSpec = BloomSpec()): Array[Long] =
    toBitmap(buildBits(values, valueCol, spec), spec)

  /** The packed bitmap as a RELATION — `(word_idx, word)`, one row per
    * 64-bit word with at least one set bit (≤ `spec.words` rows, sparse).
    * This is the scale-safe form for filters past ~1e9 bits, where
    * [[toBitmap]]'s driver-side `Array[Long]` would be GBs: the fold is a
    * `groupBy(bit_pos >> 6)` bit-OR aggregation, so no bitmap ever
    * materializes on one machine. Downstream, test membership by joining
    * candidate positions on `word_idx` (broadcast — the words relation is
    * tiny next to the corpus) instead of probing a literal array.
    */
  def toBitmapWords(bits: DataFrame): DataFrame =
    bits.select(shiftright(col("bit_pos").cast("long"), 6).as("word_idx"),
        call_function("shiftleft", lit(1L), (col("bit_pos") % 64).cast("int")).as("w"))
      .groupBy("word_idx").agg(bit_or(col("w")).as("word"))

  /** Membership test against a built bitmap — all codegen'd built-ins
    * (variable-distance `shiftright` via `call_function`), no UDF, no
    * join: a pure map-side predicate suitable for the first pass over
    * the full corpus.
    */
  def mightContain(v: Column, bitmap: Array[Long], spec: BloomSpec = BloomSpec()): Column = {
    require(bitmap.length == spec.words,
      s"bitmap has ${bitmap.length} words, spec needs ${spec.words}")
    val bm = typedLit(bitmap)
    forall(positions(v, spec), p =>
      call_function("shiftright",
        element_at(bm, shiftright(p, 6).cast("int") + 1), (p % 64).cast("int"))
        .bitwiseAND(lit(1L)) === lit(1L))
  }

  /** [[Decontamination.overlapReport]] with a Bloom prefilter: same
    * exact `n_overlap` / `overlap_frac` / `contaminated` columns (no
    * false negatives), plus `n_candidates` — the shingles that survived
    * the bitmap and were sent to the exact join. The gap
    * `n_candidates - n_overlap` is the false-positive band the spec
    * bounds.
    *
    * Plan shape: benchmark side is TWO tiny jobs (position distinct +
    * bounded collect); the corpus side is one scan whose Bloom predicate
    * runs map-side, then the exact join sees only candidates.
    */
  def prefilterOverlap(docs: DataFrame, benchmark: DataFrame, n: Int = 8,
                       threshold: Double = 0.05, spec: BloomSpec = BloomSpec(),
                       idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import Decontamination.shingleSet
    val benchSh = shingleSet(benchmark, idCol, textCol, n, "bench_id").select("sh").distinct()
    val bitmap = build(benchSh, "sh", spec)
    // one corpus pass computes both counts (the Bloom test is a cheap
    // map-side flag); only flagged shingles re-enter for the exact join.
    // balance first (guide §2.5): the shingle explode + k md5 probes per
    // shingle is compute-dense, and a small-on-disk corpus otherwise
    // runs both downstream passes on the scan's single split (measured
    // at sf0.1: two 3.6 s one-task stages)
    val flagged = shingleSet(graft.sources.Lake.balance(docs), idCol, textCol, n, "id")
      .withColumn("hit", mightContain(col("sh"), bitmap, spec))
    val counts = flagged.groupBy("id").agg(
      count(lit(1)).as("n_shingles"),
      count(when(col("hit"), lit(1))).as("n_candidates"))
    Decontamination.flagOverlaps(counts, flagged.filter(col("hit")).join(benchSh, "sh"),
      threshold)
  }
}
