package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Tokenizer-layer feature assembly (SURVEY §2.10, T1–T8 lite): turns the
  * profile catalog into fixed-width model-input tensors as array columns —
  * the DataFrame→DataFrame transforms feeding any external encoder.
  *
  * Mirrors `/root/reference/tabsketchfm/tabular_tokenizer.py`:
  *  - T4 stats layout: `[unique, num_nan, cell_width, quantile13] zero-pad
  *    → width` (`:222-227`), z-scored (`:231-234`)
  *  - T4 minhash layout: `[mh_exact100, mh_words100] / 1e8 zero-pad`
  *    (`:177,235`)
  *  - T1 text assembly: `"{table} [SEP] col1 [SEP] col2 …"` (`:24-36`)
  *  - A14 alt-sketch: hashing-trick term-frequency vector (HashingTF
  *    semantics, `data_prep.py:251-261`)
  */
object FeatureAssembly {

  val DefaultPad = 768  // reference hidden size

  /** Z-score the `raw` head values against the FULL padded width: the pad
    * slots are zeros, so μ = Σraw/width and the pad contribution to the
    * variance is the closed form `(width−|raw|)·μ²` — a fixed left-to-right
    * expression tree (Σ(xᵢ−μ)² then one fused pad term) that an independent
    * SQL engine can replicate BIT-EXACTLY for verification, unlike a
    * sequential loop over 240 pad slots. Output = z-scored raw head ++
    * `(0−μ)/σ`-valued pad, total `width` slots.
    */
  private val zscoreUdf = udf { (raw: Seq[Double], width: Int) =>
    var sum = 0.0
    raw.foreach(sum += _)
    val mu = sum / width
    var s2 = 0.0
    raw.foreach { x => val d = x - mu; s2 += d * d }
    s2 += (width - raw.length) * mu * mu
    val sd = math.sqrt(s2 / width)
    if (sd == 0) Seq.fill(width)(0.0)
    else raw.map(x => (x - mu) / sd) ++ Seq.fill(width - raw.length)(-mu / sd)
  }

  /** Per-column stats vector: `[unique, num_nan, cell_width, quantile13,
    * 0-pad]` to full width, then z-scored over the WHOLE width — the
    * reference z-scores after padding (`tabular_tokenizer.py:222-234`), so
    * the pad slots carry the common (0−μ)/σ value. Missing cell_width
    * defaults to the CELL_WIDTH_BYTES constant 1.0 (`:201-204,51`);
    * missing/NaN quantiles → 0 (`:217-218`).
    */
  def statsVector(width: Int = DefaultPad): Column = {
    val raw = concat(
      array(col("unique").cast("double"), col("num_nan").cast("double"),
        coalesce(col("cell_width"), lit(1.0))),
      transform(coalesce(col("quantile"), array_repeat(lit(0.0), 13)),
        q => coalesce(q, lit(0.0))))
    // z-score in ONE UDF pass: expressing μ/σ as nested Column aggregates
    // re-inlines them per element (a ~10^5-node tree whose codegen costs
    // seconds); one row per table column makes a UDF the right tool here
    zscoreUdf(raw, lit(width))
  }

  /** Per-column minhash vector: exact + words digests scaled by 1e-8,
    * zero-padded to `width`. */
  def minhashVector(width: Int = DefaultPad): Column = {
    val mh = concat(
      coalesce(col("minhash_exact"), array_repeat(lit(0L), 100)),
      coalesce(col("minhash_words"), array_repeat(lit(0L), 100)))
    concat(transform(mh, x => x.cast("double") / 1e8),
      array_repeat(lit(0.0), width - 200))
  }

  /** Content-snapshot slot vector (T4 layout: sequence position 1 carries
    * the whole-table snapshot, `tabular_tokenizer.py:175-181`):
    * `[snapshot/1e8, 0-pad]` in the minhash channel, zeros in the stats
    * channel. Input: the snapshots relation (table_name, content_snapshot).
    */
  def snapshotTensor(snapshots: DataFrame, width: Int = DefaultPad): DataFrame =
    snapshots.select(col("table_name"),
      array_repeat(lit(0.0), width).as("stats_vec"),
      concat(transform(col("content_snapshot"), x => x.cast("double") / 1e8),
        array_repeat(lit(0.0), width - 100)).as("minhash_vec"))

  /** T1: table text assembly `"{table} [SEP] col1 [SEP] col2 …"`. */
  def tableText(profiles: DataFrame): DataFrame =
    profiles.groupBy(col("table_name"))
      .agg(concat_ws(" [SEP] ",
        col("table_name") +:
          Seq(array_join(array_sort(collect_list(struct(col("col_idx"), col("col_name"))))
            .getField("col_name"), " [SEP] ")): _*).as("text"))

  /** Assemble the per-column tensor relation: one row per (table, column)
    * with `stats_vec` and `minhash_vec` array columns.
    */
  def columnTensors(profiles: DataFrame, width: Int = DefaultPad): DataFrame =
    profiles.select(col("table_name"), col("col_idx"), col("col_name"),
      col("col_type"),
      statsVector(width).as("stats_vec"),
      minhashVector(width).as("minhash_vec"))

  /** md5Low32 as a Column (codegen'd builtins, no UDF): little-endian
    * uint32 of md5 bytes [8,12) extracted from the hex render — the same
    * base hash as MinHash.md5Low32, so DuckDB (`md5_number_lower & 2³²−1`)
    * can recompute it. */
  private def md5Low32Col(c: Column): Column =
    graft.functions.SketchFunctions.md5_low32(c)

  /** A14 alt-sketch: hashing-trick term-frequency vector over the column's
    * whitespace tokens — `HashingVectorizer(n_features)` semantics
    * (`data_prep.py:251-261`), fully relational: explode tokens → md5
    * bucket → count, one shuffle on (col, bucket). Emitted as a sorted
    * sparse "bucket:count" string: deterministic, verifiable by an
    * independent engine, and never materializes a column's token multiset
    * in one place (the dense-vector route would).
    */
  def hashingSketch(values: DataFrame, nFeatures: Int = 30000): DataFrame =
    values.filter(col("value_str").isNotNull)
      .select(col("table_name"), col("col_idx"),
        explode(split(col("value_str"), "\\s+")).as("tok"))
      .filter(col("tok") =!= "")
      .withColumn("bucket", pmod(md5Low32Col(col("tok")), lit(nFeatures)))
      .groupBy(col("table_name"), col("col_idx"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("table_name"), col("col_idx"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("bucket"), col("cnt")))),
        s => concat_ws(":", s.getField("bucket"), s.getField("cnt"))), " ").as("hv_str"))

  /** MLlib-interop variant of [[hashingSketch]] (HashingTF murmur3
    * buckets, dense ML vector output) for pipelines that feed MLlib. */
  def hashingSketchTF(values: DataFrame, nFeatures: Int = 30000): DataFrame = {
    import org.apache.spark.ml.feature.HashingTF
    val docs = values.filter(col("value_str").isNotNull)
      .groupBy(col("table_name"), col("col_idx"))
      .agg(flatten(collect_list(split(col("value_str"), "\\s+"))).as("tokens"))
    new HashingTF().setInputCol("tokens").setOutputCol("hv")
      .setNumFeatures(nFeatures)
      .transform(docs)
      .select("table_name", "col_idx", "hv")
  }
}
