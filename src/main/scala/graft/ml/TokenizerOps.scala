package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Remaining tokenizer-layer operators (SURVEY §2.10) expressed as
  * DataFrame/array transforms — the data path feeding an external encoder.
  * WordPiece itself (T2) is the external model's tokenizer and stays
  * out-of-engine (SURVEY §2.11 stance).
  */
object TokenizerOps {

  /** O6: canonical column order — sort by column name
    * (`tabular_tokenizer.py:291`, `tabular_dataset.py:160-163`). */
  def canonicalColumns(profiles: DataFrame): DataFrame =
    profiles.orderBy(col("table_name"), col("col_name"))

  /** T3: column-position encoding — `cumsum(tok == SEP) + 1`, 0 at special
    * tokens (`create_col_encodings`, `tabular_tokenizer.py:77-80`). Pure
    * array op: running count of [SEP]s via a fold that appends to an
    * accumulated array.
    */
  def colPositionEncoding(tokens: Column, sep: String = "[SEP]",
                          specials: Seq[String] = Seq("[CLS]", "[PAD]", "[MASK]")): Column = {
    val acc = aggregate(
      tokens,
      struct(lit(1).as("seg"), array().cast("array<int>").as("out")),
      (st, tok) => {
        val seg = st.getField("seg") + when(tok === sep, 1).otherwise(0)
        val enc = when(tok.isin(specials: _*) || tok === sep, 0)
          .otherwise(st.getField("seg"))
        struct(seg.as("seg"), concat(st.getField("out"), array(enc)).as("out"))
      })
    acc.getField("out")
  }

  /** T5: deterministic MLM mask plan — per token position, draw seeded
    * pseudo-randoms from an MD5-derived hash of (seed, pos, draw#); 15% of
    * positions masked, of those 80% → [MASK], 10% → random token, 10% →
    * kept (`tabular_tokenizer.py:127-143`). Emits the *plan* (action per
    * position); applying it is the trainer's job. The draw is the low-32
    * MD5 pattern (`MinHash.md5Low32` == DuckDB `md5_number_lower(v) &
    * 0xffffffff`) so an independent engine replays the plan exactly.
    */
  def mlmMaskPlan(tokens: Column, seedCol: Column,
                  maskProb: Double = 0.15): Column =
    transform(tokens, (tok, i) => {
      // LE uint32 of md5 bytes [8,12): hex byte pairs 11..8 (same extract
      // as Augment.contentHash's md5Low64, truncated to 32 bits)
      def draw(k: Int): Column = {
        val h = md5(concat_ws(":", seedCol.cast("string"),
          i.cast("string"), lit(k.toString)))
        val be = concat((11 to 8 by -1).map(b => substring(h, 2 * b + 1, 2)): _*)
        (conv(be, 16, 10).cast("long") % 10000).cast("double") / 10000.0
      }
      val r1 = draw(1)
      val r2 = draw(2)
      when(tok.isin("[CLS]", "[SEP]", "[PAD]"), lit("keep"))
        .when(r1 >= maskProb, lit("keep"))
        .when(r2 < 0.8, lit("mask"))
        .when(r2 < 0.9, lit("random"))
        .otherwise(lit("keep_masked"))
    })

  /** T6: pair concatenation with a per-side budget (`max_pos/2`,
    * `tabular_dataset.py:168-192`): truncate each side then concat. */
  def pairConcat(side1: Column, side2: Column, maxLen: Int): Column =
    concat(slice(side1, 1, maxLen / 2), slice(side2, 1, maxLen / 2))

  /** T7: multi-label list → one-hot vector (`tabular_dataset.py:152-156`). */
  def oneHot(labels: Column, numClasses: Int): Column =
    transform(sequence(lit(0), lit(numClasses - 1)),
      i => when(array_contains(labels, i), 1.0).otherwise(0.0))
}
