package graft.functions

import org.apache.spark.sql.Column

import graft.core.{MinHash, SimHash}

/** MinHash sketch aggregators, exposed as Spark columns.
  *
  * Re-expresses the reference's column sketching
  * (`/root/reference/tabsketchfm/data_prep.py:264-274` exact-value MinHash,
  * `:213` word-token MinHash, `:319-337` whole-table content snapshot) as
  * native aggregates with an associative/commutative elementwise-min merge, so
  * Spark performs map-side partial aggregation: raw values never shuffle,
  * only fixed 100-slot digests per (group, partition) do. That is the
  * property that makes per-column sketching scale linearly with input size.
  */
object SketchFunctions {

  import org.apache.spark.sql.graftbridge.{columnOf, expressionOf}

  /** `minhash_agg(values)`: 100-slot MinHash digest of a string column.
    * Native TypedImperativeAggregate — hashes UTF8String bytes in place.
    */
  def minhash_agg(col: Column): Column =
    columnOf(MinHashExactAgg(expressionOf(col)).toAggregateExpression())

  /** `minhash_words_agg(values)`: digest of the word-token multiset. */
  def minhash_words_agg(col: Column): Column =
    columnOf(MinHashWordsAggNative(expressionOf(col)).toAggregateExpression())

  /** `exact_deciles(value, freq, probs)`: exact linear-interpolation
    * percentiles at `probs` of a (value, freq) histogram; null for a
    * group with no value. Native TypedImperativeAggregate. */
  def exact_deciles(value: Column, freq: Column, probs: Seq[Double]): Column =
    columnOf(ExactDeciles(expressionOf(value.cast("double")),
      expressionOf(freq.cast("long")), probs).toAggregateExpression())

  // ---- scalar sketch functions ----

  /** Estimated Jaccard similarity of two MinHash digests (J5) — native
    * expression over ArrayData (no per-row Seq conversion), and the
    * pattern [[graft.plans.SimilarityJoinRewrite]] matches to turn naive
    * similarity joins into LSH-banded joins.
    */
  def minhash_jaccard(a: Column, b: Column): Column =
    columnOf(graft.plans.MinHashJaccard(expressionOf(a), expressionOf(b)))

  private val containmentUdf = org.apache.spark.sql.functions.udf {
    (a: Array[Long], b: Array[Long], cardA: Long, cardB: Long) =>
      if (a == null || b == null) null
      else {
        val j = MinHash.jaccard(a, b)
        java.lang.Double.valueOf(MinHash.containment(j, cardA.toDouble, cardB.toDouble))
      }
  }

  /** Estimated containment(A ⊆ B) from digests + distinct-count estimates. */
  def minhash_containment(a: Column, b: Column, cardA: Column, cardB: Column): Column =
    containmentUdf(a, b, cardA, cardB)

  private val xxhash32Udf = org.apache.spark.sql.functions.udf {
    (s: String) => if (s == null) null else java.lang.Long.valueOf(MinHash.xxhash32(s))
  }

  /** xxhash32 of a string (the reference's base hash, `data_prep.py:31-32`). */
  def xxhash32(col: Column): Column = xxhash32Udf(col)

  private val simhashUdf = org.apache.spark.sql.functions.udf {
    (s: String) =>
      if (s == null) null
      else java.lang.Long.valueOf(
        SimHash.simhash(s.split("\\s+").iterator.filter(_.nonEmpty)))
  }

  /** 64-bit SimHash over whitespace tokens of a document. */
  def simhash64(col: Column): Column = simhashUdf(col)

  /** Hamming distance between two 64-bit fingerprints — popcount of the
    * XOR, all codegen'd built-ins (no UDF in the verify path).
    */
  def hamming64(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.bit_count(a.bitwiseXOR(b))

  /** Column mirror of `MinHash.md5Low32`: little-endian uint32 of MD5
    * bytes [8,12) as BIGINT — the native [[graft.plans.Md5Low32]]
    * expression (bit-identical to the former md5 hex → byte-pair
    * reorder → conv built-in chain, minus its per-call MessageDigest,
    * hex-string and radix-parse allocations). DuckDB recomputes it as
    * `md5_number_lower(v) & 4294967295`. */
  def md5_low32(c: Column): Column =
    columnOf(graft.plans.Md5Low32(expressionOf(c.cast("binary"))))

  /** `minhash_bands(digest, nBands)`: array of band keys for LSH joins —
    * `bands` keys, each hashing `numPerm/bands` consecutive slots. Two
    * columns sharing any band key are near-dup candidates: the standard
    * banding scheme that turns an O(n²) similarity join into a shuffle on
    * band keys. Native expression shared with the optimizer rewrite.
    */
  def minhash_bands(digest: Column, bands: Int = 20): Column =
    columnOf(graft.plans.MinHashBandKeys(expressionOf(digest), bands))

  private val minhashSetUdf = org.apache.spark.sql.functions.udf {
    (items: Array[String]) =>
      if (items == null) null else MinHash.sketch(items.iterator.filter(_ != null))
  }

  /** `minhash_set(arr)`: per-row MinHash digest of an array column — the
    * per-document sketch used by shingle-based near-dup detection (vs the
    * aggregator, which sketches a whole column's multiset).
    */
  def minhash_set(items: Column): Column = minhashSetUdf(items)
}
