package graft.functions

import java.util.Arrays

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Growable `(value, freq)` histogram: the buffer of [[ExactDeciles]]. */
final class DecileBuffer {
  var values: Array[Double] = Array.emptyDoubleArray
  var freqs: Array[Long] = Array.emptyLongArray
  var size = 0

  /** Grow to hold `need` entries, raising past [[DecileBuffer.MaxEntries]]. */
  def reserve(need: Long): Unit = if (need > values.length) {
    if (need > DecileBuffer.MaxEntries) throw new IllegalStateException(
      s"exact_deciles: $need histogram entries exceed the ${DecileBuffer.MaxEntries}-entry limit")
    val cap = math.min(math.max(values.length * 2L, math.max(need, 16L)), DecileBuffer.MaxEntries)
    values = Arrays.copyOf(values, cap.toInt)
    freqs = Arrays.copyOf(freqs, cap.toInt)
  }
}

object DecileBuffer {
  /** Most entries whose serialized form (16 B each) fits one JVM array. */
  val MaxEntries: Long = (Int.MaxValue - 8) / 16
}

/** `exact_deciles(value, freq, probs)`: exact linear-interpolation
  * percentiles of a frequency-weighted value histogram (A4), as one native
  * aggregate in the profile's stage-2 `groupBy` next to the stats and
  * MinHash aggregates.
  *
  * The buffer keeps one entry per input row (null values and `freq <= 0`
  * sentinels skipped) and `merge` concatenates: a value repeated across
  * partitions only splits its rank interval, so every rank still resolves
  * to the same value. `eval` sorts by `java.lang.Double.compare` (NaN
  * last) and interpolates `(hi−pos)·v_lo + (pos−lo)·v_hi` between ranks
  * `lo = floor(pos)` and `hi = ceil(pos)`, `pos = p·(n−1)` — the formula
  * of Spark's `percentile`. An empty buffer evaluates to null.
  */
case class ExactDeciles(value: Expression, freq: Expression, probs: Seq[Double],
                        override val mutableAggBufferOffset: Int = 0,
                        override val inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[DecileBuffer] {

  override def children: Seq[Expression] = Seq(value, freq)
  override def nullable: Boolean = true
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def createAggregationBuffer(): DecileBuffer = new DecileBuffer

  override def update(buffer: DecileBuffer, input: InternalRow): DecileBuffer = {
    val v = value.eval(input)
    val f = if (v == null) null else freq.eval(input)
    if (f != null && f.asInstanceOf[Long] > 0) {
      buffer.reserve(buffer.size + 1L)
      buffer.values(buffer.size) = v.asInstanceOf[Double]
      buffer.freqs(buffer.size) = f.asInstanceOf[Long]
      buffer.size += 1
    }
    buffer
  }

  override def merge(a: DecileBuffer, b: DecileBuffer): DecileBuffer = {
    a.reserve(a.size.toLong + b.size)
    System.arraycopy(b.values, 0, a.values, a.size, b.size)
    System.arraycopy(b.freqs, 0, a.freqs, a.size, b.size)
    a.size += b.size
    a
  }

  override def eval(buffer: DecileBuffer): Any = if (buffer.size == 0) null else {
    // distinct values in Double.compare order, then their cumulative counts
    val distinct = Arrays.copyOf(buffer.values, buffer.size)
    Arrays.sort(distinct)
    var m = 0
    for (v <- distinct if m == 0 || java.lang.Double.compare(v, distinct(m - 1)) != 0) {
      distinct(m) = v
      m += 1
    }
    val cum = new Array[Long](m)
    for (i <- 0 until buffer.size)
      cum(Arrays.binarySearch(distinct, 0, m, buffer.values(i))) += buffer.freqs(i)
    for (i <- 1 until m) cum(i) += cum(i - 1)
    // the value at rank r: the first whose cumulative count exceeds r
    def at(r: Long): Double = {
      val i = Arrays.binarySearch(cum, r + 1)
      distinct(if (i >= 0) i else -i - 1)
    }
    val n = cum(m - 1)
    new GenericArrayData(probs.map { p =>
      val pos = p * (n - 1).toDouble
      val (lo, hi) = (math.floor(pos).toLong, math.ceil(pos).toLong)
      if (lo == hi) at(lo) else (hi.toDouble - pos) * at(lo) + (pos - lo.toDouble) * at(hi)
    }.toArray[Any])
  }

  override def serialize(buffer: DecileBuffer): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(buffer.size * 16)
    bb.asDoubleBuffer().put(buffer.values, 0, buffer.size)
    bb.position(buffer.size * 8).asLongBuffer().put(buffer.freqs, 0, buffer.size)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): DecileBuffer = {
    val out = new DecileBuffer
    out.size = bytes.length / 16
    out.reserve(out.size)
    val bb = java.nio.ByteBuffer.wrap(bytes)
    bb.asDoubleBuffer().get(out.values, 0, out.size)
    bb.position(out.size * 8).asLongBuffer().get(out.freqs, 0, out.size)
    out
  }

  override def withNewMutableAggBufferOffset(o: Int): ExactDeciles =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): ExactDeciles =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): ExactDeciles =
    copy(value = c(0), freq = c(1))
  override def prettyName: String = "exact_deciles"
}
