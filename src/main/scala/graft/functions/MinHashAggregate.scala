package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.core.MinHash

/** Native Catalyst MinHash aggregate (A11/A12) behind
  * [[SketchFunctions]]' `minhash_agg` / `minhash_words_agg`.
  *
  * Why `TypedImperativeAggregate`: a `udaf()`-wrapped `Aggregator` would
  * decode each value UTF8String → java String → UTF-8 bytes (three
  * allocations) before hashing. Here we hash the UTF8String's bytes
  * directly — zero decode, zero copy — and tokenize on ASCII whitespace
  * in-place for the word variant. The digest algebra is elementwise
  * min (associative and commutative), so partial aggregation shuffles
  * only fixed 100-slot buffers.
  */
trait MinHashAggBase extends TypedImperativeAggregate[Array[Long]] {

  def child: Expression

  @transient protected lazy val perms = MinHash.perms()

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def createAggregationBuffer(): Array[Long] = MinHash.emptyDigest()

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] =
    MinHash.mergeInto(a, b)

  override def eval(buffer: Array[Long]): Any = new GenericArrayData(buffer)

  override def serialize(buffer: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(buffer.length * 8)
    bb.asLongBuffer().put(buffer)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val out = new Array[Long](bytes.length / 8)
    java.nio.ByteBuffer.wrap(bytes).asLongBuffer().get(out)
    out
  }

  override def update(buffer: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) hashValue(buffer, v.asInstanceOf[UTF8String])
    buffer
  }

  /** Fold one non-null value into `buffer`. */
  protected def hashValue(buffer: Array[Long], s: UTF8String): Unit
}

/** MinHash over exact values. */
case class MinHashExactAgg(child: Expression,
                           override val mutableAggBufferOffset: Int = 0,
                           override val inputAggBufferOffset: Int = 0)
    extends MinHashAggBase {

  override protected def hashValue(buffer: Array[Long], s: UTF8String): Unit =
    MinHash.permuteInto(buffer, MinHash.md5Low32(s.getBytes), perms)

  override def withNewMutableAggBufferOffset(o: Int): MinHashExactAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): MinHashExactAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): MinHashExactAgg =
    copy(child = c.head)
  override def prettyName: String = "minhash_agg"
}

/** MinHash over whitespace tokens of each value (`str(v).split()`,
  * reference data_prep.py:213). Tokenizes without decoding: splits the
  * UTF-8 byte array on ASCII whitespace (identical token boundaries for
  * UTF-8 input, since multi-byte sequences never contain ASCII bytes).
  */
case class MinHashWordsAggNative(child: Expression,
                                 override val mutableAggBufferOffset: Int = 0,
                                 override val inputAggBufferOffset: Int = 0)
    extends MinHashAggBase {

  override protected def hashValue(buffer: Array[Long], s: UTF8String): Unit = {
    val bytes = s.getBytes
    var i = 0
    val n = bytes.length
    while (i < n) {
      while (i < n && isWs(bytes(i))) i += 1
      val start = i
      while (i < n && !isWs(bytes(i))) i += 1
      if (i > start)
        MinHash.permuteInto(buffer,
          MinHash.md5Low32(java.util.Arrays.copyOfRange(bytes, start, i)), perms)
    }
  }
  @inline private def isWs(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == '\r' || b == '\f' || b == 0x0b

  override def withNewMutableAggBufferOffset(o: Int): MinHashWordsAggNative =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): MinHashWordsAggNative =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): MinHashWordsAggNative =
    copy(child = c.head)
  override def prettyName: String = "minhash_words_agg"
}
