package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** MinHash signature as a single custom `TypedImperativeAggregate`:
  * `graft_minhash_sig(shingle, numHashes)` over a doc's exploded shingles
  * returns the array of `numHashes` component minima, hex-encoded —
  * component-for-component identical to [[MinHashSignature]] (and to the
  * DuckDB oracle), for callers that already hold shingle rows. The hash
  * family, the fold and the hex encoding live in the `MinHashSignature`
  * companion.
  *
  * Scale: the buffer is numHashes × 4 bytes per group; partial aggregation
  * collapses shingles map-side, so only one small signature row per doc
  * crosses the shuffle.
  */
case class MinHashSig(
    child: Expression,
    numHashes: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Int]] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = true
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  private val prefixes = MinHashSignature.streamPrefixes(numHashes)

  // buffer slot numHashes is a seen-any-shingle flag (0 / 1): all-0xff
  // minima alone cannot distinguish "no input" from a pathological corpus
  override def createAggregationBuffer(): Array[Int] = {
    val b = new Array[Int](numHashes + 1)
    java.util.Arrays.fill(b, 0, numHashes, -1) // 0xffffffff = unsigned max
    b
  }

  override def update(buf: Array[Int], row: InternalRow): Array[Int] = {
    val v = child.eval(row)
    if (v != null) {
      buf(numHashes) = 1
      val shingle = v.asInstanceOf[UTF8String].getBytes
      MinHashSignature.fold(prefixes, shingle, 0, shingle.length, buf, numHashes)
    }
    buf
  }

  override def merge(a: Array[Int], b: Array[Int]): Array[Int] = {
    var i = 0
    while (i < numHashes) {
      if (java.lang.Integer.compareUnsigned(b(i), a(i)) < 0) a(i) = b(i)
      i += 1
    }
    a(numHashes) = a(numHashes) | b(numHashes)
    a
  }

  override def eval(buf: Array[Int]): Any =
    if (buf(numHashes) == 0) null else MinHashSignature.hex(buf, numHashes)

  override def serialize(buf: Array[Int]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate((numHashes + 1) * 4)
    var i = 0
    while (i <= numHashes) { bb.putInt(buf(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Int] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val buf = new Array[Int](numHashes + 1)
    var i = 0
    while (i <= numHashes) { buf(i) = bb.getInt(); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): MinHashSig =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MinHashSig =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
}
