package graft.functions

import java.nio.ByteBuffer
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** The shared part of the double-vector aggregates ([[VectorSumAgg]],
  * [[OuterProductSumAgg]]): one primitive `double` buffer per group,
  * evaluated as a non-null `array<double>` and shipped between
  * partitions as raw big-endian doubles. Subclasses define `update`,
  * `merge` and the copy methods.
  */
abstract class DoubleVectorAgg
    extends TypedImperativeAggregate[Array[Double]] {
  def child: Expression

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType =
    ArrayType(DoubleType, containsNull = false)

  override def createAggregationBuffer(): Array[Double] = Array.emptyDoubleArray

  override def eval(buf: Array[Double]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Double]): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 * buf.length)
    buf.foreach(bb.putDouble)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Double] = {
    val bb = ByteBuffer.wrap(bytes)
    Array.fill(bytes.length / 8)(bb.getDouble)
  }
}

/** Element-wise sum of an `array<double>` column as ONE aggregate
  * (TypedImperativeAggregate, the [[MinHashAgg]] pattern): each group's
  * buffer is a single primitive double vector, merged element-wise
  * across partitions.
  *
  * This is the k-means centroid-update kernel: the `posexplode` form it
  * replaces shuffled N×dim `(cell, pos, x)` rows per iteration — dim×
  * the rows of the input — then needed a second aggregate to reassemble
  * per-dim means into vectors. With a vector-sum aggregate the map side
  * combines every partition down to k partial-sum rows, the exchange
  * carries k×partitions fixed-size vectors, and no reassembly exists.
  *
  * Ragged inputs sum over the common prefix per pair (buffer grows to
  * the longest seen); empty groups cannot occur (a group implies ≥1
  * row), and an all-null group evaluates to an empty array.
  */
case class VectorSumAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends DoubleVectorAgg {

  private def grow(buf: Array[Double], n: Int): Array[Double] =
    if (buf.length >= n) buf
    else { val b = new Array[Double](n); System.arraycopy(buf, 0, b, 0, buf.length); b }

  override def update(buf: Array[Double], input: InternalRow): Array[Double] = {
    val v = child.eval(input)
    if (v == null) buf
    else {
      val arr = v.asInstanceOf[ArrayData]
      val n = arr.numElements()
      val b = grow(buf, n)
      var i = 0
      while (i < n) { b(i) += arr.getDouble(i); i += 1 }
      b
    }
  }

  override def merge(a: Array[Double], b: Array[Double]): Array[Double] = {
    val out = grow(a, b.length)
    var i = 0
    while (i < b.length) { out(i) += b(i); i += 1 }
    out
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): VectorSumAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): VectorSumAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): VectorSumAgg =
    copy(child = newChildren.head)
  override def prettyName: String = "vector_sum"
}

object VectorSumAgg {
  /** Column API: element-wise sum of an array<double> column. */
  def vectorSum(vec: Column): Column = {
    import org.apache.spark.sql.graftshim
    graftshim.columnOf(
      VectorSumAgg(graftshim.columnExpr(vec)).toAggregateExpression())
  }

  /** Column API: row-major d×d outer-product sum (Σ v·vᵀ). */
  def outerProductSum(vec: Column): Column = {
    import org.apache.spark.sql.graftshim
    graftshim.columnOf(
      OuterProductSumAgg(graftshim.columnExpr(vec)).toAggregateExpression())
  }
}

/** Σᵢ vᵢ·vᵢᵀ as ONE aggregate: the Gram-matrix kernel of distributed
  * PCA / covariance. Each partition's buffer is a single row-major d²
  * double array (for embedding dims this is metadata-sized — 64² = 32
  * KiB), map-side combined, merged element-wise across partitions: the
  * exchange carries one d² vector per partition, never a corpus-sized
  * anything. The explode alternative shuffles N×d² scalar rows — d²×
  * the corpus.
  *
  * Unlike [[VectorSumAgg]]'s ragged-prefix tolerance, a Gram matrix has
  * no meaningful "common prefix" (the flattened index mapping changes
  * with d), so a dimension mismatch fails loudly instead of silently
  * mis-accumulating.
  */
case class OuterProductSumAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends DoubleVectorAgg {

  override def update(buf: Array[Double], input: InternalRow): Array[Double] = {
    val v = child.eval(input)
    if (v == null) buf
    else {
      val arr = v.asInstanceOf[ArrayData]
      val d = arr.numElements()
      val b =
        if (buf.length == 0) new Array[Double](d * d)
        else {
          require(buf.length == d * d,
            s"outer_product_sum: dimension changed mid-aggregate " +
              s"(buffer ${buf.length} vs ${d}x$d) — Gram accumulation " +
              "requires a fixed vector dimension")
          buf
        }
      val row = new Array[Double](d)
      var i = 0
      while (i < d) { row(i) = arr.getDouble(i); i += 1 }
      i = 0
      while (i < d) {
        val xi = row(i)
        val off = i * d
        var j = 0
        while (j < d) { b(off + j) += xi * row(j); j += 1 }
        i += 1
      }
      b
    }
  }

  override def merge(a: Array[Double], b: Array[Double]): Array[Double] = {
    if (a.length == 0) b
    else if (b.length == 0) a
    else {
      require(a.length == b.length,
        s"outer_product_sum: merging buffers of different dimension " +
          s"(${a.length} vs ${b.length})")
      var i = 0
      while (i < b.length) { a(i) += b(i); i += 1 }
      a
    }
  }

  override def withNewMutableAggBufferOffset(newOffset: Int)
      : OuterProductSumAgg = copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int)
      : OuterProductSumAgg = copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): OuterProductSumAgg =
    copy(child = newChildren.head)
  override def prettyName: String = "outer_product_sum"
}
