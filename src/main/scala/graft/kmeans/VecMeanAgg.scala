package graft.kmeans

import java.nio.ByteBuffer

import org.apache.spark.sql.{graftbridge, Column}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Running (elementwise sum, count) buffer for a vector mean. */
final class VecMeanBuf(var sum: Array[Double], var n: Long)

/** Per-group N-dimensional vector mean as a real distributive aggregate:
  * partial elementwise sums on the map side, zip-add on merge, divide at
  * the end. This is what the reference computes single-threaded per group
  * (/root/reference/reducer.py:19-30) — but as a Catalyst aggregate it
  * shuffles exactly K buffers of D doubles instead of the posexplode
  * plan's D rows per point, which is the difference between an O(K·D) and
  * an O(N·D) shuffle at 100 TB (SURVEY.md §2.10).
  *
  * The buffer is a primitive `double[]` plus a `long` count, filled straight
  * from `ArrayData.getDouble` and serialized as `[n][sum_0 .. sum_{D-1}]`.
  * Null rows are skipped, as SQL `avg` does; a row whose length differs from
  * the group's, or a null element, fails the task. Empty input (or only null
  * rows) yields `[]`.
  */
case class VecMeanAgg(child: Expression, mutableAggBufferOffset: Int = 0,
                      inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[VecMeanBuf] with UnaryLike[Expression] {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<double>, got ${t.simpleString}")
  }

  private def elementsNullable: Boolean = child.dataType match {
    case ArrayType(_, containsNull) => containsNull
    case _ => false
  }

  private def checkLength(have: Int, got: Int): Unit =
    if (have != got) throw new IllegalArgumentException(
      s"$prettyName: vectors of length $have and $got in one group")

  override def createAggregationBuffer(): VecMeanBuf = new VecMeanBuf(Array.emptyDoubleArray, 0L)

  override def update(b: VecMeanBuf, input: InternalRow): VecMeanBuf = {
    val v = child.eval(input)
    if (v == null) return b
    val x = v.asInstanceOf[ArrayData]
    val m = x.numElements()
    if (elementsNullable) {
      var i = 0
      while (i < m) {
        if (x.isNullAt(i)) throw new IllegalArgumentException(s"$prettyName: null element at $i")
        i += 1
      }
    }
    if (b.n == 0L) b.sum = x.toDoubleArray()
    else {
      checkLength(b.sum.length, m)
      val s = b.sum
      var i = 0
      while (i < m) { s(i) += x.getDouble(i); i += 1 }
    }
    b.n += 1
    b
  }

  override def merge(a: VecMeanBuf, b: VecMeanBuf): VecMeanBuf = {
    if (b.n == 0L) a
    else if (a.n == 0L) b
    else {
      checkLength(a.sum.length, b.sum.length)
      val s = a.sum
      var i = 0
      while (i < s.length) { s(i) += b.sum(i); i += 1 }
      a.n += b.n
      a
    }
  }

  override def eval(b: VecMeanBuf): Any =
    new GenericArrayData(if (b.n == 0L) Array.emptyDoubleArray else b.sum.map(_ / b.n))

  override def serialize(b: VecMeanBuf): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 * (1 + b.sum.length)).putLong(b.n)
    bb.asDoubleBuffer().put(b.sum)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): VecMeanBuf = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getLong()
    val sum = new Array[Double](bb.remaining() / 8)
    bb.asDoubleBuffer().get(sum)
    new VecMeanBuf(sum, n)
  }

  override def withNewMutableAggBufferOffset(o: Int): VecMeanAgg = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): VecMeanAgg = copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): VecMeanAgg = copy(child = c)
}

object VecMeanAgg {
  /** Untyped Column form for use in `groupBy(...).agg(...)`. */
  def apply(c: Column): Column =
    graftbridge.toColumn(new VecMeanAgg(graftbridge.toExpression(c)).toAggregateExpression())
}
