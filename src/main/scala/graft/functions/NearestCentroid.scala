package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Fused nearest-centroid kernel: for an `array<double>` point and a
  * constant centroid set, `struct<d: double, cid: int>` holding the
  * smallest squared distance and the id of the centroid that attains it.
  * This is the reference mapper's argmin scan (mapper.py:57-68) as one
  * K×D primitive loop per row.
  *
  * `centroids` must be foldable, of type [[NearestCentroid.CentroidsType]]
  * (`array<struct<cid: int, coordinates: array<double>>>`), and non-empty;
  * [[NearestCentroid.literal]] builds it. The matrix is one literal child,
  * so the plan still compares, explains and serializes like any other; it
  * is flattened to a primitive `double[]` once per expression instance
  * (once per task), never per row. Each row's point is copied into a
  * scratch `double[]` held by the instance, and runs the one loop of
  * [[NearestCentroid.Table]] over that slice, the loop `Lloyd` runs over
  * its point blocks.
  *
  * Semantics are those of
  * `array_min(array(struct(SquaredDistance(point, c_k), cid_k) for k in cid order))`:
  *   - `d` accumulates left to right from 0.0, as [[SquaredDistance]]
  *     does, so it is bit-equal;
  *   - ties go to the lower cid;
  *   - NaN sorts above every number;
  *   - a null point, a null element, or a length mismatch makes that
  *     centroid's `d` null, and a null `d` sorts first: the result is
  *     `(null, cid)` of the lowest such centroid.
  */
case class NearestCentroid(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = NearestCentroid.ResultType
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult = left.dataType match {
    case ArrayType(DoubleType, _) if right.foldable && right.dataType == NearestCentroid.CentroidsType =>
      val cents = right.eval().asInstanceOf[ArrayData]
      if (cents != null && cents.numElements() > 0) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(s"$nodeName needs at least one centroid")
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$nodeName expects (array<double>, constant ${NearestCentroid.CentroidsType.simpleString}), " +
        s"got (${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  private def elementsNullable: Boolean = left.dataType match {
    case ArrayType(_, containsNull) => containsNull
    case _ => false
  }

  @transient private lazy val table: NearestCentroid.Table =
    NearestCentroid.Table(right.eval().asInstanceOf[ArrayData])

  // per-instance scratch for interpreted `eval`: the K distances and the
  // point copied out of its ArrayData
  @transient private lazy val dist = new Array[Double](table.cids.length)
  @transient private lazy val point = new Array[Double](table.dim)

  // The literal matrix itself would print as an opaque ArrayData.
  override def toString: String = s"$prettyName($left, ${table.cids.mkString("centroids[", ",", "]")})"

  override def eval(input: InternalRow): Any = {
    val t = table
    val v = left.eval(input)
    val j = if (v == null) -1 else t.nearest(v.asInstanceOf[ArrayData], elementsNullable, dist, point)
    new GenericInternalRow(Array[Any](if (j < 0) null else dist(j), t.cids(if (j < 0) -1 - j else j)))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val t = ctx.addReferenceObj("centroids", table, classOf[NearestCentroid.Table].getName)
    val dist = ctx.addMutableState("double[]", "dist",
      v => s"$v = new double[${table.cids.length}];", forceInline = true)
    val point = ctx.addMutableState("double[]", "point",
      v => s"$v = new double[${table.dim}];", forceInline = true)
    val j = ctx.freshName("j")
    val p = left.genCode(ctx)
    val row = classOf[GenericInternalRow].getName
    ev.copy(code = code"""
      |${p.code}
      |int $j = ${p.isNull} ? -1 : $t.nearest(${p.value}, $elementsNullable, $dist, $point);
      |final ${CodeGenerator.javaType(dataType)} ${ev.value} = new $row(new Object[] {
      |  $j < 0 ? null : (Object) $dist[$j], (Object) $t.cids()[$j < 0 ? -1 - $j : $j] });
      """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object NearestCentroid {

  val CentroidsType: ArrayType = ArrayType(StructType(Seq(
    StructField("cid", IntegerType, nullable = false),
    StructField("coordinates", ArrayType(DoubleType, containsNull = false), nullable = false))),
    containsNull = false)

  val ResultType: StructType = StructType(Seq(
    StructField("d", DoubleType, nullable = true),
    StructField("cid", IntegerType, nullable = false)))

  /** The centroid set as one literal of [[CentroidsType]]. */
  def literal(cents: Seq[(Int, Array[Double])]): Literal =
    Literal(new GenericArrayData(cents.map { case (cid, c) =>
      InternalRow(cid, new GenericArrayData(c))
    }.toArray[Any]), CentroidsType)

  /** The centroids flattened in ascending cid order: row `j` holds
    * `flat(offsets(j) until offsets(j + 1))`.
    */
  final case class Table(cids: Array[Int], offsets: Array[Int], flat: Array[Double]) {

    /** Length of the first centroid: every centroid's, once [[mismatch]] is -1. */
    def dim: Int = offsets(1) - offsets(0)

    /** Index of the first centroid, in cid order, whose length is not `n`; -1 if none. */
    def mismatch(n: Int): Int = {
      var j = 0
      while (j < cids.length) {
        if (offsets(j + 1) - offsets(j) != n) return j
        j += 1
      }
      -1
    }

    /** Index `j` of the centroid nearest to the non-null point `x`, with every
      * squared distance in `dist` (length K); or `-1 - j` when centroid `j` is
      * the first whose distance is null (a null element in `x`, which
      * `checkNulls` looks for, or a length mismatch). The point is copied
      * into `point` (length at least [[dim]]) for the loop over a slice.
      */
    def nearest(x: ArrayData, checkNulls: Boolean, dist: Array[Double], point: Array[Double]): Int = {
      val n = x.numElements()
      if (checkNulls) {
        var i = 0
        while (i < n) { if (x.isNullAt(i)) return -1; i += 1 }
      }
      val c = mismatch(n)
      if (c >= 0) return -1 - c
      var i = 0
      while (i < n) { point(i) = x.getDouble(i); i += 1 }
      nearest(point, 0, dist)
    }

    /** Index of the centroid nearest to the point `x(off until off + dim)`,
      * with every squared distance in `dist` (length K). Every centroid must
      * have [[dim]] coordinates ([[mismatch]] is -1).
      */
    def nearest(x: Array[Double], off: Int, dist: Array[Double]): Int = {
      val n = dim
      val k = cids.length
      // Row j starts at j * n. Four rows per pass give four independent add
      // chains; each one still sums its row left to right from 0.0, as
      // SquaredDistance does.
      var j = 0
      while (j + 4 <= k) {
        val o0 = j * n
        val o1 = o0 + n
        val o2 = o1 + n
        val o3 = o2 + n
        var s0, s1, s2, s3 = 0.0
        var i = 0
        while (i < n) {
          val a = x(off + i)
          val e0 = a - flat(o0 + i); s0 += e0 * e0
          val e1 = a - flat(o1 + i); s1 += e1 * e1
          val e2 = a - flat(o2 + i); s2 += e2 * e2
          val e3 = a - flat(o3 + i); s3 += e3 * e3
          i += 1
        }
        dist(j) = s0; dist(j + 1) = s1; dist(j + 2) = s2; dist(j + 3) = s3
        j += 4
      }
      while (j < k) {
        val o = j * n
        var s = 0.0
        var i = 0
        while (i < n) { val e = x(off + i) - flat(o + i); s += e * e; i += 1 }
        dist(j) = s
        j += 1
      }
      // argmin in cid order: strict `<` keeps the lower cid on ties, and NaN
      // sorts above every number
      var best = 0
      j = 1
      while (j < k) {
        if (dist(j) < dist(best) || (dist(best).isNaN && !dist(j).isNaN)) best = j
        j += 1
      }
      best
    }
  }

  object Table {
    def apply(cents: ArrayData): Table =
      apply(Seq.tabulate(cents.numElements()) { k =>
        val r = cents.getStruct(k, 2)
        (r.getInt(0), r.getArray(1).toDoubleArray())
      })

    /** The (cid, coordinates) pairs in any order. */
    def apply(cents: Seq[(Int, Array[Double])]): Table = {
      val rows = cents.sortBy(_._1).toArray
      Table(rows.map(_._1), rows.map(_._2.length).scanLeft(0)(_ + _), rows.flatMap(_._2))
    }
  }
}
