package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Codegen'd pairwise fold over two `array<double>` columns:
  * `sum_i term(a_i, b_i)`, accumulated left to right from 0.0 in one
  * primitive loop. Built through [[graft.core.Vec]] (`sqDist`, `dot`) and
  * from SQL text as `graft_sqdist` / `graft_dot` ([[graft.plans.GraftExtensions]]).
  *
  * Semantics are those of the HOF composition
  * `aggregate(zip_with(a, b, term), 0d, (acc, v) -> acc + v)`, which the
  * DuckDB oracles replay as list arithmetic, in ALL cases:
  *   - null array -> null;
  *   - length mismatch -> null (zip_with null-pads the shorter array and
  *     the null poisons the sum);
  *   - null element -> null, checked only when the array type admits null
  *     elements, so dense vector columns keep a branch-free loop;
  *   - empty arrays -> 0.0;
  *   - same accumulation order, so results are bit-equal.
  *
  * The loop is two `ArrayData.getDouble` streams inside whole-stage codegen:
  * no per-row zip_with array, no lambda-variable boxing. It runs K times per
  * input row in the K-Means assignment and once per candidate pair in the
  * similarity-join residuals.
  */
abstract class PairwiseFold extends BinaryExpression {

  /** The per-element term, interpreted. */
  protected def term(x: Double, y: Double): Double

  /** The per-element term as a Java expression over two `double` locals. */
  protected def termCode(x: String, y: String): String

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$nodeName expects (array<double>, array<double>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  // Length mismatch / null elements yield null, so the result can be null
  // even over non-null children.
  override def nullable: Boolean = true

  private def elementsNullable: Boolean = {
    def cn(t: DataType) = t match {
      case ArrayType(_, containsNull) => containsNull
      case _ => false
    }
    cn(left.dataType) || cn(right.dataType)
  }

  override def eval(input: InternalRow): Any = {
    val a = left.eval(input)
    if (a == null) return null
    val b = right.eval(input)
    if (b == null) return null
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    val checkNulls = elementsNullable
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (checkNulls && (x.isNullAt(i) || y.isNullAt(i))) return null
      acc += term(x.getDouble(i), y.getDouble(i))
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      val acc = ctx.freshName("acc")
      val nullElemCheck =
        if (elementsNullable)
          s"if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }"
        else ""
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $nullElemCheck
         |    double $x = $a.getDouble($i);
         |    double $y = $b.getDouble($i);
         |    $acc += ${termCode(x, y)};
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $acc; }
         |}
       """.stripMargin
    })
}

/** Squared Euclidean distance, `sum_i (a_i - b_i)^2`: the reference's
  * distance kernel (mapper.py:26-30, master.py:90-94) generalized to N-D.
  */
case class SquaredDistance(left: Expression, right: Expression) extends PairwiseFold {
  override protected def term(x: Double, y: Double): Double = (x - y) * (x - y)
  override protected def termCode(x: String, y: String): String = s"($x - $y) * ($x - $y)"
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Dot product, `sum_i a_i * b_i`: the similarity kernel behind cosine. */
case class DotProduct(left: Expression, right: Expression) extends PairwiseFold {
  override protected def term(x: Double, y: Double): Double = x * y
  override protected def termCode(x: String, y: String): String = s"$x * $y"
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
