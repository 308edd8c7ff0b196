package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType}

import graft.TestSpark
import graft.core.Vec

/** Both [[PairwiseFold]] kernels against the semantics they promise: the HOF
  * composition `aggregate(zip_with(a, b, term), 0d, (acc, v) -> acc + v)`,
  * written out here as the reference implementation.
  */
class PairwiseFoldSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private case class Kernel(
      name: String,
      vec: (Column, Column) => Column,
      term: (Column, Column) => Column,
      expr: (Expression, Expression) => Expression,
      // expected value over ([1, 2], [3, 4])
      onPair: Double)

  private val kernels = Seq(
    Kernel("SquaredDistance", Vec.sqDist, (x, y) => (x - y) * (x - y), SquaredDistance, 8.0),
    Kernel("DotProduct", Vec.dot, (x, y) => x * y, DotProduct, 11.0))

  private def hof(k: Kernel)(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, k.term), lit(0.0), (acc, v) => acc + v)

  private def doubles(c: Column, df: org.apache.spark.sql.DataFrame): Seq[Option[Double]] =
    df.select(c).collect().toSeq.map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))

  for (k <- kernels) {
    test(s"${k.name}: bit-equal to the HOF on the embeddings fixture") {
      val emb = graft.core.Tables.embeddings(spark, TestSpark.Sf0001).orderBy("vec_id")
      val probe = emb.limit(1).select("embedding").head().getSeq[Double](0)
      val pl = array(probe.map(lit): _*)
      for ((a, b) <- Seq((col("embedding"), pl), (col("embedding"), reverse(col("embedding"))))) {
        val got = emb.select(k.vec(a, b), hof(k)(a, b)).collect()
        assert(got.length > 1)
        got.foreach { r =>
          assert(java.lang.Double.doubleToRawLongBits(r.getDouble(0)) ==
            java.lang.Double.doubleToRawLongBits(r.getDouble(1)),
            s"kernel ${r.getDouble(0)} != HOF ${r.getDouble(1)}")
        }
      }
    }

    test(s"${k.name}: null / length-mismatch -> null, empty -> 0.0") {
      val s = spark
      import s.implicits._
      val df = Seq(
        (Some(Seq(Some(1.0), Some(2.0))), Some(Seq(Some(3.0), Some(4.0)))),
        (None, Some(Seq(Some(1.0), Some(1.0)))),
        (Some(Seq(Some(1.0), None)), Some(Seq(Some(1.0), Some(1.0)))),
        (Some(Seq(Some(1.0), Some(2.0), Some(3.0))), Some(Seq(Some(1.0), Some(2.0)))),
        (Some(Seq.empty[Option[Double]]), Some(Seq.empty[Option[Double]]))).toDF("a", "b")
      assert(df.schema("a").dataType == ArrayType(DoubleType, containsNull = true))
      val want = Seq(Some(k.onPair), None, None, None, Some(0.0))
      assert(doubles(hof(k)(col("a"), col("b")), df) == want, "reference HOF")
      assert(doubles(k.vec(col("a"), col("b")), df) == want)
    }

    test(s"${k.name}: interpreted eval == codegen") {
      val rng = new scala.util.Random(7)
      def arr(n: Int, nulls: Boolean): GenericArrayData = new GenericArrayData(
        Array.tabulate[Any](n)(_ => if (nulls && rng.nextInt(8) == 0) null else rng.nextGaussian()))
      for (containsNull <- Seq(false, true)) {
        val t = ArrayType(DoubleType, containsNull)
        val e = k.expr(BoundReference(0, t, nullable = true), BoundReference(1, t, nullable = true))
        val compiled = GenerateUnsafeProjection.generate(Seq(e))
        for (_ <- 1 to 200) {
          val n = rng.nextInt(17)
          val m = if (rng.nextInt(6) == 0) rng.nextInt(17) else n
          val row = InternalRow(
            if (rng.nextInt(20) == 0) null else arr(n, containsNull),
            arr(m, containsNull))
          val interpreted = e.eval(row)
          val generated = compiled(row)
          if (interpreted == null) assert(generated.isNullAt(0))
          else assert(!generated.isNullAt(0) &&
            generated.getDouble(0) == interpreted.asInstanceOf[Double])
        }
      }
    }
  }
}
