package graft.kmeans

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType}

import graft.TestSpark

/** VecMeanAgg invariants (SURVEY.md §5.3): the (sum, count) buffer is
  * merge-order / partitioning invariant, and matches a scalar mean.
  * (Property-style: seeded random cases, no scalatestplus bridge needed.)
  */
class VecMeanAggSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("mean is partitioning-invariant (1 vs 8 partitions)") {
    val s = spark
    import s.implicits._
    val data = (0 until 64).map(i => (i % 3, Array.tabulate(4)(d => (i * 31 + d).toDouble / 7)))
    def meanAt(parts: Int) =
      data.toDF("g", "v").repartition(parts)
        .groupBy("g").agg(VecMeanAgg(col("v")).as("m")).orderBy("g")
        .collect().map(r => (r.getInt(0), r.getSeq[Double](1).toSeq))
    val one = meanAt(1)
    val eight = meanAt(8)
    for (((g1, m1), (g8, m8)) <- one.zip(eight)) {
      assert(g1 == g8)
      for (i <- m1.indices) assert(math.abs(m1(i) - m8(i)) < 1e-12)
    }
  }

  private val agg = VecMeanAgg(BoundReference(0, ArrayType(DoubleType, containsNull = false), nullable = true))
  private def row(v: Seq[Double]) = InternalRow(new GenericArrayData(v.toArray))
  private def result(b: VecMeanBuf): Seq[Double] =
    agg.eval(b).asInstanceOf[ArrayData].toDoubleArray().toSeq

  test("scalar reduce/merge laws: zero identity, merge-direction invariance") {
    val rng = new scala.util.Random(42)
    for (_ <- 1 to 50) {
      val chunks = List.fill(1 + rng.nextInt(4))(
        List.fill(rng.nextInt(6))(Seq.fill(3)(rng.nextDouble() * 10)))
      // update/merge mutate buffers in place (Spark owns them); rebuild the
      // partial buffers for each fold direction.
      def bufs = chunks.map(_.foldLeft(agg.createAggregationBuffer())((b, v) => agg.update(b, row(v))))
      val leftFold = bufs.foldLeft(agg.createAggregationBuffer())((a, b) => agg.merge(a, b))
      val rightFold = bufs.foldRight(agg.createAggregationBuffer())((a, b) => agg.merge(b, a))
      assert(leftFold.n == rightFold.n)
      val fl = result(leftFold)
      val fr = result(rightFold)
      assert(fl.size == fr.size)
      for (i <- fl.indices) assert(math.abs(fl(i) - fr(i)) < 1e-12)
      // empty-buffer identity
      assert(result(agg.merge(leftFold, agg.createAggregationBuffer())) == fl)
    }
  }

  test("serialize/deserialize round-trips the buffer bit for bit") {
    val rng = new scala.util.Random(5)
    for (d <- Seq(0, 1, 3, 64)) {
      val b = (1 to 1 + rng.nextInt(5)).foldLeft(agg.createAggregationBuffer())((b, _) =>
        if (d == 0) b else agg.update(b, row(Seq.fill(d)(rng.nextGaussian()))))
      val back = agg.deserialize(agg.serialize(b))
      assert(back.n == b.n)
      assert(back.sum.map(java.lang.Double.doubleToRawLongBits).toSeq ==
        b.sum.map(java.lang.Double.doubleToRawLongBits).toSeq)
    }
  }

  test("null rows are skipped; all-null and empty input give []") {
    val s = spark
    import s.implicits._
    val df = Seq[(Int, Option[Seq[Double]])](
      (1, Some(Seq(1.0, 2.0))), (1, None), (1, Some(Seq(3.0, 6.0))), (2, None)).toDF("g", "v")
    val got = df.groupBy("g").agg(VecMeanAgg(col("v")).as("m")).orderBy("g")
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1)))
    assert(got.toSeq == Seq((1, Seq(2.0, 4.0)), (2, Seq.empty[Double])))
    assert(df.filter(lit(false)).agg(VecMeanAgg(col("v"))).head().getSeq[Double](0).isEmpty)
  }

  test("a length mismatch inside a group fails with both lengths, in either row order") {
    val s = spark
    import s.implicits._
    for (rows <- Seq(Seq(Seq(1.0, 2.0), Seq(1.0, 2.0, 3.0)), Seq(Seq(1.0, 2.0, 3.0), Seq(1.0, 2.0)))) {
      val e = intercept[Exception] {
        rows.toDF("v").repartition(1).agg(VecMeanAgg(col("v"))).collect()
      }
      val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString("\n")
      assert(msgs.contains("vectors of length 2 and 3") || msgs.contains("vectors of length 3 and 2"), msgs)
    }
  }

  test("matches scalar mean on the reference sample") {
    val s = spark
    import s.implicits._
    val df = TestSpark.refPointsDf
    val got = df.agg(VecMeanAgg(col("coordinates"))).head().getSeq[Double](0)
    val exp = Array(
      TestSpark.refPoints.map(_._2(0)).sum / 20,
      TestSpark.refPoints.map(_._2(1)).sum / 20)
    for (i <- exp.indices) assert(math.abs(got(i) - exp(i)) < 1e-12)
  }
}
