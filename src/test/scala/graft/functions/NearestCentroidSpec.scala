package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType}

import graft.TestSpark
import graft.core.Vec
import graft.kmeans.{Centroid, Lloyd}

/** [[NearestCentroid]] against the semantics it promises: the per-centroid
  * composition `array_min(array(struct(sqDist(p, c_k), cid_k) ...))` in
  * ascending cid order, written out here as the reference implementation.
  */
class NearestCentroidSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def reference(cents: Seq[Centroid], p: Column): Column =
    array_min(array(cents.sortBy(_.cid).map(c =>
      struct(Vec.sqDist(p, array(c.coordinates.map(lit).toSeq: _*)).as("d"),
        lit(c.cid).as("cid"))): _*))

  // (d as raw bits, or None for null; cid)
  private def key(s: Row): (Option[Long], Int) =
    (if (s.isNullAt(0)) None else Some(java.lang.Double.doubleToLongBits(s.getDouble(0))), s.getInt(1))

  /** Asserts kernel == reference on every row of `df.coordinates`; returns the kernel's results. */
  private def sameAsReference(df: DataFrame, cents: Seq[Centroid]): Seq[(Option[Long], Int)] = {
    val rows = df.select(Lloyd.nearest(cents, col("coordinates")), reference(cents, col("coordinates")))
      .collect().toSeq
    assert(rows.nonEmpty)
    rows.map { r =>
      val (got, want) = (key(r.getStruct(0)), key(r.getStruct(1)))
      assert(got == want, s"kernel ${r.getStruct(0)} != reference ${r.getStruct(1)}")
      got
    }
  }

  private def vecs(rows: Option[Seq[Option[Double]]]*): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("coordinates")
  }

  private def bits(d: Double) = Some(java.lang.Double.doubleToLongBits(d))

  test("bit-equal to the reference on sf0.001 points against their init centroids") {
    val pts = graft.core.Tables.points(spark, TestSpark.Sf0001)
    val cents = Lloyd.initCentroids(pts, 5)
    val got = sameAsReference(pts, cents)
    assert(got.map(_._2).distinct.size > 1, "every point went to one centroid")
  }

  private val c0 = Array(0.0, 0.0)
  private val c1 = Array(1.0, 1.0)
  private val c3 = Array(3.0, 3.0)

  // (case, centroids, points, expected (d, cid) per point)
  private val cases: Seq[(String, Seq[Centroid], Seq[Option[Seq[Option[Double]]]], Seq[(Option[Double], Int)])] = Seq(
    ("ties go to the lower cid (duplicate centroids)",
      Seq(Centroid(3, c1), Centroid(1, c1), Centroid(2, c3), Centroid(5, c1), Centroid(4, c0)),
      Seq(Some(Seq(Some(1.0), Some(1.0))), Some(Seq(Some(2.0), Some(2.0)))),
      Seq((Some(0.0), 1), (Some(2.0), 1))),
    ("non-contiguous cids, listed out of order",
      Seq(Centroid(9, c3), Centroid(2, c0), Centroid(5, c1)),
      Seq(Some(Seq(Some(0.5), Some(1.5))), Some(Seq(Some(5.0), Some(4.0))), Some(Seq(Some(0.25), Some(0.0)))),
      Seq((Some(0.5), 5), (Some(5.0), 9), (Some(0.0625), 2))),
    ("K = 1",
      Seq(Centroid(4, c3)),
      Seq(Some(Seq(Some(1.0), Some(3.0)))),
      Seq((Some(4.0), 4))),
    ("a NaN coordinate: every d is NaN, the lowest cid wins",
      Seq(Centroid(2, c1), Centroid(1, c3)),
      Seq(Some(Seq(Some(Double.NaN), Some(1.0)))),
      Seq((Some(Double.NaN), 1))),
    ("a NaN centroid sorts above every number",
      Seq(Centroid(1, Array(Double.NaN, 0.0)), Centroid(2, c3), Centroid(3, c1), Centroid(4, c3), Centroid(5, c1)),
      Seq(Some(Seq(Some(1.0), Some(1.0)))),
      Seq((Some(0.0), 3))),
    ("null array, null element, length mismatch -> (null, lowest cid)",
      Seq(Centroid(7, c1), Centroid(6, c0)),
      Seq(None, Some(Seq(Some(1.0), None)), Some(Seq(Some(1.0), Some(1.0), Some(1.0))), Some(Seq())),
      Seq((None, 6), (None, 6), (None, 6), (None, 6))))

  for ((name, cents, pts, want) <- cases) {
    test(s"bit-equal to the reference: $name") {
      val df = vecs(pts: _*)
      assert(df.schema("coordinates").dataType == ArrayType(DoubleType, containsNull = true))
      assert(sameAsReference(df, cents) == want.map { case (d, c) => (d.flatMap(bits), c) })
    }
  }

  test("interpreted eval == codegen on 200 random rows") {
    val rng = new scala.util.Random(11)
    def coord(): Double = rng.nextInt(10) match {
      case 0 => Double.NaN
      case 1 => 1.0
      case _ => rng.nextGaussian()
    }
    // cids 2 and 4 tie on every row; cid 1's d is always NaN
    val cents = Seq(
      Centroid(4, Array.fill(3)(1.0)), Centroid(2, Array.fill(3)(1.0)), Centroid(1, Array(Double.NaN, 0.0, 0.0)),
      Centroid(8, Array.fill(3)(rng.nextGaussian())), Centroid(5, Array.fill(3)(rng.nextGaussian())))
    val centLit = NearestCentroid.literal(cents.map(c => (c.cid, c.coordinates)))
    for (containsNull <- Seq(false, true)) {
      val e = NearestCentroid(BoundReference(0, ArrayType(DoubleType, containsNull), nullable = true), centLit)
      val compiled = GenerateUnsafeProjection.generate(Seq(e))
      for (_ <- 1 to 200) {
        val n = if (rng.nextInt(8) == 0) rng.nextInt(5) else 3
        val p =
          if (rng.nextInt(20) == 0) null
          else new GenericArrayData(Array.tabulate[Any](n)(_ =>
            if (containsNull && rng.nextInt(16) == 0) null else coord()))
        val row = InternalRow(p)
        val interpreted = e.eval(row).asInstanceOf[InternalRow]
        val generated = compiled(row).getStruct(0, 2)
        assert(interpreted.isNullAt(0) == generated.isNullAt(0))
        if (!interpreted.isNullAt(0))
          assert(java.lang.Double.doubleToLongBits(interpreted.getDouble(0)) ==
            java.lang.Double.doubleToLongBits(generated.getDouble(0)))
        assert(interpreted.getInt(1) == generated.getInt(1))
      }
    }
  }
}
