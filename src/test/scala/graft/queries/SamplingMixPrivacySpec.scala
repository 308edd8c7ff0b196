package graft.queries

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEntry, TestSpark}

/** Semantic invariants of the round-9 additions: HLL cardinality, the
  * deterministic reservoir sample, the t-closeness audit, stratified IPW,
  * the GMM E-step's integer softmax, and the DoReMi reweighting step.
  * Byte-level cross-engine equality lives in the oracle gate; these pin
  * the statistics' defining identities so a refactor cannot drift both
  * engines in lockstep.
  */
class SamplingMixPrivacySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private def run(name: String): Array[Row] =
    SparkEntry.queries(name)(spark, TestSpark.Sf0001).collect()

  test("q_hyperloglog: estimates land inside the m=64 error envelope; merge row present") {
    val rows = run("q_hyperloglog")
    assert(rows.map(_.getAs[String]("grp")).contains("__ALL__"))
    rows.foreach { r =>
      val z = r.getAs[Long]("n_zero_regs")
      assert(z >= 0 && z <= 64)
      assert(r.getAs[Long]("est") > 0)
      // theoretical rel-sigma = 1.04/sqrt(64) = 13%; allow 4 sigma
      assert(math.abs(r.getAs[Long]("err_ppm")) < 520000,
        s"grp=${r.getAs[String]("grp")} err=${r.getAs[Long]("err_ppm")}")
    }
    // the __ALL__ sketch is a register merge: its estimate must cover at
    // least the largest single-group exact count's neighborhood
    val all = rows.find(_.getAs[String]("grp") == "__ALL__").get
    val maxGrp = rows.filter(_.getAs[String]("grp") != "__ALL__")
      .map(_.getAs[Long]("n_exact")).max
    assert(all.getAs[Long]("est") >= (maxGrp * 0.6).toLong)
  }

  test("q_reservoir_sample: exactly min(k, stratum) rows, dense ranks, payload verified") {
    val rows = run("q_reservoir_sample")
    val orders = graft.core.Tables.orders(spark, TestSpark.Sf0001)
      .selectExpr("o_orderstatus", "o_orderkey", "CAST(round(o_totalprice * 100) AS BIGINT) cents")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val sizes = orders.keySet.groupBy(_._1).view.mapValues(_.size).toMap
    rows.groupBy(_.getAs[String]("grp")).foreach { case (g, rs) =>
      assert(rs.length == math.min(16, sizes(g)), s"stratum $g size")
      assert(rs.map(_.getAs[Long]("rk")).sorted.toSeq == (1L to rs.length).toSeq)
    }
    rows.foreach { r =>
      val key = (r.getAs[String]("grp"), r.getAs[Long]("o_orderkey"))
      assert(orders(key) == r.getAs[Long]("price_cents"), s"payload mismatch at $key")
    }
  }

  test("q_tclose: TV distance in [0, 1e6]; violation flag matches threshold") {
    val rows = run("q_tclose")
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val tv = r.getAs[Long]("tv_ppm")
      assert(tv >= 0 && tv <= 1000000, s"tv=$tv")
      assert(r.getAs[Long]("t_violation") == (if (tv > 300000) 1L else 0L))
      assert(r.getAs[Long]("n_g") > 0)
    }
  }

  test("q_ipw_ate: recomputes exactly from the raw unit frame") {
    val r = run("q_ipw_ate").head
    import org.apache.spark.sql.functions._
    val y = graft.core.Tables.orders(spark, TestSpark.Sf0001)
      .groupBy("o_custkey").agg(count(lit(1)).as("n_ord"))
    val units = graft.core.Tables.customer(spark, TestSpark.Sf0001)
      .select(col("c_custkey"), pmod(col("c_nationkey").cast("long"), lit(5L)).as("b"))
      .join(y, col("c_custkey") === col("o_custkey"), "left_outer")
      .select(col("b"), (coalesce(col("n_ord"), lit(0L)) * 1000L).as("ym"),
        pmod(graft.core.Hash.prefix(
          concat(lit("ipw:"), col("c_custkey").cast("string"))), lit(2L)).as("t"))
      .collect().map(u => (u.getLong(0), u.getLong(1), u.getLong(2)))
    assert(r.getAs[Long]("n_units") == units.length)
    assert(r.getAs[Long]("n_treated") == units.count(_._3 == 1L))
    val byB = units.groupBy(_._1)
    var s1, s0 = 0L
    byB.values.foreach { us =>
      val nb = us.length.toLong
      val n1 = us.count(_._3 == 1L).toLong
      if (n1 > 0 && n1 < nb) {
        s1 += math.floor(us.filter(_._3 == 1L).map(_._2).sum.toDouble * nb / n1).toLong
        s0 += math.floor(us.filter(_._3 == 0L).map(_._2).sum.toDouble * nb / (nb - n1)).toLong
      }
    }
    assert(r.getAs[Long]("ipw_ate_milli") == (s1 - s0) / units.length,
      s"ipw=${r.getAs[Long]("ipw_ate_milli")} recomputed=${(s1 - s0) / units.length}")
  }

  test("q_gmm_estep: hard counts partition the points; soft masses sum to ~n per row") {
    val rows = run("q_gmm_estep")
    val n = graft.core.Tables.points(spark, TestSpark.Sf0001).count()
    assert(rows.map(_.getAs[Long]("n_hard")).sum == n)
    val mass = rows.map(_.getAs[Long]("resp_mass_ppm")).sum
    // each row's K responsibilities integer-divide: total in (1e6-K, 1e6]
    assert(mass <= n * 1000000L && mass > n * (1000000L - 5 - 1),
      s"mass=$mass n=$n")
    rows.foreach { r =>
      assert(r.getAs[Long]("mean_resp_ppm") ==
        r.getAs[Long]("resp_mass_ppm") / n)
    }
  }

  test("q_doremi_step: weights normalize to ~1e6 and order by excess loss") {
    val rows = run("q_doremi_step")
    val wsum = rows.map(_.getAs[Long]("w_ppm")).sum
    assert(wsum > 1000000L - rows.length && wsum <= 1000000L, s"wsum=$wsum")
    rows.foreach(r => assert(r.getAs[Long]("excess_mn") >= 0))
    val byExcess = rows.sortBy(-_.getAs[Long]("excess_mn"))
    val byW = rows.sortBy(-_.getAs[Long]("w_ppm"))
    assert(byExcess.head.getAs[Long]("w_ppm") == byW.head.getAs[Long]("w_ppm"),
      "the highest-excess source must carry the largest weight")
  }
}
