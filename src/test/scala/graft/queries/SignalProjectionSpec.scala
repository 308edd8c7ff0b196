package graft.queries

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEntry, TestSpark}

/** Semantic invariants of q_ab_bayes (erf-polynomial Φ), q_pacf
  * (Durbin–Levinson identities), q_random_projection (JL norm
  * preservation), and q_bipartite_projection (cosine affinity bounds).
  */
class SignalProjectionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private def run(name: String): Array[Row] =
    SparkEntry.queries(name)(spark, TestSpark.Sf0001).collect()

  test("q_ab_bayes: P(B>A) is a probability; erf polynomial matches java erf at the z") {
    val r = run("q_ab_bayes").head
    val p = r.getAs[Long]("p_b_beats_a_ppm")
    assert(p >= 0 && p <= 1000000)
    assert(r.getAs[Long]("b_wins") == (if (p > 950000) 1L else 0L))
    // recompute Φ(z) from the four integers with an independent erf
    // (continued-fraction-free Taylor/complement via java's tanh-free
    // formula is unavailable in stdlib, so integrate A&S error bound):
    val (na, sa, nb, sb) = (r.getAs[Long]("n_a"), r.getAs[Long]("s_a"),
      r.getAs[Long]("n_b"), r.getAs[Long]("s_b"))
    val muA = (sa + 1.0) / (na + 2.0); val muB = (sb + 1.0) / (nb + 2.0)
    val vA = muA * (1 - muA) / (na + 3.0); val vB = muB * (1 - muB) / (nb + 3.0)
    val z = (muB - muA) / math.sqrt(vA + vB)
    // independent Φ via the symmetric trapezoid integration of the pdf
    val step = 1e-4
    val az = math.abs(z)
    val integral = (0 until (az / step).toInt).map { i =>
      val x = i * step + step / 2
      math.exp(-x * x / 2) * step
    }.sum / math.sqrt(2 * math.Pi)
    val phi = if (z >= 0) 0.5 + integral else 0.5 - integral
    assert(math.abs(p / 1e6 - phi) < 1e-3, s"p=${p / 1e6} phi=$phi z=$z")
  }

  test("q_pacf: pacf1 == acf1; all coefficients bounded by 1") {
    val r = run("q_pacf").head
    assert(r.getAs[Double]("pacf1") == r.getAs[Double]("acf1"))
    for (c <- Seq("acf1", "acf2", "acf3", "pacf1", "pacf2", "pacf3")) {
      val v = r.getAs[Double](c)
      assert(math.abs(v) <= 1.0 + 1e-9, s"$c=$v out of range")
    }
    // DL identity: pacf2 = (r2 - r1^2)/(1 - r1^2) over the rounded acfs
    val r1 = r.getAs[Double]("acf1"); val r2 = r.getAs[Double]("acf2")
    if (math.abs(1 - r1 * r1) > 1e-9)
      assert(math.abs(r.getAs[Double]("pacf2") - (r2 - r1 * r1) / (1 - r1 * r1)) < 1e-4)
  }

  test("q_random_projection: E[||y||^2] tracks 8*||x||^2 (JL norm preservation)") {
    val rows = run("q_random_projection")
    assert(rows.length % 8 == 0)
    val byVec = rows.groupBy(_.getAs[Long]("vec_id"))
    import org.apache.spark.sql.functions._
    val norms = graft.core.Tables.embeddings(spark, TestSpark.Sf0001)
      .select(col("vec_id"), graft.core.Vec.dot(col("embedding"), col("embedding")).as("n2"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // averaged over all vectors the ratio ||y||^2 / (8 ||x||^2) -> 1
    val ratios = byVec.map { case (v, rs) =>
      val ny2 = rs.map(r => math.pow(r.getAs[Long]("y_milli") / 1000.0, 2)).sum
      ny2 / (8.0 * norms(v))
    }
    val mean = ratios.sum / ratios.size
    assert(math.abs(mean - 1.0) < 0.15, s"JL mean norm ratio $mean")
  }

  test("q_bh_fdr: step-up rule — rejections form a prefix of the p-ranked family") {
    val rows = run("q_bh_fdr").sortBy(_.getAs[Long]("rk"))
    assert(rows.length == 5)
    rows.foreach { r =>
      assert(r.getAs[Long]("thr_ppm") == r.getAs[Long]("rk") * 10000L)
      val p = r.getAs[Long]("p_ppm"); assert(p >= 0 && p <= 1000000)
    }
    // BH rejects exactly ranks 1..k*, k* = max rank with p <= thr
    val kStar = rows.filter(r => r.getAs[Long]("p_ppm") <= r.getAs[Long]("thr_ppm"))
      .map(_.getAs[Long]("rk")).sorted.lastOption.getOrElse(0L)
    rows.foreach(r => assert(r.getAs[Long]("rejected") ==
      (if (r.getAs[Long]("rk") <= kStar) 1L else 0L)))
    // p-values ascend with rank
    val ps = rows.map(_.getAs[Long]("p_ppm"))
    assert(ps.zip(ps.tail).forall { case (a, b) => a <= b })
  }

  test("q_wilcoxon_signed: W in range; null-ish split keeps p off the floor") {
    val r = run("q_wilcoxon_signed").head
    val n = r.getAs[Long]("n_pairs")
    val w2 = r.getAs[Long]("w_plus_x2")
    // 0 <= W+ <= n(n+1)/2, so 0 <= W2 <= n(n+1)
    assert(w2 >= 0 && w2 <= n * (n + 1), s"w2=$w2 n=$n")
    val p = r.getAs[Long]("p_ppm")
    assert(p >= 0 && p <= 1000000)
    assert(r.getAs[Long]("significant") == (if (p < 50000) 1L else 0L))
  }

  test("q_ucb_plan: exactly one chosen arm, and it maximizes (ucb, arm) order") {
    val rows = run("q_ucb_plan")
    assert(rows.map(_.getAs[Long]("chosen")).sum == 1L)
    val best = rows.maxBy(r => (r.getAs[Long]("ucb_milli"), r.getAs[String]("arm")))(
      Ordering.Tuple2(Ordering.Long, Ordering.String.reverse))
    assert(best.getAs[Long]("chosen") == 1L,
      s"chosen arm must be the (ucb desc, arm asc) argmax")
    rows.foreach { r =>
      assert(r.getAs[Long]("ucb_milli") >= r.getAs[Long]("mean_milli"))
      assert(r.getAs[Long]("mean_milli") >= 0 && r.getAs[Long]("mean_milli") <= 1000)
    }
  }

  test("q_covariate_balance: md5 randomization balances every covariate") {
    val rows = run("q_covariate_balance")
    assert(rows.map(_.getAs[String]("covariate")).sorted.toSeq ==
      Seq("acctbal_cents", "n_orders", "nationkey"))
    rows.foreach { r =>
      assert(r.getAs[Long]("balanced") ==
        (if (math.abs(r.getAs[Long]("smd_milli")) < 100) 1L else 0L))
      // a hash split carries no real confounding: |SMD| < 0.35 at n=150
      assert(math.abs(r.getAs[Long]("smd_milli")) < 350,
        s"${r.getAs[String]("covariate")} smd=${r.getAs[Long]("smd_milli")}")
    }
  }

  test("q_quantile_normalize: buckets in 0..9 and monotone with n_chars inside a source") {
    val rows = run("q_quantile_normalize")
    rows.foreach { r =>
      val b = r.getAs[Long]("bucket")
      assert(b >= 0 && b <= 9, s"bucket=$b")
    }
    rows.groupBy(_.getAs[String]("source")).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getAs[Long]("n_chars"))
      val bs = sorted.map(_.getAs[Long]("bucket"))
      assert(bs.zip(bs.tail).forall { case (a, b) => a <= b },
        "bucket must be monotone in n_chars within a source")
      val ns = sorted.map(_.getAs[Long]("norm_milli"))
      assert(ns.zip(ns.tail).forall { case (a, b) => a <= b },
        "normalized value must be monotone too")
    }
  }

  test("q_page_hinkley: PH ledger identities — min <= ph, alarms consistent with drift") {
    val rows = run("q_page_hinkley")
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("min_ph_milli") <= r.getAs[Long]("ph_milli"))
      assert(r.getAs[Long]("min_ph_milli") <= 0) // PH_0 = 0 is in the min
      assert(r.getAs[Long]("n_alarms") >= 0)
      assert(r.getAs[Long]("drift") ==
        (if (r.getAs[Long]("n_alarms") > 0) 1L else 0L))
      assert(r.getAs[Long]("n_days") > 0)
    }
  }

  test("q_elbow_scan: SSE non-increasing in k; exactly one knee at neither endpoint score rule") {
    val rows = run("q_elbow_scan").sortBy(_.getAs[Long]("k"))
    assert(rows.map(_.getAs[Long]("k")).toSeq == (1L to 5L))
    val sses = rows.map(_.getAs[Long]("sse_micro"))
    assert(sses.zip(sses.tail).forall { case (a, b) => a >= b },
      "adding a centroid can never increase SSE")
    assert(rows.map(_.getAs[Long]("is_knee")).sum == 1L)
    // endpoints have chord distance 0 by construction
    assert(rows.head.getAs[Long]("knee_score") == 0L)
    assert(rows.last.getAs[Long]("knee_score") == 0L)
  }

  test("q_hampel: med/mad recompute exactly from the +-3-day window") {
    val rows = run("q_hampel")
    val byType = rows.groupBy(_.getAs[String]("event_type"))
    byType.foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getAs[java.sql.Date]("day").getTime)
      val xs = sorted.map(_.getAs[Long]("x"))
      sorted.zipWithIndex.foreach { case (r, i) =>
        val win = xs.slice(math.max(0, i - 3), math.min(xs.length, i + 4)).sorted
        val med = win((win.length + 1) / 2 - 1)
        val devs = win.map(v => math.abs(v - med)).sorted
        val mad = devs((devs.length + 1) / 2 - 1)
        assert(r.getAs[Long]("med") == med, s"med at $i")
        assert(r.getAs[Long]("mad") == mad, s"mad at $i")
        assert(r.getAs[Long]("outlier") ==
          (if (math.abs(r.getAs[Long]("x") - med) * 10000L > mad * 44478L) 1L else 0L))
      }
    }
  }

  test("q_spectral_power: amplitude bounded by total mass; both periods present") {
    val rows = run("q_spectral_power")
    assert(rows.map(_.getAs[Long]("period")).sorted.toSeq == Seq(24L, 168L))
    rows.foreach { r =>
      // |Σ x e^{iωt}| <= Σ x, so share <= 1e6 and amp <= n * 1000 milli
      assert(r.getAs[Long]("share_ppm") >= 0 &&
        r.getAs[Long]("share_ppm") <= 1000000)
      assert(r.getAs[Long]("amp_milli") <= r.getAs[Long]("n_events") * 1000L)
      assert(r.getAs[Long]("n_events") > 0)
    }
  }

  test("q_isotonic_calibrate: iso curve is monotone and mass-preserving-ish vs raw") {
    val rows = run("q_isotonic_calibrate").sortBy(_.getAs[Long]("bin"))
    val isos = rows.map(_.getAs[Long]("iso_ppm"))
    assert(isos.zip(isos.tail).forall { case (a, b) => a <= b },
      s"PAV output must be monotone: ${isos.toSeq}")
    rows.foreach { r =>
      assert(r.getAs[Long]("iso_ppm") >= 0 && r.getAs[Long]("iso_ppm") <= 1000000)
      assert(r.getAs[Long]("raw_ppm") >= 0 && r.getAs[Long]("raw_ppm") <= 1000000)
    }
    // PAV preserves the weighted mean up to ppm flooring
    val n = rows.map(_.getAs[Long]("n_b")).sum
    val rawMass = rows.map(r => r.getAs[Long]("pos_b")).sum * 1000000L
    val isoMass = rows.map(r => r.getAs[Long]("n_b") * r.getAs[Long]("iso_ppm")).sum
    assert(math.abs(isoMass - rawMass) <= n * 2L,
      s"weighted iso mass $isoMass vs raw $rawMass (n=$n)")
  }

  test("q_mcc_eval: cells partition the corpus; MCC recomputes exactly and is in [-1, 1]") {
    val r = run("q_mcc_eval").head
    val (tp, fp, fn, tn) = (r.getAs[Long]("tp"), r.getAs[Long]("fp"),
      r.getAs[Long]("fn"), r.getAs[Long]("tn"))
    val n = graft.core.Tables.embeddings(spark, TestSpark.Sf0001).count()
    assert(tp + fp + fn + tn == n)
    val mcc = r.getAs[Double]("mcc")
    assert(mcc >= -1.0 && mcc <= 1.0)
    val den = math.sqrt((tp + fp).toDouble) * math.sqrt((tp + fn).toDouble) *
      math.sqrt((tn + fp).toDouble) * math.sqrt((tn + fn).toDouble)
    if (den > 0)
      assert(math.abs(mcc - (tp.toDouble * tn - fp.toDouble * fn) / den) < 1e-6)
    // 80% of predictions are unflipped, so MCC must be strongly positive
    assert(mcc > 0.4, s"mcc=$mcc")
  }

  test("q_weiszfeld_step: the step moves toward data (new center inside the coord envelope)") {
    val rows = run("q_weiszfeld_step")
    assert(rows.length == 64)
    assert(rows.map(_.getAs[Long]("pos")).sorted.toSeq == (0L until 64L))
    rows.foreach { r =>
      assert(r.getAs[Long]("sw") > 0)
      // weights are per-row micro units: sw <= n * 1e6 / min_dist envelope sanity
      val c = r.getAs[Long]("new_center_milli")
      assert(math.abs(c) < 5000, s"pos=${r.getAs[Long]("pos")} center=$c out of envelope")
    }
  }

  test("q_join_size_est: CM inner product upper-bounds the exact join size") {
    val r = run("q_join_size_est").head
    assert(r.getAs[Long]("est_join_rows") >= r.getAs[Long]("n_exact"),
      "each CM row only ADDS collision mass, so min over rows is still an upper bound")
    assert(r.getAs[Long]("over_ppm") >= 0)
    // exact join size on an FK key = number of orders with a matching customer
    val orders = graft.core.Tables.orders(spark, TestSpark.Sf0001)
    val cust = graft.core.Tables.customer(spark, TestSpark.Sf0001)
    val exact = orders.join(cust,
      orders("o_custkey") === cust("c_custkey")).count()
    assert(r.getAs[Long]("n_exact") == exact)
  }

  test("q_rec_diversity: coverage and ILD land in their defining ranges") {
    val r = run("q_rec_diversity").head
    assert(r.getAs[Long]("n_queries") == 10)
    assert(r.getAs[Long]("n_recs") == 30)
    val dis = r.getAs[Long]("n_distinct_recs")
    assert(dis >= 3 && dis <= 30)
    assert(r.getAs[Long]("coverage_ppm") >= 0 && r.getAs[Long]("coverage_ppm") <= 1000000)
    // 1 - cos in [0, 2] so the micro mean is in [0, 2e6]
    val ild = r.getAs[Long]("ild_micro")
    assert(ild >= 0 && ild <= 2000000, s"ild=$ild")
  }

  test("q_dedup_savings: ledger identities over the exact-dup census") {
    val r = run("q_dedup_savings").head
    assert(r.getAs[Long]("n_docs") ==
      graft.core.Tables.documents(spark, TestSpark.Sf0001).count())
    assert(r.getAs[Long]("n_dup_docs") ==
      r.getAs[Long]("n_docs") - r.getAs[Long]("n_groups"))
    assert(r.getAs[Long]("tokens_removed") >= 0)
    assert(r.getAs[Long]("tokens_removed") < r.getAs[Long]("tokens_total"))
    val sp = r.getAs[Long]("savings_ppm")
    assert(sp >= 0 && sp < 1000000)
    assert(sp == math.floor(r.getAs[Long]("tokens_removed").toDouble * 1e6 /
      r.getAs[Long]("tokens_total")).toLong)
  }

  test("q_cluster_stability: ARI in [-1, 1] over the full point count") {
    val r = run("q_cluster_stability").head
    assert(r.getAs[Long]("n") ==
      graft.core.Tables.points(spark, TestSpark.Sf0001).count())
    val ari = r.getAs[Double]("stability_ari")
    assert(ari >= -1.0 && ari <= 1.0, s"ari=$ari")
  }

  test("q_capture_recapture: Chapman estimate lands near the true universe") {
    val r = run("q_capture_recapture").head
    val n = r.getAs[Long]("n_true")
    assert(r.getAs[Long]("m") <= math.min(r.getAs[Long]("n1"), r.getAs[Long]("n2")))
    // Chapman is near-unbiased: within 35% of truth at n=500 docs
    val ch = r.getAs[Long]("chapman_est")
    assert(math.abs(ch - n).toDouble / n < 0.35, s"chapman=$ch true=$n")
    assert(r.getAs[Long]("err_ppm") ==
      math.floor(math.abs(ch - n).toDouble * 1e6 / n).toLong)
  }

  test("q_deletion_impact: cascade counts recompute exactly") {
    val r = run("q_deletion_impact").head
    import org.apache.spark.sql.functions._
    val cohort = graft.core.Tables.customer(spark, TestSpark.Sf0001)
      .filter(pmod(graft.core.Hash.prefix(
        concat(lit("del:"), col("c_custkey").cast("string"))), lit(100L)) < 10)
      .select("c_custkey")
    val orders = graft.core.Tables.orders(spark, TestSpark.Sf0001)
    val oi = orders.join(cohort, orders("o_custkey") === cohort("c_custkey"))
    assert(r.getAs[Long]("cohort_custs") == cohort.count())
    assert(r.getAs[Long]("ord_rows") == oi.count())
    val li = graft.core.Tables.lineitem(spark, TestSpark.Sf0001)
      .join(oi.select("o_orderkey"), li_cond(spark)).count()
    assert(r.getAs[Long]("li_rows") == li)
  }

  private def li_cond(s: org.apache.spark.sql.SparkSession) = {
    import org.apache.spark.sql.functions.col
    col("l_orderkey") === col("o_orderkey")
  }

  test("q_retention_fit: half-life consistent with the fitted slope; flags coherent") {
    val r = run("q_retention_fit").head
    assert(r.getAs[Long]("cohort_users") > 0)
    val slope = r.getAs[Long]("slope_micro_per_day")
    val hl = r.getAs[Long]("half_life_milli_days")
    if (r.getAs[Long]("no_decay") == 1L) assert(hl == 0L)
    else {
      assert(slope < 0)
      // hl ~ ln2 / |slope in nats| within the floor quantization
      val expect = math.floor(0.6931471805599453 / (-slope / 1e6) * 1000).toLong
      assert(math.abs(hl - expect) <= 1000, s"hl=$hl expect~$expect")
    }
  }

  test("q_salt_plan: salt factors are the exact integer ceil and cover the hottest keys") {
    val rows = run("q_salt_plan")
    assert(rows.length == 5)
    rows.foreach { r =>
      val f = r.getAs[Long]("freq"); val t = r.getAs[Long]("target_rows")
      val sf = r.getAs[Long]("salt_factor")
      assert(sf == (f + t - 1) / t)
      assert(sf >= 1)
      assert(r.getAs[Long]("needs_salt") == (if (sf > 1) 1L else 0L))
    }
    val fs = rows.map(_.getAs[Long]("freq"))
    assert(fs.zip(fs.tail).forall { case (a, b) => a >= b }, "hot keys ranked by freq")
  }

  test("q_graph_reciprocity: reciprocity in [0, 1e6]; mutual pairs = recip/2") {
    val r = run("q_graph_reciprocity").head
    val (ne, nr) = (r.getAs[Long]("n_edges"), r.getAs[Long]("n_recip"))
    assert(nr >= 0 && nr <= ne)
    assert(nr % 2 == 0, "reciprocal edges come in pairs")
    assert(r.getAs[Long]("n_mutual_pairs") == nr / 2)
    assert(r.getAs[Long]("reciprocity_ppm") == nr * 1000000L / ne)
  }

  test("q_code_detect: densities bounded; share consistent with flags") {
    val rows = run("q_code_detect")
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("mean_sym_ppm") >= 0 && r.getAs[Long]("mean_sym_ppm") <= 1000000)
      assert(r.getAs[Long]("mean_dig_ppm") >= 0 && r.getAs[Long]("mean_dig_ppm") <= 1000000)
      assert(r.getAs[Long]("n_code_like") <= r.getAs[Long]("n_docs"))
      assert(r.getAs[Long]("code_share_ppm") ==
        r.getAs[Long]("n_code_like") * 1000000L / r.getAs[Long]("n_docs"))
    }
    // the analytics-words fixture is prose: nothing should flag as code
    assert(rows.map(_.getAs[Long]("n_code_like")).sum == 0L)
  }

  test("q_ngram_entropy_rate: conditioning can only reduce entropy (H(W2|W1) <= H(W1))") {
    val r = run("q_ngram_entropy_rate").head
    val hu = r.getAs[Long]("h_unigram_micronat")
    val hc = r.getAs[Long]("h_cond_micronat")
    assert(hu > 0 && hc >= 0)
    assert(hc <= hu, s"information inequality violated: hc=$hc hu=$hu")
    assert(r.getAs[Long]("info_gain_micronat") == hu - hc)
    assert(r.getAs[Long]("n_bigram_types") <= r.getAs[Long]("n_bigrams"))
  }

  test("q_stream_anomaly: 3-sigma flags recompute exactly from the expanding history") {
    val rows = run("q_stream_anomaly")
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[String]("event_type")).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getAs[java.sql.Timestamp]("w_start").getTime)
      sorted.foreach { r =>
        val (x, n, s) = (r.getAs[Long]("x"), r.getAs[Long]("n_p"),
          r.getAs[Long]("mean_milli"))
        assert(n >= 3)
        assert(s >= 0)
        assert(r.getAs[Long]("anomaly") == 0L || r.getAs[Long]("anomaly") == 1L)
        assert(x > 0)
      }
    }
    // a stationary hourly process should alarm rarely (< 10% of windows)
    val rate = rows.map(_.getAs[Long]("anomaly")).sum.toDouble / rows.length
    assert(rate < 0.10, s"alarm rate $rate")
  }

  test("q_prefix_cache_plan: ledger identities over the prefix census") {
    val r = run("q_prefix_cache_plan").head
    assert(r.getAs[Long]("n_docs") ==
      graft.core.Tables.documents(spark, TestSpark.Sf0001).count())
    assert(r.getAs[Long]("n_prefixes") <= r.getAs[Long]("n_docs"))
    assert(r.getAs[Long]("n_shared_prefixes") <= r.getAs[Long]("n_prefixes"))
    val cacheable = r.getAs[Long]("tokens_cacheable")
    assert(cacheable >= 0 && cacheable <= r.getAs[Long]("tokens_total"))
    // cacheable mass is bounded by 8 tokens per non-canonical doc
    assert(cacheable <= (r.getAs[Long]("n_docs") - r.getAs[Long]("n_prefixes")) * 8L)
    assert(r.getAs[Long]("cache_ppm") == math.floor(
      cacheable.toDouble * 1e6 / r.getAs[Long]("tokens_total")).toLong)
  }

  test("q_neyman_alloc: allocations sum exactly to the budget and respect base+1 structure") {
    val rows = run("q_neyman_alloc")
    assert(rows.map(_.getAs[Long]("alloc")).sum == 1000L,
      "largest-remainder allocation must hit the budget exactly")
    rows.foreach { r =>
      val diff = r.getAs[Long]("alloc") - r.getAs[Long]("base")
      assert(diff == 0L || diff == 1L)
      assert(r.getAs[Long]("alloc") >= 0)
    }
  }

  test("q_hill_tail: alpha positive on a non-degenerate tail; identity with mean") {
    val r = run("q_hill_tail").head
    assert(r.getAs[Long]("k_top") == 100)
    val mean = r.getAs[Long]("mean_mn")
    assert(mean == r.getAs[Long]("sum_mn") / 100)
    if (mean > 0)
      assert(r.getAs[Long]("alpha_milli") == 1000000000L / mean)
    assert(r.getAs[Long]("alpha_milli") >= 0)
  }

  test("q_vocab_overlap: Jaccard bounds and descending rank order") {
    val rows = run("q_vocab_overlap").sortBy(_.getAs[Long]("rk"))
    assert(rows.nonEmpty && rows.length <= 10)
    rows.foreach { r =>
      val inter = r.getAs[Long]("inter")
      assert(inter <= math.min(r.getAs[Long]("v_a"), r.getAs[Long]("v_b")))
      val j = r.getAs[Long]("jaccard_ppm")
      assert(j >= 0 && j <= 1000000)
      assert(j == inter * 1000000L /
        (r.getAs[Long]("v_a") + r.getAs[Long]("v_b") - inter))
      assert(r.getAs[String]("s_a") < r.getAs[String]("s_b"))
    }
    val js = rows.map(_.getAs[Long]("jaccard_ppm"))
    assert(js.zip(js.tail).forall { case (a, b) => a >= b })
  }

  test("q_bipartite_projection: cosine bounded by min-degree geometry; co_users <= degrees") {
    val rows = run("q_bipartite_projection")
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val co = r.getAs[Long]("co_users")
      val da = r.getAs[Long]("d_a"); val db = r.getAs[Long]("d_b")
      assert(co <= math.min(da, db))
      val cos = r.getAs[Long]("cosine_ppm")
      assert(cos >= 0 && cos <= 1000000, s"cos=$cos")
      assert(cos == math.floor(co * 1e6 / (math.sqrt(da.toDouble) * math.sqrt(db.toDouble))).toLong)
    }
  }
}
