package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Hash, Tables}

/** Statistical-evaluation operators: distribution comparison (KS), ranking
  * quality (AUC), categorical independence (chi-square), robust location /
  * spread (median+MAD), and multi-objective dominance (skyline).
  *
  * These are the model-eval / drift-detection queries a training-data
  * pipeline runs beside its prep jobs (reference scope: the K-Means repo's
  * convergence checks, master.py:115-152, are this family's simplest
  * member — a scalar statistic over the full dataset per pass).
  *
  * Scale design, shared by all five: every query first REDUCES the input to
  * a bounded intermediate (per-group aggregates, per-distinct-value counts,
  * or fixed-width bins) with one map-side-combinable shuffle, and only then
  * applies the sequential statistic (cumulative window / ordered fold) on
  * the reduced frame. The unpartitioned windows below therefore run over
  * bins/distinct-value groups, never over raw rows — at 100 TB the window
  * input is O(bins) or O(|value domain|), not O(N). For genuinely unbounded
  * domains the binned variants (q_ks_test) are the scale path; the
  * distinct-value variants (q_auc, q_skyline) document their domain bound.
  */
object StatsQueries extends graft.SparkEntry.Module {

  /** KS price-bin width: 1000 currency units → ≤~600 bins over the fixture
    * price range at any sf (o_totalprice is bounded by the generator's part
    * price × quantity envelope, not by row count).
    */
  val KsBinWidth = 1000.0

  /** q_ab_bayes shared SQL fragments — the SAME strings compile in Spark
    * (expr) and replay in DuckDB, so both engines walk one IEEE tree.
    * Posterior: Beta(1+s, 1+n−s) → μ=(s+1)/(n+2), σ²=μ(1−μ)/(n+3);
    * Φ(z) via the Abramowitz–Stegun 7.1.26 erf polynomial (|ε|<1.5e-7,
    * far below the ppm quantization), odd-extended for z<0.
    */
  def AbMuSql(arm: String): String =
    s"CAST(s_$arm + 1 AS DOUBLE) / CAST(n_$arm + 2 AS DOUBLE)"
  val AbZSql: String =
    "(mu_b - mu_a) / sqrt(mu_a * (1.0e0 - mu_a) / CAST(n_a + 3 AS DOUBLE) " +
      "+ mu_b * (1.0e0 - mu_b) / CAST(n_b + 3 AS DOUBLE))"
  val AbXSql: String = "abs(z) / 1.4142135623730951e0"
  val AbTSql: String = "1.0e0 / (1.0e0 + 0.3275911e0 * x)"
  val AbEfSql: String =
    "1.0e0 - t * (0.254829592e0 + t * (-0.284496736e0 + t * (1.421413741e0 " +
      "+ t * (-1.453152027e0 + t * 1.061405429e0)))) * exp(-x * x)"
  val AbPSql: String =
    "CAST(round(0.5e0 * (1.0e0 + CASE WHEN z >= 0.0e0 THEN ef ELSE -ef END) " +
      "* 1000000) AS BIGINT)"

  /** q_bh_fdr shared fragments: pooled two-proportion z (zero-variance or
    * empty arms pin z to 0.0 — totality) and the two-sided p in ppm,
    * p = 2(1−Φ(|z|)) = 1 − erf(|z|/√2), reusing the AbX/AbT/AbEf chain.
    */
  val BhZSql: String =
    "CASE WHEN n0 = 0 OR n1 = 0 " +
      "OR (CAST(s0 + s1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE)) " +
      "* (1.0e0 - CAST(s0 + s1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE)) = 0.0e0 " +
      "THEN 0.0e0 ELSE " +
      "(CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) - CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE)) " +
      "/ sqrt((CAST(s0 + s1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE)) " +
      "* (1.0e0 - CAST(s0 + s1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE)) " +
      "* (1.0e0 / CAST(n0 AS DOUBLE) + 1.0e0 / CAST(n1 AS DOUBLE))) END"
  val BhPSql: String = "CAST(round((1.0e0 - ef) * 1000000) AS BIGINT)"

  /** q_covariate_balance shared fragment: standardized mean difference in
    * milli from exact per-arm (n, Σx, Σx²) — sample variances via the
    * (Σx² − (Σx)²/n)/(n−1) identity formed in DOUBLE over the exact
    * BIGINTs; empty arms or zero pooled variance pin to 0 (totality).
    */
  val SmdSql: String = {
    def m(i: Int) = s"(CAST(s$i AS DOUBLE) / CAST(n$i AS DOUBLE))"
    def v(i: Int) =
      s"((CAST(q$i AS DOUBLE) - CAST(s$i AS DOUBLE) * CAST(s$i AS DOUBLE) " +
        s"/ CAST(n$i AS DOUBLE)) / (CAST(n$i AS DOUBLE) - 1.0e0))"
    s"CASE WHEN n0 < 2 OR n1 < 2 OR (${v(0)} + ${v(1)}) / 2.0e0 <= 0.0e0 " +
      "THEN CAST(0 AS BIGINT) " +
      s"ELSE CAST(floor((${m(1)} - ${m(0)}) / sqrt((${v(0)} + ${v(1)}) / 2.0e0) " +
      "* 1000.0e0) AS BIGINT) END"
  }

  /** q_wilcoxon_signed shared fragment: tie-corrected normal z over the
    * exact half-rank×2 integers (W2 = 2W⁺, E[W2] = n(n+1)/2, Var[W2] =
    * n(n+1)(2n+1)/6 − Σ(t³−t)/12); empty or fully-tied input pins 0.0.
    */
  val WilcoxonZSql: String = {
    val n = "CAST(n_pairs AS DOUBLE)"
    val v = s"$n * ($n + 1.0e0) * (2.0e0 * $n + 1.0e0) / 6.0e0 " +
      "- CAST(tie3 AS DOUBLE) / 12.0e0"
    s"CASE WHEN n_pairs = 0 OR $v <= 0.0e0 THEN 0.0e0 " +
      s"ELSE (CAST(w_plus_x2 AS DOUBLE) - $n * ($n + 1.0e0) / 2.0e0) / sqrt($v) END"
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // NS: robust per-group location+spread — exact median and MAD (median
    // absolute deviation) of quantity per returnflag. Two passes: group
    // medians (percentile over the bounded quantity domain: Spark's exact
    // percentile keeps a value→count map per group, fine for integral
    // quantities 1..50; use q_quantiles_approx for unbounded domains), then
    // deviations join the 3-row median frame back via broadcast.
    "q_median_mad" -> { (s, dir) =>
      val li = Tables.lineitem(s, dir)
      val med = li.groupBy("l_returnflag")
        .agg(expr("percentile(l_quantity, 0.5)").as("med"))
      li.join(broadcast(med), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          round(max("med"), 6).as("med"),
          round(expr("percentile(abs(l_quantity - med), 0.5)"), 6).as("mad"))
        .orderBy("l_returnflag")
    },

    // NS: chi-square independence test between customer segment and order
    // priority. The raw join reduces to a 5x5 contingency table in one
    // map-side-combinable aggregation; marginals and the statistic are
    // window sums over those 25 rows (driver-scale frame regardless of N).
    // The customer join carries NO broadcast hint: customer scales with
    // the corpus (a TPC-H-shaped customer at 100 TB is billions of rows)
    // — AQE broadcasts at fixture scale, shuffle-joins on the key beyond.
    "q_chi_square" -> { (s, dir) =>
      val ct = Tables.orders(s, dir)
        .join(Tables.customer(s, dir).select("c_custkey", "c_mktsegment"),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment").as("seg"), col("o_orderpriority").as("pri"))
        .agg(count(lit(1)).cast("double").as("obs"))
      val tot = ct
        .withColumn("rt", sum("obs").over(Window.partitionBy("seg")))
        .withColumn("ctot", sum("obs").over(Window.partitionBy("pri")))
        .withColumn("n", sum("obs").over(Window.partitionBy()))
      val exp_ = col("rt") * col("ctot") / col("n")
      tot.agg(
          max("n").cast("long").as("n"),
          round(sum((col("obs") - exp_) * (col("obs") - exp_) / exp_), 6).as("chi2"),
          ((countDistinct("seg") - 1) * (countDistinct("pri") - 1)).as("dof"))
    },

    // NS: Benjamini–Hochberg FDR correction over a FAMILY of segment
    // tests — the multiple-comparisons discipline every segment-sliced
    // experiment readout needs (5 segments at α=0.05 each ≈ 23% false
    // alarm without it). Per event-type segment: a two-proportion z-test
    // of conversion (value > 2.5) between md5 split arms, p = 2(1−Φ(|z|))
    // through the SHARED erf-polynomial fragments (the q_ab_bayes tree),
    // then the BH step-up rule over the 5-row family: rank by p, reject
    // ranks ≤ k* where k* = max{i : p_i ≤ i·α/m} — thresholds are exact
    // integer ppm (i·α·1e6 DIV m). Every window runs on the 5-row family
    // frame (bounded domain); the corpus reduces in ONE combinable agg.
    // Totality: a zero-variance arm pins z to 0 (p = 1e6, never rejected).
    "q_bh_fdr" -> { (s, dir) =>
      val seg = Tables.events(s, dir)
        .select(col("event_type").as("segment"), col("user_id"),
          (col("value") > 2.5).cast("long").as("conv"))
        .withColumn("v", pmod(Hash.prefix(
          concat(col("segment"), lit("|bh:"), col("user_id").cast("string"))), lit(2L)))
        .groupBy("segment")
        .agg(sum(when(col("v") === 0, 1L).otherwise(0L)).as("n0"),
          sum(when(col("v") === 1, 1L).otherwise(0L)).as("n1"),
          sum(when(col("v") === 0, col("conv")).otherwise(0L)).as("s0"),
          sum(when(col("v") === 1, col("conv")).otherwise(0L)).as("s1"))
      val withP = seg
        .withColumn("z", expr(BhZSql))
        .withColumn("x", expr(AbXSql)).withColumn("t", expr(AbTSql))
        .withColumn("ef", expr(AbEfSql))
        .withColumn("p_ppm", expr(BhPSql))
      // m is the OBSERVED family size (count over the bounded segment
      // frame), not a hardcoded 5: if the event_type domain ever grows,
      // BH's i·α/m thresholds must grow with it or FDR control is
      // statistically wrong (and engine-consistent, so no oracle catches
      // it). α=0.05 → α·1e6 = 50000; thr is exact integer ppm.
      val ranked = withP
        .withColumn("rk", row_number().over(
          Window.orderBy(col("p_ppm"), col("segment"))).cast("long"))
        .withColumn("m", count(lit(1)).over(Window.partitionBy()).cast("long"))
        .withColumn("thr_ppm", expr("rk * 50000 DIV m"))
      val kStar = ranked.agg(
        coalesce(max(when(col("p_ppm") <= col("thr_ppm"), col("rk"))), lit(0L)).as("k_star"))
      ranked.crossJoin(broadcast(kStar))
        .select(col("segment"), col("n0"), col("n1"), col("s0"), col("s1"),
          col("p_ppm"), col("rk"), col("thr_ppm"),
          (col("rk") <= col("k_star")).cast("long").as("rejected"))
        .orderBy("rk")
    },

    // NS: two-sample Kolmogorov–Smirnov distance between the price
    // distributions of F vs O orders, on fixed-width bins. Binning is the
    // 100 TB design: the one shuffle carries ≤~600 (bin, side-counts) rows,
    // the ECDF walk is a window over that tiny frame, and the answer is
    // exact for the binned statistic (error vs continuous KS ≤ the bin's
    // probability mass — a knob, not a surprise).
    "q_ks_test" -> { (s, dir) =>
      val b = Tables.orders(s, dir)
        .filter(col("o_orderstatus").isin("F", "O"))
        .select(floor(col("o_totalprice") / KsBinWidth).cast("long").as("bin"),
          when(col("o_orderstatus") === "F", 1L).otherwise(0L).as("f"),
          when(col("o_orderstatus") === "O", 1L).otherwise(0L).as("o"))
        .groupBy("bin").agg(sum("f").as("nf"), sum("o").as("no_"))
      val w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val c = b
        .withColumn("cf", sum("nf").over(w))
        .withColumn("co", sum("no_").over(w))
        .withColumn("tf", sum("nf").over(Window.partitionBy()))
        .withColumn("tn", sum("no_").over(Window.partitionBy()))
      // totality (the q_logrank discipline): an input with neither F nor O
      // orders empties the binned frame and the fold's max() aggregates go
      // NULL — pin them to zeros on both engines so NULL never escapes
      c.agg(coalesce(max("tf").cast("long"), lit(0L)).as("n_f"),
          coalesce(max("tn").cast("long"), lit(0L)).as("n_o"),
          coalesce(round(max(abs(col("cf").cast("double") / col("tf") -
            col("co").cast("double") / col("tn"))), 6), lit(0.0)).as("ks"))
    },

    // NS: ROC AUC of price as a predictor of final-status orders, via the
    // Mann–Whitney rank-sum with tie correction — computed EXACTLY in
    // integer arithmetic (2U = Σ np·(2·cum_neg_below + nn)), so no
    // float-summation-order hazard; the lone division happens once at the
    // end. Input reduces to per-distinct-score counts first (prices are
    // 2-decimal: the domain, not N, bounds the window frame). decimal(38)
    // keeps 2U exact far past the long range (P·N at petabyte row counts).
    "q_auc" -> { (s, dir) =>
      val g = Tables.orders(s, dir)
        .select(col("o_totalprice").as("score"),
          when(col("o_orderstatus") === "F", 1L).otherwise(0L).as("pos"))
        .groupBy("score")
        .agg(sum("pos").as("np"), sum(lit(1L) - col("pos")).as("nn"))
      val w = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, -1)
      val c = g.withColumn("cnb", coalesce(sum("nn").over(w), lit(0L)))
      // totality: a single-class input (no F orders, or only F) zeroes one
      // side and the U ratio divides by zero — Spark nulls it while DuckDB
      // may yield inf, a silent cross-engine split. Pin to 0.0, and pin
      // the empty-input counts to 0 (the q_logrank discipline).
      c.agg(coalesce(sum("np").cast("long"), lit(0L)).as("n_pos"),
          coalesce(sum("nn").cast("long"), lit(0L)).as("n_neg"),
          sum((col("np") * (lit(2) * col("cnb") + col("nn"))).cast("decimal(38,0)"))
            .as("u2"))
        .select(col("n_pos"), col("n_neg"),
          when(col("n_pos") === 0 || col("n_neg") === 0, lit(0.0))
            .otherwise(round(col("u2").cast("double") /
              (lit(2.0) * col("n_pos").cast("double") * col("n_neg").cast("double")), 6))
            .as("auc"))
    },

    // NS: 2-D skyline (Pareto frontier): lineitems minimizing price while
    // maximizing quantity — no other line is both cheaper and larger.
    // Two-level staircase, because the distinct-price frame is NOT small
    // (~N at this generator): level 1 collapses to max-qty per 1000-wide
    // price bucket (one small agg), runs the strictly-earlier-bucket
    // running max over those ~500 rows, and broadcasts it back; only rows
    // that beat every earlier bucket's max survive to the exact
    // single-partition staircase — provably the same frontier (a dropped
    // row is dominated by the earlier-bucket row that set the running max,
    // which itself survives), with the global window seeing ~1e2-1e3
    // candidates instead of ~N distinct prices. This two-level
    // prefilter+exact shape is the 100 TB form of every "global ordered
    // scan" operator.
    "q_skyline" -> { (s, dir) =>
      val g = Tables.lineitem(s, dir)
        .groupBy(col("l_extendedprice").as("price"))
        .agg(max("l_quantity").as("qty"))
      val wb = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
      val bmax = g.groupBy(floor(col("price") / 1000.0).cast("long").as("bkt"))
        .agg(max("qty").as("bqty"))
        .withColumn("bprev", max("bqty").over(wb))
        .select(col("bkt"), col("bprev"))
      val cand = g
        .withColumn("bkt", floor(col("price") / 1000.0).cast("long"))
        .join(broadcast(bmax), "bkt")
        .filter(col("bprev").isNull || col("qty") > col("bprev"))
      val w = Window.orderBy("price").rowsBetween(Window.unboundedPreceding, -1)
      cand.withColumn("prevmax", max("qty").over(w))
        .filter(col("prevmax").isNull || col("qty") > col("prevmax"))
        .select("price", "qty")
        .orderBy("price")
    },

    // NS: frequency-weighted quantiles — Spark's percentile(col, p, freq)
    // surface: the weighted median/quartiles of price where each row
    // counts quantity-many times (per-unit price distribution, not
    // per-line) — the physical expansion never happens on the Spark side
    // (the frequency parameter folds weights into the percentile state);
    // the oracle PROVES the semantics by actually expanding each row
    // weight-many times and taking plain quantiles over the multiset.
    // Integer cents + integral weights keep the interpolation on the k/4
    // grid (the q_tukey_fences argument); the unweighted median sits
    // alongside to show the weighting moved the answer.
    "q_weighted_quantile" -> { (s, dir) =>
      val li = Tables.lineitem(s, dir)
        .select(expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("cents"),
          expr("CAST(l_quantity AS BIGINT)").as("w"))
      li.agg(
          sum("w").as("total_weight"),
          expr("percentile(cents, array(0.25D, 0.5D, 0.75D), w)").as("wq"),
          expr("percentile(cents, 0.5D)").as("m"))
        .select(col("total_weight"),
          col("wq").getItem(0).as("w_p25"),
          col("wq").getItem(1).as("w_p50"),
          col("wq").getItem(2).as("w_p75"),
          col("m").as("unweighted_p50"))
    },

    // NS: split-conformal prediction interval — the distribution-free
    // uncertainty wrapper (Vovk; the calibration discipline modern ML eval
    // runs): per event type, the q90 of CALIBRATION-set absolute
    // residuals (vs the calibration mean, in integer cents) becomes the
    // interval radius, and the TEST set reports empirical coverage — which
    // conformal theory pins near 90% regardless of the value
    // distribution. The cal/test split is the md5 hash (reproducible);
    // the center is a floor-DIV integer mean, the q90 radius is FLOORED to
    // the integer grid (the q_gains_table rule: every comparison is
    // integer-vs-integer, no ulp flips), and coverage is exact ppm.
    "q_conformal_interval" -> { (s, dir) =>
      val e = Tables.events(s, dir)
        .select(col("event_type"),
          expr("CAST(round(value * 100) AS BIGINT)").as("vc"),
          (pmod(Hash.prefix(concat(lit("conf:"), col("event_id").cast("string"))), lit(100L)) < 50)
            .cast("long").as("is_cal"))
      val center = e.filter(col("is_cal") === 1L)
        .groupBy("event_type")
        .agg(expr("sum(vc) DIV count(1)").as("center"), count(lit(1)).as("n_cal"))
      val withR = e.join(center, "event_type")
        .withColumn("r", abs(col("vc") - col("center")))
      val q90 = withR.filter(col("is_cal") === 1L)
        .groupBy("event_type")
        .agg(expr("CAST(floor(percentile(r, 0.9)) AS BIGINT)").as("q90_cents"))
      withR.filter(col("is_cal") === 0L)
        .join(q90, "event_type")
        .groupBy("event_type")
        .agg(max("n_cal").as("n_cal"), count(lit(1)).as("n_test"),
          max("q90_cents").as("q90_cents"),
          sum((col("r") <= col("q90_cents")).cast("long")).as("n_covered"))
        .select(col("event_type"), col("n_cal"), col("n_test"), col("q90_cents"),
          expr("n_covered * 1000000 DIV n_test").as("coverage_ppm"))
        .orderBy("event_type")
    },

    // NS: Benford first-digit census — the forensic-accounting screen for
    // fabricated numeric columns (organic multiplicative data follows
    // P(d) = log10(1+1/d); uniform or hand-made values don't): exact
    // integer digit counts off one bounded 9-row aggregate (leading digit
    // via string head — no float log in the bucketing), expected shares as
    // literal-derived ppm, and the mean absolute deviation statistic
    // folded over 9 rows. A synthetic fixture will typically FAIL Benford
    // — that is the point of a screen; the statistic is the output, not a
    // pass/fail assumption.
    "q_benford" -> { (s, dir) =>
      val d = substring(expr("CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS STRING)"), 1, 1)
        .cast("long")
      // cents > 0 guard (mirrored in the oracle): a zero or negative
      // price would yield a leading '0'/'-' outside the 1..9 Benford
      // domain and an infinite log10(1 + 1/digit) — the operator is
      // total over any input, not fixture-assumed positive
      val bins = Tables.orders(s, dir)
        .filter(expr("CAST(round(o_totalprice * 100) AS BIGINT) > 0"))
        .select(d.as("digit"))
        .groupBy("digit").agg(count(lit(1)).as("n"))
      val tot = bins.agg(sum("n").as("nt"))
      val withTot = bins.crossJoin(broadcast(tot))
      val obs = col("n").cast("double") / col("nt").cast("double")
      val exp_ = log10(lit(1.0) + lit(1.0) / col("digit").cast("double"))
      val mad = withTot.agg(round(avg(abs(obs - exp_)), 6).as("mad"))
      withTot.crossJoin(broadcast(mad))
        .select(col("digit"), col("n"),
          expr("n * 1000000 DIV nt").as("obs_ppm"),
          round(exp_ * 1e6).cast("long").as("exp_ppm"),
          col("mad"))
        .orderBy("digit")
    },

    // NS: Weight-of-Evidence / Information Value — the credit-risk feature
    // screen (q_psi_drift's target-conditioned sibling): does binned order
    // price separate final-status orders from open ones? Fixed integer
    // bins (cents DIV 2,000,000, capped — the bounded-histogram
    // discipline), add-0.5 smoothed WoE per bin, IV = Σ(g%−b%)·WoE with
    // the conventional reading (<0.02 useless, >0.3 strong). Counts are
    // exact integers off one bounded-bin aggregate; WoE/IV are the only
    // floats, folded over ≤16 bins and rounded at 6; the 1-row total
    // broadcasts back so each bin row also carries the feature's IV.
    "q_woe_iv" -> { (s, dir) =>
      val bins = Tables.orders(s, dir)
        .select(least(expr("CAST(round(o_totalprice * 100) AS BIGINT) DIV 2000000"),
            lit(15L)).as("bin"),
          (col("o_orderstatus") === "F").cast("long").as("bad"))
        .groupBy("bin")
        .agg(sum(lit(1L) - col("bad")).as("n_good"), sum("bad").as("n_bad"))
      val tot = bins.agg(sum("n_good").as("gt"), sum("n_bad").as("bt"))
      val withTot = bins.crossJoin(broadcast(tot))
      val gs = (col("n_good") + 0.5) / (col("gt").cast("double") + 0.5)
      val bs = (col("n_bad") + 0.5) / (col("bt").cast("double") + 0.5)
      val woe = log(gs / bs)
      val term = (gs - bs) * woe
      val iv = withTot.agg(round(sum(term), 6).as("iv"))
      withTot.crossJoin(broadcast(iv))
        .select(col("bin"), col("n_good"), col("n_bad"),
          round(woe, 6).as("woe"), round(term, 6).as("iv_term"), col("iv"))
        .orderBy("bin")
    },

    // NS: gains table / decile lift — the campaign-targeting eval (does
    // ranking orders by price concentrate the final-status responders in
    // the top deciles?): decile boundaries are type-7 percentiles of
    // integer cents FLOORED to the integer grid (one 1-row agg broadcast —
    // the q_percentile_bucket pattern; flooring makes every boundary an
    // exact integer, so the cents > boundary comparison is integer-vs-
    // integer and can never ulp-flip), then per-decile response counts with
    // cumulative gains and lift as exact integer cross-multiplication over
    // the 10-row frame. Response mass and lift are the integer verdicts;
    // nothing row-scale survives the decile aggregate.
    "q_gains_table" -> { (s, dir) =>
      val o = Tables.orders(s, dir)
        .select(expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"),
          (col("o_orderstatus") === "F").cast("long").as("resp"))
      // ONE array-percentile buffer for all nine cuts (nine scalar
      // percentile() calls each build their own value->count state:
      // measured 3.4 -> ~1 s at sf0.1)
      val cuts = o.agg(expr(
        "percentile(cents, array(0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9))")
        .as("cs"))
        .select((1 to 9).map(k =>
          expr(s"CAST(floor(element_at(cs, $k)) AS BIGINT)").as(s"c$k")): _*)
      val bucket = (1 to 9).map(k => (col("cents") > col(s"c$k")).cast("long"))
        .reduce(_ + _)
      val dec = o.crossJoin(broadcast(cuts))
        .select(bucket.as("decile"), col("resp"))
        .groupBy("decile")
        .agg(count(lit(1)).as("n"), sum("resp").as("n_resp"))
      val tot = dec.agg(sum("n").as("nt"), sum("n_resp").as("rt"))
      val w = Window.orderBy(col("decile").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      dec.crossJoin(broadcast(tot))
        .withColumn("cum_resp", sum("n_resp").over(w))
        .withColumn("cum_n", sum("n").over(w))
        .select(col("decile"), col("n"), col("n_resp"),
          expr("n_resp * 1000000 DIV n").as("resp_ppm"),
          expr("cum_resp * 1000000 DIV rt").as("cum_gain_ppm"),
          expr("cum_resp * nt * 100 DIV (cum_n * rt)").as("cum_lift_x100"))
        .orderBy("decile")
    },

    // NS: calibration reliability table with a REAL train/holdout split —
    // the eval a scoring pipeline runs before shipping a model: the train
    // half's per-bin response rate IS the model's predicted probability,
    // and the holdout half grades it bin by bin. Fixed $50k price-grid
    // bins (the q_histogram DIV discipline: bucket count is set by the
    // value domain, never by N), md5 row split (reproducible on any
    // cluster layout), and every rate/gap in integer ppm via DIV — the
    // expected-calibration-error verdict can't wobble with partial-sum
    // order. Two map-side-combined aggregates + a bin-grain join: at
    // 100 TB both sides of the join are ~10 rows.
    "q_calibration_bins" -> { (s, dir) =>
      val o = Tables.orders(s, dir).select(
        expr("CAST(round(o_totalprice * 100) AS BIGINT) DIV 5000000").as("bin"),
        (col("o_orderstatus") === "F").cast("long").as("pos"),
        (pmod(Hash.prefix(concat(lit("cal:"), col("o_orderkey").cast("string"))), lit(100L)) < 50)
          .as("is_train"))
      val train = o.filter(col("is_train"))
        .groupBy("bin").agg(count(lit(1)).as("n_train"), sum("pos").as("p_train"))
        .select(col("bin"), col("n_train"),
          expr("p_train * 1000000 DIV n_train").as("pred_ppm"))
      val hold = o.filter(!col("is_train"))
        .groupBy("bin").agg(count(lit(1)).as("n_hold"), sum("pos").as("p_hold"))
        .select(col("bin"), col("n_hold"),
          expr("p_hold * 1000000 DIV n_hold").as("obs_ppm"))
      val j = train.join(hold, "bin")
        .withColumn("gap_ppm", abs(col("obs_ppm") - col("pred_ppm")))
      val ece = j.agg(expr("sum(n_hold * gap_ppm) DIV sum(n_hold)").as("ece_ppm"))
      j.crossJoin(broadcast(ece))
        .select(col("bin"), col("n_train"), col("pred_ppm"),
          col("n_hold"), col("obs_ppm"), col("gap_ppm"), col("ece_ppm"))
        .orderBy("bin")
    },

    // NS: isotonic calibration (pool-adjacent-violators) — the monotone
    // recalibration map q_calibration_bins only MEASURES the need for:
    // iso(i) = max_{j≤i} min_{k≥i} rate(j..k), the closed max–min form of
    // PAV, evaluated over the 10-bin frame via prefix sums + a ≤550-row
    // bounded range join (no iterative pooling, no sequential state).
    // Range rates form in DOUBLE over exact prefix integers; min/max are
    // exact comparisons; the ONE floor-to-ppm happens at the end — so
    // both engines agree bitwise and the output is guaranteed monotone
    // by construction (spec-pinned).
    "q_isotonic_calibrate" -> { (s, dir) =>
      val bins = Tables.orders(s, dir)
        .select(least(expr("CAST(round(o_totalprice * 100) AS BIGINT) DIV 5000000"),
          lit(9L)).as("bin"),
          (col("o_orderstatus") === "F").cast("long").as("pos"))
        .groupBy("bin").agg(count(lit(1)).as("n_b"), sum("pos").as("pos_b"))
      val wOrd = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
      val pre = bins
        .withColumn("cn", sum("n_b").over(wOrd))
        .withColumn("cp", sum("pos_b").over(wOrd))
        .localCheckpoint(eager = false) // ≤10 rows; feeds three self-joins
      val lo = pre.select(col("bin").as("j"), (col("cn") - col("n_b")).as("cn_lo"),
        (col("cp") - col("pos_b")).as("cp_lo"))
      val hi = pre.select(col("bin").as("k"), col("cn").as("cn_hi"), col("cp").as("cp_hi"))
      val ranges = lo.crossJoin(hi).filter(col("j") <= col("k"))
        .withColumn("rate", (col("cp_hi") - col("cp_lo")).cast("double") /
          (col("cn_hi") - col("cn_lo")).cast("double"))
      val iso = pre.select(col("bin")).crossJoin(ranges)
        .filter(col("j") <= col("bin") && col("k") >= col("bin"))
        .groupBy("bin", "j").agg(min("rate").as("minr"))
        .groupBy("bin").agg(max("minr").as("iso_rate"))
        .select(col("bin"),
          expr("CAST(floor(iso_rate * 1000000.0e0) AS BIGINT)").as("iso_ppm"))
      pre.select(col("bin"), col("n_b"), col("pos_b"),
          expr("pos_b * 1000000 DIV n_b").as("raw_ppm"))
        .join(iso, "bin")
        .orderBy("bin")
    },

    // NS: Welch two-sample t-test (unequal variances) — the A/B-test
    // decision statistic beside q_chi_square (categorical) and q_ks_test
    // (distributional): does the purchase cohort's value differ from the
    // click cohort's? One map-side-combinable aggregate reduces each arm
    // to (n, Σx, Σx²); mean, variance, t, and the Welch–Satterthwaite dof
    // all derive from those six numbers — no second pass, no window. The
    // Σx folds are row-scale float sums (values are arbitrary doubles, no
    // integer grid exists); t ~ O(1) while the fold wobble is ~1e-10, five
    // decades under the round-4 quantum — the q_jsd_drift argument.
    "q_ab_ttest" -> { (s, dir) =>
      val g = Tables.events(s, dir)
        .filter(col("event_type").isin("purchase", "click"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("value").as("s1"),
          sum(col("value") * col("value")).as("s2"))
      def side(t: String, c: String) = g.filter(col("event_type") === t)
        .select(col("n").as(s"n_$c"), col("s1").as(s"s1_$c"), col("s2").as(s"s2_$c"))
      val j = side("purchase", "a").crossJoin(side("click", "b"))
      def mean(c: String) = col(s"s1_$c") / col(s"n_$c")
      def vr(c: String) =
        (col(s"s2_$c") - col(s"s1_$c") * col(s"s1_$c") / col(s"n_$c")) / (col(s"n_$c") - 1)
      val sea = vr("a") / col("n_a"); val seb = vr("b") / col("n_b")
      j.select(col("n_a"), col("n_b"),
        round(mean("a"), 6).as("mean_a"), round(mean("b"), 6).as("mean_b"),
        round((mean("a") - mean("b")) / sqrt(sea + seb), 4).as("t_stat"),
        round((sea + seb) * (sea + seb) /
          (sea * sea / (col("n_a") - 1) + seb * seb / (col("n_b") - 1)), 2).as("dof"))
    },

    // NS: market-basket association mining (the Apriori/FP-growth first
    // pass): co-occurring part pairs within an order with support and
    // lift. The pair generation self-joins the DISTINCT (order, part)
    // frame on the order key — the blowup is C(k,2) per basket where k is
    // the BASKET size (≤7 lines in this schema), a per-group bound
    // independent of corpus size, the same bounded-blowup argument as the
    // interval-join bucketing; baskets never cross-join each other. Counts
    // stay exact integers; lift·100 is exact integer cross-multiplication
    // (n_ab·N·100 DIV n_a·n_b), so the ranking can never float-flip.
    // Top-20 by (co-count, pair) ends in TakeOrdered, no global sort.
    "q_market_basket" -> { (s, dir) =>
      // localCheckpoint: the distinct item frame feeds FOUR consumers (the
      // order count, the single-item frequencies, and both sides of the
      // basket self-join) — without the cut the lineitem scan + distinct
      // shuffle replays per consumer (measured 4.6 -> 3.1 s cold,
      // 1.9 -> 1.6 s warm at sf0.1/local[32])
      // r12 (guide §2.4 "two operations keyed the same way can share one
      // exchange"): the r11 shape deduped on hash(ok, pk), then re-shuffled
      // BOTH self-join sides back onto ok — three basket-keyed exchanges
      // where one suffices. Repartitioning by ok BEFORE the dedup satisfies
      // the (ok, pk) clustering (hash on a key subset), and localCheckpoint
      // preserves the partitioning, so the self-join and the n_orders
      // dedup both reuse it exchange-free; only freq (pk) and the pair
      // census (pa, pb) shuffle again.
      // r13: keyedExchange instead of a bare repartition(col): the bare
      // keyed exchange is AQE-coalescable and on this sub-advisory-size
      // input collapsed to ONE partition — which the localCheckpoint then
      // froze, serializing the distinct, the C(k,2) pair expansion and the
      // census partials on one core. The pinned count applies only on the
      // compact-scan path; at scale the AQE-managed exchange is unchanged.
      val items = graft.core.Par.keyedExchange(
          Tables.lineitem(s, dir)
            .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")),
          col("ok"))
        .distinct()
        .localCheckpoint(eager = false)
      val nOrders = items.select("ok").distinct().agg(count(lit(1)).as("n_orders"))
      val freq = items.groupBy("pk").agg(count(lit(1)).as("n_single"))
      val pairs = items.select(col("ok"), col("pk").as("pa"))
        .join(items.select(col("ok"), col("pk").as("pb")), "ok")
        .filter(col("pa") < col("pb"))
        .groupBy("pa", "pb").agg(count(lit(1)).as("n_ab"))
        .filter(col("n_ab") >= 2)
      pairs
        .join(freq.select(col("pk").as("pa"), col("n_single").as("n_a")), "pa")
        .join(freq.select(col("pk").as("pb"), col("n_single").as("n_b")), "pb")
        .crossJoin(broadcast(nOrders))
        .select(col("pa"), col("pb"), col("n_ab"), col("n_a"), col("n_b"),
          expr("n_ab * 1000000 DIV n_orders").as("support_ppm"),
          expr("n_ab * n_orders * 100 DIV (n_a * n_b)").as("lift_x100"))
        .orderBy(col("n_ab").desc, col("pa"), col("pb"))
        .limit(20)
    },

    // NS: Poisson bootstrap of the mean — the resampling scheme that works
    // at 100 TB (Chamandy et al., "Estimating Uncertainty for Massive Data
    // Streams"): classic bootstrap needs N draws WITH replacement per
    // replicate (a global operation); the Poisson approximation gives each
    // row an independent Poisson(1) weight per replicate, so the resample
    // is one embarrassingly-parallel pass. Weights come from an md5-derived
    // 32-bit uniform compared against FLOOR(CDF·2^32) integer thresholds —
    // pure integer arithmetic, so the resample is bit-equal on any engine,
    // any partitioning, any retry. The B-fold row expansion collapses
    // map-side (partial agg) to B rows per partition; the only shuffle
    // carries B=16 rows. Replicate means are exact-integer divisions;
    // the spread across the 16-row frame is the only float fold (rounded
    // well above the 16-term sum-order wobble).
    "q_poisson_bootstrap" -> { (s, dir) =>
      val B = 16
      // floor(2^32 * P(Poisson(1) <= k)) for k = 0..6; weight caps at 7.
      val thr = Seq(1580030168L, 3160060337L, 3950075421L, 4213413783L,
        4279248373L, 4292415291L, 4294609777L)
      val rows = Tables.orders(s, dir)
        .select(col("o_orderkey"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
        .select(col("o_orderkey"), col("cents"),
          explode(sequence(lit(0), lit(B - 1))).as("b"))
      val u = Hash.prefix(concat(lit("boot:"), col("b").cast("string"),
        lit(":"), col("o_orderkey").cast("string")))
      // build CASE WHEN u<t0 THEN 0 WHEN u<t1 THEN 1 ... ELSE 7 — fold from
      // the LARGEST threshold inward so the smallest lands outermost
      val w = thr.zipWithIndex.reverse.foldLeft(lit(7): org.apache.spark.sql.Column) {
        case (acc, (t, k)) => when(u < lit(t), lit(k)).otherwise(acc)
      }
      val reps = rows
        .select(col("b"), (col("cents") * w.cast("long")).as("wc"), w.cast("long").as("w"))
        .groupBy("b")
        .agg(sum("wc").as("swc"), sum("w").as("sw"))
        .select(col("b"), (col("swc").cast("double") / col("sw").cast("double")).as("mb"))
      val point = Tables.orders(s, dir)
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("sc"))
      reps.crossJoin(broadcast(point))
        .agg(max("n").as("n_rows"),
          round(max(col("sc").cast("double") / col("n").cast("double")), 6).as("point_mean_cents"),
          count(lit(1)).as("n_replicates"),
          round(sqrt(
            (sum(col("mb") * col("mb")) - sum("mb") * sum("mb") / count(lit(1)))
              / (count(lit(1)) - 1)), 4).as("boot_se_cents"))
    },

    // NS: Tukey-fence outlier census per group — the robust outlier gate
    // (quartiles ± 1.5·IQR) in EXACT arithmetic: prices become integer
    // cents, so type-7 quartiles land on the exact k/4 binary grid, the
    // 1.5·IQR fences on k/8 — bit-equal doubles on both engines, making
    // the fence comparisons deterministic (no last-ulp boundary row can
    // flip). Same domain-bound note as q_quantiles: exact percentile keeps
    // a value→count map per group (the 2-decimal price grid bounds it);
    // unbounded domains take the approx_percentile path. Fence counts ride
    // a broadcast of the K-row fence frame back onto the fact — one scan,
    // one K-group aggregate each side.
    "q_tukey_fences" -> { (s, dir) =>
      val li = Tables.lineitem(s, dir)
        .select(col("l_returnflag"),
          expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("cents"))
      val f = li.groupBy("l_returnflag")
        .agg(expr("percentile(cents, 0.25)").as("q1"),
          expr("percentile(cents, 0.75)").as("q3"))
        .select(col("l_returnflag"), col("q1"), col("q3"),
          (col("q1") - (col("q3") - col("q1")) * 1.5).as("lo"),
          (col("q3") + (col("q3") - col("q1")) * 1.5).as("hi"))
      li.join(broadcast(f), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          max("q1").as("q1_cents"), max("q3").as("q3_cents"),
          sum((col("cents") < col("lo")).cast("long")).as("n_below"),
          sum((col("cents") > col("hi")).cast("long")).as("n_above"))
        .select(col("l_returnflag"), col("n"), col("q1_cents"), col("q3_cents"),
          col("n_below"), col("n_above"),
          expr("(n_below + n_above) * 1000000 DIV n").as("out_ppm"))
        .orderBy("l_returnflag")
    },

    // NS: Gini concentration of token volume across sources — the
    // corpus-balance statistic a mix planner alerts on (a 100 TB crawl
    // where 3 sources hold 90% of tokens trains a biased model). The
    // corpus reduces to one row per source (one shuffle, map-side
    // combined); the rank window runs over that registry-sized frame
    // (thousands of sources at most — the q_skew_census bound argument),
    // never over documents. Gini via the rank identity
    // G = (2·Σ i·x_(i) − (n+1)·Σx) / (n·Σx) in EXACT integer arithmetic —
    // ties in x are order-invariant under the (x, source) rank, so the
    // statistic is reproducible to the bit; one final division.
    "q_gini_concentration" -> { (s, dir) =>
      val src = Tables.documents(s, dir)
        .select(col("source"), size(split(col("text"), " ")).cast("long").as("t"))
        .groupBy("source").agg(sum("t").as("x"))
      val ranked = src.withColumn("i",
        row_number().over(Window.orderBy("x", "source")))
      ranked.agg(count(lit(1)).as("n_sources"),
          sum("x").as("total_tokens"),
          max("x").as("max_tokens"),
          sum(col("i") * col("x")).as("ix"))
        .select(col("n_sources"), col("total_tokens"), col("max_tokens"),
          expr("max_tokens * 1000000 DIV total_tokens").as("top_share_ppm"),
          round((lit(2.0) * col("ix").cast("double")
            - (col("n_sources") + 1).cast("double") * col("total_tokens").cast("double"))
            / (col("n_sources").cast("double") * col("total_tokens").cast("double")), 9)
            .as("gini"))
    },

    // NS: quantile treatment effects — where in the OUTCOME DISTRIBUTION
    // does the treatment act? (a mean effect can hide a pure tail
    // effect): md5-assigned arms at the user grain, p10..p90 of each
    // arm's outcome in integer milli with type-7 percentiles FLOORED to
    // the grid (the q_gains_table discipline), QTE per decile = treated −
    // control in exact integers. Two user-grain aggregates + two
    // percentile-array folds + a 9-row posexplode.
    "q_qte" -> { (s, dir) =>
      val ps = (1 to 9).map(_ / 10.0)
      val u = Tables.events(s, dir)
        .groupBy("user_id")
        .agg(expr("CAST(sum(CAST(round(value * 1000) AS BIGINT)) AS BIGINT)").as("y"))
        .withColumn("treated", pmod(Hash.prefix(concat(lit("qte:"), col("user_id"))), lit(2L)))
      def arm(t: Long, out: String) = u.filter(col("treated") === t)
        .agg(expr(s"percentile(y, array(${ps.mkString(", ")}))").as(out))
      arm(1L, "qt").crossJoin(arm(0L, "qc"))
        .select(posexplode(expr(
          "transform(qt, (a, i) -> named_struct('t', CAST(floor(a) AS BIGINT), " +
            "'c', CAST(floor(qc[i]) AS BIGINT)))")).as(Seq("pos", "q")))
        .select(((col("pos") + 1) * 10).cast("long").as("p_pct"),
          col("q.t").as("q_treated_milli"), col("q.c").as("q_control_milli"),
          (col("q.t") - col("q.c")).as("qte_milli"))
        .orderBy("p_pct")
    },

    // NS: rank correlation — Spearman's rho and Kendall's tau between
    // two rankings of the sources (by token mass vs by doc count): do the
    // two size notions order the corpus the same way? Both statistics
    // are EXACT INTEGERS on the registry-bounded frame — rho_ppm =
    // 1e6 − 6·Σd²·1e6 DIV (n(n²−1)) from the rank-difference identity,
    // tau from concordant/discordant counts over the C(n,2) pair frame
    // (bounded by the REGISTRY, never rows); (value, source) total
    // orders make ranks tie-free on both engines.
    "q_rank_corr" -> { (s, dir) =>
      val src = Tables.documents(s, dir)
        .select(col("source"), size(split(col("text"), " ")).cast("long").as("t"))
        .groupBy("source")
        .agg(sum("t").as("tokens"), count(lit(1)).as("docs"))
        .withColumn("r_tok", row_number().over(
          Window.orderBy(col("tokens").desc, col("source"))).cast("long"))
        .withColumn("r_doc", row_number().over(
          Window.orderBy(col("docs").desc, col("source"))).cast("long"))
        .localCheckpoint(eager = false) // registry-bounded; feeds rho fold + pair join
      val rho = src
        .agg(count(lit(1)).as("n"),
          sum((col("r_tok") - col("r_doc")) * (col("r_tok") - col("r_doc"))).as("sd2"))
        .select(col("n"),
          expr("1000000 - 6 * sd2 * 1000000 DIV (n * (n * n - 1))").as("spearman_ppm"))
      val pairs = src.select(col("source").as("sa"), col("r_tok").as("ta"), col("r_doc").as("da"))
        .join(src.select(col("source").as("sb"), col("r_tok").as("tb"), col("r_doc").as("db")),
          col("sa") < col("sb"))
        .select(((col("ta") < col("tb")) === (col("da") < col("db"))).cast("long").as("conc"))
      val tau = pairs.agg(count(lit(1)).as("n_pairs"), sum("conc").as("n_concordant"))
        .select(col("n_pairs"), col("n_concordant"),
          (col("n_pairs") - col("n_concordant")).as("n_discordant"),
          expr("""CASE WHEN 2 * n_concordant >= n_pairs
                 |  THEN (2 * n_concordant - n_pairs) * 1000000 DIV n_pairs
                 |  ELSE -((n_pairs - 2 * n_concordant) * 1000000 DIV n_pairs)
                 |END""".stripMargin).as("kendall_ppm"))
      rho.crossJoin(broadcast(tau))
    },

    // NS: effective sample size / design effect — the survey-statistics
    // read every weighted pipeline needs ("my 1M weighted rows carry the
    // information of how many unweighted ones?"): Kish n_eff =
    // (Σw)²/Σw², deff = n/n_eff. Weights are exact integer milli
    // (Σw² ≤ 2.5e18 through 10x stress stays BIGINT; the (Σw)² square
    // happens in the DOUBLE of the fixed IEEE tree), one combinable
    // aggregate per segment.
    "q_effective_n" -> { (s, dir) =>
      val w = Tables.events(s, dir)
        .select(col("event_type").as("segment"),
          expr("CAST(round(value * 1000) AS BIGINT)").as("w"))
      val seg = w.groupBy("segment")
        .agg(count(lit(1)).as("n"), sum("w").as("sw"),
          sum(col("w") * col("w")).as("sww"))
      val all = w.groupBy(lit("__ALL__").as("segment"))
        .agg(count(lit(1)).as("n"), sum("w").as("sw"),
          sum(col("w") * col("w")).as("sww"))
      seg.unionByName(all)
        .select(col("segment"), col("n"),
          round(col("sw").cast("double") * col("sw").cast("double") /
            col("sww").cast("double"), 3).as("n_eff"),
          round(col("n").cast("double") * col("sww").cast("double") /
            (col("sw").cast("double") * col("sw").cast("double")), 4).as("deff"))
        .orderBy("segment")
    },

    // NS: Lorenz curve points + HHI — q_gini_concentration's plotted
    // sibling (the roc_points-beside-auc pattern): sources ranked by
    // token mass ascending, decile points of (population share,
    // cumulative token share) in exact integer ppm, with the Herfindahl
    // concentration index beside them. HHI forms the RATIO in DOUBLE
    // over the exact BIGINT sums (the q_ari register-choice discipline):
    // the previous all-integer `sxx * 1e6 DIV t_all²` overflowed BIGINT
    // once sxx·1e6 passed 2^63 (~9.2e12 of Σt_g², i.e. well inside a
    // large-corpus regime) and t_all² overflowed past T~3e9 — DuckDB
    // raises Out of Range there while non-ANSI Spark wraps silently to a
    // wrong hhi_ppm. The sums stay exact integers; only the final
    // division is IEEE, deterministic on both engines, floored to ppm.
    // Registry-bounded frames after one source aggregate.
    "q_lorenz_points" -> { (s, dir) =>
      val src = Tables.documents(s, dir)
        .select(col("source"), size(split(col("text"), " ")).cast("long").as("t"))
        .groupBy("source").agg(sum("t").as("x"))
      val ranked = src
        .withColumn("i", row_number().over(Window.orderBy("x", "source")).cast("long"))
        .withColumn("cum", sum("x").over(
          Window.orderBy("x", "source").rowsBetween(Window.unboundedPreceding, 0)))
      val tot = src.agg(count(lit(1)).as("n"), sum("x").as("t_all"),
        sum(col("x") * col("x")).as("sxx"))
      ranked.crossJoin(broadcast(tot))
        // decile points: the last source whose rank lands in each decile
        .withColumn("decile", expr("i * 10 DIV n"))
        .groupBy("decile")
        .agg(max(struct(col("i"), col("cum"))).as("m"),
          max(expr("CAST(floor(CAST(sxx AS DOUBLE) * 1000000.0 / " +
            "(CAST(t_all AS DOUBLE) * CAST(t_all AS DOUBLE))) AS BIGINT)")).as("hhi_ppm"),
          max("n").as("n_sources"), max("t_all").as("total_tokens"))
        .filter(col("decile") > 0)
        .select(col("decile"), col("n_sources"), col("total_tokens"),
          expr("m.i * 1000000 DIV n_sources").as("pop_share_ppm"),
          expr("m.cum * 1000000 DIV total_tokens").as("mass_share_ppm"),
          col("hhi_ppm"))
        .orderBy("decile")
    },

    // NS: burstiness census — the index of dispersion (Fano factor,
    // var/mean) of the hourly count series per event type: ~1 = Poisson
    // arrivals, >>1 = bursty (a crawler stampede, a retry storm), <1 =
    // rate-limited. EXACT integers: dispersion_milli =
    // (n·Σx² − T²)·1000 DIV ((n−1)·T) — one hourly aggregate, one
    // bounded per-type fold, no IEEE anywhere.
    "q_burstiness" -> { (s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("event_type"), expr("unix_micros(ts) DIV 3600000000").as("hi"))
        .agg(count(lit(1)).as("x"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_hours"), sum("x").as("t"),
          sum(col("x") * col("x")).as("sxx"))
        .filter(col("n_hours") > 1)
        .select(col("event_type"), col("n_hours"),
          expr("t * 1000 DIV n_hours").as("mean_milli"),
          expr("(n_hours * sxx - t * t) * 1000 DIV ((n_hours - 1) * t)").as("dispersion_milli"))
        .orderBy("event_type")
    },

    // NS: CUPED variance reduction (the industry-standard A/B power
    // multiplier): the pre-experiment covariate (first-half event count
    // per user) is regressed out of the experiment metric (second-half
    // count) with the POOLED theta = cov(pre, post)/var(pre), and the
    // per-variant adjusted means are reported beside the raw ones with
    // the achievable variance reduction rho². All sufficient statistics
    // (n, Σpre, Σpost, Σpre², Σpost², Σpre·post) are EXACT BIGINT from
    // one user-grain aggregate + one 6-number fold; theta/rho²/means are
    // fixed IEEE trees over those integers rounded 6dp — the same
    // discipline as the eval statistics. Products stay under 2^63 through
    // the 10x stress scale (n ≤ 2e5 users, Σpre·post ≤ 5e8 → n·Σ ≤ 1e14).
    "q_cuped" -> { (s, dir) =>
      val byUser = Tables.events(s, dir)
        .groupBy("user_id")
        .agg(
          sum(when(dayofmonth(col("ts")) <= 15, 1L).otherwise(0L)).as("pre"),
          sum(when(dayofmonth(col("ts")) > 15, 1L).otherwise(0L)).as("post"))
        .withColumn("variant", pmod(Hash.prefix(concat(lit("ab:"), col("user_id"))), lit(2L)))
        .localCheckpoint(eager = false) // user-grain frame feeds both the pooled fold and the per-variant agg
      val g = byUser.agg(count(lit(1)).as("n"),
        sum("pre").as("sp"), sum("post").as("so"),
        sum(col("pre") * col("pre")).as("spp"),
        sum(col("post") * col("post")).as("soo"),
        sum(col("pre") * col("post")).as("spo"))
      val v = byUser.groupBy("variant")
        .agg(count(lit(1)).as("n_users"), sum("pre").as("spv"), sum("post").as("sov"))
      val cnum = (col("n") * col("spo") - col("sp") * col("so")).cast("double")
      val vden = (col("n") * col("spp") - col("sp") * col("sp")).cast("double")
      val oden = (col("n") * col("soo") - col("so") * col("so")).cast("double")
      val theta = cnum / vden
      v.crossJoin(broadcast(g))
        .select(col("variant"), col("n_users"),
          round(col("sov").cast("double") / col("n_users").cast("double"), 6).as("mean_post"),
          round(col("sov").cast("double") / col("n_users").cast("double") -
            theta * (col("spv").cast("double") / col("n_users").cast("double") -
              col("sp").cast("double") / col("n").cast("double")), 6).as("mean_adj"),
          round(theta, 6).as("theta"),
          round(cnum * cnum / (vden * oden), 6).as("rho2"))
        .orderBy("variant")
    },

    // NS: difference-in-differences — the quasi-experimental effect
    // estimator when assignment isn't randomized: cell means of the
    // outcome over (treated, period) with DID = (T_post − T_pre) −
    // (C_post − C_pre). Outcome sums are exact BIGINT milli-units and
    // cell means use truncating DIV (all operands non-negative), so the
    // estimate is an exact integer on both engines. ONE combinable
    // 4-cell aggregate; nothing after the shuffle scales with rows.
    "q_diff_in_diff" -> { (s, dir) =>
      val ev = Tables.events(s, dir)
        .select(
          pmod(Hash.prefix(concat(lit("did:"), col("user_id"))), lit(2L))
            .as("treated"),
          (dayofmonth(col("ts")) > 15).cast("long").as("is_post"),
          expr("CAST(round(value * 1000) AS BIGINT)").as("v_milli"))
      def cell(t: Int, p: Int, tag: String) = Seq(
        sum(when(col("treated") === t && col("is_post") === p, lit(1L)).otherwise(0L))
          .as(s"n_$tag"),
        sum(when(col("treated") === t && col("is_post") === p, col("v_milli")).otherwise(0L))
          .as(s"s_$tag"))
      val aggs = cell(1, 0, "t_pre") ++ cell(1, 1, "t_post") ++
        cell(0, 0, "c_pre") ++ cell(0, 1, "c_post")
      ev.agg(aggs.head, aggs.tail: _*)
        .select(col("n_t_pre"), col("n_t_post"), col("n_c_pre"), col("n_c_post"),
          expr("s_t_pre DIV n_t_pre").as("m_t_pre"),
          expr("s_t_post DIV n_t_post").as("m_t_post"),
          expr("s_c_pre DIV n_c_pre").as("m_c_pre"),
          expr("s_c_post DIV n_c_post").as("m_c_post"))
        .withColumn("did_milli",
          (col("m_t_post") - col("m_t_pre")) - (col("m_c_post") - col("m_c_pre")))
    },

    // NS: uplift by targeting decile — the heterogeneous-treatment-effect
    // read behind every targeting decision (ab_ttest -> CUPED -> DiD ->
    // THIS completes the causal family): users bucket by a (hash-derived)
    // targeting score, and each decile reports treated-vs-control outcome
    // means plus the running cumulative uplift scanning deciles best-first
    // (the Qini-curve spine). All EXACT integers: outcome sums in milli,
    // decile means by truncating DIV on non-negative operands, the
    // cumulative window runs over the fixed 10-row decile frame. One
    // user-grain aggregate (combinable) + one 20-cell aggregate + a
    // bounded window — nothing row-scale after the first shuffle.
    "q_uplift_deciles" -> { (s, dir) =>
      val users = Tables.events(s, dir)
        .groupBy("user_id")
        .agg(expr("CAST(sum(CAST(round(value * 1000) AS BIGINT)) AS BIGINT)").as("y_milli"))
        .withColumn("treated", pmod(Hash.prefix(concat(lit("up:"), col("user_id"))), lit(2L)))
        .withColumn("scr", pmod(Hash.prefix(concat(lit("scr:"), col("user_id"))), lit(1000L)))
        .withColumn("decile", expr("scr DIV 100"))
      val cells = users.groupBy("decile")
        .agg(sum(when(col("treated") === 1, 1L).otherwise(0L)).as("n_t"),
          sum(when(col("treated") === 0, 1L).otherwise(0L)).as("n_c"),
          sum(when(col("treated") === 1, col("y_milli")).otherwise(0L)).as("s_t"),
          sum(when(col("treated") === 0, col("y_milli")).otherwise(0L)).as("s_c"))
        // both arms populated (an empty arm would divide by zero — at any
        // realistic scale every decile holds both; the filter keeps the
        // operator total, deterministically, on degenerate inputs)
        .filter(col("n_t") > 0 && col("n_c") > 0)
        .select(col("decile"), col("n_t"), col("n_c"),
          expr("s_t DIV n_t").as("m_t_milli"),
          expr("s_c DIV n_c").as("m_c_milli"))
        .withColumn("uplift_milli", col("m_t_milli") - col("m_c_milli"))
      cells.withColumn("cum_uplift_milli",
          sum("uplift_milli").over(Window.orderBy(col("decile").desc)
            .rowsBetween(Window.unboundedPreceding, 0)))
        .orderBy("decile")
    },

    // NS: Wilson-lower-bound ranking — "sort by rating" done right: the
    // naive positive rate over-ranks tiny samples, the Wilson score
    // interval's lower bound at z=1.96 is the standard shrinkage fix.
    // Success is hash-derived with a per-item planted rate (h·37 <
    // 1000·len(type): pure integer rule), so items differ and the
    // ranking is meaningful. (n, s) fold in ONE combinable aggregate;
    // the Wilson bound is a fixed IEEE tree over those exact integers
    // rounded 6dp (the z and z² literals spelled identically on both
    // engines); rank by (lb desc, item) is total.
    "q_wilson_rank" -> { (s, dir) =>
      val ev = Tables.events(s, dir)
        .select(col("event_type").as("item"),
          (pmod(Hash.prefix(concat(lit("wil:"), col("event_id"))), lit(1000L))
            * 37 < length(col("event_type")).cast("long") * 1000).cast("long").as("success"))
      val g = ev.groupBy("item")
        .agg(count(lit(1)).as("n"), sum("success").as("s"))
      val nD = col("n").cast("double"); val sD = col("s").cast("double")
      val z2 = lit(1.96 * 1.96)
      val p = sD / nD
      val lb = (p + z2 / (lit(2.0) * nD) -
        lit(1.96) * sqrt((p * (lit(1.0) - p) + z2 / (lit(4.0) * nD)) / nD)) /
        (lit(1.0) + z2 / nD)
      g.select(col("item"), col("n"), col("s"),
          expr("s * 1000000 DIV n").as("rate_ppm"),
          round(lb, 6).as("wilson_lb"))
        .withColumn("rk", row_number().over(
          Window.orderBy(col("wilson_lb").desc, col("item"))))
        .orderBy("rk")
    },

    // NS: minimum-detectable-effect / power planning — the experiment-
    // design companion of q_ab_ttest: from each arm's (n, Σx, Σx²) — the
    // same six-number sufficient reduction, one combinable aggregate —
    // compute the two-sided-α=5% MDE at 80% and 90% power via
    // MDE = (z_α/2 + z_β)·sqrt(va/na + vb/nb). The z constants are fixed
    // literals (Φ⁻¹ is not data-dependent), the rest is a fixed IEEE tree
    // over the aggregate row, rounded 6dp on both engines.
    "q_mde_power" -> { (s, dir) =>
      val g = Tables.events(s, dir)
        .filter(col("event_type").isin("purchase", "click"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("value").as("s1"),
          sum(col("value") * col("value")).as("s2"))
      def side(t: String, c: String) = g.filter(col("event_type") === t)
        .select(col("n").as(s"n_$c"), col("s1").as(s"s1_$c"), col("s2").as(s"s2_$c"))
      val j = side("purchase", "a").crossJoin(side("click", "b"))
      def vr(c: String) =
        (col(s"s2_$c") - col(s"s1_$c") * col(s"s1_$c") / col(s"n_$c")) / (col(s"n_$c") - 1)
      val se = sqrt(vr("a") / col("n_a") + vr("b") / col("n_b"))
      j.select(col("n_a"), col("n_b"), se.as("se"),
          (col("s1_a") / col("n_a")).as("mean_a"))
        .crossJoin(broadcast(s.createDataFrame(Seq((80L, 0.841621), (90L, 1.281552)))
          .toDF("power_pct", "z_beta")))
        .select(col("power_pct"), col("n_a"), col("n_b"),
          round((lit(1.959964) + col("z_beta")) * col("se"), 6).as("mde"),
          round((lit(1.959964) + col("z_beta")) * col("se") / col("mean_a") * 100, 4)
            .as("mde_rel_pct"))
        .orderBy("power_pct")
    },

    // NS: Simpson's-paradox screen — does the within-segment association
    // sign contradict the pooled sign? Association sign per group is
    // sign(n·Σxy − Σx·Σy), with n/Σx/Σy/Σxy EXACT BIGINTs from one
    // combinable aggregate (x = quantity units, y = price cents; Σxy ≤
    // 3e15 at 10x stress, exact) and the two products compared as doubles
    // — a fixed IEEE tree over exact integers, the chi² discipline; the
    // products are ~1e20 vs a margin of ~1e17, so a 1-ulp wobble (~1e4)
    // can never flip the verdict. One aggregate per grain, no row-scale
    // float sum anywhere.
    "q_simpson_flip" -> { (s, dir) =>
      val base = Tables.lineitem(s, dir)
        .select(col("l_returnflag").as("segment"),
          col("l_quantity").cast("long").as("x"),
          expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("y"))
      def assoc(df: DataFrame, keys: Column*): DataFrame = {
        val grouped = if (keys.isEmpty) df.groupBy() else df.groupBy(keys: _*)
        grouped.agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x") * col("y")).as("sxy"))
      }
      val seg = assoc(base, col("segment"))
      val glob = assoc(base)
        .select(signum(col("n").cast("double") * col("sxy").cast("double") -
          col("sx").cast("double") * col("sy").cast("double")).cast("long").as("sign_global"))
      seg.crossJoin(broadcast(glob))
        .select(col("segment"), col("n"), col("sxy"),
          signum(col("n").cast("double") * col("sxy").cast("double") -
            col("sx").cast("double") * col("sy").cast("double")).cast("long").as("sign_seg"),
          col("sign_global"))
        .withColumn("simpson_flip",
          (col("sign_seg") * col("sign_global") < 0).cast("long"))
        .orderBy("segment")
    },

    // NS: SPRT — Wald's sequential A/B test over the event stream, the
    // always-valid alternative to the fixed-horizon t-test. Success =
    // purchase; H0 p=0.18 vs H1 p=0.22, α=β=0.05. Per-observation LLR
    // contributions are CONSTANTS (ln(p1/p0), ln((1−p1)/(1−p0)) — fixed
    // micro-nat integer literals, not data-dependent), so the sequential
    // statistic needs only per-bucket success/fail counts: the stream
    // collapses map-side into (variant, event_id DIV 256) cells — a
    // 1/256-scale frame — and the cumulative LLR is an exact-integer
    // window over that bounded frame. First boundary crossing and its
    // direction come from one min-filter + self-join on the tiny frame;
    // the final LLR needs no window at all (totals x the constants).
    "q_sprt" -> { (s, dir) =>
      val LlrSucc = 200671L  // round(ln(0.22/0.18) * 1e6)
      val LlrFail = -50010L  // round(ln(0.78/0.82) * 1e6)
      val Bound = 2944439L   // round(ln((1-0.05)/0.05) * 1e6) = ln 19
      val cells = Tables.events(s, dir)
        .select(pmod(col("user_id"), lit(2L)).as("variant"),
          expr("event_id DIV 256").as("bucket"),
          (col("event_type") === "purchase").cast("long").as("succ"))
        .groupBy("variant", "bucket")
        .agg(count(lit(1)).as("n"), sum("succ").as("n_succ"))
        .withColumn("llr_delta",
          col("n_succ") * LlrSucc + (col("n") - col("n_succ")) * LlrFail)
      val w = Window.partitionBy("variant").orderBy("bucket")
      val cum = cells.withColumn("llr_cum", sum("llr_delta").over(w))
        .withColumn("ct",
          when(col("llr_cum") >= Bound, 1L)
            .when(col("llr_cum") <= -Bound, -1L).otherwise(0L))
      val crossDir = cum.filter(col("ct") =!= 0)
        .groupBy("variant").agg(min("bucket").as("first_cross_bucket"),
          expr("min_by(ct, bucket)").as("cross_dir"))
      cum.groupBy("variant")
        .agg(sum("n").as("n_obs"), sum("n_succ").as("n_succ"),
          sum("llr_delta").as("llr_micronat"))
        .join(crossDir, Seq("variant"), "left_outer")
        .select(col("variant"), col("n_obs"), col("n_succ"), col("llr_micronat"),
          coalesce(col("first_cross_bucket"), lit(-1L)).as("first_cross_bucket"),
          when(col("cross_dir") === 1, "accept_h1")
            .when(col("cross_dir") === -1, "accept_h0")
            .otherwise("continue").as("decision"))
        .orderBy("variant")
    },

    // NS: sample-ratio-mismatch check — the guardrail every experiment
    // platform runs BEFORE reading any metric (a biased assignment
    // invalidates the whole test): per segment, distinct USERS (the
    // randomization unit, not events) per md5-assigned variant, and the
    // 2-cell chi² against the expected 50/50 — which collapses to
    // (n0−n1)²/(n0+n1), an EXACT integer cross-multiplication in ppm
    // (no IEEE anywhere); alarm at the 3.841 df=1 95% critical value.
    // One (segment, user) dedup aggregate + a segment-bounded fold.
    "q_srm_check" -> { (s, dir) =>
      val users = Tables.events(s, dir)
        .select(col("event_type").as("segment"), col("user_id")).distinct()
        .unionByName(Tables.events(s, dir)
          .select(lit("__ALL__").as("segment"), col("user_id")).distinct())
        .withColumn("variant", pmod(Hash.prefix(concat(lit("srm:"), col("user_id"))), lit(2L)))
      users.groupBy("segment")
        .agg(sum(when(col("variant") === 0, 1L).otherwise(0L)).as("n0"),
          sum(when(col("variant") === 1, 1L).otherwise(0L)).as("n1"))
        .select(col("segment"), col("n0"), col("n1"),
          expr("(n0 - n1) * (n0 - n1) * 1000000 DIV (n0 + n1)").as("chi2_ppm"))
        .withColumn("srm_alarm", (col("chi2_ppm") > 3841459L).cast("long"))
        .orderBy("segment")
    },

    // NS: Bayesian A/B readout — P(B beats A) from Beta(1+s, 1+f)
    // posteriors under the normal approximation, the "probability to be
    // best" number product teams actually read (vs q_ab_ttest's
    // frequentist t). Φ is evaluated through the Abramowitz–Stegun
    // 7.1.26 erf polynomial spelled as ONE shared SQL string (identical
    // literal coefficients, Horner order, e0-suffixed doubles) so both
    // engines walk the same IEEE tree — no engine-native erf exists in
    // either. The corpus reduces to four exact integers (per-variant
    // users and converters) in one combinable aggregate; everything
    // after is a 1-row fold. Total by construction: zero-user arms fall
    // back to the prior (μ=1/2, σ²>0), so no divide-by-zero branch.
    "q_ab_bayes" -> { (s, dir) =>
      val users = Tables.events(s, dir)
        .groupBy("user_id")
        .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("conv"))
        .withColumn("v", pmod(Hash.prefix(concat(lit("ab:"), col("user_id").cast("string"))), lit(2L)))
      users.agg(
          sum(when(col("v") === 0, 1L).otherwise(0L)).as("n_a"),
          sum(when(col("v") === 0, col("conv")).otherwise(0L)).as("s_a"),
          sum(when(col("v") === 1, 1L).otherwise(0L)).as("n_b"),
          sum(when(col("v") === 1, col("conv")).otherwise(0L)).as("s_b"))
        .withColumn("mu_a", expr(AbMuSql("a"))).withColumn("mu_b", expr(AbMuSql("b")))
        .withColumn("z", expr(AbZSql))
        .withColumn("x", expr(AbXSql)).withColumn("t", expr(AbTSql))
        .withColumn("ef", expr(AbEfSql))
        .select(col("n_a"), col("s_a"), col("n_b"), col("s_b"),
          expr(AbPSql).as("p_b_beats_a_ppm"))
        .withColumn("b_wins", (col("p_b_beats_a_ppm") > 950000L).cast("long"))
    },

    // NS: inverse-propensity-weighted ATE — the observational-causal
    // estimator beside CUPED (variance reduction), diff-in-diff (parallel
    // trends) and the off-policy IPS replay: stratify units on a
    // covariate bucket, ESTIMATE the propensity e_b = n1_b/n_b inside
    // each stratum, and reweight outcomes by 1/e_b (treated) and
    // 1/(1−e_b) (control). The algebra collapses per stratum —
    // Σ_{i∈b,t=1} y_i/e_b = Y1_b·n_b/n1_b — so the whole estimator is a
    // 5-row bucket aggregate over exact integer sums; each bucket's term
    // forms in DOUBLE floored to milli (exact cross-multiplication would
    // overflow past n~3e9) and the final combination is pure integer.
    // Totality: a stratum missing a treatment arm is SKIPPED and counted
    // (n_buckets_skipped) rather than dividing by zero. The unadjusted
    // naive difference rides beside as the confounding self-eval.
    "q_ipw_ate" -> { (s, dir) =>
      val y = Tables.orders(s, dir).groupBy("o_custkey").agg(count(lit(1)).as("n_ord"))
      val units = Tables.customer(s, dir)
        .select(col("c_custkey"), pmod(col("c_nationkey").cast("long"), lit(5L)).as("b"))
        .join(y, col("c_custkey") === col("o_custkey"), "left_outer")
        .select(col("c_custkey"), col("b"),
          (coalesce(col("n_ord"), lit(0L)) * 1000L).as("y_milli"),
          pmod(Hash.prefix(concat(lit("ipw:"), col("c_custkey").cast("string"))), lit(2L)).as("t"))
      val byB = units.groupBy("b").agg(
        count(lit(1)).as("n_b"),
        sum("t").as("n1_b"),
        sum(col("t") * col("y_milli")).as("y1_b"),
        sum((lit(1L) - col("t")) * col("y_milli")).as("y0_b"))
      val terms = byB.withColumn("n0_b", col("n_b") - col("n1_b"))
        .withColumn("skip", (col("n1_b") === 0 || col("n0_b") === 0).cast("long"))
        .withColumn("t1", when(col("skip") === 1, lit(0L)).otherwise(expr(
          "CAST(floor(CAST(y1_b AS DOUBLE) * CAST(n_b AS DOUBLE) / CAST(n1_b AS DOUBLE)) AS BIGINT)")))
        .withColumn("t0", when(col("skip") === 1, lit(0L)).otherwise(expr(
          "CAST(floor(CAST(y0_b AS DOUBLE) * CAST(n_b AS DOUBLE) / CAST(n0_b AS DOUBLE)) AS BIGINT)")))
      terms.agg(
          sum("n_b").as("n_units"), sum("n1_b").as("n_treated"),
          sum("y1_b").as("y1_tot"), sum("y0_b").as("y0_tot"),
          sum("t1").as("s1"), sum("t0").as("s0"),
          count(lit(1)).as("n_buckets"), sum("skip").as("n_buckets_skipped"))
        .select(col("n_units"), col("n_treated"), col("n_buckets"),
          col("n_buckets_skipped"),
          expr("CASE WHEN n_treated = 0 OR n_treated = n_units THEN CAST(0 AS BIGINT) " +
            "ELSE CAST(floor(CAST(y1_tot AS DOUBLE) / CAST(n_treated AS DOUBLE)) - " +
            "floor(CAST(y0_tot AS DOUBLE) / CAST(n_units - n_treated AS DOUBLE)) AS BIGINT) END")
            .as("naive_diff_milli"),
          expr("(s1 - s0) DIV n_units").as("ipw_ate_milli"))
    },

    // NS: UCB1 bandit allocation plan — the exploration/exploitation
    // step a feedback-loop pipeline runs between off-policy replay
    // (q_policy_replay grades a FIXED policy) and the next traffic
    // split: per arm, mean reward + the √(2·ln N / n) exploration bonus,
    // next batch to the argmax. Rewards reduce to exact integers in one
    // combinable aggregate; the bonus is a fixed IEEE tree floored to
    // milli; the argmax is a bounded rank over the 5-row arm frame with
    // a total (score, arm) tie-break. Totality: an unpulled arm (n = 0)
    // gets an infinite-bonus stand-in via a pinned +1e9 milli score.
    "q_ucb_plan" -> { (s, dir) =>
      val arms = Tables.events(s, dir)
        .groupBy(col("event_type").as("arm"))
        .agg(count(lit(1)).as("n_pulls"),
          sum((col("value") > 2.5).cast("long")).as("n_rewards"))
      val tot = arms.agg(sum("n_pulls").as("n_total"))
      val scored = arms.crossJoin(broadcast(tot))
        .withColumn("mean_milli",
          expr("n_rewards * 1000 DIV n_pulls"))
        .withColumn("ucb_milli", expr(
          "CASE WHEN n_pulls = 0 THEN CAST(1000000000 AS BIGINT) " +
            "ELSE mean_milli + CAST(floor(sqrt(2.0e0 * ln(CAST(n_total AS DOUBLE)) " +
            "/ CAST(n_pulls AS DOUBLE)) * 1000.0e0) AS BIGINT) END"))
      scored
        .withColumn("rk", row_number().over(
          Window.orderBy(col("ucb_milli").desc, col("arm"))).cast("long"))
        .select(col("arm"), col("n_pulls"), col("n_rewards"),
          col("mean_milli"), col("ucb_milli"),
          (col("rk") === 1).cast("long").as("chosen"))
        .orderBy("arm")
    },

    // NS: covariate-balance diagnostics — the table every q_ipw_ate
    // readout must publish beside the estimate: standardized mean
    // difference (SMD) per covariate between the hash-assigned arms,
    // |SMD| < 0.1 = balanced (the standard epidemiology rule). Each
    // covariate reduces to exact per-arm (n, Σx, Σx²) in ONE combinable
    // aggregate over the unit frame; SMD is a fixed IEEE tree over those
    // six integers floored to milli. Zero-variance covariates pin to 0.
    "q_covariate_balance" -> { (s, dir) =>
      val y = Tables.orders(s, dir).groupBy("o_custkey").agg(count(lit(1)).as("n_ord"))
      val units = Tables.customer(s, dir)
        .join(y, col("c_custkey") === col("o_custkey"), "left_outer")
        .select(
          pmod(Hash.prefix(concat(lit("ipw:"), col("c_custkey").cast("string"))), lit(2L)).as("t"),
          expr("CAST(round(c_acctbal * 100) AS BIGINT)").as("acctbal_cents"),
          col("c_nationkey").cast("long").as("nationkey"),
          coalesce(col("n_ord"), lit(0L)).as("n_orders"))
      val covs = Seq("acctbal_cents", "nationkey", "n_orders")
      covs.map { c =>
        units.agg(
            lit(c).as("covariate"),
            sum(when(col("t") === 0, 1L).otherwise(0L)).as("n0"),
            sum(when(col("t") === 1, 1L).otherwise(0L)).as("n1"),
            sum(when(col("t") === 0, col(c)).otherwise(0L)).as("s0"),
            sum(when(col("t") === 1, col(c)).otherwise(0L)).as("s1"),
            // Σx² in exact DECIMAL(38,0): BIGINT wraps silently on Spark
            // past ~9e6 customers at acctbal_cents ~1e12/row (DuckDB
            // errors — a cross-engine split below the design scale);
            // decimal keeps the sums exact to 1e38 so the IEEE SMD tree
            // stays engine-identical
            sum(when(col("t") === 0,
              col(c).cast("decimal(19,0)") * col(c).cast("decimal(19,0)"))
              .otherwise(lit(0).cast("decimal(38,0)"))).as("q0"),
            sum(when(col("t") === 1,
              col(c).cast("decimal(19,0)") * col(c).cast("decimal(19,0)"))
              .otherwise(lit(0).cast("decimal(38,0)"))).as("q1"))
          .select(col("covariate"), col("n0"), col("n1"), expr(SmdSql).as("smd_milli"))
          .withColumn("balanced", (abs(col("smd_milli")) < 100L).cast("long"))
      }.reduce(_ unionByName _).orderBy("covariate")
    },

    // NS: off-policy replay evaluation (IPS) — "what would the new
    // policy have earned on the logged traffic?", the counterfactual
    // read every recommender/bandit team runs before an online test.
    // The logging policy is uniform over the 5 event types (fixture
    // construction), so the importance weight is the CONSTANT 5 and the
    // IPS estimator Σ r·1[π(x)=a]·5 / n is an exact integer
    // cross-multiplication in milli-units. The candidate policy is a
    // deterministic hash model (argmax over Hash.prefix(context, action) — the
    // q_rendezvous_route packed-key argmax); context = user_id % 16.
    // One narrow pass + one aggregate; the logged-policy baseline folds
    // in the same aggregate.
    "q_policy_replay" -> { (s, dir) =>
      val types = Seq("click", "error", "purchase", "signup", "view")
      val picks = array(types.zipWithIndex.map { case (t, i) =>
        struct(Hash.prefix(concat(lit("pol:"), col("ctx").cast("string"), lit(s":$t"))).as("h"), lit(i).as("i"))
      }: _*)
      val ev = Tables.events(s, dir)
        .select(pmod(col("user_id"), lit(16L)).as("ctx"),
          col("event_type").as("action"),
          expr("CAST(round(value * 1000) AS BIGINT)").as("r_milli"))
        .withColumn("picks", picks)
        .withColumn("pi_idx",
          expr("CAST(aggregate(picks, struct(CAST(-1 AS BIGINT) AS h, -1 AS i), " +
            "(acc, e) -> CASE WHEN e.h > acc.h THEN e ELSE acc END).i AS BIGINT)"))
        .withColumn("pi_action",
          expr(s"element_at(array(${types.map("'" + _ + "'").mkString(", ")}), CAST(pi_idx + 1 AS INT))"))
      ev.agg(count(lit(1)).as("n"),
          sum("r_milli").as("logged_value_sum"),
          sum(when(col("action") === col("pi_action"), col("r_milli")).otherwise(0L))
            .as("matched_sum"),
          sum((col("action") === col("pi_action")).cast("long")).as("n_matched"))
        .select(col("n"),
          expr("logged_value_sum DIV n").as("logged_value_milli"),
          expr("matched_sum * 5 DIV n").as("ips_value_milli"),
          expr("n_matched * 1000000 DIV n").as("match_ppm"))
    },

    // NS: Theil–Sen robust slope of the daily revenue trend — the
    // outlier-proof alternative to q_linear_fit's OLS (breakdown point
    // 29% vs 0%): the stream collapses to the CALENDAR-bounded daily
    // frame first, pairwise slopes form on that ≤days² frame (bounded by
    // the time span, never by rows — the market-basket blowup argument),
    // each slope an exact integer in milli-units/day via the plain signed
    // truncating division (DuckDB's BIGINT // truncates toward zero like
    // Spark's DIV — measured; flooring applies to DOUBLE operands only);
    // the median slope reads off the k/2 grid. OLS beside as self-eval.
    "q_theil_sen" -> { (s, dir) =>
      val daily = Tables.events(s, dir)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(expr("CAST(sum(CAST(round(value * 1000) AS BIGINT)) AS BIGINT)").as("y"))
        .withColumn("d", datediff(col("day"), lit("1970-01-01")).cast("long"))
        .localCheckpoint(eager = false) // bounded frame; feeds both sides of the pair join
      val slopes = daily.select(col("d").as("di"), col("y").as("yi"))
        .join(daily.select(col("d").as("dj"), col("y").as("yj")), col("di") < col("dj"))
        .select(expr("(yj - yi) * 1000 DIV (dj - di)").as("slope_milli"))
      // totality: a single-day calendar empties the pair join — pin the
      // empty-frame median to 0 so NULL never escapes (q_logrank discipline)
      val sen = slopes.agg(count(lit(1)).as("n_pairs"),
        coalesce(expr("CAST(floor(percentile(slope_milli, 0.5)) AS BIGINT)"), lit(0L))
          .as("sen_slope_milli"))
      // OLS slope from EXACT BIGINT sufficient stats, not regr_slope —
      // the engines' streaming covariance accumulators disagreed by one
      // ulp at the stress scale; a fixed IEEE tree over exact integers
      // cannot (Σd·y ≤ 1e17 over the ≤60-day calendar frame)
      val ols = daily
        .agg(count(lit(1)).as("n"), sum("d").as("sd"), sum("y").as("sy"),
          sum(col("d") * col("d")).as("sdd"), sum(col("d") * col("y")).as("sdy"))
        // totality: one distinct day zeroes the OLS denominator — pin the
        // undefined slope to 0.0 on both engines (Spark nulls a zero
        // divide; DuckDB can yield inf — a silent cross-engine split)
        .withColumn("den_d",
          col("n").cast("double") * col("sdd").cast("double") -
            col("sd").cast("double") * col("sd").cast("double"))
        .select(col("n").as("n_days"),
          when(col("den_d") === 0.0, lit(0.0))
            .otherwise(round((col("n").cast("double") * col("sdy").cast("double") -
              col("sd").cast("double") * col("sy").cast("double")) / col("den_d"), 6))
            .as("ols_slope"))
      ols.crossJoin(broadcast(sen))
        .select(col("n_days"), col("n_pairs"), col("sen_slope_milli"), col("ols_slope"))
    }
  )

  def oracleSql: Map[String, String] = Map(
    "q_calibration_bins" ->
      s"""WITH o AS (
        |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) // 5000000 AS bin,
        |         CAST(o_orderstatus = 'F' AS BIGINT) AS pos,
        |         ${Hash.prefixSql("'cal:' || CAST(o_orderkey AS VARCHAR)")} % 100 < 50 AS is_train
        |  FROM orders),
        |tr AS (SELECT bin, count(*) AS n_train,
        |              CAST(sum(pos) * 1000000 // count(*) AS BIGINT) AS pred_ppm
        |       FROM o WHERE is_train GROUP BY 1),
        |ho AS (SELECT bin, count(*) AS n_hold,
        |              CAST(sum(pos) * 1000000 // count(*) AS BIGINT) AS obs_ppm
        |       FROM o WHERE NOT is_train GROUP BY 1),
        |j AS (SELECT tr.bin, n_train, pred_ppm, n_hold, obs_ppm,
        |             abs(obs_ppm - pred_ppm) AS gap_ppm
        |      FROM tr JOIN ho ON tr.bin = ho.bin),
        |e AS (SELECT CAST(sum(n_hold * gap_ppm) // sum(n_hold) AS BIGINT) AS ece_ppm FROM j)
        |SELECT bin, n_train, pred_ppm, n_hold, obs_ppm, gap_ppm, ece_ppm
        |FROM j CROSS JOIN e ORDER BY bin""".stripMargin,
    "q_median_mad" ->
      """WITH m AS (SELECT l_returnflag, median(l_quantity) AS med FROM lineitem GROUP BY 1)
        |SELECT l.l_returnflag, count(*) AS n, round(max(m.med), 6) AS med,
        |       round(median(abs(l.l_quantity - m.med)), 6) AS mad
        |FROM lineitem l JOIN m USING (l_returnflag)
        |GROUP BY 1 ORDER BY l_returnflag""".stripMargin,
    "q_chi_square" ->
      """WITH ct AS (SELECT c_mktsegment AS seg, o_orderpriority AS pri, count(*)::DOUBLE AS obs
        |            FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1, 2),
        |tot AS (SELECT seg, pri, obs,
        |               sum(obs) OVER (PARTITION BY seg) AS rt,
        |               sum(obs) OVER (PARTITION BY pri) AS ctot,
        |               sum(obs) OVER () AS n FROM ct)
        |SELECT CAST(max(n) AS BIGINT) AS n,
        |       round(sum((obs - rt*ctot/n)*(obs - rt*ctot/n)/(rt*ctot/n)), 6) AS chi2,
        |       (count(DISTINCT seg)-1)*(count(DISTINCT pri)-1) AS dof
        |FROM tot""".stripMargin,
    "q_ks_test" ->
      s"""WITH b AS (SELECT CAST(floor(o_totalprice / $KsBinWidth) AS BIGINT) AS bin,
         |                  CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS f,
         |                  CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END AS o
         |           FROM orders WHERE o_orderstatus IN ('F', 'O')),
         |pb AS (SELECT bin, sum(f) AS nf, sum(o) AS no_ FROM b GROUP BY 1),
         |c AS (SELECT bin,
         |             sum(nf) OVER (ORDER BY bin) AS cf,
         |             sum(no_) OVER (ORDER BY bin) AS co,
         |             (SELECT sum(nf) FROM pb) AS tf,
         |             (SELECT sum(no_) FROM pb) AS tn FROM pb)
         |SELECT coalesce(CAST(max(tf) AS BIGINT), 0) AS n_f,
         |       coalesce(CAST(max(tn) AS BIGINT), 0) AS n_o,
         |       coalesce(round(max(abs(cf::DOUBLE/tf - co::DOUBLE/tn)), 6), 0.0) AS ks
         |FROM c""".stripMargin,
    "q_auc" ->
      """WITH s AS (SELECT o_totalprice AS score,
        |                  CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS pos FROM orders),
        |g AS (SELECT score, CAST(sum(pos) AS BIGINT) AS np, CAST(sum(1 - pos) AS BIGINT) AS nn
        |      FROM s GROUP BY 1),
        |c AS (SELECT np, nn,
        |             coalesce(sum(nn) OVER (ORDER BY score
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cnb
        |      FROM g)
        |SELECT coalesce(CAST(sum(np) AS BIGINT), 0) AS n_pos,
        |       coalesce(CAST(sum(nn) AS BIGINT), 0) AS n_neg,
        |       CASE WHEN coalesce(sum(np), 0) = 0 OR coalesce(sum(nn), 0) = 0 THEN 0.0
        |            ELSE round(CAST(sum(np * (2*cnb + nn)) AS DOUBLE)
        |                       / (2.0 * sum(np) * sum(nn)), 6) END AS auc
        |FROM c""".stripMargin,
    "q_skyline" ->
      """WITH g AS (SELECT l_extendedprice AS price, max(l_quantity) AS qty
        |           FROM lineitem GROUP BY 1),
        |w AS (SELECT price, qty,
        |             max(qty) OVER (ORDER BY price
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prevmax
        |      FROM g)
        |SELECT price, qty FROM w WHERE prevmax IS NULL OR qty > prevmax
        |ORDER BY price""".stripMargin,
    // the oracle expands each row weight-many times: same multiset, plain
    // quantiles — proving the frequency parameter's semantics
    "q_weighted_quantile" ->
      """WITH li AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
        |                   CAST(l_quantity AS BIGINT) AS w
        |            FROM lineitem),
        |ex AS (SELECT cents FROM li, UNNEST(generate_series(1, w)) AS u(i))
        |SELECT (SELECT CAST(sum(w) AS BIGINT) FROM li) AS total_weight,
        |       quantile_cont(cents, 0.25) AS w_p25,
        |       quantile_cont(cents, 0.5) AS w_p50,
        |       quantile_cont(cents, 0.75) AS w_p75,
        |       (SELECT quantile_cont(cents, 0.5) FROM li) AS unweighted_p50
        |FROM ex""".stripMargin,
    "q_conformal_interval" ->
      s"""WITH e AS (SELECT event_type,
        |                  CAST(round(value * 100) AS BIGINT) AS vc,
        |                  CASE WHEN ${Hash.prefixSql("'conf:' || CAST(event_id AS VARCHAR)")}
        |                            % 100 < 50 THEN 1 ELSE 0 END AS is_cal
        |           FROM events),
        |center AS (SELECT event_type, CAST(sum(vc) // count(*) AS BIGINT) AS center,
        |                  count(*) AS n_cal
        |           FROM e WHERE is_cal = 1 GROUP BY 1),
        |r AS (SELECT e.event_type, e.is_cal, abs(e.vc - c.center) AS r, c.n_cal
        |      FROM e JOIN center c USING (event_type)),
        |q90 AS (SELECT event_type, CAST(floor(quantile_cont(r, 0.9)) AS BIGINT) AS q90_cents
        |        FROM r WHERE is_cal = 1 GROUP BY 1)
        |SELECT r.event_type, max(n_cal) AS n_cal, count(*) AS n_test,
        |       max(q90_cents) AS q90_cents,
        |       CAST(sum(CASE WHEN r <= q90_cents THEN 1 ELSE 0 END) * 1000000
        |            // count(*) AS BIGINT) AS coverage_ppm
        |FROM r JOIN q90 USING (event_type)
        |WHERE is_cal = 0
        |GROUP BY 1 ORDER BY r.event_type""".stripMargin,
    "q_benford" ->
      """WITH bins AS (SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit,
        |                     count(*) AS n
        |              FROM orders
        |              WHERE CAST(round(o_totalprice * 100) AS BIGINT) > 0
        |              GROUP BY 1),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt FROM bins),
        |t AS (SELECT digit, n, nt,
        |             CAST(n AS DOUBLE) / nt AS obs,
        |             log10(1.0 + 1.0 / CAST(digit AS DOUBLE)) AS exp_
        |      FROM bins CROSS JOIN tot),
        |m AS (SELECT round(avg(abs(obs - exp_)), 6) AS mad FROM t)
        |SELECT digit, n,
        |       CAST(n * 1000000 // nt AS BIGINT) AS obs_ppm,
        |       CAST(round(exp_ * 1e6) AS BIGINT) AS exp_ppm,
        |       mad
        |FROM t CROSS JOIN m
        |ORDER BY digit""".stripMargin,
    "q_woe_iv" ->
      """WITH b AS (SELECT least(CAST(round(o_totalprice * 100) AS BIGINT) // 2000000, 15) AS bin,
        |                  CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS bad
        |           FROM orders),
        |bins AS (SELECT bin, CAST(sum(1 - bad) AS BIGINT) AS n_good,
        |                CAST(sum(bad) AS BIGINT) AS n_bad
        |         FROM b GROUP BY 1),
        |tot AS (SELECT CAST(sum(n_good) AS BIGINT) AS gt,
        |               CAST(sum(n_bad) AS BIGINT) AS bt FROM bins),
        |t AS (SELECT bin, n_good, n_bad,
        |             (n_good + 0.5) / (CAST(gt AS DOUBLE) + 0.5) AS gs,
        |             (n_bad + 0.5) / (CAST(bt AS DOUBLE) + 0.5) AS bs
        |      FROM bins CROSS JOIN tot),
        |iv AS (SELECT round(sum((gs - bs) * ln(gs / bs)), 6) AS iv FROM t)
        |SELECT bin, n_good, n_bad,
        |       round(ln(gs / bs), 6) AS woe,
        |       round((gs - bs) * ln(gs / bs), 6) AS iv_term,
        |       iv
        |FROM t CROSS JOIN iv
        |ORDER BY bin""".stripMargin,
    "q_gains_table" ->
      """WITH o AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |                  CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS resp
        |           FROM orders),
        |cuts AS (SELECT CAST(floor(quantile_cont(cents, 0.1)) AS BIGINT) AS c1,
        |                CAST(floor(quantile_cont(cents, 0.2)) AS BIGINT) AS c2,
        |                CAST(floor(quantile_cont(cents, 0.3)) AS BIGINT) AS c3,
        |                CAST(floor(quantile_cont(cents, 0.4)) AS BIGINT) AS c4,
        |                CAST(floor(quantile_cont(cents, 0.5)) AS BIGINT) AS c5,
        |                CAST(floor(quantile_cont(cents, 0.6)) AS BIGINT) AS c6,
        |                CAST(floor(quantile_cont(cents, 0.7)) AS BIGINT) AS c7,
        |                CAST(floor(quantile_cont(cents, 0.8)) AS BIGINT) AS c8,
        |                CAST(floor(quantile_cont(cents, 0.9)) AS BIGINT) AS c9
        |         FROM o),
        |dec AS (SELECT CAST(cents > c1 AS INT) + CAST(cents > c2 AS INT) +
        |               CAST(cents > c3 AS INT) + CAST(cents > c4 AS INT) +
        |               CAST(cents > c5 AS INT) + CAST(cents > c6 AS INT) +
        |               CAST(cents > c7 AS INT) + CAST(cents > c8 AS INT) +
        |               CAST(cents > c9 AS INT) AS decile, resp
        |        FROM o CROSS JOIN cuts),
        |g AS (SELECT decile, count(*) AS n, CAST(sum(resp) AS BIGINT) AS n_resp
        |      FROM dec GROUP BY 1),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt, CAST(sum(n_resp) AS BIGINT) AS rt FROM g),
        |c AS (SELECT decile, n, n_resp, nt, rt,
        |             CAST(sum(n_resp) OVER (ORDER BY decile DESC) AS BIGINT) AS cum_resp,
        |             CAST(sum(n) OVER (ORDER BY decile DESC) AS BIGINT) AS cum_n
        |      FROM g CROSS JOIN tot)
        |SELECT CAST(decile AS BIGINT) AS decile, n, n_resp,
        |       CAST(n_resp * 1000000 // n AS BIGINT) AS resp_ppm,
        |       CAST(cum_resp * 1000000 // rt AS BIGINT) AS cum_gain_ppm,
        |       CAST(cum_resp * nt * 100 // (cum_n * rt) AS BIGINT) AS cum_lift_x100
        |FROM c
        |ORDER BY decile""".stripMargin,
    "q_ab_ttest" ->
      """WITH g AS (SELECT event_type, count(*) AS n, sum(value) AS s1,
        |                  sum(value * value) AS s2
        |           FROM events WHERE event_type IN ('purchase', 'click')
        |           GROUP BY 1),
        |a AS (SELECT n AS n_a, s1 AS s1_a, s2 AS s2_a FROM g WHERE event_type = 'purchase'),
        |b AS (SELECT n AS n_b, s1 AS s1_b, s2 AS s2_b FROM g WHERE event_type = 'click'),
        |c AS (SELECT n_a, n_b,
        |             s1_a / n_a AS ma, s1_b / n_b AS mb,
        |             ((s2_a - s1_a * s1_a / n_a) / (n_a - 1)) / n_a AS sea,
        |             ((s2_b - s1_b * s1_b / n_b) / (n_b - 1)) / n_b AS seb
        |      FROM a CROSS JOIN b)
        |SELECT n_a, n_b,
        |       round(ma, 6) AS mean_a, round(mb, 6) AS mean_b,
        |       round((ma - mb) / sqrt(sea + seb), 4) AS t_stat,
        |       round((sea + seb) * (sea + seb) /
        |             (sea * sea / (n_a - 1) + seb * seb / (n_b - 1)), 2) AS dof
        |FROM c""".stripMargin,
    "q_market_basket" ->
      """WITH items AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |no AS (SELECT count(DISTINCT ok) AS n_orders FROM items),
        |freq AS (SELECT pk, count(*) AS n_single FROM items GROUP BY 1),
        |pairs AS (SELECT a.pk AS pa, b.pk AS pb, count(*) AS n_ab
        |          FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
        |          GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT pa, pb, n_ab, fa.n_single AS n_a, fb.n_single AS n_b,
        |       CAST(n_ab * 1000000 // n_orders AS BIGINT) AS support_ppm,
        |       CAST(n_ab * n_orders * 100 // (fa.n_single * fb.n_single) AS BIGINT) AS lift_x100
        |FROM pairs
        |JOIN freq fa ON fa.pk = pa
        |JOIN freq fb ON fb.pk = pb
        |CROSS JOIN no
        |ORDER BY n_ab DESC, pa, pb
        |LIMIT 20""".stripMargin,
    "q_poisson_bootstrap" ->
      s"""WITH rows_ AS (
        |  SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS cents, b
        |  FROM orders CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS b) bs),
        |wtd AS (
        |  SELECT b, cents,
        |         CASE
        |           WHEN u < 1580030168 THEN 0 WHEN u < 3160060337 THEN 1
        |           WHEN u < 3950075421 THEN 2 WHEN u < 4213413783 THEN 3
        |           WHEN u < 4279248373 THEN 4 WHEN u < 4292415291 THEN 5
        |           WHEN u < 4294609777 THEN 6 ELSE 7 END AS w
        |  FROM (SELECT b, cents,
        |               ${Hash.prefixSql("""'boot:' || CAST(b AS VARCHAR) || ':' ||
        |                 CAST(o_orderkey AS VARCHAR)""")} AS u
        |        FROM rows_)),
        |reps AS (
        |  SELECT b, CAST(sum(cents * w) AS DOUBLE) / CAST(sum(w) AS BIGINT) AS mb
        |  FROM wtd GROUP BY 1),
        |point AS (SELECT count(*) AS n,
        |                 CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sc
        |          FROM orders)
        |SELECT max(n) AS n_rows,
        |       round(max(CAST(sc AS DOUBLE) / n), 6) AS point_mean_cents,
        |       count(*) AS n_replicates,
        |       round(sqrt((sum(mb * mb) - sum(mb) * sum(mb) / count(*))
        |             / (count(*) - 1)), 4) AS boot_se_cents
        |FROM reps CROSS JOIN point""".stripMargin,
    "q_tukey_fences" ->
      """WITH li AS (SELECT l_returnflag,
        |                   CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
        |            FROM lineitem),
        |f AS (SELECT l_returnflag,
        |             quantile_cont(cents, 0.25) AS q1, quantile_cont(cents, 0.75) AS q3
        |      FROM li GROUP BY 1),
        |j AS (SELECT li.l_returnflag, cents, q1, q3,
        |             q1 - (q3 - q1) * 1.5 AS lo, q3 + (q3 - q1) * 1.5 AS hi
        |      FROM li JOIN f USING (l_returnflag))
        |SELECT l_returnflag, count(*) AS n,
        |       max(q1) AS q1_cents, max(q3) AS q3_cents,
        |       CAST(sum(CASE WHEN cents < lo THEN 1 ELSE 0 END) AS BIGINT) AS n_below,
        |       CAST(sum(CASE WHEN cents > hi THEN 1 ELSE 0 END) AS BIGINT) AS n_above,
        |       CAST((sum(CASE WHEN cents < lo THEN 1 ELSE 0 END)
        |           + sum(CASE WHEN cents > hi THEN 1 ELSE 0 END)) * 1000000 // count(*) AS BIGINT) AS out_ppm
        |FROM j GROUP BY 1 ORDER BY l_returnflag""".stripMargin,
    "q_gini_concentration" ->
      """WITH src AS (SELECT source, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS x
        |             FROM documents GROUP BY 1),
        |r AS (SELECT source, x,
        |             CAST(row_number() OVER (ORDER BY x, source) AS BIGINT) AS i
        |      FROM src),
        |a AS (SELECT count(*) AS n_sources, CAST(sum(x) AS BIGINT) AS total_tokens,
        |             max(x) AS max_tokens, CAST(sum(i * x) AS BIGINT) AS ix
        |      FROM r)
        |SELECT n_sources, total_tokens, max_tokens,
        |       CAST(max_tokens * 1000000 // total_tokens AS BIGINT) AS top_share_ppm,
        |       round((2.0 * ix - (n_sources + 1) * CAST(total_tokens AS DOUBLE))
        |             / (CAST(n_sources AS DOUBLE) * total_tokens), 9) AS gini
        |FROM a""".stripMargin,
    // identical exact-integer sufficient statistics + fixed IEEE tree
    "q_cuped" ->
      s"""WITH u AS (
        |  SELECT user_id,
        |         CAST(sum(CASE WHEN day(ts) <= 15 THEN 1 ELSE 0 END) AS BIGINT) AS pre,
        |         CAST(sum(CASE WHEN day(ts) > 15 THEN 1 ELSE 0 END) AS BIGINT) AS post,
        |         ${Hash.prefixSql("'ab:' || CAST(user_id AS VARCHAR)")} % 2 AS variant
        |  FROM events GROUP BY user_id),
        |g AS (SELECT count(*) AS n,
        |             CAST(sum(pre) AS BIGINT) AS sp, CAST(sum(post) AS BIGINT) AS so,
        |             CAST(sum(pre * pre) AS BIGINT) AS spp,
        |             CAST(sum(post * post) AS BIGINT) AS soo,
        |             CAST(sum(pre * post) AS BIGINT) AS spo
        |      FROM u),
        |v AS (SELECT variant, count(*) AS n_users,
        |             CAST(sum(pre) AS BIGINT) AS spv, CAST(sum(post) AS BIGINT) AS sov
        |      FROM u GROUP BY variant)
        |SELECT variant, n_users,
        |       round(CAST(sov AS DOUBLE) / CAST(n_users AS DOUBLE), 6) AS mean_post,
        |       round(CAST(sov AS DOUBLE) / CAST(n_users AS DOUBLE)
        |             - (CAST(n * spo - sp * so AS DOUBLE) / CAST(n * spp - sp * sp AS DOUBLE))
        |               * (CAST(spv AS DOUBLE) / CAST(n_users AS DOUBLE)
        |                  - CAST(sp AS DOUBLE) / CAST(n AS DOUBLE)), 6) AS mean_adj,
        |       round(CAST(n * spo - sp * so AS DOUBLE) / CAST(n * spp - sp * sp AS DOUBLE), 6) AS theta,
        |       round(CAST(n * spo - sp * so AS DOUBLE) * CAST(n * spo - sp * so AS DOUBLE)
        |             / (CAST(n * spp - sp * sp AS DOUBLE) * CAST(n * soo - so * so AS DOUBLE)), 6) AS rho2
        |FROM v CROSS JOIN g
        |ORDER BY variant""".stripMargin,
    // one 4-cell conditional aggregate; truncating integer cell means
    "q_diff_in_diff" ->
      s"""WITH ev AS (
        |  SELECT ${Hash.prefixSql("'did:' || CAST(user_id AS VARCHAR)")} % 2 AS treated,
        |         CASE WHEN day(ts) > 15 THEN 1 ELSE 0 END AS is_post,
        |         CAST(round(value * 1000) AS BIGINT) AS v_milli
        |  FROM events),
        |a AS (SELECT
        |  CAST(sum(CASE WHEN treated = 1 AND is_post = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_t_pre,
        |  CAST(sum(CASE WHEN treated = 1 AND is_post = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_t_post,
        |  CAST(sum(CASE WHEN treated = 0 AND is_post = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_c_pre,
        |  CAST(sum(CASE WHEN treated = 0 AND is_post = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_c_post,
        |  CAST(sum(CASE WHEN treated = 1 AND is_post = 0 THEN v_milli ELSE 0 END) AS BIGINT) AS s_t_pre,
        |  CAST(sum(CASE WHEN treated = 1 AND is_post = 1 THEN v_milli ELSE 0 END) AS BIGINT) AS s_t_post,
        |  CAST(sum(CASE WHEN treated = 0 AND is_post = 0 THEN v_milli ELSE 0 END) AS BIGINT) AS s_c_pre,
        |  CAST(sum(CASE WHEN treated = 0 AND is_post = 1 THEN v_milli ELSE 0 END) AS BIGINT) AS s_c_post
        |  FROM ev)
        |SELECT n_t_pre, n_t_post, n_c_pre, n_c_post,
        |       s_t_pre // n_t_pre AS m_t_pre,
        |       s_t_post // n_t_post AS m_t_post,
        |       s_c_pre // n_c_pre AS m_c_pre,
        |       s_c_post // n_c_post AS m_c_post,
        |       (s_t_post // n_t_post - s_t_pre // n_t_pre)
        |         - (s_c_post // n_c_post - s_c_pre // n_c_pre) AS did_milli
        |FROM a""".stripMargin,
    // identical hash bucketing; bounded 10-row cumulative window
    "q_uplift_deciles" ->
      s"""WITH u AS (
        |  SELECT user_id,
        |         CAST(sum(CAST(round(value * 1000) AS BIGINT)) AS BIGINT) AS y_milli
        |  FROM events GROUP BY user_id),
        |b AS (SELECT y_milli,
        |             ${Hash.prefixSql("'up:' || CAST(user_id AS VARCHAR)")} % 2 AS treated,
        |             ${Hash.prefixSql("'scr:' || CAST(user_id AS VARCHAR)")} % 1000 // 100 AS decile
        |      FROM u),
        |c AS (SELECT decile,
        |             CAST(sum(CASE WHEN treated = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
        |             CAST(sum(CASE WHEN treated = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_c,
        |             CAST(sum(CASE WHEN treated = 1 THEN y_milli ELSE 0 END) AS BIGINT) AS s_t,
        |             CAST(sum(CASE WHEN treated = 0 THEN y_milli ELSE 0 END) AS BIGINT) AS s_c
        |      FROM b GROUP BY decile),
        |m AS (SELECT decile, n_t, n_c,
        |             s_t // n_t AS m_t_milli, s_c // n_c AS m_c_milli,
        |             s_t // n_t - s_c // n_c AS uplift_milli
        |      FROM c WHERE n_t > 0 AND n_c > 0)
        |SELECT decile, n_t, n_c, m_t_milli, m_c_milli, uplift_milli,
        |       CAST(sum(uplift_milli) OVER (ORDER BY decile DESC
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_uplift_milli
        |FROM m ORDER BY decile""".stripMargin,
    // same integer success rule; identical IEEE Wilson tree
    "q_wilson_rank" ->
      s"""WITH ev AS (
        |  SELECT event_type AS item,
        |         CAST(${Hash.prefixSql("'wil:' || CAST(event_id AS VARCHAR)")} % 1000
        |              * 37 < length(event_type) * 1000 AS BIGINT) AS success
        |  FROM events),
        |g AS (SELECT item, count(*) AS n, CAST(sum(success) AS BIGINT) AS s
        |      FROM ev GROUP BY item),
        |w AS (SELECT item, n, s,
        |             s * 1000000 // n AS rate_ppm,
        |             round((CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
        |                    + (1.96 * 1.96) / (2.0 * CAST(n AS DOUBLE))
        |                    - 1.96 * sqrt((CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
        |                                   * (1.0 - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
        |                                   + (1.96 * 1.96) / (4.0 * CAST(n AS DOUBLE)))
        |                                  / CAST(n AS DOUBLE)))
        |                   / (1.0 + (1.96 * 1.96) / CAST(n AS DOUBLE)), 6) AS wilson_lb
        |      FROM g)
        |SELECT item, n, s, rate_ppm, wilson_lb,
        |       CAST(row_number() OVER (ORDER BY wilson_lb DESC, item) AS INT) AS rk
        |FROM w ORDER BY rk""".stripMargin,
    // same six-number sufficient stats; z constants are shared literals
    "q_mde_power" ->
      """WITH g AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |         sum(value) AS s1, sum(value * value) AS s2
        |  FROM events WHERE event_type IN ('purchase', 'click')
        |  GROUP BY event_type),
        |j AS (
        |  SELECT a.n AS n_a, b.n AS n_b,
        |         sqrt(((a.s2 - a.s1*a.s1/a.n) / (a.n - 1)) / a.n
        |              + ((b.s2 - b.s1*b.s1/b.n) / (b.n - 1)) / b.n) AS se,
        |         a.s1 / a.n AS mean_a
        |  FROM (SELECT * FROM g WHERE event_type = 'purchase') a
        |  CROSS JOIN (SELECT * FROM g WHERE event_type = 'click') b)
        |SELECT v.power_pct, j.n_a, j.n_b,
        |       round((1.959964 + v.z_beta) * j.se, 6) AS mde,
        |       round((1.959964 + v.z_beta) * j.se / j.mean_a * 100, 4) AS mde_rel_pct
        |FROM j CROSS JOIN (VALUES (CAST(80 AS BIGINT), 0.841621),
        |                          (CAST(90 AS BIGINT), 1.281552)) v(power_pct, z_beta)
        |ORDER BY v.power_pct""".stripMargin,
    // same exact-integer sufficient stats; the sign compare is the same
    // fixed IEEE product tree over exact BIGINTs on both engines
    "q_simpson_flip" ->
      """WITH base AS (
        |  SELECT l_returnflag AS segment, CAST(l_quantity AS BIGINT) AS x,
        |         CAST(round(l_extendedprice * 100) AS BIGINT) AS y
        |  FROM lineitem),
        |seg AS (
        |  SELECT segment, CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |         CAST(sum(x * y) AS BIGINT) AS sxy
        |  FROM base GROUP BY segment),
        |pooled AS (
        |  SELECT CAST(sign(CAST(count(*) AS DOUBLE) * CAST(CAST(sum(x*y) AS BIGINT) AS DOUBLE)
        |                   - CAST(CAST(sum(x) AS BIGINT) AS DOUBLE)
        |                     * CAST(CAST(sum(y) AS BIGINT) AS DOUBLE)) AS BIGINT) AS sign_global
        |  FROM base)
        |SELECT segment, n, sxy,
        |       CAST(sign(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |                 - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) AS BIGINT) AS sign_seg,
        |       sign_global,
        |       CAST(CAST(sign(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |                 - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) AS BIGINT)
        |            * sign_global < 0 AS BIGINT) AS simpson_flip
        |FROM seg CROSS JOIN pooled ORDER BY segment""".stripMargin,
    // identical micro-nat constants and bucket grid; bounded cum window
    "q_sprt" ->
      """WITH cells AS (
        |  SELECT user_id % 2 AS variant, event_id // 256 AS bucket,
        |         CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_succ
        |  FROM events GROUP BY 1, 2),
        |d AS (SELECT *, n_succ * 200671 + (n - n_succ) * (-50010) AS llr_delta FROM cells),
        |c AS (SELECT *, CAST(sum(llr_delta) OVER (PARTITION BY variant ORDER BY bucket) AS BIGINT) AS llr_cum FROM d),
        |ct AS (SELECT *, CASE WHEN llr_cum >= 2944439 THEN 1
        |                      WHEN llr_cum <= -2944439 THEN -1 ELSE 0 END AS ct FROM c),
        |cd AS (SELECT variant, min(bucket) AS first_cross_bucket,
        |              min_by(ct, bucket) AS cross_dir
        |       FROM ct WHERE ct <> 0 GROUP BY variant),
        |tot AS (SELECT variant, CAST(sum(n) AS BIGINT) AS n_obs,
        |               CAST(sum(n_succ) AS BIGINT) AS n_succ,
        |               CAST(sum(llr_delta) AS BIGINT) AS llr_micronat
        |        FROM ct GROUP BY variant)
        |SELECT t.variant, t.n_obs, t.n_succ, t.llr_micronat,
        |       coalesce(cd.first_cross_bucket, -1) AS first_cross_bucket,
        |       CASE WHEN cd.cross_dir = 1 THEN 'accept_h1'
        |            WHEN cd.cross_dir = -1 THEN 'accept_h0'
        |            ELSE 'continue' END AS decision
        |FROM tot t LEFT JOIN cd ON t.variant = cd.variant
        |ORDER BY t.variant""".stripMargin,
    // identical md5 assignment; the chi2 is pure integer on both engines
    "q_srm_check" ->
      s"""WITH u AS (
        |  SELECT DISTINCT event_type AS segment, user_id FROM events
        |  UNION ALL
        |  SELECT DISTINCT '__ALL__', user_id FROM events),
        |v AS (SELECT segment,
        |             ${Hash.prefixSql("'srm:' || CAST(user_id AS VARCHAR)")} % 2 AS variant
        |      FROM u),
        |c AS (SELECT segment,
        |             CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
        |             CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1
        |      FROM v GROUP BY segment)
        |SELECT segment, n0, n1,
        |       (n0 - n1) * (n0 - n1) * 1000000 // (n0 + n1) AS chi2_ppm,
        |       CAST((n0 - n1) * (n0 - n1) * 1000000 // (n0 + n1) > 3841459 AS BIGINT) AS srm_alarm
        |FROM c ORDER BY segment""".stripMargin,
    // SAME z/p fragments as Spark; BH step-up over the 5-row family
    "q_bh_fdr" ->
      s"""WITH e AS (
         |  SELECT event_type AS segment, user_id,
         |         CAST(value > 2.5 AS BIGINT) AS conv,
         |         ${Hash.prefixSql("event_type || '|bh:' || CAST(user_id AS VARCHAR)")} % 2 AS v
         |  FROM events),
         |seg AS (
         |  SELECT segment,
         |         CAST(sum(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
         |         CAST(sum(CASE WHEN v = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         |         CAST(sum(CASE WHEN v = 0 THEN conv ELSE 0 END) AS BIGINT) AS s0,
         |         CAST(sum(CASE WHEN v = 1 THEN conv ELSE 0 END) AS BIGINT) AS s1
         |  FROM e GROUP BY 1),
         |zz AS (SELECT *, $BhZSql AS z FROM seg),
         |xx AS (SELECT *, $AbXSql AS x FROM zz),
         |tt AS (SELECT *, $AbTSql AS t FROM xx),
         |ee AS (SELECT *, $AbEfSql AS ef FROM tt),
         |pp AS (SELECT *, $BhPSql AS p_ppm FROM ee),
         |rk AS (SELECT *, CAST(row_number() OVER (ORDER BY p_ppm, segment) AS BIGINT) AS rk
         |       FROM pp),
         |th AS (SELECT *, rk * 50000 // (count(*) OVER ()) AS thr_ppm FROM rk),
         |ks AS (SELECT coalesce(max(CASE WHEN p_ppm <= thr_ppm THEN rk END), 0) AS k_star
         |       FROM th)
         |SELECT segment, n0, n1, s0, s1, p_ppm, rk, thr_ppm,
         |       CAST(rk <= k_star AS BIGINT) AS rejected
         |FROM th CROSS JOIN ks ORDER BY rk""".stripMargin,
    // SAME SQL fragments as the Spark side (object-level vals) — one
    // shared IEEE tree for the erf polynomial on both engines
    "q_ab_bayes" ->
      s"""WITH u AS (
         |  SELECT user_id,
         |         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv,
         |         ${Hash.prefixSql("'ab:' || CAST(user_id AS VARCHAR)")} % 2 AS v
         |  FROM events GROUP BY user_id),
         |c AS (
         |  SELECT CAST(sum(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         |         CAST(sum(CASE WHEN v = 0 THEN conv ELSE 0 END) AS BIGINT) AS s_a,
         |         CAST(sum(CASE WHEN v = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
         |         CAST(sum(CASE WHEN v = 1 THEN conv ELSE 0 END) AS BIGINT) AS s_b
         |  FROM u),
         |m AS (SELECT *, ${AbMuSql("a")} AS mu_a, ${AbMuSql("b")} AS mu_b FROM c),
         |zz AS (SELECT *, $AbZSql AS z FROM m),
         |xx AS (SELECT *, $AbXSql AS x FROM zz),
         |tt AS (SELECT *, $AbTSql AS t FROM xx),
         |ee AS (SELECT *, $AbEfSql AS ef FROM tt)
         |SELECT n_a, s_a, n_b, s_b, $AbPSql AS p_b_beats_a_ppm,
         |       CAST($AbPSql > 950000 AS BIGINT) AS b_wins
         |FROM ee""".stripMargin,
    // identical prefix sums and the same max-min range-rate evaluation
    "q_isotonic_calibrate" ->
      """WITH b AS (
        |  SELECT least(CAST(round(o_totalprice * 100) AS BIGINT) // 5000000, 9) AS bin,
        |         CAST(count(*) AS BIGINT) AS n_b,
        |         CAST(sum(CAST(o_orderstatus = 'F' AS BIGINT)) AS BIGINT) AS pos_b
        |  FROM orders GROUP BY 1),
        |pre AS (SELECT bin, n_b, pos_b,
        |               CAST(sum(n_b) OVER (ORDER BY bin) AS BIGINT) AS cn,
        |               CAST(sum(pos_b) OVER (ORDER BY bin) AS BIGINT) AS cp
        |        FROM b),
        |lo AS (SELECT bin AS j, cn - n_b AS cn_lo, cp - pos_b AS cp_lo FROM pre),
        |hi AS (SELECT bin AS k, cn AS cn_hi, cp AS cp_hi FROM pre),
        |ranges AS (
        |  SELECT j, k, CAST(cp_hi - cp_lo AS DOUBLE) / CAST(cn_hi - cn_lo AS DOUBLE) AS rate
        |  FROM lo CROSS JOIN hi WHERE j <= k),
        |mm AS (SELECT p.bin, r.j, min(r.rate) AS minr
        |       FROM pre p JOIN ranges r ON r.j <= p.bin AND r.k >= p.bin
        |       GROUP BY 1, 2),
        |iso AS (SELECT bin, CAST(floor(max(minr) * 1000000.0e0) AS BIGINT) AS iso_ppm
        |        FROM mm GROUP BY 1)
        |SELECT pre.bin, pre.n_b, pre.pos_b,
        |       pre.pos_b * 1000000 // pre.n_b AS raw_ppm, iso.iso_ppm
        |FROM pre JOIN iso USING (bin)
        |ORDER BY bin""".stripMargin,
    // identical exact arm reductions, DOUBLE-floored milli bonus, bounded rank
    "q_ucb_plan" ->
      """WITH arms AS (
        |  SELECT event_type AS arm, CAST(count(*) AS BIGINT) AS n_pulls,
        |         CAST(sum(CAST(value > 2.5 AS BIGINT)) AS BIGINT) AS n_rewards
        |  FROM events GROUP BY 1),
        |tot AS (SELECT CAST(sum(n_pulls) AS BIGINT) AS n_total FROM arms),
        |sc AS (
        |  SELECT arm, n_pulls, n_rewards, n_rewards * 1000 // n_pulls AS mean_milli,
        |         CASE WHEN n_pulls = 0 THEN CAST(1000000000 AS BIGINT)
        |              ELSE n_rewards * 1000 // n_pulls
        |                + CAST(floor(sqrt(2.0e0 * ln(CAST(n_total AS DOUBLE))
        |                  / CAST(n_pulls AS DOUBLE)) * 1000.0e0) AS BIGINT) END AS ucb_milli
        |  FROM arms CROSS JOIN tot),
        |rk AS (SELECT *, row_number() OVER (ORDER BY ucb_milli DESC, arm) AS rk FROM sc)
        |SELECT arm, n_pulls, n_rewards, mean_milli, ucb_milli,
        |       CAST(rk = 1 AS BIGINT) AS chosen
        |FROM rk ORDER BY arm""".stripMargin,
    // same unit frame as q_ipw_ate; the shared SMD fragment
    "q_covariate_balance" -> {
      def covSql(c: String) =
        s"""SELECT '$c' AS covariate,
           |       CAST(sum(CASE WHEN t = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
           |       CAST(sum(CASE WHEN t = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
           |       CAST(sum(CASE WHEN t = 0 THEN $c ELSE 0 END) AS BIGINT) AS s0,
           |       CAST(sum(CASE WHEN t = 1 THEN $c ELSE 0 END) AS BIGINT) AS s1,
           |       sum(CASE WHEN t = 0 THEN CAST($c AS DECIMAL(19,0)) * CAST($c AS DECIMAL(19,0)) ELSE CAST(0 AS DECIMAL(38,0)) END) AS q0,
           |       sum(CASE WHEN t = 1 THEN CAST($c AS DECIMAL(19,0)) * CAST($c AS DECIMAL(19,0)) ELSE CAST(0 AS DECIMAL(38,0)) END) AS q1
           |FROM u""".stripMargin
      s"""WITH y AS (SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_ord
         |           FROM orders GROUP BY 1),
         |u AS (
         |  SELECT ${Hash.prefixSql("'ipw:' || CAST(c.c_custkey AS VARCHAR)")} % 2 AS t,
         |         CAST(round(c.c_acctbal * 100) AS BIGINT) AS acctbal_cents,
         |         CAST(c.c_nationkey AS BIGINT) AS nationkey,
         |         coalesce(y.n_ord, 0) AS n_orders
         |  FROM customer c LEFT JOIN y ON y.o_custkey = c.c_custkey),
         |covs AS (
         |  ${covSql("acctbal_cents")}
         |  UNION ALL
         |  ${covSql("nationkey")}
         |  UNION ALL
         |  ${covSql("n_orders")})
         |SELECT covariate, n0, n1, $SmdSql AS smd_milli,
         |       CAST(abs($SmdSql) < 100 AS BIGINT) AS balanced
         |FROM covs ORDER BY covariate""".stripMargin
    },
    // identical stratification, per-bucket DOUBLE-floored IPW terms,
    // integer combination (BIGINT // truncates toward zero like DIV)
    "q_ipw_ate" ->
      s"""WITH y AS (SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_ord
        |           FROM orders GROUP BY 1),
        |u AS (
        |  SELECT c.c_custkey, CAST(c.c_nationkey AS BIGINT) % 5 AS b,
        |         coalesce(y.n_ord, 0) * 1000 AS y_milli,
        |         ${Hash.prefixSql("'ipw:' || CAST(c.c_custkey AS VARCHAR)")} % 2 AS t
        |  FROM customer c LEFT JOIN y ON y.o_custkey = c.c_custkey),
        |bb AS (
        |  SELECT b, CAST(count(*) AS BIGINT) AS n_b, CAST(sum(t) AS BIGINT) AS n1_b,
        |         CAST(sum(t * y_milli) AS BIGINT) AS y1_b,
        |         CAST(sum((1 - t) * y_milli) AS BIGINT) AS y0_b
        |  FROM u GROUP BY 1),
        |terms AS (
        |  SELECT *, n_b - n1_b AS n0_b,
        |         CAST(n1_b = 0 OR n_b - n1_b = 0 AS BIGINT) AS skip,
        |         CASE WHEN n1_b = 0 OR n_b - n1_b = 0 THEN 0
        |              ELSE CAST(floor(CAST(y1_b AS DOUBLE) * CAST(n_b AS DOUBLE)
        |                / CAST(n1_b AS DOUBLE)) AS BIGINT) END AS t1,
        |         CASE WHEN n1_b = 0 OR n_b - n1_b = 0 THEN 0
        |              ELSE CAST(floor(CAST(y0_b AS DOUBLE) * CAST(n_b AS DOUBLE)
        |                / CAST(n_b - n1_b AS DOUBLE)) AS BIGINT) END AS t0
        |  FROM bb),
        |agg AS (
        |  SELECT CAST(sum(n_b) AS BIGINT) AS n_units, CAST(sum(n1_b) AS BIGINT) AS n_treated,
        |         CAST(sum(y1_b) AS BIGINT) AS y1_tot, CAST(sum(y0_b) AS BIGINT) AS y0_tot,
        |         CAST(sum(t1) AS BIGINT) AS s1, CAST(sum(t0) AS BIGINT) AS s0,
        |         CAST(count(*) AS BIGINT) AS n_buckets,
        |         CAST(sum(skip) AS BIGINT) AS n_buckets_skipped
        |  FROM terms)
        |SELECT n_units, n_treated, n_buckets, n_buckets_skipped,
        |       CASE WHEN n_treated = 0 OR n_treated = n_units THEN CAST(0 AS BIGINT)
        |            ELSE CAST(floor(CAST(y1_tot AS DOUBLE) / CAST(n_treated AS DOUBLE))
        |                 - floor(CAST(y0_tot AS DOUBLE) / CAST(n_units - n_treated AS DOUBLE))
        |                 AS BIGINT) END AS naive_diff_milli,
        |       (s1 - s0) // n_units AS ipw_ate_milli
        |FROM agg""".stripMargin,
    // same md5 arms, floored percentile grids and integer deltas
    "q_qte" ->
      s"""WITH u AS (
        |  SELECT user_id, CAST(sum(CAST(round(value * 1000) AS BIGINT)) AS BIGINT) AS y,
        |         ${Hash.prefixSql("'qte:' || CAST(user_id AS VARCHAR)")} % 2 AS treated
        |  FROM events GROUP BY user_id),
        |qt AS (SELECT quantile_cont(y, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS q
        |       FROM u WHERE treated = 1),
        |qc AS (SELECT quantile_cont(y, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS q
        |       FROM u WHERE treated = 0),
        |x AS (SELECT unnest(range(1, 10)) AS i FROM (SELECT 1))
        |SELECT CAST(i * 10 AS BIGINT) AS p_pct,
        |       CAST(floor(qt.q[i]) AS BIGINT) AS q_treated_milli,
        |       CAST(floor(qc.q[i]) AS BIGINT) AS q_control_milli,
        |       CAST(floor(qt.q[i]) AS BIGINT) - CAST(floor(qc.q[i]) AS BIGINT) AS qte_milli
        |FROM x CROSS JOIN qt CROSS JOIN qc ORDER BY p_pct""".stripMargin,
    // same tie-free ranks and integer identities
    "q_rank_corr" ->
      """WITH src AS (
        |  SELECT source, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens,
        |         CAST(count(*) AS BIGINT) AS docs
        |  FROM documents GROUP BY source),
        |r AS (SELECT source,
        |             CAST(row_number() OVER (ORDER BY tokens DESC, source) AS BIGINT) AS r_tok,
        |             CAST(row_number() OVER (ORDER BY docs DESC, source) AS BIGINT) AS r_doc
        |      FROM src),
        |rho AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum((r_tok - r_doc) * (r_tok - r_doc)) AS BIGINT) AS sd2
        |  FROM r),
        |p AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_pairs,
        |         CAST(sum(CASE WHEN (a.r_tok < b.r_tok) = (a.r_doc < b.r_doc)
        |                       THEN 1 ELSE 0 END) AS BIGINT) AS n_concordant
        |  FROM r a JOIN r b ON a.source < b.source)
        |SELECT rho.n,
        |       1000000 - 6 * rho.sd2 * 1000000 // (rho.n * (rho.n * rho.n - 1)) AS spearman_ppm,
        |       p.n_pairs, p.n_concordant,
        |       p.n_pairs - p.n_concordant AS n_discordant,
        |       CASE WHEN 2 * p.n_concordant >= p.n_pairs
        |         THEN (2 * p.n_concordant - p.n_pairs) * 1000000 // p.n_pairs
        |         ELSE -((p.n_pairs - 2 * p.n_concordant) * 1000000 // p.n_pairs)
        |       END AS kendall_ppm
        |FROM rho CROSS JOIN p""".stripMargin,
    // same exact milli weights; identical IEEE ratio trees
    "q_effective_n" ->
      """WITH w AS (
        |  SELECT event_type AS segment, CAST(round(value * 1000) AS BIGINT) AS w
        |  FROM events),
        |seg AS (
        |  SELECT segment, CAST(count(*) AS BIGINT) AS n, CAST(sum(w) AS BIGINT) AS sw,
        |         CAST(sum(w * w) AS BIGINT) AS sww
        |  FROM w GROUP BY segment
        |  UNION ALL
        |  SELECT '__ALL__', CAST(count(*) AS BIGINT), CAST(sum(w) AS BIGINT),
        |         CAST(sum(w * w) AS BIGINT)
        |  FROM w)
        |SELECT segment, n,
        |       round(CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE) / CAST(sww AS DOUBLE), 3) AS n_eff,
        |       round(CAST(n AS DOUBLE) * CAST(sww AS DOUBLE)
        |             / (CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE)), 4) AS deff
        |FROM seg ORDER BY segment""".stripMargin,
    // same ascending rank, decile cut and integer shares
    "q_lorenz_points" ->
      """WITH src AS (
        |  SELECT source, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS x
        |  FROM documents GROUP BY source),
        |r AS (SELECT source, x,
        |             CAST(row_number() OVER (ORDER BY x, source) AS BIGINT) AS i,
        |             CAST(sum(x) OVER (ORDER BY x, source
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |      FROM src),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS t_all,
        |             CAST(sum(x * x) AS BIGINT) AS sxx FROM src),
        |d AS (SELECT i * 10 // n AS decile,
        |             (max(struct_pack(i := i, cum := cum))).i AS mi,
        |             (max(struct_pack(i := i, cum := cum))).cum AS mcum,
        |             max(CAST(floor(CAST(sxx AS DOUBLE) * 1000000.0 /
        |               (CAST(t_all AS DOUBLE) * CAST(t_all AS DOUBLE))) AS BIGINT)) AS hhi_ppm,
        |             max(n) AS n_sources, max(t_all) AS total_tokens
        |      FROM r CROSS JOIN t GROUP BY 1)
        |SELECT decile, n_sources, total_tokens,
        |       mi * 1000000 // n_sources AS pop_share_ppm,
        |       mcum * 1000000 // total_tokens AS mass_share_ppm,
        |       hhi_ppm
        |FROM d WHERE decile > 0 ORDER BY decile""".stripMargin,
    // identical integer Fano factor
    "q_burstiness" ->
      """WITH h AS (
        |  SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS hi,
        |         CAST(count(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |a AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_hours,
        |             CAST(sum(x) AS BIGINT) AS t, CAST(sum(x * x) AS BIGINT) AS sxx
        |      FROM h GROUP BY 1)
        |SELECT event_type, n_hours,
        |       t * 1000 // n_hours AS mean_milli,
        |       (n_hours * sxx - t * t) * 1000 // ((n_hours - 1) * t) AS dispersion_milli
        |FROM a WHERE n_hours > 1 ORDER BY event_type""".stripMargin,
    // identical hash model and constant importance weight 5
    "q_policy_replay" ->
      s"""WITH ev AS (
        |  SELECT user_id % 16 AS ctx, event_type AS action,
        |         CAST(round(value * 1000) AS BIGINT) AS r_milli
        |  FROM events),
        |cand AS (
        |  SELECT DISTINCT ctx FROM ev),
        |sc AS (
        |  SELECT c.ctx, t.a,
        |         ${Hash.prefixSql("'pol:' || CAST(c.ctx AS VARCHAR) || ':' || t.a")} AS h
        |  FROM cand c CROSS JOIN (SELECT unnest(['click', 'error', 'purchase', 'signup', 'view']) AS a) t),
        |pi AS (
        |  SELECT ctx, a AS pi_action FROM (
        |    SELECT ctx, a, row_number() OVER (PARTITION BY ctx ORDER BY h DESC, a) AS rk
        |    FROM sc) WHERE rk = 1)
        |SELECT CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(r_milli) AS BIGINT) // count(*) AS logged_value_milli,
        |       CAST(sum(CASE WHEN ev.action = pi.pi_action THEN r_milli ELSE 0 END) AS BIGINT)
        |         * 5 // count(*) AS ips_value_milli,
        |       CAST(sum(CASE WHEN ev.action = pi.pi_action THEN 1 ELSE 0 END) AS BIGINT)
        |         * 1000000 // count(*) AS match_ppm
        |FROM ev JOIN pi USING (ctx)""".stripMargin,
    // same bounded pair frame; BIGINT // truncates toward zero like Spark
    // DIV (measured — see SCALE.md), so signed slopes need no
    // symmetric-CASE spelling; flooring would NOT match on negatives
    "q_theil_sen" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |         CAST(sum(CAST(round(value * 1000) AS BIGINT)) AS BIGINT) AS y,
        |         date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d
        |  FROM events GROUP BY 1, 3),
        |sl AS (
        |  SELECT (b.y - a.y) * 1000 // (b.d - a.d) AS slope_milli
        |  FROM daily a JOIN daily b ON a.d < b.d),
        |sen AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs,
        |               coalesce(CAST(floor(quantile_cont(slope_milli, 0.5)) AS BIGINT), 0)
        |                 AS sen_slope_milli
        |        FROM sl),
        |st AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(d) AS BIGINT) AS sd,
        |              CAST(sum(y) AS BIGINT) AS sy, CAST(sum(d*d) AS BIGINT) AS sdd,
        |              CAST(sum(d*y) AS BIGINT) AS sdy
        |       FROM daily),
        |ols AS (SELECT n AS n_days,
        |               CASE WHEN CAST(n AS DOUBLE) * CAST(sdd AS DOUBLE)
        |                         - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE) = 0.0 THEN 0.0
        |                    ELSE round((CAST(n AS DOUBLE) * CAST(sdy AS DOUBLE)
        |                      - CAST(sd AS DOUBLE) * CAST(sy AS DOUBLE))
        |                   / (CAST(n AS DOUBLE) * CAST(sdd AS DOUBLE)
        |                      - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE)), 6) END AS ols_slope
        |        FROM st)
        |SELECT n_days, n_pairs, sen_slope_milli, ols_slope
        |FROM ols CROSS JOIN sen""".stripMargin
  )
}
