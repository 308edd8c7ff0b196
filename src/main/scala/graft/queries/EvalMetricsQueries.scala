package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Hash, Tables}

/** Classifier / ranker evaluation operators: the confusion-matrix family
  * (per-class precision/recall/F1, Cohen's kappa agreement), threshold
  * sweeps (precision-recall curve, ROC points), effect-size and
  * independence statistics (Cramer's V, Mann-Whitney rank-sum,
  * Brown-Forsythe variance test).
  *
  * Reference scope: the K-Means repo's only "evaluation" is the scalar
  * convergence check (master.py:97-103); these are the quality-eval
  * queries a labeled-data pipeline runs after any model-assisted labeling
  * or filter pass (a trained quality gate, a langid model, a dedup
  * classifier) before the labels are trusted at corpus scale.
  *
  * Scale design, shared by all eight: every query first REDUCES the input
  * to a bounded frame — a label-domain-squared contingency table, a fixed
  * threshold-bin histogram, or k group aggregates — with ONE map-side-
  * combinable shuffle; the statistic itself is then window/fold arithmetic
  * over that bounded frame. Nothing downstream of the first aggregate
  * scales with N. Verdicts and rates are integer ppm (`DIV`) wherever the
  * value is rational, so the driver byte-hash cannot be flipped by
  * float-summation order; the few genuinely irrational outputs (z, F, V)
  * are computed from exact integer sums in a fixed expression tree and
  * rounded at 6dp.
  *
  * Predicted labels / scores are hash-derived from row ids (md5 prefix,
  * the repo-wide deterministic-randomness idiom — same bytes in DuckDB),
  * standing in for a model-output column joined in at 100 TB.
  */
object EvalMetricsQueries extends graft.SparkEntry.Module {

  /** 32-bit md5-prefix hash, the cross-engine deterministic random. */
  /** Hash-perturbed prediction over the embeddings labels: FlipPct% of
    * rows predict a hash-chosen WRONG class, the rest predict the truth.
    * Stands in for a real classifier column; the eval math is identical.
    */
  private val FlipPct = 20

  /** actual/pred label pairs for the confusion family (bounded domain 10). */
  private def labeled(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label").cast("long").as("actual"))
    e.withColumn("flip", pmod(Hash.prefix(concat(lit("pred:"), col("vec_id"))), lit(100)) < FlipPct)
      .withColumn("pred",
        when(col("flip"),
          pmod(col("actual") + lit(1) +
            pmod(Hash.prefix(concat(lit("tgt:"), col("vec_id"))), lit(9)), lit(10)))
          .otherwise(col("actual")))
      .select(col("vec_id"), col("actual"), col("pred"))
  }

  /** Binned score histogram for the threshold sweeps: scores are ppm in
    * [0, 1e6), positives shifted up so the ranker is informative; the
    * N-row frame collapses to 10 fixed bins in one combinable aggregate.
    */
  private def scoreBins(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .select((col("o_orderstatus") === "F").cast("long").as("pos"),
        col("o_orderkey"))
      .withColumn("score_ppm",
        pmod(Hash.prefix(concat(lit("score:"), col("o_orderkey"))), lit(700000)) +
          col("pos") * lit(300000))
      .withColumn("bin", expr("score_ppm DIV 100000"))
      .groupBy("bin")
      .agg(sum(col("pos")).as("np"), sum(lit(1) - col("pos")).as("nn"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // NS: confusion matrix of a (hash-derived) classifier vs the embedding
    // labels. One combinable groupBy to a <= |labels|^2 frame; the matrix
    // IS the reduced intermediate every other confusion-family statistic
    // reads, so at 100 TB this runs once and is reused.
    "q_confusion_matrix" -> { (s, dir) =>
      labeled(s, dir)
        .groupBy("actual", "pred")
        .agg(count(lit(1)).as("n"))
        .orderBy("actual", "pred")
    },

    // NS: per-class precision/recall/F1 in integer ppm from the confusion
    // counts, plus global accuracy. tp/fp come from the pred-side margin,
    // fn from the actual-side margin; a full outer join on class keeps
    // never-predicted classes total (coalesced to 0). F1 is computed in
    // ppm integer arithmetic (2pr DIV (p+r)) — no float summation anywhere.
    "q_f1_eval" -> { (s, dir) =>
      val cm = labeled(s, dir).groupBy("actual", "pred").agg(count(lit(1)).as("n"))
      val byPred = cm.groupBy(col("pred").as("class"))
        .agg(sum(when(col("actual") === col("pred"), col("n")).otherwise(0L)).as("tp"),
          sum(when(col("actual") =!= col("pred"), col("n")).otherwise(0L)).as("fp"))
      val byActual = cm.groupBy(col("actual").as("class"))
        .agg(sum(when(col("actual") =!= col("pred"), col("n")).otherwise(0L)).as("fn"))
      val tot = cm.agg(
        sum(when(col("actual") === col("pred"), col("n")).otherwise(0L)).as("diag"),
        sum("n").as("total"))
      byPred.join(byActual, Seq("class"), "full_outer")
        .na.fill(0L, Seq("tp", "fp", "fn"))
        .crossJoin(broadcast(tot))
        .select(col("class"), col("tp"), col("fp"), col("fn"),
          when(col("tp") + col("fp") === 0, 0L)
            .otherwise(expr("tp * 1000000 DIV (tp + fp)")).as("prec_ppm"),
          when(col("tp") + col("fn") === 0, 0L)
            .otherwise(expr("tp * 1000000 DIV (tp + fn)")).as("rec_ppm"),
          expr("diag * 1000000 DIV total").as("acc_ppm"))
        .withColumn("f1_ppm",
          when(col("prec_ppm") + col("rec_ppm") === 0, 0L)
            .otherwise(expr("2 * prec_ppm * rec_ppm DIV (prec_ppm + rec_ppm)")))
        .select("class", "tp", "fp", "fn", "prec_ppm", "rec_ppm", "f1_ppm", "acc_ppm")
        .orderBy("class")
    },

    // NS: precision-recall sweep over 10 fixed score thresholds. The raw
    // frame collapses to a 10-bin (pos, neg) histogram first; TP/FP at
    // each threshold are then a DESCENDING cumulative window over those 10
    // rows (predicted-positive = score bin >= threshold). Fixed ppm-grid
    // thresholds, not data quantiles, so the bin layout is scale-invariant.
    "q_pr_curve" -> { (s, dir) =>
      val b = scoreBins(s, dir)
      val w = Window.orderBy(col("bin").desc)
      b.withColumn("tp", sum("np").over(w))
        .withColumn("fp", sum("nn").over(w))
        .withColumn("p_tot", sum("np").over(Window.partitionBy()))
        .select(col("bin").as("thr_bin"), col("tp"), col("fp"),
          (col("p_tot") - col("tp")).as("fn"),
          expr("tp * 1000000 DIV (tp + fp)").as("prec_ppm"),
          expr("tp * 1000000 DIV p_tot").as("rec_ppm"))
        .orderBy("thr_bin")
    },

    // NS: ROC points over the same 10-bin histogram — TPR/FPR ppm per
    // threshold (the exact-rank AUC scalar lives in q_auc; this is the
    // curve a calibration dashboard plots). Same bounded-window shape.
    "q_roc_points" -> { (s, dir) =>
      val b = scoreBins(s, dir)
      val w = Window.orderBy(col("bin").desc)
      b.withColumn("tp", sum("np").over(w))
        .withColumn("fp", sum("nn").over(w))
        .withColumn("p_tot", sum("np").over(Window.partitionBy()))
        .withColumn("n_tot", sum("nn").over(Window.partitionBy()))
        .select(col("bin").as("thr_bin"), col("tp"), col("fp"),
          expr("tp * 1000000 DIV p_tot").as("tpr_ppm"),
          expr("fp * 1000000 DIV n_tot").as("fpr_ppm"))
        .orderBy("thr_bin")
    },

    // NS: Cramer's V effect size for the segment x priority association —
    // q_chi_square's statistic normalized to [0,1] so associations are
    // comparable across table shapes. Same 25-row contingency reduction;
    // V = sqrt(chi2 / (n * min(r-1, c-1))) from exact integer counts.
    "q_cramers_v" -> { (s, dir) =>
      val ct = Tables.orders(s, dir)
        .join(Tables.customer(s, dir).select("c_custkey", "c_mktsegment"),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment").as("seg"), col("o_orderpriority").as("pri"))
        .agg(count(lit(1)).cast("double").as("obs"))
      val m = ct.withColumn("rt", sum("obs").over(Window.partitionBy("seg")))
        .withColumn("ct", sum("obs").over(Window.partitionBy("pri")))
        .withColumn("n", sum("obs").over(Window.partitionBy()))
      val exp_ = col("rt") * col("ct") / col("n")
      m.agg(max("n").cast("long").as("n"),
          round(sum((col("obs") - exp_) * (col("obs") - exp_) / exp_), 6).as("chi2"),
          ((countDistinct("seg") - 1) * (countDistinct("pri") - 1)).as("dof"),
          least(countDistinct("seg"), countDistinct("pri")).as("minrc"))
        .select(col("n"), col("chi2"), col("dof"),
          round(sqrt(col("chi2") / (col("n") * (col("minrc") - 1))), 6).as("v"))
    },

    // NS: Cohen's kappa between two hash-derived document raters (length
    // quartile vs a 25%-perturbed copy) — the inter-annotator-agreement
    // number a labeling run publishes. The 4x4 agreement table is the only
    // shuffle; po/pe/kappa are integer-ppm folds over its 16 rows
    // (kappa_ppm = (po-pe)*1e6 DIV (1e6-pe), exact on both engines).
    "q_cohens_kappa" -> { (s, dir) =>
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), least(expr("n_chars DIV 150"), lit(3)).as("ra"))
        .withColumn("rb",
          when(pmod(Hash.prefix(concat(lit("rat:"), col("doc_id"))), lit(100)) < 25,
            pmod(col("ra") + lit(1) +
              pmod(Hash.prefix(concat(lit("rb:"), col("doc_id"))), lit(3)), lit(4)))
            .otherwise(col("ra")))
      val t = d.groupBy("ra", "rb").agg(count(lit(1)).as("n"))
      // pe from the margins joined on class (full outer: a class one rater
      // never used still contributes 0 via coalesce, not a dropped row)
      val rowT = t.groupBy(col("ra").as("class")).agg(sum("n").as("row_t"))
      val colT = t.groupBy(col("rb").as("class")).agg(sum("n").as("col_t"))
      val pe = rowT.join(colT, Seq("class"), "full_outer")
        .agg(sum(coalesce(col("row_t"), lit(0L)) *
          coalesce(col("col_t"), lit(0L))).as("pe_raw"))
      t.agg(sum("n").as("n_docs"),
          sum(when(col("ra") === col("rb"), col("n")).otherwise(0L)).as("agree"))
        .crossJoin(broadcast(pe))
        .select(col("n_docs"),
          expr("agree * 1000000 DIV n_docs").as("po_ppm"),
          expr("pe_raw * 1000000 DIV (n_docs * n_docs)").as("pe_ppm"))
        .withColumn("kappa_ppm",
          expr("(po_ppm - pe_ppm) * 1000000 DIV (1000000 - pe_ppm)"))
    },

    // NS: Mann-Whitney rank-sum test comparing order totals between two
    // customer segments. Exact tie handling via $1000 price bins (bounded
    // value domain — the rank window runs over bins, never rows): 2x-scaled
    // integer midranks (rank2 = 2*cum_before + t + 1) keep U exact; the
    // normal approximation applies the full tie-correction term.
    "q_mannwhitney" -> { (s, dir) =>
      val o = Tables.orders(s, dir)
        .join(Tables.customer(s, dir).select("c_custkey", "c_mktsegment"),
          col("o_custkey") === col("c_custkey"))
        .filter(col("c_mktsegment").isin("BUILDING", "MACHINERY"))
        .select((col("c_mktsegment") === "BUILDING").cast("long").as("is_a"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT) DIV 100000").as("bin"))
      val b = o.groupBy("bin")
        .agg(sum("is_a").as("na"), sum(lit(1) - col("is_a")).as("nb"))
      val w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, -1)
      val r = b
        .withColumn("t", col("na") + col("nb"))
        .withColumn("cum_before", coalesce(sum(col("na") + col("nb")).over(w), lit(0L)))
        .withColumn("rank2", lit(2) * col("cum_before") + col("t") + 1)
      r.agg(sum("na").as("n_a"), sum("nb").as("n_b"),
          sum(col("na") * col("rank2")).as("r2a"),
          sum(col("t") * col("t") * col("t") - col("t")).as("ties"))
        .select(col("n_a"), col("n_b"),
          // 2*U_a = 2*R_a - n_a(n_a+1); integer-exact
          expr("r2a - n_a * (n_a + 1)").as("u2_a"), col("ties"))
        .withColumn("z", round(
          (col("u2_a") - col("n_a") * col("n_b")) /
            (lit(2.0) * sqrt(col("n_a") * col("n_b") / lit(12.0) *
              ((col("n_a") + col("n_b") + 1) -
                col("ties") / ((col("n_a") + col("n_b")) *
                  (col("n_a") + col("n_b") - 1))))), 6))
    },

    // NS: Matthews correlation coefficient — the single-number binary
    // grade that stays honest under class imbalance (accuracy and F1
    // both saturate when one class dominates; MCC is the full-matrix
    // correlation). Binarized from the same md5-flip labeled frame as
    // the confusion family (positive = label < 5), the four cells reduce
    // in ONE combinable aggregate, and the ratio is a fixed IEEE tree —
    // each √ factor taken separately so no product overflows — rounded
    // 6dp; an absent class pins MCC to 0.0 (totality).
    "q_mcc_eval" -> { (s, dir) =>
      val b = labeled(s, dir)
        .select((col("actual") < 5).cast("long").as("y"),
          (col("pred") < 5).cast("long").as("p"))
      b.agg(
          sum(expr("y * p")).as("tp"),
          sum(expr("(1 - y) * p")).as("fp"),
          sum(expr("y * (1 - p)")).as("fn"),
          sum(expr("(1 - y) * (1 - p)")).as("tn"))
        .withColumn("den_d", expr(
          "sqrt(CAST(tp + fp AS DOUBLE)) * sqrt(CAST(tp + fn AS DOUBLE)) * " +
            "sqrt(CAST(tn + fp AS DOUBLE)) * sqrt(CAST(tn + fn AS DOUBLE))"))
        .select(col("tp"), col("fp"), col("fn"), col("tn"),
          when(col("den_d") === 0.0, lit(0.0))
            .otherwise(round((col("tp").cast("double") * col("tn").cast("double") -
              col("fp").cast("double") * col("fn").cast("double")) / col("den_d"), 6)
              + lit(0.0))
            .as("mcc"))
    },

    // NS: Wilcoxon signed-rank — the PAIRED nonparametric test completing
    // the rank-test family beside Mann–Whitney (independent samples):
    // per-user first-half vs second-half month activity totals, zero
    // diffs dropped (the standard convention), |diff| quantized to centi
    // bins so ranks come from a bounded-domain census (the q_mannwhitney
    // bin discipline — the window walks the bin frame, never the users).
    // Ranks ride the exact half-rank×2 integer trick (avg tie rank =
    // 2·cum_before + t + 1, all BIGINT), W⁺×2 is exact, and the
    // tie-corrected normal z + two-sided p run through the shared
    // erf-polynomial fragments. Totality: empty or all-tied input pins
    // z to 0 (p = 1e6).
    "q_wilcoxon_signed" -> { (s, dir) =>
      val diffs = Tables.events(s, dir)
        .select(col("user_id"),
          expr("CAST(round(value * 1000) AS BIGINT)").as("vm"),
          (dayofmonth(col("ts")) <= 15).cast("long").as("h1"))
        .groupBy("user_id")
        .agg((sum(when(col("h1") === 1, col("vm")).otherwise(0L)) -
          sum(when(col("h1") === 0, col("vm")).otherwise(0L))).as("diff"))
        .filter(col("diff") =!= 0)
        .select(expr("abs(diff) DIV 10").as("vb"),
          (col("diff") > 0).cast("long").as("pos"))
      val census = diffs.groupBy("vb")
        .agg(count(lit(1)).as("n_v"), sum("pos").as("pos_v"))
      val w = Window.orderBy("vb").rowsBetween(Window.unboundedPreceding, -1)
      val ranked = census
        .withColumn("cumb", coalesce(sum("n_v").over(w), lit(0L)))
        .withColumn("avgrank2", lit(2L) * col("cumb") + col("n_v") + lit(1L))
      ranked.agg(
          coalesce(sum("n_v"), lit(0L)).as("n_pairs"),
          coalesce(sum(expr("pos_v * avgrank2")), lit(0L)).as("w_plus_x2"),
          // tie3 accumulates in exact DECIMAL(38,0) (the q_neyman_alloc /
          // q_covariate_balance Σx² register): a DOUBLE sum loses exactness
          // past 2^53 total tie mass, reintroducing partition-order-
          // dependent partials vs DuckDB's sequential sum. Three 12-digit
          // factors keep every engine's intermediate width ≤ 38 (DuckDB
          // hard-caps multiply width at w1+w2); a single centi bin would
          // need 1e12 tied pairs to overflow the factor cast — far past
          // the 100 TB envelope. CAST to DOUBLE happens once, at the end.
          coalesce(sum(expr(
            "CAST(n_v AS DECIMAL(12,0)) * CAST(n_v AS DECIMAL(12,0)) * " +
              "CAST(n_v AS DECIMAL(12,0)) - n_v")),
            expr("CAST(0 AS DECIMAL(38,0))")).as("tie3d"))
        .withColumn("tie3", col("tie3d").cast("double"))
        .withColumn("z", expr(StatsQueries.WilcoxonZSql))
        .withColumn("x", expr(StatsQueries.AbXSql))
        .withColumn("t", expr(StatsQueries.AbTSql))
        .withColumn("ef", expr(StatsQueries.AbEfSql))
        .select(col("n_pairs"), col("w_plus_x2"), col("tie3"),
          expr(StatsQueries.BhPSql).as("p_ppm"))
        .withColumn("significant", (col("p_ppm") < 50000L).cast("long"))
    },

    // NS: Brown-Forsythe (median-centered Levene) test that quantity
    // spread is equal across return flags — the robust variance-equality
    // gate before pooling strata. Group medians are exact percentiles over
    // the integral quantity domain; the F statistic folds six per-group
    // sums (n, sum|z|, sum z^2 — z has exact .5 granularity) of a 3-row
    // frame. Same broadcast-join-back shape as q_median_mad.
    "q_levene" -> { (s, dir) =>
      val li = Tables.lineitem(s, dir)
      val med = li.groupBy("l_returnflag")
        .agg(expr("percentile(l_quantity, 0.5)").as("med"))
      val z = li.join(broadcast(med), "l_returnflag")
        .select(col("l_returnflag"), abs(col("l_quantity") - col("med")).as("z"))
      val g = z.groupBy("l_returnflag")
        .agg(count(lit(1)).cast("double").as("n"), sum("z").as("sz"),
          sum(col("z") * col("z")).as("szz"))
      g.agg(count(lit(1)).as("k"), sum("n").cast("long").as("n_rows"),
          sum(col("szz") - col("sz") * col("sz") / col("n")).as("within"),
          (sum(col("sz") * col("sz") / col("n")) -
            sum("sz") * sum("sz") / sum("n")).as("between"),
          sum("n").as("nd"))
        .select(col("k"), col("n_rows"),
          (col("k") - 1).as("df1"),
          (col("n_rows") - col("k")).as("df2"),
          round((col("between") / (col("k") - 1)) /
            (col("within") / (col("nd") - col("k"))), 6).as("f_bf"))
    },

    // NS: position-bias correction via inverse-propensity weighting — the
    // counterfactual CTR estimator every ranker-log pipeline needs: a
    // click logged at rank p under-represents relevance by the
    // examination probability (~1/p in the cascade model), so the IPW
    // estimate re-weights each click by p. Position and click are
    // hash-derived with the click threshold h·p < C (pure integer — the
    // boundary can never flip an engine), planted so the naive CTR is
    // position-confounded while IPW recovers the flat relevance. One
    // combinable aggregate per event_type; weights are exact integers.
    "q_position_bias" -> { (s, dir) =>
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("event_type"))
        .withColumn("pos", pmod(Hash.prefix(concat(lit("pos:"), col("event_id"))), lit(10L)) + 1)
        .withColumn("h", pmod(Hash.prefix(concat(lit("clk:"), col("event_id"))), lit(1000L)))
        .withColumn("click", (col("h") * col("pos") < 300).cast("long"))
      ev.groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("click").as("clicks"),
          sum(col("click") * col("pos")).as("ipw_sum"))
        .select(col("event_type"), col("n"), col("clicks"),
          expr("clicks * 1000000 DIV n").as("naive_ctr_ppm"),
          expr("ipw_sum * 1000000 DIV n").as("ipw_ctr_ppm"))
        .orderBy("event_type")
    }
  )

  def oracleSql: Map[String, String] = Map(
    "q_confusion_matrix" ->
      s"""WITH l AS (
        |  SELECT label::BIGINT AS actual,
        |         CASE WHEN ${Hash.prefixSql("'pred:' || CAST(vec_id AS VARCHAR)")} % 100 < 20
        |              THEN (label + 1 + ${Hash.prefixSql("'tgt:' || CAST(vec_id AS VARCHAR)")} % 9) % 10
        |              ELSE label::BIGINT END AS pred
        |  FROM embeddings)
        |SELECT actual, pred, CAST(count(*) AS BIGINT) AS n
        |FROM l GROUP BY 1, 2 ORDER BY actual, pred""".stripMargin,
    "q_f1_eval" ->
      s"""WITH l AS (
        |  SELECT label::BIGINT AS actual,
        |         CASE WHEN ${Hash.prefixSql("'pred:' || CAST(vec_id AS VARCHAR)")} % 100 < 20
        |              THEN (label + 1 + ${Hash.prefixSql("'tgt:' || CAST(vec_id AS VARCHAR)")} % 9) % 10
        |              ELSE label::BIGINT END AS pred
        |  FROM embeddings),
        |cm AS (SELECT actual, pred, count(*) AS n FROM l GROUP BY 1, 2),
        |bp AS (SELECT pred AS class,
        |              CAST(sum(CASE WHEN actual = pred THEN n ELSE 0 END) AS BIGINT) AS tp,
        |              CAST(sum(CASE WHEN actual <> pred THEN n ELSE 0 END) AS BIGINT) AS fp
        |       FROM cm GROUP BY 1),
        |ba AS (SELECT actual AS class,
        |              CAST(sum(CASE WHEN actual <> pred THEN n ELSE 0 END) AS BIGINT) AS fn
        |       FROM cm GROUP BY 1),
        |tot AS (SELECT CAST(sum(CASE WHEN actual = pred THEN n ELSE 0 END) AS BIGINT) AS diag,
        |               CAST(sum(n) AS BIGINT) AS total FROM cm),
        |j AS (SELECT coalesce(bp.class, ba.class) AS class,
        |             coalesce(tp, 0) AS tp, coalesce(fp, 0) AS fp, coalesce(fn, 0) AS fn
        |      FROM bp FULL OUTER JOIN ba ON bp.class = ba.class),
        |p AS (SELECT class, tp, fp, fn,
        |             CASE WHEN tp + fp = 0 THEN 0 ELSE tp * 1000000 // (tp + fp) END AS prec_ppm,
        |             CASE WHEN tp + fn = 0 THEN 0 ELSE tp * 1000000 // (tp + fn) END AS rec_ppm,
        |             diag * 1000000 // total AS acc_ppm
        |      FROM j CROSS JOIN tot)
        |SELECT class, tp, fp, fn, prec_ppm, rec_ppm,
        |       CASE WHEN prec_ppm + rec_ppm = 0 THEN 0
        |            ELSE 2 * prec_ppm * rec_ppm // (prec_ppm + rec_ppm) END AS f1_ppm,
        |       acc_ppm
        |FROM p ORDER BY class""".stripMargin,
    "q_pr_curve" ->
      s"""WITH s AS (
        |  SELECT CAST(o_orderstatus = 'F' AS BIGINT) AS pos,
        |         (${Hash.prefixSql("'score:' || CAST(o_orderkey AS VARCHAR)")} % 700000
        |          + CAST(o_orderstatus = 'F' AS BIGINT) * 300000) // 100000 AS bin
        |  FROM orders),
        |b AS (SELECT bin, CAST(sum(pos) AS BIGINT) AS np, CAST(sum(1 - pos) AS BIGINT) AS nn
        |      FROM s GROUP BY 1),
        |c AS (SELECT bin,
        |             CAST(sum(np) OVER (ORDER BY bin DESC) AS BIGINT) AS tp,
        |             CAST(sum(nn) OVER (ORDER BY bin DESC) AS BIGINT) AS fp,
        |             CAST(sum(np) OVER () AS BIGINT) AS p_tot FROM b)
        |SELECT bin AS thr_bin, tp, fp, p_tot - tp AS fn,
        |       tp * 1000000 // (tp + fp) AS prec_ppm,
        |       tp * 1000000 // p_tot AS rec_ppm
        |FROM c ORDER BY thr_bin""".stripMargin,
    "q_roc_points" ->
      s"""WITH s AS (
        |  SELECT CAST(o_orderstatus = 'F' AS BIGINT) AS pos,
        |         (${Hash.prefixSql("'score:' || CAST(o_orderkey AS VARCHAR)")} % 700000
        |          + CAST(o_orderstatus = 'F' AS BIGINT) * 300000) // 100000 AS bin
        |  FROM orders),
        |b AS (SELECT bin, CAST(sum(pos) AS BIGINT) AS np, CAST(sum(1 - pos) AS BIGINT) AS nn
        |      FROM s GROUP BY 1),
        |c AS (SELECT bin,
        |             CAST(sum(np) OVER (ORDER BY bin DESC) AS BIGINT) AS tp,
        |             CAST(sum(nn) OVER (ORDER BY bin DESC) AS BIGINT) AS fp,
        |             CAST(sum(np) OVER () AS BIGINT) AS p_tot,
        |             CAST(sum(nn) OVER () AS BIGINT) AS n_tot FROM b)
        |SELECT bin AS thr_bin, tp, fp,
        |       tp * 1000000 // p_tot AS tpr_ppm,
        |       fp * 1000000 // n_tot AS fpr_ppm
        |FROM c ORDER BY thr_bin""".stripMargin,
    "q_cramers_v" ->
      """WITH ct AS (SELECT c_mktsegment AS seg, o_orderpriority AS pri, count(*)::DOUBLE AS obs
        |            FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1, 2),
        |tot AS (SELECT seg, pri, obs,
        |               sum(obs) OVER (PARTITION BY seg) AS rt,
        |               sum(obs) OVER (PARTITION BY pri) AS ctot,
        |               sum(obs) OVER () AS n FROM ct),
        |a AS (SELECT CAST(max(n) AS BIGINT) AS n,
        |             round(sum((obs - rt*ctot/n)*(obs - rt*ctot/n)/(rt*ctot/n)), 6) AS chi2,
        |             (count(DISTINCT seg)-1)*(count(DISTINCT pri)-1) AS dof,
        |             least(count(DISTINCT seg), count(DISTINCT pri)) AS minrc
        |      FROM tot)
        |SELECT n, chi2, dof, round(sqrt(chi2 / (n * (minrc - 1))), 6) AS v FROM a""".stripMargin,
    "q_cohens_kappa" ->
      s"""WITH d AS (
        |  SELECT least(n_chars // 150, 3) AS ra, doc_id FROM documents),
        |r AS (SELECT ra,
        |             CASE WHEN ${Hash.prefixSql("'rat:' || CAST(doc_id AS VARCHAR)")} % 100 < 25
        |                  THEN (ra + 1 + ${Hash.prefixSql("'rb:' || CAST(doc_id AS VARCHAR)")} % 3) % 4
        |                  ELSE ra END AS rb
        |      FROM d),
        |t AS (SELECT ra, rb, count(*) AS n FROM r GROUP BY 1, 2),
        |rt AS (SELECT ra AS class, CAST(sum(n) AS BIGINT) AS row_t FROM t GROUP BY 1),
        |ct AS (SELECT rb AS class, CAST(sum(n) AS BIGINT) AS col_t FROM t GROUP BY 1),
        |pe AS (SELECT CAST(sum(coalesce(row_t, 0) * coalesce(col_t, 0)) AS BIGINT) AS pe_raw
        |       FROM rt FULL OUTER JOIN ct ON rt.class = ct.class),
        |a AS (SELECT CAST(sum(n) AS BIGINT) AS n_docs,
        |             CAST(sum(CASE WHEN ra = rb THEN n ELSE 0 END) AS BIGINT) AS agree,
        |             (SELECT pe_raw FROM pe) AS pe_raw
        |      FROM t),
        |p AS (SELECT n_docs, agree * 1000000 // n_docs AS po_ppm,
        |             pe_raw * 1000000 // (n_docs * n_docs) AS pe_ppm FROM a)
        |SELECT n_docs, po_ppm, pe_ppm,
        |       (po_ppm - pe_ppm) * 1000000 // (1000000 - pe_ppm) AS kappa_ppm FROM p""".stripMargin,
    "q_mannwhitney" ->
      """WITH o AS (
        |  SELECT CAST(c_mktsegment = 'BUILDING' AS BIGINT) AS is_a,
        |         CAST(round(o_totalprice * 100) AS BIGINT) // 100000 AS bin
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')),
        |b AS (SELECT bin, CAST(sum(is_a) AS BIGINT) AS na, CAST(sum(1 - is_a) AS BIGINT) AS nb
        |      FROM o GROUP BY 1),
        |r AS (SELECT na, nb, na + nb AS t,
        |             coalesce(sum(na + nb) OVER (ORDER BY bin
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
        |      FROM b),
        |a AS (SELECT CAST(sum(na) AS BIGINT) AS n_a, CAST(sum(nb) AS BIGINT) AS n_b,
        |             CAST(sum(na * (2 * cum_before + t + 1)) AS BIGINT) AS r2a,
        |             CAST(sum(t * t * t - t) AS BIGINT) AS ties
        |      FROM r)
        |SELECT n_a, n_b, r2a - n_a * (n_a + 1) AS u2_a, ties,
        |       round((r2a - n_a * (n_a + 1) - n_a * n_b) /
        |             (2.0 * sqrt(n_a * n_b / 12.0 *
        |               ((n_a + n_b + 1) - ties / ((n_a + n_b) * (n_a + n_b - 1.0))))), 6) AS z
        |FROM a""".stripMargin,
    // identical binarization and the same per-factor-sqrt IEEE tree
    "q_mcc_eval" ->
      s"""WITH l AS (
        |  SELECT label::BIGINT AS actual,
        |         CASE WHEN ${Hash.prefixSql("'pred:' || CAST(vec_id AS VARCHAR)")} % 100 < 20
        |              THEN (label + 1 + ${Hash.prefixSql("'tgt:' || CAST(vec_id AS VARCHAR)")} % 9) % 10
        |              ELSE label::BIGINT END AS pred
        |  FROM embeddings),
        |b AS (SELECT CAST(actual < 5 AS BIGINT) AS y, CAST(pred < 5 AS BIGINT) AS p FROM l),
        |c AS (SELECT CAST(sum(y * p) AS BIGINT) AS tp,
        |             CAST(sum((1 - y) * p) AS BIGINT) AS fp,
        |             CAST(sum(y * (1 - p)) AS BIGINT) AS fn,
        |             CAST(sum((1 - y) * (1 - p)) AS BIGINT) AS tn
        |      FROM b),
        |d AS (SELECT *, sqrt(CAST(tp + fp AS DOUBLE)) * sqrt(CAST(tp + fn AS DOUBLE))
        |               * sqrt(CAST(tn + fp AS DOUBLE)) * sqrt(CAST(tn + fn AS DOUBLE)) AS den_d
        |      FROM c)
        |SELECT tp, fp, fn, tn,
        |       CASE WHEN den_d = 0.0 THEN 0.0
        |            ELSE round((CAST(tp AS DOUBLE) * CAST(tn AS DOUBLE)
        |                        - CAST(fp AS DOUBLE) * CAST(fn AS DOUBLE)) / den_d, 6) + 0.0
        |       END AS mcc
        |FROM d""".stripMargin,
    // identical centi-bin rank census and the shared z/p fragments
    "q_wilcoxon_signed" ->
      s"""WITH u AS (
         |  SELECT user_id,
         |         CAST(sum(CASE WHEN day(CAST(ts AS TIMESTAMP)) <= 15
         |                  THEN CAST(round(value * 1000) AS BIGINT) ELSE 0 END) AS BIGINT)
         |         - CAST(sum(CASE WHEN day(CAST(ts AS TIMESTAMP)) <= 15
         |                  THEN 0 ELSE CAST(round(value * 1000) AS BIGINT) END) AS BIGINT)
         |           AS diff
         |  FROM events GROUP BY user_id),
         |d AS (SELECT abs(diff) // 10 AS vb, CAST(diff > 0 AS BIGINT) AS pos
         |      FROM u WHERE diff <> 0),
         |c AS (SELECT vb, CAST(count(*) AS BIGINT) AS n_v, CAST(sum(pos) AS BIGINT) AS pos_v
         |      FROM d GROUP BY 1),
         |r AS (SELECT n_v, pos_v,
         |             coalesce(sum(n_v) OVER (ORDER BY vb
         |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumb
         |      FROM c),
         |a AS (SELECT coalesce(CAST(sum(n_v) AS BIGINT), 0) AS n_pairs,
         |             coalesce(CAST(sum(pos_v * (2 * cumb + n_v + 1)) AS BIGINT), 0) AS w_plus_x2,
         |             coalesce(CAST(sum(CAST(n_v AS DECIMAL(12,0)) * CAST(n_v AS DECIMAL(12,0))
         |                               * CAST(n_v AS DECIMAL(12,0)) - n_v) AS DOUBLE), 0.0) AS tie3
         |      FROM r),
         |zz AS (SELECT *, ${StatsQueries.WilcoxonZSql} AS z FROM a),
         |xx AS (SELECT *, ${StatsQueries.AbXSql} AS x FROM zz),
         |tt AS (SELECT *, ${StatsQueries.AbTSql} AS t FROM xx),
         |ee AS (SELECT *, ${StatsQueries.AbEfSql} AS ef FROM tt)
         |SELECT n_pairs, w_plus_x2, tie3, ${StatsQueries.BhPSql} AS p_ppm,
         |       CAST(${StatsQueries.BhPSql} < 50000 AS BIGINT) AS significant
         |FROM ee""".stripMargin,
    "q_levene" ->
      """WITH m AS (SELECT l_returnflag, median(l_quantity) AS med FROM lineitem GROUP BY 1),
        |z AS (SELECT l.l_returnflag, abs(l.l_quantity - m.med) AS z
        |      FROM lineitem l JOIN m USING (l_returnflag)),
        |g AS (SELECT l_returnflag, count(*)::DOUBLE AS n, sum(z) AS sz, sum(z*z) AS szz
        |      FROM z GROUP BY 1),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(n) AS BIGINT) AS n_rows,
        |             sum(szz - sz*sz/n) AS within,
        |             sum(sz*sz/n) - sum(sz)*sum(sz)/sum(n) AS between_ss,
        |             sum(n) AS nd
        |      FROM g)
        |SELECT k, n_rows, k - 1 AS df1, n_rows - k AS df2,
        |       round((between_ss / (k - 1)) / (within / (nd - k)), 6) AS f_bf
        |FROM a""".stripMargin,
    // integer click rule h*pos < 300 mirrors the Spark side exactly
    "q_position_bias" ->
      s"""WITH ev AS (
        |  SELECT event_type,
        |         ${Hash.prefixSql("'pos:' || CAST(event_id AS VARCHAR)")} % 10 + 1 AS pos,
        |         ${Hash.prefixSql("'clk:' || CAST(event_id AS VARCHAR)")} % 1000 AS h
        |  FROM events),
        |c AS (SELECT event_type, pos, CAST(h * pos < 300 AS BIGINT) AS click FROM ev),
        |g AS (SELECT event_type, count(*) AS n, CAST(sum(click) AS BIGINT) AS clicks,
        |             CAST(sum(click * pos) AS BIGINT) AS ipw_sum
        |      FROM c GROUP BY 1)
        |SELECT event_type, n, clicks,
        |       clicks * 1000000 // n AS naive_ctr_ppm,
        |       ipw_sum * 1000000 // n AS ipw_ctr_ppm
        |FROM g ORDER BY event_type""".stripMargin
  )
}
