package graft.ml

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Hash, Tables}

/** Distributed model-TRAINING primitives: the two aggregates a
  * tree/linear-model trainer actually distributes — histogram-based best
  * split finding (the inner loop of every GBDT implementation) and a
  * full-batch logistic-regression gradient (the allreduce of every
  * data-parallel optimizer).
  *
  * Reference scope: the K-Means repo's mean-update (reducer.py:19-30) is
  * the same shape — per-group sufficient statistics folded map-side, model
  * recombined from a bounded frame; these queries generalize it to
  * supervised-learning statistics.
  *
  * Scale design: both queries reduce the fact table to a MODEL-SIZED frame
  * (feature×bin histogram cells; a d-long gradient vector) in ONE
  * map-side-combinable aggregate; everything after the shuffle is
  * arithmetic over that bounded frame. No row-scale float sum anywhere:
  * split statistics fold exact BIGINT counts (the chi-square is a fixed
  * IEEE expression tree over those integers, rounded at 6dp — the
  * EvalMetricsQueries discipline), and the gradient is exact because at
  * w=0 the logistic residual (y - 1/2) makes grad_j = 1/2·Σ sgn·x_j a pure
  * integer sum in micro-units.
  */
object TrainQueries extends graft.SparkEntry.Module {

  /** Split-candidate bins per feature (l_quantity DIV 5 → 0..10 bins;
    * discount cents → 0..10): a fixed histogram, the GBDT trick that
    * makes split finding one combinable aggregate instead of a sort.
    */
  private val QtyBinWidth = 5L

  /** (feature, bin, pos) rows: one explode per lineitem row into its two
    * feature cells; the groupBy collapses to <= 22 cells per partition
    * before the shuffle (partial aggregation), so the explode never
    * doubles shuffled bytes.
    */
  private def featureCells(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .select(
        (col("l_returnflag") === "R").cast("long").as("pos"),
        expr(s"CAST(l_quantity AS BIGINT) DIV $QtyBinWidth").as("qty_bin"),
        expr("CAST(round(l_discount * 100) AS BIGINT)").as("disc_bin"))
      .select(col("pos"), explode(array(
        struct(lit("qty").as("feature"), col("qty_bin").as("bin")),
        struct(lit("disc").as("feature"), col("disc_bin").as("bin")))).as("fb"))
      .groupBy(col("fb.feature").as("feature"), col("fb.bin").as("bin"))
      .agg(count(lit(1)).as("n"), sum("pos").as("np"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // NS: histogram best-split finder, the GBDT inner loop. Every split
    // candidate "feature <= bin" is scored by the 2x2 chi-square of the
    // (left/right, pos/neg) partition, from EXACT BIGINT cumulative counts
    // (window over the <=22-cell histogram — nothing after the first
    // aggregate scales with N). All BIGINT products are bounded: the
    // determinant |posL*negR - negL*posR| <= N^2 (3.6e11 at sf0.1, exact
    // as double), and the denominator is split as (nL*nR)·(posT*negT),
    // each <= N^2, BEFORE the double multiply — never a 4-way BIGINT
    // product that would wrap at N >= 56k. The chi2 itself is a fixed
    // IEEE tree over exact ints, rounded at 6dp on both engines.
    "q_tree_split" -> { (s, dir) =>
      val cells = featureCells(s, dir)
      val wCum = Window.partitionBy("feature").orderBy("bin")
      val wAll = Window.partitionBy("feature")
      val scored = cells
        .withColumn("n_left", sum("n").over(wCum))
        .withColumn("pos_left", sum("np").over(wCum))
        .withColumn("n_tot", sum("n").over(wAll))
        .withColumn("pos_tot", sum("np").over(wAll))
        .withColumn("n_right", col("n_tot") - col("n_left"))
        .withColumn("pos_right", col("pos_tot") - col("pos_left"))
        .filter(col("n_right") > 0)
        .withColumn("det",
          col("pos_left") * (col("n_right") - col("pos_right")) -
            (col("n_left") - col("pos_left")) * col("pos_right"))
        .filter(col("pos_tot") > 0 && col("pos_tot") < col("n_tot"))
        .withColumn("chi2", round(
          col("n_tot").cast("double") * col("det").cast("double") * col("det").cast("double") /
            ((col("n_left") * col("n_right")).cast("double") *
              (col("pos_tot") * (col("n_tot") - col("pos_tot"))).cast("double")), 6))
      scored
        .withColumn("rk", row_number().over(
          Window.orderBy(col("chi2").desc, col("feature"), col("bin"))))
        .select(col("feature"), col("bin").as("split_bin"),
          col("n_left"), col("pos_left"), col("n_right"), col("pos_right"),
          col("chi2"), (col("rk") === 1).cast("long").as("is_best"))
        .orderBy("feature", "split_bin")
    },

    // NS: one exact full-batch logistic-regression gradient step over the
    // embeddings (first 8 dims, micro-int units; y = label DIV 5). At
    // w = 0 the predicted probability is exactly 1/2, so the gradient
    // direction 2·Σ(y - 1/2)·x = Σ sgn·x is a PURE BIGINT sum — the one
    // point on the loss surface where the logistic allreduce needs no
    // transcendentals. The updated linear scorer sign(g·x) is then graded
    // in exact integer arithmetic (margin |Σ g_j·x_j| < 8·5e6·|g| stays
    // under 2^63 through the 10x stress scale — bound in the margin
    // comment). Dataflow: one d-bounded aggregate (the allreduce), the
    // 1-row model broadcast back, one scoring aggregate — data never
    // leaves executors, the model frame is the only thing that moves.
    "q_logreg_step" -> { (s, dir) =>
      // CAST ... AS DOUBLE before scaling on BOTH engines: Tables.embeddings
      // widens the parquet float32 to double, but DuckDB reads the raw
      // column and multiplies float*int in FLOAT — without the explicit
      // cast the micro-unit quantization disagrees by ±1 on a few rows,
      // which a full-corpus SUM (unlike a per-row verdict) always exposes.
      val xq = (j: Int) =>
        expr(s"CAST(round(CAST(element_at(embedding, $j) AS DOUBLE) * 1000000) AS BIGINT)")
          .as(s"x$j")
      val base = Tables.embeddings(s, dir)
        .select((Seq(col("vec_id"), expr("CAST(label AS BIGINT) DIV 5").as("y")) ++
          (1 to 8).map(xq)): _*)
        .withColumn("sgn", col("y") * 2 - 1)
      val gradCols = Seq(count(lit(1)).as("n"), sum("y").as("n_pos")) ++
        (1 to 8).map(j => sum(col("sgn") * col(s"x$j")).as(s"g$j"))
      val grad = base.agg(gradCols.head, gradCols.tail: _*)
      // margin_i = sum_j g_j * x_ij: g_j <= n_rows*5e6 and x <= 5e6, so
      // 8 * (2e4 * 5e6) * 5e6 = 4e18 < 2^63 at the synthetic-sf1 stress
      // row count — exact BIGINT, no wrap.
      val margin = (1 to 8).map(j => col(s"g$j") * col(s"x$j"))
        .reduce(_ + _)
      val outCols = Seq(
        max("n").as("n"), max("n_pos").as("n_pos"),
        expr("CAST(sum(CASE WHEN pred = y THEN 1 ELSE 0 END) * 1000000 DIV max(n) AS BIGINT)")
          .as("acc_ppm")) ++
        (1 to 8).map(j => max(s"g$j").as(s"g$j"))
      base.crossJoin(broadcast(grad))
        .withColumn("pred", (margin > 0).cast("long"))
        .agg(outCols.head, outCols.tail: _*)
    },

    // NS: one rank-1 ALS half-sweep — the matrix-factorization training
    // step every recommender distributes: ratings r(user, item) in exact
    // milli-units; item factors initialized to v0 = 1000 milli; user
    // factors solved in closed form u = Σ(r·v) DIV (Σ v² DIV 1000), then
    // item factors re-solved v1 = Σ(r·u) DIV (Σ u² DIV 1000), then the
    // residual SSE per item under (u, v1). All quantities non-negative
    // (values >= 0), so truncating DIV agrees with DuckDB's flooring //;
    // BIGINT bounds hold through the 10x stress scale (r <= 7e6 milli,
    // Σr·u <= 7e17). Dataflow is the canonical ALS alternation: one
    // (user, item) rating aggregate, one user-key solve, a join back on
    // user (u is ROW-SCALE at real scale — shuffle join, never collect),
    // one item-key solve, one item-key residual aggregate.
    "q_als_step" -> { (s, dir) =>
      val r = Tables.events(s, dir)
        .groupBy(col("user_id"), col("event_type").as("item"))
        .agg(expr("CAST(sum(CAST(round(value * 1000) AS BIGINT)) AS BIGINT)").as("r_milli"))
        .withColumn("v0", lit(1000L))
        .localCheckpoint(eager = false) // feeds the u-solve, the v-solve and the residual pass
      val u = r.groupBy("user_id")
        .agg(expr("CAST(sum(r_milli * v0) DIV (sum(v0 * v0) DIV 1000) AS BIGINT)").as("u_milli"))
      val ru = r.join(u, "user_id").localCheckpoint(eager = false)
      val v1 = ru.groupBy("item")
        .agg(expr("CAST(sum(r_milli * u_milli) DIV (sum(u_milli * u_milli) DIV 1000) AS BIGINT)")
          .as("v1_milli"))
      ru.join(broadcast(v1), "item")
        .withColumn("res", col("r_milli") - expr("u_milli * v1_milli DIV 1000"))
        .groupBy("item")
        .agg(count(lit(1)).as("n_ratings"),
          max("v1_milli").as("v1_milli"),
          sum(col("res") * col("res")).as("sse_milli2"))
        .orderBy("item")
    },

    // NS: depth-2 tree growth — the step q_tree_split is the inner loop
    // OF: apply the level-1 best split, re-histogram WITHIN each leaf,
    // and find each leaf's best level-2 split. This is the distributed
    // tree-build dataflow in miniature: one combinable histogram pass per
    // DEPTH LEVEL (the passes are inherently sequential — each needs the
    // previous level's split — which is exactly why GBDT cost scales with
    // depth x passes at 100 TB), with everything after each aggregate
    // bounded by cells, not rows. Same exact-BIGINT cumulative-count
    // chi2 as q_tree_split (products split before the double multiply);
    // level-1 winner selected by the same (chi2 desc, feature, bin)
    // total order and broadcast back as a 1-row frame.
    "q_tree_depth2" -> { (s, dir) =>
      def base = Tables.lineitem(s, dir)
        .select((col("l_returnflag") === "R").cast("long").as("pos"),
          expr(s"CAST(l_quantity AS BIGINT) DIV $QtyBinWidth").as("qty_bin"),
          expr("CAST(round(l_discount * 100) AS BIGINT)").as("disc_bin"))
      def chi2Col: Column = round(
        col("n_tot").cast("double") * col("det").cast("double") * col("det").cast("double") /
          ((col("n_left") * col("n_right")).cast("double") *
            (col("pos_tot") * (col("n_tot") - col("pos_tot"))).cast("double")), 6)
      def scoreCells(cells: DataFrame, part: Seq[String]): DataFrame = {
        val wCum = Window.partitionBy(part.map(col): _*).orderBy("bin")
        val wAll = Window.partitionBy(part.map(col): _*)
        cells
          .withColumn("n_left", sum("n").over(wCum))
          .withColumn("pos_left", sum("np").over(wCum))
          .withColumn("n_tot", sum("n").over(wAll))
          .withColumn("pos_tot", sum("np").over(wAll))
          .withColumn("n_right", col("n_tot") - col("n_left"))
          .withColumn("pos_right", col("pos_tot") - col("pos_left"))
          .filter(col("n_right") > 0 && col("pos_tot") > 0 && col("pos_tot") < col("n_tot"))
          .withColumn("det",
            col("pos_left") * (col("n_right") - col("pos_right")) -
              (col("n_left") - col("pos_left")) * col("pos_right"))
          .withColumn("chi2", chi2Col)
      }
      def explodeFb(df: DataFrame, extra: Seq[Column]): DataFrame =
        df.select(extra :+ col("pos") :+ explode(array(
          struct(lit("qty").as("feature"), col("qty_bin").as("bin")),
          struct(lit("disc").as("feature"), col("disc_bin").as("bin")))).as("fb"): _*)
      val l1cells = explodeFb(base, Seq.empty)
        .groupBy(col("fb.feature").as("feature"), col("fb.bin").as("bin"))
        .agg(count(lit(1)).as("n"), sum("pos").as("np"))
      val best1 = scoreCells(l1cells, Seq("feature"))
        .withColumn("rk", row_number().over(
          Window.orderBy(col("chi2").desc, col("feature"), col("bin"))))
        .filter(col("rk") === 1)
        .select(col("feature").as("f1"), col("bin").as("b1"))
      val leaves = base.crossJoin(broadcast(best1))
        .withColumn("leaf",
          when(when(col("f1") === "qty", col("qty_bin")).otherwise(col("disc_bin"))
            <= col("b1"), "L").otherwise("R"))
      val l2cells = explodeFb(leaves, Seq(col("leaf"), col("f1"), col("b1")))
        .groupBy(col("leaf"), col("f1"), col("b1"),
          col("fb.feature").as("feature"), col("fb.bin").as("bin"))
        .agg(count(lit(1)).as("n"), sum("pos").as("np"))
      scoreCells(l2cells, Seq("leaf", "feature"))
        .withColumn("rk", row_number().over(Window.partitionBy("leaf")
          .orderBy(col("chi2").desc, col("feature"), col("bin"))))
        .filter(col("rk") === 1)
        .select(col("leaf"), col("f1").as("l1_feature"), col("b1").as("l1_bin"),
          col("feature").as("l2_feature"), col("bin").as("l2_bin"),
          col("n_left"), col("pos_left"), col("n_right"), col("pos_right"),
          col("chi2"))
        .orderBy("leaf")
    },

    // NS: multinomial Naive Bayes over document tokens (class = lang,
    // Laplace +1) — the count-based text classifier whose training IS one
    // combinable aggregate (the reason NB was the first MapReduce-scale
    // learner). md5 parity splits train/test; the model is the vocab x
    // |langs| count frame; each log-likelihood ln((c+1)/(T_l+V)) and the
    // prior ln(D_l/D) round to MICRO-NAT BIGINTs (the LM-scoring
    // discipline of q_unigram_logprob), so per-doc scores are exact
    // integer sums. Scoring joins the token stream to the 5-row lang
    // frame (linear x5) and left-joins the model — OOV terms coalesce to
    // the per-lang Laplace floor. Argmax per doc is the packed-key max:
    // scores shift non-negative by -min(score) — a 1-row broadcast
    // aggregate, so the shift is total over ANY doc length (a constant
    // envelope breached by a long-enough doc made packed negative, where
    // Spark pmod and DuckDB % diverge silently); pack = shifted*8 +
    // (7-idx) so a tie picks the lexicographically smallest lang.
    // Output: the (true lang, predicted lang) confusion census of the
    // test half.
    "q_naive_bayes" -> { (s, dir) =>
      // fixture lang codes, lexically indexed (documented fixture
      // assumption, same class as the hardcoded event_type domains).
      // DIVERGENCE NOTE (r13, from the r12 advisor): a training-data lang
      // OUTSIDE this registry still contributes its tokens to the vocab
      // size v but can never be a CANDIDATE in the wide model, whereas the
      // r11 tall shape carried unknown langs as candidates. Confined to
      // out-of-contract fixture data; if the fixture's lang domain ever
      // grows, the oracle diff surfaces it (v shifts on every row), and
      // this list is the one place to extend.
      val Langs = Seq("de", "en", "es", "fr", "zh")
      val docs = Tables.documents(s, dir)
        .withColumn("is_train", pmod(Hash.prefix(concat(lit("nb:"), col("doc_id"))), lit(2L)))
      val trainTok = docs.filter(col("is_train") === 1)
        .select(col("lang"), explode(split(col("text"), " ")).as("term"))
        .filter(length(col("term")) > 0)
      // r12 (guide §2.3 "shuffle fewer bytes"): the model is PIVOTED to one
      // row per term with a count column per lang (the lang domain is the
      // fixed 5-code registry, so the width is bounded). The r11 shape
      // crossJoined every test token x5 langs and joined the tall
      // (lang, term) model on (cand, term) — a 5x multiplication of the
      // scoring shuffle and a per-(doc, cand) aggregate; here each test
      // token joins the wide model ONCE on term, all 5 log-likelihoods ride
      // the same row, the per-doc aggregate is 5 integer sums, and the
      // argmax is an in-row greatest() over (score, 7-idx) structs — same
      // integers, same smallest-idx tie-break, no shift/pmod machinery
      // (nothing is packed, so nothing can go negative). A lang with no
      // training docs or no training tokens scores null and is skipped by
      // greatest — exactly the r11 inner-join candidate set; an all-null
      // row (no training data at all) is filtered, matching the r11
      // empty-frame census.
      val model = trainTok.groupBy("term")
        .agg(sum(when(col("lang") === Langs.head, 1L)).as("c0"),
          Langs.tail.zipWithIndex.map { case (l, i) =>
            sum(when(col("lang") === l, 1L)).as(s"c${i + 1}") }: _*)
        .localCheckpoint(eager = false) // feeds totals+vocab AND the scoring join
      val totCols = Seq(count(lit(1)).as("v")) ++
        Langs.indices.map(i => sum(coalesce(col(s"c$i"), lit(0L))).as(s"t$i"))
      val totals = model.agg(totCols.head, totCols.tail: _*)
      val priorCols = Seq(count(lit(1)).as("d")) ++
        Langs.zipWithIndex.map { case (l, i) =>
          sum(when(col("lang") === l, 1L)).as(s"d$i") }
      val priors = docs.filter(col("is_train") === 1).agg(priorCols.head, priorCols.tail: _*)
      // prior/oov guarded by candidacy: a lang with no training docs or
      // tokens would put ln(0)/ln(inf) through the ANSI BIGINT cast — the
      // r11 inner-join shape never materialized those rows at all
      val statCols = Langs.indices.flatMap { i =>
        val isCand = col(s"d$i") > 0 && col(s"t$i") > 0
        Seq(col(s"t$i"),
          when(isCand,
            expr(s"CAST(round(ln(CAST(d$i AS DOUBLE) / CAST(d AS DOUBLE)) * 1000000) AS BIGINT)"))
            .as(s"prior_mn$i"),
          when(isCand,
            expr(s"CAST(round(ln(1.0 / CAST(t$i + v AS DOUBLE)) * 1000000) AS BIGINT)"))
            .as(s"oov_mn$i"),
          isCand.as(s"cand$i"))
      } :+ col("v")
      val stats = broadcast(totals.crossJoin(priors).select(statCols: _*))
      val testTok = docs.filter(col("is_train") === 0)
        .select(col("doc_id"), col("lang").as("true_lang"),
          explode(split(col("text"), " ")).as("term"))
        .filter(length(col("term")) > 0)
      val llCols = Langs.indices.map { i =>
        when(col(s"cand$i"),
          when(col(s"c$i").isNotNull,
            expr(s"CAST(round(ln(CAST(c$i + 1 AS DOUBLE) / CAST(t$i + v AS DOUBLE)) * 1000000) AS BIGINT)"))
            .otherwise(col(s"oov_mn$i"))).as(s"ll$i")
      }
      val scored = testTok
        .join(model, Seq("term"), "left_outer")
        .crossJoin(stats)
        .select(Seq(col("doc_id"), col("true_lang")) ++ llCols ++
          Langs.indices.flatMap(i => Seq(col(s"prior_mn$i"), col(s"cand$i"))): _*)
        .groupBy("doc_id", "true_lang")
        .agg((max(s"prior_mn0") + sum("ll0")).as("s0"),
          (Langs.indices.tail.map(i =>
            (max(s"prior_mn$i") + sum(s"ll$i")).as(s"s$i")) :+
            max(struct(Langs.indices.map(i => col(s"cand$i")): _*)).as("cands")): _*)
      val best = greatest(Langs.indices.map(i =>
        when(col("cands").getField(s"cand$i"), struct(col(s"s$i").as("s"),
          lit(7L - i).as("p")))): _*)
      val pred = scored
        .withColumn("best", best)
        .filter(col("best").isNotNull)
        .withColumn("pred_idx", lit(7L) - col("best.p"))
        .withColumn("pred_lang",
          expr("CASE pred_idx WHEN 0 THEN 'de' WHEN 1 THEN 'en' WHEN 2 THEN 'es' " +
            "WHEN 3 THEN 'fr' WHEN 4 THEN 'zh' END"))
      pred.groupBy("true_lang", "pred_lang").agg(count(lit(1)).as("n"))
        .orderBy("true_lang", "pred_lang")
    },

    // NS: two-feature OLS via the normal equations — the closed-form
    // regression a distributed trainer actually runs (one pass for the
    // exact sufficient statistics, Cramer's rule on the 3x3 system at the
    // driver — nothing iterative, nothing row-scale after the aggregate).
    // x1 = quantity units, x2 = discount cents, y = price in WHOLE
    // dollars (cents would put Σy² at 6e19 — past BIGINT — by sf0.1;
    // dollars cap it at 6e16 through 10x stress): every Σ is EXACT
    // BIGINT; the determinants are
    // fixed IEEE trees over those exact integers (products ~1e47 exceed
    // BIGINT by design — double is the right register; the 6dp rounding
    // is shared by both engines). R² from the same sums. The first normal
    // equation (n·b0 + b1·Σx1 + b2·Σx2 = Σy) is the spec's exactness pin.
    "q_ols_normal" -> { (s, dir) =>
      val sums = Tables.lineitem(s, dir)
        .select(col("l_quantity").cast("long").as("x1"),
          expr("CAST(round(l_discount * 100) AS BIGINT)").as("x2"),
          expr("CAST(round(l_extendedprice) AS BIGINT)").as("y"))
        .agg(count(lit(1)).as("n"),
          sum("x1").as("s1"), sum("x2").as("s2"), sum("y").as("sy"),
          sum(col("x1") * col("x1")).as("s11"),
          sum(col("x1") * col("x2")).as("s12"),
          sum(col("x2") * col("x2")).as("s22"),
          sum(col("x1") * col("y")).as("s1y"),
          sum(col("x2") * col("y")).as("s2y"),
          sum(col("y") * col("y")).as("syy"))
      def d(c: String) = col(c).cast("double")
      // 3x3 Cramer determinants, expanded along the first row
      val det = d("n") * (d("s11") * d("s22") - d("s12") * d("s12")) -
        d("s1") * (d("s1") * d("s22") - d("s12") * d("s2")) +
        d("s2") * (d("s1") * d("s12") - d("s11") * d("s2"))
      val det0 = d("sy") * (d("s11") * d("s22") - d("s12") * d("s12")) -
        d("s1") * (d("s1y") * d("s22") - d("s12") * d("s2y")) +
        d("s2") * (d("s1y") * d("s12") - d("s11") * d("s2y"))
      val det1 = d("n") * (d("s1y") * d("s22") - d("s12") * d("s2y")) -
        d("sy") * (d("s1") * d("s22") - d("s12") * d("s2")) +
        d("s2") * (d("s1") * d("s2y") - d("s1y") * d("s2"))
      val det2 = d("n") * (d("s11") * d("s2y") - d("s1y") * d("s12")) -
        d("s1") * (d("s1") * d("s2y") - d("s1y") * d("s2")) +
        d("sy") * (d("s1") * d("s12") - d("s11") * d("s2"))
      val b0 = det0 / det; val b1 = det1 / det; val b2 = det2 / det
      val sse = d("syy") - b0 * d("sy") - b1 * d("s1y") - b2 * d("s2y")
      val sst = d("syy") - d("sy") * d("sy") / d("n")
      sums.select(col("n"),
        round(b0, 6).as("b0_dollars"), round(b1, 6).as("b1_dollars_per_unit"),
        round(b2, 6).as("b2_dollars_per_disc"),
        round(lit(1.0) - sse / sst, 6).as("r2"))
    }
  )

  /** Shared oracle fragment: score split candidates (cumulative counts +
    * the exact-int chi2 tree) over a cells relation, per `part` keys.
    */
  private def scoredCte(cells: String, part: String): String =
    s"""(SELECT *,
       |        n_tot - n_left AS n_right, pos_tot - pos_left AS pos_right,
       |        pos_left * ((n_tot - n_left) - (pos_tot - pos_left))
       |          - (n_left - pos_left) * (pos_tot - pos_left) AS det
       | FROM (SELECT *,
       |              CAST(sum(n)  OVER (PARTITION BY $part ORDER BY bin) AS BIGINT) AS n_left,
       |              CAST(sum(np) OVER (PARTITION BY $part ORDER BY bin) AS BIGINT) AS pos_left,
       |              CAST(sum(n)  OVER (PARTITION BY $part) AS BIGINT) AS n_tot,
       |              CAST(sum(np) OVER (PARTITION BY $part) AS BIGINT) AS pos_tot
       |       FROM $cells)
       | WHERE n_tot - n_left > 0 AND pos_tot > 0 AND pos_tot < n_tot)""".stripMargin

  private val chi2Sql: String =
    """round(CAST(n_tot AS DOUBLE) * CAST(det AS DOUBLE) * CAST(det AS DOUBLE)
      |      / (CAST(n_left * n_right AS DOUBLE)
      |         * CAST(pos_tot * (n_tot - pos_tot) AS DOUBLE)), 6)""".stripMargin

  def oracleSql: Map[String, String] = Map(
    // identical two-level histogram passes and chi2 trees
    "q_tree_depth2" ->
      s"""WITH base AS (
         |  SELECT CAST(l_returnflag = 'R' AS BIGINT) AS pos,
         |         CAST(l_quantity AS BIGINT) // $QtyBinWidth AS qty_bin,
         |         CAST(round(l_discount * 100) AS BIGINT) AS disc_bin
         |  FROM lineitem),
         |l1 AS (
         |  SELECT feature, bin, count(*) AS n, CAST(sum(pos) AS BIGINT) AS np
         |  FROM (SELECT pos, unnest(['qty', 'disc']) AS feature,
         |               unnest([qty_bin, disc_bin]) AS bin FROM base)
         |  GROUP BY 1, 2),
         |s1 AS (SELECT *, $chi2Sql AS chi2 FROM ${scoredCte("l1", "feature")} sc),
         |b1 AS (
         |  SELECT feature AS f1, bin AS b1 FROM (
         |    SELECT feature, bin,
         |           row_number() OVER (ORDER BY chi2 DESC, feature, bin) AS rk
         |    FROM s1) WHERE rk = 1),
         |lv AS (
         |  SELECT base.pos, base.qty_bin, base.disc_bin, b1.f1, b1.b1,
         |         CASE WHEN (CASE WHEN b1.f1 = 'qty' THEN base.qty_bin
         |                         ELSE base.disc_bin END) <= b1.b1
         |              THEN 'L' ELSE 'R' END AS leaf
         |  FROM base CROSS JOIN b1),
         |l2 AS (
         |  SELECT leaf, f1, b1, feature, bin, count(*) AS n,
         |         CAST(sum(pos) AS BIGINT) AS np
         |  FROM (SELECT leaf, f1, b1, pos, unnest(['qty', 'disc']) AS feature,
         |               unnest([qty_bin, disc_bin]) AS bin FROM lv)
         |  GROUP BY 1, 2, 3, 4, 5),
         |s2 AS (SELECT *, $chi2Sql AS chi2
         |       FROM ${scoredCte("l2", "leaf, feature")} sc)
         |SELECT leaf, f1 AS l1_feature, b1 AS l1_bin,
         |       feature AS l2_feature, bin AS l2_bin,
         |       n_left, pos_left, n_right, pos_right, chi2
         |FROM (SELECT *, row_number() OVER (PARTITION BY leaf
         |        ORDER BY chi2 DESC, feature, bin) AS rk FROM s2)
         |WHERE rk = 1 ORDER BY leaf""".stripMargin,
    "q_tree_split" ->
      s"""WITH cells AS (
         |  SELECT feature, bin, count(*) AS n, CAST(sum(pos) AS BIGINT) AS np
         |  FROM (
         |    SELECT CAST(l_returnflag = 'R' AS BIGINT) AS pos,
         |           unnest(['qty', 'disc']) AS feature,
         |           unnest([CAST(l_quantity AS BIGINT) // $QtyBinWidth,
         |                   CAST(round(l_discount * 100) AS BIGINT)]) AS bin
         |    FROM lineitem)
         |  GROUP BY feature, bin),
         |cum AS (
         |  SELECT feature, bin,
         |         CAST(sum(n)  OVER (PARTITION BY feature ORDER BY bin) AS BIGINT) AS n_left,
         |         CAST(sum(np) OVER (PARTITION BY feature ORDER BY bin) AS BIGINT) AS pos_left,
         |         CAST(sum(n)  OVER (PARTITION BY feature) AS BIGINT) AS n_tot,
         |         CAST(sum(np) OVER (PARTITION BY feature) AS BIGINT) AS pos_tot
         |  FROM cells),
         |sc AS (
         |  SELECT feature, bin, n_left, pos_left,
         |         n_tot - n_left AS n_right, pos_tot - pos_left AS pos_right,
         |         pos_left * ((n_tot - n_left) - (pos_tot - pos_left))
         |           - (n_left - pos_left) * (pos_tot - pos_left) AS det,
         |         n_tot, pos_tot
         |  FROM cum
         |  WHERE n_tot - n_left > 0 AND pos_tot > 0 AND pos_tot < n_tot),
         |sc2 AS (
         |  SELECT feature, bin, n_left, pos_left, n_right, pos_right,
         |         round(CAST(n_tot AS DOUBLE) * CAST(det AS DOUBLE) * CAST(det AS DOUBLE)
         |               / (CAST(n_left * n_right AS DOUBLE)
         |                  * CAST(pos_tot * (n_tot - pos_tot) AS DOUBLE)), 6) AS chi2
         |  FROM sc)
         |SELECT feature, bin AS split_bin, n_left, pos_left, n_right, pos_right, chi2,
         |       CAST(row_number() OVER (ORDER BY chi2 DESC, feature, bin) = 1 AS BIGINT) AS is_best
         |FROM sc2
         |ORDER BY feature, split_bin""".stripMargin,
    "q_logreg_step" -> {
      val xs = (1 to 8).map(j =>
        s"CAST(round(CAST(embedding[$j] AS DOUBLE) * 1000000) AS BIGINT) AS x$j")
        .mkString(",\n        |         ")
      val gs = (1 to 8).map(j => s"CAST(sum(sgn * x$j) AS BIGINT) AS g$j").mkString(",\n        |         ")
      val dot = (1 to 8).map(j => s"g.g$j * b.x$j").mkString(" + ")
      s"""WITH base AS (
         |  SELECT vec_id, CAST(label AS BIGINT) // 5 AS y,
         |         CAST(label AS BIGINT) // 5 * 2 - 1 AS sgn,
         |         $xs
         |  FROM embeddings),
         |g AS (
         |  SELECT count(*) AS n, CAST(sum(y) AS BIGINT) AS n_pos,
         |         $gs
         |  FROM base)
         |SELECT g.n AS n, g.n_pos AS n_pos,
         |       CAST(sum(CASE WHEN ($dot > 0) = (b.y = 1) THEN 1 ELSE 0 END)
         |            * 1000000 // g.n AS BIGINT) AS acc_ppm,
         |       ${(1 to 8).map(j => s"g.g$j AS g$j").mkString(", ")}
         |FROM base b CROSS JOIN g
         |GROUP BY g.n, g.n_pos, ${(1 to 8).map(j => s"g.g$j").mkString(", ")}""".stripMargin
    },
    // identical integer alternation; all operands non-negative so // = DIV
    "q_als_step" ->
      """WITH r AS (
        |  SELECT user_id, event_type AS item,
        |         CAST(sum(CAST(round(value * 1000) AS BIGINT)) AS BIGINT) AS r_milli,
        |         CAST(1000 AS BIGINT) AS v0
        |  FROM events GROUP BY 1, 2),
        |u AS (SELECT user_id,
        |             sum(r_milli * v0) // (sum(v0 * v0) // 1000) AS u_milli
        |      FROM r GROUP BY user_id),
        |ru AS (SELECT r.item, r.r_milli, u.u_milli
        |       FROM r JOIN u USING (user_id)),
        |v1 AS (SELECT item,
        |              sum(r_milli * u_milli) // (sum(u_milli * u_milli) // 1000) AS v1_milli
        |       FROM ru GROUP BY item)
        |SELECT ru.item, count(*) AS n_ratings,
        |       CAST(max(v1.v1_milli) AS BIGINT) AS v1_milli,
        |       CAST(sum((ru.r_milli - ru.u_milli * v1.v1_milli // 1000)
        |                * (ru.r_milli - ru.u_milli * v1.v1_milli // 1000)) AS BIGINT) AS sse_milli2
        |FROM ru JOIN v1 USING (item)
        |GROUP BY ru.item
        |ORDER BY ru.item""".stripMargin,
    // identical md5 split, micro-nat rounding and packed argmax
    "q_naive_bayes" ->
      s"""WITH docs AS (
        |  SELECT doc_id, lang, text,
        |         ${Hash.prefixSql("'nb:' || CAST(doc_id AS VARCHAR)")} % 2 AS is_train
        |  FROM documents),
        |ttok AS (
        |  SELECT lang, unnest(string_split(text, ' ')) AS term
        |  FROM docs WHERE is_train = 1),
        |model AS (
        |  SELECT lang, term, CAST(count(*) AS BIGINT) AS c
        |  FROM ttok WHERE len(term) > 0 GROUP BY 1, 2),
        |lt AS (SELECT lang, CAST(sum(c) AS BIGINT) AS t_l FROM model GROUP BY 1),
        |vc AS (SELECT CAST(count(DISTINCT term) AS BIGINT) AS v FROM model),
        |pr AS (SELECT lang, CAST(count(*) AS BIGINT) AS d_l
        |       FROM docs WHERE is_train = 1 GROUP BY 1),
        |dt AS (SELECT CAST(sum(d_l) AS BIGINT) AS d FROM pr),
        |lf AS (
        |  SELECT lt.lang AS cand, t_l, v,
        |         CAST(round(ln(CAST(d_l AS DOUBLE) / CAST(d AS DOUBLE)) * 1000000) AS BIGINT) AS prior_mn,
        |         CAST(round(ln(1.0 / CAST(t_l + v AS DOUBLE)) * 1000000) AS BIGINT) AS oov_mn
        |  FROM lt JOIN pr ON lt.lang = pr.lang CROSS JOIN vc CROSS JOIN dt),
        |tt AS (
        |  SELECT doc_id, true_lang, term FROM (
        |    SELECT doc_id, lang AS true_lang,
        |           unnest(string_split(text, ' ')) AS term
        |    FROM docs WHERE is_train = 0)
        |  WHERE len(term) > 0),
        |sc AS (
        |  SELECT tt.doc_id, tt.true_lang, lf.cand,
        |         max(lf.prior_mn) + CAST(sum(CASE WHEN m.c IS NOT NULL
        |           THEN CAST(round(ln(CAST(m.c + 1 AS DOUBLE)
        |                / CAST(lf.t_l + lf.v AS DOUBLE)) * 1000000) AS BIGINT)
        |           ELSE lf.oov_mn END) AS BIGINT) AS score_mn
        |  FROM tt CROSS JOIN lf
        |  LEFT JOIN model m ON m.lang = lf.cand AND m.term = tt.term
        |  GROUP BY 1, 2, 3),
        |shift AS (SELECT greatest(-min(score_mn), 0) AS shift_mn FROM sc),
        |pk AS (
        |  SELECT doc_id, true_lang,
        |         max((score_mn + shift_mn) * 8 + (7 - CASE cand
        |           WHEN 'de' THEN 0 WHEN 'en' THEN 1 WHEN 'es' THEN 2
        |           WHEN 'fr' THEN 3 WHEN 'zh' THEN 4 END)) AS packed
        |  FROM sc CROSS JOIN shift GROUP BY 1, 2),
        |pred AS (
        |  SELECT true_lang,
        |         CASE 7 - (packed % 8) WHEN 0 THEN 'de' WHEN 1 THEN 'en'
        |           WHEN 2 THEN 'es' WHEN 3 THEN 'fr' WHEN 4 THEN 'zh' END AS pred_lang
        |  FROM pk)
        |SELECT true_lang, pred_lang, CAST(count(*) AS BIGINT) AS n
        |FROM pred GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // same exact sums; the Cramer expansion keeps the identical IEEE
    // association order (left-assoc a - b + c; paired products)
    "q_ols_normal" -> {
      def D(c: String) = s"CAST($c AS DOUBLE)"
      val det =
        s"""${D("n")} * (${D("s11")} * ${D("s22")} - ${D("s12")} * ${D("s12")})
           | - ${D("s1")} * (${D("s1")} * ${D("s22")} - ${D("s12")} * ${D("s2")})
           | + ${D("s2")} * (${D("s1")} * ${D("s12")} - ${D("s11")} * ${D("s2")})""".stripMargin
      val det0 =
        s"""${D("sy")} * (${D("s11")} * ${D("s22")} - ${D("s12")} * ${D("s12")})
           | - ${D("s1")} * (${D("s1y")} * ${D("s22")} - ${D("s12")} * ${D("s2y")})
           | + ${D("s2")} * (${D("s1y")} * ${D("s12")} - ${D("s11")} * ${D("s2y")})""".stripMargin
      val det1 =
        s"""${D("n")} * (${D("s1y")} * ${D("s22")} - ${D("s12")} * ${D("s2y")})
           | - ${D("sy")} * (${D("s1")} * ${D("s22")} - ${D("s12")} * ${D("s2")})
           | + ${D("s2")} * (${D("s1")} * ${D("s2y")} - ${D("s1y")} * ${D("s2")})""".stripMargin
      val det2 =
        s"""${D("n")} * (${D("s11")} * ${D("s2y")} - ${D("s1y")} * ${D("s12")})
           | - ${D("s1")} * (${D("s1")} * ${D("s2y")} - ${D("s1y")} * ${D("s2")})
           | + ${D("sy")} * (${D("s1")} * ${D("s12")} - ${D("s11")} * ${D("s2")})""".stripMargin
      s"""WITH s AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |         CAST(sum(x1) AS BIGINT) AS s1, CAST(sum(x2) AS BIGINT) AS s2,
         |         CAST(sum(y) AS BIGINT) AS sy,
         |         CAST(sum(x1*x1) AS BIGINT) AS s11, CAST(sum(x1*x2) AS BIGINT) AS s12,
         |         CAST(sum(x2*x2) AS BIGINT) AS s22, CAST(sum(x1*y) AS BIGINT) AS s1y,
         |         CAST(sum(x2*y) AS BIGINT) AS s2y, CAST(sum(y*y) AS BIGINT) AS syy
         |  FROM (SELECT CAST(l_quantity AS BIGINT) AS x1,
         |               CAST(round(l_discount * 100) AS BIGINT) AS x2,
         |               CAST(round(l_extendedprice) AS BIGINT) AS y FROM lineitem)),
         |b AS (
         |  SELECT n, sy, s1y, s2y, syy,
         |         ($det0) / ($det) AS b0,
         |         ($det1) / ($det) AS b1,
         |         ($det2) / ($det) AS b2
         |  FROM s)
         |SELECT n, round(b0, 6) AS b0_dollars, round(b1, 6) AS b1_dollars_per_unit,
         |       round(b2, 6) AS b2_dollars_per_disc,
         |       round(1.0 - (CAST(syy AS DOUBLE) - b0 * CAST(sy AS DOUBLE)
         |                    - b1 * CAST(s1y AS DOUBLE) - b2 * CAST(s2y AS DOUBLE))
         |                 / (CAST(syy AS DOUBLE)
         |                    - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)), 6) AS r2
         |FROM b""".stripMargin
    }
  )
}
