package graft.queries

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEntry, TestSpark}

/** Semantic invariants of the round-7 scale-diagnostics operators
  * (q_skew_census, q_lsh_tuning, q_perplexity_gate, q_dataset_card,
  * q_sql_tpch_q7) — properties the DuckDB hash gate cannot express.
  */
class ScaleOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private def run(name: String): Array[Row] =
    SparkEntry.queries(name)(spark, TestSpark.Sf0001).collect()

  test("q_skew_census: internal consistency of the census row") {
    val r = run("q_skew_census").head
    val nRows = r.getAs[Long]("n_rows")
    val nKeys = r.getAs[Long]("n_keys")
    val maxF = r.getAs[Long]("max_f")
    val p99 = r.getAs[Long]("p99_f")
    assert(nKeys > 0 && nRows >= nKeys)
    // p99 of the frequency distribution can never exceed the max
    assert(p99 >= 1 && p99 <= maxF)
    // top_share_ppm and skew_x100 replay exactly from the parts
    assert(r.getAs[Long]("top_share_ppm") === maxF * 1000000L / nRows)
    assert(r.getAs[Long]("skew_x100") === maxF * 100L * nKeys / nRows)
    // orders per customer in the fixture is benign — the census must SAY so
    // (skew ratio well under the >= 10x salting rule of thumb)
    assert(r.getAs[Long]("skew_x100") < 1000L,
      s"fixture o_custkey reads as skewed: ${r}")
  }

  test("q_skew_census agrees with a direct max-frequency probe") {
    import org.apache.spark.sql.functions._
    val direct = graft.core.Tables.orders(spark, TestSpark.Sf0001)
      .groupBy("o_custkey").count().agg(max("count")).head().getLong(0)
    assert(run("q_skew_census").head.getAs[Long]("max_f") === direct)
  }

  test("q_lsh_tuning: S-curve monotonicity across configs") {
    val rows = run("q_lsh_tuning").map(r =>
      (r.getAs[Long]("r"), r.getAs[Long]("n_pairs"), r.getAs[Double]("exp_candidates"),
        r.getAs[Double]("fire_hi"))).sortBy(_._1)
    assert(rows.map(_._1).toSeq === Seq(1L, 2L, 4L, 8L))
    // all configs see the same observed pair set
    assert(rows.map(_._2).distinct.length === 1)
    val nPairs = rows.head._2.toDouble
    rows.foreach { case (_, _, exp, hi) =>
      assert(exp >= 0.0 && exp <= nPairs + 1e-6)
      assert(hi == -1.0 || (hi >= 0.0 && hi <= 1.0))
    }
    // more rows per band (bigger r) = a sharper, LESS permissive curve:
    // expected candidate volume must be non-increasing in r at fixed K=b*r
    val exps = rows.map(_._3).toSeq
    assert(exps.zip(exps.tail).forall { case (a, b) => a >= b - 1e-9 },
      s"expected candidates not monotone in r: $exps")
    // (32,1) fires on ANY matching row: every pair with j>0 is near-certain,
    // so its expected volume must dominate the production (4,8) config
    assert(exps.head >= exps.last)
  }

  test("q_perplexity_gate: kept counts are sane and the rule binds") {
    val rows = run("q_perplexity_gate")
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val n = r.getAs[Long]("n_docs")
      val kept = r.getAs[Long]("n_kept")
      assert(n > 0 && kept >= 0 && kept <= n)
      assert(r.getAs[Long]("mean_nll_micro") > 0)
    }
    // across the corpus the 1.25x-mean rule must keep a majority but not
    // everything (NLL distributions have a right tail by construction)
    val tot = rows.map(_.getAs[Long]("n_docs")).sum
    val kept = rows.map(_.getAs[Long]("n_kept")).sum
    assert(kept * 2 > tot, s"gate kept a minority: $kept/$tot")
    assert(kept < tot, s"gate kept everything: $kept/$tot — rule never binds")
  }

  test("q_dataset_card: totals reconcile with the documents table") {
    import org.apache.spark.sql.functions._
    val docs = graft.core.Tables.documents(spark, TestSpark.Sf0001)
    val rows = run("q_dataset_card")
    assert(rows.map(_.getAs[Long]("n_docs")).sum === docs.count())
    val directTokens = docs.select(sum(size(split(col("text"), " ")))).head().getLong(0)
    assert(rows.map(_.getAs[Long]("total_tokens")).sum === directTokens)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_dup_surplus") >= 0)
      assert(r.getAs[Long]("n_langs") >= 1)
      assert(r.getAs[Long]("mean_chars") > 0)
    }
  }

  test("q_epoch_plan: water-filling invariants — budget exhausted exactly, caps respected") {
    import org.apache.spark.sql.functions._
    val rows = run("q_epoch_plan")
    val totTokens = rows.map(_.getAs[Long]("n_tokens")).sum
    val budget = totTokens * 2
    rows.foreach { r =>
      val cap = r.getAs[Long]("cap")
      val alloc = r.getAs[Long]("alloc")
      assert(cap === r.getAs[Long]("n_tokens") * 4)
      assert(alloc >= 0 && alloc <= cap, s"alloc $alloc outside [0, $cap]")
    }
    // the defining property: the budget is spent to the last token
    assert(rows.map(_.getAs[Long]("alloc")).sum === budget)
    // level-clamped sources all sit within 1 token of each other
    val clamped = rows.filter(r => r.getAs[Long]("alloc") < r.getAs[Long]("cap"))
      .map(_.getAs[Long]("alloc"))
    if (clamped.length > 1)
      assert(clamped.max - clamped.min <= 1,
        s"water line not level: ${clamped.min}..${clamped.max}")
  }

  test("q_range_boundaries: 7 non-decreasing equi-depth split points") {
    val rows = run("q_range_boundaries").sortBy(_.getAs[Long]("split_no"))
    assert(rows.map(_.getAs[Long]("split_no")).toSeq === (1L to 7L))
    val bs = rows.map(_.getAs[Long]("boundary_bucket")).toSeq
    assert(bs.zip(bs.tail).forall { case (a, b) => a <= b }, s"not monotone: $bs")
  }

  test("q_dup_rate: counts bounded and every source reported") {
    import org.apache.spark.sql.functions._
    val rows = run("q_dup_rate")
    val nSources = graft.core.Tables.documents(spark, TestSpark.Sf0001)
      .select(countDistinct("source")).head().getLong(0)
    assert(rows.length.toLong === nSources)
    rows.foreach { r =>
      val n = r.getAs[Long]("n_docs")
      val d = r.getAs[Long]("n_neardup")
      assert(d >= 0 && d <= n)
      assert(r.getAs[Long]("dup_ppm") === d * 1000000L / n)
    }
  }

  test("q_chunk_plan: chunk arithmetic covers every token exactly once per window") {
    run("q_chunk_plan").foreach { r =>
      val n = r.getAs[Long]("n_tokens")
      val k = r.getAs[Long]("n_chunks")
      val last = r.getAs[Long]("last_start")
      assert(k >= 1)
      assert(last === (k - 1) * 96)
      // the last window must reach the end of the doc...
      assert(last + 128 >= n, s"doc tail uncovered: n=$n k=$k")
      // ...and a shorter plan must NOT suffice (minimality)
      if (k > 1) assert((k - 2) * 96 + 128 < n, s"overchunked: n=$n k=$k")
      assert(r.getAs[Long]("overlap_tokens") === (k - 1) * 32)
    }
  }

  test("q_embed_census: fixture embeddings are 64-d, nonzero, norm-envelope-consistent") {
    val rows = run("q_embed_census")
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("min_dims") === 64L && r.getAs[Long]("max_dims") === 64L)
      assert(r.getAs[Long]("n_zero") === 0L)
      val (lo, hi, mean) = (r.getAs[Double]("min_norm"),
        r.getAs[Double]("max_norm"), r.getAs[Double]("mean_norm"))
      assert(lo > 0 && lo <= mean && mean <= hi)
    }
  }

  test("q_vocab_coverage: monotone thresholds and exact-mass feasibility") {
    import org.apache.spark.sql.functions._
    val rows = run("q_vocab_coverage").sortBy(_.getAs[Long]("pct"))
    assert(rows.map(_.getAs[Long]("pct")).toSeq === Seq(50L, 90L, 99L))
    val needs = rows.map(_.getAs[Long]("vocab_needed")).toSeq
    assert(needs.zip(needs.tail).forall { case (a, b) => a <= b }, s"not monotone: $needs")
    // replay: taking the vocab_needed most-frequent words must reach the
    // target mass, and one fewer must not (exact minimality)
    val docs = graft.core.Tables.documents(spark, TestSpark.Sf0001)
    val counts = docs.select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").count().collect().map(_.getLong(1)).sortBy(-_)
    val total = counts.sum
    rows.foreach { r =>
      val need = r.getAs[Long]("vocab_needed").toInt
      val target = (r.getAs[Long]("pct") * total + 99) / 100
      assert(r.getAs[Long]("target_mass") === target)
      assert(counts.take(need).sum >= target)
      if (need > 0) assert(counts.take(need - 1).sum < target)
    }
  }

  test("q_ivf_balance: cells partition the corpus; shares and imbalance replay exactly") {
    val rows = run("q_ivf_balance")
    assert(rows.length === graft.kmeans.KmeansQueries.K)
    val n = rows.map(_.getAs[Long]("n_vecs")).sum
    assert(n === graft.core.Tables.points(spark, TestSpark.Sf0001).count())
    val maxN = rows.map(_.getAs[Long]("n_vecs")).max
    rows.foreach { r =>
      assert(r.getAs[Long]("share_ppm") === r.getAs[Long]("n_vecs") * 1000000L / n)
      assert(r.getAs[Long]("imbalance_x100") === maxN * rows.length * 100L / n)
    }
  }

  test("q_token_drift: tv in [0,1], tv_num parity bound, splits nonempty") {
    val r = run("q_token_drift").head
    val (nt, nv) = (r.getAs[Long]("n_train_tokens"), r.getAs[Long]("n_val_tokens"))
    val num = r.getAs[Long]("tv_num")
    assert(nt > 0 && nv > 0)
    // TV numerator is bounded by 2*Nt*Nv (disjoint supports) and the
    // final division must land in [0,1]
    assert(num >= 0 && num <= 2L * nt * nv)
    val tv = r.getAs[Double]("tv")
    assert(tv >= 0.0 && tv <= 1.0)
    // the two splits draw from one generator distribution: drift is small
    assert(tv < 0.2, s"suspicious drift $tv between hash splits")
  }

  test("q_stream_drift: every observed window after the first reports bounded drift") {
    import org.apache.spark.sql.functions._
    val rows = run("q_stream_drift")
    val nWindows = graft.core.Tables.events(spark, TestSpark.Sf0001)
      .select(date_trunc("hour", col("ts"))).distinct().count()
    assert(rows.length.toLong === nWindows - 1, s"${rows.length} vs $nWindows windows")
    rows.foreach { r =>
      val (n, np, num) = (r.getAs[Long]("n"), r.getAs[Long]("n_prev"), r.getAs[Long]("tv_num"))
      assert(n > 0 && np > 0)
      assert(num >= 0 && num <= 2L * n * np)
      val tv = r.getAs[Double]("tv")
      assert(tv >= 0.0 && tv <= 1.0)
    }
  }

  test("q_dedup_incremental: flagged docs are batch-side and survivors are standing-side") {
    import org.apache.spark.sql.functions._
    def isNew(id: Long): Boolean = {
      val h = java.lang.Long.parseLong(
        org.apache.commons.codec.digest.DigestUtils.md5Hex(s"inc:$id").take(8), 16)
      h % 100 >= 80
    }
    val rows = run("q_dedup_incremental")
    rows.foreach { r =>
      val nd = r.getAs[Long]("new_doc")
      val of = r.getAs[Long]("dup_of")
      assert(isNew(nd), s"flagged doc $nd is not in the new batch")
      assert(!isNew(of), s"survivor $of is not in the standing corpus")
      assert(r.getAs[Long]("n_old_matches") >= 1)
    }
    // the fixture embeds exact duplicate texts, so the cross split must
    // flag at least one batch doc
    assert(rows.nonEmpty, "no incremental dups found — split or filter broken")
  }

  test("q_degree_census: handshake identity and histogram totals reconcile") {
    val rows = run("q_degree_census")
    val nNodes = rows.head.getAs[Long]("n_nodes")
    val nEdges = rows.head.getAs[Long]("n_edges")
    val maxD = rows.head.getAs[Long]("max_d")
    // histogram masses sum back to the totals (the double-collapse contract)
    assert(rows.map(_.getAs[Long]("n_nodes_at_d")).sum === nNodes)
    assert(rows.map(r => r.getAs[Long]("d") * r.getAs[Long]("n_nodes_at_d")).sum
      === 2 * nEdges, "handshake lemma violated")
    assert(rows.map(_.getAs[Long]("d")).max === maxD)
  }

  test("q_ldiversity: histogram reconciles and the verdict columns are consistent") {
    val rows = run("q_ldiversity")
    val minL = rows.head.getAs[Long]("min_l")
    assert(rows.map(_.getAs[Long]("l")).min === minL)
    val below = rows.filter(_.getAs[Long]("l") < 3).map(_.getAs[Long]("n_groups")).sum
    assert(below === rows.head.getAs[Long]("n_groups_below_3"))
    assert(rows.map(_.getAs[Long]("n_rows")).sum ===
      graft.core.Tables.orders(spark, TestSpark.Sf0001).count())
  }

  test("q_sql_tpch_q7: group keys are only the two cross-nation pairs") {
    // sf0.001 may legitimately produce zero cross-pair rows; assert the
    // SHAPE contract on whatever rows exist (sf0.01+ has both directions)
    run("q_sql_tpch_q7").foreach { r =>
      val s = r.getAs[String]("supp_nation")
      val c = r.getAs[String]("cust_nation")
      assert(Set(s, c) === Set("NATION_1", "NATION_2") || (s != c),
        s"unexpected pair $s -> $c")
      assert(Seq("NATION_1", "NATION_2").contains(s) && s != c)
      assert(r.getAs[Double]("revenue") > 0.0)
    }
  }

  test("q_shuffle_forecast: reducer census reconciles with the fact table") {
    import org.apache.spark.sql.functions._
    val rows = run("q_shuffle_forecast")
    val li = graft.core.Tables.lineitem(spark, TestSpark.Sf0001)
    assert(rows.map(_.getAs[Long]("n_rows")).sum === li.count())
    assert(rows.map(_.getAs[Long]("n_keys")).sum ===
      li.select(countDistinct("l_orderkey")).head().getLong(0))
    val total = rows.map(_.getAs[Long]("n_rows")).sum
    rows.foreach { r =>
      val red = r.getAs[Long]("reducer")
      assert(red >= 0 && red < RelationalQueries.ShuffleForecastReducers)
      assert(r.getAs[Long]("est_bytes") ===
        r.getAs[Long]("n_rows") * RelationalQueries.ShuffleForecastRowBytes)
      assert(r.getAs[Long]("over_2gb") === 0L, "fixture cannot overflow 2 GB")
      assert(r.getAs[Long]("load_x100") ===
        r.getAs[Long]("n_rows") * RelationalQueries.ShuffleForecastReducers * 100 / total)
    }
    // the md5-derived reducer hash must spread thousands of orderkeys close
    // to uniformly: no reducer should carry 3x the balanced share
    assert(rows.map(_.getAs[Long]("load_x100")).max < 300L,
      s"reducer hash badly unbalanced: ${rows.map(_.getAs[Long]("load_x100")).max}")
  }

  test("q_cdc_compact: last-writer state agrees with a window replay") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val rows = run("q_cdc_compact")
    val ev = graft.core.Tables.events(spark, TestSpark.Sf0001)
    assert(rows.map(_.getAs[Long]("n_ops")).sum === ev.count())
    rows.foreach { r =>
      val alive = r.getAs[Long]("alive")
      assert((r.getAs[String]("last_op") == "U") === (alive == 1L))
      // tombstoned keys carry no value in the compacted snapshot
      assert((r.getAs[AnyRef]("last_value") == null) === (alive == 0L))
      assert(r.getAs[Long]("n_tombstones") <= r.getAs[Long]("n_ops"))
    }
    // independent replay of the last-writer pick via a window sort — the
    // max(struct) aggregate must agree with rn=1 over (ts DESC, id DESC)
    val w = Window.partitionBy("user_id").orderBy(col("ts").desc, col("event_id").desc)
    val direct = ev.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("user_id"),
        when(pmod(col("event_id"), lit(10)) === 0, "D").otherwise("U").as("op"))
      .collect().map(r => r.getAs[Long]("user_id") -> r.getAs[String]("op")).toMap
    assert(rows.map(r => r.getAs[Long]("user_id") -> r.getAs[String]("last_op")).toMap
      === direct)
  }

  test("q_jsd_drift: bounds, split totals, and the TV sandwich") {
    val jr = run("q_jsd_drift").head
    val tr = run("q_token_drift").head
    // same split hash, same word universe -> identical exact-integer census
    assert(jr.getAs[Long]("n_words") === tr.getAs[Long]("n_words"))
    assert(jr.getAs[Long]("n_train_tokens") === tr.getAs[Long]("n_train_tokens"))
    assert(jr.getAs[Long]("n_val_tokens") === tr.getAs[Long]("n_val_tokens"))
    val jsd = jr.getAs[Double]("jsd")
    val tv = tr.getAs[Double]("tv")
    val ln2 = math.log(2.0)
    assert(jsd >= 0.0 && jsd <= ln2 + 1e-9)
    // Pinsker-type sandwich (verified tight numerically): tv^2/2 <= jsd <= ln2*tv
    assert(jsd >= tv * tv / 2 - 1e-9, s"jsd=$jsd below Pinsker floor for tv=$tv")
    assert(jsd <= ln2 * tv + 1e-9, s"jsd=$jsd above ln2*tv ceiling for tv=$tv")
    assert(jr.getAs[Long]("n_train_only") + jr.getAs[Long]("n_val_only")
      <= jr.getAs[Long]("n_words"))
  }

  test("q_dedup_eval: pooled-truth identities and banding recall at the fixture") {
    val r = run("q_dedup_eval").head
    val (nTruth, nCand, nHits, nBtr) = (r.getAs[Long]("n_truth"),
      r.getAs[Long]("n_cand"), r.getAs[Long]("n_hits"), r.getAs[Long]("n_blocked_truth"))
    assert(nHits <= math.min(nTruth, nCand))
    assert(nBtr <= nTruth)
    assert(nTruth > 0, "eval is vacuous: pooled truth found no near-dup pairs")
    assert(math.abs(r.getAs[Double]("recall") -
      nHits.toDouble / math.max(nTruth, 1L)) < 1e-6)
    assert(math.abs(r.getAs[Double]("precision") -
      nHits.toDouble / math.max(nCand, 1L)) < 1e-6)
    // fixture near-dups are exact copies plus light mutations: identical
    // texts share identical signatures, so banding must surface every
    // pooled-truth pair here — recall 1.0 (a drop below 1.0 on a future
    // fixture regen means truth pairs the bands MISSED; investigate)
    assert(r.getAs[Double]("recall") === 1.0)
  }

  test("q_disorder_census: totals reconcile and percentiles are ordered") {
    val r = run("q_disorder_census").head
    val ev = graft.core.Tables.events(spark, TestSpark.Sf0001)
    assert(r.getAs[Long]("n_events") === ev.count())
    val (nE, nL) = (r.getAs[Long]("n_events"), r.getAs[Long]("n_late"))
    assert(nL > 0, "vacuous census: the simulated arrival produced no late events")
    assert(nL < nE / 2, "simulated disorder should be the minority case")
    assert(r.getAs[Long]("late_ppm") === nL * 1000000L / nE)
    val (p50, p95, p99, mx) = (r.getAs[Long]("p50_m"), r.getAs[Long]("p95_m"),
      r.getAs[Long]("p99_m"), r.getAs[Long]("max_m"))
    assert(p50 <= p95 && p95 <= p99 && p99 <= mx)
    // most events arrive in order, so the median disorder must be zero
    assert(p50 === 0L)
  }

  test("minhash signatures MERGE: half-corpus sketches min-combine to the full sketch") {
    import org.apache.spark.sql.functions._
    import graft.text.TextQueries
    import TextQueries.{MinhashK, P}
    // the algebraic property q_sketch_merge rides: per-source signatures
    // computed on ANY partition of the rows min-merge into the signature
    // of the union — verified by splitting docs on doc_id parity.
    // (hash params replicate TextQueries.mhA/mhB: a=2j+1, b=12345j+7)
    val sh = graft.core.Tables.documents(spark, TestSpark.Sf0001)
      .select(col("source"), col("doc_id"),
        explode(TextQueries.shingles3(split(col("text"), " "))).as("shingle"))
      .withColumn("h", graft.core.Hash.prefix(col("shingle")))
    def sig(df: org.apache.spark.sql.DataFrame) = {
      val aggs = (0 until MinhashK).map(j =>
        min((col("h") * (2L * j + 1) + (12345L * j + 7)) % P).as(s"sig$j"))
      df.groupBy("source").agg(aggs.head, aggs.tail: _*)
    }
    val full = sig(sh).collect()
      .map(r => r.getString(0) -> (1 to MinhashK).map(r.getLong)).toMap
    val even = sig(sh.filter(pmod(col("doc_id"), lit(2)) === 0)).collect()
      .map(r => r.getString(0) -> (1 to MinhashK).map(r.getLong)).toMap
    val odd = sig(sh.filter(pmod(col("doc_id"), lit(2)) === 1)).collect()
      .map(r => r.getString(0) -> (1 to MinhashK).map(r.getLong)).toMap
    assert(full.nonEmpty)
    full.foreach { case (src, fs) =>
      val merged = (0 until MinhashK).map { j =>
        val e = even.get(src).map(_(j)).getOrElse(Long.MaxValue)
        val o = odd.get(src).map(_(j)).getOrElse(Long.MaxValue)
        math.min(e, o)
      }
      assert(merged === fs, s"min-merge broke for source $src")
    }
  }

  test("q_pca_power: unit loadings, positive variance, lambda under the trace") {
    import org.apache.spark.sql.functions._
    val rows = run("q_pca_power").sortBy(_.getAs[Int]("pos"))
    assert(rows.length === 64)
    val l2 = rows.map(r => math.pow(r.getAs[Double]("loading"), 2)).sum
    // normalized on the 1e-7 grid: unit up to 64x the rounding quantum
    assert(math.abs(l2 - 1.0) < 1e-4, s"loadings not unit norm: $l2")
    val lambda = rows.head.getAs[Double]("lambda")
    assert(lambda > 0.0)
    // top eigenvalue of the centered covariance can never exceed its trace
    val xl = graft.core.Tables.embeddings(spark, TestSpark.Sf0001)
      .select(posexplode(col("embedding").cast("array<double>")).as(Seq("pos", "x")))
    val trace = xl.groupBy("pos").agg(var_pop(col("x")).as("v"))
      .agg(sum("v")).head().getDouble(0)
    assert(lambda <= trace * (1 + 1e-6), s"lambda=$lambda above trace=$trace")
    // per-dim means in the output replay the direct aggregate
    val direct = xl.groupBy("pos").agg(round(avg("x"), 7).as("m"))
      .collect().map(r => r.getAs[Int]("pos") -> r.getAs[Double]("m")).toMap
    rows.foreach(r => assert(r.getAs[Double]("mu") === direct(r.getAs[Int]("pos"))))
  }

  test("q_coreset_fps: greedy monotonicity and coverage containment") {
    val rows = run("q_coreset_fps").sortBy(_.getAs[Long]("rank"))
    assert(rows.length === 5)
    assert(rows.map(_.getAs[Long]("vec_id")).distinct.length === 5, "re-picked a center")
    assert(rows.head.getAs[AnyRef]("picked_d2") == null, "seed has no pick distance")
    val ds = rows.tail.map(_.getAs[Double]("picked_d2"))
    assert(ds.forall(_ > 0))
    // farthest-point greedy: each successive max-min distance can only shrink
    assert(ds.zip(ds.tail).forall { case (a, b) => a >= b },
      s"pick distances not non-increasing: ${ds.toSeq}")
    // after the 5th center joins, no point can sit farther than the 5th pick did
    val cov = rows.head.getAs[Double]("coverage_d2")
    assert(cov > 0 && cov <= ds.last + 1e-9,
      s"coverage $cov exceeds the last pick distance ${ds.last}")
  }

  test("q_embed_whiten: Pythagoras ledger and share replay") {
    val r = run("q_embed_whiten").head
    val (vt, vp, vr) = (r.getAs[Double]("var_total"), r.getAs[Double]("var_top"),
      r.getAs[Double]("var_resid"))
    assert(vt > 0 && vp > 0 && vr > 0)
    // ss_top and ss_resid are computed independently; for a unit component
    // they must tile the total variance (up to snap rounding)
    assert(math.abs(vt - (vp + vr)) < 1e-3, s"Pythagoras broke: $vt vs ${vp + vr}")
    assert(math.abs(r.getAs[Long]("top_share_ppm") - vp / vt * 1e6) < 500,
      s"share out of band: ${r.getAs[Long]("top_share_ppm")} vs ${vp / vt * 1e6}")
    // power-iteration monotonicity: var_top = R(v2) (the Rayleigh quotient
    // of the returned iterate) must dominate lambda = |C v1| (the previous
    // step's amplification) — m3/m2 >= sqrt(m2) via Cauchy-Schwarz on the
    // moment sequence; equality only at convergence. Both sandwich the
    // true top eigenvalue from below.
    val lambda = run("q_pca_power").head.getAs[Double]("lambda")
    assert(vp >= lambda * (1 - 1e-3),
      s"Rayleigh of the iterate ($vp) fell below |C v1| ($lambda)")
    assert(vp <= vt, "top-component variance cannot exceed the total")
  }

  test("q_mutual_info: nonnegative, bounded by ln 2, cells reconcile") {
    val rows = run("q_mutual_info")
    assert(rows.length === 64)
    val n = graft.core.Tables.embeddings(spark, TestSpark.Sf0001).count()
    rows.foreach { r =>
      val mi = r.getAs[Double]("mi_nats")
      // MI >= 0 up to the 9 dp rounding; <= H(bit) <= ln 2
      assert(mi >= -1e-9 && mi <= math.log(2.0) + 1e-9, s"mi out of range: $r")
      // 2 bits x 10 labels, no empty label class in the fixture
      assert(r.getAs[Long]("n_cells") >= 10 && r.getAs[Long]("n_cells") <= 20)
    }
    // a mean-split bit cannot be constant, so SOME dependence must register
    assert(rows.map(_.getAs[Double]("mi_nats")).max > 0.0)
  }

  test("q_sketch_merge: all source pairs present; estimate and exact replay") {
    val rows = run("q_sketch_merge")
    val srcs = rows.flatMap(r => Seq(r.getAs[String]("source_a"), r.getAs[String]("source_b"))).distinct
    assert(rows.length === srcs.length * (srcs.length - 1) / 2,
      s"expected all C(${srcs.length},2) pairs, got ${rows.length}")
    rows.foreach { r =>
      val agree = r.getAs[Long]("n_agree")
      assert(agree >= 0 && agree <= 16)
      assert(math.abs(r.getAs[Double]("est_jaccard") - agree / 16.0) < 1e-6)
      val (c, u) = (r.getAs[Long]("n_common"), r.getAs[Long]("n_union"))
      assert(c >= 0 && u >= c && u > 0)
      assert(math.abs(r.getAs[Double]("jaccard") - c.toDouble / u) < 1e-6)
    }
  }
}
