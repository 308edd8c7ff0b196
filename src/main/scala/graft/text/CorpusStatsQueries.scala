package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Hash, Tables}

/** Corpus-shape statistics: the empirical-law fits and canonicalization
  * censuses a curation run publishes beside its dedup/quality reports —
  * Zipf rank-frequency slope, Heaps' vocabulary-growth exponent, URL
  * canonicalization dedup, and per-source distinctive-term lift.
  *
  * Reference scope: the K-Means repo has no text surface; these extend the
  * mandated LLM-pipeline family (BASELINE.json:6, text analysis) with the
  * corpus-level diagnostics that detect crawler pathologies (a Zipf slope
  * far from -1 flags boilerplate/spam; a Heaps beta near 0 flags a
  * template corpus; URL-level dup mass flags a crawl-frontier bug).
  *
  * Scale design: every query reduces to a VOCABULARY-bounded or
  * fixed-bucket frame in one combinable aggregate before any window/fit
  * math — the token explode is linear and map-side-collapsed; no window
  * ever runs over corpus-scale rows. Fits (least squares in log space) fold
  * 10-100 bounded rows. Ranks/rates are integer cross-multiplications
  * wherever rational; the fit coefficients round at 6dp.
  */
object CorpusStatsQueries extends graft.SparkEntry.Module {

  /** Least-squares slope/intercept of y on x over a small frame — shared
    * by the two log-space law fits. Returns (slope, intercept) columns
    * from aggregated Σ columns n, sx, sy, sxy, sxx.
    */
  private def slopeCol: Column =
    (col("n") * col("sxy") - col("sx") * col("sy")) /
      (col("n") * col("sxx") - col("sx") * col("sx"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // NS: cross-source vocabulary overlap — the pairwise lexical-Jaccard
    // matrix over sources ("which feeds speak the same language?"), the
    // source-level complement of doc-level cross-source dedup: per-word
    // pair blowup is C(sources sharing the word, 2) ≤ C(20,2) — bounded
    // by the SOURCE DOMAIN per word (the market-basket argument), so the
    // word join never goes quadratic in the corpus. Exact integer
    // Jaccard ppm over the (source, word) distinct census; top-10 pairs
    // via TakeOrdered with a total tie-break.
    "q_vocab_overlap" -> { (s, dir) =>
      val sv = Tables.documents(s, dir)
        .select(col("source"), explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) > 0).distinct()
        .localCheckpoint(eager = false) // (source, word) census; feeds sizes AND pairs
      val sizes = sv.groupBy("source").agg(count(lit(1)).as("v"))
      val pairs = sv.join(sv.select(col("source").as("s2"), col("w")), "w")
        .filter(col("source") < col("s2"))
        .groupBy(col("source").as("s_a"), col("s2").as("s_b"))
        .agg(count(lit(1)).as("inter"))
      pairs
        .join(broadcast(sizes.select(col("source").as("s_a"), col("v").as("v_a"))), "s_a")
        .join(broadcast(sizes.select(col("source").as("s_b"), col("v").as("v_b"))), "s_b")
        .select(col("s_a"), col("s_b"), col("inter"), col("v_a"), col("v_b"),
          expr("inter * 1000000 DIV (v_a + v_b - inter)").as("jaccard_ppm"))
        .orderBy(col("jaccard_ppm").desc, col("s_a"), col("s_b"))
        .limit(10)
        .withColumn("rk", row_number().over(Window.orderBy(
          col("jaccard_ppm").desc, col("s_a"), col("s_b"))).cast("long"))
        .orderBy("rk")
    },

    // NS: Hill tail-index of the document-length distribution — the
    // heavy-tail diagnostic beside the Zipf fit (α answers "how fast do
    // giant documents thin out?", which sets truncation budgets and
    // straggler risk for packing/sharding): α̂ = 1/mean(ln(x_i/x_{k+1}))
    // over the top-k order statistics. Top-101 via the distributed
    // TakeOrdered (total (length, id) order), each log-ratio quantizes
    // once to micro-nats so the mean is exact integer arithmetic, and
    // α_milli = 1e9 DIV mean_mn is pure integer; a degenerate all-equal
    // tail (mean 0) pins α to 0 (totality).
    "q_hill_tail" -> { (s, dir) =>
      val top = Tables.documents(s, dir).select(col("doc_id"), col("n_chars"))
        .orderBy(col("n_chars").desc, col("doc_id")).limit(101)
        .withColumn("rk", row_number().over(
          Window.orderBy(col("n_chars").desc, col("doc_id"))))
      val xk = top.filter(col("rk") === 101).select(col("n_chars").as("xk"))
      top.filter(col("rk") <= 100).crossJoin(broadcast(xk))
        .select(expr(
          "CAST(round(ln(CAST(n_chars AS DOUBLE) / CAST(xk AS DOUBLE)) * 1000000) AS BIGINT)")
          .as("t"))
        .agg(count(lit(1)).as("k_top"), coalesce(sum("t"), lit(0L)).as("sum_mn"))
        .select(col("k_top"), col("sum_mn"),
          expr("CASE WHEN k_top = 0 THEN CAST(0 AS BIGINT) ELSE sum_mn DIV k_top END")
            .as("mean_mn"))
        .withColumn("alpha_milli", expr(
          "CASE WHEN mean_mn <= 0 THEN CAST(0 AS BIGINT) " +
            "ELSE 1000000000 DIV mean_mn END"))
    },

    // NS: Zipf rank-frequency fit — ln(freq) regressed on ln(rank) over
    // the top-100 terms. Corpus collapses to term counts first (vocab-
    // bounded), the rank window runs over that frame only, and the fit
    // folds 100 rows. A healthy natural corpus sits near slope -1.
    "q_zipf_fit" -> { (s, dir) =>
      val tc = Tables.documents(s, dir)
        .select(explode(split(col("text"), " ")).as("term"))
        .filter(length(col("term")) > 0)
        .groupBy("term").agg(count(lit(1)).as("cnt"))
      // TakeOrdered-first (the q_bm25 pattern): the distributed limit
      // bounds the frame to 100 rows before the rank window runs
      val ranked = tc
        .orderBy(col("cnt").desc, col("term")).limit(100)
        .withColumn("rk", row_number().over(
          Window.orderBy(col("cnt").desc, col("term"))))
        .select(log(col("rk").cast("double")).as("x"),
          log(col("cnt").cast("double")).as("y"))
      ranked
        .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
        .select(col("n").as("n_fit"),
          (round(slopeCol, 6) + lit(0.0)).as("slope"),
          (round((col("sy") - slopeCol * col("sx")) / col("n"), 6) + lit(0.0)).as("intercept"))
    },

    // NS: Heaps'-law vocabulary growth — cumulative vocabulary vs
    // cumulative token mass at 10 doc-id prefix checkpoints, with the
    // growth exponent beta fitted in log space. Terms carry only their
    // FIRST bucket (min over a monotone bucketing of doc_id), so the
    // per-term frame is vocab-bounded and the cumulative window runs over
    // exactly 10 rows. Beta well under 1 is the healthy sub-linear growth;
    // beta near 0 means a closed template vocabulary.
    "q_heaps_law" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val width = docs.agg(((max("doc_id") + 10) / 10).cast("long").as("w"))
      val bucketed = docs.crossJoin(broadcast(width))
        .select(col("doc_id"), col("text"), expr("doc_id DIV w").as("bucket"))
      val tokensPerBucket = bucketed
        .groupBy("bucket")
        .agg(sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"))
      val newTermsPerBucket = bucketed
        .select(col("bucket"), explode(split(col("text"), " ")).as("term"))
        .filter(length(col("term")) > 0)
        .groupBy("term").agg(min("bucket").as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("n_new"))
      val w = Window.orderBy("bucket")
      val curve = tokensPerBucket
        .join(newTermsPerBucket, Seq("bucket"), "left_outer")
        .na.fill(0L, Seq("n_new"))
        .withColumn("tokens_cum", sum("n_tokens").over(w))
        .withColumn("vocab_cum", sum("n_new").over(w))
        .select("bucket", "tokens_cum", "vocab_cum")
      val beta = curve
        .select(log(col("tokens_cum").cast("double")).as("x"),
          log(col("vocab_cum").cast("double")).as("y"))
        .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
        // + 0.0 folds any -0.0 from an exactly-flat fit to +0.0 (the
        // duplicate-heavy stress corpus produces beta = 0; both engines
        // must hash the same zero)
        .select((round(slopeCol, 6) + lit(0.0)).as("beta"))
      curve.crossJoin(broadcast(beta)).orderBy("bucket")
    },

    // NS: URL canonicalization dedup census — the crawl-frontier hygiene
    // pass: scheme/host case folding, www-stripping, utm-query and
    // fragment removal, /index.html and scheme normalization, then a
    // per-source (docs, canonical-distinct, dup ppm) census. URLs are
    // hash-derived from doc ids (the fixture carries none) so both engines
    // materialize identical raw strings; the canonicalizer is the operator
    // under test. One distinct-agg per source; dup rate integer ppm.
    "q_url_dedup" -> { (s, dir) =>
      val d = Tables.documents(s, dir)
        .withColumn("h1", pmod(Hash.prefix(concat(lit("u1:"), col("doc_id"))), lit(2)))
        .withColumn("h2", pmod(Hash.prefix(concat(lit("u2:"), col("doc_id"))), lit(2)))
        .withColumn("h3", pmod(Hash.prefix(concat(lit("u3:"), col("doc_id"))), lit(3)))
        .withColumn("raw_url", concat(
          when(col("h1") === 0, "http").otherwise("HTTPS"), lit("://"),
          when(col("h2") === 0, "www.").otherwise(""),
          col("source"), lit(".Example.com/p/"),
          pmod(col("doc_id"), lit(50)).cast("string"),
          when(col("h3") === 1, "?utm_source=x")
            .when(col("h3") === 2, "/index.html#frag").otherwise("")))
      val canon = d.withColumn("canon",
        regexp_replace(
          regexp_replace(
            regexp_replace(
              regexp_replace(
                regexp_replace(lower(col("raw_url")), "#.*$", ""),
                "\\?utm_[^#]*$", ""),
              "/index\\.html$", ""),
            "^http://", "https://"),
          "://www\\.", "://"))
      canon.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct("canon").as("n_canonical"))
        .withColumn("dup_ppm",
          expr("(n_docs - n_canonical) * 1000000 DIV n_docs"))
        .orderBy("source")
    },

    // NS: per-source distinctive terms — top-3 terms by lift (in-source
    // frequency share over corpus share), the "what is this source about"
    // panel on a mixture dashboard. Lift is an exact integer
    // cross-multiplication (tf_src·total_corpus·1e6 DIV total_src·tf_corpus
    // — fixture-magnitude bounded; at true corpus scale promote to
    // decimal(38) like q_auc), ranked per source over the vocab-bounded
    // (source × term) frame with a total tie-break.
    "q_source_lift" -> { (s, dir) =>
      val tok = Tables.documents(s, dir)
        .select(col("source"), explode(split(col("text"), " ")).as("term"))
        .filter(length(col("term")) > 0)
      val st = tok.groupBy("source", "term").agg(count(lit(1)).as("tf_src"))
      val srcTot = st.groupBy("source").agg(sum("tf_src").as("total_src"))
      val termTot = st.groupBy("term").agg(sum("tf_src").as("tf_corpus"))
      val corpusTot = st.agg(sum("tf_src").as("total_corpus"))
      val lifted = st.join(srcTot, "source").join(termTot, "term")
        .crossJoin(broadcast(corpusTot))
        .withColumn("lift_x1e6",
          expr("tf_src * total_corpus * 1000000 DIV (total_src * tf_corpus)"))
      lifted
        .withColumn("rk", row_number().over(Window.partitionBy("source")
          .orderBy(col("lift_x1e6").desc, col("tf_src").desc, col("term"))))
        .filter(col("rk") <= 3)
        .select("source", "rk", "term", "tf_src", "lift_x1e6")
        .orderBy("source", "rk")
    },

    // NS: leave-one-out source ablation — the cheapest honest data
    // valuation: for each source, what happens to the corpus-level metric
    // (mean tokens per doc, milli-precision) if that source is removed?
    // LOO deltas come FREE from the totals (metric_without = (T − t_s) /
    // (N − n_s)) — no per-source re-scan, the algebraic trick that makes
    // group-ablation valuation one aggregate at 100 TB. Exact integers
    // throughout (truncating DIV, all operands non-negative); delta in
    // ppm of the full-corpus metric ranks sources by marginal effect.
    "q_source_ablation" -> { (s, dir) =>
      val perSrc = Tables.documents(s, dir)
        .select(col("source"), size(split(col("text"), " ")).cast("long").as("toks"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("toks").as("t_src"))
      val tot = perSrc.agg(sum("n_docs").as("n_all"), sum("t_src").as("t_all"))
      perSrc.crossJoin(broadcast(tot))
        .select(col("source"), col("n_docs"),
          expr("t_all * 1000 DIV n_all").as("metric_all_milli"),
          expr("(t_all - t_src) * 1000 DIV (n_all - n_docs)").as("metric_without_milli"))
        .withColumn("delta_ppm",
          // symmetric truncating division: Spark DIV truncates toward zero
          // but DuckDB // floors, so a negative delta must be divided on
          // its absolute value on both engines
          expr("""CASE WHEN metric_without_milli >= metric_all_milli
                 |  THEN (metric_without_milli - metric_all_milli) * 1000000 DIV metric_all_milli
                 |  ELSE -((metric_all_milli - metric_without_milli) * 1000000 DIV metric_all_milli)
                 |END""".stripMargin))
        .orderBy("source")
    },

    // NS: Dirichlet-smoothed log-odds distinctive terms (Monroe, Colaresi
    // & Quinn 2008 "Fightin' Words") — the PRINCIPLED version of
    // q_source_lift's ratio ranking: delta = log-odds(term in source) −
    // log-odds(term in rest) under an informative Dirichlet prior
    // (alpha_w proportional to corpus frequency), z = delta/sqrt(var)
    // with var ≈ 1/(y+a) + 1/(y_rest+a). Counts are EXACT integers from
    // one (source, term) aggregate; the z statistic is a fixed IEEE tree
    // over those integers rounded 4dp, ranked per source with total
    // tie-breaks; top-3 per source over the vocab-bounded frame.
    "q_log_odds" -> { (s, dir) =>
      val st = Tables.documents(s, dir)
        .select(col("source"), explode(split(col("text"), " ")).as("term"))
        .filter(length(col("term")) > 0)
        .groupBy("source", "term").agg(count(lit(1)).as("y"))
        .localCheckpoint(eager = false) // vocab x sources; feeds totals and the z frame
      val srcTot = st.groupBy("source").agg(sum("y").as("n_src"))
      val termTot = st.groupBy("term").agg(sum("y").as("y_all"))
      val corpTot = st.agg(sum("y").as("n_all"))
      val z = st.join(srcTot, "source").join(termTot, "term")
        .crossJoin(broadcast(corpTot))
        // prior alpha_w = 10 * corpus share of the term (A = 10 total)
        .withColumn("aw", col("y_all").cast("double") * 10.0 / col("n_all").cast("double"))
        .withColumn("y1", col("y").cast("double") + col("aw"))
        .withColumn("n1", col("n_src").cast("double") + lit(10.0))
        .withColumn("y2", (col("y_all") - col("y")).cast("double") + col("aw"))
        .withColumn("n2", (col("n_all") - col("n_src")).cast("double") + lit(10.0))
        .withColumn("delta",
          log(col("y1") / (col("n1") - col("y1"))) - log(col("y2") / (col("n2") - col("y2"))))
        .withColumn("z", round(col("delta") /
          sqrt(lit(1.0) / col("y1") + lit(1.0) / col("y2")), 4))
      // per-source top-3 via the bounded TopKTermAgg: 3 rows per source
      // per partition cross the shuffle, where the per-group rank window
      // would sort each source's whole vocabulary in one reducer task
      val topz = udaf(new graft.functions.TopKTermAgg(3),
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[graft.functions.ScoredTerm]())
      z.groupBy("source")
        .agg(topz(col("z"), col("y"), col("term")).as("top"))
        .select(col("source"), posexplode(col("top")).as(Seq("pos", "t")))
        .select(col("source"), (col("pos") + 1).as("rk"),
          col("t.term").as("term"), col("t.y").as("y"), col("t.z").as("z"))
        .orderBy("source", "rk")
    },

    // NS: boilerplate chunk census — the content-extraction screen (CCNet/
    // RefinedWeb drop lines repeated across many pages of a host). The
    // fixture text has no newlines, so a "line" is a non-overlapping
    // 4-token chunk; a chunk value seen in >= 3 DISTINCT docs of a source
    // is boilerplate. Dataflow: chunk explode is linear in corpus tokens
    // and collapses map-side into the (source, chunk) aggregate (chunk-
    // vocab bounded); the doc-fanout count uses count(distinct doc_id)
    // over that grouped frame — never a pair join. Per-source shares in
    // exact integer ppm.
    "q_boilerplate" -> { (s, dir) =>
      val chunks = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), split(col("text"), " ").as("arr"))
        .select(col("doc_id"), col("source"),
          explode(expr(
            "transform(sequence(0, (size(arr)-1) DIV 4)," +
              " i -> array_join(slice(arr, i*4+1, 4), ' '))")).as("chunk"))
      val perChunk = chunks.groupBy("source", "chunk")
        .agg(count(lit(1)).as("n_occur"), countDistinct("doc_id").as("n_docs"))
      perChunk.groupBy("source")
        .agg(sum("n_occur").as("n_chunks"),
          sum(when(col("n_docs") >= 3, col("n_occur")).otherwise(0L)).as("boiler_occ"),
          sum(when(col("n_docs") >= 3, 1L).otherwise(0L)).as("boiler_distinct"))
        .withColumn("boiler_ppm", expr("boiler_occ * 1000000 DIV n_chunks"))
        .orderBy("source")
    },

    // NS: readability-ingredient census (LIX family): per source the exact
    // integer components every readability formula folds — word count,
    // char mass, vowel-group syllable proxy, long-word (>=7 chars) and
    // monosyllable counts — plus the LIX statistic itself with the
    // document standing in for the sentence (the fixture carries no
    // punctuation; convention documented here, mirrored in the oracle).
    // One token-scale pass collapsing map-side into a per-source frame;
    // rates are integer cross-multiplications (milli / ppm).
    "q_readability" -> { (s, dir) =>
      val tok = Tables.documents(s, dir)
        .select(col("source"), col("doc_id"),
          explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) > 0)
        .select(col("source"), col("doc_id"),
          length(col("w")).cast("long").as("wlen"),
          regexp_count(col("w"), lit("[aeiouy]+")).cast("long").as("syl"))
      tok.groupBy("source")
        .agg(countDistinct("doc_id").as("n_docs"),
          count(lit(1)).as("n_words"),
          sum("wlen").as("n_chars"),
          sum("syl").as("n_syllables"),
          sum(when(col("wlen") >= 7, 1L).otherwise(0L)).as("n_long"),
          sum(when(col("syl") <= 1, 1L).otherwise(0L)).as("n_mono"))
        .select(col("source"), col("n_docs"), col("n_words"),
          expr("n_chars * 1000 DIV n_words").as("word_len_milli"),
          expr("n_syllables * 1000 DIV n_words").as("syl_per_word_milli"),
          expr("n_long * 1000000 DIV n_words").as("long_word_ppm"),
          expr("n_mono * 1000000 DIV n_words").as("mono_ppm"),
          // LIX = words/sentences + 100 * longwords/words, milli units
          expr("n_words * 1000 DIV n_docs + n_long * 100000 DIV n_words").as("lix_milli"))
        .orderBy("source")
    },

    // NS: Stupid Backoff trigram LM scoring (Brants et al. 2007 — the LM
    // smoothing invented FOR MapReduce scale: no discount normalization,
    // so every count table is one combinable aggregate and scoring is
    // pure lookup). Probes = top-10 bigrams x top-5 unigrams (bounded,
    // deterministic lexical tie-breaks); S(w3|w1 w2) backs off c3/c2 ->
    // 0.4*c2(w2 w3)/c1(w2) -> 0.16*c1(w3)/T, each branch an exact integer
    // cross-multiplication in ppm (0.4 = 2/5 exactly). The three count
    // frames collapse map-side; probe joins broadcast the 50-row side.
    "q_stupid_backoff" -> { (s, dir) =>
      val arr = Tables.documents(s, dir)
        .select(split(col("text"), " ").as("arr"))
      val uni = arr.select(explode(col("arr")).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy("w").agg(count(lit(1)).as("c1"))
      val tot = uni.agg(sum("c1").as("t_tokens"))
      val bi = arr.filter(size(col("arr")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, size(arr)-1)," +
            " i -> struct(element_at(arr, i) AS w1, element_at(arr, i+1) AS w2))")).as("b"))
        .groupBy(col("b.w1").as("w1"), col("b.w2").as("w2"))
        .agg(count(lit(1)).as("c2"))
      val tri = arr.filter(size(col("arr")) >= 3)
        .select(explode(expr(
          "transform(sequence(1, size(arr)-2)," +
            " i -> struct(element_at(arr, i) AS w1, element_at(arr, i+1) AS w2," +
            " element_at(arr, i+2) AS w3))")).as("t"))
        .groupBy(col("t.w1").as("w1"), col("t.w2").as("w2"), col("t.w3").as("w3"))
        .agg(count(lit(1)).as("c3"))
      val topBi = bi.orderBy(col("c2").desc, col("w1"), col("w2")).limit(10)
        .select(col("w1"), col("w2"), col("c2").as("c2_12"))
      val topUni = uni.orderBy(col("c1").desc, col("w")).limit(5)
        .select(col("w").as("w3"))
      val probes = broadcast(topBi.crossJoin(topUni))
      probes
        .join(tri, Seq("w1", "w2", "w3"), "left_outer")
        .join(bi.select(col("w1").as("w2"), col("w2").as("w3"), col("c2").as("c2_23")),
          Seq("w2", "w3"), "left_outer")
        .join(uni.select(col("w").as("w2"), col("c1").as("c1_2")), Seq("w2"), "left_outer")
        .join(uni.select(col("w").as("w3"), col("c1").as("c1_3")), Seq("w3"), "left_outer")
        .crossJoin(broadcast(tot))
        .select(col("w1"), col("w2"), col("w3"),
          coalesce(col("c3"), lit(0L)).as("c3"),
          when(col("c3").isNotNull, 0L)
            .when(col("c2_23").isNotNull, 1L).otherwise(2L).as("backoff_level"),
          when(col("c3").isNotNull, expr("c3 * 1000000 DIV c2_12"))
            .when(col("c2_23").isNotNull, expr("c2_23 * 400000 DIV c1_2"))
            .otherwise(expr("c1_3 * 160000 DIV t_tokens")).as("score_ppm"))
        .orderBy("w1", "w2", "w3")
    }
  )

  def oracleSql: Map[String, String] = Map(
    // identical distinct census, bounded word join, exact Jaccard, top-10
    "q_vocab_overlap" ->
      """WITH sv AS (
        |  SELECT DISTINCT source, w FROM (
        |    SELECT source, unnest(string_split(text, ' ')) AS w FROM documents)
        |  WHERE len(w) > 0),
        |sizes AS (SELECT source, CAST(count(*) AS BIGINT) AS v FROM sv GROUP BY 1),
        |pairs AS (
        |  SELECT a.source AS s_a, b.source AS s_b, CAST(count(*) AS BIGINT) AS inter
        |  FROM sv a JOIN sv b ON a.w = b.w AND a.source < b.source
        |  GROUP BY 1, 2),
        |j AS (
        |  SELECT p.s_a, p.s_b, p.inter, sa.v AS v_a, sb.v AS v_b,
        |         p.inter * 1000000 // (sa.v + sb.v - p.inter) AS jaccard_ppm
        |  FROM pairs p JOIN sizes sa ON sa.source = p.s_a
        |  JOIN sizes sb ON sb.source = p.s_b),
        |t AS (SELECT *, row_number() OVER (ORDER BY jaccard_ppm DESC, s_a, s_b) AS rn
        |      FROM j QUALIFY rn <= 10)
        |SELECT s_a, s_b, inter, v_a, v_b, jaccard_ppm, CAST(rn AS BIGINT) AS rk
        |FROM t ORDER BY rk""".stripMargin,
    // identical top-101 order statistics and micro-nat ledger
    "q_hill_tail" ->
      """WITH top AS (
        |  SELECT doc_id, n_chars,
        |         row_number() OVER (ORDER BY n_chars DESC, doc_id) AS rk
        |  FROM documents QUALIFY rk <= 101),
        |xk AS (SELECT n_chars AS xk FROM top WHERE rk = 101),
        |t AS (SELECT CAST(round(ln(CAST(top.n_chars AS DOUBLE) / CAST(xk.xk AS DOUBLE))
        |               * 1000000) AS BIGINT) AS t
        |      FROM top CROSS JOIN xk WHERE rk <= 100),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS k_top,
        |             coalesce(CAST(sum(t) AS BIGINT), 0) AS sum_mn
        |      FROM t),
        |m AS (SELECT k_top, sum_mn,
        |             CASE WHEN k_top = 0 THEN 0 ELSE sum_mn // k_top END AS mean_mn
        |      FROM a)
        |SELECT k_top, sum_mn, CAST(mean_mn AS BIGINT) AS mean_mn,
        |       CASE WHEN mean_mn <= 0 THEN CAST(0 AS BIGINT)
        |            ELSE 1000000000 // mean_mn END AS alpha_milli
        |FROM m""".stripMargin,
    "q_zipf_fit" ->
      """WITH tok AS (
        |  SELECT unnest(string_split(text, ' ')) AS term FROM documents),
        |tc AS (SELECT term, count(*) AS cnt FROM tok WHERE len(term) > 0 GROUP BY 1),
        |r AS (SELECT row_number() OVER (ORDER BY cnt DESC, term) AS rk, cnt FROM tc),
        |xy AS (SELECT ln(rk::DOUBLE) AS x, ln(cnt::DOUBLE) AS y FROM r WHERE rk <= 100),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS n, sum(x) AS sx, sum(y) AS sy,
        |             sum(x*y) AS sxy, sum(x*x) AS sxx FROM xy)
        |SELECT n AS n_fit,
        |       round((n*sxy - sx*sy) / (n*sxx - sx*sx), 6) + 0.0 AS slope,
        |       round((sy - (n*sxy - sx*sy) / (n*sxx - sx*sx) * sx) / n, 6) + 0.0 AS intercept
        |FROM a""".stripMargin,
    "q_heaps_law" ->
      """WITH wd AS (SELECT (max(doc_id) + 10) // 10 AS w FROM documents),
        |b AS (SELECT doc_id, text, doc_id // (SELECT w FROM wd) AS bucket FROM documents),
        |tpb AS (SELECT bucket, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |        FROM b GROUP BY 1),
        |terms AS (SELECT unnest(string_split(text, ' ')) AS term, bucket FROM b),
        |fb AS (SELECT term, min(bucket) AS bucket FROM terms WHERE len(term) > 0 GROUP BY 1),
        |npb AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_new FROM fb GROUP BY 1),
        |curve AS (SELECT tpb.bucket,
        |                 CAST(sum(n_tokens) OVER (ORDER BY tpb.bucket) AS BIGINT) AS tokens_cum,
        |                 CAST(sum(coalesce(n_new, 0)) OVER (ORDER BY tpb.bucket) AS BIGINT) AS vocab_cum
        |          FROM tpb LEFT JOIN npb ON tpb.bucket = npb.bucket),
        |xy AS (SELECT ln(tokens_cum::DOUBLE) AS x, ln(vocab_cum::DOUBLE) AS y FROM curve),
        |a AS (SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
        |             sum(x*y) AS sxy, sum(x*x) AS sxx FROM xy),
        |beta AS (SELECT round((n*sxy - sx*sy) / (n*sxx - sx*sx), 6) + 0.0 AS beta FROM a)
        |SELECT bucket, tokens_cum, vocab_cum, beta FROM curve CROSS JOIN beta
        |ORDER BY bucket""".stripMargin,
    "q_url_dedup" ->
      raw"""WITH d AS (
        |  SELECT source,
        |         ${Hash.prefixSql("'u1:' || CAST(doc_id AS VARCHAR)")} % 2 AS h1,
        |         ${Hash.prefixSql("'u2:' || CAST(doc_id AS VARCHAR)")} % 2 AS h2,
        |         ${Hash.prefixSql("'u3:' || CAST(doc_id AS VARCHAR)")} % 3 AS h3,
        |         doc_id % 50 AS p
        |  FROM documents),
        |u AS (SELECT source,
        |             (CASE WHEN h1 = 0 THEN 'http' ELSE 'HTTPS' END) || '://' ||
        |             (CASE WHEN h2 = 0 THEN 'www.' ELSE '' END) ||
        |             source || '.Example.com/p/' || CAST(p AS VARCHAR) ||
        |             (CASE WHEN h3 = 1 THEN '?utm_source=x'
        |                   WHEN h3 = 2 THEN '/index.html#frag' ELSE '' END) AS raw_url
        |      FROM d),
        |c AS (SELECT source,
        |             regexp_replace(
        |               regexp_replace(
        |                 regexp_replace(
        |                   regexp_replace(
        |                     regexp_replace(lower(raw_url), '#.*$$', ''),
        |                     '\?utm_[^#]*$$', ''),
        |                   '/index\.html$$', ''),
        |                 '^http://', 'https://'),
        |               '://www\.', '://') AS canon
        |      FROM u)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(count(DISTINCT canon) AS BIGINT) AS n_canonical,
        |       (count(*) - count(DISTINCT canon)) * 1000000 // count(*) AS dup_ppm
        |FROM c GROUP BY 1 ORDER BY source""".stripMargin,
    "q_source_lift" ->
      """WITH tok AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS term FROM documents),
        |st AS (SELECT source, term, CAST(count(*) AS BIGINT) AS tf_src
        |       FROM tok WHERE len(term) > 0 GROUP BY 1, 2),
        |srct AS (SELECT source, CAST(sum(tf_src) AS BIGINT) AS total_src FROM st GROUP BY 1),
        |tt AS (SELECT term, CAST(sum(tf_src) AS BIGINT) AS tf_corpus FROM st GROUP BY 1),
        |ct AS (SELECT CAST(sum(tf_src) AS BIGINT) AS total_corpus FROM st),
        |l AS (SELECT st.source, st.term, st.tf_src,
        |             st.tf_src * total_corpus * 1000000 // (total_src * tf_corpus) AS lift_x1e6
        |      FROM st JOIN srct USING (source) JOIN tt USING (term) CROSS JOIN ct),
        |r AS (SELECT source, term, tf_src, lift_x1e6,
        |             row_number() OVER (PARTITION BY source
        |               ORDER BY lift_x1e6 DESC, tf_src DESC, term) AS rk
        |      FROM l)
        |SELECT source, rk, term, tf_src, lift_x1e6
        |FROM r WHERE rk <= 3 ORDER BY source, rk""".stripMargin,
    // LOO from totals; symmetric truncating division for the signed delta
    "q_source_ablation" ->
      """WITH ps AS (
        |  SELECT source, count(*) AS n_docs,
        |         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS t_src
        |  FROM documents GROUP BY source),
        |tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n_all,
        |               CAST(sum(t_src) AS BIGINT) AS t_all FROM ps),
        |m AS (SELECT source, n_docs,
        |             t_all * 1000 // n_all AS metric_all_milli,
        |             (t_all - t_src) * 1000 // (n_all - n_docs) AS metric_without_milli
        |      FROM ps CROSS JOIN tot)
        |SELECT source, n_docs, metric_all_milli, metric_without_milli,
        |       CASE WHEN metric_without_milli >= metric_all_milli
        |         THEN (metric_without_milli - metric_all_milli) * 1000000 // metric_all_milli
        |         ELSE -((metric_all_milli - metric_without_milli) * 1000000 // metric_all_milli)
        |       END AS delta_ppm
        |FROM m ORDER BY source""".stripMargin,
    // identical prior and IEEE z tree over the same exact counts
    "q_log_odds" ->
      """WITH st AS (
        |  SELECT source, term, CAST(count(*) AS BIGINT) AS y
        |  FROM (SELECT source, unnest(string_split(text, ' ')) AS term FROM documents)
        |  WHERE len(term) > 0 GROUP BY 1, 2),
        |srct AS (SELECT source, CAST(sum(y) AS BIGINT) AS n_src FROM st GROUP BY 1),
        |tt AS (SELECT term, CAST(sum(y) AS BIGINT) AS y_all FROM st GROUP BY 1),
        |ct AS (SELECT CAST(sum(y) AS BIGINT) AS n_all FROM st),
        |z AS (
        |  SELECT st.source, st.term, st.y,
        |         round(
        |           (ln((CAST(st.y AS DOUBLE) + aw) / ((CAST(srct.n_src AS DOUBLE) + 10.0)
        |                 - (CAST(st.y AS DOUBLE) + aw)))
        |            - ln((CAST(tt.y_all - st.y AS DOUBLE) + aw)
        |                 / ((CAST(ct.n_all - srct.n_src AS DOUBLE) + 10.0)
        |                    - (CAST(tt.y_all - st.y AS DOUBLE) + aw))))
        |           / sqrt(1.0 / (CAST(st.y AS DOUBLE) + aw)
        |                  + 1.0 / (CAST(tt.y_all - st.y AS DOUBLE) + aw)), 4) AS z
        |  FROM st
        |  JOIN srct USING (source) JOIN tt USING (term) CROSS JOIN ct
        |  CROSS JOIN LATERAL (SELECT CAST(tt.y_all AS DOUBLE) * 10.0
        |                             / CAST(ct.n_all AS DOUBLE) AS aw) p),
        |r AS (SELECT source, term, y, z,
        |             row_number() OVER (PARTITION BY source
        |               ORDER BY z DESC, y DESC, term) AS rk
        |      FROM z)
        |SELECT source, rk, term, y, z
        |FROM r WHERE rk <= 3 ORDER BY source, rk""".stripMargin,
    "q_boilerplate" ->
      """WITH t AS (
        |  SELECT doc_id, source, string_split(text, ' ') AS arr FROM documents),
        |c AS (
        |  SELECT doc_id, source,
        |         array_to_string(list_slice(arr, i*4+1, i*4+4), ' ') AS chunk
        |  FROM (SELECT doc_id, source, arr,
        |               unnest(range(0, (len(arr)-1)//4 + 1)) AS i FROM t)),
        |pc AS (
        |  SELECT source, chunk, CAST(count(*) AS BIGINT) AS n_occur,
        |         CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        |  FROM c GROUP BY 1, 2)
        |SELECT source, CAST(sum(n_occur) AS BIGINT) AS n_chunks,
        |       CAST(sum(CASE WHEN n_docs >= 3 THEN n_occur ELSE 0 END) AS BIGINT) AS boiler_occ,
        |       CAST(sum(CASE WHEN n_docs >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS boiler_distinct,
        |       CAST(sum(CASE WHEN n_docs >= 3 THEN n_occur ELSE 0 END) AS BIGINT)
        |         * 1000000 // CAST(sum(n_occur) AS BIGINT) AS boiler_ppm
        |FROM pc GROUP BY source ORDER BY source""".stripMargin,
    "q_readability" ->
      """WITH tok AS (
        |  SELECT source, doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        |m AS (
        |  SELECT source, doc_id, CAST(len(w) AS BIGINT) AS wlen,
        |         CAST(len(regexp_extract_all(w, '[aeiouy]+')) AS BIGINT) AS syl
        |  FROM tok WHERE len(w) > 0),
        |a AS (
        |  SELECT source, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |         CAST(count(*) AS BIGINT) AS n_words,
        |         CAST(sum(wlen) AS BIGINT) AS n_chars,
        |         CAST(sum(syl) AS BIGINT) AS n_syllables,
        |         CAST(sum(CASE WHEN wlen >= 7 THEN 1 ELSE 0 END) AS BIGINT) AS n_long,
        |         CAST(sum(CASE WHEN syl <= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_mono
        |  FROM m GROUP BY source)
        |SELECT source, n_docs, n_words,
        |       n_chars * 1000 // n_words AS word_len_milli,
        |       n_syllables * 1000 // n_words AS syl_per_word_milli,
        |       n_long * 1000000 // n_words AS long_word_ppm,
        |       n_mono * 1000000 // n_words AS mono_ppm,
        |       n_words * 1000 // n_docs + n_long * 100000 // n_words AS lix_milli
        |FROM a ORDER BY source""".stripMargin,
    "q_stupid_backoff" ->
      """WITH d AS (SELECT string_split(text, ' ') AS arr FROM documents),
        |uni AS (
        |  SELECT w, CAST(count(*) AS BIGINT) AS c1
        |  FROM (SELECT unnest(arr) AS w FROM d) WHERE len(w) > 0 GROUP BY 1),
        |tot AS (SELECT CAST(sum(c1) AS BIGINT) AS t_tokens FROM uni),
        |bi AS (
        |  SELECT arr[i] AS w1, arr[i+1] AS w2, CAST(count(*) AS BIGINT) AS c2
        |  FROM (SELECT arr, unnest(range(1, len(arr))) AS i FROM d WHERE len(arr) >= 2)
        |  GROUP BY 1, 2),
        |tri AS (
        |  SELECT arr[i] AS w1, arr[i+1] AS w2, arr[i+2] AS w3,
        |         CAST(count(*) AS BIGINT) AS c3
        |  FROM (SELECT arr, unnest(range(1, len(arr)-1)) AS i FROM d WHERE len(arr) >= 3)
        |  GROUP BY 1, 2, 3),
        |topbi AS (
        |  SELECT w1, w2, c2 AS c2_12 FROM bi
        |  ORDER BY c2 DESC, w1, w2 LIMIT 10),
        |topuni AS (SELECT w AS w3 FROM uni ORDER BY c1 DESC, w LIMIT 5),
        |probes AS (SELECT * FROM topbi CROSS JOIN topuni)
        |SELECT p.w1, p.w2, p.w3,
        |       coalesce(tri.c3, 0) AS c3,
        |       CASE WHEN tri.c3 IS NOT NULL THEN 0
        |            WHEN b23.c2 IS NOT NULL THEN 1 ELSE 2 END AS backoff_level,
        |       CASE WHEN tri.c3 IS NOT NULL THEN tri.c3 * 1000000 // p.c2_12
        |            WHEN b23.c2 IS NOT NULL THEN b23.c2 * 400000 // u2.c1
        |            ELSE u3.c1 * 160000 // tot.t_tokens END AS score_ppm
        |FROM probes p
        |LEFT JOIN tri ON tri.w1 = p.w1 AND tri.w2 = p.w2 AND tri.w3 = p.w3
        |LEFT JOIN bi b23 ON b23.w1 = p.w2 AND b23.w2 = p.w3
        |LEFT JOIN uni u2 ON u2.w = p.w2
        |LEFT JOIN uni u3 ON u3.w = p.w3
        |CROSS JOIN tot
        |ORDER BY p.w1, p.w2, p.w3""".stripMargin
  )
}
