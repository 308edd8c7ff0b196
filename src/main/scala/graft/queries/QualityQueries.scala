package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Hash, Tables}

/** Data-quality / dataset-curation operators: referential-integrity audit,
  * per-source quality-gate yield, deterministic stratified splits, and
  * character-entropy scoring. The observability half of a corpus pipeline —
  * the queries that certify a 100 TB snapshot BEFORE training reads it.
  *
  * Scale design: every operator is either a narrow per-row computation
  * (entropy, gate rules, split hashing) followed by one map-side-combinable
  * aggregation, or an anti/outer join whose dim side broadcasts. Nothing
  * here shuffles text bodies except the per-row derived columns they
  * reduce to.
  */
object QualityQueries extends graft.SparkEntry.Module {

  /** Entropy alphabet: lowercase letters + space. Fixed and tiny, so the
    * per-doc histogram is 27 narrow `replace` scans (O(27·len) per row, no
    * explode → no shuffle of per-char rows, no Generate in the plan).
    */
  val Alphabet: Seq[String] = ('a' to 'z').map(_.toString) :+ " "

  private def h100(tag: String, k: Column): Column =
    pmod(Hash.prefix(concat(lit(tag), k.cast("string"))), lit(100L))

  /** q_blocklist_gate's policy list — compile-time constant, word-exact. */
  val BlockList: Seq[String] = Seq("dup", "slow", "leak")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // NS: referential-integrity audit over the star schema — orphan counts
    // for every FK edge plus the reverse check (childless orders). Each
    // edge is a left-outer join against parent KEYS only (broadcast for
    // dims; the orders edge reduces lineitem to distinct keys first so the
    // big-big join carries keys, not rows). The union is a 5-row report:
    // the certification a pipeline gates a snapshot on.
    // NS: code-vs-prose screen — the corpus router every mixed-crawl
    // pipeline needs before language-specific processing (code wants a
    // different tokenizer, dedup granularity and quality rubric than
    // prose): per-doc symbol and digit densities via the replace-diff
    // length trick (NO per-char explode — the q_char_entropy discipline),
    // thresholded to a code_like verdict, reported as a per-source
    // census with integer-exact mean densities. One narrow map + one
    // combinable aggregate.
    "q_code_detect" -> { (s, dir) =>
      val d = Tables.documents(s, dir).select(col("source"),
          length(col("text")).cast("long").as("len"),
          (length(col("text")) -
            length(regexp_replace(col("text"), "[;{}()=<>\\[\\]]", ""))).cast("long")
            .as("n_sym"),
          (length(col("text")) -
            length(regexp_replace(col("text"), "[0-9]", ""))).cast("long").as("n_dig"))
        .withColumn("sym_ppm", expr("n_sym * 1000000 DIV greatest(len, 1)"))
        .withColumn("dig_ppm", expr("n_dig * 1000000 DIV greatest(len, 1)"))
        .withColumn("code_like",
          (col("sym_ppm") > 20000L || col("dig_ppm") > 300000L).cast("long"))
      d.groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          sum("code_like").as("n_code_like"),
          expr("sum(sym_ppm) DIV count(1)").as("mean_sym_ppm"),
          expr("sum(dig_ppm) DIV count(1)").as("mean_dig_ppm"))
        .withColumn("code_share_ppm", expr("n_code_like * 1000000 DIV n_docs"))
        .orderBy("source")
    },

    // NS: capture–recapture (Lincoln–Petersen) population estimate — "how
    // big is the TRUE document universe two independent crawls are
    // sampling?", the coverage question a corpus acquisition pipeline
    // asks before claiming completeness. Two deterministic md5 "capture"
    // samples (p₁=30%, p₂=40%, independent salts); N̂ = n₁·n₂/m with the
    // Chapman small-sample correction ((n₁+1)(n₂+1)/(m+1) − 1), both as
    // exact integer cross-multiplications (magnitudes n² ≤ 2.5e9 at
    // fixture, DIV-safe through ~3e9 docs — beyond that the DOUBLE-floor
    // discipline applies; the Chapman form divides by m+1 so it is total
    // even at zero overlap). Self-eval: the true N rides beside.
    "q_capture_recapture" -> { (s, dir) =>
      val d = Tables.documents(s, dir).select(col("doc_id"))
        .withColumn("in1", (pmod(Hash.prefix(
          concat(lit("cap1:"), col("doc_id").cast("string"))), lit(100L)) < 30).cast("long"))
        .withColumn("in2", (pmod(Hash.prefix(
          concat(lit("cap2:"), col("doc_id").cast("string"))), lit(100L)) < 40).cast("long"))
      // coalesce: on an EMPTY universe sum() is NULL on both engines —
      // pin the capture counts to 0 so the estimates stay total
      d.agg(count(lit(1)).as("n_true"),
          coalesce(sum("in1"), lit(0L)).as("n1"),
          coalesce(sum("in2"), lit(0L)).as("n2"),
          coalesce(sum(col("in1") * col("in2")), lit(0L)).as("m"))
        .select(col("n_true"), col("n1"), col("n2"), col("m"),
          expr("CASE WHEN m = 0 THEN CAST(0 AS BIGINT) " +
            "ELSE n1 * n2 DIV m END").as("lp_est"),
          expr("(n1 + 1) * (n2 + 1) DIV (m + 1) - 1").as("chapman_est"))
        // n_true = 0 pins err_ppm to 0 (totality): unguarded, Spark's 0/0
        // yields NULL while DuckDB's produces NaN and the BIGINT cast
        // errors — the cross-engine-split class DegenerateInputsSpec polices
        .withColumn("err_ppm", expr(
          "CASE WHEN n_true = 0 THEN CAST(0 AS BIGINT) " +
            "ELSE CAST(floor(abs(CAST(chapman_est - n_true AS DOUBLE)) * 1000000.0e0 " +
            "/ CAST(n_true AS DOUBLE)) AS BIGINT) END"))
    },

    // NS: deletion-impact census — the GDPR/right-to-be-forgotten
    // planning query: if this user cohort is erased, how many rows
    // cascade across the schema's FK paths? A deterministic md5 10%
    // cohort of customers, counted through customer → orders → lineitem
    // with reduce-before-join discipline (orders collapse to per-cust
    // counts; lineitem collapses to per-ORDER counts and joins the
    // affected ORDER set — the fact table never joins customers
    // directly). Output: affected entities and row counts per table,
    // plus the cascade share of each table in ppm.
    "q_deletion_impact" -> { (s, dir) =>
      val cohort = Tables.customer(s, dir)
        .select(col("c_custkey"))
        .filter(pmod(Hash.prefix(concat(lit("del:"), col("c_custkey").cast("string"))), lit(100L)) < 10)
      val ordImpact = Tables.orders(s, dir)
        .join(broadcast(cohort), col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"))
        .localCheckpoint(eager = false) // affected-order set; feeds count AND lineitem probe
      val liPerOrder = Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey")).agg(count(lit(1)).as("n_li"))
      val liImpact = liPerOrder
        .join(ordImpact, col("l_orderkey") === col("o_orderkey"))
        .agg(coalesce(sum("n_li"), lit(0L)).as("li_rows"))
      val totals = Tables.customer(s, dir).agg(count(lit(1)).as("n_cust"))
        .crossJoin(Tables.orders(s, dir).agg(count(lit(1)).as("n_ord")))
        .crossJoin(Tables.lineitem(s, dir).agg(count(lit(1)).as("n_li_tot")))
      cohort.agg(count(lit(1)).as("cohort_custs"))
        .crossJoin(broadcast(ordImpact.agg(count(lit(1)).as("ord_rows"))))
        .crossJoin(broadcast(liImpact))
        .crossJoin(broadcast(totals))
        .select(col("cohort_custs"), col("ord_rows"), col("li_rows"),
          expr("cohort_custs * 1000000 DIV n_cust").as("cust_share_ppm"),
          expr("ord_rows * 1000000 DIV n_ord").as("ord_share_ppm"),
          expr("li_rows * 1000000 DIV n_li_tot").as("li_share_ppm"))
    },

    "q_fk_audit" -> { (s, dir) =>
      def edge(name: String, child: DataFrame, key: String,
               parent: DataFrame, pkey: String, bcast: Boolean): DataFrame = {
        val p = parent.select(col(pkey)).withColumn("_hit", lit(1))
        val pj = if (bcast) broadcast(p) else p
        child.join(pj, col(key) === col(pkey), "left_outer")
          .agg(count(lit(1)).as("n_child"),
            sum(when(col("_hit").isNull, 1L).otherwise(0L)).as("n_orphan"))
          .select(lit(name).as("fk"), col("n_child"), col("n_orphan"))
      }
      val li = Tables.lineitem(s, dir)
      val ord = Tables.orders(s, dir)
      edge("events.user_id->customer", Tables.events(s, dir), "user_id",
          Tables.customer(s, dir), "c_custkey", bcast = true)
        .unionByName(edge("lineitem.l_orderkey->orders", li, "l_orderkey",
          ord, "o_orderkey", bcast = false))
        .unionByName(edge("lineitem.l_partkey->part", li, "l_partkey",
          Tables.part(s, dir), "p_partkey", bcast = true))
        .unionByName(edge("lineitem.l_suppkey->supplier", li, "l_suppkey",
          Tables.supplier(s, dir), "s_suppkey", bcast = true))
        // reverse edge: parents with no children (dead orders). The child
        // side collapses to distinct keys BEFORE the join — at 100 TB the
        // join probes |orders| x |distinct orderkeys|, never raw lineitem.
        .unionByName(
          ord.join(li.select(col("l_orderkey")).distinct().withColumn("_hit", lit(1)),
              col("o_orderkey") === col("l_orderkey"), "left_outer")
            .agg(count(lit(1)).as("n_child"),
              sum(when(col("_hit").isNull, 1L).otherwise(0L)).as("n_orphan"))
            .select(lit("orders!->lineitem (childless)").as("fk"),
              col("n_child"), col("n_orphan")))
        .orderBy("fk")
    },

    // NS: quality-gate yield report — four independent corpus rules
    // (non-empty, length band, min words, distinct-word ratio) evaluated
    // per row, aggregated per source. One narrow pass + one K-group
    // shuffle; the yield column is what a curation run monitors per
    // snapshot (which sources are rotting). Yield is reported as integer
    // parts-per-million ((pass*1e6) div n) rather than a rounded float:
    // integer division is bit-identical on every engine version, while a
    // float ratio's last-ulp depends on division/rounding implementation.
    "q_quality_gate" -> { (s, dir) =>
      val w = split(col("text"), " ")
      val gated = Tables.documents(s, dir)
        .withColumn("r_nonempty", (length(trim(col("text"))) > 0).cast("long"))
        .withColumn("r_len", (col("n_chars").between(20, 2000)).cast("long"))
        .withColumn("r_words", (size(w) >= 5).cast("long"))
        .withColumn("r_distinct",
          (size(array_distinct(w)).cast("double") >=
            size(w).cast("double") * 0.3).cast("long"))
      gated.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("r_nonempty").as("pass_nonempty"),
          sum("r_len").as("pass_len"),
          sum("r_words").as("pass_words"),
          sum("r_distinct").as("pass_distinct"),
          sum(col("r_nonempty") * col("r_len") * col("r_words") * col("r_distinct"))
            .as("pass_all"))
        .withColumn("yield_ppm", expr("(pass_all * 1000000) div n_docs"))
        .orderBy("source")
    },

    // NS: quality-proportional rejection sampling — the CCNet/Gopher-style
    // corpus downsampler: each document is kept with probability equal to
    // its quality score, implemented as the pure integer-threshold variate
    // pmod(Hash.prefix("rej:" || doc_id), 1e6) < quality_ppm (the SCALE.md design
    // rule: no RNG, no sampling state — re-runs, retries and both engines
    // keep the SAME documents, and acceptance is a per-row FILTER that
    // fuses into the scan, zero shuffle before the census). Quality is the
    // q_text_quality formula in EXACT integer ppm: least(n_words,100) ·
    // (n_words − n_stop) · 10000 DIV n_words (≤ 1e6 by construction;
    // empty docs pin 0). The per-source census publishes the observed
    // acceptance beside the planned rate Σq DIV n — the in-band self-eval
    // a sampler ships with (observed ≈ expected is the operator's
    // correctness claim at any scale).
    "q_rejection_sample" -> { (s, dir) =>
      val w = split(col("text"), " ")
      val stop = array(Seq("the", "a", "of", "and", "to", "in").map(lit): _*)
      val scored = Tables.documents(s, dir)
        .withColumn("n_words", size(w).cast("long"))
        .withColumn("n_stop",
          size(filter(w, x => array_contains(stop, x))).cast("long"))
        .withColumn("q_ppm", expr(
          "CASE WHEN n_words = 0 THEN CAST(0 AS BIGINT) " +
            "ELSE least(n_words, 100) * (n_words - n_stop) * 10000 DIV n_words END"))
        .withColumn("accept",
          (pmod(Hash.prefix(concat(lit("rej:"), col("doc_id").cast("string"))),
            lit(1000000L)) < col("q_ppm")).cast("long"))
      scored.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("accept").as("n_accepted"),
          sum("q_ppm").as("q_sum"),
          sum("n_chars").as("chars_total"),
          sum(col("accept") * col("n_chars")).as("chars_kept"))
        .select(col("source"), col("n_docs"), col("n_accepted"),
          expr("n_accepted * 1000000 DIV n_docs").as("accept_ppm"),
          expr("q_sum DIV n_docs").as("expected_ppm"),
          col("chars_total"), col("chars_kept"))
        .orderBy("source")
    },

    // NS: deterministic stratified train/val/test split (80/10/10 by hashed
    // doc_id) with per-(lang, split) counts and within-stratum shares. The
    // split is a pure row-local hash — reproducible across engines, runs,
    // and cluster sizes (no RNG, no sampling state), which is the property
    // a 100 TB training snapshot needs: re-running the split never moves a
    // document between sets.
    "q_stratified_split" -> { (s, dir) =>
      val t = Tables.documents(s, dir)
        .withColumn("h", h100("split:", col("doc_id")))
        .withColumn("split",
          when(col("h") < 80, "train").when(col("h") < 90, "val").otherwise("test"))
      val strata = t.groupBy("lang").agg(count(lit(1)).as("n_lang"))
      t.groupBy("lang", "split").agg(count(lit(1)).as("n"))
        .join(broadcast(strata), "lang")
        .select(col("lang"), col("split"), col("n"),
          round(col("n").cast("double") / col("n_lang").cast("double"), 6).as("share"))
        .orderBy("lang", "split")
    },

    // NS: term-blocklist safety gate — the removal census a corpus pipeline
    // publishes when a filter list lands: per-source docs flagged (any
    // blocked word present) and distinct-blocked-term hit volume, rates in
    // exact ppm. Membership is word-exact (array_contains on the split,
    // not substring regex — "duplicate" must NOT match "dup"), one narrow
    // per-row computation folding into a source-sized aggregate; the list
    // itself is a compile-time constant the optimizer folds, never a
    // broadcast (the r5 unbounded-vocab lesson does not apply: a policy
    // blocklist is bounded by definition).
    "q_blocklist_gate" -> { (s, dir) =>
      val w = split(col("text"), " ")
      val hits = BlockList.map(t => array_contains(w, t).cast("long"))
        .reduce(_ + _)
      Tables.documents(s, dir)
        .select(col("source"), hits.as("hits"))
        .groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          sum((col("hits") > 0).cast("long")).as("n_flagged"),
          sum("hits").as("n_term_hits"))
        .select(col("source"), col("n_docs"), col("n_flagged"), col("n_term_hits"),
          expr("n_flagged * 1000000 DIV n_docs").as("flag_ppm"))
        .orderBy("source")
    },

    // NS: GROUP-aware K-fold assignment — the eval split that actually
    // holds on a dedup-imperfect corpus: hashing the SOURCE (not the doc)
    // keeps every near-duplicate family inside one fold, so no fold trains
    // on its own eval set's siblings (q_split_leakage measures that hazard;
    // this op prevents it by construction). The fold is a pure md5 of the
    // group key — no shuffle to assign, reproducible on any layout — and
    // the per-fold census is one map-side-combined aggregate. leak_free
    // re-proves atomicity in-band: Σ per-fold distinct sources == global
    // distinct sources (a source straddling folds would double-count).
    "q_cross_fold" -> { (s, dir) =>
      val d = Tables.documents(s, dir)
        .withColumn("fold", pmod(Hash.prefix(concat(lit("fold:"), col("source"))), lit(5L)))
      val per = d.groupBy("fold").agg(
        count(lit(1)).as("n_docs"),
        countDistinct("source").as("n_sources"),
        sum("n_chars").as("n_chars"))
      val tot = d.agg(
        countDistinct("source").as("g_sources"),
        count(lit(1)).as("g_docs"))
      per.crossJoin(broadcast(tot))
        .withColumn("share_ppm", expr("n_docs * 1000000 DIV g_docs"))
        .withColumn("leak_free",
          (sum("n_sources").over(Window.partitionBy()) === col("g_sources"))
            .cast("long"))
        .select(col("fold"), col("n_docs"), col("n_sources"), col("n_chars"),
          col("share_ppm"), col("leak_free"))
        .orderBy("fold")
    },

    // NS: length-curriculum schedule — the short-to-long document ordering
    // an LLM pretraining run feeds its sampler: fixed 100-char stages (the
    // DIV grid discipline — stage count is set by the length domain, not
    // N), per-stage doc/token volume, and the cumulative token budget a
    // scheduler reads off to place stage boundaries. Token counts are the
    // exact whitespace census (q_text_tokens's n_ws); the only window runs
    // over the ≤6 stage rows, never over documents.
    "q_curriculum" -> { (s, dir) =>
      val d = Tables.documents(s, dir).select(
        expr("least(CAST(n_chars AS BIGINT) DIV 100, 5)").as("stage"),
        size(split(col("text"), "\\s+")).cast("long").as("n_tok"))
      val per = d.groupBy("stage")
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))
      val w = Window.orderBy("stage")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = per.agg(sum("n_tokens").as("g_tokens"))
      per.crossJoin(broadcast(tot))
        .withColumn("cum_tokens", sum("n_tokens").over(w))
        .select(col("stage"), col("n_docs"), col("n_tokens"), col("cum_tokens"),
          expr("n_tokens * 1000000 DIV g_tokens").as("share_ppm"))
        .orderBy("stage")
    },

    // NS: per-document character-level Shannon entropy over a fixed
    // 27-symbol alphabet — the cheap gibberish/boilerplate detector (low
    // entropy = repeated chars/padding; ~3.1 = English-like). The histogram
    // is 27 `replace` length-diffs (narrow, codegen, no explode of N·len
    // char rows); the entropy fold runs in fixed left-to-right order in
    // both engines so the float sum is reproducible.
    "q_char_entropy" -> { (s, dir) =>
      val t = lower(col("text"))
      val counts = array(Alphabet.map(ch =>
        (length(t) - length(replace(t, lit(ch), lit("")))).cast("double")): _*)
      Tables.documents(s, dir)
        .select(col("doc_id"), counts.as("cnt"))
        .select(col("doc_id"), col("cnt"),
          aggregate(col("cnt"), lit(0.0d), (acc, x) => acc + x).as("n"))
        .select(col("doc_id"),
          round(-aggregate(
            transform(col("cnt"), c =>
              when(c > 0, (c / col("n")) * log(c / col("n"))).otherwise(lit(0.0d))),
            lit(0.0d), (acc, x) => acc + x), 6).as("entropy"))
        .orderBy("doc_id")
    },

    // NS: NOT IN with three-valued-logic semantics — the null-aware anti
    // join. The subquery column is not provably non-null (nullif), so
    // Catalyst MUST plan the null-aware variant (a broadcast NAAJ): one
    // null in the subquery would empty the result, and a plain anti join
    // would silently get that wrong. The subquery side is an aggregate of
    // dim cardinality — broadcastable at any fact scale.
    "q_not_in" -> { (s, dir) =>
      Tables.customer(s, dir).createOrReplaceTempView("customer_naaj_v")
      Tables.orders(s, dir).createOrReplaceTempView("orders_naaj_v")
      s.sql("""SELECT o_orderstatus, count(*) AS n_orders
              |FROM orders_naaj_v
              |WHERE o_custkey NOT IN
              |  (SELECT nullif(c_custkey, -1) FROM customer_naaj_v
              |   WHERE c_acctbal < 500)
              |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
    },

    // NS: correlated LATERAL subquery — per-nation top-2 customers by
    // balance, written as the SQL-standard lateral join. Catalyst
    // decorrelates it into a window-rank over ONE customer shuffle (no
    // per-nation subquery execution); the same plan the window spelling
    // gets, with the lateral syntax a migrating SQL user expects.
    "q_lateral_topn" -> { (s, dir) =>
      Tables.customer(s, dir).createOrReplaceTempView("customer_lat_v")
      Tables.nation(s, dir).createOrReplaceTempView("nation_lat_v")
      s.sql("""SELECT n.n_name, t.c_custkey, t.c_acctbal
              |FROM nation_lat_v n,
              |LATERAL (SELECT c_custkey, c_acctbal FROM customer_lat_v
              |         WHERE c_nationkey = n.n_nationkey
              |         ORDER BY c_acctbal DESC, c_custkey LIMIT 2) t
              |ORDER BY n.n_name, t.c_acctbal DESC, t.c_custkey""".stripMargin)
    },

    // Correlated EXISTS / NOT EXISTS as verbatim SQL (the reference-user
    // migration path, like q_sql_tpch): nations' customers with an open
    // order but no finalized order. Catalyst decorrelates both subqueries
    // into one semi and one anti hash join — no per-row subquery execution
    // at any scale (plan-asserted in PlanPropertiesSpec).
    "q_exists_subquery" -> { (s, dir) =>
      Tables.customer(s, dir).createOrReplaceTempView("customer_v")
      Tables.orders(s, dir).createOrReplaceTempView("orders_v")
      Tables.nation(s, dir).createOrReplaceTempView("nation_v")
      s.sql("""SELECT n_name, count(*) AS n_cust
              |FROM customer_v JOIN nation_v ON c_nationkey = n_nationkey
              |WHERE EXISTS (SELECT 1 FROM orders_v
              |              WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
              |  AND NOT EXISTS (SELECT 1 FROM orders_v
              |                  WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
              |GROUP BY n_name ORDER BY n_name""".stripMargin)
    },

    // NS: train/val distribution drift — exact total-variation distance
    // between the two splits' unigram distributions, the monitor that
    // catches a broken split hash or a skewed shard assignment before
    // training does. The cross-multiplied numerator sum |c_t*Nv - c_v*Nt|
    // is EXACT integer arithmetic (the only float op is one final IEEE
    // division of exact integers, deterministic on both engines); splits
    // come from the same md5 hash as q_stratified_split, so drift here
    // indicts the data, never RNG. int64 bound: c*N products cap splits at
    // ~3e9 tokens apiece — beyond that the numerator needs a decimal
    // widening, noted here rather than silently wrong.
    "q_token_drift" -> { (s, dir) =>
      val t = Tables.documents(s, dir)
        .withColumn("h", h100("split:", col("doc_id")))
        .filter(col("h") < 90)
        .select((col("h") < 80).cast("long").as("is_train"),
          explode(split(col("text"), " ")).as("word"))
      val wc = t.groupBy("word").agg(
        sum(col("is_train")).as("c_t"),
        sum(lit(1L) - col("is_train")).as("c_v"))
      val tot = wc.agg(sum("c_t").as("nt"), sum("c_v").as("nv"))
      wc.crossJoin(broadcast(tot))
        .agg(count(lit(1)).as("n_words"),
          max("nt").as("n_train_tokens"), max("nv").as("n_val_tokens"),
          sum(abs(col("c_t") * col("nv") - col("c_v") * col("nt"))).as("tv_num"))
        .withColumn("tv", round(col("tv_num").cast("double") /
          (col("n_train_tokens").cast("double") * col("n_val_tokens").cast("double") * 2.0), 9))
    },

    // NS: Jensen-Shannon drift — q_token_drift's TV distance weights every
    // token linearly; JSD is the log-scaled companion most drift monitors
    // actually alert on (bounded [0, ln 2], symmetric, defined when either
    // side has zero counts — exactly the new-token case that breaks raw
    // KL). Same split hash and word-keyed count shuffle as q_token_drift;
    // per-word terms 0.5·p·ln(p/m) + 0.5·q·ln(q/m) (m = the mixture) are
    // IEEE doubles on both engines, summed once and rounded to 9 dp — the
    // ~1e-13 engine/sum-order wobble over a vocab-sized sum sits five
    // decades under the rounding quantum (the q_token_drift discipline);
    // every other column is exact integer. The vocab-sized term frame is
    // the ONLY thing after the word shuffle — nothing row-scale survives.
    "q_jsd_drift" -> { (s, dir) =>
      val t = Tables.documents(s, dir)
        .withColumn("h", h100("split:", col("doc_id")))
        .filter(col("h") < 90)
        .select((col("h") < 80).cast("long").as("is_train"),
          explode(split(col("text"), " ")).as("word"))
      val wc = t.groupBy("word").agg(
        sum(col("is_train")).as("c_t"),
        sum(lit(1L) - col("is_train")).as("c_v"))
      val tot = wc.agg(sum("c_t").as("nt"), sum("c_v").as("nv"))
      val p = col("c_t").cast("double") / col("nt").cast("double")
      val q = col("c_v").cast("double") / col("nv").cast("double")
      val m = (p + q) / lit(2.0)
      val term =
        when(col("c_t") > 0, p * log(p / m) / 2).otherwise(lit(0.0)) +
          when(col("c_v") > 0, q * log(q / m) / 2).otherwise(lit(0.0))
      wc.crossJoin(broadcast(tot))
        .agg(count(lit(1)).as("n_words"),
          max("nt").as("n_train_tokens"), max("nv").as("n_val_tokens"),
          sum(when(col("c_v") === 0, 1L).otherwise(0L)).as("n_train_only"),
          sum(when(col("c_t") === 0, 1L).otherwise(0L)).as("n_val_only"),
          round(sum(term), 9).as("jsd"))
    },

    // NS: worst-slice finder — the model-debugging sweep (SliceFinder/
    // SliceLine lineage): which (segment × priority) subgroup deviates
    // most from the global final-status rate? The fact reduces to the
    // bounded slice grid in one aggregate; the deviation score
    // |n_f·N − F·n| is EXACT integer cross-multiplication (support-scaled,
    // so a 3-row slice with a wild rate cannot outrank a real cohort),
    // ranked with a total (score desc, keys) order into the top 5.
    // int64 bound: n_f·N caps slice mass × corpus at ~9e18 (the
    // q_target_encode note).
    "q_slice_finder" -> { (s, dir) =>
      val slices = Tables.orders(s, dir)
        .join(Tables.customer(s, dir).select("c_custkey", "c_mktsegment"),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment").as("segment"), col("o_orderpriority").as("priority"))
        .agg(count(lit(1)).as("n"),
          sum((col("o_orderstatus") === "F").cast("long")).as("n_f"))
      val tot = slices.agg(sum("n").as("nt"), sum("n_f").as("ft"))
      slices.crossJoin(broadcast(tot))
        .select(col("segment"), col("priority"), col("n"), col("n_f"),
          expr("n_f * 1000000 DIV n").as("rate_ppm"),
          expr("ft * 1000000 DIV nt").as("global_ppm"),
          abs(col("n_f") * col("nt") - col("ft") * col("n")).as("dev_score"))
        .orderBy(col("dev_score").desc, col("segment"), col("priority"))
        .limit(5)
    },

    // NS: PSI drift — the Population Stability Index, the industry-standard
    // binned drift score (credit-risk monitoring lineage; alert folklore:
    // >0.1 investigate, >0.25 act) beside q_token_drift's TV and
    // q_jsd_drift's JSD: doc-length distributions of the train vs val
    // split over FIXED integer bins (n_chars DIV 50, capped at 15 — the
    // bounded-domain histogram discipline), add-1 smoothed so empty bins
    // stay finite. Counts are exact integers off one bounded-bin
    // aggregate; the Σ(p−q)·ln(p/q) fold runs over ≤16 bins and rounds at
    // 9, and the alert verdict compares the ROUNDED psi so both engines
    // decide from the identical value.
    "q_psi_drift" -> { (s, dir) =>
      val binned = Tables.documents(s, dir)
        .withColumn("h", h100("split:", col("doc_id")))
        .filter(col("h") < 90)
        .select((col("h") < 80).cast("long").as("is_train"),
          least(expr("n_chars DIV 50"), lit(15L)).as("bin"))
      val bc = binned.groupBy("bin").agg(
        sum("is_train").as("c_t"), sum(lit(1L) - col("is_train")).as("c_v"))
      val tot = bc.agg(sum("c_t").as("nt"), sum("c_v").as("nv"),
        count(lit(1)).as("nb"))
      val p = (col("c_t") + 1).cast("double") / (col("nt") + col("nb")).cast("double")
      val q = (col("c_v") + 1).cast("double") / (col("nv") + col("nb")).cast("double")
      bc.crossJoin(broadcast(tot))
        .agg(max("nb").as("n_bins"), max("nt").as("n_train"), max("nv").as("n_val"),
          round(sum((p - q) * log(p / q)), 9).as("psi"))
        .withColumn("alert", (col("psi") > 0.1).cast("long"))
    },

    // NS: dataset card — the per-source summary a 100 TB snapshot PUBLISHES
    // alongside itself (docs, token volume, language spread, exact-dup
    // surplus, mean length): one narrow per-row projection (token count,
    // text md5) reduced by two source-keyed aggregates joined hint-free
    // (source cardinality is corpus-defined, not bounded by contract).
    // The dup surplus reuses the exact-dedup census spelling: redundant
    // copies = group size minus one survivor per distinct text, summed —
    // all integers, no float anywhere.
    "q_dataset_card" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), col("lang"), col("n_chars"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"),
          md5(col("text")).as("h"))
      val base = docs.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum("n_tokens").as("total_tokens"),
        countDistinct("lang").as("n_langs"),
        sum("n_chars").as("sum_chars"))
      val dup = docs.groupBy("source", "h").agg(count(lit(1)).as("cnt"))
        .groupBy("source").agg((sum("cnt") - count(lit(1))).as("n_dup_surplus"))
      base.join(dup, "source")
        .select(col("source"), col("n_docs"), col("total_tokens"), col("n_langs"),
          col("n_dup_surplus"), expr("sum_chars DIV n_docs").as("mean_chars"))
        .orderBy("source")
    },

    // NS: data-contract expectation suite (the Great-Expectations shape):
    // each table folds its whole checklist in ONE conditional aggregate —
    // domain membership, range, positivity, uniqueness (count minus
    // countDistinct, no self-join) — and the union of the per-table
    // 1-row frames unpivots to the (check, n_rows, n_violations,
    // viol_ppm, pass) report a pipeline gates deploys on. Nothing after
    // the per-table aggregate scales with rows; every verdict is an
    // exact integer.
    "q_data_contract" -> { (s, dir) =>
      def report(df: DataFrame, checks: Seq[(String, Column)]): DataFrame = {
        val aggs = count(lit(1)).as("n_rows") +:
          checks.map { case (nm, viol) =>
            sum(viol.cast("long")).as(s"v_$nm")
          }
        val wide = df.agg(aggs.head, aggs.tail: _*)
        wide.select(explode(array(checks.map { case (nm, _) =>
            // backticks: check names contain dots, which bare col() would
            // parse as struct-field access
            struct(lit(nm).as("check"), col("n_rows"), col(s"`v_$nm`").as("n_violations"))
          }: _*)).as("r"))
          .select(col("r.check").as("check"), col("r.n_rows").as("n_rows"),
            col("r.n_violations").as("n_violations"))
      }
      val orders = report(Tables.orders(s, dir), Seq(
        "orders.totalprice_positive" -> (col("o_totalprice") <= 0),
        "orders.status_domain" -> !col("o_orderstatus").isin("O", "F", "P"),
        // uniqueness spelled as a per-row duplicate mark would need a
        // window; the count-vs-distinct gap is the aggregate-only form
        "orders.orderkey_nonnull" -> col("o_orderkey").isNull))
      val keyDup = Tables.orders(s, dir)
        .agg((count(lit(1)) - countDistinct(col("o_orderkey"))).as("n_violations"),
          count(lit(1)).as("n_rows"))
        .select(lit("orders.orderkey_unique").as("check"), col("n_rows"),
          col("n_violations"))
      val events = report(Tables.events(s, dir), Seq(
        "events.value_nonnegative" -> (col("value") < 0),
        "events.ts_in_window" ->
          (col("ts") < to_timestamp(lit("2024-01-01 00:00:00")) ||
            col("ts") >= to_timestamp(lit("2024-02-01 00:00:00"))),
        "events.type_nonempty" -> (length(col("event_type")) === 0)))
      val docs = report(Tables.documents(s, dir), Seq(
        "documents.lang_domain" -> !col("lang").isin("en", "de", "fr", "es", "zh"),
        "documents.chars_match_text" -> (length(col("text")) =!= col("n_chars"))))
      orders.unionByName(keyDup).unionByName(events).unionByName(docs)
        .withColumn("viol_ppm", expr("n_violations * 1000000 DIV n_rows"))
        .withColumn("pass", (col("n_violations") === 0).cast("long"))
        .orderBy("check")
    },

    // NS: item-item collaborative filtering — the neighborhood-method
    // recommender primitive (q_als_step's factorization sibling): cosine²
    // similarity between item rating vectors over the shared user base,
    // EXACT as one integer dot-product aggregate per pair — ratings in
    // deci-units keep every Σr_a·r_b below 2^53 through the 10x stress
    // user count, so the single IEEE division rounds identically. The
    // pair join is item×item through the USER key (each user contributes
    // C(items,2) <= 10 pairs — the market-basket per-group bound), never
    // all-pairs over rows.
    "q_item_cf" -> { (s, dir) =>
      val r = Tables.events(s, dir)
        .groupBy(col("user_id"), col("event_type").as("item"))
        .agg(expr("CAST(sum(CAST(round(value * 10) AS BIGINT)) AS BIGINT)").as("r"))
        .localCheckpoint(eager = false) // feeds norms and the pair join
      val norms = r.groupBy("item").agg(sum(col("r") * col("r")).as("n2"))
      val pairs = r.as("x").join(r.as("y"), "user_id")
        .filter(col("x.item") < col("y.item"))
        .groupBy(col("x.item").as("item_a"), col("y.item").as("item_b"))
        .agg(count(lit(1)).as("n_common_users"),
          sum(col("x.r") * col("y.r")).as("dot"))
      pairs
        .join(norms.select(col("item").as("item_a"), col("n2").as("na")), "item_a")
        .join(broadcast(norms.select(col("item").as("item_b"), col("n2").as("nb"))), "item_b")
        .select(col("item_a"), col("item_b"), col("n_common_users"),
          round(col("dot").cast("double") * col("dot").cast("double") /
            (col("na").cast("double") * col("nb").cast("double")), 6).as("cos2"))
        .orderBy("item_a", "item_b")
    },

    // NS: primary-key discovery — the first pass of every schema profiler
    // (and of q_fk_audit's upstream "which column IS the key"): per column
    // of orders, exact row/distinct/null counts and the candidate-key
    // verdict (distinct == rows, zero nulls). All six distincts fold in
    // ONE aggregate — Catalyst plans the multi-DISTINCT as a single
    // Expand (6x row multiplication collapsing map-side), one shuffle,
    // not six scans; the stack() unpivot runs on the 1-row result. At
    // 100 TB the same shape holds (the Expand is the standard profiler
    // cost); the approx path for wider tables is q_distinct_approx's HLL.
    // NS: functional-dependency check — q_pk_discovery's relational
    // sibling ("does A determine B?"): FD A→B holds iff
    // countDistinct(A) == countDistinct(A, B). All pairs for a table fold
    // in ONE multi-DISTINCT aggregate (a single Expand, one shuffle per
    // table, not one scan per pair); the violating-key count (pairs minus
    // lhs) is the repair workload estimate. Keys here are non-null by
    // fixture contract (q_data_contract gates that), so the
    // countDistinct(A, B) null-row drop cannot diverge from the oracle's
    // row-struct count.
    "q_fd_check" -> { (s, dir) =>
      def fdAgg(df: DataFrame, table: String, pairs: Seq[(String, String)]) = {
        val aggs = pairs.zipWithIndex.flatMap { case ((a, b), i) =>
          Seq(countDistinct(col(a)).as(s"da_$i"),
            countDistinct(col(a), col(b)).as(s"dab_$i"))
        }
        val stackArgs = pairs.zipWithIndex
          .map { case ((a, b), i) => s"'$table', '$a', '$b', da_$i, dab_$i" }
          .mkString(", ")
        // r12: the multi-DISTINCT Expand (x2·pairs rows) and its partial
        // aggregate run in the scan stage — fan the narrow key columns out
        // first so the expansion parallelizes (identity at scale splits)
        val keyCols = pairs.flatMap(p => Seq(p._1, p._2)).distinct.map(col)
        val src = graft.core.Par.fanOutIfCompact(df.select(keyCols: _*), keyCols: _*)
        src.agg(aggs.head, aggs.tail: _*)
          .select(expr(s"stack(${pairs.length}, $stackArgs) " +
            "AS (table_name, lhs, rhs, n_lhs, n_pair)"))
      }
      val o = fdAgg(Tables.orders(s, dir), "orders",
        Seq(("o_orderkey", "o_custkey"), ("o_custkey", "o_orderstatus")))
      val l = fdAgg(Tables.lineitem(s, dir), "lineitem",
        Seq(("l_orderkey", "l_partkey"), ("l_partkey", "l_suppkey")))
      o.unionByName(l)
        .withColumn("n_violating_keys", col("n_pair") - col("n_lhs"))
        .withColumn("fd_holds", (col("n_pair") === col("n_lhs")).cast("long"))
        .orderBy("table_name", "lhs", "rhs")
    },

    "q_pk_discovery" -> { (s, dir) =>
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderdate", "o_orderpriority")
      val aggs = Seq(count(lit(1)).as("n_rows")) ++
        cols.flatMap(c => Seq(
          countDistinct(col(c)).as(s"d_$c"),
          sum(col(c).isNull.cast("long")).as(s"z_$c")))
      // r13: the r12 fan-out here was kept against its own full-bench
      // evidence (x1.34 box-normalized on the committed quiet maps) — the
      // 13-column Expand over 150k rows is ~0.1 s of single-core work and
      // the added exchange cost more. Reverted to the direct aggregate.
      val one = Tables.orders(s, dir).select(cols.map(col): _*)
        .agg(aggs.head, aggs.tail: _*)
      val stackArgs = cols.map(c => s"'$c', d_$c, z_$c").mkString(", ")
      one.select(col("n_rows"),
          expr(s"stack(${cols.length}, $stackArgs) AS (column_name, n_distinct, n_null)"))
        .select(col("column_name"), col("n_rows"), col("n_distinct"), col("n_null"),
          expr("n_distinct * 1000000 DIV n_rows").as("distinct_ppm"),
          (col("n_distinct") === col("n_rows") && col("n_null") === 0)
            .cast("long").as("is_pk"))
        .orderBy("column_name")
    },

    // NS: join-candidate discovery via KMV value sketches (the Aurum /
    // data-catalog primitive: "which column pairs join?"). Each key
    // column's DISTINCT value set reduces to its k = 128 smallest 56-bit
    // md5 hashes via the combinable BottomKDistinctAgg (no pre-distinct:
    // the aggregator absorbs duplicates map-side, so raw columns never
    // shuffle); a pair's Jaccard is then estimated INSIDE the union
    // sketch — the k smallest of A ∪ B, counting members of both — so
    // columns are compared through 128-row frames, never value-by-value
    // (the whole point at 100 TB: catalog discovery over sketches, not
    // data). The binomial error bound sqrt(j(1−j)/k) rides beside the
    // estimate; the exact-Jaccard recall check is spec-only
    // (ProfilingOpsSpec, sf0.001) — fixture-scale work the operator must
    // not pay. Verdict = estimate >= 0.5.
    "q_join_discovery" -> { (s, dir) =>
      val K = 128
      val colFrames = Seq(
        ("o_orderkey", Tables.orders(s, dir).select(col("o_orderkey").as("v"))),
        ("o_custkey", Tables.orders(s, dir).select(col("o_custkey").as("v"))),
        ("c_custkey", Tables.customer(s, dir).select(col("c_custkey").as("v"))),
        ("l_orderkey", Tables.lineitem(s, dir).select(col("l_orderkey").as("v"))),
        ("l_partkey", Tables.lineitem(s, dir).select(col("l_partkey").as("v"))),
        ("p_partkey", Tables.part(s, dir).select(col("p_partkey").as("v"))))
      // r12: each union branch's partial bottom-k runs in its scan stage
      // (one task per compact fixture file) — fan the narrow value rows
      // out so the md5 sketch build parallelizes (identity at scale)
      val values = graft.core.Par.fanOutIfCompact(colFrames.map { case (name, df) =>
        df.select(lit(name).as("col_name"), col("v"))
      }.reduce(_ unionByName _), col("col_name"), col("v"))
      // combinable bottom-k sketch build: ≤ K hashes per column per
      // partition cross the shuffle (a rank window here would sort each
      // column's whole distinct value domain in a single reducer task)
      val bottomK = udaf(new graft.functions.BottomKDistinctAgg(K))
      val sk = values.select(col("col_name"),
        Hash.prefix(concat(lit("jd:"), col("v").cast("string")), 14).as("h"))
        .groupBy("col_name").agg(bottomK(col("h")).as("hs"))
        .select(col("col_name"), explode(col("hs")).as("h"))
        .localCheckpoint(eager = false) // 128-row-per-column frame; feeds three joins
      val pairs = Seq(("o_orderkey", "l_orderkey"), ("o_custkey", "c_custkey"),
        ("l_partkey", "p_partkey"), ("o_orderkey", "o_custkey"))
      val pairDf = broadcast(s.createDataFrame(pairs).toDF("col_a", "col_b"))
      // sketch MERGE = k smallest distinct of the two sketches' union —
      // the same aggregator over the ≤ 2K-row joined frame
      val union = pairDf
        .join(sk.select(col("col_name"), col("h")), col("col_name") === col("col_a") ||
          col("col_name") === col("col_b"))
        .groupBy("col_a", "col_b").agg(bottomK(col("h")).as("hs"))
        .select(col("col_a"), col("col_b"), explode(col("hs")).as("h"))
      val inA = sk.select(col("col_name").as("col_a"), col("h"), lit(1L).as("in_a"))
      val inB = sk.select(col("col_name").as("col_b"), col("h"), lit(1L).as("in_b"))
      union
        .join(inA, Seq("col_a", "h"), "left_outer")
        .join(inB, Seq("col_b", "h"), "left_outer")
        .groupBy("col_a", "col_b")
        .agg(count(lit(1)).as("k_union"),
          sum(coalesce(col("in_a"), lit(0L)) * coalesce(col("in_b"), lit(0L)))
            .as("k_both"))
        .withColumn("jaccard_est_ppm", expr("k_both * 1000000 DIV k_union"))
        .withColumn("jaccard_err_ppm", expr(
          "CAST(floor(sqrt((CAST(k_both AS DOUBLE) / CAST(k_union AS DOUBLE)) * " +
            "(1.0e0 - CAST(k_both AS DOUBLE) / CAST(k_union AS DOUBLE)) " +
            "/ CAST(k_union AS DOUBLE)) * 1000000.0e0) AS BIGINT)"))
        .select(col("col_a"), col("col_b"), col("k_union"), col("k_both"),
          col("jaccard_est_ppm"), col("jaccard_err_ppm"),
          (col("jaccard_est_ppm") >= 500000L).cast("long").as("join_candidate"))
        .orderBy("col_a", "col_b")
    }
  )

  def oracleSql: Map[String, String] = {
    val alphabetSql = Alphabet.map(c => s"'${if (c == "'") "''" else c}'").mkString("[", ", ", "]")
    val blockHitsSql = BlockList
      .map(t => s"CAST(list_contains(string_split(text, ' '), '$t') AS BIGINT)")
      .mkString(" + ")
    Map(
      "q_blocklist_gate" ->
        s"""WITH d AS (SELECT source, $blockHitsSql AS hits FROM documents),
           |per AS (SELECT source, count(*) AS n_docs,
           |               CAST(sum(CAST(hits > 0 AS BIGINT)) AS BIGINT) AS n_flagged,
           |               CAST(sum(hits) AS BIGINT) AS n_term_hits
           |        FROM d GROUP BY 1)
           |SELECT source, n_docs, n_flagged, n_term_hits,
           |       CAST(n_flagged * 1000000 // n_docs AS BIGINT) AS flag_ppm
           |FROM per ORDER BY source""".stripMargin,
      "q_cross_fold" ->
        s"""WITH d AS (
          |  SELECT source, n_chars,
          |         ${Hash.prefixSql("'fold:' || source")} % 5 AS fold
          |  FROM documents),
          |per AS (SELECT fold, count(*) AS n_docs,
          |               count(DISTINCT source) AS n_sources,
          |               CAST(sum(n_chars) AS BIGINT) AS n_chars
          |        FROM d GROUP BY 1),
          |tot AS (SELECT count(DISTINCT source) AS g_sources, count(*) AS g_docs FROM d)
          |SELECT fold, n_docs, n_sources, n_chars,
          |       CAST(n_docs * 1000000 // g_docs AS BIGINT) AS share_ppm,
          |       CAST((SELECT sum(n_sources) FROM per) = g_sources AS BIGINT) AS leak_free
          |FROM per CROSS JOIN tot
          |ORDER BY fold""".stripMargin,
      "q_curriculum" ->
        """WITH d AS (
          |  SELECT least(CAST(n_chars AS BIGINT) // 100, 5) AS stage,
          |         CAST(len(regexp_split_to_array(text, '\s+')) AS BIGINT) AS n_tok
          |  FROM documents),
          |per AS (SELECT stage, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens
          |        FROM d GROUP BY 1),
          |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS g_tokens FROM per)
          |SELECT stage, n_docs, n_tokens,
          |       CAST(sum(n_tokens) OVER (ORDER BY stage
          |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens,
          |       CAST(n_tokens * 1000000 // g_tokens AS BIGINT) AS share_ppm
          |FROM per CROSS JOIN tot
          |ORDER BY stage""".stripMargin,
      // identical replace-diff densities and integer thresholds
      "q_code_detect" ->
        """WITH d AS (
          |  SELECT source, CAST(len(text) AS BIGINT) AS len,
          |         CAST(len(text) - len(regexp_replace(text, '[;{}()=<>\[\]]', '', 'g')) AS BIGINT) AS n_sym,
          |         CAST(len(text) - len(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS n_dig
          |  FROM documents),
          |p AS (SELECT source,
          |             n_sym * 1000000 // greatest(len, 1) AS sym_ppm,
          |             n_dig * 1000000 // greatest(len, 1) AS dig_ppm
          |      FROM d),
          |f AS (SELECT source, sym_ppm, dig_ppm,
          |             CAST(sym_ppm > 20000 OR dig_ppm > 300000 AS BIGINT) AS code_like
          |      FROM p)
          |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
          |       CAST(sum(code_like) AS BIGINT) AS n_code_like,
          |       CAST(sum(sym_ppm) AS BIGINT) // CAST(count(*) AS BIGINT) AS mean_sym_ppm,
          |       CAST(sum(dig_ppm) AS BIGINT) // CAST(count(*) AS BIGINT) AS mean_dig_ppm,
          |       CAST(sum(code_like) AS BIGINT) * 1000000 // CAST(count(*) AS BIGINT)
          |         AS code_share_ppm
          |FROM f GROUP BY source ORDER BY source""".stripMargin,
      // identical md5 captures and integer estimators (Chapman total at m=0)
      "q_capture_recapture" ->
        s"""WITH d AS (
          |  SELECT doc_id,
          |         CAST(${Hash.prefixSql("'cap1:' || CAST(doc_id AS VARCHAR)")} % 100 < 30 AS BIGINT) AS in1,
          |         CAST(${Hash.prefixSql("'cap2:' || CAST(doc_id AS VARCHAR)")} % 100 < 40 AS BIGINT) AS in2
          |  FROM documents),
          |a AS (SELECT CAST(count(*) AS BIGINT) AS n_true,
          |             coalesce(CAST(sum(in1) AS BIGINT), 0) AS n1,
          |             coalesce(CAST(sum(in2) AS BIGINT), 0) AS n2,
          |             coalesce(CAST(sum(in1 * in2) AS BIGINT), 0) AS m
          |      FROM d)
          |SELECT n_true, n1, n2, m,
          |       CASE WHEN m = 0 THEN CAST(0 AS BIGINT) ELSE n1 * n2 // m END AS lp_est,
          |       (n1 + 1) * (n2 + 1) // (m + 1) - 1 AS chapman_est,
          |       CASE WHEN n_true = 0 THEN CAST(0 AS BIGINT)
          |            ELSE CAST(floor(abs(CAST((n1 + 1) * (n2 + 1) // (m + 1) - 1 - n_true AS DOUBLE))
          |              * 1000000.0e0 / CAST(n_true AS DOUBLE)) AS BIGINT) END AS err_ppm
          |FROM a""".stripMargin,
      // identical cohort, reduce-before-join cascade counts
      "q_deletion_impact" ->
        s"""WITH cohort AS (
          |  SELECT c_custkey FROM customer
          |  WHERE ${Hash.prefixSql("'del:' || CAST(c_custkey AS VARCHAR)")} % 100 < 10),
          |oi AS (SELECT o_orderkey FROM orders JOIN cohort ON o_custkey = c_custkey),
          |lpo AS (SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n_li
          |        FROM lineitem GROUP BY 1),
          |li AS (SELECT coalesce(CAST(sum(n_li) AS BIGINT), 0) AS li_rows
          |       FROM lpo JOIN oi ON l_orderkey = o_orderkey),
          |t AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM customer) AS n_cust,
          |             (SELECT CAST(count(*) AS BIGINT) FROM orders) AS n_ord,
          |             (SELECT CAST(count(*) AS BIGINT) FROM lineitem) AS n_li_tot),
          |c AS (SELECT CAST(count(*) AS BIGINT) AS cohort_custs FROM cohort),
          |o AS (SELECT CAST(count(*) AS BIGINT) AS ord_rows FROM oi)
          |SELECT cohort_custs, ord_rows, li_rows,
          |       cohort_custs * 1000000 // n_cust AS cust_share_ppm,
          |       ord_rows * 1000000 // n_ord AS ord_share_ppm,
          |       li_rows * 1000000 // n_li_tot AS li_share_ppm
          |FROM c CROSS JOIN o CROSS JOIN li CROSS JOIN t""".stripMargin,
      "q_fk_audit" ->
        """WITH a AS (
          |  SELECT 'events.user_id->customer' AS fk, count(*) AS n_child,
          |         count(*) FILTER (WHERE p.c_custkey IS NULL) AS n_orphan
          |  FROM events c LEFT JOIN customer p ON c.user_id = p.c_custkey
          |  UNION ALL
          |  SELECT 'lineitem.l_orderkey->orders', count(*),
          |         count(*) FILTER (WHERE p.o_orderkey IS NULL)
          |  FROM lineitem c LEFT JOIN orders p ON c.l_orderkey = p.o_orderkey
          |  UNION ALL
          |  SELECT 'lineitem.l_partkey->part', count(*),
          |         count(*) FILTER (WHERE p.p_partkey IS NULL)
          |  FROM lineitem c LEFT JOIN part p ON c.l_partkey = p.p_partkey
          |  UNION ALL
          |  SELECT 'lineitem.l_suppkey->supplier', count(*),
          |         count(*) FILTER (WHERE p.s_suppkey IS NULL)
          |  FROM lineitem c LEFT JOIN supplier p ON c.l_suppkey = p.s_suppkey
          |  UNION ALL
          |  SELECT 'orders!->lineitem (childless)', count(*),
          |         count(*) FILTER (WHERE k.l_orderkey IS NULL)
          |  FROM orders o LEFT JOIN (SELECT DISTINCT l_orderkey FROM lineitem) k
          |    ON o.o_orderkey = k.l_orderkey
          |)
          |SELECT fk, n_child, n_orphan FROM a ORDER BY fk""".stripMargin,
      "q_quality_gate" ->
        """WITH g AS (SELECT source,
          |  CASE WHEN length(trim(text)) > 0 THEN 1 ELSE 0 END AS r1,
          |  CASE WHEN n_chars BETWEEN 20 AND 2000 THEN 1 ELSE 0 END AS r2,
          |  CASE WHEN len(string_split(text, ' ')) >= 5 THEN 1 ELSE 0 END AS r3,
          |  CASE WHEN len(list_distinct(string_split(text, ' ')))::DOUBLE >=
          |            len(string_split(text, ' '))::DOUBLE * 0.3 THEN 1 ELSE 0 END AS r4
          |FROM documents)
          |SELECT source, count(*) AS n_docs,
          |       CAST(sum(r1) AS BIGINT) AS pass_nonempty, CAST(sum(r2) AS BIGINT) AS pass_len,
          |       CAST(sum(r3) AS BIGINT) AS pass_words, CAST(sum(r4) AS BIGINT) AS pass_distinct,
          |       CAST(sum(r1*r2*r3*r4) AS BIGINT) AS pass_all,
          |       CAST((sum(r1*r2*r3*r4) * 1000000) // count(*) AS BIGINT) AS yield_ppm
          |FROM g GROUP BY source ORDER BY source""".stripMargin,
      // identical integer quality ppm, identical md5 threshold draw
      "q_rejection_sample" ->
        s"""WITH t AS (SELECT doc_id, source, n_chars,
          |                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
          |                  CAST(len(list_filter(string_split(text, ' '),
          |                       w -> list_contains(['the','a','of','and','to','in'], w))) AS BIGINT) AS n_stop
          |           FROM documents),
          |q AS (SELECT source, n_chars,
          |             CASE WHEN n_words = 0 THEN 0
          |                  ELSE least(n_words, 100) * (n_words - n_stop) * 10000 // n_words
          |             END AS q_ppm,
          |             ${Hash.prefixSql("'rej:' || CAST(doc_id AS VARCHAR)")} % 1000000 AS h
          |      FROM t),
          |a AS (SELECT source, n_chars, q_ppm,
          |             CASE WHEN h < q_ppm THEN 1 ELSE 0 END AS accept FROM q)
          |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
          |       CAST(sum(accept) AS BIGINT) AS n_accepted,
          |       CAST(sum(accept) * 1000000 // count(*) AS BIGINT) AS accept_ppm,
          |       CAST(sum(q_ppm) // count(*) AS BIGINT) AS expected_ppm,
          |       CAST(sum(n_chars) AS BIGINT) AS chars_total,
          |       CAST(sum(accept * n_chars) AS BIGINT) AS chars_kept
          |FROM a GROUP BY source ORDER BY source""".stripMargin,
      "q_stratified_split" ->
        s"""WITH t AS (SELECT lang,
          |  ${Hash.prefixSql("'split:' || CAST(doc_id AS VARCHAR)")} % 100 AS h
          |  FROM documents),
          |s AS (SELECT lang,
          |             CASE WHEN h < 80 THEN 'train' WHEN h < 90 THEN 'val'
          |                  ELSE 'test' END AS split FROM t),
          |strata AS (SELECT lang, count(*) AS n_lang FROM s GROUP BY 1)
          |SELECT s.lang, s.split, count(*) AS n,
          |       round(count(*)::DOUBLE / max(strata.n_lang)::DOUBLE, 6) AS share
          |FROM s JOIN strata ON s.lang = strata.lang
          |GROUP BY s.lang, s.split ORDER BY s.lang, s.split""".stripMargin,
      "q_char_entropy" ->
        s"""WITH e AS (SELECT doc_id, lower(text) AS t FROM documents),
           |cnts AS (SELECT doc_id,
           |  list_transform($alphabetSql,
           |    c -> (length(t) - length(replace(t, c, '')))::DOUBLE) AS cnt FROM e),
           |tot AS (SELECT doc_id, cnt, list_sum(cnt) AS n FROM cnts)
           |SELECT doc_id,
           |       round(-list_sum(list_transform(cnt,
           |         c -> CASE WHEN c > 0 THEN (c/n)*ln(c/n) ELSE 0.0 END)), 6) AS entropy
           |FROM tot ORDER BY doc_id""".stripMargin,
      "q_lateral_topn" ->
        """SELECT n.n_name, t.c_custkey, t.c_acctbal
          |FROM nation n,
          |LATERAL (SELECT c_custkey, c_acctbal FROM customer
          |         WHERE c_nationkey = n.n_nationkey
          |         ORDER BY c_acctbal DESC, c_custkey LIMIT 2) t
          |ORDER BY n.n_name, t.c_acctbal DESC, t.c_custkey""".stripMargin,
      "q_not_in" ->
        """SELECT o_orderstatus, count(*) AS n_orders
          |FROM orders
          |WHERE o_custkey NOT IN
          |  (SELECT nullif(c_custkey, -1) FROM customer WHERE c_acctbal < 500)
          |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
      "q_exists_subquery" ->
        """SELECT n_name, count(*) AS n_cust
          |FROM customer JOIN nation ON c_nationkey = n_nationkey
          |WHERE EXISTS (SELECT 1 FROM orders
          |              WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
          |  AND NOT EXISTS (SELECT 1 FROM orders
          |                  WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
          |GROUP BY n_name ORDER BY n_name""".stripMargin,
      "q_token_drift" ->
        s"""WITH d AS (SELECT doc_id, text,
          |                  ${Hash.prefixSql("'split:' || CAST(doc_id AS VARCHAR)")} % 100 AS h
          |           FROM documents),
          |t AS (SELECT CASE WHEN h < 80 THEN 1 ELSE 0 END AS is_train,
          |             unnest(string_split(text, ' ')) AS word
          |      FROM d WHERE h < 90),
          |wc AS (SELECT word, CAST(sum(is_train) AS BIGINT) AS c_t,
          |              CAST(sum(1 - is_train) AS BIGINT) AS c_v
          |       FROM t GROUP BY 1),
          |tot AS (SELECT CAST(sum(c_t) AS BIGINT) AS nt, CAST(sum(c_v) AS BIGINT) AS nv FROM wc)
          |SELECT count(*) AS n_words,
          |       max(nt) AS n_train_tokens, max(nv) AS n_val_tokens,
          |       CAST(sum(abs(c_t * nv - c_v * nt)) AS BIGINT) AS tv_num,
          |       round(CAST(sum(abs(c_t * nv - c_v * nt)) AS DOUBLE) /
          |             (CAST(max(nt) AS DOUBLE) * max(nv) * 2.0), 9) AS tv
          |FROM wc CROSS JOIN tot""".stripMargin,
      "q_slice_finder" ->
        """WITH s AS (SELECT c_mktsegment AS segment, o_orderpriority AS priority,
          |                  count(*) AS n,
          |                  CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f
          |           FROM orders JOIN customer ON o_custkey = c_custkey
          |           GROUP BY 1, 2),
          |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt, CAST(sum(n_f) AS BIGINT) AS ft FROM s)
          |SELECT segment, priority, n, n_f,
          |       CAST(n_f * 1000000 // n AS BIGINT) AS rate_ppm,
          |       CAST(ft * 1000000 // nt AS BIGINT) AS global_ppm,
          |       CAST(abs(n_f * nt - ft * n) AS BIGINT) AS dev_score
          |FROM s CROSS JOIN tot
          |ORDER BY dev_score DESC, segment, priority
          |LIMIT 5""".stripMargin,
      "q_psi_drift" ->
        s"""WITH d AS (SELECT doc_id, n_chars,
          |                  ${Hash.prefixSql("'split:' || CAST(doc_id AS VARCHAR)")} % 100 AS h
          |           FROM documents),
          |b AS (SELECT CASE WHEN h < 80 THEN 1 ELSE 0 END AS is_train,
          |             least(n_chars // 50, 15) AS bin
          |      FROM d WHERE h < 90),
          |bc AS (SELECT bin, CAST(sum(is_train) AS BIGINT) AS c_t,
          |              CAST(sum(1 - is_train) AS BIGINT) AS c_v
          |       FROM b GROUP BY 1),
          |tot AS (SELECT CAST(sum(c_t) AS BIGINT) AS nt, CAST(sum(c_v) AS BIGINT) AS nv,
          |               count(*) AS nb FROM bc),
          |a AS (SELECT max(nb) AS n_bins, max(nt) AS n_train, max(nv) AS n_val,
          |             round(sum(((c_t + 1)::DOUBLE / (nt + nb) - (c_v + 1)::DOUBLE / (nv + nb))
          |               * ln(((c_t + 1)::DOUBLE / (nt + nb)) / ((c_v + 1)::DOUBLE / (nv + nb)))), 9) AS psi
          |      FROM bc CROSS JOIN tot)
          |SELECT n_bins, n_train, n_val, psi,
          |       CAST(psi > 0.1 AS BIGINT) AS alert
          |FROM a""".stripMargin,
      "q_jsd_drift" ->
        s"""WITH d AS (SELECT doc_id, text,
          |                  ${Hash.prefixSql("'split:' || CAST(doc_id AS VARCHAR)")} % 100 AS h
          |           FROM documents),
          |t AS (SELECT CASE WHEN h < 80 THEN 1 ELSE 0 END AS is_train,
          |             unnest(string_split(text, ' ')) AS word
          |      FROM d WHERE h < 90),
          |wc AS (SELECT word, CAST(sum(is_train) AS BIGINT) AS c_t,
          |              CAST(sum(1 - is_train) AS BIGINT) AS c_v
          |       FROM t GROUP BY 1),
          |tot AS (SELECT CAST(sum(c_t) AS BIGINT) AS nt, CAST(sum(c_v) AS BIGINT) AS nv FROM wc),
          |terms AS (SELECT c_t, c_v,
          |                 CAST(c_t AS DOUBLE) / nt AS p,
          |                 CAST(c_v AS DOUBLE) / nv AS q,
          |                 nt, nv
          |          FROM wc CROSS JOIN tot)
          |SELECT count(*) AS n_words,
          |       max(nt) AS n_train_tokens, max(nv) AS n_val_tokens,
          |       CAST(sum(CASE WHEN c_v = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_train_only,
          |       CAST(sum(CASE WHEN c_t = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_val_only,
          |       round(sum(CASE WHEN c_t > 0 THEN p * ln(p / ((p + q) / 2)) / 2 ELSE 0 END +
          |                 CASE WHEN c_v > 0 THEN q * ln(q / ((p + q) / 2)) / 2 ELSE 0 END), 9) AS jsd
          |FROM terms""".stripMargin,
      "q_dataset_card" ->
        """WITH d AS (SELECT doc_id, source, lang, n_chars,
          |                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
          |                  md5(text) AS h
          |           FROM documents),
          |base AS (SELECT source, count(*) AS n_docs, sum(n_tokens) AS total_tokens,
          |                count(DISTINCT lang) AS n_langs, sum(n_chars) AS sum_chars
          |         FROM d GROUP BY 1),
          |dup AS (SELECT source, CAST(sum(cnt) - count(*) AS BIGINT) AS n_dup_surplus
          |        FROM (SELECT source, h, count(*) AS cnt FROM d GROUP BY 1, 2)
          |        GROUP BY 1)
          |SELECT b.source, CAST(n_docs AS BIGINT) AS n_docs,
          |       CAST(total_tokens AS BIGINT) AS total_tokens,
          |       CAST(n_langs AS BIGINT) AS n_langs, n_dup_surplus,
          |       CAST(sum_chars // n_docs AS BIGINT) AS mean_chars
          |FROM base b JOIN dup USING (source)
          |ORDER BY source""".stripMargin,
      // per-table conditional aggregates unioned into the contract report
      "q_data_contract" ->
        """WITH o AS (
          |  SELECT count(*) AS n_rows,
          |         CAST(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS v_pos,
          |         CAST(sum(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END) AS BIGINT) AS v_dom,
          |         CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_null,
          |         CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS v_uniq
          |  FROM orders),
          |e AS (
          |  SELECT count(*) AS n_rows,
          |         CAST(sum(CASE WHEN value < 0 THEN 1 ELSE 0 END) AS BIGINT) AS v_neg,
          |         CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-01 00:00:00'
          |                         OR ts >= TIMESTAMP '2024-02-01 00:00:00' THEN 1 ELSE 0 END) AS BIGINT) AS v_win,
          |         CAST(sum(CASE WHEN length(event_type) = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v_emp
          |  FROM events),
          |d AS (
          |  SELECT count(*) AS n_rows,
          |         CAST(sum(CASE WHEN lang NOT IN ('en','de','fr','es','zh') THEN 1 ELSE 0 END) AS BIGINT) AS v_lang,
          |         CAST(sum(CASE WHEN length(text) <> n_chars THEN 1 ELSE 0 END) AS BIGINT) AS v_chars
          |  FROM documents),
          |rows_ AS (
          |  SELECT 'orders.totalprice_positive' AS check_, n_rows, v_pos AS n_violations FROM o
          |  UNION ALL SELECT 'orders.status_domain', n_rows, v_dom FROM o
          |  UNION ALL SELECT 'orders.orderkey_nonnull', n_rows, v_null FROM o
          |  UNION ALL SELECT 'orders.orderkey_unique', n_rows, v_uniq FROM o
          |  UNION ALL SELECT 'events.value_nonnegative', n_rows, v_neg FROM e
          |  UNION ALL SELECT 'events.ts_in_window', n_rows, v_win FROM e
          |  UNION ALL SELECT 'events.type_nonempty', n_rows, v_emp FROM e
          |  UNION ALL SELECT 'documents.lang_domain', n_rows, v_lang FROM d
          |  UNION ALL SELECT 'documents.chars_match_text', n_rows, v_chars FROM d)
          |SELECT check_ AS check, n_rows, n_violations,
          |       n_violations * 1000000 // n_rows AS viol_ppm,
          |       CAST(n_violations = 0 AS BIGINT) AS pass
          |FROM rows_ ORDER BY check_""".stripMargin,
      // per-user pair generation (C(items,2) bound), one dot aggregate
      "q_item_cf" ->
        """WITH r AS (
          |  SELECT user_id, event_type AS item,
          |         CAST(sum(CAST(round(value * 10) AS BIGINT)) AS BIGINT) AS r
          |  FROM events GROUP BY 1, 2),
          |norms AS (SELECT item, CAST(sum(r * r) AS BIGINT) AS n2 FROM r GROUP BY 1),
          |p AS (SELECT x.item AS item_a, y.item AS item_b,
          |             count(*) AS n_common_users,
          |             CAST(sum(x.r * y.r) AS BIGINT) AS dot
          |      FROM r x JOIN r y USING (user_id)
          |      WHERE x.item < y.item
          |      GROUP BY 1, 2)
          |SELECT item_a, item_b, n_common_users,
          |       round(CAST(dot AS DOUBLE) * CAST(dot AS DOUBLE)
          |             / (CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)), 6) AS cos2
          |FROM p JOIN norms na ON na.item = p.item_a
          |       JOIN norms nb ON nb.item = p.item_b
          |ORDER BY item_a, item_b""".stripMargin,
      // one aggregate per table, row-struct distinct pair counts
      "q_fd_check" ->
        """WITH o AS (
          |  SELECT CAST(count(DISTINCT o_orderkey) AS BIGINT) AS da_0,
          |         CAST(count(DISTINCT (o_orderkey, o_custkey)) AS BIGINT) AS dab_0,
          |         CAST(count(DISTINCT o_custkey) AS BIGINT) AS da_1,
          |         CAST(count(DISTINCT (o_custkey, o_orderstatus)) AS BIGINT) AS dab_1
          |  FROM orders),
          |l AS (
          |  SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS da_0,
          |         CAST(count(DISTINCT (l_orderkey, l_partkey)) AS BIGINT) AS dab_0,
          |         CAST(count(DISTINCT l_partkey) AS BIGINT) AS da_1,
          |         CAST(count(DISTINCT (l_partkey, l_suppkey)) AS BIGINT) AS dab_1
          |  FROM lineitem),
          |u AS (
          |  SELECT 'orders' AS table_name, 'o_orderkey' AS lhs, 'o_custkey' AS rhs,
          |         da_0 AS n_lhs, dab_0 AS n_pair FROM o
          |  UNION ALL SELECT 'orders', 'o_custkey', 'o_orderstatus', da_1, dab_1 FROM o
          |  UNION ALL SELECT 'lineitem', 'l_orderkey', 'l_partkey', da_0, dab_0 FROM l
          |  UNION ALL SELECT 'lineitem', 'l_partkey', 'l_suppkey', da_1, dab_1 FROM l)
          |SELECT table_name, lhs, rhs, n_lhs, n_pair,
          |       n_pair - n_lhs AS n_violating_keys,
          |       CAST(n_pair = n_lhs AS BIGINT) AS fd_holds
          |FROM u ORDER BY table_name, lhs, rhs""".stripMargin,
      // one aggregate row, unpivoted per column; same verdict rule
      "q_pk_discovery" -> {
        val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
          "o_totalprice", "o_orderdate", "o_orderpriority")
        val aggCols = cols.map(c =>
          s"CAST(count(DISTINCT $c) AS BIGINT) AS d_$c, " +
            s"CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS z_$c")
          .mkString(",\n          |         ")
        val branches = cols.map(c =>
          s"SELECT '$c' AS column_name, n_rows, d_$c AS n_distinct, z_$c AS n_null FROM a")
          .mkString("\n          |  UNION ALL ")
        s"""WITH a AS (
          |  SELECT CAST(count(*) AS BIGINT) AS n_rows,
          |         $aggCols
          |  FROM orders),
          |u AS (
          |  $branches)
          |SELECT column_name, n_rows, n_distinct, n_null,
          |       n_distinct * 1000000 // n_rows AS distinct_ppm,
          |       CAST(n_distinct = n_rows AND n_null = 0 AS BIGINT) AS is_pk
          |FROM u ORDER BY column_name""".stripMargin
      },
      // identical 56-bit hash space, per-column and union-sketch ranks
      "q_join_discovery" ->
        s"""WITH vals AS (
          |  SELECT 'o_orderkey' AS col_name, CAST(o_orderkey AS VARCHAR) AS v FROM orders
          |  UNION SELECT 'o_custkey', CAST(o_custkey AS VARCHAR) FROM orders
          |  UNION SELECT 'c_custkey', CAST(c_custkey AS VARCHAR) FROM customer
          |  UNION SELECT 'l_orderkey', CAST(l_orderkey AS VARCHAR) FROM lineitem
          |  UNION SELECT 'l_partkey', CAST(l_partkey AS VARCHAR) FROM lineitem
          |  UNION SELECT 'p_partkey', CAST(p_partkey AS VARCHAR) FROM part),
          |sk AS (
          |  SELECT col_name, h FROM (
          |    SELECT col_name, h,
          |           row_number() OVER (PARTITION BY col_name ORDER BY h) AS rk
          |    FROM (SELECT DISTINCT col_name,
          |                 ${Hash.prefixSql("'jd:' || v", 14)} AS h
          |          FROM vals))
          |  WHERE rk <= 128),
          |pairs AS (
          |  SELECT * FROM (VALUES ('o_orderkey', 'l_orderkey'),
          |                        ('o_custkey', 'c_custkey'),
          |                        ('l_partkey', 'p_partkey'),
          |                        ('o_orderkey', 'o_custkey')) p(col_a, col_b)),
          |un AS (
          |  SELECT col_a, col_b, h FROM (
          |    SELECT col_a, col_b, h,
          |           row_number() OVER (PARTITION BY col_a, col_b ORDER BY h) AS rk
          |    FROM (SELECT DISTINCT p.col_a, p.col_b, sk.h
          |          FROM pairs p JOIN sk ON sk.col_name = p.col_a OR sk.col_name = p.col_b))
          |  WHERE rk <= 128),
          |est AS (
          |  SELECT u.col_a, u.col_b, CAST(count(*) AS BIGINT) AS k_union,
          |         CAST(sum(CASE WHEN a.h IS NOT NULL AND b.h IS NOT NULL
          |                       THEN 1 ELSE 0 END) AS BIGINT) AS k_both
          |  FROM un u
          |  LEFT JOIN sk a ON a.col_name = u.col_a AND a.h = u.h
          |  LEFT JOIN sk b ON b.col_name = u.col_b AND b.h = u.h
          |  GROUP BY u.col_a, u.col_b)
          |SELECT e.col_a, e.col_b, e.k_union, e.k_both,
          |       e.k_both * 1000000 // e.k_union AS jaccard_est_ppm,
          |       CAST(floor(sqrt((CAST(e.k_both AS DOUBLE) / CAST(e.k_union AS DOUBLE)) *
          |         (1.0e0 - CAST(e.k_both AS DOUBLE) / CAST(e.k_union AS DOUBLE))
          |         / CAST(e.k_union AS DOUBLE)) * 1000000.0e0) AS BIGINT) AS jaccard_err_ppm,
          |       CAST(e.k_both * 1000000 // e.k_union >= 500000 AS BIGINT) AS join_candidate
          |FROM est e
          |ORDER BY e.col_a, e.col_b""".stripMargin
    )
  }
}
