package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Hash, Tables}

/** Data-maintenance / preparation operators (north-star surface): CDC
  * merge-upsert, time-series forward fill, conditional (FILTER-style)
  * aggregates, per-group z-score anomaly flagging, and deterministic
  * stratified corpus mixing.
  *
  * Scale notes: the merge is the one genuine co-partitioned shuffle here (a
  * full outer join on the key — MERGE semantics need both unmatched sides,
  * so it cannot broadcast; AQE picks SMJ/SHJ and handles skew). Everything
  * else is a narrow map plus either a window (one partition-key shuffle) or
  * a tiny aggregate.
  */
object DataPrepQueries extends graft.SparkEntry.Module {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // NS: CDC MERGE INTO, expressed relationally — target = orders; source
    // = a derived change set (updates for keys % 10 = 0 at 1.1x price,
    // inserts at key+100M for keys % 1000 = 0). Full outer join on the key,
    // coalesce per column, matched/unmatched classification. Output keeps
    // every update/insert plus a 1%-of-keys slice of untouched rows so the
    // hash check pins all three actions without dumping the whole table.
    "q_merge_upsert" -> { (s, dir) =>
      val orders = Tables.orders(s, dir)
      val tgt = orders.select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      val upd = orders.filter(pmod(col("o_orderkey"), lit(10)) === 0)
        .select(col("o_orderkey"),
          round(col("o_totalprice") * 1.1, 4).as("u_price"), lit("U").as("u_status"))
      val ins = orders.filter(pmod(col("o_orderkey"), lit(1000)) === 0)
        .select((col("o_orderkey") + lit(100000000L)).as("o_orderkey"),
          round(col("o_totalprice") / 2, 4).as("u_price"), lit("N").as("u_status"))
      tgt.join(upd.unionByName(ins), Seq("o_orderkey"), "full_outer")
        .select(col("o_orderkey"),
          coalesce(col("u_price"), col("o_totalprice")).as("price"),
          coalesce(col("u_status"), col("o_orderstatus")).as("status"),
          when(col("u_status").isNotNull && col("o_orderstatus").isNotNull, "update")
            .when(col("o_orderstatus").isNull, "insert")
            .otherwise("keep").as("action"))
        .filter(col("action") =!= "keep" || pmod(col("o_orderkey"), lit(100)) === 0)
        .orderBy("o_orderkey")
    },

    // NS: changelog compaction (Kafka log-compaction / CDC snapshot build):
    // the events table read as an upsert/delete log keyed by user (op
    // derived deterministically — every 10th event_id is a tombstone),
    // collapsed to last-writer-wins state in ONE max(struct) aggregate.
    // (ts, event_id) is a unique total order, so the lexicographic struct
    // max IS the last writer, carrying its op and value along — no window
    // over the log: partial maxes combine map-side and the shuffle moves
    // one struct per (key, partition), the property that compacts a 100 TB
    // day of changelog in a single pass. (The struct buffer makes Spark
    // plan SortAggregate rather than HashAggregate — still partial+final;
    // the per-partition group-key sort costs CPU, not an extra exchange —
    // plan-pinned in PlanPropertiesSpec.) q_merge_upsert applies a change
    // SET to a base table; this collapses the log itself into that set.
    "q_cdc_compact" -> { (s, dir) =>
      val log = Tables.events(s, dir).select(
        col("user_id"), col("ts"), col("event_id"),
        when(pmod(col("event_id"), lit(10)) === 0, "D").otherwise("U").as("op"),
        col("value"))
      log.groupBy("user_id")
        .agg(count(lit(1)).as("n_ops"),
          sum(when(col("op") === "D", 1L).otherwise(0L)).as("n_tombstones"),
          max(struct(col("ts"), col("event_id"), col("op"), col("value"))).as("last"))
        .select(col("user_id"), col("n_ops"), col("n_tombstones"),
          col("last.op").as("last_op"),
          (col("last.op") === "U").cast("long").as("alive"),
          when(col("last.op") === "U", round(col("last.value"), 4)).as("last_value"))
        .orderBy("user_id")
    },

    // NS: forward fill — carry the last non-null observation forward per
    // user (the standard time-series gap repair before feature extraction).
    // Nulls are injected deterministically (every 5th event id) so both
    // engines repair the same holes. One user_id shuffle; the running
    // `last(ignoreNulls)` frame is computed in a single sorted pass.
    "q_forward_fill" -> { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, dir)
        .withColumn("v",
          when(pmod(col("event_id"), lit(5)) === 0, lit(null).cast("double"))
            .otherwise(col("value")))
        .select(col("event_id"), col("user_id"),
          col("v").isNull.cast("long").as("was_null"),
          round(last("v", ignoreNulls = true).over(w), 6).as("filled"))
        .orderBy("event_id")
    },

    // Conditional-aggregate family (FILTER-style): count_if, bool_and/
    // bool_or, count(DISTINCT), sum(DISTINCT), and a predicated avg — all
    // partial-aggregable (the DISTINCTs expand to a two-phase plan), one
    // shuffle on the 3-value group key. Booleans cast to long: both engines
    // hash them identically as integers.
    "q_agg_filtered" -> { (s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(
          expr("count_if(l_quantity > 25)").cast("long").as("n_big"),
          expr("bool_and(l_quantity > 0)").cast("long").as("all_positive"),
          expr("bool_or(l_discount > 0.05)").cast("long").as("any_discounted"),
          countDistinct(col("l_linestatus")).cast("long").as("n_status"),
          sum_distinct(col("l_linenumber")).cast("long").as("sum_distinct_ln"),
          round(avg(when(col("l_tax") > 0.04, col("l_extendedprice"))), 6).as("avg_price_hightax"))
        .orderBy("l_returnflag")
    },

    // NS: per-group z-score anomaly flags — price outliers per supplier via
    // group mean/stddev window (no ORDER BY: whole-partition frame, one
    // l_suppkey shuffle, no sort-within-group needed beyond the hash
    // exchange). z rounded to 9 BEFORE the threshold so the cut point is
    // identical across engines despite float-sum ordering.
    "q_anomaly_zscore" -> { (s, dir) =>
      val w = Window.partitionBy("l_suppkey")
      Tables.lineitem(s, dir)
        .withColumn("z", round((col("l_extendedprice") - avg("l_extendedprice").over(w)) /
          stddev_samp("l_extendedprice").over(w), 9))
        .filter(abs(col("z")) > 2.5)
        .select(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
          col("l_suppkey"), col("l_extendedprice"), col("z"))
        .orderBy("l_orderkey", "l_linenumber")
    },

    // NS: error-safe ingestion arithmetic — try_cast over dirty numeric
    // strings (planted deterministically: empty / non-numeric / trailing
    // garbage / clean) and try_divide with a sometimes-zero divisor, the
    // null-not-crash semantics a 100 TB ingest needs (one malformed row
    // must not kill a 1000-executor stage). Narrow per-row.
    "q_try_arith" -> { (s, dir) =>
      val raw = when(pmod(col("o_orderkey"), lit(4)) === 0, lit(""))
        .when(pmod(col("o_orderkey"), lit(4)) === 1, lit("n/a"))
        .when(pmod(col("o_orderkey"), lit(4)) === 2,
          concat(col("o_custkey").cast("string"), lit("x")))
        .otherwise(col("o_custkey").cast("string"))
      Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_totalprice"), raw.as("raw"))
        .select(col("o_orderkey"), col("raw"),
          expr("try_cast(raw AS BIGINT)").as("parsed"),
          round(expr("try_divide(o_totalprice, o_orderkey % 3)"), 6).as("safe_ratio"))
        .orderBy("o_orderkey")
    },

    // NS: incremental view maintenance — the don't-recompute-the-world
    // pattern: base aggregate (the standing view, keys % 7 != 0) merged
    // with a delta-batch aggregate via full outer join + additive combine.
    // The ORACLE is the direct full re-aggregation, so the check IS the IVM
    // correctness theorem (incremental == recompute). Sums round at 2
    // decimals: both paths approximate the same exact-2-decimal total, and
    // float drift (~1e-4 on 1e9-scale sums) is far from the half-cent
    // boundary — while 6-decimal rounding would sit inside the drift.
    "q_incremental_agg" -> { (s, dir) =>
      // partials sum in integer cents (o_totalprice is a 2-decimal domain):
      // the base+delta partial-merge order differs from the oracle's single
      // pass, so a float revenue sum drifts across engines and a 2-dec
      // round lands on a boundary once revenue reaches 1e11 (caught by the
      // synthetic-sf1 stress gate); integer partials merge exactly.
      val orders = Tables.orders(s, dir)
      def part(pred: org.apache.spark.sql.Column) = orders.filter(pred)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("sp"))
      val base = part(pmod(col("o_orderkey"), lit(7)) =!= 0)
        .select(col("o_orderstatus"), col("n").as("bn"), col("sp").as("bs"))
      val delta = part(pmod(col("o_orderkey"), lit(7)) === 0)
        .select(col("o_orderstatus"), col("n").as("dn"), col("sp").as("ds"))
      base.join(delta, Seq("o_orderstatus"), "full_outer")
        .select(col("o_orderstatus"),
          (coalesce(col("bn"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n_orders"),
          ((coalesce(col("bs"), lit(0L)) + coalesce(col("ds"), lit(0L)))
            .cast("double") / 100).as("revenue"))
        .orderBy("o_orderstatus")
    },

    // NS: deterministic per-group sample — the first-5-per-source peek a
    // corpus review runs: hash-ordered row_number inside each group, no
    // RNG (stable under retries). One source-key shuffle; the window sees
    // each group once.
    "q_group_sample" -> { (s, dir) =>
      val w = Window.partitionBy("source")
        .orderBy(Hash.prefix(concat(lit("samp:"), col("doc_id").cast("string"))), col("doc_id"))
      Tables.documents(s, dir)
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 5)
        .select(col("source"), col("rn"), col("doc_id"))
        .orderBy("source", "rn")
    },

    // NS: one-pass dataset profiler — the `describe`-at-scale shape: null
    // counts, exact distinct cardinality, and min/max for four columns of
    // mixed type, computed in ONE aggregate over ONE scan (Catalyst expands
    // the multi-DISTINCT into a single Expand + two-phase agg), then
    // unpivoted to a row per column. At 100 TB profiling cost == one read.
    "q_profile_summary" -> { (s, dir) =>
      def nulls(c: String) = sum(col(c).isNull.cast("long")).as(s"${c}_nulls")
      val stats = Tables.orders(s, dir).agg(
        nulls("o_orderstatus"),
        countDistinct(col("o_orderstatus")).as("o_orderstatus_distinct"),
        min(col("o_orderstatus")).as("o_orderstatus_min"),
        max(col("o_orderstatus")).as("o_orderstatus_max"),
        nulls("o_orderpriority"),
        countDistinct(col("o_orderpriority")).as("o_orderpriority_distinct"),
        min(col("o_orderpriority")).as("o_orderpriority_min"),
        max(col("o_orderpriority")).as("o_orderpriority_max"),
        nulls("o_totalprice"),
        countDistinct(col("o_totalprice")).as("o_totalprice_distinct"),
        min(col("o_totalprice")).as("o_totalprice_min"),
        max(col("o_totalprice")).as("o_totalprice_max"),
        nulls("o_custkey"),
        countDistinct(col("o_custkey")).as("o_custkey_distinct"),
        min(col("o_custkey")).as("o_custkey_min"),
        max(col("o_custkey")).as("o_custkey_max"))
      def strRow(c: String) = struct(lit(c).as("col_name"),
        col(s"${c}_nulls").as("n_nulls"), col(s"${c}_distinct").as("n_distinct"),
        col(s"${c}_min").cast("string").as("str_min"), col(s"${c}_max").cast("string").as("str_max"),
        lit(null).cast("double").as("num_min"), lit(null).cast("double").as("num_max"))
      def numRow(c: String) = struct(lit(c).as("col_name"),
        col(s"${c}_nulls").as("n_nulls"), col(s"${c}_distinct").as("n_distinct"),
        lit(null).cast("string").as("str_min"), lit(null).cast("string").as("str_max"),
        col(s"${c}_min").cast("double").as("num_min"), col(s"${c}_max").cast("double").as("num_max"))
      stats
        .select(explode(array(strRow("o_orderstatus"), strRow("o_orderpriority"),
          numRow("o_totalprice"), numRow("o_custkey"))).as("p"))
        .select(col("p.*"))
        .orderBy("col_name")
    },

    // NS: deterministic stratified corpus mixing — each source gets a
    // hash-derived keep rate (20-80%), each doc a hash-derived bucket; the
    // mix report (per-source totals, kept counts, realized ratio) is what a
    // data-mixture config review reads. Pure narrow map + 20-group agg; at
    // 100 TB the same query IS the mixer (swap the report agg for a write).
    "q_mix_report" -> { (s, dir) =>
      val rate = lit(20) + pmod(Hash.prefix(col("source")), lit(61))
      val bucket = pmod(Hash.prefix(
        concat(lit("mix:"), col("doc_id").cast("string"), lit(":"), col("source"))), lit(100))
      Tables.documents(s, dir)
        .select(col("source"), rate.as("rate"), (bucket < rate).cast("long").as("kept"))
        .groupBy("source")
        .agg(min(col("rate")).as("rate"),
          count(lit(1)).as("n_docs"),
          sum(col("kept")).as("n_kept"),
          round(sum(col("kept")).cast("double") / count(lit(1)), 6).as("ratio"))
        .orderBy("source")
    },

    // NS: equi-width histogram in integer cents — the distribution-profile
    // view next to q_percentile_bucket's quantile cut: 10 fixed-width bins
    // between global min and max, all arithmetic in integer minor units
    // (the q_decimal_exact lesson: integer division is bit-identical on
    // every engine version; no width_bucket float-edge ambiguity). One
    // two-value aggregate broadcast back, one narrow map, one 10-group agg.
    "q_histogram" -> { (s, dir) =>
      val cents = round(col("o_totalprice") * 100).cast("long")
      val b = Tables.orders(s, dir).select(cents.as("c"))
        .agg(min("c").as("lo"), max("c").as("hi"))
      Tables.orders(s, dir).select(cents.as("c")).crossJoin(broadcast(b))
        .withColumn("bucket", expr("((c - lo) * 10) DIV (hi - lo + 1)"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"),
          (min("c").cast("double") / 100).as("bin_lo"),
          (max("c").cast("double") / 100).as("bin_hi"))
        .orderBy("bucket")
    },

    // NS: sequence-completeness audit (gap detection without a global
    // sort): event ids bucket into fixed-width blocks — embarrassingly
    // parallel, no window — and each block reports present-vs-span, so a
    // dropped id localizes to its block. The gaps-and-islands window
    // spelling needs a total order (one partition at any scale); the block
    // census is one hash aggregate. Known blindness, by design: n_missing
    // counts only ids inside each block's OBSERVED [min, max] span — ids
    // missing at a block's edges, or whole missing blocks, are invisible
    // (a lag(last_id)-over-blocks cross-block check would close that at
    // the cost of a tiny ordered pass over block rows). NOT equivalent to
    // the total-order gaps-and-islands audit.
    "q_sequence_gaps" -> { (s, dir) =>
      Tables.events(s, dir).select(col("event_id"))
        .withColumn("blk", expr("event_id DIV 1000"))
        .groupBy("blk")
        .agg(count(lit(1)).as("n_present"),
          min("event_id").as("first_id"), max("event_id").as("last_id"))
        .withColumn("n_missing",
          col("last_id") - col("first_id") + 1 - col("n_present"))
        .orderBy("blk")
    },

    // NS: data-mix PLANNING — the step BEFORE q_mix_report's mixer: given
    // a token budget (half the corpus here) and equal target shares per
    // source, compute each source's sampling rate and planned
    // contribution. Everything reduces to per-source token totals first
    // (vocabulary-of-sources-sized — tiny at any corpus), so the plan is
    // one narrow tokenize + one small agg; budget arithmetic is integer
    // division end-to-end (engine-version-proof), only the emitted rate is
    // a (rounded) float.
    "q_mix_plan" -> { (s, dir) =>
      val toks = Tables.documents(s, dir)
        .select(col("source"), size(split(col("text"), " ")).cast("long").as("nt"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("nt").as("n_tokens"))
      val totals = toks.agg(sum("n_tokens").as("t"), count(lit(1)).as("n_sources"))
      toks.crossJoin(broadcast(totals))
        .withColumn("target_tokens", expr("t DIV 2 DIV n_sources"))
        .select(col("source"), col("n_docs"), col("n_tokens"), col("target_tokens"),
          round(least(lit(1.0), col("target_tokens").cast("double") / col("n_tokens")), 6)
            .as("rate"),
          least(col("n_tokens"), col("target_tokens")).as("planned_tokens"))
        .orderBy("source")
    },

    // NS: robust-z outlier census (Iglewicz–Hoaglin modified z-score,
    // 0.6745·|x−med|/MAD > 3.5) — q_anomaly_zscore's breakdown-resistant
    // sibling: mean/stddev move with the outliers they hunt, median/MAD
    // don't. All in EXACT arithmetic: integer cents put the type-7 median
    // on the k/2 grid, doubled residuals return to integers, MAD lands on
    // k/2 again, and the flag inequality cross-multiplies to
    // r2·6745 > mad2·35000 — products of exact values well under 2^53, so
    // the comparison can never ulp-flip. Two percentile aggregates + one
    // broadcast-back counting pass (the q_median_mad shape with a verdict).
    "q_anomaly_robust" -> { (s, dir) =>
      val li = Tables.lineitem(s, dir)
        .select(col("l_returnflag"),
          expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("cents"))
      val med = li.groupBy("l_returnflag")
        .agg(expr("percentile(cents, 0.5)").as("med"))
      val withR = li.join(broadcast(med), "l_returnflag")
        .withColumn("r2", abs(col("cents") * 2 - col("med") * 2).cast("long"))
      val mad = withR.groupBy("l_returnflag")
        .agg(expr("percentile(r2, 0.5)").as("mad2"))
      withR.join(broadcast(mad), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          max("med").as("med_cents"),
          (max("mad2") / 2.0).as("mad_cents"),
          sum((col("r2") * lit(6745.0) > col("mad2") * lit(35000.0)).cast("long"))
            .as("n_outliers"))
        .select(col("l_returnflag"), col("n"), col("med_cents"), col("mad_cents"),
          col("n_outliers"), expr("n_outliers * 1000000 DIV n").as("out_ppm"))
        .orderBy("l_returnflag")
    },

    // NS: smoothed target encoding — the high-cardinality categorical
    // feature transform (per-customer final-status rate, shrunk toward
    // the global prior with m=10 pseudo-observations so rare categories
    // don't memorize their few labels — the leakage-control every
    // target-encoded feature needs). One key-shuffle reduces orders to the
    // per-category frame; the encoding is EXACT integer cross-
    // multiplication, enc_ppm = (n_f·N + m·F)·1e6 DIV ((n+m)·N) — no float
    // can flip a feature value between runs or engines. int64 bound:
    // n_f·N·1e6 caps per-category mass × corpus at ~9e18 — a category with
    // 4e2 events against a 1.5e10-row corpus sits at the edge; beyond
    // that the numerator needs decimal widening (noted, not silent).
    "q_target_encode" -> { (s, dir) =>
      val o = Tables.orders(s, dir)
        .select(col("o_custkey"), (col("o_orderstatus") === "F").cast("long").as("y"))
      val cat = o.groupBy("o_custkey").agg(count(lit(1)).as("n"), sum("y").as("n_f"))
      val tot = cat.agg(sum("n").as("nt"), sum("n_f").as("ft"))
      cat.crossJoin(broadcast(tot))
        .select(col("o_custkey"), col("n"), col("n_f"),
          expr("n_f * 1000000 DIV n").as("raw_ppm"),
          expr("(n_f * nt + 10 * ft) * 1000000 DIV ((n + 10) * nt)").as("enc_ppm"))
        .orderBy("o_custkey")
    },

    // NS: temperature-scaled multilingual sampling (the mT5/XLM-R mix
    // rule): sampling share q_l ∝ p_l^α with α=0.3 upweights low-resource
    // languages (a 1000x token gap becomes ~8x in sampling odds) — the
    // standard fix for English swamping a multilingual run. The corpus
    // reduces to per-language token totals first (language-registry-sized
    // frame, tens of rows at any corpus size); raw shares stay exact
    // integer ppm; the only floats are the α-powers folded over that tiny
    // frame, rounded at 9 (five decades above pow()'s last-ulp libm
    // wobble). Boost = sampled-vs-natural odds ratio per language.
    "q_temperature_mix" -> { (s, dir) =>
      val toks = Tables.documents(s, dir)
        .select(col("lang"), size(split(col("text"), " ")).cast("long").as("nt"))
        .groupBy("lang").agg(count(lit(1)).as("n_docs"), sum("nt").as("n_tokens"))
      val tot = toks.agg(sum("n_tokens").as("t"))
      val pa = toks.crossJoin(broadcast(tot))
        .withColumn("p", col("n_tokens").cast("double") / col("t").cast("double"))
        .withColumn("pa", pow(col("p"), lit(0.3)))
      val z = pa.agg(sum("pa").as("z"))
      pa.crossJoin(broadcast(z))
        .select(col("lang"), col("n_docs"), col("n_tokens"),
          expr("n_tokens * 1000000 DIV t").as("p_ppm"),
          round(col("pa") / col("z"), 9).as("q_share"),
          round(col("pa") / col("z") / col("p"), 6).as("boost"))
        .orderBy("lang")
    },

    // NS: DoReMi-style mixture reweighting step — the gradient of the
    // data-mixing loop: score every source by its excess LM loss over the
    // corpus baseline and upweight the hard ones multiplicatively
    // (exponentiated-gradient, η = 0.5/nat). The proxy loss is the
    // unigram cross-entropy in EXACT micro-nat integers (the
    // q_unigram_logprob ledger: per-token ln p quantized once, per-source
    // Σ c_sw·lp over the reduced (source, word) frame — exact through
    // ~4e11 tokens/source, the documented LM-ledger envelope), so
    // loss/excess are engine-identical BIGINTs. The weight softmax
    // quantizes each source's exp term to micro units FIRST and
    // normalizes in pure integer arithmetic (the q_gmm_estep softmax
    // discipline) — no float summation order exists anywhere. Dataflow:
    // reduce-to-(source, word) before the vocab join; everything after is
    // sources-bounded.
    "q_doremi_step" -> { (s, dir) =>
      val toks = Tables.documents(s, dir)
        .select(col("source"), explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) > 0)
      val sw = toks.groupBy("source", "w").agg(count(lit(1)).as("c_sw"))
      val vocab = sw.groupBy("w").agg(sum("c_sw").as("c_w"))
      val tot = vocab.agg(sum("c_w").as("t"))
      val lm = vocab.crossJoin(broadcast(tot))
        .select(col("w"), expr(
          "CAST(round(ln(CAST(c_w AS DOUBLE) / CAST(t AS DOUBLE)) * 1000000) AS BIGINT)")
          .as("lp_mn"))
      val perSrc = sw.join(lm, "w")
        .groupBy("source")
        .agg(sum("c_sw").as("n_tokens"), sum(expr("-c_sw * lp_mn")).as("nll"))
        .withColumn("loss_mn", expr("nll DIV n_tokens"))
      val base = perSrc.agg(expr("sum(nll) DIV sum(n_tokens)").as("base_mn"))
      val scored = perSrc.crossJoin(broadcast(base))
        .withColumn("excess_mn", greatest(col("loss_mn") - col("base_mn"), lit(0L)))
        .withColumn("t_micro", expr(
          "CAST(round(exp(0.5e0 * CAST(excess_mn AS DOUBLE) / 1000000e0) * 1000000e0) AS BIGINT)"))
      val z = scored.agg(sum("t_micro").as("z_micro"))
      scored.crossJoin(broadcast(z))
        .select(col("source"), col("n_tokens"), col("loss_mn"), col("excess_mn"),
          expr("t_micro * 1000000 DIV z_micro").as("w_ppm"))
        .orderBy("source")
    },

    // NS: epoch allocation under a token budget — EXACT integer
    // water-filling: every source may contribute up to cap = 4 epochs of
    // its tokens; the budget (2 mean epochs of the corpus) is spent by
    // fully funding the smallest caps and level-clamping the rest at the
    // water line, remainder distributed by (cap, source) order — the
    // multi-epoch mix planner (how many times each source repeats in the
    // training run). The corpus reduces to per-source token totals FIRST,
    // so the fill runs over a sources-sized frame: the only window is over
    // that tiny frame (bounded domain), never the corpus. i* is the
    // largest ascending-cap prefix where `cap_i*(k-i) + cum_i <= B` (full
    // funding stays affordable if everyone later gets >= cap_i); above it
    // alloc = B-cum* DIV m (+1 for the first R%m sources). All integer,
    // sum(alloc) == B exactly.
    "q_epoch_plan" -> { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window.orderBy("cap", "source")
      val caps = Tables.documents(s, dir)
        .select(col("source"), size(split(col("text"), " ")).cast("long").as("nt"))
        .groupBy("source").agg(sum("nt").as("n_tokens"))
        .withColumn("cap", col("n_tokens") * 4L)
      val idx = caps
        .withColumn("i", row_number().over(w).cast("long"))
        .withColumn("cum", sum("cap").over(w))
      val tot = idx.agg((sum("n_tokens") * 2L).as("budget"), count(lit(1)).as("k"))
      val flag = idx.crossJoin(broadcast(tot))
      val star = flag
        .filter(col("cap") * (col("k") - col("i")) + col("cum") <= col("budget"))
        .agg(coalesce(max("i"), lit(0L)).as("istar"),
          coalesce(max("cum"), lit(0L)).as("cumstar"))
      flag.crossJoin(broadcast(star))
        .withColumn("m", col("k") - col("istar"))
        .withColumn("rem", col("budget") - col("cumstar"))
        .withColumn("alloc", when(col("i") <= col("istar"), col("cap"))
          .otherwise(expr("rem DIV m") +
            when(col("i") - col("istar") <= expr("rem % m"), 1L).otherwise(0L)))
        .select(col("source"), col("n_tokens"), col("cap"), col("alloc"),
          expr("alloc * 100 DIV n_tokens").as("epochs_x100"))
        .orderBy("source")
    },

    // NS: range-partitioner boundary planning — equi-depth split points
    // for a 8-way repartitionByRange/Z-order file layout computed from a
    // bounded-domain value census instead of Spark's RangePartitioner
    // SAMPLING (sampling is nondeterministic and re-shuffles on retry; the
    // census is exact, reproducible, and one hash aggregate at any scale).
    // Prices collapse to $10k buckets (bounded: ~60 distinct at any corpus
    // size since the price domain is bounded), the cumsum window runs over
    // that tiny histogram, and boundary k = min bucket with cum*8 >= k*n.
    "q_range_boundaries" -> { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window.orderBy("bucket")
      val hist = Tables.orders(s, dir)
        .select(expr("CAST(round(o_totalprice * 100) AS BIGINT) DIV 1000000").as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("cnt"))
        .withColumn("cum", sum("cnt").over(w))
      val tot = hist.agg(sum("cnt").as("n"))
      hist.crossJoin(broadcast(tot))
        .select(col("bucket"), col("cum"), col("n"),
          explode(sequence(lit(1L), lit(7L))).as("split_no"))
        .filter(col("cum") * 8 >= col("split_no") * col("n"))
        .groupBy("split_no")
        .agg(min("bucket").as("boundary_bucket"))
        .orderBy("split_no")
    },

    // NS: winsorization — per-group outlier capping at the p05/p95
    // percentiles, the numeric-repair pass feature pipelines run before
    // normalization. The per-group thresholds are a tiny aggregate joined
    // back broadcast; the capping itself is a narrow map. Thresholds are
    // rounded to 6 decimals on BOTH engines before comparing (the
    // interpolated percentile is float-boundary-sensitive; the raw prices
    // have 2 decimals, so 6 is far from any data boundary). At 100 TB the
    // exact percentile becomes `approx_percentile` (q_quantiles_approx's
    // sketch) — the join-back shape is unchanged.
    "q_winsorize" -> { (s, dir) =>
      val pct = Tables.lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(round(expr("percentile(l_extendedprice, 0.05)"), 6).as("p05"),
          round(expr("percentile(l_extendedprice, 0.95)"), 6).as("p95"))
      val capped = greatest(least(col("l_extendedprice"), col("p95")), col("p05"))
      Tables.lineitem(s, dir)
        .join(broadcast(pct), "l_returnflag")
        .select(col("l_returnflag"), capped.as("wz"),
          (col("l_extendedprice") < col("p05")).cast("long").as("lo"),
          (col("l_extendedprice") > col("p95")).cast("long").as("hi"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          sum("lo").as("n_capped_low"),
          sum("hi").as("n_capped_high"),
          round(avg("wz"), 6).as("avg_winsorized"),
          round(min("wz"), 6).as("min_winsorized"),
          round(max("wz"), 6).as("max_winsorized"))
        .orderBy("l_returnflag")
    },

    // NS: per-group linear trend fit — OLS slope/intercept/R² of order
    // totalprice over time (x = days since epoch), the drift-detection
    // aggregate a feature pipeline runs per segment. regr_* aggregates are
    // second-moment sums (distributive partials, map-side combine) — the
    // same one-shuffle shape as q_corr_stats, at any scale.
    "q_linear_fit" -> { (s, dir) =>
      Tables.orders(s, dir)
        .select(col("o_orderstatus"),
          datediff(to_date(col("o_orderdate")), lit("1970-01-01")).cast("double").as("x"),
          col("o_totalprice").as("y"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          round(expr("regr_slope(y, x)"), 6).as("slope"),
          round(expr("regr_intercept(y, x)"), 6).as("intercept"),
          round(expr("regr_r2(y, x)"), 6).as("r2"))
        .orderBy("o_orderstatus")
    },

    // NS: order-insensitive table fingerprint — the row-level integrity
    // check a CDC/replication pipeline runs to certify "these two copies
    // hold the same rows" without sorting either side: per-row md5-derived
    // 32-bit hash over a canonical column encoding (exact-decimal prices
    // as integer cents, timestamps as epoch micros — no float formatting
    // crosses the engines), then commutative sum + xor aggregates. One
    // scan, one 1-row aggregate per table; at 100 TB the cost is a read.
    "q_table_hash" -> { (s, dir) =>
      def fp(df: org.apache.spark.sql.DataFrame, name: String,
             key: org.apache.spark.sql.Column) =
        df.select(Hash.prefix(key).as("h"))
          .agg(count(lit(1)).as("n_rows"), sum("h").as("hash_sum"),
            expr("bit_xor(h)").as("hash_xor"))
          .select(lit(name).as("table_name"), col("n_rows"),
            col("hash_sum"), col("hash_xor"))
      val orders = fp(Tables.orders(s, dir), "orders",
        concat_ws("|", col("o_orderkey").cast("string"), col("o_custkey").cast("string"),
          col("o_orderstatus"),
          round(col("o_totalprice") * 100).cast("long").cast("string"),
          unix_micros(col("o_orderdate").cast("timestamp")).cast("string"),
          col("o_orderpriority")))
      val customer = fp(Tables.customer(s, dir), "customer",
        concat_ws("|", col("c_custkey").cast("string"), col("c_name"),
          col("c_nationkey").cast("string"),
          round(col("c_acctbal") * 100).cast("long").cast("string"), col("c_mktsegment")))
      orders.union(customer).orderBy("table_name")
    },

    // NS: equal-frequency (quartile) bucketizer — the MLlib
    // QuantileDiscretizer shape as a query: exact quartile boundaries from
    // one single-row aggregate (Spark's exact percentile keeps a
    // value→count map — bounded by the 2-decimal price DOMAIN, not row
    // count; q_percentile_bucket_approx below IS the unbounded-domain
    // scale path, registered and gated, not a comment), broadcast
    // to a per-row bucket assignment, then per-bucket stats. Two narrow
    // passes + one K-group shuffle at any scale.
    "q_percentile_bucket" -> { (s, dir) =>
      // r12: the exact-percentile partial state (value->count map) builds
      // in the scan stage — fan the single price column out so 32 partials
      // build in parallel and merge (identity at scale splits)
      val b = graft.core.Par.fanOutIfCompact(
          Tables.orders(s, dir).select("o_totalprice"), col("o_totalprice"))
        .agg(expr("percentile(o_totalprice, 0.25)").as("q1"),
          expr("percentile(o_totalprice, 0.5)").as("q2"),
          expr("percentile(o_totalprice, 0.75)").as("q3"))
      Tables.orders(s, dir).crossJoin(broadcast(b))
        .select(col("o_totalprice").as("v"),
          when(col("o_totalprice") < col("q1"), 0L)
            .when(col("o_totalprice") < col("q2"), 1L)
            .when(col("o_totalprice") < col("q3"), 2L).otherwise(3L).as("bucket"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"), round(min("v"), 2).as("lo"),
          round(max("v"), 2).as("hi"), round(avg("v"), 4).as("mean"))
        .orderBy("bucket")
    },

    // NS: the 100 TB spelling of q_percentile_bucket — approx_percentile
    // boundaries (GK sketch, accuracy 10000 -> rank error 1e-4·N, constant
    // memory in the VALUE domain, unlike exact percentile's value→count
    // map). Sketch boundaries can't hash-match a non-sketch oracle, so
    // this is the q_distinct_approx self-eval shape: bucket by the approx
    // boundaries, emit the exact total and a within-2%-of-N/4 share
    // verdict per bucket, and the oracle pins the verdict to literal 1 —
    // a sketch drifting out of band goes hash-red at the driver. The raw
    // approx-vs-exact boundary property stays in ScalaTest.
    "q_percentile_bucket_approx" -> { (s, dir) =>
      val b = Tables.orders(s, dir)
        .agg(expr("approx_percentile(o_totalprice, array(0.25, 0.5, 0.75), 10000)").as("qs"),
          count(lit(1)).as("n_total"))
      Tables.orders(s, dir).crossJoin(broadcast(b))
        .select(col("n_total"),
          when(col("o_totalprice") < col("qs")(0), 0L)
            .when(col("o_totalprice") < col("qs")(1), 1L)
            .when(col("o_totalprice") < col("qs")(2), 2L).otherwise(3L).as("bucket"))
        .groupBy("bucket")
        .agg(max("n_total").as("n_total"), count(lit(1)).as("n"))
        .select(col("bucket"), col("n_total"),
          when(abs(col("n") - col("n_total") / lit(4.0)) <= lit(0.02) * col("n_total"), 1L)
            .otherwise(0L).as("share_ok"))
        .orderBy("bucket")
    },

    // NS: per-group min-max feature scaling — acctbal normalized to [0,1]
    // within each nation. Group envelopes are one tiny aggregate broadcast
    // back onto the rows (no second shuffle of the data); degenerate
    // single-value groups (max == min) scale to 0 via the guarded
    // denominator on both engines.
    "q_minmax_scale" -> { (s, dir) =>
      val env = Tables.customer(s, dir).groupBy("c_nationkey")
        .agg(min("c_acctbal").as("lo"), max("c_acctbal").as("hi"))
      Tables.customer(s, dir)
        .join(broadcast(env), "c_nationkey")
        .select(col("c_custkey"),
          round((col("c_acctbal") - col("lo")) /
            greatest(col("hi") - col("lo"), lit(1e-12)), 6).as("scaled"))
        .orderBy("c_custkey")
    },

    // NS: cross-source quantile normalization — map each document's
    // length onto the GLOBAL length distribution through its within-
    // source decile (y = G⁻¹(F_source(x)) at decile resolution), the
    // normalization that makes length-based quality thresholds
    // comparable across sources with wildly different length profiles.
    // Both grids are bounded aggregates (9 source boundaries, 10 global
    // mid-decile values) broadcast onto a narrow per-row bucket fold —
    // the corpus itself never shuffles. Exact percentile over the
    // integer n_chars domain (the q_quantiles parity surface).
    "q_quantile_normalize" -> { (s, dir) =>
      val d = Tables.documents(s, dir).select(col("doc_id"), col("source"), col("n_chars"))
      val srcGrid = d.groupBy("source").agg(
        expr("percentile(n_chars, array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9))").as("sb"))
      val globGrid = d.agg(
        expr("percentile(n_chars, array(0.05,0.15,0.25,0.35,0.45,0.55,0.65,0.75,0.85,0.95))")
          .as("gb"))
      d.join(broadcast(srcGrid), "source").crossJoin(broadcast(globGrid))
        .withColumn("bucket", expr(
          "aggregate(sb, CAST(0 AS BIGINT), (acc, x) -> " +
            "acc + CASE WHEN CAST(n_chars AS DOUBLE) > x THEN 1 ELSE 0 END)"))
        .withColumn("norm_milli", expr(
          "CAST(round(element_at(gb, CAST(bucket + 1 AS INT)) * 1000) AS BIGINT)"))
        .select(col("doc_id"), col("source"), col("n_chars"), col("bucket"), col("norm_milli"))
        .orderBy("doc_id")
    },

    // NS: weighted sampling without replacement (Efraimidis–Spirakis):
    // per-row key ln(u)/w with u derived from an md5 hash — NO RNG, so the
    // sample is reproducible across engines, retries, and cluster sizes —
    // and the top-10 keys are the sample. One narrow pass +
    // TakeOrderedAndProject (per-partition top-k, k-row driver merge): the
    // scalable one-pass weighted reservoir. The cut compares ROUNDED keys
    // (1e-12 of a ~1e-10-gapped key space) so last-ulp libm ln()
    // differences can never flip the selection.
    "q_weighted_sample" -> { (s, dir) =>
      val h = Hash.prefix(concat(lit("ws:"), col("o_orderkey").cast("string")))
      val u = (pmod(h, lit(1000000L)).cast("double") + lit(0.5)) / lit(1000000.0)
      Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_totalprice").as("w"), u.as("u"))
        .select(col("o_orderkey"), col("w"), (log(col("u")) / col("w")).as("key"))
        .orderBy(round(col("key"), 12).desc, col("o_orderkey"))
        .limit(10)
        .select(col("o_orderkey"), round(col("w"), 2).as("weight"),
          round(col("key") * 1e6, 3).as("es_key_x1e6"))
    },

    // NS: Neyman allocation — the OPTIMAL stratified sampling plan (the
    // prescriptive step after q_group_sample's uniform strata): allocate
    // a 1000-doc eval budget across sources ∝ N_h·σ_h, which minimizes
    // the estimator variance at fixed budget. σ_h comes from exact
    // per-stratum (n, Σx, Σx²) BIGINTs (x = n_chars); weights and
    // fractional parts are fixed IEEE trees over those integers; the
    // integer allocation floors each share and hands the remainder to
    // the largest fractional parts (rank over the 20-row source frame,
    // total tie-break) so Σ alloc == budget EXACTLY. Zero-variance or
    // empty strata weight 0 (total).
    "q_neyman_alloc" -> { (s, dir) =>
      val budget = 1000L
      val st = Tables.documents(s, dir)
        .groupBy("source")
        // sxx in exact DECIMAL(38,0): a BIGINT Σx² wraps silently on Spark
        // (vs error on DuckDB) past ~9e8 100k-char docs — well inside the
        // 100 TB envelope; decimal keeps the sum exact (and thus the
        // derived IEEE weights engine-identical) to 1e38
        .agg(count(lit(1)).as("n_h"), sum("n_chars").as("sx"),
          sum(col("n_chars").cast("decimal(19,0)") *
            col("n_chars").cast("decimal(19,0)")).as("sxx"))
        .withColumn("w", expr(
          "CASE WHEN n_h < 2 THEN 0.0e0 ELSE CAST(n_h AS DOUBLE) * " +
            "sqrt(greatest((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) " +
            "/ CAST(n_h AS DOUBLE)) / (CAST(n_h AS DOUBLE) - 1.0e0), 0.0e0)) END"))
      // per-stratum weights quantize to micro BEFORE the total (a float
      // Σw would be summation-order-dependent); base/remainder are then
      // pure integer: base = B·w DIV W, remainder ranks exact
      val stq = st.withColumn("w_micro", expr("CAST(round(w * 1000000.0e0) AS BIGINT)"))
        // materialized ONCE (a ~sources-row frame): it feeds both the
        // w_tot aggregate and the allocation join — un-checkpointed, the
        // full documents aggregate executes twice (two corpus passes)
        .localCheckpoint(eager = false)
      val tot = stq.agg(sum("w_micro").as("w_tot"))
      val sc = stq.crossJoin(broadcast(tot))
        .withColumn("base", expr(
          s"CASE WHEN w_tot <= 0 THEN CAST(0 AS BIGINT) " +
            s"ELSE $budget * w_micro DIV w_tot END"))
        .withColumn("rem", expr(
          s"CASE WHEN w_tot <= 0 THEN CAST(0 AS BIGINT) " +
            s"ELSE ($budget * w_micro) % w_tot END"))
      val used = sc.agg(sum("base").as("used"))
      sc.crossJoin(broadcast(used))
        .withColumn("rk", row_number().over(
          Window.orderBy(col("rem").desc, col("source"))).cast("long"))
        .select(col("source"), col("n_h"), col("base"), col("rk"),
          // remainder bonus gated on w_tot > 0: a zero-weight plan (every
          // stratum n_h<2 or zero variance) must allocate 0 everywhere,
          // not leak budget 1-per-stratum through rk <= budget - 0
          (col("base") + when(col("w_tot") > 0 &&
            col("rk") <= lit(budget) - col("used"), 1L).otherwise(0L))
            .as("alloc"))
        .orderBy("source")
    },

    // NS: deterministic per-stratum reservoir sample — the reproducible
    // "give me k uniform rows per group" primitive every debugging /
    // eval-set / spot-check pipeline needs. Priority = 56-bit md5 hash of
    // the key (so the sample is a pure function of the data — re-runs,
    // retries and both engines draw the SAME rows), and the bottom-k
    // selection is the combinable BottomKDistinctAgg: k hashes per
    // stratum per partition cross the shuffle, never the stratum (the
    // per-group rank-window formulation would sort whole strata in one
    // reducer task). The k-row sketch broadcasts back to fetch row
    // payloads; the final rank runs over that ≤k-row-per-group frame
    // only. Hash ties (distinct keys colliding in 56 bits) break on the
    // key itself, so the output is total-ordered and engine-identical.
    "q_reservoir_sample" -> { (s, dir) =>
      val K = 16
      val bottomK = udaf(new graft.functions.BottomKDistinctAgg(K))
      // r12 fan-out: per-row md5 otherwise runs in the single-split scan
      // task (identity at scale splits)
      val rows = graft.core.Par.fanOutIfCompact(
          Tables.orders(s, dir)
            .select("o_orderstatus", "o_orderkey", "o_totalprice"), col("o_orderkey"))
        .select(col("o_orderstatus").as("grp"), col("o_orderkey"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("price_cents"))
        .withColumn("h", Hash.prefix(concat(lit("rs:"), col("o_orderkey").cast("string")), 14))
      val sk = rows.groupBy("grp").agg(bottomK(col("h")).as("hs"))
        .select(col("grp"), explode(col("hs")).as("h"))
      rows.join(broadcast(sk), Seq("grp", "h"))
        .withColumn("rk", row_number().over(
          Window.partitionBy("grp").orderBy(col("h"), col("o_orderkey"))).cast("long"))
        .filter(col("rk") <= K)
        .select(col("grp"), col("rk"), col("o_orderkey"), col("price_cents"))
        .orderBy("grp", "rk")
    },

    // NS: k-anonymity suppression — the privacy transform a training-data
    // release needs beside PII redaction: rows whose quasi-identifier
    // combination (event_type, day, floor(value)) occurs < k times get the
    // identifying value generalized to NULL. ONE hash shuffle total: the
    // group census is a window count over the QI key, not a join of an
    // aggregate back onto the rows — at 100 TB there's no second pass and
    // no census table to broadcast or shuffle twice.
    "q_kanon_suppress" -> { (s, dir) =>
      val k = 5
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("event_type"), to_date(col("ts")).as("day"),
          floor(col("value")).cast("long").as("value_bin"))
      val n = count(lit(1)).over(Window.partitionBy("event_type", "day", "value_bin"))
      ev.withColumn("grp_n", n)
        .select(col("event_id"), col("event_type"), col("day"),
          when(col("grp_n") >= k, col("value_bin")).as("value_bin"),
          (col("grp_n") < k).as("suppressed"))
        .orderBy("event_id")
    },

    // NS: l-diversity census — k-anonymity's companion audit: a
    // quasi-identifier group is safe only if its SENSITIVE attribute is
    // diverse (k=100 identical rows all sharing one diagnosis still leak).
    // Per (status, order-year) quasi-group, count distinct priorities,
    // then collapse to the (l -> n_groups) histogram + the failing-group
    // census (l < 3). Two hash aggregates — the group table, then the
    // diversity histogram (bounded by the sensitive domain), nothing
    // row-scale after the first shuffle.
    "q_ldiversity" -> { (s, dir) =>
      val grp = Tables.orders(s, dir)
        .select(col("o_orderstatus"),
          year(col("o_orderdate")).cast("long").as("o_year"),
          col("o_orderpriority"))
        .groupBy("o_orderstatus", "o_year")
        .agg(countDistinct("o_orderpriority").as("l"), count(lit(1)).as("n_rows"))
      val tot = grp.agg(min("l").as("min_l"),
        sum(when(col("l") < 3, 1L).otherwise(0L)).as("n_groups_below_3"))
      grp.groupBy("l")
        .agg(count(lit(1)).as("n_groups"), sum("n_rows").as("n_rows"))
        .crossJoin(broadcast(tot))
        .orderBy("l")
    },

    // NS: t-closeness audit — the third static privacy grade beside
    // k-anonymity and l-diversity: per QI group, the total-variation
    // distance between the group's sensitive-attribute distribution and
    // the global one (a group whose priorities skew far from the corpus
    // leaks attribute inference even when l-diverse). Dataflow: one
    // (group × sensitive) cell aggregate, the 5-value sensitive domain
    // grid-filled so ABSENT cells still contribute |0 − p_global|, then a
    // bounded per-group fold. Each cell's deviation quantizes to ppm as a
    // fixed DOUBLE expression floored to BIGINT (deterministic at any
    // scale — an exact cross-multiplication c_gp·n would overflow BIGINT
    // past n ~ 3e9, the q_lorenz_points lesson), and the per-group sum is
    // then pure integer. tv_ppm = Σ_p |p_g(p) − p(p)|·1e6 DIV 2.
    "q_tclose" -> { (s, dir) =>
      val rows = Tables.orders(s, dir)
        .select(col("o_orderstatus"),
          year(col("o_orderdate")).cast("long").as("o_year"),
          col("o_orderpriority").as("p"))
      val cell = rows.groupBy("o_orderstatus", "o_year", "p").agg(count(lit(1)).as("c_gp"))
      val gTot = cell.groupBy("o_orderstatus", "o_year").agg(sum("c_gp").as("n_g"))
      val pTot = rows.groupBy("p").agg(count(lit(1)).as("c_p"))
      val nTot = rows.agg(count(lit(1)).as("n"))
      val grid = gTot.crossJoin(broadcast(pTot)).crossJoin(broadcast(nTot))
      val filled = grid.join(cell, Seq("o_orderstatus", "o_year", "p"), "left_outer")
        .na.fill(0L, Seq("c_gp"))
        .withColumn("dev_ppm", expr(
          "CAST(floor(abs(CAST(c_gp AS DOUBLE) / CAST(n_g AS DOUBLE) - " +
            "CAST(c_p AS DOUBLE) / CAST(n AS DOUBLE)) * 1000000.0) AS BIGINT)"))
      filled.groupBy("o_orderstatus", "o_year")
        .agg(max("n_g").as("n_g"), expr("sum(dev_ppm) DIV 2").as("tv_ppm"))
        .withColumn("t_violation", (col("tv_ppm") > 300000L).cast("long"))
        .orderBy("o_orderstatus", "o_year")
    },

    // NS: differentially-private-style noisy count release — the third
    // panel of the privacy family (k-anon suppression, l-diversity audit,
    // now the DP mechanism itself): per-group counts plus additive noise
    // at Laplace scale 1/eps (eps = 0.1 → scale 10), with the utility
    // ledger (absolute error, error ppm) a data steward publishes beside
    // any release. The noise here is a DETERMINISTIC md5-derived stand-in
    // (uniform on [-scale, +scale]) so both engines replay bit-equal — a
    // real release swaps ONLY the `u` column for calibrated Laplace draws
    // (the blob-decode stub discipline: the plumbing, clamping and
    // accounting are the real, tested part). Dataflow: one combinable
    // count aggregate to a group-domain frame; noise is per-GROUP, so
    // nothing row-scale follows the shuffle.
    "q_dp_count" -> { (s, dir) =>
      val scale = 10L // 1/eps, eps = 0.1
      Tables.events(s, dir)
        .groupBy("event_type").agg(count(lit(1)).as("n_true"))
        .withColumn("u", pmod(Hash.prefix(concat(lit("dp:"), col("event_type"))), lit(2001L)) - 1000L)
        .withColumn("noise",
          expr(s"CASE WHEN u >= 0 THEN u * $scale DIV 1000 ELSE -((-u) * $scale DIV 1000) END"))
        .select(col("event_type"), col("n_true"), col("noise"),
          greatest(col("n_true") + col("noise"), lit(0L)).as("n_released"),
          expr("abs(noise) * 1000000 DIV n_true").as("err_ppm"))
        .orderBy("event_type")
    }
  )

  def oracleSql: Map[String, String] = Map(
    "q_merge_upsert" ->
      """WITH tgt AS (SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders),
        |upd AS (SELECT o_orderkey, round(o_totalprice * 1.1, 4) AS u_price, 'U' AS u_status
        |        FROM orders WHERE o_orderkey % 10 = 0),
        |ins AS (SELECT o_orderkey + 100000000 AS o_orderkey,
        |               round(o_totalprice / 2, 4) AS u_price, 'N' AS u_status
        |        FROM orders WHERE o_orderkey % 1000 = 0),
        |src AS (SELECT * FROM upd UNION ALL SELECT * FROM ins),
        |m AS (SELECT coalesce(t.o_orderkey, s.o_orderkey) AS o_orderkey,
        |             coalesce(s.u_price, t.o_totalprice) AS price,
        |             coalesce(s.u_status, t.o_orderstatus) AS status,
        |             CASE WHEN s.u_status IS NOT NULL AND t.o_orderstatus IS NOT NULL THEN 'update'
        |                  WHEN t.o_orderstatus IS NULL THEN 'insert'
        |                  ELSE 'keep' END AS action
        |      FROM tgt t FULL OUTER JOIN src s ON t.o_orderkey = s.o_orderkey)
        |SELECT o_orderkey, price, status, action
        |FROM m WHERE action <> 'keep' OR o_orderkey % 100 = 0
        |ORDER BY o_orderkey""".stripMargin,
    // the oracle replays last-writer-wins as a rn=1 window (the oracle need
    // not be scale-shaped); same (ts DESC, event_id DESC) total order
    "q_cdc_compact" ->
      """WITH o AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
        |                  CASE WHEN event_id % 10 = 0 THEN 'D' ELSE 'U' END AS op, value,
        |                  row_number() OVER (PARTITION BY user_id
        |                                     ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
        |           FROM events),
        |agg AS (SELECT user_id, count(*) AS n_ops,
        |               CAST(sum(CASE WHEN op = 'D' THEN 1 ELSE 0 END) AS BIGINT) AS n_tombstones
        |        FROM o GROUP BY 1),
        |last AS (SELECT user_id, op AS last_op, value FROM o WHERE rn = 1)
        |SELECT a.user_id, a.n_ops, a.n_tombstones, l.last_op,
        |       CAST(l.last_op = 'U' AS BIGINT) AS alive,
        |       CASE WHEN l.last_op = 'U' THEN round(l.value, 4) END AS last_value
        |FROM agg a JOIN last l USING (user_id)
        |ORDER BY user_id""".stripMargin,
    "q_forward_fill" ->
      """WITH v AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
        |                  CASE WHEN event_id % 5 = 0 THEN NULL ELSE value END AS v
        |           FROM events)
        |SELECT event_id, user_id,
        |       CAST(v IS NULL AS BIGINT) AS was_null,
        |       round(last_value(v IGNORE NULLS) OVER (
        |         PARTITION BY user_id ORDER BY ts, event_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS filled
        |FROM v ORDER BY event_id""".stripMargin,
    "q_agg_filtered" ->
      """SELECT l_returnflag,
        |       CAST(count(*) FILTER (WHERE l_quantity > 25) AS BIGINT) AS n_big,
        |       CAST(bool_and(l_quantity > 0) AS BIGINT) AS all_positive,
        |       CAST(bool_or(l_discount > 0.05) AS BIGINT) AS any_discounted,
        |       CAST(count(DISTINCT l_linestatus) AS BIGINT) AS n_status,
        |       CAST(sum(DISTINCT l_linenumber) AS BIGINT) AS sum_distinct_ln,
        |       round(avg(l_extendedprice) FILTER (WHERE l_tax > 0.04), 6) AS avg_price_hightax
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_anomaly_zscore" ->
      """WITH z AS (SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
        |                  l_suppkey, l_extendedprice,
        |                  round((l_extendedprice - avg(l_extendedprice) OVER (PARTITION BY l_suppkey)) /
        |                        stddev_samp(l_extendedprice) OVER (PARTITION BY l_suppkey), 9) AS z
        |           FROM lineitem)
        |SELECT l_orderkey, l_linenumber, l_suppkey, l_extendedprice, z
        |FROM z WHERE abs(z) > 2.5
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_try_arith" ->
      """WITH r AS (SELECT o_orderkey, o_totalprice,
        |                  CASE WHEN o_orderkey % 4 = 0 THEN ''
        |                       WHEN o_orderkey % 4 = 1 THEN 'n/a'
        |                       WHEN o_orderkey % 4 = 2 THEN CAST(o_custkey AS VARCHAR) || 'x'
        |                       ELSE CAST(o_custkey AS VARCHAR) END AS raw
        |           FROM orders)
        |SELECT o_orderkey, raw,
        |       TRY_CAST(raw AS BIGINT) AS parsed,
        |       round(o_totalprice / nullif(o_orderkey % 3, 0), 6) AS safe_ratio
        |FROM r ORDER BY o_orderkey""".stripMargin,
    // the direct recompute — checking the incremental path against it
    // same integer-cents arithmetic; one deterministic division at the end
    "q_incremental_agg" ->
      """SELECT o_orderstatus, count(*) AS n_orders,
        |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) / 1e2 AS revenue
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q_group_sample" ->
      s"""SELECT source,
        |       CAST(row_number() OVER (
        |         PARTITION BY source
        |         ORDER BY ${Hash.prefixSql("'samp:' || CAST(doc_id AS VARCHAR)")}, doc_id)
        |         AS BIGINT) AS rn,
        |       doc_id
        |FROM documents
        |QUALIFY rn <= 5
        |ORDER BY source, rn""".stripMargin,
    "q_profile_summary" ->
      """WITH s AS (SELECT
        |  CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS st_nulls,
        |  count(DISTINCT o_orderstatus) AS st_distinct,
        |  min(o_orderstatus) AS st_min, max(o_orderstatus) AS st_max,
        |  CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS pr_nulls,
        |  count(DISTINCT o_orderpriority) AS pr_distinct,
        |  min(o_orderpriority) AS pr_min, max(o_orderpriority) AS pr_max,
        |  CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS tp_nulls,
        |  count(DISTINCT o_totalprice) AS tp_distinct,
        |  min(o_totalprice) AS tp_min, max(o_totalprice) AS tp_max,
        |  CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS ck_nulls,
        |  count(DISTINCT o_custkey) AS ck_distinct,
        |  min(o_custkey) AS ck_min, max(o_custkey) AS ck_max
        |FROM orders)
        |SELECT * FROM (
        |  SELECT 'o_orderstatus' AS col_name, st_nulls AS n_nulls, st_distinct AS n_distinct,
        |         st_min AS str_min, st_max AS str_max,
        |         CAST(NULL AS DOUBLE) AS num_min, CAST(NULL AS DOUBLE) AS num_max FROM s
        |  UNION ALL
        |  SELECT 'o_orderpriority', pr_nulls, pr_distinct, pr_min, pr_max,
        |         CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE) FROM s
        |  UNION ALL
        |  SELECT 'o_totalprice', tp_nulls, tp_distinct,
        |         CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
        |         tp_min, tp_max FROM s
        |  UNION ALL
        |  SELECT 'o_custkey', ck_nulls, ck_distinct,
        |         CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
        |         CAST(ck_min AS DOUBLE), CAST(ck_max AS DOUBLE) FROM s)
        |ORDER BY col_name""".stripMargin,
    // same integer-cents arithmetic, same DIV bucketing
    "q_histogram" ->
      """WITH c AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c FROM orders),
        |b AS (SELECT min(c) AS lo, max(c) AS hi FROM c)
        |SELECT ((c - lo) * 10) // (hi - lo + 1) AS bucket,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(min(c) AS DOUBLE) / 100 AS bin_lo,
        |       CAST(max(c) AS DOUBLE) / 100 AS bin_hi
        |FROM c CROSS JOIN b
        |GROUP BY 1 ORDER BY bucket""".stripMargin,
    // same block census (integer DIV blocks, no window)
    "q_sequence_gaps" ->
      """SELECT event_id // 1000 AS blk,
        |       CAST(count(*) AS BIGINT) AS n_present,
        |       min(event_id) AS first_id, max(event_id) AS last_id,
        |       max(event_id) - min(event_id) + 1 - count(*) AS n_missing
        |FROM events
        |GROUP BY 1 ORDER BY blk""".stripMargin,
    // same integer budget arithmetic; the only float is the rounded rate
    "q_mix_plan" ->
      """WITH toks AS (SELECT source, count(*) AS n_docs,
        |                     CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |              FROM documents GROUP BY source),
        |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS t, count(*) AS n_sources FROM toks)
        |SELECT source, n_docs, n_tokens,
        |       CAST((tot.t // 2) // tot.n_sources AS BIGINT) AS target_tokens,
        |       round(least(1.0,
        |             CAST((tot.t // 2) // tot.n_sources AS DOUBLE) / n_tokens), 6) AS rate,
        |       least(n_tokens, CAST((tot.t // 2) // tot.n_sources AS BIGINT)) AS planned_tokens
        |FROM toks CROSS JOIN tot
        |ORDER BY source""".stripMargin,
    // same k/2-grid median/MAD + cross-multiplied flag inequality
    "q_anomaly_robust" ->
      """WITH li AS (SELECT l_returnflag,
        |                   CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
        |            FROM lineitem),
        |med AS (SELECT l_returnflag, quantile_cont(cents, 0.5) AS med FROM li GROUP BY 1),
        |r AS (SELECT li.l_returnflag, cents, med,
        |             CAST(abs(cents * 2 - med * 2) AS BIGINT) AS r2
        |      FROM li JOIN med USING (l_returnflag)),
        |mad AS (SELECT l_returnflag, quantile_cont(r2, 0.5) AS mad2 FROM r GROUP BY 1)
        |SELECT r.l_returnflag, count(*) AS n,
        |       max(med) AS med_cents,
        |       max(mad2) / 2.0 AS mad_cents,
        |       CAST(sum(CASE WHEN r2 * 6745.0 > mad2 * 35000.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        |       CAST(sum(CASE WHEN r2 * 6745.0 > mad2 * 35000.0 THEN 1 ELSE 0 END) * 1000000
        |            // count(*) AS BIGINT) AS out_ppm
        |FROM r JOIN mad USING (l_returnflag)
        |GROUP BY 1 ORDER BY r.l_returnflag""".stripMargin,
    // same exact integer cross-multiplied shrinkage
    "q_target_encode" ->
      """WITH o AS (SELECT o_custkey,
        |                  CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
        |           FROM orders),
        |cat AS (SELECT o_custkey, count(*) AS n, CAST(sum(y) AS BIGINT) AS n_f
        |        FROM o GROUP BY 1),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt, CAST(sum(n_f) AS BIGINT) AS ft FROM cat)
        |SELECT o_custkey, n, n_f,
        |       CAST(n_f * 1000000 // n AS BIGINT) AS raw_ppm,
        |       CAST((n_f * nt + 10 * ft) * 1000000 // ((n + 10) * nt) AS BIGINT) AS enc_ppm
        |FROM cat CROSS JOIN tot
        |ORDER BY o_custkey""".stripMargin,
    // same per-language reduce; identical pow/normalize expression order
    "q_temperature_mix" ->
      """WITH toks AS (SELECT lang, count(*) AS n_docs,
        |                     CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |              FROM documents GROUP BY lang),
        |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS t FROM toks),
        |pa AS (SELECT lang, n_docs, n_tokens, t,
        |              CAST(n_tokens AS DOUBLE) / t AS p,
        |              pow(CAST(n_tokens AS DOUBLE) / t, 0.3) AS pa
        |       FROM toks CROSS JOIN tot),
        |z AS (SELECT sum(pa) AS z FROM pa)
        |SELECT lang, n_docs, n_tokens,
        |       CAST(n_tokens * 1000000 // t AS BIGINT) AS p_ppm,
        |       round(pa / z, 9) AS q_share,
        |       round(pa / z / p, 6) AS boost
        |FROM pa CROSS JOIN z
        |ORDER BY lang""".stripMargin,
    // identical micro-nat ledger and integer softmax normalization
    "q_doremi_step" ->
      """WITH toks AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS w FROM documents),
        |sw AS (SELECT source, w, CAST(count(*) AS BIGINT) AS c_sw
        |       FROM toks WHERE len(w) > 0 GROUP BY 1, 2),
        |vocab AS (SELECT w, CAST(sum(c_sw) AS BIGINT) AS c_w FROM sw GROUP BY 1),
        |tot AS (SELECT CAST(sum(c_w) AS BIGINT) AS t FROM vocab),
        |lm AS (SELECT w, CAST(round(ln(CAST(c_w AS DOUBLE) / CAST(t AS DOUBLE))
        |                * 1000000) AS BIGINT) AS lp_mn
        |       FROM vocab CROSS JOIN tot),
        |per AS (SELECT sw.source, CAST(sum(c_sw) AS BIGINT) AS n_tokens,
        |               CAST(sum(-c_sw * lp_mn) AS BIGINT) AS nll
        |        FROM sw JOIN lm ON lm.w = sw.w GROUP BY 1),
        |pl AS (SELECT *, nll // n_tokens AS loss_mn FROM per),
        |base AS (SELECT CAST(sum(nll) AS BIGINT) // CAST(sum(n_tokens) AS BIGINT) AS base_mn
        |         FROM per),
        |sc AS (SELECT source, n_tokens, loss_mn,
        |              greatest(loss_mn - base_mn, 0) AS excess_mn,
        |              CAST(round(exp(0.5e0 * CAST(greatest(loss_mn - base_mn, 0) AS DOUBLE)
        |                / 1000000e0) * 1000000e0) AS BIGINT) AS t_micro
        |       FROM pl CROSS JOIN base),
        |z AS (SELECT CAST(sum(t_micro) AS BIGINT) AS z_micro FROM sc)
        |SELECT source, n_tokens, loss_mn, excess_mn,
        |       t_micro * 1000000 // z_micro AS w_ppm
        |FROM sc CROSS JOIN z ORDER BY source""".stripMargin,
    // identical integer water-filling replay: same ascending (cap, source)
    // order, same prefix condition, same DIV/mod remainder distribution
    "q_epoch_plan" ->
      """WITH caps AS (SELECT source,
        |                     CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
        |                     CAST(sum(len(string_split(text, ' '))) * 4 AS BIGINT) AS cap
        |              FROM documents GROUP BY source),
        |idx AS (SELECT source, n_tokens, cap,
        |               CAST(row_number() OVER (ORDER BY cap, source) AS BIGINT) AS i,
        |               CAST(sum(cap) OVER (ORDER BY cap, source
        |                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |        FROM caps),
        |tot AS (SELECT CAST(sum(n_tokens) * 2 AS BIGINT) AS budget,
        |               CAST(count(*) AS BIGINT) AS k FROM caps),
        |star AS (SELECT coalesce(max(i), 0) AS istar, coalesce(max(cum), 0) AS cumstar
        |         FROM idx CROSS JOIN tot
        |         WHERE cap * (k - i) + cum <= budget)
        |SELECT source, n_tokens, cap,
        |       CASE WHEN i <= istar THEN cap
        |            ELSE (budget - cumstar) // (k - istar) +
        |                 CASE WHEN i - istar <= (budget - cumstar) % (k - istar)
        |                      THEN 1 ELSE 0 END
        |       END AS alloc,
        |       CAST(CASE WHEN i <= istar THEN cap
        |            ELSE (budget - cumstar) // (k - istar) +
        |                 CASE WHEN i - istar <= (budget - cumstar) % (k - istar)
        |                      THEN 1 ELSE 0 END
        |       END * 100 // n_tokens AS BIGINT) AS epochs_x100
        |FROM idx CROSS JOIN tot CROSS JOIN star
        |ORDER BY source""".stripMargin,
    "q_range_boundaries" ->
      """WITH h AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) // 1000000 AS bucket,
        |                  count(*) AS cnt
        |           FROM orders GROUP BY 1),
        |c AS (SELECT bucket, CAST(sum(cnt) OVER (ORDER BY bucket
        |             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM h),
        |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM h),
        |s AS (SELECT CAST(k AS BIGINT) AS split_no FROM range(1, 8) t(k))
        |SELECT split_no, min(bucket) AS boundary_bucket
        |FROM c CROSS JOIN tot CROSS JOIN s
        |WHERE cum * 8 >= split_no * n
        |GROUP BY split_no ORDER BY split_no""".stripMargin,
    "q_mix_report" ->
      s"""WITH d AS (SELECT source,
        |                  20 + (${Hash.prefixSql("source")} % 61) AS rate,
        |                  CAST((${Hash.prefixSql("'mix:' || CAST(doc_id AS VARCHAR) || ':' || source")} % 100
        |                       < 20 + (${Hash.prefixSql("source")} % 61)) AS BIGINT) AS kept
        |           FROM documents)
        |SELECT source, min(rate) AS rate, count(*) AS n_docs,
        |       CAST(sum(kept) AS BIGINT) AS n_kept,
        |       round(CAST(sum(kept) AS DOUBLE) / count(*), 6) AS ratio
        |FROM d GROUP BY source ORDER BY source""".stripMargin,
    "q_winsorize" ->
      """WITH p AS (SELECT l_returnflag,
        |                  round(quantile_cont(l_extendedprice, 0.05), 6) AS p05,
        |                  round(quantile_cont(l_extendedprice, 0.95), 6) AS p95
        |           FROM lineitem GROUP BY l_returnflag),
        |c AS (SELECT l.l_returnflag,
        |             greatest(least(l.l_extendedprice, p.p95), p.p05) AS wz,
        |             CASE WHEN l.l_extendedprice < p.p05 THEN 1 ELSE 0 END AS lo,
        |             CASE WHEN l.l_extendedprice > p.p95 THEN 1 ELSE 0 END AS hi
        |      FROM lineitem l JOIN p USING (l_returnflag))
        |SELECT l_returnflag, count(*) AS n_rows,
        |       CAST(sum(lo) AS BIGINT) AS n_capped_low,
        |       CAST(sum(hi) AS BIGINT) AS n_capped_high,
        |       round(avg(wz), 6) AS avg_winsorized,
        |       round(min(wz), 6) AS min_winsorized,
        |       round(max(wz), 6) AS max_winsorized
        |FROM c GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_linear_fit" ->
      """WITH d AS (SELECT o_orderstatus,
        |                  CAST(date_diff('day', DATE '1970-01-01',
        |                       CAST(o_orderdate AS DATE)) AS DOUBLE) AS x,
        |                  o_totalprice AS y
        |           FROM orders)
        |SELECT o_orderstatus, count(*) AS n,
        |       round(regr_slope(y, x), 6) + 0.0 AS slope,
        |       round(regr_intercept(y, x), 6) + 0.0 AS intercept,
        |       round(regr_r2(y, x), 6) AS r2
        |FROM d GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q_table_hash" ->
      s"""WITH o AS (SELECT ${Hash.prefixSql("""concat_ws('|',
        |             o_orderkey, o_custkey, o_orderstatus,
        |             CAST(round(o_totalprice * 100) AS BIGINT),
        |             epoch_us(CAST(o_orderdate AS TIMESTAMP)), o_orderpriority)""")} AS h
        |      FROM orders),
        |c AS (SELECT ${Hash.prefixSql("""concat_ws('|',
        |             c_custkey, c_name, c_nationkey,
        |             CAST(round(c_acctbal * 100) AS BIGINT),
        |             c_mktsegment)""")} AS h
        |      FROM customer)
        |SELECT 'customer' AS table_name, count(*) AS n_rows,
        |       CAST(sum(h) AS BIGINT) AS hash_sum, bit_xor(h) AS hash_xor FROM c
        |UNION ALL
        |SELECT 'orders', count(*), CAST(sum(h) AS BIGINT), bit_xor(h) FROM o
        |ORDER BY table_name""".stripMargin,
    "q_percentile_bucket" ->
      """WITH b AS (SELECT quantile_cont(o_totalprice, 0.25) AS q1,
        |                  quantile_cont(o_totalprice, 0.5) AS q2,
        |                  quantile_cont(o_totalprice, 0.75) AS q3 FROM orders),
        |t AS (SELECT o_totalprice AS v,
        |             CASE WHEN o_totalprice < q1 THEN 0 WHEN o_totalprice < q2 THEN 1
        |                  WHEN o_totalprice < q3 THEN 2 ELSE 3 END AS bucket
        |      FROM orders CROSS JOIN b)
        |SELECT CAST(bucket AS BIGINT) AS bucket, count(*) AS n,
        |       round(min(v), 2) AS lo, round(max(v), 2) AS hi, round(avg(v), 4) AS mean
        |FROM t GROUP BY bucket ORDER BY bucket""".stripMargin,
    // self-eval: the sketch-bucketed shares must each sit within 2% of
    // N/4 — the oracle pins the verdict, not the sketch boundaries
    "q_percentile_bucket_approx" ->
      """WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM orders)
        |SELECT unnest(range(0, 4)) AS bucket, n_total,
        |       CAST(1 AS BIGINT) AS share_ok
        |FROM n ORDER BY bucket""".stripMargin,
    "q_minmax_scale" ->
      """WITH env AS (SELECT c_nationkey, min(c_acctbal) AS lo, max(c_acctbal) AS hi
        |             FROM customer GROUP BY 1)
        |SELECT c.c_custkey,
        |       round((c.c_acctbal - env.lo) / greatest(env.hi - env.lo, 1e-12), 6) AS scaled
        |FROM customer c JOIN env USING (c_nationkey)
        |ORDER BY c_custkey""".stripMargin,
    "q_weighted_sample" ->
      s"""WITH t AS (SELECT o_orderkey, o_totalprice AS w,
        |                  (${Hash.prefixSql("'ws:' || CAST(o_orderkey AS VARCHAR)")}
        |                    % 1000000 + 0.5) / 1000000.0 AS u
        |           FROM orders),
        |k AS (SELECT o_orderkey, w, ln(u) / w AS key FROM t)
        |SELECT o_orderkey, round(w, 2) AS weight, round(key * 1e6, 3) + 0.0 AS es_key_x1e6
        |FROM k ORDER BY round(key, 12) DESC, o_orderkey LIMIT 10""".stripMargin,
    // identical decile grids (quantile_cont == percentile interpolation)
    // and the same per-row bucket fold
    "q_quantile_normalize" ->
      """WITH d AS (SELECT doc_id, source, n_chars FROM documents),
        |sg AS (SELECT source,
        |              quantile_cont(n_chars, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS sb
        |       FROM d GROUP BY 1),
        |gg AS (SELECT quantile_cont(n_chars,
        |              [0.05,0.15,0.25,0.35,0.45,0.55,0.65,0.75,0.85,0.95]) AS gb
        |       FROM d),
        |b AS (
        |  SELECT d.doc_id, d.source, d.n_chars,
        |         CAST(list_sum(list_transform(sg.sb, x ->
        |           CASE WHEN CAST(d.n_chars AS DOUBLE) > x THEN 1 ELSE 0 END)) AS BIGINT)
        |           AS bucket,
        |         gg.gb AS gb
        |  FROM d JOIN sg USING (source) CROSS JOIN gg)
        |SELECT doc_id, source, n_chars, bucket,
        |       CAST(round(gb[CAST(bucket + 1 AS INTEGER)] * 1000) AS BIGINT) AS norm_milli
        |FROM b ORDER BY doc_id""".stripMargin,
    // identical micro weight ledger, integer base/remainder allocation
    "q_neyman_alloc" ->
      """WITH st AS (SELECT source, CAST(count(*) AS BIGINT) AS n_h,
        |                   CAST(sum(n_chars) AS BIGINT) AS sx,
        |                   sum(CAST(n_chars AS DECIMAL(19,0)) * CAST(n_chars AS DECIMAL(19,0))) AS sxx
        |            FROM documents GROUP BY 1),
        |w AS (SELECT *, CASE WHEN n_h < 2 THEN 0.0e0 ELSE CAST(n_h AS DOUBLE) *
        |          sqrt(greatest((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
        |          / CAST(n_h AS DOUBLE)) / (CAST(n_h AS DOUBLE) - 1.0e0), 0.0e0)) END AS w
        |      FROM st),
        |q AS (SELECT *, CAST(round(w * 1000000.0e0) AS BIGINT) AS w_micro FROM w),
        |t AS (SELECT CAST(sum(w_micro) AS BIGINT) AS w_tot FROM q),
        |sc AS (SELECT source, n_h, w_micro, t.w_tot,
        |              CASE WHEN t.w_tot <= 0 THEN 0
        |                   ELSE 1000 * w_micro // t.w_tot END AS base,
        |              CASE WHEN t.w_tot <= 0 THEN 0
        |                   ELSE (1000 * w_micro) % t.w_tot END AS rem
        |       FROM q CROSS JOIN t),
        |u AS (SELECT CAST(sum(base) AS BIGINT) AS used FROM sc),
        |rk AS (SELECT sc.*, u.used,
        |              CAST(row_number() OVER (ORDER BY rem DESC, source) AS BIGINT) AS rk
        |       FROM sc CROSS JOIN u)
        |SELECT source, n_h, CAST(base AS BIGINT) AS base, rk,
        |       CAST(base + CASE WHEN w_tot > 0 AND rk <= 1000 - used THEN 1 ELSE 0 END AS BIGINT) AS alloc
        |FROM rk ORDER BY source""".stripMargin,
    // identical md5 priorities; the rank over (h, key) reproduces the
    // bottom-k-distinct + bounded tie-break exactly (the 16th rank's hash
    // is always inside the 16 smallest distinct hashes)
    "q_reservoir_sample" ->
      s"""WITH r AS (
        |  SELECT o_orderstatus AS grp, o_orderkey,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
        |         ${Hash.prefixSql("'rs:' || CAST(o_orderkey AS VARCHAR)", 14)} AS h
        |  FROM orders),
        |rk AS (SELECT grp, o_orderkey, price_cents,
        |              row_number() OVER (PARTITION BY grp ORDER BY h, o_orderkey) AS rk
        |       FROM r QUALIFY rk <= 16)
        |SELECT grp, CAST(rk AS BIGINT) AS rk, o_orderkey, price_cents
        |FROM rk ORDER BY grp, rk""".stripMargin,
    "q_kanon_suppress" ->
      """WITH e AS (SELECT event_id, event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |                  CAST(floor(value) AS BIGINT) AS value_bin FROM events),
        |n AS (SELECT *, count(*) OVER (PARTITION BY event_type, day, value_bin) AS grp_n FROM e)
        |SELECT event_id, event_type, day,
        |       CASE WHEN grp_n >= 5 THEN value_bin END AS value_bin,
        |       grp_n < 5 AS suppressed
        |FROM n ORDER BY event_id""".stripMargin,
    "q_ldiversity" ->
      """WITH grp AS (SELECT o_orderstatus,
        |                    CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |                    CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS l,
        |                    count(*) AS n_rows
        |             FROM orders GROUP BY 1, 2),
        |tot AS (SELECT min(l) AS min_l,
        |               CAST(sum(CASE WHEN l < 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_groups_below_3
        |        FROM grp)
        |SELECT l, count(*) AS n_groups, CAST(sum(n_rows) AS BIGINT) AS n_rows,
        |       min_l, n_groups_below_3
        |FROM grp CROSS JOIN tot
        |GROUP BY l, min_l, n_groups_below_3
        |ORDER BY l""".stripMargin,
    // identical cell census, grid fill, and floored per-cell ppm deviation
    "q_tclose" ->
      """WITH r AS (SELECT o_orderstatus, CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |                  o_orderpriority AS p FROM orders),
        |cell AS (SELECT o_orderstatus, o_year, p, CAST(count(*) AS BIGINT) AS c_gp
        |         FROM r GROUP BY 1, 2, 3),
        |gt AS (SELECT o_orderstatus, o_year, CAST(sum(c_gp) AS BIGINT) AS n_g
        |       FROM cell GROUP BY 1, 2),
        |pt AS (SELECT p, CAST(count(*) AS BIGINT) AS c_p FROM r GROUP BY 1),
        |nt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM r),
        |filled AS (
        |  SELECT gt.o_orderstatus, gt.o_year, gt.n_g, pt.c_p, nt.n,
        |         coalesce(cell.c_gp, 0) AS c_gp
        |  FROM gt CROSS JOIN pt CROSS JOIN nt
        |  LEFT JOIN cell ON cell.o_orderstatus = gt.o_orderstatus
        |    AND cell.o_year = gt.o_year AND cell.p = pt.p),
        |dev AS (
        |  SELECT o_orderstatus, o_year, n_g,
        |         CAST(floor(abs(CAST(c_gp AS DOUBLE) / CAST(n_g AS DOUBLE)
        |           - CAST(c_p AS DOUBLE) / CAST(n AS DOUBLE)) * 1000000.0) AS BIGINT) AS dev_ppm
        |  FROM filled)
        |SELECT o_orderstatus, o_year, max(n_g) AS n_g,
        |       CAST(sum(dev_ppm) AS BIGINT) // 2 AS tv_ppm,
        |       CAST(CAST(sum(dev_ppm) AS BIGINT) // 2 > 300000 AS BIGINT) AS t_violation
        |FROM dev GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // deterministic md5 noise stand-in, symmetric truncating division
    "q_dp_count" ->
      s"""WITH c AS (SELECT event_type, count(*) AS n_true FROM events GROUP BY 1),
        |u AS (SELECT event_type, n_true,
        |             ${Hash.prefixSql("'dp:' || event_type")} % 2001 - 1000 AS u
        |      FROM c),
        |nz AS (SELECT event_type, n_true,
        |              CASE WHEN u >= 0 THEN u * 10 // 1000
        |                   ELSE -((-u) * 10 // 1000) END AS noise
        |       FROM u)
        |SELECT event_type, n_true, noise,
        |       greatest(n_true + noise, 0) AS n_released,
        |       abs(noise) * 1000000 // n_true AS err_ppm
        |FROM nz ORDER BY event_type""".stripMargin
  )
}
