package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Window functions, sorts/limits/top-k, and set operations
  * (SURVEY.md §2.5-2.7). The reference has none of these (its only "top-k"
  * is the per-point argmin, k=1 — /root/reference/mapper.py:59-66); all are
  * NS extensions except `q_union_centroids`, which re-expresses the
  * master's per-reducer concatenation (/root/reference/master.py:238-247).
  */
object WindowSetQueries extends graft.SparkEntry.Module {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- §2.5 windows ------------------------------------------------------

    // Top-3 orders per customer by totalprice (rank partitioned by customer;
    // the per-partition sort is local after one hash shuffle).
    // NS: cumulative DISTINCT users per event type by day — the window
    // aggregate SQL cannot express directly (COUNT(DISTINCT) over a
    // running frame doesn't decompose), spelled the one way that scales:
    // collapse to each user's FIRST-seen day per type (one shuffle at
    // (type, user) grain with map-side combine), aggregate new-user counts
    // per (type, day), and run the cumulative sum over that
    // types×days-sized frame — the window never sees user-grain rows. At
    // 100 TB the event volume only affects the first aggregate; everything
    // after is calendar-sized.
    "q_window_distinct" -> { (s, dir) =>
      val firstSeen = Tables.events(s, dir)
        .select(col("event_type"),
          col("user_id"),
          datediff(to_date(col("ts")), lit("1994-12-26")).cast("long").as("day"))
        .groupBy("event_type", "user_id").agg(min("day").as("first_day"))
      val daily = firstSeen.groupBy("event_type", "first_day")
        .agg(count(lit(1)).as("new_users"))
      val w = Window.partitionBy("event_type").orderBy("first_day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      daily
        .withColumn("cum_users", sum("new_users").over(w))
        .select(col("event_type"), col("first_day").as("day"),
          col("new_users"), col("cum_users"))
        .orderBy("event_type", "day")
    },
    "q_window_rank" -> { (s, dir) =>
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.orders(s, dir)
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 3)
        .select(col("o_custkey"), col("rn"), col("o_orderkey"), col("o_totalprice"))
        .orderBy("o_custkey", "rn")
    },
    // Running revenue per user over event time (event_id tie-break makes the
    // frame total-ordered and the sum bit-deterministic).
    "q_window_running" -> { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, dir)
        .withColumn("running_value", round(sum("value").over(w), 6))
        .select(col("event_id"), col("user_id"), col("running_value"))
        .orderBy("event_id")
    },
    // The rest of the ranking/value window family over orders per customer:
    // dense_rank, quartile bucket, first/last value in the frame.
    "q_window_funcs" -> { (s, dir) =>
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      val wFull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.orders(s, dir)
        .select(col("o_custkey"), col("o_orderkey"),
          dense_rank().over(w).cast("long").as("drank"),
          ntile(4).over(w).cast("long").as("quartile"),
          first("o_orderkey").over(wFull).as("best_order"),
          last("o_orderkey").over(wFull).as("worst_order"))
        .orderBy("o_custkey", "drank", "o_orderkey")
    },
    // Inter-event gap per user in seconds (lag over event time).
    "q_window_lag" -> { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      Tables.events(s, dir)
        .withColumn("prev_ts", lag("ts", 1).over(w))
        .select(col("event_id"),
          (unix_micros(col("ts")) - unix_micros(col("prev_ts"))).as("gap_us"))
        .orderBy("event_id")
    },

    // Relative-rank window forms (percent_rank = (rank-1)/(n-1),
    // cume_dist = rank_with_ties/n): the normalized-position signals a
    // feature pipeline reads off a sort. Ordered on (price, key) — a total
    // order — so the rational is identical integer arithmetic on both
    // engines; one status-key shuffle like every window here.
    "q_window_pctrank" -> { (s, dir) =>
      val w = Window.partitionBy("o_orderstatus")
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      Tables.orders(s, dir)
        .select(col("o_orderstatus"), col("o_orderkey"),
          round(percent_rank().over(w), 9).as("pct_rank"),
          round(cume_dist().over(w), 9).as("cume"))
        .orderBy("o_orderstatus", "o_orderkey")
    },
    // NS: RANGE-frame window — per-user revenue in the trailing 1-hour
    // *time* window at each event (RANGE BETWEEN INTERVAL, not ROWS: peers
    // are defined by timestamp distance, so ties and gaps behave
    // correctly). Same single user_id shuffle as every window here.
    "q_window_range_frame" -> { (s, dir) =>
      // exact integer microseconds on both engines: casting ts to seconds
      // would truncate sub-second parts differently than DuckDB's epoch()
      val w = Window.partitionBy("user_id")
        .orderBy(unix_micros(col("ts")))
        .rangeBetween(-3600L * 1000000L, 0L)
      Tables.events(s, dir)
        .withColumn("trailing_1h_value", round(sum("value").over(w), 6))
        .select(col("event_id"), col("user_id"), col("trailing_1h_value"))
        .orderBy("event_id")
    },
    // NS: batch sessionization — the window-function dual of the streaming
    // session window (q_stream_session): a session break is a >30-min gap
    // from the previous event of the same user (lag), session ids are the
    // running count of breaks (cumulative sum), then one aggregate per
    // (user, session). Two window passes + one aggregate over a SINGLE hash
    // shuffle on user_id — Catalyst reuses the partitioning across all
    // three, so at 100 TB this is one shuffle of (user_id, ts, value).
    "q_sessionize" -> { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val gapUs = unix_micros(col("ts")) - unix_micros(lag("ts", 1).over(w))
      Tables.events(s, dir)
        .withColumn("new_sess",
          when(gapUs.isNull.or(gapUs > lit(30L * 60 * 1000000L)), 1L).otherwise(0L))
        .withColumn("sess_idx", sum("new_sess")
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "sess_idx")
        .agg(min(unix_micros(col("ts"))).as("sess_start_us"),
          count(lit(1)).as("n_events"),
          round(sum("value"), 6).as("sum_value"))
        .orderBy("user_id", "sess_idx")
    },

    // NS: conversion funnel — per user, the furthest stage reached:
    // 0 = never clicked, 1 = clicked but no purchase within 1 h of the
    // FIRST click, 2 = converted (purchase inside the attribution window).
    // The per-user first-click aggregate joins back onto the purchase
    // stream (user-key equi-join — both sides hash on user_id, the classic
    // funnel shape at any scale), then one tiny stage rollup.
    "q_funnel" -> { (s, dir) =>
      val ev = Tables.events(s, dir)
      val firstClick = ev.filter(col("event_type") === "click")
        .groupBy("user_id").agg(min("ts").as("first_click"))
      val converted = ev.filter(col("event_type") === "purchase")
        .join(firstClick, "user_id")
        .filter(col("ts") > col("first_click") &&
          col("ts") <= col("first_click") + expr("INTERVAL 1 HOUR"))
        .select("user_id").distinct()
        .withColumn("conv", lit(1L))
      ev.select("user_id").distinct()
        .join(firstClick, Seq("user_id"), "left")
        .join(converted, Seq("user_id"), "left")
        .select(when(col("first_click").isNull, 0L)
          .when(col("conv").isNotNull, 2L)
          .otherwise(1L).as("stage"))
        .groupBy("stage")
        .agg(count(lit(1)).as("n_users"))
        .orderBy("stage")
    },
    // NS: audience overlap matrix — which event types share users (the
    // cross-sell / cannibalization read): the event stream dedupes to the
    // (user, type) frame, pairs form per USER (≤C(5,2) per user — the
    // market-basket bounded-blowup argument, never a type×type row
    // product), and each pair reports intersection, union (by
    // inclusion–exclusion from exact per-type counts) and Jaccard ppm —
    // all exact integers.
    "q_audience_overlap" -> { (s, dir) =>
      val ut = Tables.events(s, dir)
        .select(col("user_id").as("u"), col("event_type").as("t")).distinct()
        .localCheckpoint(eager = false)
      val sizes = ut.groupBy("t").agg(count(lit(1)).as("n"))
      val pairs = ut.select(col("u"), col("t").as("ta"))
        .join(ut.select(col("u"), col("t").as("tb")), "u")
        .filter(col("ta") < col("tb"))
        .groupBy("ta", "tb").agg(count(lit(1)).as("n_both"))
      pairs
        .join(sizes.select(col("t").as("ta"), col("n").as("n_a")), "ta")
        .join(sizes.select(col("t").as("tb"), col("n").as("n_b")), "tb")
        .select(col("ta"), col("tb"), col("n_a"), col("n_b"), col("n_both"),
          expr("n_both * 1000000 DIV (n_a + n_b - n_both)").as("jaccard_ppm"))
        .orderBy("ta", "tb")
    },

    // NS: bitmap-index exact distinct — the Druid/ClickHouse trick: user
    // ids scatter into bitmap words (62 usable bits per long — bit 63 is
    // the sign bit and DuckDB raises on the BIGINT shift edge cases, the
    // SketchQueries.BitsPerWord lesson), one bit_or aggregate per
    // (type, word) builds the index, and Σ bit_count over it is the EXACT
    // distinct count with no sort-based dedup anywhere — state bounded by
    // the ID DOMAIN (max_id/62 words), not by event volume, and the words
    // merge across shards/batches by bit_or exactly like the FM registers
    // (but exact). Registered as a fused cross-check: the bitmap count
    // and countDistinct must agree per type (verdict pinned by the
    // oracle).
    "q_bitmap_distinct" -> { (s, dir) =>
      val e = Tables.events(s, dir).select(col("event_type"), col("user_id"))
      val bm = e
        .select(col("event_type"), expr("user_id DIV 62").as("wi"),
          expr("shiftleft(CAST(1 AS BIGINT), CAST(user_id % 62 AS INT))").as("b"))
        .groupBy("event_type", "wi").agg(expr("bit_or(b)").as("bits"))
        .groupBy("event_type")
        .agg(sum(expr("CAST(bit_count(bits) AS BIGINT)")).as("n_bitmap"),
          count(lit(1)).as("n_words"))
      val ex = e.distinct().groupBy("event_type").agg(count(lit(1)).as("n_exact"))
      bm.join(ex, "event_type")
        .select(col("event_type"), col("n_exact"), col("n_bitmap"), col("n_words"),
          (col("n_bitmap") === col("n_exact")).cast("long").as("bitmap_ok"))
        .orderBy("event_type")
    },

    // NS: session quality metrics — the product read over q_sessionize's
    // output (bounce rate, depth distribution): sessions collapse to the
    // capped depth histogram (least(n_events, 10) — bounded domain, the
    // q_histogram discipline) with the bounce share as exact ppm. Same
    // single user_id shuffle as sessionize; everything after the session
    // aggregate is histogram-sized.
    "q_session_metrics" -> { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val gapUs = unix_micros(col("ts")) - unix_micros(lag("ts", 1).over(w))
      val sessions = Tables.events(s, dir)
        .withColumn("new_sess",
          when(gapUs.isNull.or(gapUs > lit(30L * 60 * 1000000L)), 1L).otherwise(0L))
        .withColumn("sess_idx", sum("new_sess")
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "sess_idx")
        .agg(count(lit(1)).as("n_events"))
      val hist = sessions
        .groupBy(least(col("n_events"), lit(10L)).as("depth"))
        .agg(count(lit(1)).as("n_sessions_at_depth"))
      val tot = hist.agg(sum("n_sessions_at_depth").as("n_sessions"),
        sum(when(col("depth") === 1L, col("n_sessions_at_depth")).otherwise(0L))
          .as("n_bounces"))
      hist.crossJoin(broadcast(tot))
        .select(col("depth"), col("n_sessions_at_depth"), col("n_sessions"),
          expr("n_bounces * 1000000 DIV n_sessions").as("bounce_ppm"))
        .orderBy("depth")
    },

    // NS: multi-touch attribution — q_funnel's marketing sibling: each
    // purchase attributes to the LAST preceding click (last-touch) and to
    // the EARLIEST click inside the trailing 1-hour window (first-touch-
    // in-window), the two standard attribution models. Both lookups are
    // conditional min/max over RANGE frames on epoch-micros in ONE
    // user-partitioned window pass (set-semantics aggregates, so peer-row
    // order can never matter — no last()/first() order sensitivity), and
    // the purchase census plus the attribution-gap mean are exact-integer
    // arithmetic off the flagged rows. One shuffle on user_id at any
    // scale; per-user partitions bound the window state.
    "q_attribution" -> { (s, dir) =>
      val us = unix_micros(col("ts"))
      val isClick = (col("event_type") === "click").cast("long")
      val base = Tables.events(s, dir)
        .filter(col("event_type").isin("click", "purchase"))
        .select(col("user_id"), col("event_type"), us.as("us"),
          when(isClick === 1L, us).as("click_us"))
      val w = Window.partitionBy("user_id").orderBy("us")
      val lastTouch = max("click_us")
        .over(w.rangeBetween(Window.unboundedPreceding, -1))
      val firstIn1h = min("click_us")
        .over(w.rangeBetween(-3600000000L, -1))
      base
        .withColumn("last_click", lastTouch)
        .withColumn("first_1h", firstIn1h)
        .filter(col("event_type") === "purchase")
        .agg(count(lit(1)).as("n_purchases"),
          sum(col("last_click").isNotNull.cast("long")).as("last_touch_attributed"),
          sum(col("first_1h").isNotNull.cast("long")).as("first_touch_1h_attributed"),
          round(avg((col("us") - col("last_click")).cast("double") / 1e6), 6)
            .as("avg_gap_s"))
    },

    // NS: cohort retention — users bucketed by first-seen hour (their
    // cohort), counted as retained at each hour offset 0..3 if they have
    // any event in that hour. Two shuffles: per-user cohort (user keys),
    // then per-(cohort, offset) distinct users (the classic retention
    // matrix). At 100 TB both shuffle compact (user, hour) pairs.
    "q_cohort_retention" -> { (s, dir) =>
      val ev = Tables.events(s, dir)
        .select(col("user_id"), date_trunc("hour", col("ts")).as("h"))
      val cohort = ev.groupBy("user_id").agg(min("h").as("cohort_h"))
      ev.join(cohort, "user_id")
        .select(col("user_id"), col("cohort_h"),
          ((unix_micros(col("h")) - unix_micros(col("cohort_h"))) / lit(3600L * 1000000L))
            .cast("long").as("offset_h"))
        .filter(col("offset_h") <= 3)
        .groupBy("cohort_h", "offset_h")
        .agg(countDistinct("user_id").as("n_users"))
        .orderBy("cohort_h", "offset_h")
    },

    // NS: retention-curve decay fit — the MODEL on top of
    // q_cohort_retention's raw counts: pooled day-offset retention
    // r(d) = active(d)/cohort, ln-linearized and OLS-fit over the
    // bounded offset grid (d = 1..7) to an exponential decay, reported
    // as slope (micro-nats/day) and half-life. Numerics: each offset's
    // ln(r) quantizes to micro-nats (the LM-ledger discipline) so the
    // OLS sufficient statistics are EXACT BIGINTs over a ≤7-row frame;
    // the slope is one IEEE ratio with the zero-denominator pin, and a
    // non-decaying curve (slope ≥ 0) pins half-life to 0 with a flag
    // rather than a negative estimate (totality).
    "q_retention_fit" -> { (s, dir) =>
      val ev = Tables.events(s, dir)
        .select(col("user_id"), to_date(col("ts")).as("day"))
      val cohort = ev.groupBy("user_id").agg(min("day").as("c0"))
      val active = ev.join(cohort, "user_id")
        .select(col("user_id"), datediff(col("day"), col("c0")).cast("long").as("d"))
        .filter(col("d") >= 1 && col("d") <= 7).distinct()
      val n0 = cohort.agg(count(lit(1)).as("n0"))
      val pts = active.groupBy("d").agg(count(lit(1)).as("n_d"))
        .crossJoin(broadcast(n0))
        .select(col("d"), expr(
          "CAST(round(ln(CAST(n_d AS DOUBLE) / CAST(n0 AS DOUBLE)) * 1000000) AS BIGINT)")
          .as("y"))
      val sums = pts.agg(count(lit(1)).as("n"),
        coalesce(sum("d"), lit(0L)).as("sd"), coalesce(sum("y"), lit(0L)).as("sy"),
        coalesce(sum(col("d") * col("d")), lit(0L)).as("sdd"),
        coalesce(sum(col("d") * col("y")), lit(0L)).as("sdy"))
      sums.crossJoin(broadcast(n0))
        .withColumn("den_d", expr(
          "CAST(n AS DOUBLE) * CAST(sdd AS DOUBLE) - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE)"))
        .withColumn("slope_d", expr(
          "CASE WHEN den_d = 0.0e0 THEN 0.0e0 " +
            "ELSE (CAST(n AS DOUBLE) * CAST(sdy AS DOUBLE) " +
            "- CAST(sd AS DOUBLE) * CAST(sy AS DOUBLE)) / den_d END"))
        .select(col("n0").as("cohort_users"), col("n").as("n_points"),
          expr("CAST(floor(slope_d) AS BIGINT)").as("slope_micro_per_day"),
          expr("CASE WHEN slope_d >= 0.0e0 THEN CAST(0 AS BIGINT) " +
            "ELSE CAST(floor(0.6931471805599453e0 / (-slope_d / 1000000.0e0) " +
            "* 1000.0e0) AS BIGINT) END").as("half_life_milli_days"),
          expr("CAST(slope_d >= 0.0e0 AS BIGINT)").as("no_decay"))
    },

    // NS: top user journeys — the most common opening 3-step event-type
    // paths ("what do users actually do first"), the path-level read
    // beside q_markov_transitions' aggregate transition matrix: each
    // user's first three events (by (ts, event_id)) concatenate into a
    // path string, paths census into a ≤|types|³-bounded frame, top-5 by
    // (count desc, path). The rank window runs AFTER the bounded census;
    // the per-user trim is a rank window on the user key (one shuffle).
    "q_top_paths" -> { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val first3 = Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
      val paths = first3.groupBy("user_id")
        .agg(count(lit(1)).as("n_steps"),
          concat_ws(">", sort_array(collect_list(
            struct(col("rn"), col("event_type")))).getField("event_type"))
            .as("path"))
        .filter(col("n_steps") === 3)
        .groupBy("path").agg(count(lit(1)).as("n_users"))
      val tot = paths.agg(sum("n_users").as("t"))
      paths.crossJoin(broadcast(tot))
        .select(col("path"), col("n_users"),
          expr("n_users * 1000000 DIV t").as("share_ppm"))
        .orderBy(col("n_users").desc, col("path"))
        .limit(5)
    },

    // NS: new-vs-returning mix per day — the acquisition dashboard's
    // first row: a user is NEW on their first-seen day, returning after;
    // one user-grain first-seen aggregate + one (day, is_new) census,
    // share in exact integer ppm.
    "q_new_vs_returning" -> { (s, dir) =>
      val ev = Tables.events(s, dir)
        .select(col("user_id"),
          datediff(to_date(col("ts")), lit("1970-01-01")).cast("long").as("d"))
        .distinct()
      val firstSeen = ev.groupBy("user_id").agg(min("d").as("d0"))
      ev.join(firstSeen, "user_id")
        .withColumn("is_new", (col("d") === col("d0")).cast("long"))
        .groupBy("d")
        .agg(count(lit(1)).as("dau"),
          sum("is_new").as("n_new"))
        .select(col("d").as("day"), col("dau"), col("n_new"),
          (col("dau") - col("n_new")).as("n_returning"),
          expr("n_new * 1000000 DIV dau").as("new_ppm"))
        .orderBy("day")
    },

    // NS: peak concurrency (sweep line) — "how many sessions were open at
    // once, per hour" (Little's-law capacity planning): each 30-min-gap
    // session contributes (+1 at start, −1 just after end), and the
    // running sum of deltas IS the concurrency. The scalable spelling is
    // the distributed prefix-sum decomposition — a GLOBAL ordered window
    // would be one partition at 100 TB, so instead: per-hour delta
    // totals cumulate over the CALENDAR-bounded hour frame (the carry-in),
    // and the within-hour running sum is a window PARTITIONED BY HOUR
    // (+carry), ties ordered (t, delta desc) so arrivals count before
    // departures at the same instant. All exact integers; per-hour peak
    // is deterministic (equal-delta peers form monotone runs, so the max
    // is peer-order-invariant).
    "q_concurrency" -> { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val gapUs = unix_micros(col("ts")) - unix_micros(lag("ts", 1).over(w))
      val sessions = Tables.events(s, dir)
        .withColumn("new_sess",
          when(gapUs.isNull.or(gapUs > lit(30L * 60 * 1000000L)), 1L).otherwise(0L))
        .withColumn("sess_idx", sum("new_sess")
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "sess_idx")
        .agg(min(unix_micros(col("ts"))).as("t0"), max(unix_micros(col("ts"))).as("t1"))
      val deltas = sessions
        .select(explode(array(
          struct(col("t0").as("t"), lit(1L).as("delta")),
          struct((col("t1") + 1).as("t"), lit(-1L).as("delta")))).as("e"))
        .select(col("e.t").as("t"), col("e.delta").as("delta"))
        .withColumn("hour", expr("t DIV 3600000000"))
        .localCheckpoint(eager = false) // feeds the carry frame and the in-hour window
      val carry = deltas.groupBy("hour").agg(sum("delta").as("h_total"),
          count(lit(1)).as("n_deltas"))
        .withColumn("carry_in", coalesce(sum("h_total").over(
          Window.orderBy("hour").rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      val wh = Window.partitionBy("hour").orderBy(col("t"), col("delta").desc)
        .rowsBetween(Window.unboundedPreceding, 0)
      deltas.withColumn("run", sum("delta").over(wh))
        .groupBy("hour").agg(max("run").as("peak_in_hour"))
        .join(carry, "hour")
        // the hour's step function starts at carry_in before its first
        // delta, so a departure-only hour peaks at the boundary value
        .select(col("hour"), col("n_deltas"),
          (col("carry_in") + greatest(col("peak_in_hour"), lit(0L)))
            .as("peak_concurrency"))
        .orderBy("hour")
    },

    // NS: cohort LTV curve — q_cohort_retention's revenue sibling (the
    // "payback curve" a growth team reads): users cohorted by first-seen
    // day, cumulative revenue per cohort by age, LTV = cumulative milli
    // revenue DIV cohort size. One user-grain cohort aggregate, one
    // (cohort, age) revenue aggregate (calendar²-bounded), a cumulative
    // window over that bounded frame, all rates exact integer milli.
    "q_cohort_ltv" -> { (s, dir) =>
      val ev = Tables.events(s, dir)
        .select(col("user_id"),
          datediff(to_date(col("ts")), lit("1970-01-01")).cast("long").as("d"),
          expr("CAST(round(value * 1000) AS BIGINT)").as("v_milli"))
      val cohort = ev.groupBy("user_id").agg(min("d").as("cohort_d"))
      val sizes = cohort.groupBy("cohort_d").agg(count(lit(1)).as("n_users"))
      val rev = ev.join(cohort, "user_id")
        .withColumn("age", col("d") - col("cohort_d"))
        .filter(col("age") <= 7)
        .groupBy("cohort_d", "age")
        .agg(sum("v_milli").as("rev_milli"))
      val w = Window.partitionBy("cohort_d").orderBy("age")
        .rowsBetween(Window.unboundedPreceding, 0)
      rev.withColumn("cum_rev_milli", sum("rev_milli").over(w))
        .join(sizes, "cohort_d")
        .select(col("cohort_d"), col("age"), col("n_users"),
          col("rev_milli"), col("cum_rev_milli"),
          expr("cum_rev_milli DIV n_users").as("ltv_milli"))
        .orderBy("cohort_d", "age")
    },

    // NS: time-to-convert latency distribution — how long from first
    // click to the first purchase AFTER it, per user, summarized as
    // exact-integer-grid percentiles (the product-funnel latency SLA):
    // two per-user min-aggregates (the q_seq_pattern chain shape) give
    // each converter one integer microsecond delta; p50/p90 land on the
    // k/100-grid FLOORED (the gains-table percentile discipline).
    "q_time_to_convert" -> { (s, dir) =>
      val ev = Tables.events(s, dir)
      val firstClick = ev.filter(col("event_type") === "click")
        .groupBy("user_id").agg(min(unix_micros(col("ts"))).as("t_click"))
      val conv = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), unix_micros(col("ts")).as("t_p"))
        .join(firstClick, "user_id")
        .filter(col("t_p") >= col("t_click"))
        .groupBy("user_id").agg(max("t_click").as("t_click"), min("t_p").as("t_p"))
        .select(col("user_id"), expr("(t_p - t_click) DIV 60000000").as("delta_min"))
      conv.agg(count(lit(1)).as("n_converters"),
          expr("CAST(floor(percentile(delta_min, 0.5)) AS BIGINT)").as("p50_min"),
          expr("CAST(floor(percentile(delta_min, 0.9)) AS BIGINT)").as("p90_min"),
          max("delta_min").as("max_min"))
    },

    // ---- §2.6 sorts / limits / top-k --------------------------------------

    // Global order-by + limit -> TakeOrderedAndProjectExec: per-partition
    // top-10 then a 10-row merge on the driver, never a full global sort.
    "q_sort_limit" -> { (s, dir) =>
      Tables.orders(s, dir)
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)
        .select(col("o_orderkey"), col("o_totalprice"))
    },

    // ---- §2.7 set ops ------------------------------------------------------

    // The master's per-reducer centroid concatenation (master.py:238-247) as
    // a UNION ALL: split the iter-1 centroid means by cid parity (stand-ins
    // for per-reducer outputs R0/R1, cid % 2 routing as mapper.py:32-38)
    // and concatenate.
    "q_union_centroids" -> { (s, dir) =>
      val means = graft.kmeans.KmeansQueries.queries("q_kmeans_iter1")(s, dir)
      val r0 = means.filter(pmod(col("cid"), lit(2)) === 0)
      val r1 = means.filter(pmod(col("cid"), lit(2)) === 1)
      r0.unionByName(r1).orderBy("cid", "pos")
    },
    // Users who both clicked and purchased.
    "q_intersect" -> { (s, dir) =>
      val ev = Tables.events(s, dir)
      ev.filter(col("event_type") === "click").select("user_id")
        .intersect(ev.filter(col("event_type") === "purchase").select("user_id"))
        .orderBy("user_id")
    },
    // Users who signed up but never purchased.
    "q_except" -> { (s, dir) =>
      val ev = Tables.events(s, dir)
      ev.filter(col("event_type") === "signup").select("user_id")
        .except(ev.filter(col("event_type") === "purchase").select("user_id"))
        .orderBy("user_id")
    },
    // NS: MULTISET set ops — exceptAll/intersectAll keep duplicate counts
    // (bag semantics: click user occurrences minus purchase occurrences).
    // Spark plans both as one count-aggregate per side + a generate that
    // replays min/diff multiplicities — one shuffle each, no row-by-row
    // matching. Output aggregated per user so the frame is deterministic.
    "q_except_all" -> { (s, dir) =>
      val ev = Tables.events(s, dir)
      ev.filter(col("event_type") === "click").select("user_id")
        .exceptAll(ev.filter(col("event_type") === "purchase").select("user_id"))
        .groupBy("user_id").agg(count(lit(1)).as("n_residual"))
        .orderBy("user_id")
    },
    "q_intersect_all" -> { (s, dir) =>
      val ev = Tables.events(s, dir)
      ev.filter(col("event_type") === "click").select("user_id")
        .intersectAll(ev.filter(col("event_type") === "purchase").select("user_id"))
        .groupBy("user_id").agg(count(lit(1)).as("n_common"))
        .orderBy("user_id")
    },

    // NS: first-order Markov transition matrix over per-user event
    // journeys — the product-analytics "where do users go next" read and
    // the generative model behind journey simulation: lead() within the
    // (ts, event_id)-ordered user stream pairs each event with its
    // successor, one bounded |types|² aggregate counts transitions, and
    // the row-conditional probability is exact integer ppm. One user-key
    // shuffle (the sessionize window), nothing row-scale after the
    // transition aggregate.
    "q_markov_transitions" -> { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val trans = Tables.events(s, dir)
        .withColumn("nxt", lead("event_type", 1).over(w))
        .filter(col("nxt").isNotNull)
        .groupBy(col("event_type").as("cur"), col("nxt"))
        .agg(count(lit(1)).as("n"))
        // |types|^2-bounded; materialized so the totals branch and the
        // join don't each replay the user-key window over the corpus
        // (plan-pinned: exactly one user_id shuffle)
        .localCheckpoint(eager = false)
      val totals = trans.groupBy("cur").agg(sum("n").as("n_cur"))
      trans.join(broadcast(totals), "cur")
        .select(col("cur"), col("nxt"), col("n"),
          expr("n * 1000000 DIV n_cur").as("p_ppm"))
        .orderBy("cur", "nxt")
    },

    // NS: day-over-day audience overlap — the stickiness read between
    // q_cohort_retention (first-touch cohorts) and q_wau_sliding
    // (window distinct): consecutive-day DAU Jaccard and next-day
    // return rate. The stream dedups to the (day, user) frame once; the
    // overlap is a USER-key equi-join of that frame against its day+1
    // shift (co-partitioned on the same key — never day×day), sizes
    // join back on the day key, every rate an exact integer ppm.
    "q_dau_overlap" -> { (s, dir) =>
      val du = Tables.events(s, dir)
        .select(datediff(to_date(col("ts")), lit("1970-01-01")).cast("long").as("d"),
          col("user_id")).distinct()
        .localCheckpoint(eager = false) // feeds sizes and both sides of the shift join
      val sizes = du.groupBy("d").agg(count(lit(1)).as("dau"))
      val both = du.select(col("d"), col("user_id"))
        .join(du.select((col("d") - 1).as("d"), col("user_id")), Seq("d", "user_id"))
        .groupBy("d").agg(count(lit(1)).as("n_both"))
      sizes
        .join(sizes.select((col("d") - 1).as("d"), col("dau").as("dau_next")), "d")
        .join(both, Seq("d"), "left_outer")
        .na.fill(0L, Seq("n_both"))
        .select(col("d").as("day"), col("dau"), col("dau_next"), col("n_both"),
          expr("n_both * 1000000 DIV (dau + dau_next - n_both)").as("jaccard_ppm"),
          expr("n_both * 1000000 DIV dau").as("return_ppm"))
        .orderBy("day")
    }
  )

  def oracleSql: Map[String, String] = Map(
    "q_window_distinct" ->
      """WITH fs AS (
        |  SELECT event_type, user_id,
        |         CAST(min(CAST(ts AS DATE) - DATE '1994-12-26') AS BIGINT) AS first_day
        |  FROM events GROUP BY 1, 2),
        |d AS (SELECT event_type, first_day, count(*) AS new_users FROM fs GROUP BY 1, 2)
        |SELECT event_type, first_day AS day, new_users,
        |       CAST(sum(new_users) OVER (PARTITION BY event_type ORDER BY first_day
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_users
        |FROM d ORDER BY event_type, day""".stripMargin,
    "q_window_rank" ->
      """SELECT o_custkey, CAST(rn AS BIGINT) AS rn, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) t
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,
    "q_window_running" ->
      """SELECT event_id, user_id,
        |       round(sum(value) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
        |                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS running_value
        |FROM events ORDER BY event_id""".stripMargin,
    "q_window_funcs" ->
      """SELECT o_custkey, o_orderkey,
        |       CAST(dense_rank() OVER w AS BIGINT) AS drank,
        |       CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |       first_value(o_orderkey) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS best_order,
        |       last_value(o_orderkey) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS worst_order
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
        |ORDER BY o_custkey, drank, o_orderkey""".stripMargin,
    "q_window_lag" ->
      """SELECT event_id,
        |       CAST(epoch_us(CAST(ts AS TIMESTAMP)) -
        |            epoch_us(lag(CAST(ts AS TIMESTAMP), 1) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id))
        |            AS BIGINT) AS gap_us
        |FROM events ORDER BY event_id""".stripMargin,
    "q_window_pctrank" ->
      """SELECT o_orderstatus, o_orderkey,
        |       round(percent_rank() OVER (PARTITION BY o_orderstatus
        |             ORDER BY o_totalprice, o_orderkey), 9) AS pct_rank,
        |       round(cume_dist() OVER (PARTITION BY o_orderstatus
        |             ORDER BY o_totalprice, o_orderkey), 9) AS cume
        |FROM orders ORDER BY o_orderstatus, o_orderkey""".stripMargin,
    "q_window_range_frame" ->
      """SELECT event_id, user_id,
        |       round(sum(value) OVER (
        |         PARTITION BY user_id ORDER BY epoch_us(CAST(ts AS TIMESTAMP))
        |         RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW), 6) AS trailing_1h_value
        |FROM events ORDER BY event_id""".stripMargin,
    "q_sessionize" ->
      """WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
        |g AS (SELECT *, epoch_us(ts) - epoch_us(lag(ts, 1)
        |        OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS gap_us FROM e),
        |s AS (SELECT *, sum(CASE WHEN gap_us IS NULL OR gap_us > 1800000000 THEN 1 ELSE 0 END)
        |        OVER (PARTITION BY user_id ORDER BY ts, event_id
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_idx
        |      FROM g)
        |SELECT user_id, CAST(sess_idx AS BIGINT) AS sess_idx,
        |       min(epoch_us(ts)) AS sess_start_us,
        |       count(*) AS n_events, round(sum(value), 6) AS sum_value
        |FROM s GROUP BY user_id, sess_idx ORDER BY user_id, sess_idx""".stripMargin,
    "q_audience_overlap" ->
      """WITH ut AS (SELECT DISTINCT user_id AS u, event_type AS t FROM events),
        |sizes AS (SELECT t, count(*) AS n FROM ut GROUP BY 1),
        |pairs AS (SELECT a.t AS ta, b.t AS tb, count(*) AS n_both
        |          FROM ut a JOIN ut b ON a.u = b.u AND a.t < b.t
        |          GROUP BY 1, 2)
        |SELECT ta, tb, sa.n AS n_a, sb.n AS n_b, n_both,
        |       CAST(n_both * 1000000 // (sa.n + sb.n - n_both) AS BIGINT) AS jaccard_ppm
        |FROM pairs
        |JOIN sizes sa ON sa.t = ta
        |JOIN sizes sb ON sb.t = tb
        |ORDER BY ta, tb""".stripMargin,
    "q_bitmap_distinct" ->
      """WITH e AS (SELECT event_type, user_id FROM events),
        |bm AS (SELECT event_type, user_id // 62 AS wi,
        |              bit_or(CAST(1 AS BIGINT) << CAST(user_id % 62 AS INT)) AS bits
        |       FROM e GROUP BY 1, 2),
        |agg AS (SELECT event_type,
        |               CAST(sum(bit_count(bits)) AS BIGINT) AS n_bitmap,
        |               count(*) AS n_words
        |        FROM bm GROUP BY 1),
        |ex AS (SELECT event_type, count(DISTINCT user_id) AS n_exact FROM e GROUP BY 1)
        |SELECT event_type, n_exact, n_bitmap, n_words,
        |       CAST(CASE WHEN n_bitmap = n_exact THEN 1 ELSE 0 END AS BIGINT) AS bitmap_ok
        |FROM agg JOIN ex USING (event_type)
        |ORDER BY event_type""".stripMargin,
    // same lag/gap session rebuild, collapsed to the capped depth histogram
    "q_session_metrics" ->
      """WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |g AS (SELECT *, epoch_us(ts) - epoch_us(lag(ts, 1)
        |        OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS gap_us FROM e),
        |s AS (SELECT *, sum(CASE WHEN gap_us IS NULL OR gap_us > 1800000000 THEN 1 ELSE 0 END)
        |        OVER (PARTITION BY user_id ORDER BY ts, event_id
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_idx
        |      FROM g),
        |sess AS (SELECT user_id, sess_idx, count(*) AS n_events
        |         FROM s GROUP BY 1, 2),
        |hist AS (SELECT least(n_events, 10) AS depth, count(*) AS n_sessions_at_depth
        |         FROM sess GROUP BY 1),
        |tot AS (SELECT CAST(sum(n_sessions_at_depth) AS BIGINT) AS n_sessions,
        |               CAST(sum(CASE WHEN depth = 1 THEN n_sessions_at_depth ELSE 0 END) AS BIGINT) AS n_bounces
        |        FROM hist)
        |SELECT depth, n_sessions_at_depth, n_sessions,
        |       CAST(n_bounces * 1000000 // n_sessions AS BIGINT) AS bounce_ppm
        |FROM hist CROSS JOIN tot
        |ORDER BY depth""".stripMargin,
    "q_attribution" ->
      """WITH base AS (SELECT user_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |                     CASE WHEN event_type = 'click'
        |                          THEN epoch_us(CAST(ts AS TIMESTAMP)) END AS click_us
        |              FROM events WHERE event_type IN ('click', 'purchase')),
        |wnd AS (SELECT *,
        |               max(click_us) OVER (PARTITION BY user_id ORDER BY us
        |                 RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_click,
        |               min(click_us) OVER (PARTITION BY user_id ORDER BY us
        |                 RANGE BETWEEN 3600000000 PRECEDING AND 1 PRECEDING) AS first_1h
        |        FROM base)
        |SELECT count(*) AS n_purchases,
        |       CAST(sum(CASE WHEN last_click IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS last_touch_attributed,
        |       CAST(sum(CASE WHEN first_1h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS first_touch_1h_attributed,
        |       round(avg((us - last_click) / 1e6), 6) AS avg_gap_s
        |FROM wnd WHERE event_type = 'purchase'""".stripMargin,
    "q_funnel" ->
      """WITH e AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |fc AS (SELECT user_id, min(ts) AS first_click FROM e
        |       WHERE event_type = 'click' GROUP BY user_id),
        |conv AS (SELECT DISTINCT p.user_id FROM e p JOIN fc ON p.user_id = fc.user_id
        |         WHERE p.event_type = 'purchase'
        |           AND p.ts > fc.first_click AND p.ts <= fc.first_click + INTERVAL 1 HOUR),
        |u AS (SELECT DISTINCT user_id FROM e),
        |st AS (SELECT CASE WHEN fc.user_id IS NULL THEN 0
        |                   WHEN conv.user_id IS NOT NULL THEN 2
        |                   ELSE 1 END AS stage
        |       FROM u LEFT JOIN fc ON u.user_id = fc.user_id
        |              LEFT JOIN conv ON u.user_id = conv.user_id)
        |SELECT CAST(stage AS BIGINT) AS stage, count(*) AS n_users
        |FROM st GROUP BY stage ORDER BY stage""".stripMargin,
    "q_cohort_retention" ->
      """WITH e AS (SELECT user_id, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h FROM events),
        |c AS (SELECT user_id, min(h) AS cohort_h FROM e GROUP BY user_id),
        |o AS (SELECT e.user_id, c.cohort_h,
        |             (epoch_us(e.h) - epoch_us(c.cohort_h)) // 3600000000 AS offset_h
        |      FROM e JOIN c ON e.user_id = c.user_id)
        |SELECT cohort_h, CAST(offset_h AS BIGINT) AS offset_h,
        |       count(DISTINCT user_id) AS n_users
        |FROM o WHERE offset_h <= 3
        |GROUP BY cohort_h, offset_h ORDER BY cohort_h, offset_h""".stripMargin,
    // identical micro-nat ln ledger, exact OLS sums, guarded IEEE slope
    "q_retention_fit" ->
      """WITH e AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events),
        |c AS (SELECT user_id, min(day) AS c0 FROM e GROUP BY 1),
        |act AS (SELECT DISTINCT e.user_id, e.day - c.c0 AS d
        |        FROM e JOIN c ON e.user_id = c.user_id
        |        WHERE e.day - c.c0 BETWEEN 1 AND 7),
        |n0 AS (SELECT CAST(count(*) AS BIGINT) AS n0 FROM c),
        |pts AS (SELECT CAST(d AS BIGINT) AS d,
        |               CAST(round(ln(CAST(count(*) AS DOUBLE) / CAST(n0.n0 AS DOUBLE))
        |                 * 1000000) AS BIGINT) AS y
        |        FROM act CROSS JOIN n0 GROUP BY d, n0.n0),
        |s AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |             coalesce(CAST(sum(d) AS BIGINT), 0) AS sd,
        |             coalesce(CAST(sum(y) AS BIGINT), 0) AS sy,
        |             coalesce(CAST(sum(d * d) AS BIGINT), 0) AS sdd,
        |             coalesce(CAST(sum(d * y) AS BIGINT), 0) AS sdy
        |      FROM pts),
        |sl AS (SELECT n,
        |              CASE WHEN CAST(n AS DOUBLE) * CAST(sdd AS DOUBLE)
        |                        - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE) = 0.0e0 THEN 0.0e0
        |                   ELSE (CAST(n AS DOUBLE) * CAST(sdy AS DOUBLE)
        |                         - CAST(sd AS DOUBLE) * CAST(sy AS DOUBLE))
        |                        / (CAST(n AS DOUBLE) * CAST(sdd AS DOUBLE)
        |                           - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE)) END AS slope_d
        |       FROM s)
        |SELECT n0.n0 AS cohort_users, sl.n AS n_points,
        |       CAST(floor(slope_d) AS BIGINT) AS slope_micro_per_day,
        |       CASE WHEN slope_d >= 0.0e0 THEN CAST(0 AS BIGINT)
        |            ELSE CAST(floor(0.6931471805599453e0 / (-slope_d / 1000000.0e0)
        |              * 1000.0e0) AS BIGINT) END AS half_life_milli_days,
        |       CAST(slope_d >= 0.0e0 AS BIGINT) AS no_decay
        |FROM sl CROSS JOIN n0""".stripMargin,
    "q_sort_limit" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,
    // The parity-split UNION ALL reassembles exactly the iter-1 means, so the
    // iter-1 oracle (already ordered by cid, pos) checks it directly.
    "q_union_centroids" -> graft.kmeans.KmeansQueries.oracleSql("q_kmeans_iter1"),
    "q_intersect" ->
      """SELECT user_id FROM events WHERE event_type = 'click'
        |INTERSECT
        |SELECT user_id FROM events WHERE event_type = 'purchase'
        |ORDER BY user_id""".stripMargin,
    "q_except" ->
      """SELECT user_id FROM events WHERE event_type = 'signup'
        |EXCEPT
        |SELECT user_id FROM events WHERE event_type = 'purchase'
        |ORDER BY user_id""".stripMargin,
    "q_except_all" ->
      """WITH r AS (
        |  SELECT user_id FROM events WHERE event_type = 'click'
        |  EXCEPT ALL
        |  SELECT user_id FROM events WHERE event_type = 'purchase')
        |SELECT user_id, count(*) AS n_residual
        |FROM r GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_intersect_all" ->
      """WITH r AS (
        |  SELECT user_id FROM events WHERE event_type = 'click'
        |  INTERSECT ALL
        |  SELECT user_id FROM events WHERE event_type = 'purchase')
        |SELECT user_id, count(*) AS n_common
        |FROM r GROUP BY user_id ORDER BY user_id""".stripMargin,
    // identical (ts, event_id) total order inside each user stream
    "q_markov_transitions" ->
      """WITH s AS (
        |  SELECT event_type AS cur,
        |         lead(event_type) OVER (PARTITION BY user_id
        |                                ORDER BY ts, event_id) AS nxt
        |  FROM events),
        |t AS (SELECT cur, nxt, count(*) AS n FROM s WHERE nxt IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT cur, CAST(sum(n) AS BIGINT) AS n_cur FROM t GROUP BY 1)
        |SELECT t.cur, t.nxt, t.n, t.n * 1000000 // tot.n_cur AS p_ppm
        |FROM t JOIN tot USING (cur)
        |ORDER BY cur, nxt""".stripMargin,
    // same first-3 trim and path census
    "q_top_paths" ->
      """WITH e AS (
        |  SELECT user_id, event_type,
        |         row_number() OVER (PARTITION BY user_id
        |           ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn
        |  FROM events),
        |p AS (SELECT user_id, count(*) AS n_steps,
        |             array_to_string(list(event_type ORDER BY rn), '>') AS path
        |      FROM e WHERE rn <= 3 GROUP BY user_id),
        |c AS (SELECT path, CAST(count(*) AS BIGINT) AS n_users
        |      FROM p WHERE n_steps = 3 GROUP BY 1),
        |t AS (SELECT CAST(sum(n_users) AS BIGINT) AS tt FROM c)
        |SELECT path, n_users, n_users * 1000000 // t.tt AS share_ppm
        |FROM c CROSS JOIN t ORDER BY n_users DESC, path LIMIT 5""".stripMargin,
    // same first-seen grain and integer shares
    "q_new_vs_returning" ->
      """WITH ev AS (
        |  SELECT DISTINCT user_id,
        |         date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d
        |  FROM events),
        |fs AS (SELECT user_id, min(d) AS d0 FROM ev GROUP BY user_id)
        |SELECT ev.d AS day, CAST(count(*) AS BIGINT) AS dau,
        |       CAST(sum(CASE WHEN ev.d = fs.d0 THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
        |       CAST(count(*) - sum(CASE WHEN ev.d = fs.d0 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_returning,
        |       CAST(sum(CASE WHEN ev.d = fs.d0 THEN 1 ELSE 0 END) AS BIGINT)
        |         * 1000000 // count(*) AS new_ppm
        |FROM ev JOIN fs USING (user_id)
        |GROUP BY ev.d ORDER BY day""".stripMargin,
    // identical session intervals, delta points and carry decomposition
    "q_concurrency" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS tus,
        |         CAST(ts AS TIMESTAMP) AS ts
        |  FROM events),
        |m AS (SELECT user_id, event_id, ts, tus,
        |             tus - lag(tus) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
        |      FROM e),
        |c AS (SELECT user_id, tus,
        |             CAST(sum(CASE WHEN gap IS NULL OR gap > 30 * 60 * 1000000
        |                           THEN 1 ELSE 0 END)
        |               OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_idx
        |      FROM m),
        |sess AS (SELECT user_id, sess_idx, CAST(min(tus) AS BIGINT) AS t0,
        |                CAST(max(tus) AS BIGINT) AS t1
        |         FROM c GROUP BY 1, 2),
        |d AS (SELECT t0 AS t, CAST(1 AS BIGINT) AS delta FROM sess
        |      UNION ALL SELECT t1 + 1, CAST(-1 AS BIGINT) FROM sess),
        |dh AS (SELECT t, delta, t // 3600000000 AS hour FROM d),
        |carry AS (
        |  SELECT hour, CAST(count(*) AS BIGINT) AS n_deltas,
        |         coalesce(CAST(sum(sum(delta)) OVER (ORDER BY hour
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS carry_in
        |  FROM dh GROUP BY hour),
        |run AS (
        |  SELECT hour,
        |         CAST(max(s) AS BIGINT) AS peak_in_hour
        |  FROM (SELECT hour, CAST(sum(delta) OVER (PARTITION BY hour
        |          ORDER BY t, delta DESC
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS s
        |        FROM dh)
        |  GROUP BY hour)
        |SELECT run.hour, carry.n_deltas,
        |       carry.carry_in + greatest(run.peak_in_hour, 0) AS peak_concurrency
        |FROM run JOIN carry USING (hour)
        |ORDER BY run.hour""".stripMargin,
    // identical cohort grain, age cap and integer milli rates
    "q_cohort_ltv" ->
      """WITH ev AS (
        |  SELECT user_id, date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
        |         CAST(round(value * 1000) AS BIGINT) AS v_milli
        |  FROM events),
        |cohort AS (SELECT user_id, CAST(min(d) AS BIGINT) AS cohort_d FROM ev GROUP BY user_id),
        |sizes AS (SELECT cohort_d, CAST(count(*) AS BIGINT) AS n_users FROM cohort GROUP BY 1),
        |rev AS (
        |  SELECT c.cohort_d, e.d - c.cohort_d AS age,
        |         CAST(sum(e.v_milli) AS BIGINT) AS rev_milli
        |  FROM ev e JOIN cohort c USING (user_id)
        |  WHERE e.d - c.cohort_d <= 7
        |  GROUP BY 1, 2),
        |cum AS (
        |  SELECT cohort_d, age, rev_milli,
        |         CAST(sum(rev_milli) OVER (PARTITION BY cohort_d ORDER BY age
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_rev_milli
        |  FROM rev)
        |SELECT cum.cohort_d, CAST(cum.age AS BIGINT) AS age, sizes.n_users,
        |       cum.rev_milli, cum.cum_rev_milli,
        |       cum.cum_rev_milli // sizes.n_users AS ltv_milli
        |FROM cum JOIN sizes USING (cohort_d)
        |ORDER BY cohort_d, age""".stripMargin,
    // same two min-aggregates and floored integer-grid percentiles
    "q_time_to_convert" ->
      """WITH fc AS (
        |  SELECT user_id, CAST(min(epoch_us(CAST(ts AS TIMESTAMP))) AS BIGINT) AS t_click
        |  FROM events WHERE event_type = 'click' GROUP BY user_id),
        |conv AS (
        |  SELECT e.user_id,
        |         (min(epoch_us(CAST(e.ts AS TIMESTAMP))) - max(fc.t_click)) // 60000000 AS delta_min
        |  FROM events e JOIN fc ON fc.user_id = e.user_id
        |  WHERE e.event_type = 'purchase'
        |    AND epoch_us(CAST(e.ts AS TIMESTAMP)) >= fc.t_click
        |  GROUP BY e.user_id)
        |SELECT CAST(count(*) AS BIGINT) AS n_converters,
        |       CAST(floor(quantile_cont(delta_min, 0.5)) AS BIGINT) AS p50_min,
        |       CAST(floor(quantile_cont(delta_min, 0.9)) AS BIGINT) AS p90_min,
        |       CAST(max(delta_min) AS BIGINT) AS max_min
        |FROM conv""".stripMargin,
    // same (day, user) dedup and day+1 shift join
    "q_dau_overlap" ->
      """WITH du AS (
        |  SELECT DISTINCT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
        |         user_id
        |  FROM events),
        |sizes AS (SELECT d, CAST(count(*) AS BIGINT) AS dau FROM du GROUP BY d),
        |b AS (SELECT a.d, CAST(count(*) AS BIGINT) AS n_both
        |      FROM du a JOIN du n ON n.user_id = a.user_id AND n.d = a.d + 1
        |      GROUP BY a.d)
        |SELECT s.d AS day, s.dau, sn.dau AS dau_next,
        |       coalesce(b.n_both, 0) AS n_both,
        |       coalesce(b.n_both, 0) * 1000000
        |         // (s.dau + sn.dau - coalesce(b.n_both, 0)) AS jaccard_ppm,
        |       coalesce(b.n_both, 0) * 1000000 // s.dau AS return_ppm
        |FROM sizes s
        |JOIN sizes sn ON sn.d = s.d + 1
        |LEFT JOIN b ON b.d = s.d
        |ORDER BY day""".stripMargin
  )
}
