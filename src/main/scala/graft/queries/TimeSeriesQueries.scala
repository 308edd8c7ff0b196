package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Hash, Tables}

/** Time-series operators over the events stream table (north-star
  * surface — the feature-engineering shapes a telemetry/training pipeline
  * runs): regular-grid resampling with fill, SCD-2 history construction,
  * and time-weighted averaging.
  *
  * Scale notes: every query here shuffles ONCE on user_id and then works
  * inside the partition (windows ordered by (ts, event_id) — a total order,
  * so results are exactly reproducible). The resample spine is generated
  * per user with `sequence` (rows ∝ users × hours — the grid, not the raw
  * event count) and joined back on the SAME user_id partitioning, so
  * spine+join+fill is one co-partitioned pipeline.
  */
object TimeSeriesQueries extends graft.SparkEntry.Module {

  /** q_pacf shared SQL fragments — identical strings compile in Spark and
    * replay in DuckDB (the q_ab_bayes discipline): lag-k Pearson r from
    * EXACT BIGINT sufficient statistics (the products form in DOUBLE —
    * register choice, not approximation: n·Σxy would overflow BIGINT once
    * daily counts pass ~4e8), then the Durbin–Levinson recursion to lag 3
    * as a fixed IEEE tree with zero-variance/zero-denominator branches
    * pinned to 0.0 on both engines (the q_logrank totality discipline).
    */
  def PacfRSql(k: Int): String = {
    def D(c: String) = s"CAST($c$k AS DOUBLE)"
    val vx = s"(${D("n")} * ${D("sxx")} - ${D("sx")} * ${D("sx")})"
    val vy = s"(${D("n")} * ${D("syy")} - ${D("sy")} * ${D("sy")})"
    s"CASE WHEN n$k = 0 OR $vx * $vy <= 0.0e0 THEN 0.0e0 " +
      s"ELSE (${D("n")} * ${D("sxy")} - ${D("sx")} * ${D("sy")}) / sqrt($vx * $vy) END"
  }
  val Pacf22Sql: String =
    "CASE WHEN 1.0e0 - r1 * r1 = 0.0e0 THEN 0.0e0 " +
      "ELSE (r2 - r1 * r1) / (1.0e0 - r1 * r1) END"
  val Pacf33Sql: String =
    "CASE WHEN 1.0e0 - p21 * r1 - p22 * r2 = 0.0e0 THEN 0.0e0 " +
      "ELSE (r3 - p21 * r2 - p22 * r1) / (1.0e0 - p21 * r1 - p22 * r2) END"

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // NS: partial autocorrelation to lag 3 — the AR-order diagnostic
    // beside q_autocorr's plain ACF (PACF cutting off at p is THE
    // fingerprint of an AR(p) series; ACF alone can't separate direct
    // from propagated correlation). The corpus reduces to the daily count
    // series (calendar-bounded), each lag's Pearson r comes from one
    // exact-integer pair aggregate, and the Durbin–Levinson recursion is
    // a fixed 1-row IEEE tree over the three r's — no iteration, no
    // windows, nothing row-scale past the daily reduce.
    "q_pacf" -> { (s, dir) =>
      val daily = Tables.events(s, dir)
        .groupBy(to_date(col("ts")).as("day")).agg(count(lit(1)).as("y"))
        .withColumn("d", datediff(col("day"), lit("1970-01-01")).cast("long"))
        .select("d", "y").localCheckpoint(eager = false) // calendar-bounded; feeds 3 lag joins
      def lagStats(k: Int) = daily
        .join(daily.select((col("d") + k).as("d"), col("y").as("yp")), "d")
        .agg(count(lit(1)).as(s"n$k"),
          coalesce(sum("y"), lit(0L)).as(s"sx$k"),
          coalesce(sum("yp"), lit(0L)).as(s"sy$k"),
          coalesce(sum(col("y") * col("y")), lit(0L)).as(s"sxx$k"),
          coalesce(sum(col("yp") * col("yp")), lit(0L)).as(s"syy$k"),
          coalesce(sum(col("y") * col("yp")), lit(0L)).as(s"sxy$k"))
      daily.agg(count(lit(1)).as("n_days"))
        .crossJoin(broadcast(lagStats(1)))
        .crossJoin(broadcast(lagStats(2)))
        .crossJoin(broadcast(lagStats(3)))
        .withColumn("r1", expr(PacfRSql(1)))
        .withColumn("r2", expr(PacfRSql(2)))
        .withColumn("r3", expr(PacfRSql(3)))
        .withColumn("p22", expr(Pacf22Sql))
        .withColumn("p21", expr("r1 - p22 * r1"))
        .withColumn("p33", expr(Pacf33Sql))
        .select(col("n_days"),
          (round(col("r1"), 6) + lit(0.0)).as("acf1"),
          (round(col("r2"), 6) + lit(0.0)).as("acf2"),
          (round(col("r3"), 6) + lit(0.0)).as("acf3"),
          (round(col("r1"), 6) + lit(0.0)).as("pacf1"),
          (round(col("p22"), 6) + lit(0.0)).as("pacf2"),
          (round(col("p33"), 6) + lit(0.0)).as("pacf3"))
    },

    // NS: resample to a 1-hour grid per user — the irregular event stream
    // becomes a regular time series: per-hour event counts and last
    // observation, hours with no events gap-filled by carrying the last
    // observation forward. Deterministic "last in hour" = max over
    // (ts, event_id, value) structs (the (ts, event_id) pair is unique).
    // NS: autocorrelation of the hourly event-count series at lags 1, 24
    // and 168 — the seasonality detector (a strong lag-24 ACF says "daily
    // cycle", lag-168 "weekly") that decides whether q_seasonal_profile's
    // baseline is even applicable. The corpus reduces ONCE to the bounded
    // hourly census (hours-since-origin integer key); each lag is an
    // equi-join of that tiny series against its shifted self, and Pearson
    // corr folds over series-length rows (engine corr over exact integer
    // counts, rounded at 6 — the bounded-frame float discipline).
    "q_autocorr" -> { (s, dir) =>
      val series = Tables.events(s, dir)
        .select((unix_micros(col("ts")) / lit(3600000000L)).cast("long").as("hi"))
        .groupBy("hi").agg(count(lit(1)).as("n"))
      val lags = Seq(1L, 24L, 168L)
      lags.map { l =>
        series.as("a")
          .join(series.select((col("hi") + l).as("hi"), col("n").as("n_prev")), "hi")
          .agg(lit(l).as("lag"), count(lit(1)).as("n_pairs"),
            round(corr(col("n").cast("double"), col("n_prev").cast("double")), 6)
              .as("acf"))
      }.reduce(_ unionByName _)
        .orderBy("lag")
    },

    // NS: Kaplan–Meier survival over user activity lifetimes — the churn
    // curve (time from first to last activity), with REAL right-censoring:
    // users still active within 7 days of the observation end have
    // unknown lifetimes and contribute at-risk mass but no death. The
    // corpus reduces to one row per user (day-integer first/last), then
    // to the capped duration grid (≤31 rows — the bounded-histogram
    // discipline; lifetimes beyond 30 days lump into the cap); at-risk
    // counts are a reverse cumulative window over the grid, and
    // S(t) = Π(1 − d/n) folds as exp(Σ ln) over ≤31 exact-ratio terms
    // (zero factors short-circuited by an explicit flag, not by ±Inf
    // arithmetic the engines may disagree on). Deaths/at-risk/censored
    // are exact integers; survival rounds at 6.
    "q_survival_km" -> { (s, dir) =>
      val e = Tables.events(s, dir)
        .select(col("user_id"), datediff(to_date(col("ts")), lit("1994-12-26")).as("d"))
      val mx = e.agg(max("d").as("dmax"))
      val users = e.groupBy("user_id").agg(min("d").as("d0"), max("d").as("d1"))
        .crossJoin(broadcast(mx))
        .select(least(col("d1") - col("d0"), lit(30)).as("t"),
          (col("d1") > col("dmax") - 7).cast("long").as("censored"))
      val grid = users.groupBy("t")
        .agg(count(lit(1)).as("n_ended_at_t"),
          sum(lit(1L) - col("censored")).as("n_deaths"),
          sum("censored").as("n_censored"))
      val wRisk = Window.orderBy(col("t"))
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val wSurv = Window.orderBy(col("t"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val withRisk = grid.withColumn("n_at_risk", sum("n_ended_at_t").over(wRisk))
      val dead = col("n_deaths").cast("double")
      val risk = col("n_at_risk").cast("double")
      withRisk
        .withColumn("zero_flag",
          max((col("n_deaths") === col("n_at_risk")).cast("long")).over(wSurv))
        .withColumn("log_s",
          sum(when(col("n_deaths") < col("n_at_risk"), log(lit(1.0) - dead / risk))
            .otherwise(lit(0.0))).over(wSurv))
        .select(col("t").cast("long").as("t"), col("n_at_risk"), col("n_deaths"),
          col("n_censored"),
          when(col("zero_flag") === 1L, lit(0.0))
            .otherwise(round(exp(col("log_s")), 6)).as("survival"))
        .orderBy("t")
    },

    // NS: log-rank test — the hypothesis test q_survival_km plots lead
    // to ("do the two arms' survival curves differ?"): md5-assigned
    // variants over the SAME duration/censoring construction, the
    // classic O−E statistic over the bounded event-time grid (≤31
    // distinct durations): O = Σ d₁ exact integer, E = Σ d·n₁/n and the
    // hypergeometric V = Σ d·(n₁/n)(1−n₁/n)(n−d)/(n−1) folded over that
    // bounded frame (the nDCG small-frame float precedent), chi² =
    // (O−E)²/V rounded 4dp with the df=1 95% verdict.
    "q_logrank" -> { (s, dir) =>
      val e = Tables.events(s, dir)
        .select(col("user_id"), datediff(to_date(col("ts")), lit("1994-12-26")).as("d"))
      val mx = e.agg(max("d").as("dmax"))
      val users = e.groupBy("user_id").agg(min("d").as("d0"), max("d").as("d1"))
        .crossJoin(broadcast(mx))
        .select(col("user_id"),
          least(col("d1") - col("d0"), lit(30)).cast("long").as("t"),
          (col("d1") > col("dmax") - 7).cast("long").as("censored"))
        .withColumn("g", pmod(Hash.prefix(concat(lit("lr:"), col("user_id"))), lit(2L)))
      val ends = users.groupBy("g", "t")
        .agg(count(lit(1)).as("n_ended"), sum(lit(1L) - col("censored")).as("deaths"))
      val tGrid = ends.select("t").distinct()
        .crossJoin(broadcast(s.createDataFrame(Seq(Tuple1(0L), Tuple1(1L))).toDF("g")))
      val filled = tGrid.join(ends, Seq("g", "t"), "left_outer")
        .na.fill(0L, Seq("n_ended", "deaths"))
      val wRisk = Window.partitionBy("g").orderBy("t")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val risk = filled.withColumn("at_risk", sum("n_ended").over(wRisk))
      val byT = risk.groupBy("t")
        .agg(sum(when(col("g") === 1, col("at_risk")).otherwise(0L)).as("n1"),
          sum(when(col("g") === 1, col("deaths")).otherwise(0L)).as("d1"),
          sum("at_risk").as("n"), sum("deaths").as("d"))
        .filter(col("d") > 0 && col("n") > 1)
      def D(c: String) = col(c).cast("double")
      val terms = byT.agg(
        sum("d1").as("o1"),
        sum(D("d") * D("n1") / D("n")).as("e1"),
        sum(D("d") * (D("n1") / D("n")) * (lit(1.0) - D("n1") / D("n")) *
          (D("n") - D("d")) / (D("n") - 1.0)).as("v"),
        count(lit(1)).as("n_times"))
      // totality: a fully-censored cohort (the sf0.001 fixture — every
      // user active inside dmax−7) leaves ZERO deaths, so the d>0 filter
      // empties byT and the fold aggregates go NULL. Pin the degenerate
      // frame to zeros on both engines (the q_benford discipline) so NULL
      // never escapes and the verdict is a definite 0.
      terms.select(col("n_times"), coalesce(col("o1"), lit(0L)).as("o1"),
          round(coalesce(col("e1"), lit(0.0)), 4).as("e1"),
          round(coalesce(col("v"), lit(0.0)), 4).as("v"),
          // a fully-tied duration distribution degenerates V to 0 (the
          // sf0.001 fixture does) — pin chi2 to 0 instead of NaN; the
          // coalesce also covers the empty-frame NULL v
          when(coalesce(col("v"), lit(0.0)) <= 0.0, lit(0.0))
            .otherwise(round((col("o1").cast("double") - col("e1")) *
              (col("o1").cast("double") - col("e1")) / col("v"), 4)).as("chi2"))
        .withColumn("curves_differ", (col("chi2") > 3.841459).cast("long"))
    },

    // NS: seasonal-naive forecast BACKTEST — the eval loop q_seasonal_profile
    // feeds (is the hour-of-week baseline actually predictive?): hold out
    // the final 7 calendar days, predict each test (type, dow, hour) cell
    // from the train period's per-observed-day mean for that cell, and
    // score MAE — the backtesting discipline every forecast monitor needs.
    // The time split derives from max(ts) (1-row broadcast, deterministic
    // from data); both sides collapse to the bounded hour-of-week grid
    // (the only row-scale shuffle), and EVERY verdict is exact integer
    // arithmetic: predictions are x100 fixed-point via integer DIV
    // (total·100 DIV days-observed), errors are |integer − integer|,
    // MAE is one final integer division. Cold cells (no train history)
    // are counted, not silently zero-filled away.
    "q_backtest_naive" -> { (s, dir) =>
      val origin = lit("1994-12-26")
      val e = Tables.events(s, dir)
        .select(col("event_type"),
          datediff(to_date(col("ts")), origin).as("d"), hour(col("ts")).as("hr"))
      val mx = e.agg(max("d").as("dmax"))
      val withSplit = e.crossJoin(broadcast(mx))
      val train = withSplit.filter(col("d") <= col("dmax") - 7)
        .groupBy(col("event_type"), pmod(col("d"), lit(7)).as("dow"), col("hr"))
        .agg(count(lit(1)).as("cnt"), countDistinct("d").as("n_days"))
      val test = withSplit.filter(col("d") > col("dmax") - 7)
        .groupBy(col("event_type"), pmod(col("d"), lit(7)).as("dow"), col("hr"))
        .agg(count(lit(1)).as("cnt_test"))
      test.join(train, Seq("event_type", "dow", "hr"), "left")
        .select(col("event_type"), col("cnt_test"),
          coalesce(expr("cnt * 100 DIV n_days"), lit(0L)).as("pred_x100"),
          col("n_days").isNull.cast("long").as("cold"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_cells"),
          sum("cold").as("n_cold_cells"),
          sum("cnt_test").as("test_events"),
          sum("pred_x100").as("pred_total_x100"),
          expr("sum(abs(cnt_test * 100 - pred_x100)) DIV count(1)").as("mae_x100"))
        .orderBy("event_type")
    },

    // NS: hour-of-week seasonality profile — the calendar census behind
    // capacity planning and anomaly baselines ("is this load normal for a
    // Tuesday 3pm?"): events collapse to the bounded (type, dow, hour)
    // grid (|types|·7·24 rows — fixed-domain, corpus-size-free) in one
    // map-side-combined aggregate, and the peak cell per type is read off
    // with a rank window over that tiny grid. Day-of-week is integer
    // arithmetic from a fixed pre-data Monday origin (engine dayofweek()
    // conventions disagree — Spark counts Sunday=1, DuckDB Sunday=0 — so
    // neither is used).
    "q_seasonal_profile" -> { (s, dir) =>
      val grid = Tables.events(s, dir)
        .select(col("event_type"),
          pmod(datediff(to_date(col("ts")), lit("1994-12-26")), lit(7)).as("dow"),
          hour(col("ts")).as("hr"))
        .groupBy("event_type", "dow", "hr").agg(count(lit(1)).as("n"))
      val tot = grid.groupBy("event_type").agg(sum("n").as("n_total"))
      val peak = grid.withColumn("rk", row_number().over(
          Window.partitionBy("event_type")
            .orderBy(col("n").desc, col("dow"), col("hr"))))
        .filter(col("rk") === 1)
      peak.join(tot, "event_type")
        .select(col("event_type"), col("n_total"),
          col("dow").cast("long").as("peak_dow"), col("hr").cast("long").as("peak_hr"),
          col("n").as("peak_n"),
          expr("n * 1000000 DIV n_total").as("peak_share_ppm"))
        .orderBy("event_type")
    },

    // NS: seasonal-residual anomaly census — q_seasonal_profile finds the
    // weekly rhythm; this op flags the hours that BREAK it: each observed
    // (day, hour) cell's event count compares against its hour-of-week
    // profile median, flagged when it deviates more than 50% from the
    // median. The profile median is exact on the k/2 integer grid (med2 =
    // 2·median is a lossless BIGINT — the q_tukey_fences discipline), the
    // deviation test |2n − med2|·100 > 50·med2 is pure integer
    // cross-multiplication, and the profile is a 168-row broadcast back
    // onto the hourly frame — counts shuffle once at (day, hour) grain,
    // never raw events twice. At 100 TB the hourly frame is
    // days×24 rows regardless of event volume.
    "q_anomaly_seasonal" -> { (s, dir) =>
      val hourly = Tables.events(s, dir)
        .select(datediff(to_date(col("ts")), lit("1994-12-26")).as("day"),
          hour(col("ts")).as("hr"))
        .groupBy("day", "hr").agg(count(lit(1)).as("n"))
        .withColumn("how", (pmod(col("day"), lit(7)) * 24 + col("hr")).cast("long"))
      val prof = hourly.groupBy("how")
        .agg(expr("CAST(2 * percentile(n, 0.5) AS BIGINT)").as("med2"))
      hourly.join(broadcast(prof), "how")
        .withColumn("flag",
          (abs(lit(2) * col("n") - col("med2")) * 100 > lit(50) * col("med2"))
            .cast("long"))
        .groupBy("how")
        .agg(count(lit(1)).as("n_hours"), max("med2").as("med2"),
          sum("flag").as("n_flagged"))
        .select(col("how"), col("n_hours"), col("med2"), col("n_flagged"),
          expr("n_flagged * 1000000 DIV n_hours").as("flag_ppm"))
        .orderBy("how")
    },

    // NS: sliding-window distinct users (DAU/WAU — the activity metric
    // every product dashboard runs, and the classic hard case for OLAP
    // because COUNT(DISTINCT) does not decompose over window frames). The
    // scale spelling: dedupe to the (day, user) frame FIRST (one shuffle,
    // idempotent re-aggregation), then each (day, user) row contributes
    // itself to the 7 windows ending on day..day+6 via a bounded integer
    // sequence explode — a fixed 7x blowup of the already-tiny daily-actives
    // frame, never of raw events — and one countDistinct per window closes
    // it. Day keys are integer offsets from a fixed origin (both engines
    // share the exact date arithmetic); windows are labeled by their END
    // day and inner-joined back to observed days so phantom future windows
    // drop out.
    "q_wau_sliding" -> { (s, dir) =>
      val du = Tables.events(s, dir)
        .select(datediff(to_date(col("ts")), lit("1995-01-01")).as("d"),
          col("user_id"))
        .distinct()
      val dau = du.groupBy("d").agg(countDistinct("user_id").as("dau"))
      val wau = du
        .select(explode(sequence(col("d"), col("d") + 6)).as("wd"), col("user_id"))
        .groupBy("wd").agg(countDistinct("user_id").as("wau7"))
      dau.join(wau, col("d") === col("wd"))
        .select(date_add(lit("1995-01-01"), col("d")).as("day"),
          col("dau"), col("wau7"))
        .orderBy("day")
    },

    "q_resample_1h" -> { (s, dir) =>
      val e = Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), col("ts"), col("value"))
      val hourly = e
        .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("hour"))
        .agg(count(lit(1)).as("n"),
          max(struct(col("ts"), col("event_id"), col("value")))
            .getField("value").as("last_v"))
      val bounds = e.groupBy("user_id")
        .agg(min(date_trunc("hour", col("ts"))).as("h0"),
          max(date_trunc("hour", col("ts"))).as("h1"))
      val spine = bounds.select(col("user_id"),
        explode(sequence(col("h0"), col("h1"), expr("interval 1 hour"))).as("hour"))
      val w = Window.partitionBy("user_id").orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      spine.join(hourly, Seq("user_id", "hour"), "left_outer")
        .select(col("user_id"), col("hour"),
          coalesce(col("n"), lit(0L)).as("n_events"),
          round(last("last_v", ignoreNulls = true).over(w), 6).as("filled"))
        .orderBy("user_id", "hour")
    },

    // NS: SCD type-2 history — collapse the per-user event_type stream into
    // validity intervals: a version starts where the type changes,
    // valid_to = the next change's timestamp (null = current version).
    // Change detection and interval closing are two windows over the same
    // (user_id, (ts, event_id)) order — one shuffle, one sort.
    "q_scd2_history" -> { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val changes = Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
        .withColumn("prev_type", lag("event_type", 1).over(w))
        .filter(col("prev_type").isNull || col("prev_type") =!= col("event_type"))
      changes
        .select(col("user_id"), col("event_type"), col("ts").as("valid_from"),
          lead("ts", 1).over(w).as("valid_to"),
          row_number().over(w).cast("long").as("version"))
        .withColumn("is_current", col("valid_to").isNull.cast("long"))
        .orderBy("user_id", "version")
    },

    // NS: time-weighted average — each observation weighted by how long it
    // was in force (until the next event); the standard aggregate for
    // unevenly-sampled series. Weights are exact integer microseconds; the
    // weighted sum crosses a float agg, so the quotient is rounded.
    "q_time_weighted_avg" -> { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), col("ts"), col("value"))
        .withColumn("gap_us",
          (unix_micros(lead("ts", 1).over(w)) - unix_micros(col("ts"))).cast("double"))
        .filter(col("gap_us").isNotNull)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_segments"),
          round(sum(col("value") * col("gap_us")) / sum(col("gap_us")), 6).as("twa"))
        .orderBy("user_id")
    },

    // NS: ordered-sequence pattern match (the MATCH_RECOGNIZE shape): the
    // earliest click → view → purchase chain per user, each stage strictly
    // after the previous. Three per-user min-aggregates chained by
    // co-partitioned user_id joins — group sizes are per-user event counts,
    // so each stage is one key-local pass; no window sorts the full stream.
    "q_seq_pattern" -> { (s, dir) =>
      val ev = Tables.events(s, dir).select("user_id", "ts", "event_type")
      val c = ev.filter(col("event_type") === "click")
        .groupBy("user_id").agg(min("ts").as("t_click"))
      val v = ev.filter(col("event_type") === "view")
        .join(c, "user_id").filter(col("ts") > col("t_click"))
        .groupBy("user_id", "t_click").agg(min("ts").as("t_view"))
      val p = ev.filter(col("event_type") === "purchase")
        .join(v, "user_id").filter(col("ts") > col("t_view"))
        .groupBy("user_id", "t_click", "t_view").agg(min("ts").as("t_purchase"))
      p.select(col("user_id"), col("t_click"), col("t_view"), col("t_purchase"),
        (unix_micros(col("t_purchase")) - unix_micros(col("t_click"))).as("span_us"))
        .orderBy("user_id")
    },

    // NS: interval-overlap join — user sessions (30-min-gap intervals,
    // the q_sessionize construction) joined against synthetic hourly
    // maintenance windows ([h+15min, h+45min) per hour of the stream's
    // span), overlap duration computed per pair. The join is BUCKETED, not
    // theta: each session explodes to the hour buckets it covers, each
    // window lives in exactly one bucket, and the pair match is an
    // equi-join on the bucket with the exact overlap as residual — the
    // interval-join shape that survives 100 TB, where a theta join would
    // be a cross product. Completeness: a window is confined to its hour,
    // so any overlapping session covers that hour bucket.
    "q_interval_join" -> { (s, dir) =>
      val HourUs = 3600L * 1000000L
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val gapUs = unix_micros(col("ts")) - unix_micros(lag("ts", 1).over(w))
      val sess = Tables.events(s, dir)
        .withColumn("new_sess",
          when(gapUs.isNull.or(gapUs > lit(30L * 60 * 1000000L)), 1L).otherwise(0L))
        .withColumn("sess_idx", sum("new_sess")
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "sess_idx")
        .agg(min(unix_micros(col("ts"))).as("s_us"),
          max(unix_micros(col("ts"))).as("e_us"))
      val wins = Tables.events(s, dir)
        .agg(expr(s"min(unix_micros(ts)) div $HourUs").as("h0"),
          expr(s"max(unix_micros(ts)) div $HourUs").as("h1"))
        .select(explode(sequence(col("h0"), col("h1"))).as("h"))
        .select(col("h"),
          (col("h") * HourUs + 15L * 60 * 1000000L).as("ws_us"),
          (col("h") * HourUs + 45L * 60 * 1000000L).as("we_us"))
      val overlap = least(col("e_us"), col("we_us")) - greatest(col("s_us"), col("ws_us"))
      sess
        .select(col("user_id"), col("sess_idx"), col("s_us"), col("e_us"),
          explode(sequence(expr(s"s_us div $HourUs"), expr(s"e_us div $HourUs"))).as("h"))
        .join(wins, "h")
        .withColumn("overlap_us", overlap)
        .filter(col("overlap_us") > 0L)
        .select(col("user_id"), col("sess_idx"), col("ws_us"), col("overlap_us"))
        .orderBy("user_id", "sess_idx", "ws_us")
    },

    // NS: 24-hour rolling Pearson correlation between the hourly click and
    // purchase series — the drift/covariation monitor. Raw events reduce to
    // ONE row per hour first (map-side-combinable), so the unpartitioned
    // ordered window runs over O(hours), never O(events); zero-variance
    // windows (corr undefined: NaN in Spark, NULL in DuckDB) are pinned to
    // 0 on both engines.
    "q_rolling_corr" -> { (s, dir) =>
      val h = Tables.events(s, dir)
        .groupBy(date_trunc("hour", col("ts")).as("hr"))
        .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L))
            .cast("double").as("clicks"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .cast("double").as("buys"))
      val w = Window.orderBy("hr").rowsBetween(-23, 0)
      // corr spelled as guarded covar/stddev: ANSI mode turns the
      // zero-variance window (constant series) into DIVIDE_BY_ZERO inside
      // Corr itself; the `when` guard evaluates the division only on
      // windows where it is defined, matching DuckDB's NULL->0 coalesce.
      h.withColumn("cv", covar_samp(col("clicks"), col("buys")).over(w))
        .withColumn("sx", stddev_samp(col("clicks")).over(w))
        .withColumn("sy", stddev_samp(col("buys")).over(w))
        .withColumn("nw", count(lit(1)).over(w))
        .filter(col("nw") >= 24)
        .select(col("hr"), col("clicks").cast("long").as("clicks"),
          col("buys").cast("long").as("buys"),
          round(when(col("sx") > 0 && col("sy") > 0,
            col("cv") / (col("sx") * col("sy"))).otherwise(lit(0.0)), 6).as("roll_corr"))
        .orderBy("hr")
    },

    // NS: CUSUM changepoint detection on the hourly event-count series —
    // where did the level shift? cusum_t = Σ(n_i − μ); the argmax of
    // |cusum| is the most likely single changepoint. Same reduce-first
    // shape as q_rolling_corr (window over hours, not events); the argmax
    // pick compares ROUNDED |cusum| so float-epsilon never flips the
    // deterministic (|cusum| desc, hr) tie-break.
    "q_changepoint" -> { (s, dir) =>
      val h = Tables.events(s, dir)
        .groupBy(date_trunc("hour", col("ts")).as("hr"))
        .agg(count(lit(1)).cast("double").as("n"))
      val wc = Window.orderBy("hr").rowsBetween(Window.unboundedPreceding, Window.currentRow)
      h.withColumn("mu", avg("n").over(Window.partitionBy()))
        .withColumn("n_hours", count(lit(1)).over(Window.partitionBy()))
        .withColumn("cusum", sum(col("n") - col("mu")).over(wc))
        .orderBy(round(abs(col("cusum")), 6).desc, col("hr"))
        .limit(1)
        .select(col("hr").as("cp_hr"), round(col("cusum"), 6).as("cusum_at_cp"),
          col("n_hours"))
    },

    // NS: RFM user segmentation — recency (hours since last event),
    // frequency (event count), monetary (value sum) + quintile scores.
    // One user-key aggregate + a broadcast 1-row reference time; quintile
    // assignment is the q_percentile_bucket shape — ONE exact-percentile
    // boundary aggregate broadcast back onto the per-user frame, scored by
    // when-chains — not a global ntile sort (three single-reducer
    // O(users)-row sorts at 1e9 users). The boundary aggregate's state is
    // a value→count map bounded by the QUANTIZED score domains (calendar
    // hours since last event, Zipf-bounded per-user counts, whole currency
    // units), never by user count. Boundary ties get equal scores (the
    // value-boundary semantics, re-oracled with the plan change; ntile
    // would split equal values across quintiles by position).
    "q_rfm" -> { (s, dir) =>
      val ev = Tables.events(s, dir)
      val tref = ev.agg(max(unix_micros(col("ts"))).as("t_ref"))
      val base = ev.groupBy("user_id")
        .agg(max(unix_micros(col("ts"))).as("t_last"),
          count(lit(1)).as("frequency"),
          round(sum("value"), 6).as("monetary"))
        .crossJoin(broadcast(tref))
        .withColumn("recency_h",
          round((col("t_ref") - col("t_last")).cast("double") / lit(3600000000.0d), 6))
        .withColumn("r_q", expr("(t_ref - t_last) DIV 3600000000"))
        .withColumn("m_q", expr("CAST(round(monetary) AS BIGINT)"))
      val bounds = base.agg(
        expr("percentile(r_q, array(0.2, 0.4, 0.6, 0.8))").as("qr"),
        expr("percentile(frequency, array(0.2, 0.4, 0.6, 0.8))").as("qf"),
        expr("percentile(m_q, array(0.2, 0.4, 0.6, 0.8))").as("qm"))
      // score 1 = best quintile: LOW recency / HIGH frequency / HIGH spend
      def scoreAsc(v: Column, q: Column): Column =
        when(v.cast("double") <= q(0), 1L).when(v.cast("double") <= q(1), 2L)
          .when(v.cast("double") <= q(2), 3L).when(v.cast("double") <= q(3), 4L)
          .otherwise(5L)
      def scoreDesc(v: Column, q: Column): Column =
        when(v.cast("double") >= q(3), 1L).when(v.cast("double") >= q(2), 2L)
          .when(v.cast("double") >= q(1), 3L).when(v.cast("double") >= q(0), 4L)
          .otherwise(5L)
      base.crossJoin(broadcast(bounds))
        .select(col("user_id"), col("recency_h"), col("frequency"), col("monetary"),
          scoreAsc(col("r_q"), col("qr")).as("r_score"),
          scoreDesc(col("frequency"), col("qf")).as("f_score"),
          scoreDesc(col("m_q"), col("qm")).as("m_score"))
        .orderBy("user_id")
    },

    // NS: exponentially time-decayed aggregate (24-h half-life) per user —
    // the feature-store recency-weighted sum. Pure narrow math against a
    // broadcast 1-row max-timestamp frame + one user-key shuffle; the
    // decay constant is the same spelled-out double literal on both
    // engines so the weights agree bit-for-bit (mod libm exp ulp, absorbed
    // by round 6).
    "q_decay_agg" -> { (s, dir) =>
      val e = Tables.events(s, dir)
        .select(col("user_id"), col("value"), unix_micros(col("ts")).as("tus"))
      val tmax = e.agg(max("tus").as("t_max"))
      e.crossJoin(broadcast(tmax))
        .select(col("user_id"),
          (col("value") * exp(lit(-0.6931471805599453 / 24.0) *
            (col("t_max") - col("tus")).cast("double") / lit(3600000000.0d))).as("dv"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n"), round(sum("dv"), 6).as("decayed_sum"))
        .orderBy("user_id")
    },

    // NS: event-time disorder census — the diagnostic that TUNES a
    // streaming watermark instead of guessing it: how far behind the
    // per-key running max event time do events actually arrive? The p99
    // disorder IS the watermark delay that loses <1% of events; guessing
    // low drops data, guessing high bloats state. The fixture stream is
    // perfectly ordered, so arrival is simulated by a deterministic md5
    // permutation within 8-id ingest blocks (the q_forward_fill
    // injected-fault precedent — both engines replay the same reordering).
    // Dataflow: one user_id shuffle for the running-max window, then the
    // row-scale disorder column collapses to a (disorder-minute -> count)
    // histogram — bounded by the disorder span in minutes, never by rows —
    // and the percentile read runs over that tiny histogram (the
    // q_skew_census double collapse); every output is an exact integer.
    "q_disorder_census" -> { (s, dir) =>
      val arr = (expr("event_id DIV 8") * 8 +
        pmod(Hash.prefix(concat(lit("arr:"), col("event_id").cast("string"))), lit(8))).as("arr")
      val w = Window.partitionBy("user_id").orderBy("arr", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val d = Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"), arr)
        .withColumn("run_max", max("us").over(w))
        .select((col("run_max") - col("us")).as("dis_us"))
      val hist = d.groupBy(expr("dis_us DIV 60000000").as("dis_m"),
          (col("dis_us") > 0).cast("long").as("is_late"))
        .agg(count(lit(1)).as("n"))
      val tot = hist.agg(sum("n").as("n_events"),
        sum(col("is_late") * col("n")).as("n_late"),
        max("dis_m").as("max_m"))
      val cum = hist.groupBy("dis_m").agg(sum("n").as("n"))
        .withColumn("cum", sum("n").over(Window.orderBy("dis_m")))
      val px = cum.crossJoin(broadcast(tot.select(col("n_events").as("ne"))))
        .agg(min(when(col("cum") * 100 >= col("ne") * 50, col("dis_m"))).as("p50_m"),
          min(when(col("cum") * 100 >= col("ne") * 95, col("dis_m"))).as("p95_m"),
          min(when(col("cum") * 100 >= col("ne") * 99, col("dis_m"))).as("p99_m"))
      tot.crossJoin(broadcast(px))
        .select(col("n_events"), col("n_late"),
          expr("n_late * 1000000 DIV n_events").as("late_ppm"),
          col("p50_m"), col("p95_m"), col("p99_m"), col("max_m"))
    },

    // NS: Bollinger-band breach census per event type — hourly value mass
    // vs a 24-observed-hour rolling mean ± 2σ. EXACT integer verdicts: in
    // milli-units the breach test (x − mean)² > 4σ² rewrites to
    // (n·x − Σx)² > 4(n·Σx² − (Σx)²) — pure BIGINT cross-multiplication
    // (milli, not micro, units keep the squares under 2⁶³), so no
    // last-ulp band boundary can flip between engines. The corpus reduces
    // to the bounded hourly census first; the rolling window runs over
    // ≤~720 rows per type. Partial (<24-hour) windows abstain.
    "q_bollinger" -> { (s, dir) =>
      val hourly = Tables.events(s, dir)
        .groupBy(col("event_type"),
          (unix_micros(col("ts")) / lit(3600000000L)).cast("long").as("hi"))
        .agg(sum(expr("CAST(round(value * 1000) AS BIGINT)")).as("x"))
      val w = Window.partitionBy("event_type").orderBy("hi").rowsBetween(-23, 0)
      hourly
        .withColumn("n", count(lit(1)).over(w))
        .withColumn("sx", sum("x").over(w))
        .withColumn("sxx", sum(col("x") * col("x")).over(w))
        .withColumn("dev", col("n") * col("x") - col("sx"))
        .withColumn("var4", lit(4) * (col("n") * col("sxx") - col("sx") * col("sx")))
        .groupBy("event_type")
        .agg(sum(when(col("n") === 24, 1L).otherwise(0L)).as("n_hours"),
          sum(when(col("n") === 24 && col("dev") > 0 &&
            col("dev") * col("dev") > col("var4"), 1L).otherwise(0L)).as("n_above"),
          sum(when(col("n") === 24 && col("dev") < 0 &&
            col("dev") * col("dev") > col("var4"), 1L).otherwise(0L)).as("n_below"))
        .orderBy("event_type")
    },

    // NS: peak detection on the hourly count series per event type — a
    // strict local maximum that also clears the series mean (integer
    // cross-multiply n·H > total, no float threshold). Series is the
    // bounded hourly census; lag/lead windows run over ≤~720 rows per
    // type; the census result is 5 rows. Top peak reported with a total
    // (count desc, hour asc) tie-break.
    "q_peak_detect" -> { (s, dir) =>
      val hourly = Tables.events(s, dir)
        .groupBy(col("event_type"),
          (unix_micros(col("ts")) / lit(3600000000L)).cast("long").as("hi"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("event_type").orderBy("hi")
      val tot = Window.partitionBy("event_type")
      val marked = hourly
        .withColumn("p", lag("n", 1).over(w))
        .withColumn("x", lead("n", 1).over(w))
        .withColumn("n_hours", count(lit(1)).over(tot))
        .withColumn("total", sum("n").over(tot))
        .withColumn("is_peak",
          (col("p").isNotNull && col("x").isNotNull &&
            col("n") > col("p") && col("n") > col("x") &&
            col("n") * col("n_hours") > col("total")).cast("long"))
      marked.groupBy("event_type")
        .agg(max("n_hours").as("n_hours"), sum("is_peak").as("n_peaks"),
          max(when(col("is_peak") === 1,
            struct(col("n"), (-col("hi")).as("nhi")))).getField("n").as("top_peak_n"),
          (-max(when(col("is_peak") === 1,
            struct(col("n"), (-col("hi")).as("nhi")))).getField("nhi")).as("top_peak_hi"))
        .orderBy("event_type")
    },

    // NS: linear interpolation over per-user hourly gaps — the
    // gap-filling sibling of q_resample_1h's forward fill. Interior
    // missing hours take the EXACT integer lerp
    // (v_prev·(next−h) + v_next·(h−prev)) DIV (next−prev) in micro-units —
    // numerator non-negative (values > 0), so Spark's truncating DIV and
    // DuckDB's flooring // agree. Spine endpoints are observed by
    // construction (min/max hour per user), so every gap is two-sided.
    // One user_id shuffle; windows ordered within user only.
    "q_interpolate_linear" -> { (s, dir) =>
      val e = Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), col("ts"), col("value"),
          (unix_micros(col("ts")) / lit(3600000000L)).cast("long").as("hi"))
      val obs = e.groupBy("user_id", "hi")
        .agg(max(struct(col("ts"), col("event_id"), col("value")))
          .getField("value").as("v"))
        .withColumn("v_micro", expr("CAST(round(v * 1000000) AS BIGINT)"))
        .drop("v")
      val bounds = obs.groupBy("user_id")
        .agg(min("hi").as("h0"), max("hi").as("h1"))
      val spine = bounds.select(col("user_id"),
        explode(sequence(col("h0"), col("h1"))).as("hi"))
      val wp = Window.partitionBy("user_id").orderBy("hi")
        .rowsBetween(Window.unboundedPreceding, 0)
      val wn = Window.partitionBy("user_id").orderBy("hi")
        .rowsBetween(0, Window.unboundedFollowing)
      spine.join(obs, Seq("user_id", "hi"), "left_outer")
        .withColumn("pv", last("v_micro", ignoreNulls = true).over(wp))
        .withColumn("ph", last(when(col("v_micro").isNotNull, col("hi")),
          ignoreNulls = true).over(wp))
        .withColumn("nv", first("v_micro", ignoreNulls = true).over(wn))
        .withColumn("nh", first(when(col("v_micro").isNotNull, col("hi")),
          ignoreNulls = true).over(wn))
        .select(col("user_id"), col("hi"),
          when(col("v_micro").isNotNull, col("v_micro"))
            .otherwise(expr("(pv * (nh - hi) + nv * (hi - ph)) DIV (nh - ph)"))
            .as("v_micro"),
          when(col("v_micro").isNotNull, "obs").otherwise("lerp").as("src"))
        .orderBy("user_id", "hi")
    },

    // NS: simple exponential smoothing (alpha = 1/2) over the per-type
    // daily count series, EXACT in integers: with the dyadic alpha the
    // recursion s_t = (x_t + s_{t-1}) DIV 2 stays in BIGINT — no float
    // recurrence to drift between engines — and the one-step-ahead
    // forecast error folds alongside (sae = Σ|x_t − s_{t-1}|, the
    // backtest MAE numerator). Dataflow: one combinable (type, day)
    // count aggregate collapses the stream to a CALENDAR-bounded series
    // (30 points per key here; at 100 TB still bounded by the time span,
    // never by rows), then the inherently-sequential fold runs INSIDE the
    // row as an `aggregate` HOF over the sorted array — per-key state
    // O(days), zero extra shuffles, keys parallelize freely. The oracle
    // replays the identical recursion as a recursive CTE.
    "q_ses_forecast" -> { (s, dir) =>
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("x"))
      daily.groupBy("event_type")
        .agg(sort_array(collect_list(struct(col("day"), col("x")))).as("series"))
        .withColumn("fold", expr(
          """aggregate(series,
            |  named_struct('s', CAST(0 AS BIGINT), 'sae', CAST(0 AS BIGINT), 'n', CAST(0 AS BIGINT)),
            |  (acc, e) -> named_struct(
            |    's',   CASE WHEN acc.n = 0 THEN e.x ELSE (e.x + acc.s) DIV 2 END,
            |    'sae', acc.sae + CASE WHEN acc.n = 0 THEN CAST(0 AS BIGINT)
            |                          ELSE abs(e.x - acc.s) END,
            |    'n',   acc.n + 1))""".stripMargin))
        .select(col("event_type"), col("fold.n").as("n_days"),
          col("fold.s").as("level"), col("fold.sae").as("sae"),
          expr("CASE WHEN fold.n > 1 THEN fold.sae * 1000 DIV (fold.n - 1) " +
            "ELSE CAST(0 AS BIGINT) END").as("mae_milli"))
        .orderBy("event_type")
    },

    // NS: spectral power at the daily/weekly frequencies — the DFT-bin
    // complement of q_autocorr's lag view (ACF says "correlated at lag
    // 24"; the Goertzel bin says HOW MUCH of the signal's mass is the
    // 24h cycle): C = Σx_t·cos(2πt/P), S = Σx_t·sin(2πt/P) for
    // P ∈ {24, 168}. Numerics: the hourly series collapses to the
    // PHASE census first (Σx per t mod P — ≤192 rows), each phase's
    // cos/sin quantizes ONCE to micro units, and the dot products are
    // EXACT BIGINTs (envelope: hourly mass × 1e6 × calendar < 2^63
    // through ~1e9 events/hour on a year span); only the final
    // amplitude sqrt is IEEE. share_ppm = amplitude / total mass.
    "q_spectral_power" -> { (s, dir) =>
      val hourly = Tables.events(s, dir)
        .groupBy(expr("unix_micros(ts) DIV 3600000000").as("hi"))
        .agg(count(lit(1)).as("x"))
      Seq(24L, 168L).map { p =>
        hourly.groupBy(pmod(col("hi"), lit(p)).as("k"))
          .agg(sum("x").as("xk"))
          .select(col("k"), col("xk"),
            expr(s"CAST(round(cos(6.283185307179586e0 * CAST(k AS DOUBLE) / ${p}.0e0) " +
              "* 1000000) AS BIGINT)").as("ck"),
            expr(s"CAST(round(sin(6.283185307179586e0 * CAST(k AS DOUBLE) / ${p}.0e0) " +
              "* 1000000) AS BIGINT)").as("sk"))
          .agg(sum("xk").as("n_events"),
            sum(expr("xk * ck")).as("c_sum"), sum(expr("xk * sk")).as("s_sum"))
          .select(lit(p).as("period"), col("n_events"), col("c_sum"), col("s_sum"),
            expr("CAST(floor(sqrt(CAST(c_sum AS DOUBLE) * CAST(c_sum AS DOUBLE) " +
              "+ CAST(s_sum AS DOUBLE) * CAST(s_sum AS DOUBLE)) / 1000.0e0) AS BIGINT)")
              .as("amp_milli"),
            expr("CAST(floor(sqrt(CAST(c_sum AS DOUBLE) * CAST(c_sum AS DOUBLE) " +
              "+ CAST(s_sum AS DOUBLE) * CAST(s_sum AS DOUBLE)) " +
              "/ CAST(n_events AS DOUBLE)) AS BIGINT)").as("share_ppm"))
      }.reduce(_ unionByName _).orderBy("period")
    },

    // NS: Hampel filter — the ROLLING robust outlier screen beside the
    // global-MAD q_anomaly_robust (a level-shifted series makes global
    // MAD blind; the ±3-day local window keeps the fence adaptive):
    // per (type, day), the window's lower median and lower-median MAD
    // from the SORTED collected window array — order-free by
    // construction (sort_array on both engines), EXACT integers
    // end-to-end, flag |x − med|·10⁴ > 44478·mad (3·1.4826 in the
    // integer grid). The window frame is the calendar-bounded daily
    // series, never the corpus.
    "q_hampel" -> { (s, dir) =>
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("x"))
      val w = Window.partitionBy("event_type").orderBy("day").rowsBetween(-3, 3)
      // lower median of a sorted integer array (exact, odd or even size)
      def loMed(arr: String): String =
        s"element_at($arr, CAST((size($arr) + 1) DIV 2 AS INT))"
      daily
        .withColumn("win", sort_array(collect_list("x").over(w)))
        .withColumn("med", expr(loMed("win")))
        .withColumn("devs", expr("sort_array(transform(win, v -> abs(v - med)))"))
        .withColumn("mad", expr(loMed("devs")))
        .select(col("event_type"), col("day"), col("x"), col("med"), col("mad"),
          (abs(col("x") - col("med")) * 10000L > col("mad") * 44478L)
            .cast("long").as("outlier"))
        .orderBy("event_type", "day")
    },

    // NS: Page–Hinkley drift detector — the sequential mean-shift monitor
    // beside the retrospective changepoint scans (q_changepoint runs the
    // CUSUM argmax AFTER the fact; PH is what a training-data freshness
    // monitor evaluates ONLINE): PH_t = Σ(x_i − x̄_i − δ) against its
    // running minimum, alarm when the gap exceeds λ. EXACT integers
    // end-to-end: the only division is the running-mean milli
    // quantization (s·1000 DIV n, non-negative so trunc == floor on both
    // engines), so the fold state — cumsum, PH, min-PH, alarm count — is
    // BIGINT and engine-identical. Same dataflow as q_ses_forecast: the
    // corpus reduces to the calendar-bounded per-type daily series, and
    // the sequential recursion runs INSIDE the row as an aggregate HOF;
    // the oracle replays it as a recursive CTE. δ = 0.05, λ = 5 (milli).
    "q_page_hinkley" -> { (s, dir) =>
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("x"))
      daily.groupBy("event_type")
        .agg(sort_array(collect_list(struct(col("day"), col("x")))).as("series"))
        .withColumn("fold", expr(
          """aggregate(series,
            |  named_struct('s', CAST(0 AS BIGINT), 'n', CAST(0 AS BIGINT),
            |               'ph', CAST(0 AS BIGINT), 'mn', CAST(0 AS BIGINT),
            |               'al', CAST(0 AS BIGINT)),
            |  (acc, e) -> named_struct(
            |    's',  acc.s + e.x,
            |    'n',  acc.n + 1,
            |    'ph', acc.ph + (e.x * 1000 - ((acc.s + e.x) * 1000 DIV (acc.n + 1)) - 50),
            |    'mn', least(acc.mn,
            |            acc.ph + (e.x * 1000 - ((acc.s + e.x) * 1000 DIV (acc.n + 1)) - 50)),
            |    'al', acc.al + CASE WHEN
            |            acc.ph + (e.x * 1000 - ((acc.s + e.x) * 1000 DIV (acc.n + 1)) - 50)
            |            - least(acc.mn,
            |                acc.ph + (e.x * 1000 - ((acc.s + e.x) * 1000 DIV (acc.n + 1)) - 50))
            |            > 5000 THEN 1 ELSE 0 END))""".stripMargin))
        .select(col("event_type"), col("fold.n").as("n_days"),
          col("fold.ph").as("ph_milli"), col("fold.mn").as("min_ph_milli"),
          col("fold.al").as("n_alarms"))
        .withColumn("drift", (col("n_alarms") > 0).cast("long"))
        .orderBy("event_type")
    },

    // NS: Holt linear-trend smoothing (alpha = beta = 1/2) — q_ses's
    // trending sibling, EXACT in integers: the dyadic parameters make
    // both recursions single halvings, and because the TREND can go
    // negative the halving must have ONE cross-engine signed semantics —
    // measured this round: DuckDB's // on BIGINT operands truncates
    // toward zero exactly like Spark's DIV ((-3)//2 = -1 on both; the
    // flooring behavior earlier rounds recorded applies to DOUBLE
    // operands only), so the signed halving is the PLAIN truncating DIV
    // on both engines. Same dataflow as q_ses_forecast: calendar-bounded
    // per-type daily series, the sequential fold INSIDE the row as an
    // aggregate HOF (init l=x_1, b=0), one-step-ahead SAE beside it; the
    // oracle replays the identical recursion as a recursive CTE.
    "q_holt_forecast" -> { (s, dir) =>
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("x"))
      // signed truncating halving — identical on both engines (see above)
      def fhalf(v: String) = s"($v) DIV 2"
      daily.groupBy("event_type")
        .agg(sort_array(collect_list(struct(col("day"), col("x")))).as("series"))
        .withColumn("fold", expr(
          s"""aggregate(series,
            |  named_struct('l', CAST(0 AS BIGINT), 'b', CAST(0 AS BIGINT),
            |               'sae', CAST(0 AS BIGINT), 'n', CAST(0 AS BIGINT)),
            |  (acc, e) -> CASE WHEN acc.n = 0 THEN named_struct(
            |      'l', e.x, 'b', CAST(0 AS BIGINT),
            |      'sae', CAST(0 AS BIGINT), 'n', CAST(1 AS BIGINT))
            |    ELSE named_struct(
            |      'l', ${fhalf("e.x + acc.l + acc.b")},
            |      'b', ${fhalf(fhalf("e.x + acc.l + acc.b") + " - acc.l + acc.b")},
            |      'sae', acc.sae + abs(e.x - (acc.l + acc.b)),
            |      'n', acc.n + 1) END)""".stripMargin))
        .select(col("event_type"), col("fold.n").as("n_days"),
          col("fold.l").as("level"), col("fold.b").as("trend"),
          (col("fold.l") + col("fold.b")).as("forecast_next"),
          expr("CASE WHEN fold.n > 1 THEN fold.sae * 1000 DIV (fold.n - 1) " +
            "ELSE CAST(0 AS BIGINT) END").as("mae_milli"))
        .orderBy("event_type")
    },

    // NS: Q-Q comparison points — the plotted sibling of q_ks_test (the
    // roc_points-beside-auc pattern): deciles p10..p90 of the purchase
    // and click value distributions side by side, in integer milli-units
    // with type-7 percentiles FLOORED to the integer grid (the
    // q_gains_table discipline); one percentile-array aggregate per
    // segment, a 9-row posexplode, signed gaps in exact integers.
    "q_qq_points" -> { (s, dir) =>
      val ps = (1 to 9).map(_ / 10.0)
      def seg(t: String, out: String) = Tables.events(s, dir)
        .filter(col("event_type") === t)
        .select(expr("CAST(round(value * 1000) AS BIGINT)").as("v"))
        .agg(expr(s"percentile(v, array(${ps.mkString(", ")}))").as(out))
      seg("purchase", "qa").crossJoin(seg("click", "qb"))
        .select(posexplode(expr(
          "transform(qa, (a, i) -> named_struct('qp', CAST(floor(a) AS BIGINT), " +
            "'qc', CAST(floor(qb[i]) AS BIGINT)))")).as(Seq("pos", "q")))
        .select(((col("pos") + 1) * 10).cast("long").as("p_pct"),
          col("q.qp").as("q_purchase_milli"), col("q.qc").as("q_click_milli"),
          (col("q.qp") - col("q.qc")).as("gap_milli"))
        .orderBy("p_pct")
    },

    // NS: expanding-window time-series cross-validation plan — the CV
    // split that doesn't leak the future (random K-fold on a time series
    // trains on tomorrow to predict yesterday): folds k = 1..4 train on
    // days ≤ cutoff_k and test on the next 3 days, cutoffs on the
    // span's integer quantile grid. One calendar-bounded day frame; the
    // plan is a broadcast 4-row cross + integer day arithmetic, with
    // per-fold train/test masses and the leakage invariant (max train
    // day < min test day) emitted as a checked verdict.
    "q_timeseries_cv" -> { (s, dir) =>
      val days = Tables.events(s, dir)
        .groupBy(datediff(to_date(col("ts")), lit("1970-01-01")).cast("long").as("d"))
        .agg(count(lit(1)).as("n"))
        .localCheckpoint(eager = false) // calendar-bounded; feeds span and the fold cross
      val span = days.agg(min("d").as("d0"), max("d").as("d1"))
      val folds = broadcast(s.createDataFrame(Seq(1L, 2L, 3L, 4L).map(Tuple1(_)))
        .toDF("fold"))
      days.crossJoin(broadcast(span)).crossJoin(folds)
        // cutoff_k splits the span at k/6, leaving room for the test tail
        .withColumn("cutoff", expr("d0 + (d1 - d0) * fold DIV 6"))
        .withColumn("role",
          when(col("d") <= col("cutoff"), "train")
            .when(col("d") <= col("cutoff") + 3, "test")
            .otherwise("unused"))
        .filter(col("role") =!= "unused")
        .groupBy("fold")
        .agg(sum(when(col("role") === "train", col("n")).otherwise(0L)).as("n_train"),
          sum(when(col("role") === "test", col("n")).otherwise(0L)).as("n_test"),
          max(when(col("role") === "train", col("d"))).as("max_train_d"),
          min(when(col("role") === "test", col("d"))).as("min_test_d"))
        .withColumn("no_leakage",
          (col("max_train_d") < col("min_test_d")).cast("long"))
        .orderBy("fold")
    },

    // NS: maximum drawdown of the cumulative daily revenue — the
    // worst-case peak-to-trough fall (the risk statistic that reads a
    // cumulative series, completing q_changepoint's family from the
    // finance side): running max over the calendar-bounded daily
    // cumulative, drawdown = peak − current, all exact integer milli;
    // the max drawdown row is the packed-struct argmax (deepest, ties →
    // earliest day).
    "q_drawdown" -> { (s, dir) =>
      val wc = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
      val daily = Tables.events(s, dir)
        .groupBy(datediff(to_date(col("ts")), lit("1970-01-01")).cast("long").as("d"))
        .agg(expr("CAST(sum(CAST(round(value * 1000) AS BIGINT)) AS BIGINT)").as("v"))
        .withColumn("cum", sum("v").over(wc))
        .withColumn("peak", max("cum").over(wc))
        .withColumn("dd", col("peak") - col("cum"))
      daily.agg(count(lit(1)).as("n_days"),
          max("cum").as("final_cum_milli"),
          max(struct(col("dd"), (-col("d")).as("nd"), col("d"), col("peak"))).as("m"))
        .select(col("n_days"), col("final_cum_milli"),
          col("m.dd").as("max_drawdown_milli"),
          col("m.d").as("trough_day"),
          col("m.peak").as("peak_before_milli"),
          expr("CASE WHEN m.peak > 0 THEN m.dd * 1000000 DIV m.peak " +
            "ELSE CAST(0 AS BIGINT) END").as("drawdown_ppm"))
    },

    // NS: binary-segmentation changepoint (depth 2) — q_changepoint finds
    // ONE break; real series have several, and binary segmentation is the
    // standard recursion: split at the CUSUM argmax, then re-run within
    // each half (one bounded pass per DEPTH LEVEL — the q_tree_depth2
    // pass structure on the time axis). EXACT integers throughout: the
    // segment-local |cusum| is scaled by the segment mass
    // (|n_s·cum_s − i_s·T_s| — argmax-invariant, no rational mean), the
    // argmax is the packed-struct max with a smallest-index tie-break,
    // and level-2 segment statistics derive algebraically from the
    // level-1 winner row (carried through the same struct — no re-scan).
    "q_changepoint_binseg" -> { (s, dir) =>
      val wi = Window.partitionBy("event_type").orderBy("hi")
      val idx = Tables.events(s, dir)
        .groupBy(col("event_type"), expr("unix_micros(ts) DIV 3600000000").as("hi"))
        .agg(count(lit(1)).as("x"))
        .withColumn("i", row_number().over(wi).cast("long"))
        .withColumn("cum", sum("x").over(wi.rowsBetween(Window.unboundedPreceding, 0)))
        .localCheckpoint(eager = false) // calendar-bounded frame; feeds both levels
      val tot = idx.groupBy("event_type").agg(max("i").as("n"), sum("x").as("t"))
      val sc1 = idx.join(broadcast(tot), "event_type")
        .filter(col("i") < col("n"))
        .withColumn("sabs", abs(col("n") * col("cum") - col("i") * col("t")))
      val cp1 = sc1.groupBy("event_type")
        .agg(max(struct(col("sabs"), (-col("i")).as("ni"), col("i"), col("hi"),
          col("cum"), col("n"), col("t"))).as("m"))
        .select(col("event_type"), col("m.i").as("i1"), col("m.hi").as("cp1_hi"),
          col("m.sabs").as("s1"), col("m.cum").as("cum1"),
          col("m.n").as("n"), col("m.t").as("t"))
      val seg = idx.join(broadcast(cp1), "event_type")
        .withColumn("segment", when(col("i") <= col("i1"), "L").otherwise("R"))
        .withColumn("i_s", when(col("segment") === "L", col("i"))
          .otherwise(col("i") - col("i1")))
        .withColumn("cum_s", when(col("segment") === "L", col("cum"))
          .otherwise(col("cum") - col("cum1")))
        .withColumn("n_s", when(col("segment") === "L", col("i1"))
          .otherwise(col("n") - col("i1")))
        .withColumn("t_s", when(col("segment") === "L", col("cum1"))
          .otherwise(col("t") - col("cum1")))
      val cp2 = seg.filter(col("i_s") < col("n_s"))
        .withColumn("sabs", abs(col("n_s") * col("cum_s") - col("i_s") * col("t_s")))
        .groupBy("event_type", "segment")
        .agg(max(struct(col("sabs"), (-col("i_s")).as("ni"), col("hi"), col("n_s")))
          .as("m"))
        .select(col("event_type"), lit(2L).as("level"), col("segment"),
          col("m.hi").as("cp_hi"), col("m.n_s").as("n_seg"),
          col("m.sabs").as("scaled_cusum"))
      cp1.select(col("event_type"), lit(1L).as("level"), lit("FULL").as("segment"),
          col("cp1_hi").as("cp_hi"), col("n").as("n_seg"), col("s1").as("scaled_cusum"))
        .unionByName(cp2)
        .orderBy("event_type", "level", "segment")
    },

    // NS: Tukey median polish — the robust two-way decomposition (row +
    // column effects by iterated medians, the EDA classic; outliers in a
    // few cells cannot drag the effects the way ANOVA means do): two
    // unrolled sweeps over the (event_type x hour-of-week) mean grid.
    // Cell means quantize ONCE to integer milli (t·1000 DIV n); every
    // median after that is a k/2-grid FLOOR over a bounded frame (168
    // values per row, 5 per column), so the whole decomposition is exact
    // integer arithmetic. Everything below the first hourly aggregate is
    // ≤840-cell algebra.
    "q_median_polish" -> { (s, dir) =>
      val grid = Tables.events(s, dir)
        .groupBy(col("event_type"), expr("unix_micros(ts) DIV 3600000000").as("hi"))
        .agg(count(lit(1)).as("x"))
        .withColumn("how", expr("((hi DIV 24 + 4) % 7) * 24 + hi % 24"))
        .groupBy("event_type", "how")
        .agg(expr("sum(x) * 1000 DIV count(1)").as("g"))
        .localCheckpoint(eager = false) // bounded grid; root of the 4-step median chain
      def rowMed(df: DataFrame, v: String, out: String) =
        df.groupBy("event_type")
          .agg(expr(s"CAST(floor(percentile($v, 0.5)) AS BIGINT)").as(out))
      def colMed(df: DataFrame, v: String, out: String) =
        df.groupBy("how")
          .agg(expr(s"CAST(floor(percentile($v, 0.5)) AS BIGINT)").as(out))
      val s1 = grid.join(rowMed(grid, "g", "rm1"), "event_type")
        .withColumn("r1", col("g") - col("rm1"))
      val s2 = s1.join(colMed(s1, "r1", "cm1"), "how")
        .withColumn("r2", col("r1") - col("cm1"))
      val s3 = s2.join(rowMed(s2, "r2", "rm2"), Seq("event_type"))
        .withColumn("r3", col("r2") - col("rm2"))
      val s4 = s3.join(colMed(s3, "r3", "cm2"), Seq("how"))
        .withColumn("r4", col("r3") - col("cm2"))
      s4.groupBy("event_type")
        .agg(count(lit(1)).as("n_cells"),
          max(col("rm1") + col("rm2")).as("row_effect_milli"),
          max(abs(col("r4"))).as("max_abs_resid_milli"),
          expr("CAST(floor(percentile(abs(r4), 0.5)) AS BIGINT)").as("med_abs_resid_milli"))
        .orderBy("event_type")
    },

    // NS: seasonality strength — eta² (the ANOVA correlation ratio) of
    // hour-of-week on the hourly count series: how much of the series'
    // variance the weekly profile explains (Hyndman's Fs with the
    // hour-of-week means as the seasonal model). EXACT integers end to
    // end via the computational identity SS_between = Σ_g T_g²/n_g −
    // T²/n: each group term floors ONCE to micro-units (T_g²·1e6 DIV
    // n_g — exact BIGINT, ≤2e17 through 10x stress), the sums are then
    // pure integer, and eta² is one integer cross-multiplication in ppm.
    // Peak hour-of-week by packed (rate, −how) struct max. The stream
    // collapses to the calendar-bounded hourly frame first; everything
    // after is ≤168-group arithmetic.
    "q_seasonal_strength" -> { (s, dir) =>
      val hourly = Tables.events(s, dir)
        .groupBy(col("event_type"),
          expr("unix_micros(ts) DIV 3600000000").as("hi"))
        .agg(count(lit(1)).as("x"))
        .withColumn("how", expr("((hi DIV 24 + 4) % 7) * 24 + hi % 24"))
      val byHow = hourly.groupBy("event_type", "how")
        .agg(sum("x").as("t_g"), count(lit(1)).as("n_g"))
        .withColumn("term_micro", expr("t_g * t_g * 1000000 DIV n_g"))
      val tot = hourly.groupBy("event_type")
        .agg(sum("x").as("t"), count(lit(1)).as("n"),
          sum(col("x") * col("x")).as("sxx"))
      byHow.groupBy("event_type")
        .agg(sum("term_micro").as("ss_b_micro"),
          max(struct(expr("t_g * 1000 DIV n_g").as("rate"),
            (-col("how")).as("nhow"), col("how"))).getField("how").as("peak_how"))
        .join(tot, "event_type")
        .select(col("event_type"), col("n").as("n_hours"), col("peak_how"),
          expr("""CASE WHEN sxx * 1000000 - t * t * 1000000 DIV n = 0
                 |  THEN CAST(0 AS BIGINT)
                 |  ELSE (ss_b_micro - t * t * 1000000 DIV n) * 1000000
                 |       DIV (sxx * 1000000 - t * t * 1000000 DIV n)
                 |END""".stripMargin).as("eta2_ppm"))
        .orderBy("event_type")
    },

    // NS: Holt–Winters triple smoothing (additive, alpha = beta = gamma
    // = 1/2, weekly season) — the full classical forecasting recursion
    // completing the SES → Holt ladder, EXACT in integers: all three
    // dyadic updates are plain signed truncating halvings (cross-engine
    // identical on BIGINT — the measured polarity rule), and the
    // 7-slot seasonal state lives INSIDE the in-row fold as an array
    // field updated by transform (per-key state O(days + 7), zero extra
    // shuffles — the q_ses_forecast dataflow with structured state).
    // One-step-ahead SAE folds beside it; the oracle replays the
    // identical recursion as a recursive CTE carrying a LIST column.
    "q_holt_winters" -> { (s, dir) =>
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("x"))
        .withColumn("dow",
          expr("(datediff(day, DATE '1970-01-01') + 4) % 7"))
      val lp = "(e.x - element_at(acc.sea, CAST(e.dow + 1 AS INT)) + acc.l + acc.b) DIV 2"
      daily.groupBy("event_type")
        .agg(sort_array(collect_list(struct(col("day"), col("dow"), col("x"))))
          .as("series"))
        .withColumn("fold", expr(
          s"""aggregate(series,
             |  named_struct('l', CAST(0 AS BIGINT), 'b', CAST(0 AS BIGINT),
             |    'sea', array_repeat(CAST(0 AS BIGINT), 7),
             |    'sae', CAST(0 AS BIGINT), 'n', CAST(0 AS BIGINT)),
             |  (acc, e) -> CASE WHEN acc.n = 0 THEN named_struct(
             |      'l', e.x, 'b', CAST(0 AS BIGINT),
             |      'sea', array_repeat(CAST(0 AS BIGINT), 7),
             |      'sae', CAST(0 AS BIGINT), 'n', CAST(1 AS BIGINT))
             |    ELSE named_struct(
             |      'l', $lp,
             |      'b', (($lp) - acc.l + acc.b) DIV 2,
             |      'sea', transform(sequence(0, 6), j -> CASE WHEN j = e.dow
             |        THEN (e.x - ($lp) + element_at(acc.sea, CAST(j + 1 AS INT))) DIV 2
             |        ELSE element_at(acc.sea, CAST(j + 1 AS INT)) END),
             |      'sae', acc.sae + abs(e.x - (acc.l + acc.b
             |        + element_at(acc.sea, CAST(e.dow + 1 AS INT)))),
             |      'n', acc.n + 1) END)""".stripMargin))
        .select(Seq(col("event_type"), col("fold.n").as("n_days"),
          col("fold.l").as("level"), col("fold.b").as("trend"),
          expr("CASE WHEN fold.n > 1 THEN fold.sae * 1000 DIV (fold.n - 1) " +
            "ELSE CAST(0 AS BIGINT) END").as("mae_milli")) ++
          (0 until 7).map(j =>
            expr(s"element_at(fold.sea, ${j + 1})").as(s"sea$j")): _*)
        .orderBy("event_type")
    },

    // NS: gaps-and-islands — the canonical SQL streak analysis ("longest
    // run of consecutive active days per user"): the (user, day) dedup
    // collapses events to at most span-many rows per user, then the
    // island id is the classic day − row_number() constant — consecutive
    // days share it, a gap breaks it — and per-user streak stats fold
    // over the island frame. Two bounded windows per user key (the frame
    // is calendar-bounded after dedup), exact integer day arithmetic.
    "q_islands" -> { (s, dir) =>
      val days = Tables.events(s, dir)
        .select(col("user_id"),
          datediff(to_date(col("ts")), lit("1970-01-01")).cast("long").as("d"))
        .distinct()
      val w = Window.partitionBy("user_id").orderBy("d")
      val islands = days
        .withColumn("grp", col("d") - row_number().over(w))
        .groupBy("user_id", "grp").agg(count(lit(1)).as("len"),
          min("d").as("start_d"))
      islands.groupBy("user_id")
        .agg(count(lit(1)).as("n_islands"),
          max("len").as("longest_streak"),
          sum("len").as("n_active_days"),
          // longest streak, ties to the earliest start — the q_peak_detect
          // packed-struct max (lexicographic struct compare on both engines)
          max(struct(col("len"), (-col("start_d")).as("nsd"), col("start_d")))
            .getField("start_d").as("best_start_d"))
        .orderBy("user_id")
    },

    // NS: per-source freshness SLA census — the data-ops monitor every
    // warehouse runs ("is this feed still flowing?"): per event type, the
    // lag of its LAST event behind the globally freshest event, in exact
    // integer minutes (epoch-micros DIV — no timestamp formatting crosses
    // the engines), and the ≤120-min SLA verdict. One combinable max/count
    // aggregate per type + a broadcast global max: the cost is a scan.
    "q_freshness" -> { (s, dir) =>
      val perType = Tables.events(s, dir)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          max(unix_micros(col("ts"))).as("last_us"))
      val globalMax = perType.agg(max("last_us").as("g_us"))
      perType.crossJoin(broadcast(globalMax))
        .select(col("event_type"), col("n_events"),
          expr("(g_us - last_us) DIV 60000000").as("lag_min"))
        .withColumn("is_fresh", (col("lag_min") <= 120L).cast("long"))
        .orderBy("event_type")
    }
  )

  def oracleSql: Map[String, String] = Map(
    "q_bollinger" ->
      """WITH h AS (
        |  SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS hi,
        |         CAST(sum(CAST(round(value * 1000) AS BIGINT)) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT event_type, x,
        |             count(*) OVER w AS n,
        |             CAST(sum(x) OVER w AS BIGINT) AS sx,
        |             CAST(sum(x * x) OVER w AS BIGINT) AS sxx
        |      FROM h WINDOW w AS (PARTITION BY event_type ORDER BY hi
        |        ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)),
        |v AS (SELECT event_type, n, n * x - sx AS dev,
        |             4 * (n * sxx - sx * sx) AS var4 FROM r)
        |SELECT event_type,
        |       CAST(sum(CASE WHEN n = 24 THEN 1 ELSE 0 END) AS BIGINT) AS n_hours,
        |       CAST(sum(CASE WHEN n = 24 AND dev > 0 AND dev * dev > var4
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_above,
        |       CAST(sum(CASE WHEN n = 24 AND dev < 0 AND dev * dev > var4
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_below
        |FROM v GROUP BY 1 ORDER BY event_type""".stripMargin,
    "q_peak_detect" ->
      """WITH h AS (
        |  SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS hi,
        |         count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |m AS (SELECT event_type, hi, n,
        |             lag(n) OVER w AS p, lead(n) OVER w AS x,
        |             count(*) OVER (PARTITION BY event_type) AS n_hours,
        |             sum(n) OVER (PARTITION BY event_type) AS total
        |      FROM h WINDOW w AS (PARTITION BY event_type ORDER BY hi)),
        |k AS (SELECT event_type, hi, n, n_hours,
        |             CAST(p IS NOT NULL AND x IS NOT NULL AND n > p AND n > x
        |                  AND n * n_hours > total AS BIGINT) AS is_peak
        |      FROM m)
        |SELECT event_type, CAST(max(n_hours) AS BIGINT) AS n_hours,
        |       CAST(sum(is_peak) AS BIGINT) AS n_peaks,
        |       CAST((max(CASE WHEN is_peak = 1 THEN struct_pack(n := n, nhi := -hi) END)).n
        |            AS BIGINT) AS top_peak_n,
        |       CAST(-(max(CASE WHEN is_peak = 1 THEN struct_pack(n := n, nhi := -hi) END)).nhi
        |            AS BIGINT) AS top_peak_hi
        |FROM k GROUP BY 1 ORDER BY event_type""".stripMargin,
    "q_interpolate_linear" ->
      """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value,
        |                  epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS hi
        |           FROM events),
        |obs AS (SELECT user_id, hi,
        |               CAST(round((max(struct_pack(ts := ts, event_id := event_id,
        |                 value := value))).value * 1000000) AS BIGINT) AS v_micro
        |        FROM e GROUP BY 1, 2),
        |b AS (SELECT user_id, min(hi) AS h0, max(hi) AS h1 FROM obs GROUP BY 1),
        |spine AS (SELECT user_id, unnest(generate_series(h0, h1)) AS hi FROM b),
        |j AS (SELECT s.user_id, s.hi, o.v_micro
        |      FROM spine s LEFT JOIN obs o ON s.user_id = o.user_id AND s.hi = o.hi),
        |n AS (SELECT user_id, hi, v_micro,
        |             last_value(v_micro IGNORE NULLS) OVER wp AS pv,
        |             last_value(CASE WHEN v_micro IS NOT NULL THEN hi END IGNORE NULLS)
        |               OVER wp AS ph,
        |             first_value(v_micro IGNORE NULLS) OVER wn AS nv,
        |             first_value(CASE WHEN v_micro IS NOT NULL THEN hi END IGNORE NULLS)
        |               OVER wn AS nh
        |      FROM j WINDOW
        |        wp AS (PARTITION BY user_id ORDER BY hi
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |        wn AS (PARTITION BY user_id ORDER BY hi
        |               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT user_id, hi,
        |       CAST(coalesce(v_micro,
        |         (pv * (nh - hi) + nv * (hi - ph)) // (nh - ph)) AS BIGINT) AS v_micro,
        |       CASE WHEN v_micro IS NOT NULL THEN 'obs' ELSE 'lerp' END AS src
        |FROM n ORDER BY user_id, hi""".stripMargin,
    "q_autocorr" ->
      """WITH s AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS hi,
        |                  count(*) AS n
        |           FROM events GROUP BY 1),
        |lags AS (SELECT unnest([1, 24, 168]) AS lag),
        |j AS (SELECT l.lag, a.n, b.n AS n_prev
        |      FROM lags l
        |      JOIN s a ON true
        |      JOIN s b ON a.hi = b.hi + l.lag)
        |SELECT CAST(lag AS BIGINT) AS lag, count(*) AS n_pairs,
        |       round(corr(CAST(n AS DOUBLE), CAST(n_prev AS DOUBLE)), 6) AS acf
        |FROM j GROUP BY lag
        |ORDER BY lag""".stripMargin,
    // identical exact-integer lag statistics and the same shared DL tree
    "q_pacf" -> {
      def lagCte(k: Int) =
        s"""l$k AS (
           |  SELECT CAST(count(*) AS BIGINT) AS n$k,
           |         coalesce(CAST(sum(a.y) AS BIGINT), 0) AS sx$k,
           |         coalesce(CAST(sum(b.y) AS BIGINT), 0) AS sy$k,
           |         coalesce(CAST(sum(a.y * a.y) AS BIGINT), 0) AS sxx$k,
           |         coalesce(CAST(sum(b.y * b.y) AS BIGINT), 0) AS syy$k,
           |         coalesce(CAST(sum(a.y * b.y) AS BIGINT), 0) AS sxy$k
           |  FROM daily a JOIN daily b ON a.d = b.d + $k)""".stripMargin
      s"""WITH daily AS (
         |  SELECT CAST(ts AS DATE) - DATE '1970-01-01' AS d,
         |         CAST(count(*) AS BIGINT) AS y
         |  FROM events GROUP BY 1),
         |nd AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM daily),
         |${lagCte(1)},
         |${lagCte(2)},
         |${lagCte(3)},
         |rr AS (SELECT n_days, ${PacfRSql(1)} AS r1, ${PacfRSql(2)} AS r2,
         |              ${PacfRSql(3)} AS r3
         |       FROM nd CROSS JOIN l1 CROSS JOIN l2 CROSS JOIN l3),
         |p2 AS (SELECT *, $Pacf22Sql AS p22 FROM rr),
         |p1 AS (SELECT *, r1 - p22 * r1 AS p21 FROM p2),
         |p3 AS (SELECT *, $Pacf33Sql AS p33 FROM p1)
         |SELECT n_days,
         |       round(r1, 6) + 0.0 AS acf1, round(r2, 6) + 0.0 AS acf2,
         |       round(r3, 6) + 0.0 AS acf3, round(r1, 6) + 0.0 AS pacf1,
         |       round(p22, 6) + 0.0 AS pacf2, round(p33, 6) + 0.0 AS pacf3
         |FROM p3""".stripMargin
    },
    "q_survival_km" ->
      """WITH e AS (SELECT user_id, CAST(ts AS DATE) - DATE '1994-12-26' AS d FROM events),
        |mx AS (SELECT max(d) AS dmax FROM e),
        |users AS (SELECT least(max(d) - min(d), 30) AS t,
        |                 CASE WHEN max(d) > (SELECT dmax FROM mx) - 7 THEN 1 ELSE 0 END AS censored
        |          FROM e GROUP BY user_id),
        |grid AS (SELECT t, count(*) AS n_ended_at_t,
        |                CAST(sum(1 - censored) AS BIGINT) AS n_deaths,
        |                CAST(sum(censored) AS BIGINT) AS n_censored
        |         FROM users GROUP BY 1),
        |risk AS (SELECT *,
        |                CAST(sum(n_ended_at_t) OVER (ORDER BY t
        |                  ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT) AS n_at_risk
        |         FROM grid),
        |surv AS (SELECT *,
        |                max(CASE WHEN n_deaths = n_at_risk THEN 1 ELSE 0 END)
        |                  OVER (ORDER BY t) AS zero_flag,
        |                sum(CASE WHEN n_deaths < n_at_risk
        |                         THEN ln(1.0 - CAST(n_deaths AS DOUBLE) / n_at_risk)
        |                         ELSE 0.0 END) OVER (ORDER BY t) AS log_s
        |         FROM risk)
        |SELECT CAST(t AS BIGINT) AS t, n_at_risk, n_deaths, n_censored,
        |       CASE WHEN zero_flag = 1 THEN 0.0 ELSE round(exp(log_s), 6) END AS survival
        |FROM surv ORDER BY t""".stripMargin,
    "q_backtest_naive" ->
      """WITH e AS (SELECT event_type,
        |                  CAST(ts AS DATE) - DATE '1994-12-26' AS d,
        |                  hour(ts) AS hr
        |           FROM events),
        |mx AS (SELECT max(d) AS dmax FROM e),
        |train AS (SELECT event_type, d % 7 AS dow, hr,
        |                 count(*) AS cnt, count(DISTINCT d) AS n_days
        |          FROM e CROSS JOIN mx WHERE d <= dmax - 7
        |          GROUP BY 1, 2, 3),
        |test AS (SELECT event_type, d % 7 AS dow, hr, count(*) AS cnt_test
        |         FROM e CROSS JOIN mx WHERE d > dmax - 7
        |         GROUP BY 1, 2, 3),
        |cells AS (SELECT t.event_type, t.cnt_test,
        |                 coalesce(tr.cnt * 100 // tr.n_days, 0) AS pred_x100,
        |                 CASE WHEN tr.n_days IS NULL THEN 1 ELSE 0 END AS cold
        |          FROM test t LEFT JOIN train tr
        |            USING (event_type, dow, hr))
        |SELECT event_type, count(*) AS n_cells,
        |       CAST(sum(cold) AS BIGINT) AS n_cold_cells,
        |       CAST(sum(cnt_test) AS BIGINT) AS test_events,
        |       CAST(sum(pred_x100) AS BIGINT) AS pred_total_x100,
        |       CAST(sum(abs(cnt_test * 100 - pred_x100)) // count(*) AS BIGINT) AS mae_x100
        |FROM cells GROUP BY 1 ORDER BY event_type""".stripMargin,
    "q_anomaly_seasonal" ->
      """WITH hourly AS (
        |  SELECT (CAST(ts AS DATE) - DATE '1994-12-26') AS day, hour(ts) AS hr,
        |         count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |h2 AS (SELECT day, hr, n, CAST((day % 7) * 24 + hr AS BIGINT) AS how FROM hourly),
        |prof AS (SELECT how, CAST(2 * median(n) AS BIGINT) AS med2 FROM h2 GROUP BY 1),
        |j AS (SELECT h2.how, n, med2,
        |             CAST(abs(2 * n - med2) * 100 > 50 * med2 AS BIGINT) AS flag
        |      FROM h2 JOIN prof ON h2.how = prof.how)
        |SELECT how, count(*) AS n_hours, max(med2) AS med2,
        |       CAST(sum(flag) AS BIGINT) AS n_flagged,
        |       CAST(sum(flag) * 1000000 // count(*) AS BIGINT) AS flag_ppm
        |FROM j GROUP BY how
        |ORDER BY how""".stripMargin,
    "q_seasonal_profile" ->
      """WITH grid AS (SELECT event_type,
        |                     (CAST(ts AS DATE) - DATE '1994-12-26') % 7 AS dow,
        |                     hour(ts) AS hr, count(*) AS n
        |              FROM events GROUP BY 1, 2, 3),
        |tot AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS n_total FROM grid GROUP BY 1),
        |peak AS (SELECT event_type, dow, hr, n,
        |                row_number() OVER (PARTITION BY event_type
        |                                   ORDER BY n DESC, dow, hr) AS rk
        |         FROM grid)
        |SELECT p.event_type, t.n_total,
        |       CAST(dow AS BIGINT) AS peak_dow, CAST(hr AS BIGINT) AS peak_hr,
        |       n AS peak_n,
        |       CAST(n * 1000000 // n_total AS BIGINT) AS peak_share_ppm
        |FROM peak p JOIN tot t USING (event_type)
        |WHERE rk = 1
        |ORDER BY event_type""".stripMargin,
    "q_wau_sliding" ->
      """WITH du AS (SELECT DISTINCT CAST(ts AS DATE) - DATE '1995-01-01' AS d, user_id
        |            FROM events),
        |dau AS (SELECT d, count(DISTINCT user_id) AS dau FROM du GROUP BY 1),
        |ex AS (SELECT unnest(generate_series(d, d + 6)) AS wd, user_id FROM du),
        |wau AS (SELECT wd, count(DISTINCT user_id) AS wau7 FROM ex GROUP BY 1)
        |SELECT DATE '1995-01-01' + CAST(d AS INTEGER) AS day, dau, wau7
        |FROM dau JOIN wau ON d = wd
        |ORDER BY day""".stripMargin,
    "q_resample_1h" ->
      """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
        |h AS (SELECT user_id, date_trunc('hour', ts) AS hour, count(*) AS n,
        |             (max(struct_pack(ts := ts, event_id := event_id, value := value))).value AS last_v
        |      FROM e GROUP BY user_id, hour),
        |b AS (SELECT user_id, min(date_trunc('hour', ts)) AS h0, max(date_trunc('hour', ts)) AS h1
        |      FROM e GROUP BY user_id),
        |spine AS (SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour FROM b),
        |j AS (SELECT s.user_id, s.hour, coalesce(h.n, 0) AS n_events, h.last_v
        |      FROM spine s LEFT JOIN h USING (user_id, hour))
        |SELECT user_id, hour, CAST(n_events AS BIGINT) AS n_events,
        |       round(last_value(last_v IGNORE NULLS) OVER (
        |         PARTITION BY user_id ORDER BY hour
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS filled
        |FROM j ORDER BY user_id, hour""".stripMargin,
    "q_scd2_history" ->
      """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type FROM events),
        |m AS (SELECT user_id, event_id, ts, event_type,
        |             lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        |      FROM e),
        |c AS (SELECT user_id, event_id, ts, event_type FROM m
        |      WHERE prev_type IS NULL OR prev_type <> event_type)
        |SELECT user_id, event_type, ts AS valid_from,
        |       lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
        |       CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS version,
        |       CAST(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL AS BIGINT) AS is_current
        |FROM c ORDER BY user_id, version""".stripMargin,
    "q_time_weighted_avg" ->
      """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
        |g AS (SELECT user_id, value,
        |             CAST(epoch_us(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) -
        |                  epoch_us(ts) AS DOUBLE) AS gap_us
        |      FROM e)
        |SELECT user_id, count(*) AS n_segments,
        |       round(sum(value * gap_us) / sum(gap_us), 6) AS twa
        |FROM g WHERE gap_us IS NOT NULL
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_seq_pattern" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type FROM events),
        |c AS (SELECT user_id, min(ts) AS t_click FROM e
        |      WHERE event_type = 'click' GROUP BY user_id),
        |v AS (SELECT e.user_id, c.t_click, min(e.ts) AS t_view
        |      FROM e JOIN c USING (user_id)
        |      WHERE e.event_type = 'view' AND e.ts > c.t_click
        |      GROUP BY e.user_id, c.t_click),
        |p AS (SELECT e.user_id, v.t_click, v.t_view, min(e.ts) AS t_purchase
        |      FROM e JOIN v USING (user_id)
        |      WHERE e.event_type = 'purchase' AND e.ts > v.t_view
        |      GROUP BY e.user_id, v.t_click, v.t_view)
        |SELECT user_id, t_click, t_view, t_purchase,
        |       epoch_us(t_purchase) - epoch_us(t_click) AS span_us
        |FROM p ORDER BY user_id""".stripMargin,
    // the oracle joins on the overlap predicate directly (theta join is
    // fine at oracle scale); the engine's bucketed plan must produce the
    // identical pair set + overlaps
    "q_interval_join" ->
      """WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |g AS (SELECT *, epoch_us(ts) - epoch_us(lag(ts, 1)
        |        OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS gap_us FROM e),
        |s AS (SELECT *, sum(CASE WHEN gap_us IS NULL OR gap_us > 1800000000 THEN 1 ELSE 0 END)
        |        OVER (PARTITION BY user_id ORDER BY ts, event_id
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_idx
        |      FROM g),
        |sess AS (SELECT user_id, CAST(sess_idx AS BIGINT) AS sess_idx,
        |                min(epoch_us(ts)) AS s_us, max(epoch_us(ts)) AS e_us
        |         FROM s GROUP BY user_id, sess_idx),
        |b AS (SELECT min(epoch_us(ts)) // 3600000000 AS h0,
        |             max(epoch_us(ts)) // 3600000000 AS h1 FROM e),
        |wins AS (SELECT unnest(range(h0, h1 + 1)) AS h FROM b),
        |w2 AS (SELECT h * 3600000000 + 900000000 AS ws_us,
        |              h * 3600000000 + 2700000000 AS we_us FROM wins)
        |SELECT s.user_id, s.sess_idx, w.ws_us,
        |       least(s.e_us, w.we_us) - greatest(s.s_us, w.ws_us) AS overlap_us
        |FROM sess s JOIN w2 w
        |  ON least(s.e_us, w.we_us) - greatest(s.s_us, w.ws_us) > 0
        |ORDER BY user_id, sess_idx, ws_us""".stripMargin,
    "q_rolling_corr" ->
      """WITH h AS (SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hr,
        |                  sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::DOUBLE AS clicks,
        |                  sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::DOUBLE AS buys
        |           FROM events GROUP BY 1),
        |r AS (SELECT hr, clicks, buys,
        |             corr(clicks, buys) OVER (ORDER BY hr
        |               ROWS BETWEEN 23 PRECEDING AND CURRENT ROW) AS c,
        |             count(*) OVER (ORDER BY hr
        |               ROWS BETWEEN 23 PRECEDING AND CURRENT ROW) AS nw
        |      FROM h)
        |SELECT hr, CAST(clicks AS BIGINT) AS clicks, CAST(buys AS BIGINT) AS buys,
        |       round(coalesce(c, 0.0), 6) + 0.0 AS roll_corr
        |FROM r WHERE nw >= 24 ORDER BY hr""".stripMargin,
    "q_changepoint" ->
      """WITH h AS (SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hr, count(*)::DOUBLE AS n
        |           FROM events GROUP BY 1),
        |m AS (SELECT hr, n, avg(n) OVER () AS mu, count(*) OVER () AS n_hours FROM h),
        |c AS (SELECT hr, n_hours, sum(n - mu) OVER (ORDER BY hr
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cusum FROM m)
        |SELECT hr AS cp_hr, round(cusum, 6) + 0.0 AS cusum_at_cp, CAST(n_hours AS BIGINT) AS n_hours
        |FROM c ORDER BY round(abs(cusum), 6) DESC, hr LIMIT 1""".stripMargin,
    "q_rfm" ->
      """WITH e AS (SELECT user_id, value, epoch_us(CAST(ts AS TIMESTAMP)) AS tus FROM events),
        |ref AS (SELECT max(tus) AS t_ref FROM e),
        |b AS (SELECT user_id, max(tus) AS t_last, count(*) AS frequency,
        |             round(sum(value), 6) AS monetary
        |      FROM e GROUP BY user_id),
        |b2 AS (SELECT user_id, frequency, monetary,
        |              round(CAST(t_ref - t_last AS DOUBLE) / 3600000000.0, 6) AS recency_h,
        |              (t_ref - t_last) // 3600000000 AS r_q,
        |              CAST(round(monetary) AS BIGINT) AS m_q
        |       FROM b CROSS JOIN ref),
        |q AS (SELECT quantile_cont(r_q, [0.2, 0.4, 0.6, 0.8]) AS qr,
        |             quantile_cont(frequency, [0.2, 0.4, 0.6, 0.8]) AS qf,
        |             quantile_cont(m_q, [0.2, 0.4, 0.6, 0.8]) AS qm
        |      FROM b2)
        |SELECT user_id, recency_h, frequency, monetary,
        |       CAST(CASE WHEN CAST(r_q AS DOUBLE) <= qr[1] THEN 1
        |                 WHEN CAST(r_q AS DOUBLE) <= qr[2] THEN 2
        |                 WHEN CAST(r_q AS DOUBLE) <= qr[3] THEN 3
        |                 WHEN CAST(r_q AS DOUBLE) <= qr[4] THEN 4 ELSE 5 END AS BIGINT) AS r_score,
        |       CAST(CASE WHEN CAST(frequency AS DOUBLE) >= qf[4] THEN 1
        |                 WHEN CAST(frequency AS DOUBLE) >= qf[3] THEN 2
        |                 WHEN CAST(frequency AS DOUBLE) >= qf[2] THEN 3
        |                 WHEN CAST(frequency AS DOUBLE) >= qf[1] THEN 4 ELSE 5 END AS BIGINT) AS f_score,
        |       CAST(CASE WHEN CAST(m_q AS DOUBLE) >= qm[4] THEN 1
        |                 WHEN CAST(m_q AS DOUBLE) >= qm[3] THEN 2
        |                 WHEN CAST(m_q AS DOUBLE) >= qm[2] THEN 3
        |                 WHEN CAST(m_q AS DOUBLE) >= qm[1] THEN 4 ELSE 5 END AS BIGINT) AS m_score
        |FROM b2 CROSS JOIN q ORDER BY user_id""".stripMargin,
    "q_decay_agg" ->
      """WITH e AS (SELECT user_id, value, epoch_us(CAST(ts AS TIMESTAMP)) AS tus FROM events),
        |m AS (SELECT max(tus) AS t_max FROM e)
        |SELECT user_id, count(*) AS n,
        |       round(sum(value * exp((-0.6931471805599453 / 24.0) *
        |             CAST(t_max - tus AS DOUBLE) / 3600000000.0)), 6) AS decayed_sum
        |FROM e CROSS JOIN m GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_disorder_census" ->
      s"""WITH e AS (SELECT user_id, event_id,
        |                  event_id // 8 * 8 +
        |                  (${Hash.prefixSql("'arr:' || CAST(event_id AS VARCHAR)")} % 8) AS arr,
        |                  epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |           FROM events),
        |r AS (SELECT us, max(us) OVER (PARTITION BY user_id ORDER BY arr, event_id
        |                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_max
        |      FROM e),
        |d AS (SELECT run_max - us AS dis_us FROM r),
        |hist AS (SELECT CAST(dis_us // 60000000 AS BIGINT) AS dis_m,
        |                CAST(dis_us > 0 AS BIGINT) AS is_late, count(*) AS n
        |         FROM d GROUP BY 1, 2),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_events,
        |               CAST(sum(is_late * n) AS BIGINT) AS n_late,
        |               max(dis_m) AS max_m FROM hist),
        |h2 AS (SELECT dis_m, sum(n) AS n FROM hist GROUP BY 1),
        |cum AS (SELECT dis_m, sum(n) OVER (ORDER BY dis_m) AS cum FROM h2),
        |px AS (SELECT min(CASE WHEN cum * 100 >= n_events * 50 THEN dis_m END) AS p50_m,
        |              min(CASE WHEN cum * 100 >= n_events * 95 THEN dis_m END) AS p95_m,
        |              min(CASE WHEN cum * 100 >= n_events * 99 THEN dis_m END) AS p99_m
        |       FROM cum CROSS JOIN tot)
        |SELECT n_events, n_late,
        |       CAST(n_late * 1000000 // n_events AS BIGINT) AS late_ppm,
        |       p50_m, p95_m, p99_m, max_m
        |FROM tot CROSS JOIN px""".stripMargin,
    // identical integer recursion, replayed as a recursive CTE over the
    // per-type day rank
    "q_ses_forecast" ->
      """WITH RECURSIVE
        |daily AS (SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS x
        |          FROM events GROUP BY 1, 2),
        |rd AS (SELECT event_type, x,
        |              row_number() OVER (PARTITION BY event_type ORDER BY day) AS i
        |       FROM daily),
        |f(event_type, i, s, sae) AS (
        |  SELECT event_type, i, x, CAST(0 AS BIGINT) FROM rd WHERE i = 1
        |  UNION ALL
        |  SELECT rd.event_type, rd.i, (rd.x + f.s) // 2, f.sae + abs(rd.x - f.s)
        |  FROM f JOIN rd ON rd.event_type = f.event_type AND rd.i = f.i + 1),
        |last AS (SELECT event_type, i, s, sae,
        |                row_number() OVER (PARTITION BY event_type ORDER BY i DESC) AS rk
        |         FROM f)
        |SELECT event_type, CAST(i AS BIGINT) AS n_days, s AS level, sae,
        |       CASE WHEN i > 1 THEN sae * 1000 // (i - 1) ELSE CAST(0 AS BIGINT) END AS mae_milli
        |FROM last WHERE rk = 1 ORDER BY event_type""".stripMargin,
    // identical phase census, once-per-phase micro trig, exact dots
    "q_spectral_power" -> {
      def bin(p: Long) =
        s"""SELECT $p AS period, n_events, c_sum, s_sum,
           |       CAST(floor(sqrt(CAST(c_sum AS DOUBLE) * CAST(c_sum AS DOUBLE)
           |         + CAST(s_sum AS DOUBLE) * CAST(s_sum AS DOUBLE)) / 1000.0e0) AS BIGINT)
           |         AS amp_milli,
           |       CAST(floor(sqrt(CAST(c_sum AS DOUBLE) * CAST(c_sum AS DOUBLE)
           |         + CAST(s_sum AS DOUBLE) * CAST(s_sum AS DOUBLE))
           |         / CAST(n_events AS DOUBLE)) AS BIGINT) AS share_ppm
           |FROM (
           |  SELECT CAST(sum(xk) AS BIGINT) AS n_events,
           |         CAST(sum(xk * ck) AS BIGINT) AS c_sum,
           |         CAST(sum(xk * sk) AS BIGINT) AS s_sum
           |  FROM (
           |    SELECT xk,
           |           CAST(round(cos(6.283185307179586e0 * CAST(k AS DOUBLE) / ${p}.0e0)
           |             * 1000000) AS BIGINT) AS ck,
           |           CAST(round(sin(6.283185307179586e0 * CAST(k AS DOUBLE) / ${p}.0e0)
           |             * 1000000) AS BIGINT) AS sk
           |    FROM (SELECT hi % $p AS k, CAST(sum(x) AS BIGINT) AS xk
           |          FROM hourly GROUP BY 1)))""".stripMargin
      s"""WITH hourly AS (
         |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS hi,
         |         CAST(count(*) AS BIGINT) AS x
         |  FROM events GROUP BY 1)
         |${bin(24)}
         |UNION ALL
         |${bin(168)}
         |ORDER BY period""".stripMargin
    },
    // identical sorted-window medians (lower-median convention, exact ints)
    "q_hampel" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |                      CAST(count(*) AS BIGINT) AS x
        |               FROM events GROUP BY 1, 2),
        |w AS (SELECT event_type, day, x,
        |             list_sort(list(x) OVER (PARTITION BY event_type ORDER BY day
        |               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)) AS win
        |      FROM daily),
        |m AS (SELECT *, win[(len(win) + 1) // 2] AS med FROM w),
        |d AS (SELECT *, list_sort(list_transform(win, v -> abs(v - med))) AS devs FROM m),
        |f AS (SELECT *, devs[(len(devs) + 1) // 2] AS mad FROM d)
        |SELECT event_type, day, x, med, mad,
        |       CAST(abs(x - med) * 10000 > mad * 44478 AS BIGINT) AS outlier
        |FROM f ORDER BY event_type, day""".stripMargin,
    // identical integer PH recursion replayed as a recursive CTE (the
    // base row IS the fold's first step from the zero state: term at
    // n=1 is always −δ, so ph1 = −50 and mn1 = least(0, −50))
    "q_page_hinkley" ->
      """WITH RECURSIVE
        |daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |                 CAST(count(*) AS BIGINT) AS x
        |          FROM events GROUP BY 1, 2),
        |rd AS (SELECT event_type, x,
        |              row_number() OVER (PARTITION BY event_type ORDER BY day) AS i
        |       FROM daily),
        |f(event_type, i, s, ph, mn, al) AS (
        |  SELECT event_type, i, x, CAST(-50 AS BIGINT), CAST(-50 AS BIGINT),
        |         CAST(0 AS BIGINT)
        |  FROM rd WHERE i = 1
        |  UNION ALL
        |  SELECT event_type, i, s, ph, least(f_mn, ph) AS mn,
        |         f_al + CASE WHEN ph - least(f_mn, ph) > 5000 THEN 1 ELSE 0 END
        |  FROM (
        |    SELECT rd.event_type, rd.i, f.s + rd.x AS s,
        |           f.ph + (rd.x * 1000 - ((f.s + rd.x) * 1000 // rd.i) - 50) AS ph,
        |           f.mn AS f_mn, f.al AS f_al
        |    FROM f JOIN rd ON rd.event_type = f.event_type AND rd.i = f.i + 1) step),
        |last AS (SELECT event_type, i, ph, mn, al,
        |                row_number() OVER (PARTITION BY event_type ORDER BY i DESC) AS rk
        |         FROM f)
        |SELECT event_type, CAST(i AS BIGINT) AS n_days, ph AS ph_milli,
        |       mn AS min_ph_milli, al AS n_alarms,
        |       CAST(al > 0 AS BIGINT) AS drift
        |FROM last WHERE rk = 1 ORDER BY event_type""".stripMargin,
    // identical signed truncating halving (BIGINT // truncates like DIV)
    "q_holt_forecast" ->
      """WITH RECURSIVE
        |daily AS (SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS x
        |          FROM events GROUP BY 1, 2),
        |rd AS (SELECT event_type, x,
        |              row_number() OVER (PARTITION BY event_type ORDER BY day) AS i
        |       FROM daily),
        |f(event_type, i, l, b, sae) AS (
        |  SELECT event_type, i, x, CAST(0 AS BIGINT), CAST(0 AS BIGINT)
        |  FROM rd WHERE i = 1
        |  UNION ALL
        |  SELECT rd.event_type, rd.i,
        |         (rd.x + f.l + f.b) // 2,
        |         ((rd.x + f.l + f.b) // 2 - f.l + f.b) // 2,
        |         f.sae + abs(rd.x - (f.l + f.b))
        |  FROM f JOIN rd ON rd.event_type = f.event_type AND rd.i = f.i + 1),
        |last AS (SELECT event_type, i, l, b, sae,
        |                row_number() OVER (PARTITION BY event_type ORDER BY i DESC) AS rk
        |         FROM f)
        |SELECT event_type, CAST(i AS BIGINT) AS n_days, l AS level, b AS trend,
        |       l + b AS forecast_next,
        |       CASE WHEN i > 1 THEN sae * 1000 // (i - 1) ELSE CAST(0 AS BIGINT) END AS mae_milli
        |FROM last WHERE rk = 1 ORDER BY event_type""".stripMargin,
    // same type-7 percentile list, floored to the integer grid
    "q_qq_points" ->
      """WITH qa AS (
        |  SELECT quantile_cont(CAST(round(value * 1000) AS BIGINT),
        |           [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS q
        |  FROM events WHERE event_type = 'purchase'),
        |qb AS (
        |  SELECT quantile_cont(CAST(round(value * 1000) AS BIGINT),
        |           [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS q
        |  FROM events WHERE event_type = 'click'),
        |x AS (SELECT unnest(range(1, 10)) AS i FROM (SELECT 1))
        |SELECT CAST(i * 10 AS BIGINT) AS p_pct,
        |       CAST(floor(qa.q[i]) AS BIGINT) AS q_purchase_milli,
        |       CAST(floor(qb.q[i]) AS BIGINT) AS q_click_milli,
        |       CAST(floor(qa.q[i]) AS BIGINT) - CAST(floor(qb.q[i]) AS BIGINT) AS gap_milli
        |FROM x CROSS JOIN qa CROSS JOIN qb
        |ORDER BY p_pct""".stripMargin,
    // identical duration/censoring construction and O-E/V folds
    "q_logrank" ->
      s"""WITH e AS (
        |  SELECT user_id, date_diff('day', DATE '1994-12-26', CAST(ts AS DATE)) AS d
        |  FROM events),
        |mx AS (SELECT max(d) AS dmax FROM e),
        |users AS (
        |  SELECT user_id, least(max(d) - min(d), 30) AS t,
        |         CAST(max(d) > (SELECT dmax FROM mx) - 7 AS BIGINT) AS censored,
        |         ${Hash.prefixSql("'lr:' || CAST(user_id AS VARCHAR)")} % 2 AS g
        |  FROM e GROUP BY user_id),
        |ends AS (SELECT g, t, CAST(count(*) AS BIGINT) AS n_ended,
        |                CAST(sum(1 - censored) AS BIGINT) AS deaths
        |         FROM users GROUP BY 1, 2),
        |grid AS (SELECT DISTINCT t FROM ends),
        |gg AS (SELECT CAST(v AS BIGINT) AS g FROM (VALUES (0), (1)) x(v)),
        |filled AS (
        |  SELECT gg.g, grid.t, coalesce(e.n_ended, 0) AS n_ended,
        |         coalesce(e.deaths, 0) AS deaths
        |  FROM grid CROSS JOIN gg
        |  LEFT JOIN ends e ON e.g = gg.g AND e.t = grid.t),
        |risk AS (
        |  SELECT g, t, deaths,
        |         CAST(sum(n_ended) OVER (PARTITION BY g ORDER BY t
        |           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT) AS at_risk
        |  FROM filled),
        |byt AS (
        |  SELECT t,
        |         CAST(sum(CASE WHEN g = 1 THEN at_risk ELSE 0 END) AS BIGINT) AS n1,
        |         CAST(sum(CASE WHEN g = 1 THEN deaths ELSE 0 END) AS BIGINT) AS d1,
        |         CAST(sum(at_risk) AS BIGINT) AS n, CAST(sum(deaths) AS BIGINT) AS d
        |  FROM risk GROUP BY t
        |  HAVING sum(deaths) > 0 AND sum(at_risk) > 1),
        |terms AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_times, CAST(sum(d1) AS BIGINT) AS o1,
        |         sum(CAST(d AS DOUBLE) * CAST(n1 AS DOUBLE) / CAST(n AS DOUBLE)) AS e1,
        |         sum(CAST(d AS DOUBLE) * (CAST(n1 AS DOUBLE) / CAST(n AS DOUBLE))
        |             * (1.0 - CAST(n1 AS DOUBLE) / CAST(n AS DOUBLE))
        |             * (CAST(n AS DOUBLE) - CAST(d AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0)) AS v
        |  FROM byt)
        |SELECT n_times, coalesce(o1, 0) AS o1,
        |       round(coalesce(e1, 0.0), 4) AS e1, round(coalesce(v, 0.0), 4) AS v,
        |       CASE WHEN coalesce(v, 0.0) <= 0.0 THEN 0.0
        |            ELSE round((CAST(o1 AS DOUBLE) - e1) * (CAST(o1 AS DOUBLE) - e1) / v, 4)
        |       END AS chi2,
        |       CAST(CASE WHEN coalesce(v, 0.0) <= 0.0 THEN 0.0
        |                 ELSE round((CAST(o1 AS DOUBLE) - e1) * (CAST(o1 AS DOUBLE) - e1) / v, 4)
        |            END > 3.841459 AS BIGINT) AS curves_differ
        |FROM terms""".stripMargin,
    // identical span-grid cutoffs and role arithmetic
    "q_timeseries_cv" ->
      """WITH days AS (
        |  SELECT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1),
        |span AS (SELECT CAST(min(d) AS BIGINT) AS d0, CAST(max(d) AS BIGINT) AS d1 FROM days),
        |folds AS (SELECT CAST(f AS BIGINT) AS fold FROM (VALUES (1), (2), (3), (4)) v(f)),
        |r AS (
        |  SELECT f.fold, d.n, d.d,
        |         s.d0 + (s.d1 - s.d0) * f.fold // 6 AS cutoff
        |  FROM days d CROSS JOIN span s CROSS JOIN folds f),
        |roles AS (
        |  SELECT fold, n, d,
        |         CASE WHEN d <= cutoff THEN 'train'
        |              WHEN d <= cutoff + 3 THEN 'test'
        |              ELSE 'unused' END AS role
        |  FROM r)
        |SELECT fold,
        |       CAST(sum(CASE WHEN role = 'train' THEN n ELSE 0 END) AS BIGINT) AS n_train,
        |       CAST(sum(CASE WHEN role = 'test' THEN n ELSE 0 END) AS BIGINT) AS n_test,
        |       CAST(max(CASE WHEN role = 'train' THEN d END) AS BIGINT) AS max_train_d,
        |       CAST(min(CASE WHEN role = 'test' THEN d END) AS BIGINT) AS min_test_d,
        |       CAST(max(CASE WHEN role = 'train' THEN d END)
        |            < min(CASE WHEN role = 'test' THEN d END) AS BIGINT) AS no_leakage
        |FROM roles WHERE role <> 'unused'
        |GROUP BY fold ORDER BY fold""".stripMargin,
    // identical cumulative peaks and packed argmax
    "q_drawdown" ->
      """WITH daily AS (
        |  SELECT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
        |         CAST(sum(CAST(round(value * 1000) AS BIGINT)) AS BIGINT) AS v
        |  FROM events GROUP BY 1),
        |c1 AS (SELECT d, CAST(sum(v) OVER (ORDER BY d
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |       FROM daily),
        |c AS (SELECT d, cum, CAST(max(cum) OVER (ORDER BY d
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS peak
        |      FROM c1),
        |dd AS (SELECT d, cum, peak, peak - cum AS dd FROM c)
        |SELECT CAST(count(*) AS BIGINT) AS n_days,
        |       CAST(max(cum) AS BIGINT) AS final_cum_milli,
        |       (max(struct_pack(dd := dd, nd := -d, d := d, peak := peak))).dd AS max_drawdown_milli,
        |       (max(struct_pack(dd := dd, nd := -d, d := d, peak := peak))).d AS trough_day,
        |       (max(struct_pack(dd := dd, nd := -d, d := d, peak := peak))).peak AS peak_before_milli,
        |       CASE WHEN (max(struct_pack(dd := dd, nd := -d, d := d, peak := peak))).peak > 0
        |         THEN (max(struct_pack(dd := dd, nd := -d, d := d, peak := peak))).dd * 1000000
        |              // (max(struct_pack(dd := dd, nd := -d, d := d, peak := peak))).peak
        |         ELSE CAST(0 AS BIGINT) END AS drawdown_ppm
        |FROM dd""".stripMargin,
    // identical scaled integer cusum, packed argmax and carry algebra
    "q_changepoint_binseg" ->
      """WITH idx AS (
        |  SELECT event_type, hi, x,
        |         CAST(row_number() OVER w AS BIGINT) AS i,
        |         CAST(sum(x) OVER (PARTITION BY event_type ORDER BY hi
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |  FROM (SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS hi,
        |               CAST(count(*) AS BIGINT) AS x
        |        FROM events GROUP BY 1, 2)
        |  WINDOW w AS (PARTITION BY event_type ORDER BY hi)),
        |tot AS (SELECT event_type, CAST(max(i) AS BIGINT) AS n,
        |               CAST(sum(x) AS BIGINT) AS t
        |        FROM idx GROUP BY 1),
        |cp1 AS (
        |  SELECT event_type,
        |         (max(m)).i AS i1, (max(m)).hi AS cp1_hi, (max(m)).sabs AS s1,
        |         (max(m)).cum AS cum1, (max(m)).n AS n, (max(m)).t AS t
        |  FROM (SELECT idx.event_type,
        |               struct_pack(sabs := abs(tot.n * idx.cum - idx.i * tot.t),
        |                           ni := -idx.i, i := idx.i, hi := idx.hi,
        |                           cum := idx.cum, n := tot.n, t := tot.t) AS m
        |        FROM idx JOIN tot USING (event_type)
        |        WHERE idx.i < tot.n)
        |  GROUP BY event_type),
        |seg AS (
        |  SELECT idx.event_type, idx.hi,
        |         CASE WHEN idx.i <= cp1.i1 THEN 'L' ELSE 'R' END AS segment,
        |         CASE WHEN idx.i <= cp1.i1 THEN idx.i ELSE idx.i - cp1.i1 END AS i_s,
        |         CASE WHEN idx.i <= cp1.i1 THEN idx.cum ELSE idx.cum - cp1.cum1 END AS cum_s,
        |         CASE WHEN idx.i <= cp1.i1 THEN cp1.i1 ELSE cp1.n - cp1.i1 END AS n_s,
        |         CASE WHEN idx.i <= cp1.i1 THEN cp1.cum1 ELSE cp1.t - cp1.cum1 END AS t_s
        |  FROM idx JOIN cp1 USING (event_type)),
        |cp2 AS (
        |  SELECT event_type, CAST(2 AS BIGINT) AS level, segment,
        |         (max(m)).hi AS cp_hi, (max(m)).n_s AS n_seg,
        |         (max(m)).sabs AS scaled_cusum
        |  FROM (SELECT event_type, segment,
        |               struct_pack(sabs := abs(n_s * cum_s - i_s * t_s),
        |                           ni := -i_s, hi := hi, n_s := n_s) AS m
        |        FROM seg WHERE i_s < n_s)
        |  GROUP BY event_type, segment)
        |SELECT event_type, CAST(1 AS BIGINT) AS level, 'FULL' AS segment,
        |       cp1_hi AS cp_hi, n AS n_seg, s1 AS scaled_cusum
        |FROM cp1
        |UNION ALL SELECT * FROM cp2
        |ORDER BY event_type, level, segment""".stripMargin,
    // identical milli grid and k/2-grid floored median chain
    "q_median_polish" ->
      """WITH hourly AS (
        |  SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS hi,
        |         CAST(count(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |grid AS (
        |  SELECT event_type, ((hi // 24 + 4) % 7) * 24 + hi % 24 AS how,
        |         CAST(sum(x) AS BIGINT) * 1000 // CAST(count(*) AS BIGINT) AS g
        |  FROM hourly GROUP BY 1, 2),
        |rm1 AS (SELECT event_type, CAST(floor(quantile_cont(g, 0.5)) AS BIGINT) AS rm1
        |        FROM grid GROUP BY 1),
        |s1 AS (SELECT grid.*, rm1.rm1, grid.g - rm1.rm1 AS r1
        |       FROM grid JOIN rm1 USING (event_type)),
        |cm1 AS (SELECT how, CAST(floor(quantile_cont(r1, 0.5)) AS BIGINT) AS cm1
        |        FROM s1 GROUP BY 1),
        |s2 AS (SELECT s1.*, cm1.cm1, s1.r1 - cm1.cm1 AS r2
        |       FROM s1 JOIN cm1 USING (how)),
        |rm2 AS (SELECT event_type, CAST(floor(quantile_cont(r2, 0.5)) AS BIGINT) AS rm2
        |        FROM s2 GROUP BY 1),
        |s3 AS (SELECT s2.*, rm2.rm2, s2.r2 - rm2.rm2 AS r3
        |       FROM s2 JOIN rm2 USING (event_type)),
        |cm2 AS (SELECT how, CAST(floor(quantile_cont(r3, 0.5)) AS BIGINT) AS cm2
        |        FROM s3 GROUP BY 1),
        |s4 AS (SELECT s3.*, cm2.cm2, s3.r3 - cm2.cm2 AS r4
        |       FROM s3 JOIN cm2 USING (how))
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_cells,
        |       CAST(max(rm1 + rm2) AS BIGINT) AS row_effect_milli,
        |       CAST(max(abs(r4)) AS BIGINT) AS max_abs_resid_milli,
        |       CAST(floor(quantile_cont(abs(r4), 0.5)) AS BIGINT) AS med_abs_resid_milli
        |FROM s4 GROUP BY event_type ORDER BY event_type""".stripMargin,
    // identical micro-unit group terms and integer eta2
    "q_seasonal_strength" ->
      """WITH hourly AS (
        |  SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS hi,
        |         CAST(count(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |hw AS (SELECT event_type, x,
        |              ((hi // 24 + 4) % 7) * 24 + hi % 24 AS how
        |       FROM hourly),
        |bh AS (SELECT event_type, how, CAST(sum(x) AS BIGINT) AS t_g,
        |              CAST(count(*) AS BIGINT) AS n_g
        |       FROM hw GROUP BY 1, 2),
        |bt AS (SELECT event_type,
        |              CAST(sum(t_g * t_g * 1000000 // n_g) AS BIGINT) AS ss_b_micro,
        |              (max(struct_pack(rate := t_g * 1000 // n_g,
        |                               nhow := -how, how := how))).how AS peak_how
        |       FROM bh GROUP BY 1),
        |tt AS (SELECT event_type, CAST(sum(x) AS BIGINT) AS t,
        |              CAST(count(*) AS BIGINT) AS n,
        |              CAST(sum(x * x) AS BIGINT) AS sxx
        |       FROM hw GROUP BY 1)
        |SELECT bt.event_type, tt.n AS n_hours, bt.peak_how,
        |       CASE WHEN sxx * 1000000 - t * t * 1000000 // n = 0 THEN CAST(0 AS BIGINT)
        |            ELSE (ss_b_micro - t * t * 1000000 // n) * 1000000
        |                 // (sxx * 1000000 - t * t * 1000000 // n)
        |       END AS eta2_ppm
        |FROM bt JOIN tt USING (event_type)
        |ORDER BY bt.event_type""".stripMargin,
    // identical triple recursion; the LIST column carries the 7-slot
    // seasonal state through the recursive CTE
    "q_holt_winters" ->
      """WITH RECURSIVE
        |daily AS (SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS x
        |          FROM events GROUP BY 1, 2),
        |rd AS (SELECT event_type, x,
        |              (date_diff('day', DATE '1970-01-01', day) + 4) % 7 AS dow,
        |              row_number() OVER (PARTITION BY event_type ORDER BY day) AS i
        |       FROM daily),
        |f(event_type, i, l, b, sea, sae) AS (
        |  SELECT event_type, i, x, CAST(0 AS BIGINT),
        |         [CAST(0 AS BIGINT), 0, 0, 0, 0, 0, 0], CAST(0 AS BIGINT)
        |  FROM rd WHERE i = 1
        |  UNION ALL
        |  SELECT rd.event_type, rd.i,
        |         (rd.x - f.sea[CAST(rd.dow + 1 AS INT)] + f.l + f.b) // 2,
        |         (((rd.x - f.sea[CAST(rd.dow + 1 AS INT)] + f.l + f.b) // 2)
        |           - f.l + f.b) // 2,
        |         list_transform(range(0, 7), j -> CASE WHEN j = rd.dow
        |           THEN (rd.x - ((rd.x - f.sea[CAST(rd.dow + 1 AS INT)] + f.l + f.b) // 2)
        |                 + f.sea[CAST(j + 1 AS INT)]) // 2
        |           ELSE f.sea[CAST(j + 1 AS INT)] END),
        |         f.sae + abs(rd.x - (f.l + f.b + f.sea[CAST(rd.dow + 1 AS INT)]))
        |  FROM f JOIN rd ON rd.event_type = f.event_type AND rd.i = f.i + 1),
        |lastrow AS (SELECT *, row_number() OVER (PARTITION BY event_type
        |              ORDER BY i DESC) AS rk FROM f)
        |SELECT event_type, CAST(i AS BIGINT) AS n_days, l AS level, b AS trend,
        |       CASE WHEN i > 1 THEN sae * 1000 // (i - 1)
        |            ELSE CAST(0 AS BIGINT) END AS mae_milli,
        |       CAST(sea[1] AS BIGINT) AS sea0, CAST(sea[2] AS BIGINT) AS sea1,
        |       CAST(sea[3] AS BIGINT) AS sea2, CAST(sea[4] AS BIGINT) AS sea3,
        |       CAST(sea[5] AS BIGINT) AS sea4, CAST(sea[6] AS BIGINT) AS sea5,
        |       CAST(sea[7] AS BIGINT) AS sea6
        |FROM lastrow WHERE rk = 1 ORDER BY event_type""".stripMargin,
    // same day - row_number() island id and packed-struct best pick
    "q_islands" ->
      """WITH days AS (
        |  SELECT DISTINCT user_id,
        |         date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d
        |  FROM events),
        |g AS (SELECT user_id, d,
        |             d - row_number() OVER (PARTITION BY user_id ORDER BY d) AS grp
        |      FROM days),
        |isl AS (SELECT user_id, grp, CAST(count(*) AS BIGINT) AS len,
        |               CAST(min(d) AS BIGINT) AS start_d
        |        FROM g GROUP BY 1, 2)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_islands,
        |       CAST(max(len) AS BIGINT) AS longest_streak,
        |       CAST(sum(len) AS BIGINT) AS n_active_days,
        |       (max(struct_pack(len := len, nsd := -start_d, sd := start_d))).sd AS best_start_d
        |FROM isl GROUP BY user_id ORDER BY user_id""".stripMargin,
    // same epoch-micros integer lag; // = DIV on the non-negative lag
    "q_freshness" ->
      """WITH pt AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |         CAST(max(epoch_us(CAST(ts AS TIMESTAMP))) AS BIGINT) AS last_us
        |  FROM events GROUP BY event_type),
        |g AS (SELECT max(last_us) AS g_us FROM pt)
        |SELECT event_type, n_events,
        |       (g_us - last_us) // 60000000 AS lag_min,
        |       CAST((g_us - last_us) // 60000000 <= 120 AS BIGINT) AS is_fresh
        |FROM pt CROSS JOIN g ORDER BY event_type""".stripMargin
  )
}
