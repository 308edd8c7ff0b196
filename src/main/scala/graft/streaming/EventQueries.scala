package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.core.{Hash, Tables}

/** Streaming semantics (SURVEY.md §2.9), registered in their
  * batch-equivalent forms so the DuckDB oracle can check them: Spark's
  * `window()` / `session_window()` produce identical groupings in batch and
  * streaming mode, so correctness proven here carries over to the
  * `readStream` variants in [[Streams]] (whose watermark/state behavior is
  * covered by MemoryStream ScalaTests instead — not oracle-expressible).
  *
  * The reference is batch-only; its iterative loop is its only notion of
  * time (/root/reference/master.py:115-152).
  */
object EventQueries extends graft.SparkEntry.Module {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Events per type per 1-hour tumbling window.
    "q_stream_tumbling" -> { (s, dir) =>
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 6).as("sum_value"))
        .select(col("w.start").as("w_start"), col("event_type"), col("n"), col("sum_value"))
        .orderBy("w_start", "event_type")
    },
    // NS: streaming volume-anomaly monitor — per (type, 1-hour window),
    // flag counts deviating > 3σ from the EXPANDING history of prior
    // windows (the alert form a foreachBatch monitor keeps as running
    // (n, Σx, Σx²) state — exactly the cumulative frame here, so batch
    // and stream agree). All state is exact integers over window-summary
    // rows (thousands/year, never events); the 3σ test cross-multiplies
    // to (x·n − S)² > 9(n·Q − S²), compared in DOUBLE over the exact
    // BIGINTs (squares pass 2^63 at ~1e5 windows × 1e9 counts — the
    // register-choice discipline). Windows with < 3 prior observations
    // never alarm (totality).
    "q_stream_anomaly" -> { (s, dir) =>
      val wc = Tables.events(s, dir)
        .groupBy(window(col("ts"), "1 hour").getField("start").as("w_start"),
          col("event_type"))
        .agg(count(lit(1)).as("x"))
      val prior = Window.partitionBy("event_type").orderBy("w_start")
        .rowsBetween(Window.unboundedPreceding, -1)
      wc.withColumn("n_p", count(lit(1)).over(prior))
        .withColumn("s_p", coalesce(sum("x").over(prior), lit(0L)))
        .withColumn("q_p", coalesce(sum(col("x") * col("x")).over(prior), lit(0L)))
        .filter(col("n_p") >= 3)
        .select(col("event_type"), col("w_start"), col("x"), col("n_p"),
          expr("s_p * 1000 DIV n_p").as("mean_milli"),
          expr("CAST((CAST(x AS DOUBLE) * CAST(n_p AS DOUBLE) - CAST(s_p AS DOUBLE)) " +
            "* (CAST(x AS DOUBLE) * CAST(n_p AS DOUBLE) - CAST(s_p AS DOUBLE)) > " +
            "9.0e0 * (CAST(n_p AS DOUBLE) * CAST(q_p AS DOUBLE) " +
            "- CAST(s_p AS DOUBLE) * CAST(s_p AS DOUBLE)) AS BIGINT)").as("anomaly"))
        .orderBy("event_type", "w_start")
    },

    // NS: streaming distribution-drift monitor — per 1-hour window, the
    // total-variation distance of the event-type mix vs the PREVIOUS
    // observed window: the alert that catches an upstream producer change
    // (one type silently vanishing, a new type flooding) within one window
    // of it happening. Batch-equivalent form of the windowed-agg +
    // small-state comparison a `foreachBatch` monitor runs; the windowed
    // counts are ONE shuffle, and every later op (grid completion against
    // the bounded type set, per-type lag, per-window TV fold) runs over
    // window-summary rows — thousands per year, never events. Exact
    // integer TV numerator (the q_token_drift spelling): the only float is
    // one final division of exact ints.
    "q_stream_drift" -> { (s, dir) =>
      val wc = Tables.events(s, dir)
        .groupBy(window(col("ts"), "1 hour").getField("start").as("w_start"),
          col("event_type"))
        .agg(count(lit(1)).as("c"))
      val grid = wc.select("w_start").distinct()
        .crossJoin(wc.select("event_type").distinct())
        .join(wc, Seq("w_start", "event_type"), "left_outer")
        .select(col("w_start"), col("event_type"), coalesce(col("c"), lit(0L)).as("c"))
      val tot = grid.groupBy("w_start").agg(sum("c").as("n"))
      val lagW = Window.partitionBy("event_type").orderBy("w_start")
      grid.join(tot, "w_start")
        .withColumn("c_prev", lag("c", 1).over(lagW))
        .withColumn("n_prev", lag("n", 1).over(lagW))
        .filter(col("n_prev").isNotNull)
        .groupBy("w_start")
        .agg(max("n").as("n"), max("n_prev").as("n_prev"),
          sum(abs(col("c") * col("n_prev") - col("c_prev") * col("n"))).as("tv_num"))
        .withColumn("tv", round(col("tv_num").cast("double") /
          (col("n").cast("double") * col("n_prev").cast("double") * 2.0), 9))
        .orderBy("w_start")
    },
    // NS: windowed distinct users with BOUNDED state — streaming
    // COUNT(DISTINCT) is the canonical impossible streaming aggregate
    // (exact distinct needs state proportional to cardinality; Spark
    // rejects it in streaming mode). The FM register sketch
    // (queries/SketchQueries.q_fm_sketch's machinery, shared) solves it:
    // per window the state is 64 longs REGARDLESS of user count, and
    // bit_or is exactly the mergeable aggregate the engine's partial
    // aggregation / state-store merge needs — micro-batches combine
    // losslessly (the mergeability SketchCensusOpsSpec proves). Registered
    // in the batch-equivalent form (the q_stream_tumbling convention) with
    // the exact countDistinct alongside as the baseline a streaming run
    // cannot afford.
    "q_stream_distinct" -> { (s, dir) =>
      import graft.queries.SketchQueries
      val base = Tables.events(s, dir)
        .select(window(col("ts"), "1 hour").getField("start").as("w_start"),
          col("user_id"))
      val v = Hash.prefix(concat(lit("sd:"), col("user_id").cast("string")), 15)
      val regs = base
        .select(col("w_start"), v.as("v"))
        .select(col("w_start"), pmod(col("v"), lit(64L)).as("j"),
          expr("(v DIV 64) & -(v DIV 64)").as("lsb"))
        .groupBy("w_start", "j").agg(expr("bit_or(lsb)").as("b"))
      val sums = regs.select(col("w_start"), expr(SketchQueries.FmRSql).as("r"))
        .groupBy("w_start").agg(sum("r").as("sum_r"), count(lit(1)).as("n_regs"))
      val exact = base.distinct()
        .groupBy("w_start").agg(count(lit(1)).as("n_exact"))
      val est = SketchQueries.fmEstimate(col("sum_r"), col("n_regs"))
      sums.join(exact, "w_start")
        .select(col("w_start"), col("n_exact"), round(est, 4).as("est"),
          round(est / col("n_exact").cast("double") * 100, 2).as("est_vs_exact_x100"))
        .orderBy("w_start")
    },
    // NS: windowed top-N — the "trending now" panel: per 1-hour window the
    // top-3 event types by count. Batch-equivalent form (the
    // q_stream_tumbling convention) of the foreachBatch ranking a live
    // dashboard runs over its windowed-count state: the rank window
    // partitions BY WINDOW over the already-aggregated census (≤|types|
    // rows per window — never events), with the (count desc, type) order
    // total so rank ties cannot flip.
    "q_stream_topn" -> { (s, dir) =>
      val wc = Tables.events(s, dir)
        .groupBy(window(col("ts"), "1 hour").getField("start").as("w_start"),
          col("event_type"))
        .agg(count(lit(1)).as("n"))
      wc.withColumn("rk", row_number().over(
          Window.partitionBy("w_start").orderBy(col("n").desc, col("event_type"))))
        .filter(col("rk") <= 3)
        .select(col("w_start"), col("rk").cast("long").as("rk"),
          col("event_type"), col("n"))
        .orderBy("w_start", "rk")
    },
    // NS: streaming windowed p95 with BOUNDED state — exact streaming
    // percentiles are the other impossible streaming aggregate beside
    // COUNT(DISTINCT) (state grows with the value domain; Spark rejects
    // percentile in streaming mode). The log-octave quantile sketch
    // (q_histo_quantile_merge's machinery — base-2 octave keyed by the
    // BINARY-STRING LENGTH of the milli value, 16 sub-buckets, ≤2⁻⁴
    // relative error by construction) caps per-window state at ~1k
    // counters regardless of volume, and the bucket counts are exactly
    // the mergeable aggregate micro-batch state-store merges need.
    // Registered in the batch-equivalent form (the q_stream_tumbling
    // convention) with the exact nearest-rank p95 alongside as the
    // baseline a streaming run cannot afford, and the signed err_ppm.
    "q_stream_quantile" -> { (s, dir) =>
      val v = Tables.events(s, dir)
        .select(window(col("ts"), "1 hour").getField("start").as("w_start"),
          expr("CAST(round(value * 1000) AS BIGINT)").as("v"))
        .localCheckpoint(eager = false) // feeds the sketch and the exact baseline
      val hist = v
        .withColumn("b", length(conv(col("v"), 10, 2)).cast("long"))
        .withColumn("bucket",
          expr("b * 16 + (v * 16) DIV shiftleft(CAST(1 AS BIGINT), CAST(b AS INT))"))
        .groupBy("w_start", "bucket").agg(count(lit(1)).as("n"))
      val wv = Window.partitionBy("w_start").orderBy("bucket")
      val tot = hist.groupBy("w_start").agg(sum("n").as("nt"))
      val est = hist.join(tot, "w_start")
        .withColumn("cum", sum("n").over(wv))
        .groupBy("w_start")
        .agg(max("nt").as("n"),
          min(when(col("cum") * 100 >= col("nt") * 95, col("bucket"))).as("bk"))
        .withColumn("est_milli",
          expr("((bk % 16) * shiftleft(CAST(1 AS BIGINT), CAST(bk DIV 16 AS INT))) DIV 16"))
      val vc = v.groupBy("w_start", "v").agg(count(lit(1)).as("n"))
      val vtot = vc.groupBy("w_start").agg(sum("n").as("nt"))
      val exact = vc.join(vtot, "w_start")
        .withColumn("cum", sum("n").over(Window.partitionBy("w_start").orderBy("v")))
        .groupBy("w_start")
        .agg(min(when(col("cum") * 100 >= col("nt") * 95, col("v"))).as("exact_milli"))
      est.join(exact, "w_start")
        .select(col("w_start"), col("n"), col("est_milli"), col("exact_milli"),
          expr("""CASE WHEN exact_milli >= est_milli
                 |  THEN (exact_milli - est_milli) * 1000000 DIV exact_milli
                 |  ELSE -((est_milli - exact_milli) * 1000000 DIV exact_milli) END""".stripMargin)
            .as("err_ppm"))
        .orderBy("w_start")
    },
    // 1-hour window sliding every 15 minutes: each event lands in 4 windows.
    "q_stream_sliding" -> { (s, dir) =>
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"))
        .agg(count(lit(1)).as("n"))
        .select(col("w.start").as("w_start"), col("n"))
        .orderBy("w_start")
    },
    // Per-user sessions with a 30-minute inactivity gap: session_window in
    // batch mode; the oracle rebuilds sessions via the lag-gap + running-sum
    // rewrite (the classic batch sessionization).
    "q_stream_session" -> { (s, dir) =>
      Tables.events(s, dir)
        .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
        .agg(count(lit(1)).as("n_events"), round(sum("value"), 6).as("sum_value"))
        .select(col("user_id"), col("w.start").as("w_start"), col("n_events"), col("sum_value"))
        .orderBy("user_id", "w_start")
    },
    // True watermarked streaming run: the tumbling agg consumed as a real
    // readStream in Append mode — only windows the 1-hour watermark has
    // finalized are emitted. The oracle reproduces the emission rule:
    // window_end <= max(ts) - 1 hour.
    "q_stream_watermark" -> { (s, dir) =>
      Streams.drain(s, OutputMode.Append())(ss =>
          Streams.tumblingCounts(Streams.readEvents(ss, dir)))
        .select(col("w_start"), col("event_type"), col("n"))
        .orderBy("w_start", "event_type")
    },
    // Incremental K-Means over a real embedding stream (the stretch
    // q_stream_kmeans): file-stream the vectors, assign to the
    // deterministic init centroids, fold per-cid (sum, n) state in
    // mapGroupsWithState, emit the final means — which must equal the
    // batch iter-1 means (the oracle).
    "q_stream_kmeans" -> { (s, dir) =>
      val cents = graft.kmeans.Lloyd.initCentroidsFor(s, dir, graft.kmeans.KmeansQueries.K)
      val updates = Streams.drain(s, OutputMode.Update()) { ss =>
        import ss.implicits._
        val streamed = ss.readStream.schema(Tables.table(ss, dir, "embeddings").schema)
          .option("pathGlobFilter", "embeddings.parquet")
          .parquet(dir)
          .withColumn("embedding", col("embedding").cast("array<double>"))
          .withColumn("cid", graft.kmeans.Lloyd.assignCol(cents, col("embedding")))
          .select(col("cid"), col("embedding").as("coordinates"))
          .as[Streams.Assigned]
        Streams.incrementalKmeans(streamed).toDF()
      }
      // keep each cid's LAST update (max n), then explode to scalar rows
      updates
        .groupBy("cid")
        .agg(max(struct(col("n"), col("coordinates"))).as("last"))
        .select(col("cid"), col("last.n").as("n_points"),
          posexplode(col("last.coordinates")).as(Seq("pos", "v")))
        .select(col("cid"), col("pos"), round(col("v"), 7).as("m"), col("n_points"))
        .orderBy("cid", "pos")
    },
    // Stream-static join: the event stream enriched against the (static)
    // customer dim inside a real readStream run, aggregated per nation in
    // Complete mode. NO broadcast hint on the static side: a customer dim
    // scales with the corpus, so the planner must stay free to pick a
    // stream-side shuffle join when the dim outgrows the threshold —
    // Spark still broadcasts per micro-batch at fixture scale.
    "q_stream_join" -> { (s, dir) =>
      Streams.drain(s, OutputMode.Complete()) { ss =>
        val ev = Streams.readEvents(ss, dir)
        val cust = Tables.customer(ss, dir)
          .select(col("c_custkey"), col("c_nationkey"))
        ev.join(cust, ev("user_id") === cust("c_custkey"))
          .groupBy(col("c_nationkey").cast("long").as("nationkey"))
          .agg(count(lit(1)).as("n"), round(sum("value"), 6).as("sum_value"))
      }.orderBy("nationkey")
    },
    // True stream-stream interval join: click->purchase attribution within
    // a 1-hour window — a self-join of ONE file stream (both sides derive
    // from the same readEvents source; Spark still materializes two join
    // sides with their own state + watermarks, but the source listing/admin
    // is paid once — measured 0.6-0.9 s off the floor vs two readEvents).
    // The equality key (user_id) partitions join state; the time-interval
    // condition + per-side watermarks bound how long each side's rows are
    // retained — the state-cleanup contract that makes this run forever on
    // an unbounded 100 TB/day stream. Inner join in Append mode emits each
    // match exactly once; on a drained finite stream that equals the batch
    // interval join (the oracle). Drained via Trigger.AvailableNow (same
    // result on a finite source, one fewer empty finalization batch).
    "q_stream_stream_join" -> { (s, dir) =>
      // Skip the trailing no-data micro-batch. For an INNER interval join
      // every match is emitted in the data batch that completes it; the
      // no-data batch only advances the watermark to EVICT state —
      // output-invariant on a drained finite stream (probed: 371 = 371
      // rows, 2 batches -> 1, 2.5 -> 1.6 s; the oracle re-pins it). On an
      // unbounded production stream this conf stays ON (state eviction is
      // the liveness contract) — it is scoped to this drain's session.
      Streams.drain(s, OutputMode.Append(), Streams.NoDataBatches -> "false") { ss =>
        val ev = Streams.readEvents(ss, dir)
        val clicks = ev
          .filter(col("event_type") === "click")
          .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("click_ts"))
          .withWatermark("click_ts", "1 hour")
        val purchases = ev
          .filter(col("event_type") === "purchase")
          .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"), col("ts").as("p_ts"))
          .withWatermark("p_ts", "1 hour")
        clicks.join(purchases,
          col("user_id") === col("p_user") &&
            col("p_ts") >= col("click_ts") &&
            col("p_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"))
      }.select(col("user_id"), col("click_id"), col("purchase_id"),
          (unix_micros(col("p_ts")) - unix_micros(col("click_ts"))).as("gap_us"))
        .orderBy("user_id", "click_id", "purchase_id")
    },
    // Drop duplicate event ids (batch form of dropDuplicatesWithinWatermark).
    // Restricted to the key column: among true duplicates Spark keeps an
    // arbitrary full row, so only the key set is deterministic.
    "q_stream_dedup" -> { (s, dir) =>
      Tables.events(s, dir)
        .select("event_id").dropDuplicates("event_id")
        .orderBy("event_id")
    },
    // NS: foreachBatch upsert sink — the pattern for pushing a streaming
    // aggregation into a non-streaming store: Update-mode per-type totals,
    // each micro-batch MERGEd into a versioned parquet snapshot
    // (Streams.drainUpserts). On the drained stream the last snapshot
    // equals the batch aggregate (the oracle). At 100 TB the same closure
    // targets a transactional table; the read-merge-write on the drain's
    // scratch dir is the minimal store this container has.
    "q_stream_foreachbatch" -> { (s, dir) =>
      Streams.drainUpserts(s, "event_type") { ss =>
        Streams.readEvents(ss, dir)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"), sum("value").as("sum_v"))
      }.select(col("event_type"), col("n"), round(col("sum_v"), 6).as("sum_v"))
        .orderBy("event_type")
    },
    // NS: Spark 4 `transformWithState` (the arbitrary-state successor of
    // mapGroupsWithState: named typed state handles + TTL, RocksDB-backed
    // so state lives off-heap and spills) — per-user running (count, sum)
    // in one ValueState cell per user. Update mode emits the running
    // totals per micro-batch; the LAST update per user on the drained
    // stream equals the batch group-by (the oracle).
    "q_stream_transformstate" -> { (s, dir) =>
      Streams.drain(s, OutputMode.Update(), "spark.sql.streaming.stateStore.providerClass" ->
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") { ss =>
        import ss.implicits._
        Streams.readEvents(ss, dir)
          .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
          .as[Streams.Event]
          .groupByKey(_.user_id)
          .transformWithState(new Streams.RunningTotalsProcessor,
            org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
          .toDF()
      }.groupBy("user_id")
        .agg(max(struct(col("n"), col("sum_value"))).as("last"))
        .select(col("user_id"), col("last.n").as("n_events"),
          round(col("last.sum_value"), 6).as("sum_value"))
        .orderBy("user_id")
    }
  )

  def oracleSql: Map[String, String] = Map(
    // identical octave bucketing (binary-string-length, no float log) and
    // nearest-rank exact baseline per hour window
    "q_stream_quantile" ->
      """WITH v AS (
        |  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS w_start,
        |         CAST(round(value * 1000) AS BIGINT) AS v
        |  FROM events),
        |hb AS (SELECT w_start, v, CAST(length(bin(v)) AS BIGINT) AS b FROM v),
        |h AS (SELECT w_start,
        |             b * 16 + (v * 16) // (CAST(1 AS BIGINT) << CAST(b AS INT)) AS bucket,
        |             count(*) AS n
        |      FROM hb GROUP BY 1, 2),
        |t AS (SELECT w_start, CAST(sum(n) AS BIGINT) AS nt FROM h GROUP BY 1),
        |c AS (SELECT h.w_start, h.bucket, h.n, t.nt,
        |             CAST(sum(h.n) OVER (PARTITION BY h.w_start ORDER BY h.bucket) AS BIGINT) AS cum
        |      FROM h JOIN t USING (w_start)),
        |e AS (SELECT w_start, CAST(max(nt) AS BIGINT) AS n,
        |             CAST(min(CASE WHEN cum * 100 >= nt * 95 THEN bucket END) AS BIGINT) AS bk
        |      FROM c GROUP BY w_start),
        |est AS (SELECT w_start, n,
        |               ((bk % 16) * (CAST(1 AS BIGINT) << CAST(bk // 16 AS INT))) // 16 AS est_milli
        |        FROM e),
        |vc AS (SELECT w_start, v, count(*) AS n FROM v GROUP BY 1, 2),
        |vt AS (SELECT w_start, CAST(sum(n) AS BIGINT) AS nt FROM vc GROUP BY 1),
        |ec AS (SELECT vc.w_start, vc.v, vt.nt,
        |              CAST(sum(vc.n) OVER (PARTITION BY vc.w_start ORDER BY vc.v) AS BIGINT) AS cum
        |       FROM vc JOIN vt USING (w_start)),
        |ex AS (SELECT w_start,
        |              CAST(min(CASE WHEN cum * 100 >= nt * 95 THEN v END) AS BIGINT) AS exact_milli
        |       FROM ec GROUP BY w_start)
        |SELECT est.w_start, est.n, est.est_milli, ex.exact_milli,
        |       CASE WHEN ex.exact_milli >= est.est_milli
        |         THEN (ex.exact_milli - est.est_milli) * 1000000 // ex.exact_milli
        |         ELSE -((est.est_milli - ex.exact_milli) * 1000000 // ex.exact_milli) END AS err_ppm
        |FROM est JOIN ex USING (w_start)
        |ORDER BY est.w_start""".stripMargin,
    "q_stream_tumbling" ->
      """SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS w_start, event_type,
        |       count(*) AS n, round(sum(value), 6) AS sum_value
        |FROM events GROUP BY w_start, event_type ORDER BY w_start, event_type""".stripMargin,
    "q_stream_topn" ->
      """WITH wc AS (SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS w_start,
        |                   event_type, count(*) AS n
        |            FROM events GROUP BY 1, 2),
        |r AS (SELECT w_start, event_type, n,
        |             CAST(row_number() OVER (PARTITION BY w_start
        |               ORDER BY n DESC, event_type) AS BIGINT) AS rk
        |      FROM wc)
        |SELECT w_start, rk, event_type, n
        |FROM r WHERE rk <= 3
        |ORDER BY w_start, rk""".stripMargin,
    // same md5 register derivation + LC/PCSA branch as q_fm_sketch
    "q_stream_distinct" ->
      s"""WITH b AS (SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS w_start, user_id,
        |                  ${Hash.prefixSql("'sd:' || CAST(user_id AS VARCHAR)", 15)} AS v
        |           FROM events),
        |regs AS (SELECT w_start, v % 64 AS j,
        |                bit_or((v // 64) & -(v // 64)) AS b
        |         FROM b GROUP BY 1, 2),
        |sums AS (SELECT w_start,
        |                CAST(sum(bit_count(((b + 1) & ~b) - 1)) AS BIGINT) AS sum_r,
        |                count(*) AS n_regs
        |         FROM regs GROUP BY 1),
        |ex AS (SELECT w_start, count(DISTINCT user_id) AS n_exact FROM b GROUP BY 1),
        |e AS (SELECT w_start, n_exact, 64 - n_regs AS ve,
        |             64.0 / 0.77351 * pow(2.0, CAST(sum_r AS DOUBLE) / 64.0) AS raw
        |      FROM sums JOIN ex USING (w_start)),
        |est AS (SELECT w_start, n_exact,
        |               CASE WHEN ve > 0 AND raw < 160.0
        |                    THEN 64.0 * ln(64.0 / CAST(ve AS DOUBLE))
        |                    ELSE raw END AS est
        |        FROM e)
        |SELECT w_start, n_exact, round(est, 4) AS est,
        |       round(est / CAST(n_exact AS DOUBLE) * 100, 2) AS est_vs_exact_x100
        |FROM est
        |ORDER BY w_start""".stripMargin,
    // same grid completion + per-type lag + exact integer TV fold
    // identical expanding integer state and the DOUBLE-compared 3-sigma test
    "q_stream_anomaly" ->
      """WITH wc AS (SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS w_start,
        |                   event_type, CAST(count(*) AS BIGINT) AS x
        |            FROM events GROUP BY 1, 2),
        |p AS (SELECT event_type, w_start, x,
        |             CAST(count(*) OVER w AS BIGINT) AS n_p,
        |             coalesce(CAST(sum(x) OVER w AS BIGINT), 0) AS s_p,
        |             coalesce(CAST(sum(x * x) OVER w AS BIGINT), 0) AS q_p
        |      FROM wc
        |      WINDOW w AS (PARTITION BY event_type ORDER BY w_start
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
        |SELECT event_type, w_start, x, n_p,
        |       s_p * 1000 // n_p AS mean_milli,
        |       CAST((CAST(x AS DOUBLE) * CAST(n_p AS DOUBLE) - CAST(s_p AS DOUBLE))
        |         * (CAST(x AS DOUBLE) * CAST(n_p AS DOUBLE) - CAST(s_p AS DOUBLE)) >
        |         9.0e0 * (CAST(n_p AS DOUBLE) * CAST(q_p AS DOUBLE)
        |         - CAST(s_p AS DOUBLE) * CAST(s_p AS DOUBLE)) AS BIGINT) AS anomaly
        |FROM p WHERE n_p >= 3
        |ORDER BY event_type, w_start""".stripMargin,
    "q_stream_drift" ->
      """WITH wc AS (SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS w_start,
        |                   event_type, count(*) AS c
        |            FROM events GROUP BY 1, 2),
        |grid AS (SELECT w.w_start, t.event_type,
        |                CAST(coalesce(wc.c, 0) AS BIGINT) AS c
        |         FROM (SELECT DISTINCT w_start FROM wc) w
        |         CROSS JOIN (SELECT DISTINCT event_type FROM wc) t
        |         LEFT JOIN wc ON wc.w_start = w.w_start AND wc.event_type = t.event_type),
        |tot AS (SELECT w_start, CAST(sum(c) AS BIGINT) AS n FROM grid GROUP BY 1),
        |lg AS (SELECT g.w_start, g.event_type, g.c, tot.n,
        |              lag(g.c) OVER (PARTITION BY g.event_type ORDER BY g.w_start) AS c_prev,
        |              lag(tot.n) OVER (PARTITION BY g.event_type ORDER BY g.w_start) AS n_prev
        |       FROM grid g JOIN tot USING (w_start))
        |SELECT w_start, max(n) AS n, max(n_prev) AS n_prev,
        |       CAST(sum(abs(c * n_prev - c_prev * n)) AS BIGINT) AS tv_num,
        |       round(CAST(sum(abs(c * n_prev - c_prev * n)) AS DOUBLE) /
        |             (CAST(max(n) AS DOUBLE) * max(n_prev) * 2.0), 9) AS tv
        |FROM lg WHERE n_prev IS NOT NULL
        |GROUP BY w_start ORDER BY w_start""".stripMargin,
    "q_stream_sliding" ->
      """WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts FROM events),
        |x AS (SELECT time_bucket(INTERVAL 15 MINUTE, ts) - k * INTERVAL 15 MINUTE AS w_start
        |      FROM e, UNNEST([0, 1, 2, 3]) AS t(k))
        |SELECT w_start, count(*) AS n FROM x GROUP BY w_start ORDER BY w_start""".stripMargin,
    // RANGE, not ROWS: events tied on (user_id, ts) are peers, so they share
    // one sid whichever of them the lag sort put first. A ROWS frame let the
    // two window sorts order such ties differently and split a session.
    "q_stream_session" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
        |gaps AS (
        |  SELECT user_id, ts, value,
        |         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) < INTERVAL 30 MINUTE
        |              THEN 0 ELSE 1 END AS new_session
        |  FROM e),
        |sess AS (
        |  SELECT user_id, ts, value,
        |         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |                                RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM gaps)
        |SELECT user_id, min(ts) AS w_start, count(*) AS n_events, round(sum(value), 6) AS sum_value
        |FROM sess GROUP BY user_id, sid ORDER BY user_id, w_start""".stripMargin,
    "q_stream_dedup" ->
      "SELECT DISTINCT event_id FROM events ORDER BY event_id",
    // drained foreachBatch-merged snapshot == batch aggregate
    "q_stream_foreachbatch" ->
      """SELECT event_type, count(*) AS n, round(sum(value), 6) AS sum_v
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // drained inner interval join == batch interval join
    "q_stream_stream_join" ->
      """WITH e AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type FROM events)
        |SELECT c.user_id AS user_id, c.event_id AS click_id, p.event_id AS purchase_id,
        |       epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
        |FROM e c JOIN e p
        |  ON c.user_id = p.user_id
        | AND c.event_type = 'click' AND p.event_type = 'purchase'
        | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
        |ORDER BY c.user_id, click_id, purchase_id""".stripMargin,
    // stream-static join == its batch equivalent once the stream drains
    "q_stream_join" ->
      """SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
        |       count(*) AS n, round(sum(value), 6) AS sum_value
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY nationkey ORDER BY nationkey""".stripMargin,
    "q_stream_watermark" ->
      """WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts, event_type FROM events),
        |wm AS (SELECT max(ts) - INTERVAL 1 HOUR AS wm FROM e)
        |SELECT date_trunc('hour', ts) AS w_start, event_type, count(*) AS n
        |FROM e CROSS JOIN wm
        |GROUP BY w_start, event_type, wm.wm
        |HAVING w_start + INTERVAL 1 HOUR <= wm.wm
        |ORDER BY w_start, event_type""".stripMargin,
    // drained transformWithState running totals == batch per-user group-by
    "q_stream_transformstate" ->
      """SELECT user_id, count(*) AS n_events, round(sum(value), 6) AS sum_value
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    // the streamed incremental state must land on the batch iter-1 means
    "q_stream_kmeans" ->
      s"""${graft.kmeans.KmeansQueries.preludeSql},
         |sizes AS (SELECT cid, count(*) AS n_points FROM assign GROUP BY cid),
         |means AS (${graft.kmeans.Lloyd.meansSql("assign", Some(7))})
         |SELECT m.cid, CAST(m.i - 1 AS INT) AS pos, m.m, s.n_points
         |FROM means m JOIN sizes s ON s.cid = m.cid
         |ORDER BY m.cid, pos""".stripMargin
  )
}
