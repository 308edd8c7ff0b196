package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.TestSpark
import graft.streaming.Streams.{Assigned, Event}

/** Stateful streaming semantics not expressible as a DuckDB oracle
  * (SURVEY.md §5.5): watermark late-drop, in-stream dedup, incremental
  * K-Means state, and batch/stream agreement of the windowed aggregations.
  */
class StreamsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def ts(minute: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 ${minute / 60}%02d:${minute % 60}%02d:00")

  private def runEvents(events: Seq[Event], build: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
                        mode: OutputMode = OutputMode.Append(), batches: Seq[Int] = Seq.empty) = {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val mem = MemoryStream[Event]
    val name = s"st_${System.nanoTime()}"
    val q = build(mem.toDF()).writeStream.format("memory").queryName(name).outputMode(mode).start()
    val cuts = if (batches.isEmpty) Seq(events.length) else batches
    var off = 0
    for (c <- cuts) { mem.addData(events.slice(off, c)); off = c; q.processAllAvailable() }
    q.stop()
    s.table(name)
  }

  test("watermark drops events later than 1 hour behind max ts (q_stream_watermark)") {
    val evs = Seq(
      Event(1, ts(0), 1, "click", 1.0),
      Event(2, ts(10), 1, "click", 1.0),
      // batch 2: watermark advances to 180min - 60min = 120min; a 30-min
      // event is > 1h late and must be dropped from the windowed counts
      Event(3, ts(180), 1, "click", 1.0),
      Event(4, ts(30), 1, "click", 1.0))
    val out = runEvents(evs, Streams.tumblingCounts, OutputMode.Append(), batches = Seq(2, 3, 4))
    // Append mode only emits finalized windows (< watermark 120min): the
    // hour-0 window contains ONLY events 1,2 — the late event 4 was dropped.
    val hour0 = out.filter(col("w_start") === ts(0)).select("n").collect()
    assert(hour0.map(_.getLong(0)).toSeq == Seq(2))
  }

  test("dropDuplicatesWithinWatermark dedups by event_id (q_stream_dedup)") {
    val evs = Seq(
      Event(1, ts(0), 1, "click", 1.0),
      Event(1, ts(1), 1, "click", 1.0), // dup id
      Event(2, ts(2), 1, "click", 1.0),
      Event(2, ts(3), 1, "click", 1.0), // dup id
      Event(3, ts(4), 1, "click", 1.0))
    val out = runEvents(evs, Streams.dedupEvents)
    assert(out.select("event_id").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L))
  }

  test("incremental K-Means folds per-centroid state across micro-batches (q_stream_kmeans)") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val mem = MemoryStream[Assigned]
    val name = s"km_${System.nanoTime()}"
    val q = Streams.incrementalKmeans(mem.toDS())
      .writeStream.format("memory").queryName(name).outputMode(OutputMode.Update()).start()
    mem.addData(Assigned(1, Array(0.0, 0.0)), Assigned(1, Array(2.0, 2.0)))
    q.processAllAvailable()
    mem.addData(Assigned(1, Array(4.0, 4.0)), Assigned(2, Array(10.0, 0.0)))
    q.processAllAvailable()
    q.stop()
    val rows = s.table(name).collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toSeq, r.getLong(2)))
    // latest update for cid 1 folds ALL THREE vectors: mean (2,2), n=3 —
    // state carried across micro-batches, the reference's reducer state
    // (reducer.py:21-25) running continuously
    val last1 = rows.filter(_._1 == 1).maxBy(_._3)
    assert(last1._2 == Seq(2.0, 2.0) && last1._3 == 3L)
    val last2 = rows.filter(_._1 == 2).maxBy(_._3)
    assert(last2._2 == Seq(10.0, 0.0) && last2._3 == 1L)
  }

  test("streaming tumbling counts equal the batch query on the events fixture") {
    val batch = EventQueries.queries("q_stream_tumbling")(spark, TestSpark.Sf0001)
      .select("w_start", "event_type", "n")
    val streamed = Streams.drain(spark, OutputMode.Complete())(ss =>
        Streams.tumblingCounts(Streams.readEvents(ss, TestSpark.Sf0001)))
      .groupBy("w_start", "event_type").agg(sum("n").as("n"))
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("drained stream-stream interval join equals the batch interval join (q_stream_stream_join)") {
    val streamed = EventQueries.queries("q_stream_stream_join")(spark, TestSpark.Sf0001)
    val e = graft.core.Tables.events(spark, TestSpark.Sf0001)
    val c = e.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("c_ts"))
    val p = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"), col("ts").as("p_ts"))
    val batch = c.join(p, col("user_id") === col("p_user") &&
        col("p_ts") >= col("c_ts") && col("p_ts") <= col("c_ts") + expr("INTERVAL 1 HOUR"))
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        (unix_micros(col("p_ts")) - unix_micros(col("c_ts"))).as("gap_us"))
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
    assert(streamed.count() > 0, "fixture must yield at least one attributed pair")
  }
}
