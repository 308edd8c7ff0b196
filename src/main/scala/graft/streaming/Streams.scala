package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, Trigger}

/** True Structured Streaming forms of the §2.9 surface: `readStream` →
  * watermarked/windowed transforms → `writeStream`. Batch-equivalent
  * results are oracle-checked via [[EventQueries]]; the stateful behaviors
  * here (watermark late-drop, in-stream dedup, incremental K-Means state)
  * are covered by MemoryStream ScalaTests (SURVEY.md §5.5).
  *
  * The reference is batch-only — its only state across time is the centroid
  * list the master carries between iterations (/root/reference/master.py:
  * 115-152); [[incrementalKmeans]] holds exactly that state (per-centroid
  * running sum + count, reducer.py:21-25) as streaming state.
  */
object Streams {

  /** A typed event row (see FIXTURES.md: events table). */
  case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                   event_type: String, value: Double)

  /** Open the events table as a file stream with the same schema the batch
    * loader produces. `maxFilesPerTrigger` keeps micro-batches bounded on a
    * multi-file 100 TB directory. The schema is read on every call, not
    * memoized: for a single file [[graft.core.Tables.table]] reads only its
    * footer, on the driver.
    */
  def readEvents(spark: SparkSession, sfDir: String): DataFrame = {
    // schema via the batch loader's guarded read: a nanos fixture in a
    // conf-less session fails with the message naming NanosAsLongConf,
    // not a bare [PARQUET_TYPE_ILLEGAL]
    val schema = graft.core.Tables.eventsRead(spark, sfDir).schema
    // file streams want a directory: stream the sf dir, globbed to events
    val raw = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", 1)
      .option("pathGlobFilter", "events.parquet")
      .parquet(sfDir)
    // same ts-type dispatch as the batch loader — SHARED arm list
    // (Tables.normalizeEventTs), so an unexpected regen'd ts type fails
    // loudly in one place for batch and stream alike
    graft.core.Tables.normalizeEventTs(raw, schema("ts").dataType)
  }

  /** Tumbling 1-hour counts with a 1-hour watermark: late events beyond the
    * watermark are dropped (q_stream_watermark + q_stream_tumbling).
    */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("w_start"), col("event_type"), col("n"))

  /** Exactly-once event ids within the watermark horizon (q_stream_dedup). */
  def dedupEvents(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")

  /** Per-key streaming state for [[incrementalKmeans]]: the reducer's
    * running (elementwise sum, count) — reducer.py:21-25 — kept alive
    * across micro-batches.
    */
  case class CentroidState(sum: Array[Double], n: Long)
  case class Assigned(cid: Int, coordinates: Array[Double])
  case class CentroidUpdate(cid: Int, coordinates: Array[Double], n: Long)

  /** q_stream_kmeans (stretch): incremental centroid update over an
    * already-assigned vector stream. Each micro-batch folds its vectors
    * into per-cid (sum, n) state and emits the current mean — the
    * reference's reduce step running continuously instead of per-iteration.
    */
  def incrementalKmeans(assigned: Dataset[Assigned]): Dataset[CentroidUpdate] = {
    import assigned.sparkSession.implicits._
    assigned
      .groupByKey(_.cid)
      .mapGroupsWithState[CentroidState, CentroidUpdate](GroupStateTimeout.NoTimeout) {
        (cid: Int, rows: Iterator[Assigned], state: GroupState[CentroidState]) =>
          val prev = state.getOption.getOrElse(CentroidState(Array.emptyDoubleArray, 0L))
          var sum = prev.sum
          var n = prev.n
          rows.foreach { a =>
            if (sum.isEmpty) sum = new Array[Double](a.coordinates.length)
            var i = 0
            while (i < sum.length) { sum(i) += a.coordinates(i); i += 1 }
            n += 1
          }
          state.update(CentroidState(sum, n))
          CentroidUpdate(cid, if (n == 0) sum else sum.map(_ / n), n)
      }
  }

  /** Output row of [[RunningTotalsProcessor]]. */
  case class UserTotals(user_id: Long, n: Long, sum_value: Double)

  /** Per-user running (count, sum) via Spark 4's `transformWithState`
    * arbitrary-state API (the successor of mapGroupsWithState: typed state
    * handles, TTL support, RocksDB-backed). One ValueState cell per user —
    * state size is O(users), not O(events), and the RocksDB provider keeps
    * it off-heap/spillable at stream scale.
    */
  class RunningTotalsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Event, UserTotals] {
    @transient private var totals:
      org.apache.spark.sql.streaming.ValueState[(Long, Double)] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      totals = getHandle.getValueState[(Long, Double)]("totals",
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaDouble),
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[Event],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[UserTotals] = {
      var (n, s) = if (totals.exists()) totals.get() else (0L, 0.0)
      rows.foreach { e => n += 1; s += e.value }
      totals.update((n, s))
      Iterator.single(UserTotals(key, n, s))
    }
  }

  /** State partitions of a drain: every stateful operator commits one
    * state store per shuffle partition per micro-batch, so a batch-engine
    * default (32 at bench config) is pure per-batch commit/IO overhead on
    * small micro-batches. At 100 TB the state-partition count is sized to
    * stream key cardinality and rate, independently of the batch engine's
    * shuffle width, which is what a separate session scope expresses.
    */
  private val StatePartitions = 4

  /** Scratch base for the drains' checkpoints: tmpfs when the box has one,
    * else the JVM temp dir, scoped by `user.name` so users sharing a host
    * never collide on one directory. A drain's checkpoint has no
    * durability contract: it is deleted after the drain and never read for
    * recovery, so placing it on tmpfs changes no semantics. It only stops
    * charging every micro-batch's offset/commit/state-delta fsync-rename
    * traffic to a spinning-rust path (measured 0.1-0.35 s per stateful key
    * at fixture scale). Production checkpoints are DURABLE and configured
    * per deployment. Overridable via `spark.graft.stream.ckptBase`, read
    * from the caller's session.
    */
  private def ckptBase(spark: SparkSession): String =
    spark.conf.getOption("spark.graft.stream.ckptBase").getOrElse {
      val root =
        if (new java.io.File("/dev/shm").isDirectory) "/dev/shm"
        else System.getProperty("java.io.tmpdir")
      s"$root/graft_stream_ckpt_${System.getProperty("user.name")}"
    }

  private def deleteRecursively(f: java.io.File): Unit = {
    val cs = f.listFiles(); if (cs != null) cs.foreach(deleteRecursively)
    f.delete(); ()
  }

  /** Drain the (finite) stream that `stream` builds to completion and
    * return its final result as a local DataFrame of `parent`.
    *
    * `stream` gets a child session of `parent` with [[StatePartitions]]
    * state partitions plus `confs`; confs set at parent construction (e.g.
    * nanosAsLong) reach it through the shared SparkContext conf. The query
    * writes to a memory sink in `mode` on a unique scratch checkpoint under
    * [[ckptBase]] of `parent`, so no state is shared across drains.
    * Trigger.AvailableNow plans the full file listing once, drains and
    * self-terminates (a watermarked Append still runs its no-data emission
    * batch). The sink's rows are already on the driver; they are copied
    * into a local relation of `parent`. The sink view and every scratch
    * file are gone when this returns, whether the drain succeeded or not.
    */
  def drain(parent: SparkSession, mode: OutputMode, confs: (String, String)*)(
      stream: SparkSession => DataFrame): DataFrame =
    inScratch(parent, confs) { (ss, scratch) =>
      val name = s"graft_sink_${System.nanoTime()}"
      try {
        run(stream(ss).writeStream.format("memory").queryName(name).outputMode(mode), scratch)
        local(parent, ss.table(name))
      } finally ss.catalog.dropTempView(name)
    }

  /** [[drain]] through a foreachBatch upsert instead of a memory sink: the
    * Update-mode rows of each micro-batch are merged on `key` into the
    * previous snapshot (previous rows anti-joined on the key, changed keys
    * replaced) and written as parquet snapshot `v<batchId>` under the
    * drain's scratch dir. The batch id names the output, so a replayed
    * micro-batch rewrites the same snapshot. Returns the last snapshot as a
    * local DataFrame of `parent`; the snapshots go with the scratch dir.
    */
  private[streaming] def drainUpserts(parent: SparkSession, key: String)(
      stream: SparkSession => DataFrame): DataFrame =
    inScratch(parent, Nil) { (ss, scratch) =>
      var last = -1L
      run(stream(ss).writeStream.outputMode(OutputMode.Update())
        .foreachBatch { (batch: Dataset[Row], id: Long) =>
          val merged =
            if (last < 0) batch
            else ss.read.parquet(s"$scratch/v$last").join(batch, Seq(key), "left_anti")
              .unionByName(batch)
          merged.write.mode("overwrite").parquet(s"$scratch/v$id")
          last = id
        }, scratch)
      local(parent, ss.read.parquet(s"$scratch/v$last"))
    }

  /** `body` in a fresh child session of `parent`, with a unique scratch dir
    * under [[ckptBase]] that is deleted afterwards, also on failure.
    */
  private def inScratch[A](parent: SparkSession, confs: Seq[(String, String)])(
      body: (SparkSession, String) => A): A = {
    val ss = parent.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", StatePartitions.toString)
    // The checkpoint is deleted after the drain and never read for
    // recovery, so it needs no checksum files. With them on, Spark 4.1's
    // ChecksumCheckpointFileManager starts 4 threads per state-store
    // provider that are never stopped.
    ss.conf.set("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
    confs.foreach { case (k, v) => ss.conf.set(k, v) }
    val scratch = new java.io.File(ckptBase(parent), s"drain_${System.nanoTime()}")
    try body(ss, scratch.getPath) finally deleteRecursively(scratch)
  }

  private def run(writer: DataStreamWriter[Row], scratch: String): Unit =
    writer.option("checkpointLocation", s"$scratch/checkpoint")
      .trigger(Trigger.AvailableNow()).start().awaitTermination()

  private def local(parent: SparkSession, rows: DataFrame): DataFrame =
    parent.createDataFrame(java.util.Arrays.asList(rows.collect(): _*), rows.schema)
}
