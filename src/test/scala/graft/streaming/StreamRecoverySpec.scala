package graft.streaming

import java.nio.file.{Files, Path, StandardCopyOption}

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.TestSpark

/** Checkpoint recovery: a stopped streaming aggregation restarted from the
  * same checkpointLocation must (a) recover its state (counts include
  * pre-restart data) and (b) not double-count files already committed to
  * the checkpoint — the exactly-once contract a 24/7 pipeline restarts
  * against. The reference has no streaming; its closest analog is the
  * master re-dispatching failed mappers (/root/reference/master.py:106-159),
  * which is at-least-once at task granularity, not exactly-once state.
  */
class StreamRecoverySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def copyParts(from: Path, into: Path, prefix: String): Unit = {
    val parts = Files.list(from).toArray.map(_.asInstanceOf[Path])
      .filter(_.getFileName.toString.endsWith(".parquet"))
    parts.zipWithIndex.foreach { case (p, i) =>
      Files.copy(p, into.resolve(s"$prefix-$i.parquet"), StandardCopyOption.REPLACE_EXISTING)
    }
  }

  test("restart from checkpoint recovers state and never double-counts committed files") {
    val nonce = System.nanoTime()
    val base = Files.createTempDirectory("graft_stream_recovery")
    try {
      val src = Files.createDirectories(base.resolve("src"))
      val cp = base.resolve("cp").toString

      // ts re-written as plain TIMESTAMP (micros) so the restream needs no
      // nanos handling; two disjoint halves by event_id parity
      val events = graft.core.Tables.events(spark, TestSpark.Sf0001)
        .select(col("event_id"), col("ts"), col("event_type"), col("value"))
      val h1 = base.resolve("h1"); val h2 = base.resolve("h2")
      events.filter(pmod(col("event_id"), lit(2)) === 0).write.parquet(h1.toString)
      events.filter(pmod(col("event_id"), lit(2)) === 1).write.parquet(h2.toString)

      val ss = spark.newSession()
      ss.conf.set("spark.sql.shuffle.partitions", "4")
      val schema = ss.read.parquet(h1.toString).schema
      def counts(sinkName: String): Map[String, Long] = {
        val q = ss.readStream.schema(schema).option("maxFilesPerTrigger", 1)
          .parquet(src.toString)
          .groupBy("event_type").agg(count(lit(1)).as("n"))
          .writeStream.format("memory").queryName(sinkName)
          .option("checkpointLocation", cp)
          .outputMode(OutputMode.Complete())
          .start()
        q.processAllAvailable()
        q.stop()
        try ss.table(sinkName).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        finally ss.catalog.dropTempView(sinkName)
      }

      copyParts(h1, src, "a")
      val afterFirst = counts(s"rec1_$nonce")
      val expectFirst = events.filter(pmod(col("event_id"), lit(2)) === 0)
        .groupBy("event_type").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(afterFirst == expectFirst, "first run must count exactly the first half")

      // deliver the second half, restart from the SAME checkpoint
      copyParts(h2, src, "b")
      val afterRestart = counts(s"rec2_$nonce")
      val expectAll = events.groupBy("event_type").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(afterRestart == expectAll,
        "restarted query must resume state (include half 1) and not re-count half 1's files")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(base.toFile)
  }
}
