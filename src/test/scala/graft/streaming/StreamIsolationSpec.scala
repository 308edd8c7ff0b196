package graft.streaming

import java.io.File

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** r13 streaming-floor guardrails: every drained streaming run gets its OWN
  * scratch checkpoint (no state store is ever shared across queries) and
  * the scratch dir is deleted after the drain — so the tmpfs/temp-dir
  * checkpoint relocation cannot leak state BETWEEN queries or ACROSS runs
  * (the no-precomputation rule: a leftover state store would be a cached
  * intermediate keyed on the fixture).
  */
class StreamIsolationSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** A streaming session whose scratch checkpoints go to a fresh temp dir
    * owned by this test alone, so no concurrent drain elsewhere can show
    * up in (or race with) the leftover check.
    */
  private def isolatedSession(): (org.apache.spark.sql.SparkSession, File) = {
    val base = java.nio.file.Files.createTempDirectory("graft_stream_isolation").toFile
    val ss = Streams.streamingSession(spark)
    ss.conf.set("spark.graft.stream.ckptBase", base.getPath)
    (ss, base)
  }

  private def leftovers(base: File): Seq[String] =
    Option(base.list()).map(_.toSeq).getOrElse(Seq.empty)

  test("back-to-back drains share no state and clean their scratch checkpoints") {
    val (ss, base) = isolatedSession()

    val r1 = Streams.runToBatch(ss,
      Streams.tumblingCounts(Streams.readEvents(ss, TestSpark.Sf0001))).collect()
    val r2 = Streams.runToBatch(ss,
      Streams.tumblingCounts(Streams.readEvents(ss, TestSpark.Sf0001))).collect()

    // identical re-run: leaked state (a reused store) would double the
    // counts of the second drain in Complete mode
    assert(r1.map(_.toString).sorted.toSeq == r2.map(_.toString).sorted.toSeq)
    assert(r1.nonEmpty)

    // every per-query scratch checkpoint dir was deleted after its drain
    assert(leftovers(base).isEmpty,
      s"leftover scratch checkpoints: ${leftovers(base).mkString(", ")}")
    Streams.deleteRecursively(base)
  }

  test("scratch checkpoint is cleaned even when a drain fails") {
    val (ss, base) = isolatedSession()
    // Append mode on an unwatermarked streaming aggregate is rejected at
    // start(): the scratch cleanup must still run
    intercept[Exception] {
      Streams.runToBatch(ss,
        Streams.readEvents(ss, TestSpark.Sf0001).groupBy("event_type").count(),
        org.apache.spark.sql.streaming.OutputMode.Append())
    }
    assert(leftovers(base).isEmpty,
      s"leftover scratch checkpoints: ${leftovers(base).mkString(", ")}")
    Streams.deleteRecursively(base)
  }
}
