package graft.streaming

import java.io.File

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.TestSpark

/** Streaming-floor guardrails: every drain gets its OWN scratch checkpoint
  * (no state store is ever shared across queries) and leaves nothing behind,
  * whether it succeeds or fails: no scratch dir under the checkpoint base, no
  * memory-sink view in any session, no snapshot dir in the working directory
  * and no checkpoint-checksum threads. A leftover state store would be a
  * cached intermediate keyed on the fixture.
  */
class StreamIsolationSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** A session whose drains put their scratch dirs under a fresh temp dir
    * owned by this test alone, so no concurrent drain elsewhere can show up
    * in (or race with) the leftover check.
    */
  private def withIsolatedBase(body: (SparkSession, File) => Unit): Unit = {
    val base = java.nio.file.Files.createTempDirectory("graft_stream_isolation").toFile
    val parent = spark.newSession()
    parent.conf.set("spark.graft.stream.ckptBase", base.getPath)
    try body(parent, base)
    finally org.apache.commons.io.FileUtils.deleteQuietly(base)
  }

  private def leftovers(base: File): Seq[String] =
    Option(base.list()).map(_.toSeq).getOrElse(Seq.empty)

  private def tumbling(ss: SparkSession): DataFrame =
    Streams.tumblingCounts(Streams.readEvents(ss, TestSpark.Sf0001))

  /** Memory-sink views registered in `sessions`. */
  private def sinkViews(sessions: SparkSession*): Seq[String] =
    sessions.flatMap(_.catalog.listTables().collect().toSeq)
      .filter(t => t.isTemporary && t.name.startsWith("graft_sink_")).map(_.name)

  test("back-to-back drains share no state and clean their scratch checkpoints") {
    withIsolatedBase { (parent, base) =>
      val r1 = Streams.drain(parent, OutputMode.Complete())(tumbling).collect()
      val r2 = Streams.drain(parent, OutputMode.Complete())(tumbling).collect()

      // identical re-run: leaked state (a reused store) would double the
      // counts of the second drain in Complete mode
      assert(r1.map(_.toString).sorted.toSeq == r2.map(_.toString).sorted.toSeq)
      assert(r1.nonEmpty)

      // every per-query scratch checkpoint dir was deleted after its drain
      assert(leftovers(base).isEmpty,
        s"leftover scratch checkpoints: ${leftovers(base).mkString(", ")}")
    }
  }

  test("scratch checkpoint is cleaned even when a drain fails") {
    withIsolatedBase { (parent, base) =>
      // Append mode on an unwatermarked streaming aggregate is rejected at
      // start(): the scratch cleanup must still run
      intercept[Exception] {
        Streams.drain(parent, OutputMode.Append())(ss =>
          Streams.readEvents(ss, TestSpark.Sf0001).groupBy("event_type").count())
      }
      assert(leftovers(base).isEmpty,
        s"leftover scratch checkpoints: ${leftovers(base).mkString(", ")}")
    }
  }

  test("a drain leaves no sink view in any session, whether it succeeds or fails") {
    withIsolatedBase { (parent, base) =>
      var child: SparkSession = null
      val rows = Streams.drain(parent, OutputMode.Complete()) { ss => child = ss; tumbling(ss) }
      assert(rows.count() > 0)
      assert(sinkViews(child, parent, spark).isEmpty, "after a drain that succeeds")
      // a query that starts, registers its sink view, then fails in its
      // first micro-batch
      val e = intercept[Exception] {
        Streams.drain(parent, OutputMode.Append()) { ss =>
          child = ss
          Streams.readEvents(ss, TestSpark.Sf0001)
            .select(col("event_id"), raise_error(lit("drain canary")).cast("int"))
        }
      }
      assert(String.valueOf(e.getMessage).contains("drain canary"), e.getMessage)
      assert(sinkViews(child, parent, spark).isEmpty, "after a drain that fails")
      assert(leftovers(base).isEmpty,
        s"leftover scratch dirs: ${leftovers(base).mkString(", ")}")
    }
  }

  private def checksumThreads: Int =
    Thread.getAllStackTraces.keySet.asScala.count(_.getName.contains("ChecksumCheckpointFileManager"))

  test("repeated stateful drains start no checkpoint-checksum threads") {
    withIsolatedBase { (parent, _) =>
      val before = checksumThreads
      for (_ <- 1 to 3) Streams.drain(parent, OutputMode.Complete())(tumbling).collect()
      assert(checksumThreads == before)
      // canary: with checksum files on, the same drain does start them, so
      // the count above would have seen them
      Streams.drain(parent, OutputMode.Complete(),
        "spark.sql.streaming.checkpoint.fileChecksum.enabled" -> "true")(tumbling).collect()
      assert(checksumThreads > before, "checksum threads never appeared: the check is blind")
    }
  }

  test("q_stream_foreachbatch writes its snapshots under the drain's scratch dir and removes them") {
    withIsolatedBase { (parent, base) =>
      val streams = new File("target/streams")
      def snapshotDirs = Option(streams.list()).toSeq.flatten.filter(_.startsWith("fb_")).toSet
      val before = snapshotDirs
      val out = EventQueries.queries("q_stream_foreachbatch")(parent, TestSpark.Sf0001).collect()
      assert(out.nonEmpty)
      assert(snapshotDirs == before, s"new snapshot dirs: ${(snapshotDirs -- before).mkString(", ")}")
      assert(leftovers(base).isEmpty,
        s"leftover scratch dirs: ${leftovers(base).mkString(", ")}")
    }
  }
}
