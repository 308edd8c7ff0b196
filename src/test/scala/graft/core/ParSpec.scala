package graft.core

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.grafttest.Bus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.catalyst.plans.logical.Repartition
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** [[Par.fanOutIfCompact]] reads the planned partition count of a frame
  * while the query is still being built, so it must never execute
  * anything: a frame whose plan would run work to learn its partitions (an
  * exchange, a subquery) is treated as not compact and comes back as is.
  */
class ParSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Spark jobs started while `body` runs. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    Bus.drain(sc)
    val jobs = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    sc.addSparkListener(l)
    try {
      val out = body
      Bus.drain(sc)
      (out, jobs.get)
    } finally sc.removeSparkListener(l)
  }

  test("a compact scan fans out to the cores without running a job") {
    val emb = Tables.embeddings(spark, TestSpark.Sf0001)
    val (out, jobs) = jobsDuring(Par.fanOutIfCompact(emb))
    assert(jobs == 0)
    out.queryExecution.logical match {
      case r: Repartition => assert(r.numPartitions == spark.sparkContext.defaultParallelism)
      case p => fail(s"expected a repartition, got\n$p")
    }
  }

  test("a frame with a scalar subquery comes back unchanged and runs no job") {
    Tables.embeddings(spark, TestSpark.Sf0001).createOrReplaceTempView("par_emb")
    val df = spark.sql(
      "SELECT vec_id FROM par_emb WHERE vec_id <= (SELECT max(vec_id) FROM par_emb)")
    val (out, jobs) = jobsDuring(Par.fanOutIfCompact(df))
    assert(jobs == 0, "building the fan-out executed the subquery")
    assert(out eq df)
  }
}
