package graft.tools

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

import graft.kmeans.Lloyd

/** Stress-scale evidence for the flagship dataflow: one production
  * [[Lloyd.run]] (K = 5, 10 fixed iterations, eps = 0 so no early stop) over
  * the synthetic-sf1 embeddings at /tmp/stress_sf1. The run is one job that
  * fills the persisted point blocks and computes the init, then one job per
  * iteration in which each core's group of partitions folds its blocks,
  * through the fused nearest-centroid loop, into K sum/count buffers that
  * the driver merges (K×(D+1) numbers per group cross the wire; nothing is
  * shuffled). Each of these jobs is one SQL execution; the tool
  * prints the fill-and-init execution's wall time, then each iteration's
  * as the time between consecutive execution ends. Usage:
  *
  *   SPARK_GRAFT_SF_DIR=/tmp/stress_sf1 sbt "runMain graft.tools.StressLloyd"
  */
object StressLloyd {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/tmp/stress_sf1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config(graft.core.Tables.NanosAsLongConf._1, graft.core.Tables.NanosAsLongConf._2)
      .config("spark.sql.warehouse.dir", "target/warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val pts = graft.core.Tables.points(spark, sfDir)
    val n = pts.count()
    // (start, end) ms of every SQL execution that Lloyd.run issues
    val execs = scala.collection.mutable.Map[Long, (Long, Long)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = execs.synchronized {
        e match {
          case s: SparkListenerSQLExecutionStart => execs(s.executionId) = (s.time, 0L)
          case x: SparkListenerSQLExecutionEnd =>
            execs.get(x.executionId).foreach(t => execs(x.executionId) = (t._1, x.time))
          case _ =>
        }
      }
    })
    val t0 = System.nanoTime()
    val (cents, iters) = Lloyd.run(pts, 5, maxIter = 10, eps = 0.0)
    val total = (System.nanoTime() - t0) / 1e9
    spark.stop() // delivers every queued listener event

    val spans = execs.synchronized(execs.values.toSeq.sortBy(_._1))
    val fill = (spans.head._2 - spans.head._1) / 1e3
    val ends = spans.map(_._2)
    val times = ArrayBuffer[Double]()
    ends.zip(ends.drop(1)).zipWithIndex.foreach { case ((a, b), i) =>
      times += (b - a) / 1e3
      println(f"iter ${i + 1}%2d: ${times.last}%.3f s")
    }
    println(f"fill + init: $fill%.3f s; ${cents.size} centroids after $iters iterations")
    println(f"""{"tool":"stress_lloyd","sf_dir":"$sfDir","n_points":$n,"k":5,""" +
      f""""iters":$iters,"fill_init_sec":$fill%.3f,"total_sec":$total%.3f,""" +
      f""""mean_iter_sec":${times.sum / times.size}%.3f}""")
  }
}
