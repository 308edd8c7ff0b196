package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent
import org.apache.spark.sql.streaming.StreamingQueryProgress

/** One SQL execution (one action on a DataFrame). `frames` are the
  * program's frames on the action's call stack, innermost first, e.g.
  * `graft.kmeans.Lloyd$.initCentroids`, `graft.kmeans.Lloyd$.run`: they
  * tell which function ran the action on behalf of which public call.
  */
final case class Exec(id: Long, frames: Seq[String], start: Long, end: Long) {
  def innermost(f: String): Boolean = frames.headOption.exists(_.endsWith(f))
  def within(f: String): Boolean = frames.exists(_.endsWith(f))
}

/** Counters of one completed stage, summed over its tasks. */
final class StageRec(val id: Int, val execId: Long, val submitted: Long,
                     val scansFiles: Boolean) {
  var completed = 0L
  var runMs = 0L           // Σ executor run time
  var waitMs = 0L          // Σ (task launch - stage submission)
  var inRecords = 0L
  var inBytes = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var failedTasks = 0
  val taskMs = ArrayBuffer[Long]()
  def readsShuffle: Boolean = shuffleRead > 0
}

/** What the listener saw between two drains. */
final case class Seen(execs: Seq[Exec], stages: Seq[StageRec], jobs: Int,
                      progress: Seq[StreamingQueryProgress])

/** SparkListener registered by the benchmark. SQL execution boundaries are
  * always recorded (one event per action, and `lloyd` derives its
  * iteration times from them); stage, task and streaming-progress counters
  * only while `detailed` is set, i.e. during traced operations.
  */
final class Recorder extends SparkListener {
  @volatile var detailed = false

  private val starts = scala.collection.mutable.Map[Long, (Seq[String], Long)]()
  private val execs = ArrayBuffer[Exec]()
  private val live = scala.collection.mutable.Map[Int, StageRec]()
  private val stages = ArrayBuffer[StageRec]()
  private val progress = ArrayBuffer[StreamingQueryProgress]()
  private var jobs = 0
  // persisted RDDs (caches, local checkpoints) some completed stage computed
  private val materialized = scala.collection.mutable.Set[Int]()

  /** Whether the stage reads input files: a FileScanRDD is reachable from
    * the stage's RDD without passing through an already materialized
    * persisted RDD (whose blocks are read instead of its lineage).
    */
  private def scansFiles(info: StageInfo): Boolean = {
    val byId = info.rddInfos.map(r => r.id -> r).toMap
    val seen = scala.collection.mutable.Set[Int]()
    def reach(id: Int): Boolean = byId.get(id) match {
      case Some(r) if seen.add(id) =>
        r.name == "FileScanRDD" ||
          (!materialized.contains(id) && r.parentIds.exists(reach))
      case _ => false
    }
    reach(info.rddInfos.map(_.id).max)
  }

  /** Everything recorded since the previous call; call after the bus is
    * drained (org.apache.spark.graftbench.Bus.drain).
    */
  def take(): Seen = synchronized {
    val s = Seen(execs.toList, stages.toList, jobs, progress.toList)
    execs.clear(); stages.clear(); progress.clear(); jobs = 0
    s
  }

  private def programFrames(details: String): Seq[String] =
    details.linesIterator.map(_.trim).filter(_.startsWith("graft."))
      .map(_.takeWhile(_ != '(')).toList

  override def onOtherEvent(event: SparkListenerEvent): Unit = synchronized {
    event match {
      case e: SparkListenerSQLExecutionStart =>
        starts(e.executionId) = (programFrames(e.details), e.time)
      case e: SparkListenerSQLExecutionEnd =>
        starts.remove(e.executionId).foreach { case (f, t) =>
          execs += Exec(e.executionId, f, t, e.time)
        }
      case e: QueryProgressEvent if detailed => progress += e.progress
      case _ =>
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (detailed) jobs += 1
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    if (detailed) {
      val info = e.stageInfo
      val execId = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .map(_.toLong).getOrElse(-1L)
      live(info.stageId) = new StageRec(info.stageId, execId,
        info.submissionTime.getOrElse(System.currentTimeMillis()),
        scansFiles(info))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    live.get(e.stageId).foreach { s =>
      val ti = e.taskInfo
      s.taskMs += ti.duration
      s.waitMs += math.max(0L, ti.launchTime - s.submitted)
      if (!ti.successful) s.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        s.runMs += m.executorRunTime
        s.inRecords += m.inputMetrics.recordsRead
        s.inBytes += m.inputMetrics.bytesRead
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.spill += m.diskBytesSpilled
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    materialized ++= e.stageInfo.rddInfos.filter(_.storageLevel.isValid).map(_.id)
    live.remove(e.stageInfo.stageId).foreach { s =>
      s.completed = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
      stages += s
    }
  }
}
