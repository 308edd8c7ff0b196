package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.SparkEntry
import graft.core.Tables
import graft.kmeans.{Centroid, Lloyd}
import graft.text.{ArtifactMemo, TextDedup}

/** Result of one call into the program: its key, wall ms, and whether it
  * threw.
  */
final case class Call(key: String, ms: Double, failed: Boolean)

/** One workload: how an operation runs, which inputs directory each
  * operation reads, and how the outputs are checked.
  */
sealed trait Workload {
  def name: String
  /** Runs one operation; `keep` is false for warm-up calls. `opDir` is a
    * fresh copy of the inputs for this operation alone, so memos keyed on
    * the directory never hit and the operation pays the per-corpus
    * artifact builds a user pays; `runDir` is one copy for the whole run,
    * for state a user builds once and then reads (the search index).
    */
  def op(spark: SparkSession, opDir: String, runDir: String, tr: Tracer, keep: Boolean): Seq[Call]
  /** Correctness gate over the kept outputs, run after the measured loop.
    * Returns (failed calls, facts for the report and the answers that
    * bench/run.py checks against ground truth and DuckDB).
    */
  def gate(spark: SparkSession, data: String): (Int, Map[String, Any])
}

object Workload {
  val SearchKeys = Seq("q_topk_similar", "q_ann_ivf", "q_ann_lsh", "q_knn_join")
  val StreamKeys = Seq("q_stream_watermark", "q_stream_join", "q_stream_stream_join",
    "q_stream_foreachbatch")
  val BatchKeys = Seq("q_stream_tumbling", "q_stream_session", "q_stream_dedup")

  def apply(name: String): Workload = name match {
    case "lloyd"  => new LloydWorkload
    case "data"   => new DataWorkload
    case other    => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Forces the physical plan, then collects: the two halves of running a
    * DataFrame the program returned, each in its own span.
    */
  def run(df: DataFrame, tr: Tracer): Array[Row] = {
    tr.span("plans.executedPlan")(df.queryExecution.executedPlan)
    tr.span("spark.collect")(df.collect())._1
  }

  /** Row -> plain JSON values (timestamps as epoch micros), columns
    * ordered by name; bench/run.py compares them.
    */
  def canon(df: DataFrame, rows: Array[Row]): (Seq[String], Seq[Seq[Any]]) = {
    val names = df.schema.fieldNames.toSeq
    val order = names.zipWithIndex.sortBy(_._1).map(_._2)
    def v(x: Any): Any = x match {
      case null => null
      case t: java.sql.Timestamp => t.getTime / 1000 * 1000000L + t.getNanos / 1000 % 1000000L
      case t: java.time.LocalDateTime =>
        t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + t.getNano / 1000
      case t: java.time.Instant => t.getEpochSecond * 1000000L + t.getNano / 1000
      case d: java.math.BigDecimal => d.doubleValue
      case f: Float => f.toDouble
      case i: Int => i.toLong
      case s: Short => s.toLong
      case b: Byte => b.toLong
      case other => other
    }
    (order.map(names), rows.toSeq.map(r => order.map(i => v(r.get(i)))))
  }

  /** Times one call; a throw is recorded as a failed call. */
  def call(tr: Tracer, span: String, key: String)(body: => Unit): Call = {
    try Call(key, tr.span(span)(body)._2, failed = false)
    catch {
      case e: Exception =>
        System.err.println(s"[bench] $key failed: $e")
        Call(key, Double.NaN, failed = true)
    }
  }
}

/** Lloyd.run over a 64-D Gaussian mixture, K=16, exactly 10 iterations. */
final class LloydWorkload extends Workload {
  val name = "lloyd"
  val K = 16
  val MaxIter = 10
  private val outs = ArrayBuffer[(Seq[Centroid], Int)]()
  var evalsPerRun = 0L

  def op(spark: SparkSession, dir: String, runDir: String, tr: Tracer, keep: Boolean): Seq[Call] = {
    var out: (Seq[Centroid], Int) = null
    val c = Workload.call(tr, "kmeans.Lloyd.run", "lloyd") {
      val pts = tr.span("core.Tables.points")(Tables.points(spark, dir))._1
      out = Lloyd.run(pts, K, MaxIter, eps = 0.0, useAgg = true)
    }
    if (keep && !c.failed) outs += out
    Seq(c)
  }

  /** Plain-Scala Lloyd with the program's semantics: first-K init by
    * vec_id, ties to the lower cid, vanished clusters dropped, eps = 0 so
    * all MaxIter iterations run. Returns final centroids and the number of
    * centroids each iteration assigned against.
    */
  def replay(points: Array[Array[Double]]): (Seq[Centroid], Seq[Int]) = {
    var cents = points.take(K).zipWithIndex.map { case (p, i) => Centroid(i + 1, p.clone) }.toSeq
    val used = ArrayBuffer[Int]()
    for (_ <- 1 to MaxIter) {
      used += cents.size
      val cs = cents.sortBy(_.cid).toArray
      val d = points.head.length
      val sums = Array.fill(cs.length)(new Array[Double](d))
      val counts = new Array[Long](cs.length)
      points.foreach { p =>
        var best = -1; var bestD = Double.PositiveInfinity; var j = 0
        while (j < cs.length) {
          val c = cs(j).coordinates
          var s = 0.0; var i = 0
          while (i < d) { val x = p(i) - c(i); s += x * x; i += 1 }
          if (s < bestD) { bestD = s; best = j }
          j += 1
        }
        val acc = sums(best); var i = 0
        while (i < d) { acc(i) += p(i); i += 1 }
        counts(best) += 1
      }
      cents = cs.indices.filter(counts(_) > 0)
        .map(j => Centroid(cs(j).cid, sums(j).map(_ / counts(j)))).toSeq
    }
    (cents, used.toSeq)
  }

  def gate(spark: SparkSession, data: String): (Int, Map[String, Any]) = {
    val points = Tables.points(spark, data).orderBy("vec_id").collect()
      .map(_.getSeq[Double](1).toArray)
    val (want, used) = replay(points)
    evalsPerRun = points.length.toLong * used.sum
    val wantBy = want.map(c => c.cid -> c.coordinates).toMap
    val diffs = outs.map { case (got, iters) =>
      if (iters != MaxIter || got.map(_.cid).toSet != wantBy.keySet) Double.PositiveInfinity
      else got.map { c =>
        c.coordinates.zip(wantBy(c.cid)).map { case (x, y) => math.abs(x - y) }.max
      }.max
    }
    val failed = diffs.count(d => !(d <= 1e-9))
    (failed, Map("checked_ops" -> outs.size, "max_abs_diff" -> (if (diffs.isEmpty) 0.0 else diffs.max),
      "centroids" -> want.size, "sqdist_evals_per_run" -> evalsPerRun))
  }
}

/** The LLM-data operators over one seeded set of tables. Each operation
  * is a TextDedup.nearDupPairs call on a fresh copy of the documents, one
  * round of the four search keys against the run's embeddings (their IVF
  * index is built by the first round and read by every later one), and a
  * pass over the event keys: the streaming drains, then their batch
  * counterparts over the same log.
  */
final class DataWorkload extends Workload {
  val name = "data"
  val dedup = new DedupPart
  private val search = new KeyCalls(Workload.SearchKeys, _ => "sim")
  private val events = new KeyCalls(Workload.StreamKeys ++ Workload.BatchKeys,
    k => if (Workload.StreamKeys.contains(k)) "streaming" else "queries")

  def op(spark: SparkSession, opDir: String, runDir: String, tr: Tracer, keep: Boolean): Seq[Call] =
    dedup.op(spark, opDir, tr, keep) ++ search.op(spark, runDir, tr, keep) ++
      events.op(spark, opDir, tr, keep)

  def gate(spark: SparkSession, data: String): (Int, Map[String, Any]) =
    (dedup.unisolated, Map("dedup" -> dedup.gate, "search" -> search.gate, "events" -> events.gate))
}

/** TextDedup.nearDupPairs over a Zipf corpus with planted near-duplicates. */
final class DedupPart {
  private val outs = ArrayBuffer[(Seq[String], Seq[Seq[Any]])]()
  var unisolated = 0
  var lastDir = ""

  def op(spark: SparkSession, dir: String, tr: Tracer, keep: Boolean): Seq[Call] = {
    val cold0 = ArtifactMemo.totalColdBuildSeconds
    var res: (Seq[String], Seq[Seq[Any]]) = null
    val c = Workload.call(tr, "text.dedup", "nearDupPairs") {
      val df = tr.span("text.TextDedup.nearDupPairs")(TextDedup.nearDupPairs(spark, dir))._1
      res = Workload.canon(df, Workload.run(df, tr))
    }
    // run isolation: a fresh directory must make the call pay its builds
    if (keep && ArtifactMemo.totalColdBuildSeconds <= cold0) unisolated += 1
    if (keep && !c.failed) {
      outs += res
      lastDir = dir
    }
    Seq(c)
  }

  def pairs: Int = outs.headOption.map(_._2.size).getOrElse(0)

  /** Every kept answer, for bench/run.py to check. */
  def gate: Map[String, Any] = Map(
    "answers" -> outs.map { case (cols, rows) => Map("columns" -> cols, "rows" -> rows) },
    "unisolated_ops" -> unisolated)
}

/** Calls registered keys through `SparkEntry.queries` in turn, each timed
  * from call to collected rows, in spans named `<layer>.<key>`. Every
  * answer is kept for the gate.
  */
final class KeyCalls(keys: Seq[String], layer: String => String) {
  private val answers = ArrayBuffer[Map[String, Any]]()

  def op(spark: SparkSession, dir: String, tr: Tracer, keep: Boolean): Seq[Call] =
    keys.map { key =>
      var res: (Seq[String], Seq[Seq[Any]]) = null
      val c = Workload.call(tr, s"${layer(key)}.$key", key) {
        val df = tr.span(s"${layer(key)}.$key.call")(SparkEntry.queries(key)(spark, dir))._1
        res = Workload.canon(df, Workload.run(df, tr))
      }
      if (keep && !c.failed) answers += Map("key" -> key, "columns" -> res._1, "rows" -> res._2)
      c
    }

  /** Every kept answer and each key's DuckDB replay, for bench/run.py to
    * check.
    */
  def gate: Map[String, Any] = Map(
    "answers" -> answers.toSeq,
    "oracle_sql" -> keys.map(k => k -> SparkEntry.oracleSql(k)).toMap)
}
