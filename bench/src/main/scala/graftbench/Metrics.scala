package graftbench

import Main.{median, pct}
import Workload.{BatchKeys, SearchKeys, StreamKeys}

/** Turns operation records into the end-to-end and per-layer metrics.
  * bench/README.md defines each metric and which end-to-end metric it
  * should move on which workload.
  */
object Metrics {

  /** Wall ms between the ends of consecutive Lloyd iterations (iterations
    * 2..n of one run); an iteration is one action at `Lloyd$.run`.
    */
  def iterationMs(seen: Seen): Seq[Double] = {
    val ends = seen.execs.filter(_.innermost("Lloyd$.run")).map(_.end.toDouble).sorted
    ends.zip(ends.drop(1)).map { case (a, b) => b - a }
  }

  /** Mean over the measured operations: the window's whole measured time
    * per operation, so a box that is slow for a few seconds moves it less
    * than it moves any single operation.
    */
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else xs.sum / xs.size

  def endToEnd(wl: Workload, ops: Seq[OpRec], heapMb: Double): Map[String, Double] = {
    val ok = ops.filter(_.calls.forall(!_.failed))
    val opMs = ok.map(_.ms)
    val attempted = ops.map(_.calls.size).sum
    val common = Map(
      "heap_mb" -> heapMb,
      "cache_mb" -> median(ops.map(_.cacheMb)),
      "error_rate" -> (if (attempted == 0) 1.0 else ops.map(_.calls.count(_.failed)).sum.toDouble / attempted))
    val specific = wl match {
      case _: LloydWorkload =>
        Map("op_mean_ms" -> mean(opMs), "lloyd_s" -> mean(opMs) / 1e3,
          "lloyd_iter_ms" -> median(ok.flatMap(o => iterationMs(o.seen))))
      case _: DataWorkload =>
        val dedup = ops.flatMap(_.calls).filter(c => !c.failed && c.key == "nearDupPairs").map(_.ms)
        val req = ops.flatMap(_.calls).filter(c => !c.failed && SearchKeys.contains(c.key)).map(_.ms)
        def sum(keys: Seq[String]) =
          mean(ok.map(_.calls.filter(c => keys.contains(c.key)).map(_.ms).sum)) / 1e3
        // p90 qualifies only with at least ten requests beyond it
        Map("op_mean_ms" -> mean(opMs), "dedup_s" -> mean(dedup) / 1e3,
          "search_p50_ms" -> median(req),
          "search_p90_ms" -> (if (req.size >= 100) pct(req, 0.9) else Double.NaN),
          "search_requests" -> req.size.toDouble,
          "events_stream_s" -> sum(StreamKeys), "events_batch_s" -> sum(BatchKeys))
    }
    // median wall ms per key, for the report
    val perKey = ops.flatMap(_.calls).filterNot(_.failed).groupBy(_.key)
      .map { case (k, cs) => s"key.${k}_ms" -> median(cs.map(_.ms)) }
    common ++ specific ++ perKey
  }

  /** Self ms per span name, summed over the traced operations. */
  def selfByName(tr: Tracer): Map[String, Double] = {
    val ss = tr.all
    val self = tr.selfMs(ss)
    ss.groupBy(_.name).map { case (n, xs) => n -> xs.map(s => self(s.id)).sum }
  }

  /** Every per-layer metric, for every workload: the median over traced
    * operations of each metric's per-operation value (a layer the workload
    * does not use reads 0). `sim.index_build_s` is a once-per-run cost and
    * is summed instead.
    */
  def layers(wl: Workload, ops: Seq[OpRec], tr: Tracer, cores: Int, evalsPerOp: Double,
             extra: Map[String, Double]): Map[String, Double] = {
    val traced = ops.filter(_.traced)
    val untraced = ops.filterNot(_.traced)
    val spans = tr.all
    val self = tr.selfMs(spans)
    val perOp = traced.map(o => opLayers(wl, o, spans.filter(_.op == o.i), self, cores, evalsPerOp, extra))
    val names = Names.flatMap(n => if (n.contains("<")) expand(n) else Seq(n)).distinct
    val med = names.map(n => n -> median(perOp.map(_.getOrElse(n, 0.0)))).toMap
    val overhead =
      if (traced.isEmpty || untraced.isEmpty) 0.0
      else (median(traced.map(_.ms)) / median(untraced.map(_.ms)) - 1) * 100
    med ++ Map(
      "sim.index_build_s" -> perOp.map(_.getOrElse("sim.index_build_s", 0.0)).sum,
      "bench.trace_overhead_pct" -> overhead)
  }

  private def expand(n: String): Seq[String] =
    if (n.startsWith("sim.")) SearchKeys.map(k => n.replace("<key>", k))
    else if (n.startsWith("streaming.")) StreamKeys.map(k => n.replace("<key>", k))
    else BatchKeys.map(k => n.replace("<key>", k))

  /** The per-layer metric names (`<key>` expands to each key). */
  val Names: Seq[String] = Seq(
    "sources.scan_s", "sources.rows_read", "sources.bytes_read",
    "kmeans.cache_fill_s", "kmeans.assign_s", "kmeans.update_s", "kmeans.collect_ms",
    "kmeans.iterations",
    "functions.sqdist_evals", "functions.sqdist_ns",
    "text.sigs_s", "text.shingles_s", "text.candidates_s", "text.verify_s",
    "text.candidates", "text.verified_pairs", "text.candidate_yield",
    "sim.<key>_ms", "sim.rows_scanned", "sim.index_build_s",
    "plans.plan_ms",
    "streaming.<key>_s", "streaming.batches", "streaming.trigger_ms",
    "streaming.commit_ms", "streaming.state_rows",
    "queries.<key>_s",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.busy_share", "spark.sched_wait_s",
    "spark.shuffle_write_bytes", "spark.shuffle_read_bytes", "spark.spill_bytes",
    "spark.gc_s", "spark.failed_tasks", "spark.task_skew",
    "bench.trace_overhead_pct")

  /** Wall ms of the union of the stages' [submitted, completed] intervals. */
  private def stageWallMs(stages: Seq[StageRec]): Double = {
    val iv = stages.map(s => (s.submitted, s.completed)).sortBy(_._1)
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total.toDouble
  }

  private def busyS(stages: Seq[StageRec]): Double = stages.map(_.runMs).sum / 1e3

  private def opLayers(wl: Workload, o: OpRec, spans: Seq[Span], self: Map[Int, Double],
                       cores: Int, evalsPerOp: Double,
                       extra: Map[String, Double]): Map[String, Double] = {
    val st = o.seen.stages
    val byExec = st.groupBy(_.execId)
    val files = st.filter(_.scansFiles)
    def within(frame: String) = o.seen.execs.filter(_.within(frame))
    def stagesOf(execs: Seq[Exec]) = execs.flatMap(e => byExec.getOrElse(e.id, Nil))
    def spanMs(name: String) = spans.filter(_.name == name).map(_.ms).sum
    // executions that ran inside the given spans
    def execsIn(in: Seq[Span]) = {
      val iv = in.map(s => (s.start, s.end))
      o.seen.execs.filter { e =>
        val mid = (e.start + e.end) / 2.0
        iv.exists { case (s, t) => mid >= s && mid <= t }
      }
    }
    val blocking = st.filter(_.taskMs.size >= 2).sortBy(s => s.submitted - s.completed).headOption
    val common = Map(
      "sources.scan_s" -> busyS(files),
      "sources.rows_read" -> files.map(_.inRecords).sum.toDouble,
      "sources.bytes_read" -> files.map(_.inBytes).sum.toDouble,
      "plans.plan_ms" -> spanMs("plans.executedPlan"),
      "spark.jobs" -> o.seen.jobs.toDouble,
      "spark.stages" -> st.size.toDouble,
      "spark.tasks" -> st.map(_.taskMs.size).sum.toDouble,
      "spark.busy_share" -> st.map(_.runMs).sum / (o.ms * cores),
      "spark.sched_wait_s" -> st.map(_.waitMs).sum / 1e3,
      "spark.shuffle_write_bytes" -> st.map(_.shuffleWrite).sum.toDouble,
      "spark.shuffle_read_bytes" -> st.map(_.shuffleRead).sum.toDouble,
      "spark.spill_bytes" -> st.map(_.spill).sum.toDouble,
      "spark.gc_s" -> o.gcMs / 1e3,
      "spark.failed_tasks" -> st.map(_.failedTasks).sum.toDouble,
      "spark.task_skew" -> blocking.map { s =>
        val t = s.taskMs.map(_.toDouble).toSeq
        val m = median(t)
        if (m > 0) t.max / m else 1.0
      }.getOrElse(1.0))
    val specific: Map[String, Double] = wl match {
      case _: LloydWorkload =>
        val iters = o.seen.execs.filter(_.innermost("Lloyd$.run"))
        val iterStages = stagesOf(iters)
        val assign = busyS(iterStages.filterNot(_.readsShuffle))
        Map(
          "kmeans.cache_fill_s" -> within("Lloyd$.initCentroids").map(e => e.end - e.start).sum / 1e3,
          "kmeans.iterations" -> iters.size.toDouble,
          "kmeans.assign_s" -> assign,
          "kmeans.update_s" -> busyS(iterStages.filter(_.readsShuffle)),
          "kmeans.collect_ms" -> iters.map(e =>
            (e.end - e.start) - stageWallMs(byExec.getOrElse(e.id, Nil))).sum,
          "functions.sqdist_evals" -> evalsPerOp,
          "functions.sqdist_ns" -> (if (evalsPerOp > 0) assign * 1e9 / evalsPerOp else 0.0))
      case _: DataWorkload =>
        val dedupIds = spans.filter(_.name == "text.dedup").map(_.id).toSet
        val collects = execsIn(spans.filter(s => s.name == "spark.collect" && dedupIds(s.parent)))
        val inCall = stagesOf(within("TextDedup$.nearDupPairs"))
        val finals = collects.flatMap(e => byExec.getOrElse(e.id, Nil).sortBy(-_.completed).headOption)
        val rest = stagesOf(collects).filterNot(s => s.scansFiles || finals.contains(s))
        val verified = extra.getOrElse("pairs", 0.0)
        val cands = extra.getOrElse("candidates", 0.0)
        val requests = o.calls.count(c => SearchKeys.contains(c.key))
        val searchScans = stagesOf(execsIn(spans.filter(s => SearchKeys.exists(k => s.name == s"sim.$k"))))
          .filter(_.scansFiles)
        val ivf = busyS(stagesOf(execsIn(spans.filter(_.name == "sim.q_ann_ivf"))))
        val evals = if (o.calls.exists(_.key == "q_ann_ivf")) evalsPerOp else 0.0
        val prog = o.seen.progress
        def dur(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String) =
          Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
        val lastPerQuery = prog.groupBy(_.runId).values.map(_.maxBy(_.batchId))
        SearchKeys.map(k => s"sim.${k}_ms" -> spanMs(s"sim.$k")).toMap ++
        StreamKeys.map(k => s"streaming.${k}_s" ->
          spans.filter(_.name == s"streaming.$k.call").map(s => self(s.id)).sum / 1e3).toMap ++
        BatchKeys.map(k => s"queries.${k}_s" -> spanMs(s"queries.$k") / 1e3).toMap ++ Map(
          "text.sigs_s" -> busyS(inCall.filter(_.scansFiles)),
          "text.candidates_s" -> (busyS(inCall.filterNot(_.scansFiles)) + busyS(rest)),
          "text.shingles_s" -> busyS(stagesOf(collects).filter(_.scansFiles)),
          "text.verify_s" -> busyS(finals),
          "text.candidates" -> cands,
          "text.verified_pairs" -> verified,
          "text.candidate_yield" -> (if (cands > 0) verified / cands else 0.0),
          "sim.rows_scanned" -> searchScans.map(_.inRecords).sum.toDouble / math.max(1, requests),
          "sim.index_build_s" -> within("Lloyd$.initCentroids").map(e => e.end - e.start).sum / 1e3,
          "kmeans.assign_s" -> ivf,
          "functions.sqdist_evals" -> evals,
          "functions.sqdist_ns" -> (if (evals > 0) ivf * 1e9 / evals else 0.0),
          "streaming.batches" -> prog.size.toDouble,
          "streaming.trigger_ms" -> prog.map(dur(_, "triggerExecution")).sum,
          "streaming.commit_ms" -> prog.map(p => dur(p, "walCommit") + dur(p, "commitOffsets")).sum,
          "streaming.state_rows" -> lastPerQuery.map(_.stateOperators.map(_.numRowsTotal).sum).sum.toDouble)
    }
    common ++ specific
  }
}
