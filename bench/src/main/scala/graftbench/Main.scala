package graftbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.graftbench.Bus
import org.apache.spark.sql.SparkSession

/** One measured operation: its calls, wall time, and what the listener and
  * tracer saw while it ran.
  */
final case class OpRec(i: Int, traced: Boolean, ms: Double, calls: Seq[Call],
                       seen: Seen, gcMs: Long, cacheMb: Double)

/** Benchmark main: builds the session, warms up, runs one workload's
  * operations for the measured window, gates the outputs and writes a JSON
  * report. `bench/run.py` generates the inputs, starts this, finishes the
  * gate and prints the result line.
  *
  *   Main --workload <w> --data <dir> --work <dir> --out <file>
  *        --seconds <s> --trace <0|1>
  */
object Main {

  def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Nearest-rank percentile. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0 else xs.sorted.apply(math.max(0, math.ceil(p * xs.size).toInt - 1))

  def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config(graft.core.Tables.NanosAsLongConf._1, graft.core.Tables.NanosAsLongConf._2)
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      // the program's default checkpoint base is /dev/shm; the benchmark
      // writes only inside its own directory, so the drains checkpoint here
      .config("spark.graft.stream.ckptBase", s"$work/stream-ckpt")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** A fresh directory holding hard links to (or copies of) the inputs. */
  def linkDir(base: String, dest: String): String = {
    val d = new File(dest); d.mkdirs()
    new File(base).listFiles().filter(_.isFile).foreach { f =>
      val to = Paths.get(dest, f.getName)
      try Files.createLink(to, f.toPath)
      catch { case _: Exception => Files.copy(f.toPath, to, StandardCopyOption.REPLACE_EXISTING) }
    }
    dest
  }

  /** Box-contention probe: a fixed kernel that no program change touches.
    * A run whose probe times disagree before and after the workload ran
    * on a contended box.
    */
  def probe(spark: SparkSession): Double = {
    def once(): Double = {
      // fixed, plan-independent kernel; the second run absorbs its warm-up
      val t0 = System.nanoTime()
      spark.range(20L * 1000 * 1000).selectExpr("sum(cast(hash(id) as bigint))").collect()
      (System.nanoTime() - t0) / 1e6
    }
    math.min(once(), once())
  }

  private val t00 = System.nanoTime()
  def log(msg: String): Unit = System.err.println(f"[bench ${(System.nanoTime() - t00) / 1e9}%7.2f s] $msg")

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val data = a("data"); val work = a("work")
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val cores = Runtime.getRuntime.availableProcessors
    val wl = Workload(a("workload"))
    val rec = new Recorder
    val tr = new Tracer

    // set-up: session build + one untimed warm-up operation on a copy of
    // the inputs (absorbs class loading, code generation and the JIT work
    // that makes the first operation of a JVM the slowest by far)
    val t0 = System.nanoTime()
    val spark = session(cores, work)
    spark.sparkContext.addSparkListener(rec)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val warmDir = linkDir(data, s"$work/runs/warm")
    wl.op(spark, warmDir, warmDir, tr, keep = false)
    val setupS = (System.nanoTime() - t0) / 1e9
    Bus.drain(spark.sparkContext); rec.take()
    log(f"set-up done: $setupS%.2f s")
    val probeBefore = probe(spark)
    log(s"probe $probeBefore ms")

    val runDir = linkDir(data, s"$work/runs/measured")
    val ops = ArrayBuffer[OpRec]()
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    // the first operation fixes how many fill the window, at least two: a
    // count that does not hang on when the clock runs out keeps every run's
    // mean over the same operations. Trace mode traces them in the pattern
    // T U T (the first is traced, so it sees one-time builds) and the
    // untraced one, at the same mean position, gives the tracing overhead
    val minOps = if (trace) 3 else 2
    var nOps = minOps
    while (ops.size < nOps && elapsed < 3 * seconds) {
      val i = ops.size
      val traced = trace && i % 2 == 0
      val opDir = linkDir(data, s"$work/runs/op$i")
      rec.detailed = traced; tr.on = traced; tr.op = i
      val g0 = gcMs()
      val (calls, ms) = tr.span("bench.op")(wl.op(spark, opDir, runDir, tr, keep = true))
      val g1 = gcMs()
      Bus.drain(spark.sparkContext)
      rec.detailed = false; tr.on = false
      val cacheMb = spark.sparkContext.getExecutorMemoryStatus.values
        .map { case (max, free) => max - free }.sum / 1e6
      ops += OpRec(i, traced, ms, calls, rec.take(), g1 - g0, cacheMb)
      if (i == 0) nOps = math.max(minOps, math.round(seconds * 1e3 / ms).toInt)
      // artifacts of a finished operation are never read again
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    }
    log(s"${ops.size} operations done")
    val probeAfter = probe(spark)

    val extra = wl match {
      case r: DataWorkload if trace && r.dedup.lastDir.nonEmpty =>
        // candidate count, outside every timed region, from the text
        // module's memoized candidate builder with nearDupPairs' defaults
        Map("candidates" -> graft.text.TextDedup.minhashCandidatesFor(spark, r.dedup.lastDir).count().toDouble,
          "pairs" -> r.dedup.pairs.toDouble)
      case _ => Map.empty[String, Double]
    }
    val (gateFailed, gate) = wl.gate(spark, data)
    log("gate done")
    val evals = wl match {
      case l: LloydWorkload => l.evalsPerRun.toDouble
      case _: DataWorkload =>
        // q_ann_ivf assigns every vector to KmeansQueries.K cells per request
        spark.read.parquet(s"$data/embeddings.parquet").count().toDouble * graft.kmeans.KmeansQueries.K
    }
    System.gc(); System.gc()
    val rt = Runtime.getRuntime
    val heapMb = (rt.totalMemory - rt.freeMemory) / 1e6
    spark.stop()
    log("session stopped")

    val measured = ops.filterNot(_.traced)
    val e2e = Metrics.endToEnd(wl, measured.toSeq, heapMb) ++ Map("setup_s" -> setupS)
    val layers = if (!trace) Map.empty[String, Double]
      else Metrics.layers(wl, ops.toSeq, tr, cores, evals, extra)
    val report = Map(
      "workload" -> wl.name, "cores" -> cores, "trace" -> trace,
      "setup_s" -> setupS, "session_build_s" -> sessionS, "ops" -> ops.size,
      "traced_ops" -> ops.count(_.traced), "op_ms" -> ops.map(_.ms),
      "attempted" -> ops.map(_.calls.size).sum,
      "failed_calls" -> ops.map(_.calls.count(_.failed)).sum,
      "failed_checks" -> gateFailed,
      "probe_ms" -> Map("before" -> probeBefore, "after" -> probeAfter),
      "e2e" -> e2e, "layers" -> layers, "gate" -> gate,
      "self_ms" -> Metrics.selfByName(tr),
      "stages" -> ops.filter(_.traced).flatMap { o =>
        val frames = o.seen.execs.map(e => e.id -> e.frames.headOption.getOrElse("")).toMap
        o.seen.stages.map(s => Map("op" -> o.i, "exec" -> s.execId,
          "frame" -> frames.getOrElse(s.execId, ""), "stage" -> s.id, "tasks" -> s.taskMs.size,
          "run_ms" -> s.runMs, "wall_ms" -> (s.completed - s.submitted), "scans_files" -> s.scansFiles,
          "in_records" -> s.inRecords, "shuffle_read" -> s.shuffleRead, "shuffle_write" -> s.shuffleWrite))
      },
      "spans" -> tr.all.map(s => Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
        "name" -> s.name, "start" -> s.start, "end" -> s.end, "gc_ms" -> s.gcMs)))
    Files.writeString(Paths.get(a("out")), Json(report))
  }
}

/** Minimal JSON encoder for the report. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case m: Map[_, _] => m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
