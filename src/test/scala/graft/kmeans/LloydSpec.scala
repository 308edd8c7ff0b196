package graft.kmeans

import scala.collection.mutable.ArrayBuffer

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.grafttest.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._

import graft.TestSpark

/** Exact-semantics parity with the reference on its own sample
  * (FIXTURES.md A4) + Lloyd invariants (SURVEY.md §5.2-5.3).
  */
class LloydSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Plain-Scala replica of one reference iteration (mapper.py:57-68 argmin
    * with strict '<' tie-break, reducer.py:19-30 mean) used as the expected
    * value — computed independently of any Spark dataflow.
    */
  private def expectedIter1(pts: Seq[(Long, Array[Double])], cents: Seq[Centroid]) = {
    val assign = pts.map { case (id, p) =>
      val best = cents.map(c => {
        var s = 0.0; var i = 0
        while (i < p.length) { val d = p(i) - c.coordinates(i); s += d * d; i += 1 }
        (s, c.cid)
      }).min // (dist, cid) lexicographic: strict '<' keeps lower cid on ties
      (id, best._2)
    }.toMap
    val means = pts.groupBy { case (id, _) => assign(id) }.map { case (cid, grp) =>
      val d = grp.head._2.length
      val sum = new Array[Double](d)
      grp.foreach { case (_, p) => var i = 0; while (i < d) { sum(i) += p(i); i += 1 } }
      cid -> sum.map(_ / grp.size)
    }
    (assign, means)
  }

  test("iteration 1 on the reference's 20-point sample matches a scalar replica") {
    val df = TestSpark.refPointsDf
    val cents = Lloyd.initCentroids(df, 2)
    assert(cents.map(_.cid) == Seq(1, 2))
    assert(cents.head.coordinates.toSeq == TestSpark.refPoints.head._2.toSeq)

    val (expAssign, expMeans) = expectedIter1(TestSpark.refPoints, cents)
    val gotAssign = Lloyd.assign(df, cents).select("vec_id", "cid")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(gotAssign == expAssign)

    val gotMeans = Lloyd.updateExplode(Lloyd.assign(df, cents))
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1).toArray).toMap
    assert(gotMeans.keySet == expMeans.keySet)
    for ((cid, exp) <- expMeans; got = gotMeans(cid); i <- exp.indices)
      assert(math.abs(got(i) - exp(i)) < 1e-12, s"cid=$cid dim=$i")
  }

  test("Aggregator and posexplode mean paths agree") {
    val df = TestSpark.refPointsDf
    val cents = Lloyd.initCentroids(df, 3)
    val a = Lloyd.assign(df, cents).groupBy("cid").agg(VecMeanAgg(col("coordinates")))
      .orderBy("cid")
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1).toSeq))
    val b = Lloyd.updateExplode(Lloyd.assign(df, cents)).orderBy("cid")
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1).toSeq))
    assert(a.length == b.length)
    for (((cidA, va), (cidB, vb)) <- a.zip(b)) {
      assert(cidA == cidB)
      for (i <- va.indices) assert(math.abs(va(i) - vb(i)) < 1e-9)
    }
  }

  test("ties go to the lower centroid id (mapper.py:64 strict '<')") {
    val s = spark
    import s.implicits._
    // both centroids equidistant from the single point
    val pts = Seq((0L, Array(0.0, 0.0))).toDF("vec_id", "coordinates")
    val cents = Seq(Centroid(1, Array(1.0, 0.0)), Centroid(2, Array(-1.0, 0.0)))
    val cid = Lloyd.assign(pts, cents).select("cid").head().getInt(0)
    assert(cid == 1)
  }

  test("empty clusters vanish from the next round (reducer.py:59-67)") {
    val s = spark
    import s.implicits._
    val pts = Seq((0L, Array(0.0, 0.0)), (1L, Array(1.0, 0.0))).toDF("vec_id", "coordinates")
    // centroid 3 is far away: no point assigns to it
    val cents = Seq(Centroid(1, Array(0.0, 0.0)), Centroid(2, Array(1.0, 0.0)),
      Centroid(3, Array(1e6, 1e6)))
    val cids = Lloyd.updateExplode(Lloyd.assign(pts, cents))
      .select("cid").collect().map(_.getInt(0)).toSet
    assert(cids == Set(1, 2))
  }

  test("SSE is non-increasing across Lloyd iterations (sf0.001)") {
    val pts = graft.core.Tables.points(spark, TestSpark.Sf0001).cache()
    var cents = Lloyd.initCentroids(pts, 5)
    var prevSse = Double.MaxValue
    for (_ <- 1 to 4) {
      val sse = Lloyd.sse(pts, cents)
      assert(sse <= prevSse + 1e-6, s"SSE increased: $prevSse -> $sse")
      prevSse = sse
      cents = Lloyd.assign(pts, cents).groupBy("cid").agg(VecMeanAgg(col("coordinates")))
        .orderBy("cid")
        .collect().map(r => Centroid(r.getInt(0), r.getSeq[Double](1).toArray)).toSeq
    }
    pts.unpersist()
  }

  test("full loop converges and assignment is a fixpoint at convergence") {
    val df = TestSpark.refPointsDf
    val (cents, iters) = Lloyd.run(df, k = 2, maxIter = 50, eps = 1e-9)
    assert(iters < 50, "did not converge")
    // one more update moves nothing
    val next = Lloyd.assign(df, cents).groupBy("cid").agg(VecMeanAgg(col("coordinates")))
      .orderBy("cid")
      .collect().map(r => Centroid(r.getInt(0), r.getSeq[Double](1).toArray))
    assert(next.length == cents.length)
    for ((n, c) <- next.zip(cents.sortBy(_.cid)); i <- n.coordinates.indices)
      assert(math.abs(n.coordinates(i) - c.coordinates(i)) < 1e-9)
  }

  test("convergence compares by centroid id, not position (master.py:100 zip bug fixed)") {
    val s = spark
    import s.implicits._
    // 2 tight clusters + 1 unhit centroid: after iter 1 the id set shrinks,
    // so the loop must NOT report convergence on that round.
    val pts = Seq((0L, Array(0.0, 0.0)), (1L, Array(0.1, 0.0)),
      (2L, Array(10.0, 0.0)), (3L, Array(10.1, 0.0))).toDF("vec_id", "coordinates")
    val (cents, iters) = Lloyd.run(pts, k = 3, maxIter = 10, eps = 1e-6)
    // k=3 init = first 3 points -> cluster 3 (at 10.0) absorbs point 3; cluster
    // 1/2 split {0},{1}; loop continues until stable with the surviving ids
    assert(iters >= 2)
    assert(cents.map(_.cid).toSet.subsetOf(Set(1, 2, 3)))
  }

  test("q_ari: matches a driver-side exact ARI over the same assignment") {
    val row = graft.SparkEntry.queries("q_ari")(spark, TestSpark.Sf0001)
      .collect().head
    val cents = Lloyd.initCentroidsFor(spark, TestSpark.Sf0001, KmeansQueries.K)
    val pts = graft.core.Tables.points(spark, TestSpark.Sf0001)
      .withColumn("cid", Lloyd.assignCol(cents, col("coordinates")))
      .select("vec_id", "cid").collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("cid")).toMap
    val labs = graft.core.Tables.embeddings(spark, TestSpark.Sf0001)
      .select("vec_id", "label").collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("label"))
    val cells = labs.groupBy { case (v, l) => (pts(v), l) }
      .view.mapValues(_.length.toLong).toMap
    def c2(x: Long) = x * (x - 1) / 2
    val sij = cells.values.map(c2).sum
    val sa = cells.groupBy(_._1._1).values.map(v => c2(v.values.sum)).sum
    val sb = cells.groupBy(_._1._2).values.map(v => c2(v.values.sum)).sum
    val n = labs.length.toLong
    val n2 = c2(n)
    val expected = BigDecimal(
      2.0 * (sij.toDouble * n2.toDouble - sa.toDouble * sb.toDouble) /
        ((sa + sb).toDouble * n2.toDouble - 2.0 * sa.toDouble * sb.toDouble))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(row.getAs[Long]("sij") == sij && row.getAs[Long]("sa") == sa &&
      row.getAs[Long]("sb") == sb)
    assert(math.abs(row.getAs[Double]("ari") - expected) < 2e-6,
      s"ari ${row.getAs[Double]("ari")} vs $expected")
    // sanity: ARI is bounded by 1 and chance-corrected around 0
    assert(row.getAs[Double]("ari") <= 1.0)
  }

  test("q_v_measure: scores bounded, V is the harmonic mean, conditioning holds") {
    val r = graft.SparkEntry.queries("q_v_measure")(spark, TestSpark.Sf0001)
      .collect().head
    val h = r.getAs[Long]("homogeneity_ppm")
    val c = r.getAs[Long]("completeness_ppm")
    val v = r.getAs[Long]("v_ppm")
    // conditioning can only reduce entropy, so both scores sit in
    // [0, 1e6] up to one micro-nat rounding grain
    assert(h >= -5L && h <= 1000000L, s"homogeneity $h")
    assert(c >= -5L && c <= 1000000L, s"completeness $c")
    assert(v == 2 * h * c / (h + c), "V must be the harmonic mean")
    assert(v <= math.max(h, c) && v >= math.min(h, c) - 1)
  }

  /** One iteration of the DataFrame reference, `updateExplode(assign)`. */
  private def explodeStep(pts: DataFrame, cents: Seq[Centroid]): Seq[Centroid] =
    Lloyd.updateExplode(Lloyd.assign(pts, cents)).orderBy("cid")
      .collect().map(r => Centroid(r.getInt(0), r.getSeq[Double](1).toArray)).toSeq

  /** `Lloyd.step` against [[explodeStep]]: the same cids, and means within
    * 1e-12.
    */
  private def assertStepMatchesExplode(pts: DataFrame, cents: Seq[Centroid]): Unit = {
    val got = Lloyd.step(pts, cents)
    val want = explodeStep(pts, cents)
    assert(got.map(_.cid) == want.map(_.cid))
    for ((g, w) <- got.zip(want); i <- w.coordinates.indices)
      assert(math.abs(g.coordinates(i) - w.coordinates(i)) < 1e-12, s"cid=${g.cid} dim=$i")
  }

  private def sf0001In3 = graft.core.Tables.points(spark, TestSpark.Sf0001).repartition(3).cache()

  test("Lloyd.step's per-partition fold matches the posexplode mean over 3 partitions") {
    val pts = sf0001In3
    try {
      assertStepMatchesExplode(pts, Lloyd.initCentroids(pts, 5))
      // K = 1: every point in one cluster
      assertStepMatchesExplode(pts, Lloyd.initCentroids(pts, 1))
      // cid 9 duplicates cid 1, so every point nearest to them ties and
      // goes to cid 1; cid 9 gets no point and vanishes
      val cents = Lloyd.initCentroids(pts, 4)
      val tied = cents :+ Centroid(9, cents.head.coordinates)
      assertStepMatchesExplode(pts, tied)
      assert(!Lloyd.step(pts, tied).exists(_.cid == 9))
    } finally pts.unpersist()
  }

  test("Lloyd.run reaches the same answer as a loop of updateExplode over assign") {
    val pts = sf0001In3
    try {
      val (a, itersA) = Lloyd.run(pts, k = 5, maxIter = 30, eps = 1e-9)
      // the DataFrame reference from the same init, to the same convergence rule
      var b = Lloyd.initCentroids(pts, 5)
      var itersB = 0
      var moved = true
      while (itersB < 30 && moved) {
        val next = explodeStep(pts, b)
        moved = next.map(_.cid) != b.map(_.cid) || next.zip(b).exists { case (x, y) =>
          math.sqrt(x.coordinates.zip(y.coordinates).map { case (u, v) => (u - v) * (u - v) }.sum) >= 1e-9
        }
        b = next
        itersB += 1
      }
      assert(itersA == itersB)
      assert(a.map(_.cid) == b.map(_.cid))
      for ((x, y) <- a.zip(b); i <- x.coordinates.indices)
        assert(math.abs(x.coordinates(i) - y.coordinates(i)) < 1e-9, s"cid=${x.cid} dim=$i")
    } finally pts.unpersist()
  }

  test("a row with null coordinates joins no cluster") {
    val s = spark
    import s.implicits._
    val pts = Seq[(Long, Array[Double])]((0L, Array(0.0, 0.0)), (1L, Array(1.0, 0.0)),
      (2L, null)).toDF("vec_id", "coordinates")
    // no real point is near centroid 1, the lowest cid
    val cents = Seq(Centroid(1, Array(1e6, 1e6)), Centroid(2, Array(0.0, 0.0)),
      Centroid(3, Array(1.0, 0.0)))
    for ((path, next) <- Seq("step" -> Lloyd.step(pts, cents), "explode" -> explodeStep(pts, cents))) {
      assert(next.map(_.cid) == Seq(2, 3), path)
      assert(next.forall(_.coordinates.length == 2), path)
    }
  }

  test("the init skips rows with null coordinates among the first K") {
    val s = spark
    import s.implicits._
    val pts = Seq[(Long, Array[Double])]((0L, null), (1L, Array(0.0, 0.0)),
      (2L, Array(4.0, 0.0)), (3L, Array(5.0, 0.0))).toDF("vec_id", "coordinates")
    def rows(cs: Seq[Centroid]) = cs.map(c => (c.cid, c.coordinates.toSeq))
    assert(rows(Lloyd.initCentroids(pts, 2)) == Seq((1, Seq(0.0, 0.0)), (2, Seq(4.0, 0.0))))
    val (cents, _) = Lloyd.run(pts, k = 2, maxIter = 10, eps = 1e-9)
    assert(rows(cents) == Seq((1, Seq(0.0, 0.0)), (2, Seq(4.5, 0.0))))
    val e = intercept[IllegalArgumentException](Lloyd.run(pts.filter($"vec_id" === 0L), k = 2))
    assert(e.getMessage.contains("at least one point"))
  }

  private def messages(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" / ")

  test("a null element or a length mismatch fails Lloyd.step, naming where") {
    val s = spark
    import s.implicits._
    val cents = Seq(Centroid(1, Array(0.0, 0.0)), Centroid(2, Array(1.0, 0.0)))
    val nullElem = Seq((0L, Seq(Some(0.5), None))).toDF("vec_id", "coordinates")
    val e1 = intercept[Exception](Lloyd.step(nullElem, cents))
    assert(messages(e1).contains("null element at 1"), messages(e1))
    val long = Seq((0L, Array(0.0, 0.0, 0.0))).toDF("vec_id", "coordinates")
    val e2 = intercept[Exception](Lloyd.step(long, cents))
    assert(messages(e2).contains("point of length 3, centroid 1 of length 2"), messages(e2))
  }

  test("Lloyd.run rejects k < 1 and an empty input up front") {
    val df = TestSpark.refPointsDf
    val e1 = intercept[IllegalArgumentException](Lloyd.run(df, k = 0))
    assert(e1.getMessage.contains("k >= 1"))
    val e2 = intercept[IllegalArgumentException](Lloyd.run(df.limit(0), k = 2))
    assert(e2.getMessage.contains("at least one point"))
  }

  /** What the Spark listener bus reports while `body` runs; `tasks` holds
    * each submitted stage's task count, in submission order.
    */
  private final case class Seen(jobs: Seq[Option[String]], stages: Seq[Option[String]],
                                shuffleBytes: Long, execs: Seq[SparkListenerSQLExecutionStart],
                                tasks: Seq[Int])

  private def observe(body: => Unit): Seen = {
    val sc = spark.sparkContext
    Bus.drain(sc)
    val jobs, stages = ArrayBuffer[Option[String]]()
    val execs = ArrayBuffer[SparkListenerSQLExecutionStart]()
    val tasks = ArrayBuffer[Int]()
    var shuffleBytes = 0L
    val seen = new SparkListener {
      private def execId(p: java.util.Properties) =
        Option(p).flatMap(q => Option(q.getProperty("spark.sql.execution.id")))
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs += execId(e.properties)
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
        stages += execId(e.properties)
        tasks += e.stageInfo.numTasks
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach { m =>
        shuffleBytes += m.shuffleWriteMetrics.bytesWritten + m.shuffleReadMetrics.totalBytesRead
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart => execs += x
        case _ =>
      }
    }
    sc.addSparkListener(seen)
    try {
      body
      Bus.drain(sc)
    } finally sc.removeSparkListener(seen)
    Seen(jobs.toSeq, stages.toSeq, shuffleBytes, execs.toSeq, tasks.toSeq)
  }

  /** The innermost program frame of an execution's call site, as the
    * benchmark in bench/ reads it.
    */
  private def innermost(e: SparkListenerSQLExecutionStart): String =
    e.details.linesIterator.map(_.trim).find(_.startsWith("graft.")).map(_.takeWhile(_ != '('))
      .getOrElse("")

  test("one Lloyd.step on cached points is one job of one stage, with no shuffle") {
    val s = spark
    import s.implicits._
    val pts = spark.sparkContext.parallelize(TestSpark.refPoints, 3).toDF("vec_id", "coordinates").cache()
    try {
      val cents = Lloyd.initCentroids(pts, 3) // fills the cache
      val seen = observe(Lloyd.step(pts, cents))
      assert(seen.jobs.size == 1, s"jobs: ${seen.jobs}")
      assert(seen.stages.size == 1, s"stages: ${seen.stages}")
      assert(seen.shuffleBytes == 0L)
      assert(seen.execs.size == 1)
      assert((seen.jobs ++ seen.stages).toSet == Set(Some(seen.execs.head.executionId.toString)))
    } finally pts.unpersist()
  }

  test("Lloyd.run is one fill-and-init job, then one job per iteration, at the frames bench/ reads") {
    val s = spark
    import s.implicits._
    val pts = spark.sparkContext.parallelize(TestSpark.refPoints, 3).toDF("vec_id", "coordinates")
    val seen = observe(Lloyd.run(pts, k = 3, maxIter = 3, eps = 0.0))
    assert(seen.jobs.size == 4, s"jobs: ${seen.jobs}")
    assert(seen.stages.size == 4, s"stages: ${seen.stages}")
    assert(seen.shuffleBytes == 0L)
    assert(seen.execs.size == 4)
    assert((seen.jobs ++ seen.stages).toSet == seen.execs.map(e => Some(e.executionId.toString)).toSet)
    val frames = seen.execs.sortBy(_.executionId).map(innermost)
    assert(frames == "graft.kmeans.Lloyd$.initCentroids" +: Seq.fill(3)("graft.kmeans.Lloyd$.run"),
      frames.mkString(", "))
  }

  /** `n` points per partition in `parts` partitions: 64-D Gaussian blobs
    * around 6 centers, ids in row order, plus one row with null coordinates.
    * Points 0 and 1 are equal, so with K = 8 the second init centroid ties
    * with the first everywhere, gets no point and vanishes.
    */
  private def blobs(parts: Int, n: Int): (DataFrame, Array[(Long, Array[Double])]) = {
    val rnd = new scala.util.Random(7)
    val centers = Array.fill(6, 64)(rnd.nextGaussian() * 4)
    val rows = (0 until parts * n).map { i =>
      val c = centers(rnd.nextInt(6))
      (i.toLong, c.map(_ + rnd.nextGaussian()))
    }.toArray
    rows(1) = (1L, rows(0)._2.clone)
    val withNull = rows.toSeq.patch(n / 2, Seq((-1L, null: Array[Double])), 0)
    val s = spark
    import s.implicits._
    (spark.sparkContext.parallelize(withNull, parts).toDF("vec_id", "coordinates"), rows)
  }

  /** Plain-Scala Lloyd, the rule of the benchmark's replay: first-K init by
    * vec_id, ties to the lower cid, vanished clusters dropped, `iters`
    * rounds; sums in the order of `points`.
    */
  private def replay(points: Array[(Long, Array[Double])], k: Int, iters: Int): Seq[Centroid] = {
    var cents = points.sortBy(_._1).take(k).zipWithIndex
      .map { case ((_, p), i) => Centroid(i + 1, p.clone) }.toSeq
    val d = points.head._2.length
    for (_ <- 1 to iters) {
      val cs = cents.toArray
      val sums = Array.fill(cs.length)(new Array[Double](d))
      val counts = new Array[Long](cs.length)
      points.foreach { case (_, p) =>
        var best = -1; var bestD = Double.PositiveInfinity; var j = 0
        while (j < cs.length) {
          var s = 0.0; var i = 0
          while (i < d) { val x = p(i) - cs(j).coordinates(i); s += x * x; i += 1 }
          if (s < bestD) { bestD = s; best = j }
          j += 1
        }
        var i = 0
        while (i < d) { sums(best)(i) += p(i); i += 1 }
        counts(best) += 1
      }
      cents = cs.indices.filter(counts(_) > 0)
        .map(j => Centroid(cs(j).cid, sums(j).map(_ / counts(j)))).toSeq
    }
    cents
  }

  test("Lloyd.run over several blocks per partition matches a plain-Scala replay") {
    val (three, points) = blobs(parts = 3, n = 5000)
    val want = replay(points, k = 8, iters = 5)
    assert(want.size < 8, "the replay should drop a cluster")
    val (got, iters) = Lloyd.run(three, k = 8, maxIter = 5, eps = 0.0)
    assert(iters == 5)
    assert(got.map(_.cid) == want.map(_.cid))
    for ((g, w) <- got.zip(want); i <- w.coordinates.indices)
      assert(math.abs(g.coordinates(i) - w.coordinates(i)) < 1e-12, s"cid=${g.cid} dim=$i")
    // one partition folds every point in row order: the same bits
    val (one, _) = blobs(parts = 1, n = 15000)
    val (exact, _) = Lloyd.run(one, k = 8, maxIter = 5, eps = 0.0)
    assert(exact.map(c => (c.cid, c.coordinates.toSeq)) == want.map(c => (c.cid, c.coordinates.toSeq)))
  }

  test("past one partition per core, the fill runs a task per partition and an iteration one per core") {
    val cores = spark.sparkContext.defaultParallelism
    val parts = cores + 2
    val (many, _) = blobs(parts, n = 200)
    val seen = observe(Lloyd.run(many, k = 8, maxIter = 3, eps = 0.0))
    assert(seen.jobs.size == 4, s"jobs: ${seen.jobs}")
    assert(seen.stages.size == 4, s"stages: ${seen.stages}")
    assert(seen.tasks == parts +: Seq.fill(3)(math.min(parts, cores)), s"tasks: ${seen.tasks}")
    assert(seen.shuffleBytes == 0L)
    // one step on unpersisted blocks: one stage, one task per core
    val cents = Lloyd.initCentroids(many, 8)
    val one = observe(Lloyd.step(many, cents))
    assert(one.tasks == Seq(cores), s"tasks: ${one.tasks}")
    assert(one.shuffleBytes == 0L)
  }

  test("past one partition per core, runs are bit-identical and match the plain-Scala replay") {
    val parts = spark.sparkContext.defaultParallelism + 3
    val (many, points) = blobs(parts, n = 1000)
    val want = replay(points, k = 8, iters = 5)
    val (a, itersA) = Lloyd.run(many, k = 8, maxIter = 5, eps = 0.0)
    val (b, _) = Lloyd.run(many, k = 8, maxIter = 5, eps = 0.0)
    assert(itersA == 5)
    assert(a.map(c => (c.cid, c.coordinates.toSeq)) == b.map(c => (c.cid, c.coordinates.toSeq)))
    assert(a.map(_.cid) == want.map(_.cid))
    for ((g, w) <- a.zip(want); i <- w.coordinates.indices)
      assert(math.abs(g.coordinates(i) - w.coordinates(i)) < 1e-9, s"cid=${g.cid} dim=$i")
  }

  test("Lloyd.run leaves no persisted RDD behind, however it ends") {
    val s = spark
    import s.implicits._
    val sc = spark.sparkContext
    def persisted = sc.getPersistentRDDs.keySet
    val before = persisted
    Lloyd.run(TestSpark.refPointsDf, k = 2, maxIter = 3)
    assert(persisted == before, "after a run that succeeds")
    val nullElem = Seq((0L, Seq(Some(0.5), Some(1.0))), (1L, Seq(Some(0.5), None)))
      .toDF("vec_id", "coordinates")
    val e1 = intercept[Exception](Lloyd.run(nullElem, k = 1))
    assert(messages(e1).contains("null element at 1"), messages(e1))
    assert(persisted == before, "after a run that fails on a null element")
    val noPoints = Seq[(Long, Array[Double])]((0L, null), (1L, null)).toDF("vec_id", "coordinates")
    val e2 = intercept[IllegalArgumentException](Lloyd.run(noPoints, k = 2))
    assert(e2.getMessage.contains("at least one point"))
    assert(persisted == before, "after a run on only null coordinates")
    // a longer point after the init's: its block fails the fold, naming both lengths
    val mixed = Seq((0L, Array(0.0, 0.0)), (1L, Array(1.0, 0.0)), (2L, Array(1.0, 0.0, 0.0)))
      .toDF("vec_id", "coordinates").coalesce(1)
    val e3 = intercept[Exception](Lloyd.run(mixed, k = 2))
    assert(messages(e3).contains("point of length 3, centroid 1 of length 2"), messages(e3))
    assert(persisted == before, "after a run that fails on a length mismatch")
  }
}
