package graft.kmeans

import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{graftbridge, Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType}
import org.apache.spark.storage.StorageLevel

import graft.core.Vec
import graft.functions.NearestCentroid
import graft.text.ArtifactMemo

/** A cluster center: id + N-dim vector (kmeans.proto:9-12). */
case class Centroid(cid: Int, coordinates: Array[Double])

/** Lloyd's algorithm as idiomatic Spark dataflow.
  *
  * The reference implements each iteration as: master splits the input by
  * line ranges -> mapper processes do a linear argmin scan over broadcast
  * centroids (/root/reference/mapper.py:57-68) -> text-file shuffle keyed by
  * `cid % R` (mapper.py:32-38,71-84) -> reducer processes group by key and
  * take the per-dimension mean (reducer.py:19-30,58-67) -> master concatenates
  * and checks convergence (master.py:97-103,149-152).
  *
  * Here one iteration ([[step]]) is ONE Spark job of one stage, the
  * in-mapper combining shape of MLlib's KMeans:
  *
  *   - the points become blocks once per [[run]]. A block holds the
  *     non-null points of one partition, in row order, as one row-major
  *     `double[]` plus their vec_ids. It holds at most 2^18 doubles
  *     (2 MiB), so its row count follows D, and it ends early where the
  *     next point's length differs, so every block is uniform.
  *   - the blocks are persisted `MEMORY_AND_DISK`, the level `Dataset.cache`
  *     uses: a partition that does not fit in memory spills to disk instead
  *     of being recomputed from the source. [[run]] unpersists them however
  *     the loop ends. Filling them and computing the first-K init
  *     ([[initCentroids]]) are one job with a task per partition.
  *   - an iteration reads the blocks in at most one group of partitions per
  *     core (`coalesce`, no shuffle), so its tasks, and the partial sums the
  *     driver receives, are bounded by cores rather than by input splits.
  *   - the K centroids live on the driver and ship with the job's function
  *     as one flattened K×D table, so each task runs the fused
  *     [[graft.functions.NearestCentroid]] argmin loop over `double[]`
  *     slices of its blocks with *no join and no shuffle at all* on the big
  *     side, and decodes no row. This mirrors the reference's broadcast of
  *     centroids inside every RPC request (kmeans.proto:16,
  *     master.py:182-186).
  *   - each task folds its points, in order, into one K×D buffer of
  *     coordinate sums plus K counts, so K×(D+1) numbers per group reach
  *     the driver. `SparkContext.runJob` puts each group's buffer in the
  *     slot of its partition index, and the driver merges them in index
  *     order, so the same grouping gives the same bits.
  *   - the driver divides, drops empty clusters and keeps the means in cid
  *     order. The loop never grows lineage.
  *
  * Every function a job ships is a named class ([[ToBlocks]], [[FirstK]],
  * [[FoldBlocks]]), not a Scala lambda. Spark's `ClosureCleaner` reads and
  * parses the bytecode of the class that defines each lambda it is handed,
  * and of the lambdas Spark's own RDD operations wrap around it, on every
  * job; that work was most of an iteration's driver time. A named class is
  * no closure to it. `JobLintSpec` keeps lambdas out of these calls.
  *
  * [[assign]] and the posexplode/avg plan [[updateExplode]] express one
  * iteration as a DataFrame. The DuckDB oracles replay each step from the
  * one spelling kept beside its Spark owner: [[graft.core.Tables.PointsCte]]
  * for the points, [[firstSql]] / [[initSql]] / [[ProbeSql]] for the
  * first-K init, [[graft.core.Vec.sqDistSql]] for the squared distance,
  * [[nearestSql]] for the assignment and [[meansSql]] for the update.
  *
  * Semantics kept from the reference (SURVEY.md §2.11): ties go to the
  * lower centroid id (strict `<` in mapper.py:64 keeps the earlier one);
  * clusters with no assigned points vanish from the next round
  * (reducer.py:59-67); convergence requires ALL surviving centroids to move
  * < eps (master.py:149-151), compared by id (the reference's positional
  * `zip` at master.py:100 silently mis-pairs after a vanish — we implement
  * the evidently intended id-join).
  */
object Lloyd {

  /** Deterministic init: the first K points with non-null coordinates,
    * ordered by vec_id, cids 1..K. A null row joins no cluster in the
    * iteration either. (Documented deviation from the reference's
    * `random.sample` master.py:54-65, which is irreproducible across
    * engines; the seeded variant lives in the MLlib cross-check.)
    */
  def initCentroids(points: DataFrame, k: Int): Seq[Centroid] = {
    val (qe, bs) = blocks(points)
    initCentroids(qe, bs, k)
  }

  // The first-K rule over point blocks, as one SQL execution of `qe`: each
  // partition keeps its K smallest (vec_id, row), and the driver merges
  // them. Equal vec_ids go to the earlier partition, then the earlier row.
  // `run` calls it on its persisted blocks, so the job that computes the
  // init also fills them.
  private def initCentroids(qe: QueryExecution, blocks: RDD[Block], k: Int): Seq[Centroid] = {
    val firsts = SQLExecution.withNewExecutionId(qe, Some("Lloyd.initCentroids")) {
      blocks.sparkContext.runJob(blocks, FirstK(k))
    }
    firsts.flatten.sortBy(f => (f.id, f.part, f.row)).take(k).zipWithIndex
      .map { case (f, i) => Centroid(i + 1, f.coordinates) }.toSeq
  }

  private final case class First(id: Long, part: Int, row: Long, coordinates: Array[Double])

  /** The K points of one partition's blocks with the smallest (vec_id, row). */
  private final case class FirstK(k: Int)
    extends ((TaskContext, Iterator[Block]) => Array[First]) {
    def apply(ctx: TaskContext, bs: Iterator[Block]): Array[First] = {
      val part = ctx.partitionId()
      // max-heap on (id, row): its head is the first point to drop
      val heap = new java.util.PriorityQueue[First](math.min(k, 64),
        (a: First, b: First) => if (a.id != b.id) java.lang.Long.compare(b.id, a.id)
                                else java.lang.Long.compare(b.row, a.row))
      var row = 0L
      bs.foreach { b =>
        var r = 0
        while (r < b.ids.length) {
          // within a partition rows only grow, so an equal id never displaces
          if (heap.size < k || b.ids(r) < heap.peek.id) {
            if (heap.size == k) heap.poll()
            heap.add(First(b.ids(r), part, row,
              java.util.Arrays.copyOfRange(b.x, r * b.d, (r + 1) * b.d)))
          }
          r += 1
          row += 1
        }
      }
      heap.toArray(new Array[First](0))
    }
  }

  /** Memoized [[initCentroids]] over the fixture at `sfDir` (the common
    * prologue of every registered K-Means-derived query): K rows, so the
    * artifact is bytes, not data.
    */
  def initCentroidsFor(spark: org.apache.spark.sql.SparkSession, sfDir: String, k: Int): Seq[Centroid] =
    ArtifactMemo(s"init_centroids(k=$k)", spark, sfDir) {
      initCentroids(graft.core.Tables.points(spark, sfDir), k)
    }

  /** The probe vector of the search and distance queries: the first point
    * of the init ([[initCentroidsFor]] with k = 1).
    */
  def probeFor(spark: org.apache.spark.sql.SparkSession, sfDir: String): Array[Double] =
    initCentroidsFor(spark, sfDir, 1).head.coordinates

  /** The first-`n` rule in DuckDB, over [[graft.core.Tables.PointsCte]]:
    * the points with non-null coordinates ranked `offset + 1` to
    * `offset + n` by vec_id, as a subquery of (vec_id, c).
    */
  def firstSql(n: Int, offset: Int = 0): String =
    s"(SELECT vec_id, c FROM pts WHERE c IS NOT NULL ORDER BY vec_id LIMIT $n" +
      (if (offset > 0) s" OFFSET $offset)" else ")")

  /** [[initCentroids]] in DuckDB: the CTE `name(cid, c)`, cids 1..k, over
    * [[firstSql]]`(k, offset)`.
    */
  def initSql(k: Int, name: String = "init", offset: Int = 0): String =
    s"$name AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INT) AS cid, c FROM ${firstSql(k, offset)} f)"

  /** [[probeFor]] in DuckDB: the CTE `probe(p)`. */
  val ProbeSql: String = s"probe AS (SELECT c AS p FROM ${firstSql(1)} f)"

  /** Squared distance from `coords` to each literal centroid, as (cid, d²)
    * in ascending cid order: K separate distance columns, for queries that
    * need every distance (silhouette, elbow scan, GMM E-step). The argmin
    * alone is [[nearest]].
    */
  def centroidDists(cents: Seq[Centroid], coords: Column): Seq[(Int, Column)] =
    cents.sortBy(_.cid).map(c =>
      (c.cid, Vec.sqDist(coords, array(c.coordinates.map(lit).toSeq: _*))))

  /** Nearest centroid as `struct<d, cid>` (min squared distance, its cid;
    * ties to the lower cid): the fused [[graft.functions.NearestCentroid]]
    * kernel over the K centroids as one literal — per-row expression, zero
    * shuffle (reference's mapper inner loop, mapper.py:57-68).
    */
  def nearest(cents: Seq[Centroid], coords: Column): Column =
    graftbridge.toColumn(NearestCentroid(graftbridge.toExpression(coords),
      NearestCentroid.literal(cents.map(c => (c.cid, c.coordinates)))))

  /** [[nearest]] in DuckDB: every point of `pts` with its nearest centroid
    * of the CTE `cents(cid, c)`, as (vec_id, cid, d2). The tie-break is
    * explicit: row_number ordered by (d2, cid) keeps the lower cid, as the
    * kernel and the reference's strict-`<` running min (mapper.py:64) do.
    * DuckDB's `arg_min(cid, d2)` leaves ties unspecified.
    */
  def nearestSql(cents: String): String =
    s"""SELECT vec_id, cid, d2 FROM (
       |  SELECT p.vec_id, i.cid, ${Vec.sqDistSql("p.c", "i.c")} AS d2
       |  FROM pts p CROSS JOIN $cents i)
       |QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) = 1""".stripMargin

  /** Nearest-centroid id for a coordinates column. */
  def assignCol(cents: Seq[Centroid], coords: Column): Column =
    nearest(cents, coords).getField("cid")

  /** points(vec_id, coordinates) -> assigned(vec_id, coordinates, cid). */
  def assign(points: DataFrame, cents: Seq[Centroid]): DataFrame =
    points.withColumn("cid", assignCol(cents, col("coordinates")))

  /** Per-cid mean via posexplode -> per-(cid,pos) avg -> re-assemble.
    * Oracle-translatable (DuckDB unnest+avg); shuffles D rows per point, so
    * only for correctness cross-checks — the scale path is [[step]].
    */
  def updateExplode(assigned: DataFrame): DataFrame =
    assigned
      .select(col("cid"), posexplode(col("coordinates")).as(Seq("pos", "v")))
      .groupBy("cid", "pos").agg(avg("v").as("m"))
      .groupBy("cid")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
        x => x.getField("m")).as("coordinates"))

  /** [[updateExplode]] in DuckDB: the per-dimension means of the points of
    * each cid of the CTE `assigned(vec_id, cid)`, as rows (cid, i, m) with
    * `i` from 1. `scale` rounds them as `round(m, scale) + 0.0`.
    */
  def meansSql(assigned: String, scale: Option[Int]): String = {
    val m = scale.fold("avg(p.c[u.i])")(d => s"round(avg(p.c[u.i]), $d) + 0.0")
    s"""SELECT a.cid, CAST(u.i AS INT) AS i, $m AS m
       |FROM $assigned a JOIN pts p USING (vec_id), UNNEST(generate_series(1, len(p.c))) AS u(i)
       |GROUP BY a.cid, u.i""".stripMargin
  }

  /** Sum of squared distances to the assigned centroid (for MLlib parity). */
  def sse(points: DataFrame, cents: Seq[Centroid]): Double =
    points.agg(sum(nearest(cents, col("coordinates")).getField("d"))).head().getDouble(0)

  /** Memoized [[run]] over the fixture at `sfDir`: every registered query
    * that needs the CONVERGED centroids (q_kmeans_full, the MLlib
    * self-eval's SSE floor) pays the iteration once per fixture. With
    * `grid` set the loop is deterministic down to the bit (every round's
    * centroids are exact decimals).
    */
  def runFor(spark: org.apache.spark.sql.SparkSession, sfDir: String, k: Int,
             maxIter: Int = 10, eps: Double = 1e-6,
             grid: Option[Int] = None): (Seq[Centroid], Int) =
    ArtifactMemo(s"lloyd_run(k=$k,maxIter=$maxIter,eps=$eps,grid=$grid)", spark, sfDir) {
      run(graft.core.Tables.points(spark, sfDir), k, maxIter, eps, grid)
    }

  /** Replica of Spark SQL `round(x, scale)` for driver-side snapping:
    * BigDecimal.valueOf (shortest decimal expansion) + HALF_UP, with -0.0
    * normalized — bit-identical to the oracle's `round(m, scale) + 0.0`.
    */
  private def snap(v: Double, scale: Int): Double =
    java.math.BigDecimal.valueOf(v)
      .setScale(scale, java.math.RoundingMode.HALF_UP).doubleValue() + 0.0

  /** One Lloyd iteration over `pts` from `cents`: the surviving per-cid
    * means, sorted by cid. It is one job that turns `pts` into point
    * blocks, unpersisted, and folds them into one sum/count buffer per
    * group of partitions. `grid` as in [[run]].
    *
    * A row whose `coordinates` is null is skipped: it joins no cluster. A
    * null element, or a point whose length differs from the centroids',
    * fails the job.
    */
  def step(pts: DataFrame, cents: Seq[Centroid], grid: Option[Int] = None): Seq[Centroid] = {
    require(cents.nonEmpty, "Lloyd.step needs at least one centroid")
    val (qe, bs) = blocks(pts)
    run(qe, perCore(bs), cents, grid)
  }

  // One iteration over grouped point blocks, as a SQL execution of `qe`.
  // It is a `run` overload so that the action has `Lloyd$.run` as its
  // innermost program frame whether it comes from [[run]] or from [[step]]:
  // the benchmark in bench/ attributes iteration stages by that frame.
  private def run(qe: QueryExecution, groups: RDD[Block], cents: Seq[Centroid],
                  grid: Option[Int]): Seq[Centroid] = {
    val table = NearestCentroid.Table(cents.map(c => (c.cid, c.coordinates)))
    val parts = SQLExecution.withNewExecutionId(qe, Some("Lloyd.step")) {
      groups.sparkContext.runJob(groups, FoldBlocks(table))
    }
    parts.foldLeft(new Sums)(_ merge _).means(table).map { case (cid, raw) =>
      Centroid(cid, grid.fold(raw)(d => raw.map(snap(_, d))))
    }
  }

  /** `blocks` in at most one partition per core: past that many, a
    * `coalesce` (no shuffle) merges them into one group per core. The
    * groups hold equal counts of partitions, not of points, so a skewed
    * input gives up the scheduler's balancing over its partitions; SCALE.md
    * has what each side costs.
    */
  private def perCore(blocks: RDD[Block]): RDD[Block] = {
    val cores = blocks.sparkContext.defaultParallelism
    if (blocks.getNumPartitions <= cores) blocks else blocks.coalesce(cores)
  }

  /** Doubles per point block (2 MiB): a block of D-long points holds
    * `BlockDoubles / D` of them (at least one).
    */
  private val BlockDoubles = 1 << 18

  /** Consecutive non-null points of one partition, in row order, all of
    * length `d`: point `r` is `x(r·d until (r + 1)·d)` and has id `ids(r)`.
    */
  private final class Block(val ids: Array[Long], val d: Int, val x: Array[Double])
    extends Serializable

  /** The points of `points` as blocks, with the query they are read by:
    * each partition's non-null points, in row order, copied out of Spark's
    * rows once. A block ends when it is full or when the next point's
    * length differs, so every block is uniform. A null `vec_id` sorts
    * first, as in an ascending `orderBy`; a null element fails.
    */
  private def blocks(points: DataFrame): (QueryExecution, RDD[Block]) = {
    val pts = points.select(col("vec_id").cast(LongType), col("coordinates"))
    val checkNulls = pts.schema(1).dataType match {
      case ArrayType(_, containsNull) => containsNull
      case _ => false
    }
    val qe = pts.queryExecution
    (qe, qe.toRdd.mapPartitions(ToBlocks(checkNulls)))
  }

  /** One partition's rows as blocks. */
  private final case class ToBlocks(checkNulls: Boolean)
    extends (Iterator[InternalRow] => Iterator[Block]) {
    def apply(rows: Iterator[InternalRow]): Iterator[Block] = new BlockIterator(rows, checkNulls)
  }

  private final class BlockIterator(rows: Iterator[InternalRow], checkNulls: Boolean)
    extends Iterator[Block] {
    // the block being filled: `n` points of length `d`
    private var ids = new Array[Long](16)
    private var x = new Array[Double](16)
    private var n = 0
    private var d = 0
    private var ready: Block = _

    def hasNext: Boolean = {
      if (ready == null) ready = fill()
      ready != null
    }

    def next(): Block = {
      if (!hasNext) throw new NoSuchElementException
      val b = ready
      ready = null
      b
    }

    private def cut(): Block = {
      val b = new Block(java.util.Arrays.copyOf(ids, n), d, java.util.Arrays.copyOf(x, n * d))
      n = 0
      b
    }

    /** Reads rows until a block is complete; null once every row is read. */
    private def fill(): Block = {
      while (rows.hasNext) {
        val r = rows.next()
        if (!r.isNullAt(1)) {
          val id = if (r.isNullAt(0)) Long.MinValue else r.getLong(0)
          val p = r.getArray(1)
          val len = p.numElements()
          if (checkNulls) {
            var i = 0
            while (i < len) {
              if (p.isNullAt(i)) throw new IllegalArgumentException(
                s"Lloyd: null element at $i of the point with vec_id $id")
              i += 1
            }
          }
          // a full block, or one of another length, is cut before this
          // point is copied: the point starts the next block
          val full = n == math.max(1, BlockDoubles / math.max(d, 1))
          val done = if (n > 0 && (len != d || full)) cut() else null
          d = len
          if (n == ids.length) ids = java.util.Arrays.copyOf(ids, 2 * n)
          if ((n + 1) * d > x.length)
            x = java.util.Arrays.copyOf(x, math.max(2 * x.length, (n + 1) * d))
          ids(n) = id
          val o = n * d
          var i = 0
          while (i < d) { x(o + i) = p.getDouble(i); i += 1 }
          n += 1
          if (done != null) return done
        }
      }
      if (n > 0) cut() else null
    }
  }

  /** One task of an iteration: every point of its blocks, in order,
    * folded into the sums of its nearest centroid in `table`.
    */
  private final case class FoldBlocks(table: NearestCentroid.Table)
    extends ((TaskContext, Iterator[Block]) => Sums) {
    def apply(ctx: TaskContext, bs: Iterator[Block]): Sums = {
      val s = new Sums
      while (bs.hasNext) s.add(table, bs.next())
      s
    }
  }

  /** One iteration's running state: the coordinate sums of every centroid
    * (centroid `j`'s at `j·D`) and its point count. The arrays are allocated
    * by the first block folded in, so a task without points returns an
    * empty one; `dist` is scratch and never leaves the task.
    */
  private final class Sums extends Serializable {
    private var sum: Array[Double] = _
    private var n: Array[Long] = _
    @transient private var dist: Array[Double] = _

    /** Folds every point of `b` into its nearest centroid's sums. */
    def add(t: NearestCentroid.Table, b: Block): Sums = {
      val d = b.d
      val c = t.mismatch(d)
      if (c >= 0) throw new IllegalArgumentException(
        s"Lloyd.step: point of length $d, centroid ${t.cids(c)} of length " +
          s"${t.offsets(c + 1) - t.offsets(c)}")
      if (n == null) {
        sum = new Array[Double](t.flat.length)
        n = new Array[Long](t.cids.length)
        dist = new Array[Double](t.cids.length)
      }
      val x = b.x
      var r = 0
      while (r < b.ids.length) {
        val o = r * d
        val j = t.nearest(x, o, dist)
        val s = j * d
        var i = 0
        while (i < d) { sum(s + i) += x(o + i); i += 1 }
        n(j) += 1
        r += 1
      }
      this
    }

    def merge(that: Sums): Sums =
      if (that.n == null) this
      else if (n == null) that
      else {
        var i = 0
        while (i < sum.length) { sum(i) += that.sum(i); i += 1 }
        i = 0
        while (i < n.length) { n(i) += that.n(i); i += 1 }
        this
      }

    /** (cid, mean) of every centroid that got a point, in cid order. */
    def means(t: NearestCentroid.Table): Seq[(Int, Array[Double])] =
      if (n == null) Nil
      else {
        val d = sum.length / n.length
        t.cids.indices.filter(n(_) > 0L).map { j =>
          (t.cids(j), Array.tabulate(d)(i => sum(j * d + i) / n(j)))
        }
      }
  }

  /** Full driver loop: iterate until `maxIter` or all centroids moved < eps.
    * Returns (final centroids, iterations run).
    *
    * One job fills the persisted point blocks and computes the init, and
    * each iteration is one job folding them in per-core groups (see the
    * object's scaladoc).
    *
    * `grid = Some(d)` snaps every collected mean to the 1e-d decimal grid
    * before the next assignment — the q_kmeans_iter2 determinism
    * discipline extended to the whole loop, which is what lets a DuckDB
    * recursive CTE replay the iteration bit-for-bit (each round's
    * centroids are identical decimals on both engines, so the only
    * cross-engine float risk per round is the avg's last-ulp drift, which
    * the 1e-7 grid absorbs). `None` keeps raw means (MLlib parity tests).
    */
  def run(points: DataFrame, k: Int, maxIter: Int = 10, eps: Double = 1e-6,
          grid: Option[Int] = None): (Seq[Centroid], Int) = {
    require(k >= 1, s"Lloyd.run needs k >= 1, got $k")
    val (qe, bs) = blocks(points)
    bs.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val init = initCentroids(qe, bs, k)
      val groups = perCore(bs)
      iterate(init, maxIter, eps)(run(qe, groups, _, grid))
    } finally bs.unpersist()
  }

  /** The call form of the benchmark in bench/, which still names the
    * removed iteration choice: `useAgg` must be true, the one path there is.
    */
  def run(points: DataFrame, k: Int, maxIter: Int, eps: Double,
          useAgg: Boolean): (Seq[Centroid], Int) = {
    require(useAgg, "Lloyd.run has one iteration path; useAgg = false is gone")
    run(points, k, maxIter, eps)
  }

  private def iterate(init: Seq[Centroid], maxIter: Int, eps: Double)(
      step: Seq[Centroid] => Seq[Centroid]): (Seq[Centroid], Int) = {
    require(init.nonEmpty, "Lloyd.run needs at least one point with coordinates")
    var cents = init
    var iters = 0
    var converged = false
    while (iters < maxIter && !converged) {
      val next = step(cents)
      iters += 1
      // id-join convergence: every surviving centroid moved < eps AND no
      // cluster vanished this round (a vanish changes the id set -> not
      // converged, matching the count==len check at master.py:149-151).
      val prev = cents.map(c => c.cid -> c.coordinates).toMap
      converged = next.size == cents.size && next.forall { c =>
        prev.get(c.cid).exists { p =>
          var s = 0.0; var i = 0
          while (i < p.length) { val d = p(i) - c.coordinates(i); s += d * d; i += 1 }
          math.sqrt(s) < eps
        }
      }
      cents = next
    }
    (cents, iters)
  }
}
