package graft.kmeans

import org.apache.spark.sql.{graftbridge, Column, DataFrame}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.ArrayType

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
  *   - the K centroids live on the driver and ship with the job's closure
  *     as one flattened K×D table, so each partition runs the fused
  *     [[graft.functions.NearestCentroid]] argmin loop over its points with
  *     *no join and no shuffle at all* on the big side. This mirrors the
  *     reference's broadcast of centroids inside every RPC request
  *     (kmeans.proto:16, master.py:182-186).
  *   - each partition folds its points, in row order, into one K×D buffer
  *     of coordinate sums plus K counts; `treeAggregate` merges the
  *     partitions' buffers, so K×(D+1) numbers per partition cross the wire.
  *   - the driver divides, drops empty clusters and keeps the means in cid
  *     order.
  *   - the loop never grows lineage, and the point scan is planned once:
  *     every iteration reuses the cached points' `queryExecution.toRdd`.
  *
  * `useAgg = false` keeps a DataFrame iteration instead — assignment by
  * [[assign]], means by the posexplode/avg plan [[updateExplode]] — which a
  * DuckDB replay can translate.
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
  def initCentroids(points: DataFrame, k: Int): Seq[Centroid] =
    points.filter(col("coordinates").isNotNull).orderBy("vec_id").limit(k).collect()
      .zipWithIndex.map { case (r, i) =>
        Centroid(i + 1, r.getSeq[Double](r.fieldIndex("coordinates")).toArray)
      }.toSeq

  /** Memoized [[initCentroids]] over the fixture at `sfDir` (the common
    * prologue of every registered K-Means-derived query): K rows, so the
    * artifact is bytes, not data.
    */
  def initCentroidsFor(spark: org.apache.spark.sql.SparkSession, sfDir: String, k: Int): Seq[Centroid] =
    ArtifactMemo(s"init_centroids(k=$k)", spark, sfDir) {
      initCentroids(graft.core.Tables.points(spark, sfDir), k)
    }

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
             maxIter: Int = 10, eps: Double = 1e-6, useAgg: Boolean = true,
             grid: Option[Int] = None): (Seq[Centroid], Int) =
    ArtifactMemo(s"lloyd_run(k=$k,maxIter=$maxIter,eps=$eps,useAgg=$useAgg,grid=$grid)",
        spark, sfDir) {
      run(graft.core.Tables.points(spark, sfDir), k, maxIter, eps, useAgg, grid)
    }

  /** Replica of Spark SQL `round(x, scale)` for driver-side snapping:
    * BigDecimal.valueOf (shortest decimal expansion) + HALF_UP, with -0.0
    * normalized — bit-identical to the oracle's `round(m, scale) + 0.0`.
    */
  private def snap(v: Double, scale: Int): Double =
    java.math.BigDecimal.valueOf(v)
      .setScale(scale, java.math.RoundingMode.HALF_UP).doubleValue() + 0.0

  /** One Lloyd iteration over `pts` from `cents`: the surviving per-cid
    * means, sorted by cid. With `useAgg` it is one job folding `pts` into
    * per-partition sum/count buffers; without it, [[updateExplode]] over
    * [[assign]]. `grid` as in [[run]].
    *
    * A row whose `coordinates` is null is skipped: it joins no cluster. A
    * null element, or a point whose length differs from the centroids',
    * fails the job.
    */
  def step(pts: DataFrame, cents: Seq[Centroid], useAgg: Boolean = true,
           grid: Option[Int] = None): Seq[Centroid] =
    run(pts, cents, useAgg, grid)

  // The body of [[step]] is a `run` overload so that an iteration's action
  // has `Lloyd$.run` as its innermost program frame whether it comes from
  // [[run]] or from [[step]]: the benchmark in bench/ attributes iteration
  // stages by that frame.
  private def run(pts: DataFrame, cents: Seq[Centroid], useAgg: Boolean,
                  grid: Option[Int]): Seq[Centroid] = {
    require(cents.nonEmpty, "Lloyd.step needs at least one centroid")
    val means =
      if (useAgg) {
        // `queryExecution` and its `toRdd` are lazy vals of `pts`: the scan
        // is planned on the first iteration and reused by the rest
        val qe = pts.queryExecution
        val at = pts.schema.fieldIndex("coordinates")
        val checkNulls = pts.schema(at).dataType match {
          case ArrayType(_, containsNull) => containsNull
          case _ => false
        }
        val table = NearestCentroid.Table(cents.map(c => (c.cid, c.coordinates)))
        SQLExecution.withNewExecutionId(qe, Some("Lloyd.step")) {
          qe.toRdd.treeAggregate(new Sums)(
            (s, row) => if (row.isNullAt(at)) s else s.add(table, row.getArray(at), checkNulls),
            (a, b) => a.merge(b))
        }.means(table)
      } else
        updateExplode(assign(pts, cents)).collect().map { r =>
          (r.getInt(r.fieldIndex("cid")), r.getSeq[Double](r.fieldIndex("coordinates")).toArray)
        }.sortBy(_._1).toSeq
    means.map { case (cid, raw) => Centroid(cid, grid.fold(raw)(d => raw.map(snap(_, d)))) }
  }

  /** One iteration's running state: the coordinate sums of every centroid
    * (centroid `j`'s at `j·D`) and its point count. The arrays are allocated
    * by the first point folded in, so the zero value every task receives is
    * empty; `dist` is scratch and never leaves the task.
    */
  private final class Sums extends Serializable {
    private var sum: Array[Double] = _
    private var n: Array[Long] = _
    @transient private var dist: Array[Double] = _

    /** Folds the non-null point `x` into its nearest centroid's sums. */
    def add(t: NearestCentroid.Table, x: ArrayData, checkNulls: Boolean): Sums = {
      if (n == null) {
        sum = new Array[Double](t.flat.length)
        n = new Array[Long](t.cids.length)
        dist = new Array[Double](t.cids.length)
      }
      val j = t.nearest(x, checkNulls, dist)
      val d = x.numElements()
      if (j < 0) {
        val c = -1 - j
        val nullAt = if (checkNulls) (0 until d).find(x.isNullAt) else None
        throw new IllegalArgumentException(nullAt.fold(
          s"Lloyd.step: point of length $d, centroid ${t.cids(c)} of length " +
            s"${t.offsets(c + 1) - t.offsets(c)}")(i => s"Lloyd.step: null element at $i"))
      }
      val o = j * d
      var i = 0
      while (i < d) { sum(o + i) += x.getDouble(i); i += 1 }
      n(j) += 1
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
    * Each iteration is one [[step]], one Spark job; points are cached once
    * and unpersisted however the loop ends.
    * Returns (final centroids, iterations run).
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
          useAgg: Boolean = true, grid: Option[Int] = None): (Seq[Centroid], Int) = {
    require(k >= 1, s"Lloyd.run needs k >= 1, got $k")
    val pts = points.select("vec_id", "coordinates").cache()
    try {
      var cents = initCentroids(pts, k)
      require(cents.nonEmpty, "Lloyd.run needs at least one point with coordinates")
      var iters = 0
      var converged = false
      while (iters < maxIter && !converged) {
        val next = step(pts, cents, useAgg, grid)
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
    } finally pts.unpersist()
  }
}
