package graft.kmeans

import org.apache.spark.sql.{graftbridge, Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Vec
import graft.functions.NearestCentroid

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
  * Here one iteration ([[step]]) is ONE narrow map stage + ONE aggregation
  * + a K-row collect, i.e. two stages:
  *
  *   - centroids are collected to the driver (K rows) and inlined as one
  *     literal matrix, so assignment is a per-row expression — the fused
  *     [[graft.functions.NearestCentroid]] kernel, one K×D loop per point —
  *     with *no join and no shuffle at all* on the big side. This is
  *     strictly better than a crossJoin+min_by plan (which shuffles N·K
  *     rows) and mirrors the reference's broadcast of centroids inside
  *     every RPC request (kmeans.proto:16, master.py:182-186).
  *   - the mean is either a posexplode/avg plan (oracle-translatable) or
  *     [[VecMeanAgg]] (shuffles K buffers instead of N·D rows — the 100 TB
  *     path).
  *   - the K means are sorted by cid on the driver, so the collect needs no
  *     range-partition exchange or sort stage.
  *   - the loop never grows lineage: every iteration's plan is rebuilt from
  *     the cached points plus the new centroid literals.
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

  /** Deterministic init: first K points ordered by vec_id, cids 1..K.
    * (Documented deviation from the reference's `random.sample`
    * master.py:54-65, which is irreproducible across engines; the seeded
    * variant lives in the MLlib cross-check.)
    */
  def initCentroids(points: DataFrame, k: Int): Seq[Centroid] =
    points.orderBy("vec_id").limit(k).collect().zipWithIndex.map { case (r, i) =>
      Centroid(i + 1, r.getSeq[Double](r.fieldIndex("coordinates")).toArray)
    }.toSeq

  // (sfDir, k) -> init centroids. Deterministic (first K by vec_id over an
  // immutable fixture), so memoizing is pure: it only deletes the repeated
  // orderBy/limit/collect driver job that every K-Means-derived query
  // (sinks, mod-partition, union, IVF, assignment, ...) would otherwise
  // re-run. K rows, so the cache is bytes, not data.
  private val initCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Int), Seq[Centroid]]()

  /** Memoized [[initCentroids]] over the fixture at `sfDir` (the common
    * prologue of every registered K-Means-derived query).
    */
  def initCentroidsFor(spark: org.apache.spark.sql.SparkSession, sfDir: String, k: Int): Seq[Centroid] =
    initCache.computeIfAbsent((sfDir, k),
      _ => initCentroids(graft.core.Tables.points(spark, sfDir), k))

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
    * only for correctness cross-checks — the scale path is [[updateAgg]].
    */
  def updateExplode(assigned: DataFrame): DataFrame =
    assigned
      .select(col("cid"), posexplode(col("coordinates")).as(Seq("pos", "v")))
      .groupBy("cid", "pos").agg(avg("v").as("m"))
      .groupBy("cid")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
        x => x.getField("m")).as("coordinates"))

  /** Per-cid mean via the distributive [[VecMeanAgg]]: map-side partial
    * (sum, count) buffers, K merged buffers on the wire.
    */
  def updateAgg(assigned: DataFrame): DataFrame =
    assigned.groupBy("cid").agg(VecMeanAgg(col("coordinates")).as("coordinates"))

  /** Sum of squared distances to the assigned centroid (for MLlib parity). */
  def sse(points: DataFrame, cents: Seq[Centroid]): Double =
    points.agg(sum(nearest(cents, col("coordinates")).getField("d"))).head().getDouble(0)

  // (sfDir, k, maxIter, eps, useAgg, grid) -> full-loop result. With
  // `grid` set the loop is deterministic down to the bit (every round's
  // centroids are exact decimals), so the memo is pure — it lets every
  // registered query that needs the CONVERGED centroids (q_kmeans_full,
  // the MLlib self-eval's SSE floor) pay the iteration once per fixture,
  // the same economics as initCache. Values are K driver-side vectors,
  // not context-bound distributed state, so no context key is needed.
  private val runCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Int, Int, Double, Boolean, Option[Int]), (Seq[Centroid], Int)]()

  /** Memoized [[run]] over the fixture at `sfDir`. */
  def runFor(spark: org.apache.spark.sql.SparkSession, sfDir: String, k: Int,
             maxIter: Int = 10, eps: Double = 1e-6, useAgg: Boolean = true,
             grid: Option[Int] = None): (Seq[Centroid], Int) =
    runCache.computeIfAbsent((sfDir, k, maxIter, eps, useAgg, grid),
      _ => run(graft.core.Tables.points(spark, sfDir), k, maxIter, eps, useAgg, grid))

  /** Replica of Spark SQL `round(x, scale)` for driver-side snapping:
    * BigDecimal.valueOf (shortest decimal expansion) + HALF_UP, with -0.0
    * normalized — bit-identical to the oracle's `round(m, scale) + 0.0`.
    */
  private def snap(v: Double, scale: Int): Double =
    java.math.BigDecimal.valueOf(v)
      .setScale(scale, java.math.RoundingMode.HALF_UP).doubleValue() + 0.0

  /** One Lloyd iteration over `pts` from `cents`: assign, per-cid mean
    * ([[updateAgg]], or [[updateExplode]] without `useAgg`), and collect the
    * surviving means sorted by cid on the driver. `grid` as in [[run]].
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
    val assigned = assign(pts, cents)
    val upd = if (useAgg) updateAgg(assigned) else updateExplode(assigned)
    upd.collect().map { r =>
      val raw = r.getSeq[Double](r.fieldIndex("coordinates")).toArray
      Centroid(r.getInt(r.fieldIndex("cid")),
        grid.fold(raw)(d => raw.map(snap(_, d))))
    }.sortBy(_.cid).toSeq
  }

  /** Full driver loop: iterate until `maxIter` or all centroids moved < eps.
    * Each iteration is one [[step]], one Spark action (the K-row collect);
    * points are cached once and unpersisted however the loop ends.
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
    val pts = points.select("vec_id", "coordinates").cache()
    try {
      var cents = initCentroids(pts, k)
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
