package graft.sim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Grid-bucketed spatial operators over the 2-D projection of the
  * embedding table (dims 1-2): a DBSCAN core/border/noise census and a
  * density-hotspot report. The spatial-join pattern here — snap points to
  * an eps-sized integer grid, join each point's cell against its 3x3
  * neighborhood, verify exact distance only on candidates — is the
  * standard way to run epsilon-neighborhood queries without an all-pairs
  * join: pair work is bounded by (points per cell)^2 x 9 per cell, and the
  * cell key is the shuffle key, so density decides cost, not corpus size.
  *
  * Reference scope: the K-Means repo's nearest-centroid assign
  * (mapper.py:57-68) is the K-bounded cousin; DBSCAN needs point-point
  * neighborhoods, which is what the grid join provides at scale.
  *
  * Exactness: coordinates snap to integer MICRO-units after a +1.0 offset
  * (keeps them non-negative, so Spark's truncating DIV and DuckDB's
  * flooring // agree on cell ids), and every distance verdict is an
  * integer comparison dx^2 + dy^2 <= eps^2 in micro^2 — no float boundary
  * can flip an engine.
  */
object SpatialQueries extends graft.SparkEntry.Module {

  /** eps = 0.05 in micro-units; minPts = 5 (core iff >= 4 neighbors). */
  private val EpsMicro = 50000L
  private val MinNbrs = 4L

  /** (vec_id, label, xi, yi, cx, cy) snapped + celled points. */
  private def pts(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir).select(col("vec_id"), col("label"),
        (expr("CAST(round(element_at(embedding, 1) * 1000000) AS BIGINT)") +
          lit(1000000L)).as("xi"),
        (expr("CAST(round(element_at(embedding, 2) * 1000000) AS BIGINT)") +
          lit(1000000L)).as("yi"))
      .withColumn("cx", expr(s"xi DIV $EpsMicro"))
      .withColumn("cy", expr(s"yi DIV $EpsMicro"))

  /** Exact eps-neighbor pairs (directed, a != b) via the 3x3 cell join. */
  private def nbrPairs(s: SparkSession, dir: String): DataFrame = {
    val p = pts(s, dir)
    val offsets = Seq(-1L, 0L, 1L)
    val probe = p.select(col("vec_id").as("a_id"), col("xi").as("ax"),
        col("yi").as("ay"), col("cx"), col("cy"))
      .withColumn("dx", explode(array(offsets.map(lit): _*)))
      .withColumn("dy", explode(array(offsets.map(lit): _*)))
      .select(col("a_id"), col("ax"), col("ay"),
        (col("cx") + col("dx")).as("jcx"), (col("cy") + col("dy")).as("jcy"))
    val build = p.select(col("vec_id").as("b_id"), col("xi").as("bx"),
      col("yi").as("by"), col("cx").as("jcx"), col("cy").as("jcy"))
    probe.join(build, Seq("jcx", "jcy"))
      .filter(col("a_id") =!= col("b_id"))
      .filter((col("ax") - col("bx")) * (col("ax") - col("bx")) +
        (col("ay") - col("by")) * (col("ay") - col("by")) <=
        lit(EpsMicro * EpsMicro))
      .select("a_id", "b_id")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // NS: DBSCAN point-role census per label — core (>= MinNbrs exact
    // eps-neighbors), border (non-core with a core neighbor), noise. The
    // full clustering's expensive primitive IS this neighbor census; the
    // label grouping grades how well the 2-D projection preserves the
    // generator's clusters. No all-pairs anywhere: candidates come from
    // the 3x3 cell join, the role joins are id-keyed.
    "q_dbscan_core" -> { (s, dir) =>
      val pairs = nbrPairs(s, dir).localCheckpoint(eager = false)
      val nbrs = pairs.groupBy(col("a_id").as("vec_id"))
        .agg(count(lit(1)).as("n_nbrs"))
      val roles = pts(s, dir).select("vec_id", "label")
        .join(nbrs, Seq("vec_id"), "left_outer")
        .na.fill(0L, Seq("n_nbrs"))
        .withColumn("is_core", (col("n_nbrs") >= MinNbrs).cast("long"))
      val coreIds = roles.filter(col("is_core") === 1)
        .select(col("vec_id").as("b_id"))
      val borderIds = pairs.join(coreIds, "b_id")
        .select(col("a_id").as("vec_id")).distinct()
        .withColumn("has_core_nbr", lit(1L))
      roles.join(borderIds, Seq("vec_id"), "left_outer")
        .na.fill(0L, Seq("has_core_nbr"))
        .groupBy("label")
        .agg(count(lit(1)).as("n_pts"),
          sum("is_core").as("n_core"),
          sum(when(col("is_core") === 0 && col("has_core_nbr") === 1, 1L)
            .otherwise(0L)).as("n_border"),
          sum(when(col("is_core") === 0 && col("has_core_nbr") === 0, 1L)
            .otherwise(0L)).as("n_noise"),
          max("n_nbrs").as("max_nbrs"))
        .orderBy("label")
    },

    // NS: density hotspots on a coarser 2x-eps grid — the top-10 occupied
    // cells with share ppm, the heatmap panel a drift dashboard renders.
    // One cell-key aggregate (bounded by occupied cells, itself bounded by
    // min(N, grid area)); top-10 via rank with a total tie-break.
    "q_grid_density" -> { (s, dir) =>
      val cells = pts(s, dir)
        .groupBy(expr(s"xi DIV ${2 * EpsMicro}").as("gx"),
          expr(s"yi DIV ${2 * EpsMicro}").as("gy"))
        .agg(count(lit(1)).as("n"))
      val tot = cells.agg(sum("n").as("n_pts"), count(lit(1)).as("n_cells"))
      // TakeOrdered-first (the q_bm25 pattern): the occupied-cell frame
      // grows with N, so bound it to 10 rows before the rank window
      cells.crossJoin(broadcast(tot))
        .orderBy(col("n").desc, col("gx"), col("gy")).limit(10)
        .withColumn("rk", row_number().over(
          Window.orderBy(col("n").desc, col("gx"), col("gy"))))
        .select(col("rk"), col("gx"), col("gy"), col("n"),
          col("n_cells"), expr("n * 1000000 DIV n_pts").as("share_ppm"))
        .orderBy("rk")
    }
  )

  def oracleSql: Map[String, String] = Map(
    "q_dbscan_core" ->
      """WITH p AS (
        |  SELECT vec_id, label,
        |         CAST(round(embedding[1] * 1000000) AS BIGINT) + 1000000 AS xi,
        |         CAST(round(embedding[2] * 1000000) AS BIGINT) + 1000000 AS yi
        |  FROM embeddings),
        |c AS (SELECT vec_id, label, xi, yi, xi // 50000 AS cx, yi // 50000 AS cy FROM p),
        |o AS (SELECT * FROM (VALUES (-1), (0), (1)) AS t(d)),
        |pairs AS (
        |  SELECT a.vec_id AS a_id, b.vec_id AS b_id
        |  FROM c a
        |  CROSS JOIN o ox CROSS JOIN o oy
        |  JOIN c b ON b.cx = a.cx + ox.d AND b.cy = a.cy + oy.d
        |  WHERE a.vec_id <> b.vec_id
        |    AND (a.xi - b.xi)*(a.xi - b.xi) + (a.yi - b.yi)*(a.yi - b.yi)
        |        <= 50000::BIGINT * 50000::BIGINT),
        |nb AS (SELECT a_id AS vec_id, count(*) AS n_nbrs FROM pairs GROUP BY 1),
        |roles AS (SELECT c.vec_id, c.label, coalesce(nb.n_nbrs, 0) AS n_nbrs,
        |                 CAST(coalesce(nb.n_nbrs, 0) >= 4 AS BIGINT) AS is_core
        |          FROM c LEFT JOIN nb ON c.vec_id = nb.vec_id),
        |core AS (SELECT vec_id FROM roles WHERE is_core = 1),
        |border AS (SELECT DISTINCT pairs.a_id AS vec_id
        |           FROM pairs JOIN core ON pairs.b_id = core.vec_id)
        |SELECT label, CAST(count(*) AS BIGINT) AS n_pts,
        |       CAST(sum(is_core) AS BIGINT) AS n_core,
        |       CAST(sum(CASE WHEN is_core = 0 AND border.vec_id IS NOT NULL
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_border,
        |       CAST(sum(CASE WHEN is_core = 0 AND border.vec_id IS NULL
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_noise,
        |       CAST(max(n_nbrs) AS BIGINT) AS max_nbrs
        |FROM roles LEFT JOIN border ON roles.vec_id = border.vec_id
        |GROUP BY 1 ORDER BY label""".stripMargin,
    "q_grid_density" ->
      """WITH p AS (
        |  SELECT CAST(round(embedding[1] * 1000000) AS BIGINT) + 1000000 AS xi,
        |         CAST(round(embedding[2] * 1000000) AS BIGINT) + 1000000 AS yi
        |  FROM embeddings),
        |cells AS (SELECT xi // 100000 AS gx, yi // 100000 AS gy, count(*) AS n
        |          FROM p GROUP BY 1, 2),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_pts,
        |               CAST(count(*) AS BIGINT) AS n_cells FROM cells),
        |r AS (SELECT gx, gy, CAST(n AS BIGINT) AS n, n_cells,
        |             n * 1000000 // n_pts AS share_ppm,
        |             row_number() OVER (ORDER BY n DESC, gx, gy) AS rk
        |      FROM cells CROSS JOIN tot)
        |SELECT rk, gx, gy, n, n_cells, share_ppm
        |FROM r WHERE rk <= 10 ORDER BY rk""".stripMargin
  )
}
