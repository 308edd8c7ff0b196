package graft.kmeans

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Tables, Vec}

/** K-Means query surface: `SparkEntry.queries` entries + DuckDB oracle SQL.
  *
  * Oracle outputs are scalar-only (cid/pos/m rows, not arrays) and every
  * float that crosses a non-order-deterministic aggregation is rounded
  * identically on BOTH sides (SURVEY.md §7.4 risk 1; means use 7 decimals
  * for extra margin against grid-boundary flips). K is fixed at 5 and
  * init is deterministic (first K non-null points by vec_id) so both
  * engines compute the identical clustering.
  */
object KmeansQueries extends graft.SparkEntry.Module {

  val K = 5

  /** Common oracle prelude (SURVEY.md §7.2): the points `pts`, the
    * deterministic `init` and the iter-1 nearest-centroid `assign`
    * (vec_id, cid, d2), built from the `Lloyd` fragments. Exposed for other
    * modules whose oracle builds on the iter-1 assignment.
    */
  val preludeSql: String =
    s"""WITH ${Tables.PointsCte},
       |${Lloyd.initSql(K)},
       |assign AS (${Lloyd.nearestSql("init")})""".stripMargin

  /** The ARI pair-count fold over `cells(<rows>, <cols>, nij)`: one row
    * (n, sij, sa, sb, ari), by the arithmetic described at `q_ari`.
    */
  private def ari(cells: DataFrame, rows: String, cols: String): DataFrame = {
    val sij = cells.agg(sum(expr("nij * (nij - 1) DIV 2")).as("sij"),
      sum("nij").as("n"))
    val sa = cells.groupBy(rows).agg(sum("nij").as("a"))
      .agg(sum(expr("a * (a - 1) DIV 2")).as("sa"))
    val sb = cells.groupBy(cols).agg(sum("nij").as("b"))
      .agg(sum(expr("b * (b - 1) DIV 2")).as("sb"))
    sij.crossJoin(broadcast(sa)).crossJoin(broadcast(sb))
      .withColumn("n2", expr("n * (n - 1) DIV 2"))
      // the degenerate-denominator guard evaluates on the SAME DOUBLE
      // expression the ratio divides by: the previous BIGINT guard
      // product `(sa+sb)*n2 - 2*sa*sb` itself overflowed past ~10x the
      // stress scale (DuckDB errors, Spark wraps and could misfire the
      // guard to 0.0) even though the ratio was already IEEE
      .withColumn("den_d",
        (col("sa").cast("double") + col("sb").cast("double")) * col("n2").cast("double") -
          lit(2.0) * col("sa").cast("double") * col("sb").cast("double"))
      .select(col("n"), col("sij"), col("sa"), col("sb"),
        when(col("den_d") === 0.0, lit(0.0))
          .otherwise(round(
            (lit(2.0) * (col("sij").cast("double") * col("n2").cast("double") -
              col("sa").cast("double") * col("sb").cast("double"))) / col("den_d"), 6)
            + lit(0.0))
          .as("ari"))
  }

  /** [[ari]] in DuckDB over the CTE `cells(<rows>, <cols>, nij)`: the CTEs
    * up to `ari(n, sij, sa, sb, ari)`.
    */
  private def ariSql(rows: String, cols: String): String =
    s"""sij AS (SELECT CAST(sum(nij * (nij - 1) // 2) AS BIGINT) AS sij,
       |               CAST(sum(nij) AS BIGINT) AS n FROM cells),
       |sa AS (SELECT CAST(sum(a * (a - 1) // 2) AS BIGINT) AS sa
       |       FROM (SELECT CAST(sum(nij) AS BIGINT) AS a FROM cells GROUP BY $rows)),
       |sb AS (SELECT CAST(sum(b * (b - 1) // 2) AS BIGINT) AS sb
       |       FROM (SELECT CAST(sum(nij) AS BIGINT) AS b FROM cells GROUP BY $cols)),
       |ari AS (
       |  SELECT n, sij.sij, sa.sa, sb.sb,
       |         CASE WHEN (CAST(sa.sa AS DOUBLE) + CAST(sb.sb AS DOUBLE))
       |                     * CAST(n * (n - 1) // 2 AS DOUBLE)
       |                   - 2.0 * CAST(sa.sa AS DOUBLE) * CAST(sb.sb AS DOUBLE) = 0.0
       |              THEN 0.0
       |              ELSE round(
       |                (2.0 * (CAST(sij.sij AS DOUBLE) * CAST(n * (n - 1) // 2 AS DOUBLE)
       |                        - CAST(sa.sa AS DOUBLE) * CAST(sb.sb AS DOUBLE)))
       |                / ((CAST(sa.sa AS DOUBLE) + CAST(sb.sb AS DOUBLE))
       |                     * CAST(n * (n - 1) // 2 AS DOUBLE)
       |                   - 2.0 * CAST(sa.sa AS DOUBLE) * CAST(sb.sb AS DOUBLE)), 6) + 0.0
       |         END AS ari
       |  FROM sij CROSS JOIN sa CROSS JOIN sb)""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Nearest-centroid assignment — the reference mapper's argmin scan
    // (/root/reference/mapper.py:57-68) as a zero-shuffle per-row expression.
    "q_assign_nearest" -> { (s, dir) =>
      val pts = Tables.points(s, dir)
      Lloyd.assign(pts, Lloyd.initCentroidsFor(s, dir, K))
        .select(col("vec_id"), col("cid"))
        .orderBy("vec_id")
    },
    // Per-point min squared distance (the running-min value itself,
    // mapper.py:59-66) — top-1 of the (dist, cid) scan.
    "q_argmin" -> { (s, dir) =>
      val pts = Tables.points(s, dir)
      val cents = Lloyd.initCentroidsFor(s, dir, K)
      val minStruct = Lloyd.nearest(cents, col("coordinates"))
      pts.select(col("vec_id"), round(minStruct.getField("d"), 9).as("d2"),
          minStruct.getField("cid").as("cid"))
        .orderBy("vec_id")
    },
    // One full Lloyd iteration: assign -> shuffle by cid -> per-dim mean
    // (SURVEY.md §2.11 / §7.2 minimum slice), exploded to scalar rows.
    "q_kmeans_iter1" -> { (s, dir) =>
      val pts = Tables.points(s, dir)
      Lloyd.assign(pts, Lloyd.initCentroidsFor(s, dir, K))
        .select(col("cid"), posexplode(col("coordinates")).as(Seq("pos", "v")))
        .groupBy("cid", "pos").agg(round(avg("v"), 7).as("m"))
        .orderBy("cid", "pos")
    },
    // TWO unrolled Lloyd iterations, oracle-checked end-to-end — covers the
    // multi-iteration dataflow of the reference's driver loop
    // (master.py:115-152): assign -> mean -> RE-assign -> mean. Iter-1 means
    // are rounded to 7 decimals on BOTH engines before becoming iter-2
    // centroids, so the second assignment starts from bit-identical inputs
    // (the established determinism discipline); the K-row driver collect
    // between iterations is exactly the reference's master round-trip
    // (compile_centroids, master.py:238-247) and what Lloyd.run does.
    // The FINAL means emit at 6 decimals (r4/r5 verdict margin pre-widen:
    // the last avg is the only value whose cross-engine last-ulp drift has
    // no later grid to absorb it, so its output grid gets 10x the margin;
    // the intermediate 1e-7 grid is untouched — it feeds assignment, where
    // drift is absorbed by distance gaps, not rounding).
    "q_kmeans_iter2" -> { (s, dir) =>
      val pts = Tables.points(s, dir)
      val c0 = Lloyd.initCentroidsFor(s, dir, K)
      val m1 = Lloyd.updateExplode(Lloyd.assign(pts, c0))
        .select(col("cid"),
          transform(col("coordinates"), x => round(x, 7) + lit(0.0)).as("coordinates"))
      val c1 = m1.orderBy("cid").collect().map { r =>
        Centroid(r.getInt(r.fieldIndex("cid")),
          r.getSeq[Double](r.fieldIndex("coordinates")).toArray)
      }.toSeq
      Lloyd.assign(pts, c1)
        .select(col("cid"), posexplode(col("coordinates")).as(Seq("pos", "v")))
        .groupBy("cid", "pos").agg((round(avg("v"), 6) + lit(0.0)).as("m"))
        .orderBy("cid", "pos")
    },
    // Group sizes under the iter-1 assignment (the reducer's group-by-key,
    // /root/reference/reducer.py:58-61).
    "q_groupby_key" -> { (s, dir) =>
      val pts = Tables.points(s, dir)
      Lloyd.assign(pts, Lloyd.initCentroidsFor(s, dir, K))
        .groupBy("cid").agg(count(lit(1)).as("n_points"))
        .orderBy("cid")
    },
    // Per-group per-dimension mean keyed by the fixture's label column
    // (the reducer's calculate_new_centroid, reducer.py:19-30, isolated
    // from the assignment step).
    "q_centroid_mean" -> { (s, dir) =>
      Tables.embeddings(s, dir)
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy("label", "pos").agg(round(avg("v"), 7).as("m"))
        .orderBy("label", "pos")
    },
    // Convergence count: centroids that moved < eps between init and the
    // iter-1 means, joined BY ID (master.py:97-103 intended semantics).
    "q_count_converged" -> { (s, dir) =>
      val pts = Tables.points(s, dir)
      val cents = Lloyd.initCentroidsFor(s, dir, K)
      val next = Lloyd.updateExplode(Lloyd.assign(pts, cents))
      val init = s.createDataFrame(
        s.sparkContext.parallelize(cents.map(c => org.apache.spark.sql.Row(c.cid, c.coordinates.toSeq)), 1),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("cid", org.apache.spark.sql.types.IntegerType, false),
          org.apache.spark.sql.types.StructField("c0", org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType), false))))
      next.join(init, "cid")
        .agg(sum(when(Vec.dist(col("coordinates"), col("c0")) < lit(1e-6), 1L).otherwise(0L)).as("n_converged"),
             count(lit(1)).as("n_centroids"))
    },
    // The codegen SquaredDistance Expression (§2.10 q_expr_dist): squared
    // distance to the same probe as q_dist_euclid, evaluated in the custom
    // Catalyst expression's fused primitive loop (bit-equal to the list
    // arithmetic the oracle replays).
    "q_expr_dist" -> { (s, dir) =>
      val pts = Tables.points(s, dir)
      val pl = array(Lloyd.probeFor(s, dir).map(lit).toSeq: _*)
      pts.select(col("vec_id"),
          round(Vec.sqDist(col("coordinates"), pl), 9).as("d2"))
        .orderBy("vec_id")
    },
    // N-D Euclidean distance of every point to a fixed probe (= centroid 1):
    // the reference's distance function generalized (mapper.py:26-30).
    "q_dist_euclid" -> { (s, dir) =>
      val pts = Tables.points(s, dir)
      val pl = array(Lloyd.probeFor(s, dir).map(lit).toSeq: _*)
      pts.select(col("vec_id"), round(Vec.dist(col("coordinates"), pl), 9).as("d"))
        .orderBy("vec_id")
    },
    // NS: simplified (centroid-based) silhouette score per cluster — the
    // clustering-quality eval for the flagship algorithm: a = distance to
    // own centroid (the argmin, so the array minimum), b = distance to the
    // nearest OTHER centroid (the second minimum), s = (b−a)/max(a,b).
    // Pure per-row math over the K literal centroids (same zero-shuffle
    // shape as assignment) + one K-group aggregate; degenerate a=b=0
    // points score 0 on both engines.
    "q_silhouette" -> { (s, dir) =>
      val cents = Lloyd.initCentroidsFor(s, dir, K)
      val dists = array(Lloyd.centroidDists(cents, col("coordinates")).map(_._2): _*)
      val sorted = sort_array(dists)
      val a = sqrt(element_at(sorted, 1))
      val b = sqrt(element_at(sorted, 2))
      Tables.points(s, dir)
        .withColumn("cid", Lloyd.assignCol(cents, col("coordinates")))
        .select(col("cid"),
          when(greatest(a, b) > 0, (b - a) / greatest(a, b)).otherwise(lit(0.0)).as("sil"))
        .groupBy("cid")
        .agg(count(lit(1)).as("n"), round(avg("sil"), 6).as("mean_silhouette"))
        .orderBy("cid")
    },
    // NS: per-cluster inertia (within-cluster SSE) — THE K-Means training
    // metric (what Lloyd minimizes; the reference's convergence quantity
    // made queryable). cid and min-d² come from one nearest-centroid scan;
    // one K-group partial+final aggregate.
    "q_inertia" -> { (s, dir) =>
      val cents = Lloyd.initCentroidsFor(s, dir, K)
      val near = Lloyd.nearest(cents, col("coordinates"))
      Tables.points(s, dir)
        .select(near.getField("cid").as("cid"), near.getField("d").as("d2"))
        .groupBy("cid")
        .agg(count(lit(1)).as("n"), round(sum("d2"), 6).as("inertia"))
        .orderBy("cid")
    },

    // NS: V-measure — homogeneity/completeness/V, the information-
    // theoretic clustering-vs-truth grade beside q_ari's pair-counting
    // view: homogeneity = 1 − H(C|K)/H(C), completeness the transpose, V
    // their harmonic mean. All entropies are EXACT integer sums of
    // micro-nat cell terms (n·H(C|K)·1e6 = Σ n_ij·round(ln(a_i/n_ij)·1e6)
    // — one log rounding per BOUNDED contingency cell, the NB scoring
    // discipline), so the three scores are integer cross-multiplications
    // in ppm; degenerate single-class/single-cluster partitions pin to
    // 1e6 by convention on both engines.
    "q_v_measure" -> { (s, dir) =>
      val cents = Lloyd.initCentroidsFor(s, dir, K)
      val asg = Tables.points(s, dir)
        .withColumn("cid", Lloyd.assignCol(cents, col("coordinates")))
        .select(col("vec_id"), col("cid"))
      val lab = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("label").cast("long").as("cls"))
      val cells = asg.join(lab, "vec_id")
        .groupBy("cid", "cls").agg(count(lit(1)).as("nij"))
        .localCheckpoint(eager = false)
      val a = cells.groupBy("cid").agg(sum("nij").as("ai"))
      val b = cells.groupBy("cls").agg(sum("nij").as("bj"))
      val n = cells.agg(sum("nij").as("n"))
      def mn(num: String, den: String): Column =
        expr(s"CAST(round(ln(CAST($num AS DOUBLE) / CAST($den AS DOUBLE)) * 1000000) AS BIGINT)")
      val hck = cells.join(a, "cid")
        .agg(sum(col("nij") * mn("ai", "nij")).as("hck"))
      val hkc = cells.join(b, "cls")
        .agg(sum(col("nij") * mn("bj", "nij")).as("hkc"))
      val hc = b.crossJoin(broadcast(n))
        .agg(sum(col("bj") * mn("n", "bj")).as("hc"))
      val hk = a.crossJoin(broadcast(n))
        .agg(sum(col("ai") * mn("n", "ai")).as("hk"))
      hck.crossJoin(broadcast(hkc)).crossJoin(broadcast(hc))
        .crossJoin(broadcast(hk)).crossJoin(broadcast(n))
        .select(col("n"),
          // ratio in DOUBLE over the exact micro-nat BIGINTs: hck = n·H(C|K)·1e6
          // grows linearly with corpus rows, so the integer form
          // `hck * 1e6 DIV hc` overflowed BIGINT past ~9.2e12 micro-nats
          // (~5.7e6 rows at H≈1.6) — silent wrap on Spark, error on DuckDB
          expr("CASE WHEN hc = 0 THEN CAST(1000000 AS BIGINT) " +
            "ELSE 1000000 - CAST(floor(CAST(hck AS DOUBLE) * 1000000.0 / " +
            "CAST(hc AS DOUBLE)) AS BIGINT) END").as("homogeneity_ppm"),
          expr("CASE WHEN hk = 0 THEN CAST(1000000 AS BIGINT) " +
            "ELSE 1000000 - CAST(floor(CAST(hkc AS DOUBLE) * 1000000.0 / " +
            "CAST(hk AS DOUBLE)) AS BIGINT) END").as("completeness_ppm"))
        .withColumn("v_ppm",
          expr("CASE WHEN homogeneity_ppm + completeness_ppm = 0 THEN CAST(0 AS BIGINT) " +
            "ELSE 2 * homogeneity_ppm * completeness_ppm " +
            "DIV (homogeneity_ppm + completeness_ppm) END"))
    },

    // NS: Adjusted Rand Index — the chance-corrected clustering-vs-truth
    // agreement grade (does the K-Means geometry recover the labels?),
    // completing the clustering-eval family beside silhouette (internal)
    // and inertia (objective). Everything reduces to the K×|labels|
    // CONTINGENCY TABLE in one aggregate; the pair-count sums
    // Σ C(n_ij,2) / Σ C(a_i,2) / Σ C(b_j,2) are exact BIGINTs over that
    // bounded frame, and the ARI ratio (2(S_ij·N₂ − S_a·S_b)) /
    // ((S_a+S_b)·N₂ − 2·S_a·S_b) is one IEEE division over exact
    // ≤8e16 integers, rounded 6dp (scaling to ppm in integers would
    // overflow at the stress N₂ — the q_ols_normal register choice).
    "q_ari" -> { (s, dir) =>
      val cents = Lloyd.initCentroidsFor(s, dir, K)
      val asg = Tables.points(s, dir)
        .withColumn("cid", Lloyd.assignCol(cents, col("coordinates")))
        .select(col("vec_id"), col("cid"))
      val lab = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("label").cast("long").as("cls"))
      val cells = asg.join(lab, "vec_id")
        .groupBy("cid", "cls").agg(count(lit(1)).as("nij"))
        .localCheckpoint(eager = false) // K×L-bounded; feeds three pair-count folds
      ari(cells, "cid", "cls")
    },

    // NS: clustering stability — rerun the assignment under a SECOND
    // deterministic init (non-null points ranked K+1..2K by vec_id,
    // disjoint from the first-K init) and grade agreement with ARI over the
    // K×K contingency table: a geometry that genuinely clusters survives an
    // init perturbation (ARI → 1); a degenerate one reshuffles (→ 0).
    // The clustering-eval family's robustness panel beside silhouette /
    // inertia / ARI-vs-truth. Same scale shape as q_ari: two zero-shuffle
    // literal-centroid assigns, ONE bounded contingency aggregate, exact
    // pair-count BIGINTs, IEEE ratio with the DOUBLE-denominator guard.
    "q_cluster_stability" -> { (s, dir) =>
      val centsA = Lloyd.initCentroidsFor(s, dir, K)
      val alt = Lloyd.initCentroids(Tables.points(s, dir), 2 * K).drop(K)
        .map(c => c.copy(cid = c.cid - K))
      val cells = Tables.points(s, dir)
        .withColumn("ca", Lloyd.assignCol(centsA, col("coordinates")))
        .withColumn("cb", Lloyd.assignCol(alt, col("coordinates")))
        .groupBy("ca", "cb").agg(count(lit(1)).as("nij"))
        .localCheckpoint(eager = false) // K×K-bounded; feeds three pair-count folds
      ari(cells, "ca", "cb").select(col("n"), col("ari").as("stability_ari"))
    },

    // NS: elbow scan for K selection — the "which K" answer the whole
    // K-Means family presupposes: SSE(k) for k = 1..K over PREFIX
    // centroid sets in ONE corpus pass (per row, the running min d² over
    // the first k centroids is a least() chain — no per-k rescans), each
    // prefix min micro-quantized so the SSE ledger is an exact BIGINT
    // sum, then the kneedle rule (max distance to the (1,SSE₁)–(K,SSE_K)
    // chord) in pure integer cross-multiplication over the 5-row curve.
    "q_elbow_scan" -> { (s, dir) =>
      val cents = Lloyd.initCentroidsFor(s, dir, K).sortBy(_.cid)
      val d2Cols = Lloyd.centroidDists(cents, col("coordinates")).map { case (cid, d) =>
        d.as(s"d2_$cid")
      }
      val prefixCols = (1 to K).map { k =>
        val ds = cents.take(k).map(c => col(s"d2_${c.cid}"))
        val m = if (ds.length == 1) ds.head else least(ds: _*)
        struct(lit(k.toLong).as("k"),
          round(m * lit(1000000.0)).cast("long").as("m_micro"))
      }
      val sse = Tables.points(s, dir)
        .select(d2Cols: _*)
        .select(explode(array(prefixCols: _*)).as("p"))
        .select(col("p.k").as("k"), col("p.m_micro").as("m_micro"))
        .groupBy("k").agg(sum("m_micro").as("sse_micro"))
      val ends = sse.agg(
        max(when(col("k") === 1, col("sse_micro"))).as("sse1"),
        max(when(col("k") === K, col("sse_micro"))).as("sseK"))
      val scored = sse.crossJoin(broadcast(ends))
        // kneedle: distance to chord ∝ |(sse1−sseK)·(k−1) − (K−1)·(sse1−sse_k)|
        .withColumn("knee_score", abs((col("sse1") - col("sseK")) * (col("k") - 1) -
          lit((K - 1).toLong) * (col("sse1") - col("sse_micro"))))
      scored
        .withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("knee_score").desc, col("k"))))
        .select(col("k"), col("sse_micro"), col("knee_score"),
          (col("rk") === 1).cast("long").as("is_knee"))
        .orderBy("k")
    },

    // NS: Gaussian-mixture E-step — the soft-assignment half of EM, the
    // probabilistic sibling of the hard Lloyd assign: responsibilities
    // r_ik ∝ exp(−d²_ik/2σ²) over the K init centroids (isotropic σ² = 1,
    // equal weights). Numerics discipline: each point's K exponentials
    // stabilize by the row's min d² (so the largest term is exactly 1 and
    // nothing underflows), quantize INDIVIDUALLY to micro units, and the
    // softmax normalizes in PURE INTEGER arithmetic (e_micro·1e6 DIV
    // Σe_micro) — float summation order never exists, so both engines
    // agree bitwise at any scale. Zero shuffle until the K-row aggregate:
    // distances are literal-centroid expressions (the assignCol shape).
    // Output per component: hard-assign count beside the soft mass — the
    // E-step's own convergence diagnostics.
    "q_gmm_estep" -> { (s, dir) =>
      val cents = Lloyd.initCentroidsFor(s, dir, K).sortBy(_.cid)
      val pts = Tables.points(s, dir)
      val d2Cols = Lloyd.centroidDists(cents, col("coordinates")).map { case (cid, d) =>
        d.as(s"d2_$cid")
      }
      val withD = pts
        .withColumn("hard", Lloyd.assignCol(cents, col("coordinates")))
        .select(Seq(col("vec_id"), col("hard")) ++ d2Cols: _*)
        .withColumn("dmin", least(cents.map(c => col(s"d2_${c.cid}")): _*))
      val eCols = cents.map(c =>
        round(exp((col("dmin") - col(s"d2_${c.cid}")) * lit(0.5)) * lit(1000000.0))
          .cast("long").as(s"e_${c.cid}"))
      val withE = withD.select(Seq(col("vec_id"), col("hard")) ++ eCols: _*)
        .withColumn("denom", cents.map(c => col(s"e_${c.cid}")).reduce(_ + _))
      val stacked = withE.select(col("hard"), col("denom"),
          explode(array(cents.map(c =>
            struct(lit(c.cid).as("cid"), col(s"e_${c.cid}").as("e"))): _*)).as("kd"))
        .select(col("hard"), col("kd.cid").as("cid"),
          expr("kd.e * 1000000 DIV denom").as("resp_ppm"))
      stacked.groupBy("cid")
        .agg(sum(when(col("hard") === col("cid"), 1L).otherwise(0L)).as("n_hard"),
          sum("resp_ppm").as("resp_mass_ppm"),
          count(lit(1)).as("n_pts"))
        .select(col("cid").cast("long").as("cid"), col("n_hard"),
          col("resp_mass_ppm"), expr("resp_mass_ppm DIV n_pts").as("mean_resp_ppm"))
        .orderBy("cid")
    }
  )

  def oracleSql: Map[String, String] = Map(
    "q_assign_nearest" ->
      s"""$preludeSql
         |SELECT vec_id, cid FROM assign ORDER BY vec_id""".stripMargin,
    "q_argmin" ->
      s"""$preludeSql
         |SELECT vec_id, round(d2, 9) AS d2, cid FROM assign ORDER BY vec_id""".stripMargin,
    "q_kmeans_iter1" ->
      s"""$preludeSql,
         |means AS (${Lloyd.meansSql("assign", Some(7))})
         |SELECT cid, CAST(i - 1 AS INT) AS pos, m FROM means ORDER BY cid, pos""".stripMargin,
    "q_groupby_key" ->
      s"""$preludeSql
         |SELECT cid, count(*) AS n_points FROM assign GROUP BY cid ORDER BY cid""".stripMargin,
    // unrolled second iteration: iter-1 means (7-dec rounded, -0.0
    // normalized) become the iter-2 centroids
    "q_kmeans_iter2" ->
      s"""$preludeSql,
         |means1 AS (${Lloyd.meansSql("assign", Some(7))}),
         |c1 AS (SELECT cid, list(m ORDER BY i) AS c FROM means1 GROUP BY cid),
         |assign2 AS (${Lloyd.nearestSql("c1")}),
         |means2 AS (${Lloyd.meansSql("assign2", Some(6))})
         |SELECT cid, CAST(i - 1 AS INT) AS pos, m FROM means2 ORDER BY cid, pos""".stripMargin,
    "q_centroid_mean" ->
      """SELECT label, CAST(u.i - 1 AS INT) AS pos,
        |       round(avg(CAST(embedding AS DOUBLE[])[u.i]), 7) + 0.0 AS m
        |FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS u(i)
        |GROUP BY label, pos
        |ORDER BY label, pos""".stripMargin,
    "q_count_converged" ->
      s"""$preludeSql,
         |means AS (${Lloyd.meansSql("assign", None)}),
         |nextc AS (SELECT cid, list(m ORDER BY i) AS c FROM means GROUP BY cid)
         |SELECT CAST(sum(CASE WHEN sqrt(${Vec.sqDistSql("n.c", "i.c")}) < 1e-6
         |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_converged,
         |       count(*) AS n_centroids
         |FROM nextc n JOIN init i USING (cid)""".stripMargin,
    "q_expr_dist" ->
      s"""WITH ${Tables.PointsCte},
         |${Lloyd.ProbeSql}
         |SELECT p.vec_id, round(${Vec.sqDistSql("p.c", "probe.p")}, 9) AS d2
        |FROM pts p CROSS JOIN probe
        |ORDER BY p.vec_id""".stripMargin,
    "q_dist_euclid" ->
      s"""WITH ${Tables.PointsCte},
         |${Lloyd.ProbeSql}
         |SELECT p.vec_id, round(sqrt(${Vec.sqDistSql("p.c", "probe.p")}), 9) AS d
        |FROM pts p CROSS JOIN probe
        |ORDER BY p.vec_id""".stripMargin,
    "q_silhouette" ->
      s"""$preludeSql,
         |d AS (SELECT p.vec_id, i.cid, sqrt(${Vec.sqDistSql("p.c", "i.c")}) AS dist
         |      FROM pts p CROSS JOIN init i),
         |r AS (SELECT vec_id, dist,
         |             row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
         |      FROM d),
         |ab AS (SELECT vec_id, min(CASE WHEN rn = 1 THEN dist END) AS a,
         |              min(CASE WHEN rn = 2 THEN dist END) AS b
         |       FROM r GROUP BY vec_id),
         |sil AS (SELECT asg.cid,
         |               CASE WHEN greatest(ab.a, ab.b) > 0
         |                    THEN (ab.b - ab.a) / greatest(ab.a, ab.b)
         |                    ELSE 0.0 END AS sil
         |        FROM ab JOIN assign asg USING (vec_id))
         |SELECT cid, count(*) AS n, round(avg(sil), 6) AS mean_silhouette
         |FROM sil GROUP BY cid ORDER BY cid""".stripMargin,
    "q_inertia" ->
      s"""$preludeSql
         |SELECT cid, count(*) AS n, round(sum(d2), 6) AS inertia
         |FROM assign GROUP BY cid ORDER BY cid""".stripMargin,
    // same contingency table, micro-nat cell logs and integer ratios
    "q_v_measure" ->
      s"""$preludeSql,
         |cells AS (
         |  SELECT a.cid, CAST(e.label AS BIGINT) AS cls,
         |         CAST(count(*) AS BIGINT) AS nij
         |  FROM assign a JOIN embeddings e USING (vec_id)
         |  GROUP BY 1, 2),
         |aa AS (SELECT cid, CAST(sum(nij) AS BIGINT) AS ai FROM cells GROUP BY 1),
         |bb AS (SELECT cls, CAST(sum(nij) AS BIGINT) AS bj FROM cells GROUP BY 1),
         |nn AS (SELECT CAST(sum(nij) AS BIGINT) AS n FROM cells),
         |hck AS (SELECT CAST(sum(c.nij * CAST(round(ln(CAST(aa.ai AS DOUBLE)
         |                 / CAST(c.nij AS DOUBLE)) * 1000000) AS BIGINT)) AS BIGINT) AS hck
         |        FROM cells c JOIN aa USING (cid)),
         |hkc AS (SELECT CAST(sum(c.nij * CAST(round(ln(CAST(bb.bj AS DOUBLE)
         |                 / CAST(c.nij AS DOUBLE)) * 1000000) AS BIGINT)) AS BIGINT) AS hkc
         |        FROM cells c JOIN bb USING (cls)),
         |hc AS (SELECT CAST(sum(bj * CAST(round(ln(CAST(nn.n AS DOUBLE)
         |                / CAST(bj AS DOUBLE)) * 1000000) AS BIGINT)) AS BIGINT) AS hc
         |       FROM bb CROSS JOIN nn),
         |hk AS (SELECT CAST(sum(ai * CAST(round(ln(CAST(nn.n AS DOUBLE)
         |                / CAST(ai AS DOUBLE)) * 1000000) AS BIGINT)) AS BIGINT) AS hk
         |       FROM aa CROSS JOIN nn),
         |sc AS (
         |  SELECT nn.n,
         |         CASE WHEN hc.hc = 0 THEN CAST(1000000 AS BIGINT)
         |              ELSE 1000000 - CAST(floor(CAST(hck.hck AS DOUBLE) * 1000000.0
         |                / CAST(hc.hc AS DOUBLE)) AS BIGINT) END AS homogeneity_ppm,
         |         CASE WHEN hk.hk = 0 THEN CAST(1000000 AS BIGINT)
         |              ELSE 1000000 - CAST(floor(CAST(hkc.hkc AS DOUBLE) * 1000000.0
         |                / CAST(hk.hk AS DOUBLE)) AS BIGINT) END AS completeness_ppm
         |  FROM hck CROSS JOIN hkc CROSS JOIN hc CROSS JOIN hk CROSS JOIN nn)
         |SELECT n, homogeneity_ppm, completeness_ppm,
         |       CASE WHEN homogeneity_ppm + completeness_ppm = 0 THEN CAST(0 AS BIGINT)
         |            ELSE 2 * homogeneity_ppm * completeness_ppm
         |                 // (homogeneity_ppm + completeness_ppm) END AS v_ppm
         |FROM sc""".stripMargin,
    // same contingency table and pair-count identities
    "q_ari" ->
      s"""$preludeSql,
         |cells AS (
         |  SELECT a.cid, CAST(e.label AS BIGINT) AS cls,
         |         CAST(count(*) AS BIGINT) AS nij
         |  FROM assign a JOIN embeddings e USING (vec_id)
         |  GROUP BY 1, 2),
         |${ariSql("cid", "cls")}
         |SELECT n, sij, sa, sb, ari FROM ari""".stripMargin,
    // the prelude's assignment against a second one from the next K
    // points by vec_id, then the same ARI fold
    "q_cluster_stability" ->
      s"""$preludeSql,
         |${Lloyd.initSql(K, "initb", offset = K)},
         |assignb AS (${Lloyd.nearestSql("initb")}),
         |cells AS (SELECT a.cid AS ca, b.cid AS cb, CAST(count(*) AS BIGINT) AS nij
         |          FROM assign a JOIN assignb b USING (vec_id) GROUP BY 1, 2),
         |${ariSql("ca", "cb")}
         |SELECT n, ari AS stability_ari FROM ari""".stripMargin,
    // identical prefix-min micro ledger and integer kneedle rule
    "q_elbow_scan" ->
      s"""WITH ${Tables.PointsCte},
         |${Lloyd.initSql(K)},
         |d AS (SELECT p.vec_id, i.cid, ${Vec.sqDistSql("p.c", "i.c")} AS d2
         |      FROM pts p CROSS JOIN init i),
         |ks AS (SELECT CAST(k AS BIGINT) AS k
         |       FROM (SELECT unnest(range(1, ${K + 1})) AS k)),
         |pm AS (SELECT d.vec_id, ks.k,
         |              CAST(round(min(d.d2) * 1000000.0) AS BIGINT) AS m_micro
         |       FROM d JOIN ks ON d.cid <= ks.k
         |       GROUP BY 1, 2),
         |sse AS (SELECT k, CAST(sum(m_micro) AS BIGINT) AS sse_micro
         |        FROM pm GROUP BY 1),
         |ends AS (SELECT max(CASE WHEN k = 1 THEN sse_micro END) AS sse1,
         |                max(CASE WHEN k = $K THEN sse_micro END) AS sseK
         |         FROM sse),
         |sc AS (SELECT k, sse_micro,
         |              abs((sse1 - sseK) * (k - 1) - ${K - 1} * (sse1 - sse_micro))
         |                AS knee_score
         |       FROM sse CROSS JOIN ends),
         |rk AS (SELECT *, row_number() OVER (ORDER BY knee_score DESC, k) AS rk FROM sc)
         |SELECT k, sse_micro, knee_score, CAST(rk = 1 AS BIGINT) AS is_knee
         |FROM rk ORDER BY k""".stripMargin,
    // identical init centroids and distance folds; per-term micro
    // quantization BEFORE the integer softmax so no float sum exists
    "q_gmm_estep" ->
      s"""WITH ${Tables.PointsCte},
         |${Lloyd.initSql(K)},
         |d AS (SELECT p.vec_id, i.cid, ${Vec.sqDistSql("p.c", "i.c")} AS d2
         |      FROM pts p CROSS JOIN init i),
         |e AS (SELECT vec_id, cid,
         |             CAST(round(exp((min(d2) OVER (PARTITION BY vec_id) - d2) * 0.5)
         |               * 1000000.0) AS BIGINT) AS e,
         |             row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
         |      FROM d),
         |r AS (SELECT vec_id, cid, e,
         |             CAST(sum(e) OVER (PARTITION BY vec_id) AS BIGINT) AS denom,
         |             max(CASE WHEN rn = 1 THEN cid END) OVER (PARTITION BY vec_id) AS hard
         |      FROM e)
         |SELECT CAST(cid AS BIGINT) AS cid,
         |       CAST(sum(CASE WHEN hard = cid THEN 1 ELSE 0 END) AS BIGINT) AS n_hard,
         |       CAST(sum(e * 1000000 // denom) AS BIGINT) AS resp_mass_ppm,
         |       CAST(sum(e * 1000000 // denom) AS BIGINT)
         |         // CAST(count(*) AS BIGINT) AS mean_resp_ppm
         |FROM r GROUP BY 1 ORDER BY 1""".stripMargin
  )
}
