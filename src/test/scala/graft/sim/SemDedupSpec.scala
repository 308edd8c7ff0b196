package graft.sim

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.TestSpark
import graft.core.{Tables, Vec}
import graft.kmeans.{KmeansQueries, Lloyd}

/** SemDeDup (cluster-bounded semantic dedup): the per-cluster census must be
  * a partition of the corpus, and the greedy keep-first duplicate count must
  * agree with an independent exists-smaller-neighbor recomputation.
  */
class SemDedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("cluster census is a partition of the corpus; n_dup bounded by n-1") {
    val got = SimilarityQueries.queries("q_semdedup")(spark, TestSpark.Sf0001).collect()
    assert(got.length == KmeansQueries.K)
    val nTotal = Tables.embeddings(spark, TestSpark.Sf0001).count()
    assert(got.map(r => r.getLong(r.fieldIndex("n"))).sum == nTotal)
    got.foreach { r =>
      val (n, nDup) = (r.getLong(r.fieldIndex("n")), r.getLong(r.fieldIndex("n_dup")))
      assert(nDup >= 0 && nDup <= math.max(0L, n - 1),
        s"cid ${r.getInt(0)}: n_dup $nDup out of range for cluster size $n")
      // fixture clusters sit under SemClusterCap: the guard must not engage
      assert(r.getLong(r.fieldIndex("n_chunks")) == 1L,
        s"cid ${r.getInt(0)}: unexpected chunking at fixture scale")
    }
  }

  test("population guard sub-chunks a planted mega-cluster (bounded pairwise product)") {
    import spark.implicits._
    // 50 identical unit vectors in ONE cluster, cap = 10: the guard must
    // split the cluster into ceil(50/10) = 5 chunks of 10 (vec_id % 5), so
    // the pairwise product is 5 * C(10,2) = 225 pairs, not C(50,2) = 1225,
    // and exists-smaller-neighbor drops 9 of each chunk's 10 members:
    // n_dup = 45, not the unguarded 49.
    val mega = (0L until 50L).map(i => (i, 1, Seq(1.0, 0.0))).toDF("vec_id", "cid", "e")
    val capped = SimilarityQueries.semDedupCensus(mega, cap = 10).collect()
    assert(capped.length == 1)
    val r = capped.head
    assert(r.getLong(r.fieldIndex("n")) == 50L)
    assert(r.getLong(r.fieldIndex("n_chunks")) == 5L, "guard did not engage on the mega-cluster")
    assert(r.getLong(r.fieldIndex("n_dup")) == 45L,
      s"expected 45 within-chunk drops, got ${r.getLong(r.fieldIndex("n_dup"))}")
    assert(r.getDouble(r.fieldIndex("max_cos")) == 1.0)

    // below the cap the census is exact: n_chunks = 1, all 49 non-min drop
    val exact = SimilarityQueries.semDedupCensus(mega, cap = 1000).collect().head
    assert(exact.getLong(exact.fieldIndex("n_chunks")) == 1L)
    assert(exact.getLong(exact.fieldIndex("n_dup")) == 49L)
  }

  test("n_dup matches an independent exists-smaller-neighbor recomputation") {
    val got = SimilarityQueries.queries("q_semdedup")(spark, TestSpark.Sf0001)
      .select(col("cid"), col("n_dup")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap

    // independent spelling: mark each vector whose cluster holds a
    // smaller-id vector within SemTau, then count marks per cluster
    val cents = Lloyd.runFor(spark, TestSpark.Sf0001, KmeansQueries.K,
      maxIter = 10, eps = 1e-6, grid = Some(7))._1
    val emb = Tables.points(spark, TestSpark.Sf0001)
      .withColumn("cid", Lloyd.assignCol(cents, col("coordinates")))
      .select(col("vec_id"), col("cid"),
        Vec.scale(col("coordinates"),
          lit(1.0) / greatest(Vec.norm(col("coordinates")), lit(1e-12))).as("e"))
    val x = emb.select(col("cid"), col("vec_id").as("ida"), col("e").as("ea"))
    val y = emb.select(col("cid"), col("vec_id").as("idb"), col("e").as("eb"))
    val expected = x.join(y, Seq("cid"))
      .filter(col("ida") < col("idb") &&
        round(Vec.dot(col("ea"), col("eb")), 9) >= SimilarityQueries.SemTau)
      .select(col("cid"), col("idb")).distinct()
      .groupBy("cid").agg(count(lit(1)).as("n_dup")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap

    (1 to KmeansQueries.K).foreach { cid =>
      assert(got.getOrElse(cid, 0L) == expected.getOrElse(cid, 0L),
        s"cid $cid: query ${got.get(cid)} vs recomputation ${expected.get(cid)}")
    }
  }

  test("q_kmeans_mllib self-eval verdicts hold (sizes partition + toleranced SSE band)") {
    val r = graft.ml.MLQueries.queries("q_kmeans_mllib")(spark, TestSpark.Sf0001).head()
    assert(r.getLong(r.fieldIndex("sizes_ok")) == 1L, "cluster sizes are not a partition")
    // the SSE band lives HERE (toleranced), not in the driver hash gate:
    // seeded kmeans|| training cost varies with partitioning/core count,
    // so a pinned sse_ok bit could flake on environment changes alone.
    // 1.5x Lloyd is wide enough for that variance and still catches a
    // broken fit (a degenerate model lands orders of magnitude out).
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    import org.apache.spark.sql.functions.col
    val pts = graft.core.Tables.points(spark, TestSpark.Sf0001)
    val data = pts.select(array_to_vector(col("coordinates")).as("features"))
    val model = new KMeans().setK(graft.kmeans.KmeansQueries.K).setSeed(42L)
      .setMaxIter(10).setTol(1e-6).fit(data)
    val mllibSse = model.summary.trainingCost
    val (cents, _) = graft.kmeans.Lloyd.runFor(spark, TestSpark.Sf0001,
      graft.kmeans.KmeansQueries.K, maxIter = 10, eps = 1e-6, grid = Some(7))
    val lloydSse = graft.kmeans.Lloyd.sse(pts, cents)
    assert(mllibSse > 0 && mllibSse <= 1.5 * lloydSse,
      s"MLlib SSE $mllibSse outside the 1.5x Lloyd band (Lloyd SSE $lloydSse)")
  }

  test("q_embed_drift: cosine bounded, and the dominant label tracks the corpus") {
    val rows = graft.SparkEntry.queries("q_embed_drift")(
      graft.TestSpark.spark, graft.TestSpark.Sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val c = r.getAs[Double]("cos_to_global")
      assert(c >= -1.000001 && c <= 1.000001, s"cos $c out of range")
      assert(r.getAs[Long]("n_vecs") > 0)
    }
    // vector mass conservation: label counts sum to the corpus
    val total = graft.core.Tables.embeddings(graft.TestSpark.spark,
      graft.TestSpark.Sf0001).count()
    assert(rows.map(_.getAs[Long]("n_vecs")).sum == total)
  }

  test("q_blob_integrity: corruption census matches the planted fault rule") {
    val spark = graft.TestSpark.spark
    val rows = graft.SparkEntry.queries("q_blob_integrity")(spark,
      graft.TestSpark.Sf0001).collect()
    // the planted rule is Hash.prefix('chk:'||doc_id) % 50 == 0 — recompute it
    val expected = graft.core.Tables.documents(spark, graft.TestSpark.Sf0001)
      .selectExpr("source",
        "CAST(conv(substring(md5(concat('chk:', CAST(doc_id AS STRING))), 1, 8), 16, 10) AS BIGINT) % 50 AS h")
      .collect().groupBy(_.getAs[String]("source"))
      .view.mapValues(v => (v.length.toLong, v.count(_.getAs[Long]("h") == 0L).toLong))
      .toMap
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, corrupt) = expected(r.getAs[String]("source"))
      assert(r.getAs[Long]("n_blobs") == n)
      assert(r.getAs[Long]("n_corrupt") == corrupt)
      assert(r.getAs[Long]("corrupt_ppm") == corrupt * 1000000L / n)
    }
    // the ~2% rate is actually planted somewhere in the corpus
    assert(rows.map(_.getAs[Long]("n_corrupt")).sum > 0)
  }

  test("q_mrl_trunc: retention monotone in the budget, recall bounded, 5 probes per row") {
    val rows = SimilarityQueries.queries("q_mrl_trunc")(spark, TestSpark.Sf0001)
      .collect().sortBy(_.getAs[Long]("d"))
    assert(rows.map(_.getAs[Long]("d")).toSeq == Seq(8L, 16L, 32L))
    // prefix energy is monotone per vector, so both retention stats must
    // be monotone non-decreasing in d and bounded by 1e6
    val means = rows.map(_.getAs[Long]("mean_retained_ppm"))
    val mins = rows.map(_.getAs[Long]("min_retained_ppm"))
    assert(means.zip(means.tail).forall { case (a, b) => a <= b }, means.mkString(","))
    assert(mins.zip(mins.tail).forall { case (a, b) => a <= b }, mins.mkString(","))
    rows.foreach { r =>
      assert(r.getAs[Long]("min_retained_ppm") <= r.getAs[Long]("mean_retained_ppm"))
      assert(r.getAs[Long]("mean_retained_ppm") <= 1000000L)
      assert(r.getAs[Long]("n_queries") == 5L)
      val hits = r.getAs[Long]("recall1_hits")
      assert(hits >= 0L && hits <= 5L)
      assert(r.getAs[Long]("recall1_ppm") == hits * 1000000L / 5L)
    }
  }

  test("q_mrl_trunc plan: probes broadcast, corpus never shuffle-joins, aggs combined") {
    val p = SimilarityQueries.queries("q_mrl_trunc")(spark, TestSpark.Sf0001)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"probe set not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus shuffle-join crept in:\n$p")
    assert(p.contains("partial_count") && p.contains("partial_sum"),
      s"census aggregates not combined map-side:\n$p")
    assert(!p.contains("Window"), s"window crept into the budget sweep:\n$p")
  }
}
