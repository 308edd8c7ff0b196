package graft.sim

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Hash, Tables, Vec}
import graft.kmeans.Lloyd

/** Similarity search over the embedding column (north-star surface).
  *
  * Three tiers, in scale order:
  *   - [[q_topk_similar]]: exact brute-force cosine top-k — the baseline; a
  *     single narrow scan + TakeOrderedAndProject (no shuffle of vectors).
  *   - [[q_ann_ivf]]: IVF — coarse-quantize by nearest centroid, probe only
  *     the nprobe closest cells. At 100 TB the data is pre-partitioned by
  *     cell id, so a probe touches nprobe/K of the data.
  *   - [[q_dedup_embed]]: LSH sign-bucketing (deterministic integer-hash
  *     hyperplanes) then within-bucket exact cosine — near-dup pairs
  *     without an all-pairs cross product.
  */
object SimilarityQueries extends graft.SparkEntry.Module {

  /** Deterministic pseudo-random hyperplane component for (plane j, dim d):
    * integer-hash arithmetic only, so Spark and DuckDB agree bit-for-bit.
    */
  private def hp(j: Int, d: Int): Double =
    (((j * 64 + d + 1) * 2654435761L) % 1997L - 998L).toDouble

  val NPlanes = 8

  /** Buckets larger than this get refined by [[NPlanes]] extra hyperplanes
    * (planes 8..15) — an adaptive second LSH level, so clustered embeddings
    * can't collapse the candidate join to quadratic in one giant sign
    * bucket, while sparse buckets keep the full 8-plane recall.
    */
  val RefineCap = 64

  /** SemDeDup duplicate threshold: same cosine bar as [[queries q_dedup_embed]]. */
  val SemTau = 0.5

  /** Cluster-population guard for SemDeDup's within-cluster pairwise
    * product (the TextDedup.DefaultMaxBucketSize counterpart): clusters
    * above this population are deterministically sub-chunked before the
    * self-join, so ONE near-duplicate-heavy mega-cluster — precisely what
    * dedup targets at 100 TB — cannot make the (cid) self-join quadratic
    * on a hot key. Pairs across chunks of an over-cap cluster are skipped:
    * a bounded, observable recall sacrifice (the census reports n_chunks
    * per cluster) instead of an unbounded shuffle explosion.
    */
  val SemClusterCap = 1000

  /** Per-cluster SemDeDup census over (vec_id, cid, e) rows with the
    * population guard applied. Chunk id = vec_id mod ceil(n/cap) — pure
    * integer arithmetic, so the DuckDB oracle replays it bit-for-bit (ids
    * are non-negative, so % == pmod on both engines). Clusters at or under
    * `cap` get n_chunks = 1 and are computed exactly. The census join back
    * onto rows is HINT-FREE: the number of clusters scales with corpus
    * size (K grows to hold n/K constant), so it is not broadcast-safe.
    */
  def semDedupCensus(emb: DataFrame, cap: Int = SemClusterCap): DataFrame = {
    val census = emb.groupBy("cid").agg(count(lit(1)).as("n"))
      .withColumn("n_chunks", expr(s"(n + ${cap - 1}) DIV $cap"))
    val keyed = emb.join(census.select("cid", "n_chunks"), Seq("cid"))
      .withColumn("chunk", pmod(col("vec_id"), col("n_chunks")))
    val a = keyed.select(col("cid"), col("chunk"), col("vec_id").as("id_a"), col("e").as("e_a"))
    val b = keyed.select(col("cid"), col("chunk"), col("vec_id").as("id_b"), col("e").as("e_b"))
    val pairs = a.join(b, Seq("cid", "chunk"))
      .filter(col("id_a") < col("id_b"))
      .select(col("cid"), col("id_b"),
        round(Vec.dot(col("e_a"), col("e_b")), 9).as("cos"))
    val pairStats = pairs.groupBy("cid").agg(
      max("cos").as("max_cos"),
      countDistinct(when(col("cos") >= lit(SemTau), col("id_b"))).as("n_dup"))
    census.join(pairStats, Seq("cid"), "left")
      .select(col("cid"), col("n"), col("n_chunks"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"),
        coalesce(col("max_cos"), lit(0.0)).as("max_cos"))
      .orderBy("cid")
  }

  /** Memoized ANN candidate list for the fixture at `dir`: `method` is one
    * of exact/ivf/lsh/pq. The underlying pipelines stay registered (and
    * individually benched) as q_topk_similar / q_ann_*; this memo is how
    * the recall EVAL reads them — one index build per (context, fixture,
    * method), the in-session stand-in for a persisted index artifact.
    */
  def annCandidates(s: SparkSession, dir: String, method: String): DataFrame = {
    val key = if (method == "exact") "q_topk_similar" else s"q_ann_$method"
    graft.text.ArtifactMemo(s"ann_$method", s, dir) {
      queries(key)(s, dir).localCheckpoint(eager = false)
    }
  }

  /** Sign-bucket id over planes [lo, hi): bit (j-lo) = [dot(v, plane_j) > 0]. */
  def lshBucket(v: Column, lo: Int = 0, hi: Int = NPlanes): Column =
    (lo until hi).map { j =>
      val plane = array((0 until 64).map(d => lit(hp(j, d))): _*)
      when(Vec.dot(v, plane) > 0, lit(1L << (j - lo))).otherwise(lit(0L))
    }.reduce(_ + _)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // NS: embedding-quality census — the audit an ANN/semantic-dedup index
    // build gates on BEFORE spending a cluster pass: per label-group
    // vector counts, zero-vector count (cosine poison: they normalize to
    // NaN), dimensionality constancy (min==max dims or the index build is
    // garbage), and the norm envelope. One narrow per-row norm + K-group
    // agg — a map-side-combined single shuffle at any scale.
    // NS: embedding-space drift monitor — "is this label's (or source's)
    // embedding distribution moving away from the corpus?": per-label
    // centroid vs the global centroid, cosine similarity. Centroids are
    // per-dim avgs QUANTIZED to BIGINT micro-units (one rounding per
    // aggregate, the Lloyd/kmeans-centroid risk class), after which every
    // dot/norm is an EXACT 64-term integer sum (≤6.4e13 — no float-order
    // wobble can exist) and the cosine is a single IEEE division rounded
    // 6dp. Dataflow: one posexplode + two bounded (label·d and d) aggs +
    // a d-sized join — nothing after the first aggregate scales with rows.
    "q_embed_drift" -> { (s, dir) =>
      val base = Tables.embeddings(s, dir)
        .select(col("label").cast("long").as("label"),
          posexplode(col("embedding")).as(Seq("pos", "v")))
      val byLabel = base.groupBy("label", "pos")
        .agg(expr("CAST(round(avg(v) * 1000000) AS BIGINT)").as("c"),
          count(lit(1)).as("n"))
      val global = broadcast(base.groupBy("pos")
        .agg(expr("CAST(round(avg(v) * 1000000) AS BIGINT)").as("g")))
      byLabel.join(global, "pos")
        .groupBy("label")
        .agg((max("n")).as("n_vecs"),
          sum(col("c") * col("g")).as("ab"),
          sum(col("c") * col("c")).as("aa"),
          sum(col("g") * col("g")).as("bb"))
        .select(col("label"), col("n_vecs"),
          round(col("ab").cast("double") /
            sqrt(col("aa").cast("double") * col("bb").cast("double")), 6)
            .as("cos_to_global"))
        .orderBy("label")
    },

    "q_embed_census" -> { (s, dir) =>
      Tables.embeddings(s, dir)
        .select(col("label").cast("long").as("label"),
          size(col("embedding")).cast("long").as("dims"),
          Vec.norm(col("embedding")).as("nrm"))
        .groupBy("label")
        .agg(count(lit(1)).as("n_vecs"),
          sum(when(col("nrm") < 1e-12, 1L).otherwise(0L)).as("n_zero"),
          min("dims").as("min_dims"), max("dims").as("max_dims"),
          round(min("nrm"), 6).as("min_norm"),
          round(max("nrm"), 6).as("max_norm"),
          round(avg("nrm"), 6).as("mean_norm"))
        .orderBy("label")
    },

    // NS: IVF cell-balance census — the index-health check that decides
    // whether an IVF layout is usable (one hot cell = every probe touching
    // it scans a constant fraction of the corpus, i.e. no speedup): per-
    // cell populations from the SAME deterministic assignment the q_ann_ivf
    // path queries, plus exact integer share/imbalance read-offs. One
    // zero-shuffle assignment pass + K-group agg.
    "q_ivf_balance" -> { (s, dir) =>
      val pts = Tables.points(s, dir)
      val cents = Lloyd.initCentroidsFor(s, dir, graft.kmeans.KmeansQueries.K)
      val cells = Lloyd.assign(pts, cents)
        .groupBy(col("cid").cast("long").as("cid"))
        .agg(count(lit(1)).as("n_vecs"))
      val tot = cells.agg(sum("n_vecs").as("n"), max("n_vecs").as("max_n"),
        count(lit(1)).as("k"))
      cells.crossJoin(broadcast(tot))
        .select(col("cid"), col("n_vecs"),
          expr("n_vecs * 1000000 DIV n").as("share_ppm"),
          expr("max_n * k * 100 DIV n").as("imbalance_x100"))
        .orderBy("cid")
    },

    // Exact cosine top-10 to the probe vector (vec_id 0): orderBy+limit
    // compiles to per-partition top-k + a 10-row driver merge.
    "q_topk_similar" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      // probe = first vector by vec_id = memoized init centroid 1
      val probe = Lloyd.probeFor(s, dir).toSeq
      val pl = array(probe.map(lit): _*)
      emb.select(col("vec_id"), round(Vec.cosine(col("embedding"), pl), 9).as("sim"))
        .orderBy(col("sim").desc, col("vec_id"))
        .limit(10)
    },
    // IVF approximate top-10: cells = the deterministic init centroids
    // (first K points), probe the 2 cells nearest the probe vector, exact
    // search within. Fully deterministic, so the oracle replays it.
    "q_ann_ivf" -> { (s, dir) =>
      val pts = Tables.points(s, dir)
      val cents = Lloyd.initCentroidsFor(s, dir, graft.kmeans.KmeansQueries.K)
      val probe = Lloyd.probeFor(s, dir).toSeq
      // nprobe=2 nearest cells to the probe, computed on the driver (K rows)
      // by the assignment kernel's own distance loop
      val table = graft.functions.NearestCentroid.Table(cents.map(c => (c.cid, c.coordinates)))
      val dist = new Array[Double](table.cids.length)
      table.nearest(probe.toArray, 0, dist)
      val probeCells = table.cids.toSeq.zip(dist)
        .sortBy { case (cid, d) => (d, cid) }.take(2).map(_._1)
      val assigned = Lloyd.assign(pts, cents)
      val pl = array(probe.map(lit): _*)
      assigned.filter(col("cid").isin(probeCells: _*))
        .select(col("vec_id"), round(Vec.cosine(col("coordinates"), pl), 9).as("sim"))
        .orderBy(col("sim").desc, col("vec_id"))
        .limit(10)
    },
    // NS: LSH-bucketed ANN — the other scale path beside IVF: the probe's
    // 8-plane sign bucket is computed ON THE DRIVER (64 multiplies), and the
    // search scans only rows whose bucket literal-matches it — at 100 TB
    // with data bucketed/partitioned by sign bucket this is a partition-
    // pruned read of ~1/256 of the index, no shuffle, no per-row probe
    // distance to any non-bucket row.
    "q_ann_lsh" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val probe = Lloyd.probeFor(s, dir).toSeq
      // driver-side replica of lshBucket: same plane constants, same
      // sequential left-to-right accumulation as Vec.dot
      val pb = (0 until NPlanes).map { j =>
        var acc = 0.0
        var d = 0
        while (d < probe.length) { acc += probe(d) * hp(j, d); d += 1 }
        if (acc > 0) 1L << j else 0L
      }.sum
      val pl = array(probe.map(lit): _*)
      emb.filter(lshBucket(col("embedding"), 0, NPlanes) === lit(pb))
        .select(col("vec_id"), round(Vec.cosine(col("embedding"), pl), 9).as("sim"))
        .orderBy(col("sim").desc, col("vec_id"))
        .limit(10)
    },
    // NS: top-k similarity JOIN (kNN join): each of the first 10 vectors
    // gets its 3 nearest cosine neighbors. The query set broadcasts (query
    // sets are small at any corpus scale), the corpus is scanned ONCE with
    // a 10x fanout, and the per-query top-3 is a bounded custom Aggregator
    // (functions.TopKAgg) — partial aggregation trims map-side, so the
    // shuffle carries 3 rows per (query, partition), never the whole
    // group. Contrast: a window rank here would shuffle and sort ALL N
    // scored rows per query.
    "q_knn_join" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val qs = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q"))
      val topk = udaf(new graft.functions.TopKAgg(3),
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[graft.functions.ScoredId]())
      emb.join(broadcast(qs), col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id").as("n_id"),
          round(Vec.cosine(col("embedding"), col("q")), 9).as("sim"))
        .groupBy("q_id")
        .agg(topk(col("n_id"), col("sim")).as("nn"))
        .select(col("q_id"), posexplode(col("nn")).as(Seq("pos", "n")))
        .select(col("q_id"), (col("pos") + 1).cast("long").as("rank"),
          col("n.id").as("n_id"), col("n.sim").as("sim"))
        .orderBy("q_id", "rank")
    },
    // NS: product-quantization ANN (IVF-PQ's compression half): split each
    // 64-dim vector into 8 subvectors of 8 dims, quantize every subvector
    // to its nearest of 4 deterministic codebook entries (the subvectors of
    // the first 4 vectors — "training" pinned for the oracle), then rank by
    // asymmetric distance (ADC): the probe's 8x4 subspace-distance table is
    // computed ON THE DRIVER and the per-row estimate is 8 literal-array
    // lookups + adds — no vector math against the probe at query time. At
    // 100 TB this is the memory story: 8 bytes/vector in the index instead
    // of 256, scan-side codes only.
    "q_ann_pq" -> { (s, dir) =>
      val M = 8; val Dsub = 8; val Kc = 4
      val train = Lloyd.initCentroidsFor(s, dir, Kc)
      val cb: IndexedSeq[IndexedSeq[Array[Double]]] =
        (0 until M).map(m => (0 until Kc).map(c =>
          train(c).coordinates.slice(m * Dsub, (m + 1) * Dsub)))
      val probe = Lloyd.probeFor(s, dir)
      def sq(a: Array[Double], b: Array[Double]): Double = {
        var s0 = 0.0; var i = 0
        while (i < a.length) { val d = a(i) - b(i); s0 += d * d; i += 1 }
        s0
      }
      // ADC lookup table adc(m)(c) = ||probe_sub_m - cb(m)(c)||^2 (driver-side)
      val adc = (0 until M).map(m => (0 until Kc).map(c =>
        sq(probe.slice(m * Dsub, (m + 1) * Dsub), cb(m)(c))))
      // left-to-right d-order fold, mirrored exactly by the oracle's
      // list_sum over range(1,9) so the doubles (and argmin ties) agree
      def subDist(v: Column, m: Int, c: Int): Column =
        (0 until Dsub).map { d =>
          val diff = element_at(v, m * Dsub + d + 1) - lit(cb(m)(c)(d))
          diff * diff
        }.reduce(_ + _)
      def codeCol(v: Column, m: Int): Column =
        array_min(array((0 until Kc).map(c =>
          struct(subDist(v, m, c).as("d"), lit(c).as("c"))): _*)).getField("c")
      val coded = Tables.embeddings(s, dir)
        .select(col("vec_id") +:
          (0 until M).map(m => codeCol(col("embedding"), m).as(s"code$m")): _*)
      val est = (0 until M).map(m =>
        element_at(array(adc(m).map(lit): _*), col(s"code$m") + 1)).reduce(_ + _)
      coded.select(col("vec_id"),
          col("code0").cast("long").as("code0"), col("code1").cast("long").as("code1"),
          round(sqrt(est), 6).as("adc_dist"))
        .orderBy(col("adc_dist"), col("vec_id"))
        .limit(10)
    },
    // NS: int8 symmetric quantization of the embedding column — the
    // storage/IO optimization a 100 TB ANN index runs on (4x smaller
    // vectors; scan-side dequantize). Per-vector scale = 127/max|x|;
    // quantize via floor(x*scale + 0.5) — floor, NOT round, so both
    // engines share one exactly-defined rounding rule. Output: the scale,
    // head of the quantized vector, and the dequantization error.
    // max|x| is floored at 1e-12 so an all-zero embedding yields a finite
    // scale (and q = all zeros) instead of Inf*0 = NaN, which the two
    // engines cast differently.
    "q_embed_quantize" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
        // materialize scale BEFORE the quantize lambda (HOF-CSE pitfall:
        // referencing it inside the lambda recomputes array_max per element)
        .select(col("vec_id"), col("embedding"),
          (lit(127.0) / greatest(array_max(transform(col("embedding"), x => abs(x))), lit(1e-12))).as("scale"))
        .select(col("vec_id"), col("embedding"), col("scale"),
          transform(col("embedding"), x => floor(x * col("scale") + 0.5).cast("long")).as("q"))
      emb.select(col("vec_id"),
          round(col("scale"), 9).as("scale_r"),
          element_at(col("q"), 1).as("q0"),
          element_at(col("q"), 2).as("q1"),
          round(Vec.dist(col("embedding"),
            transform(col("q"), v => v.cast("double") / col("scale"))), 6).as("dequant_err"))
        .orderBy("vec_id")
    },
    // NS: Matryoshka truncation quality — the dimension-budget planning
    // read for MRL-style embeddings (serve the first d dims at 1/8 the
    // index memory and distance CPU — IF the prefix carries the signal).
    // Per budget d in {8, 16, 32}: (a) the energy-retention census
    // ||x[1:d]||²/||x||² in integer ppm per vector (zero vectors pin 1e6;
    // both quotient operands are the in-row sequential Vec.dot fold, so
    // the IEEE division is engine-identical), and (b) recall@1 vs the
    // full-dimension ranking over 5 probe vectors — the broadcast probe ×
    // corpus pass computes all four cosines at once (one pass, probes
    // broadcast, the corpus never shuffles; ties broken (sim desc, id)
    // via the certified packed struct-max). The budget grid is the knob a
    // 100 TB ANN deployment sweeps before picking its serving dimension.
    "q_mrl_trunc" -> { (s, dir) =>
      val budgets = Seq(8, 16, 32)
      val emb = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
      def cosAt(a: Column, b: Column, d: Int): Column = {
        val (sa, sb) = (slice(a, 1, d), slice(b, 1, d))
        Vec.dot(sa, sb) / greatest(Vec.norm(sa) * Vec.norm(sb), lit(1e-12))
      }
      // (a) energy retention: one narrow pass; budgets unfold via stack
      val energies = emb.select(
        (Vec.dot(col("embedding"), col("embedding")).as("e_full") +:
          budgets.map(d =>
            Vec.dot(slice(col("embedding"), 1, d), slice(col("embedding"), 1, d))
              .as(s"e_$d"))): _*)
      val retain = energies
        .select(expr(s"stack(${budgets.length}, " +
          budgets.map(d => s"${d}L, e_$d").mkString(", ") + ") AS (d, e_d)"), col("e_full"))
        .select(col("d"), expr(
          "CASE WHEN e_full <= 0.0e0 THEN CAST(1000000 AS BIGINT) " +
            "ELSE CAST(floor(e_d / e_full * 1000000.0e0) AS BIGINT) END").as("r_ppm"))
        .groupBy("d")
        .agg(count(lit(1)).as("n_vecs"), sum("r_ppm").as("r_sum"),
          min("r_ppm").as("min_retained_ppm"))
        .select(col("d"), expr("r_sum DIV n_vecs").as("mean_retained_ppm"),
          col("min_retained_ppm"))
      // (b) recall@1 per budget vs the full-d top neighbor
      val qs = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q"))
      // sim_full over the UNSLICED arrays (matches the oracle's unsliced
      // list cosine) — no hardcoded full dimension to drift from the
      // fixture; slicing past length would silently shorten, not error
      def cosFull(a: Column, b: Column): Column =
        Vec.dot(a, b) / greatest(Vec.norm(a) * Vec.norm(b), lit(1e-12))
      val top1 = emb.join(broadcast(qs), col("vec_id") =!= col("q_id"))
        .select(Seq(col("q_id"), col("vec_id").as("n_id"),
          round(cosFull(col("embedding"), col("q")), 9).as("sim_full")) ++
          budgets.map(d => round(cosAt(col("embedding"), col("q"), d), 9).as(s"sim_$d")): _*)
        .groupBy("q_id")
        .agg(max(struct(col("sim_full"), (-col("n_id")).as("nid"))).as("t_full"),
          budgets.map(d =>
            max(struct(col(s"sim_$d"), (-col("n_id")).as("nid"))).as(s"t_$d")): _*)
      val recall = top1
        .select(expr(s"stack(${budgets.length}, " +
          budgets.map(d => s"${d}L, CAST(t_$d.nid = t_full.nid AS BIGINT)").mkString(", ") +
          ") AS (d, hit)"))
        .groupBy("d")
        .agg(count(lit(1)).as("n_queries"), sum("hit").as("recall1_hits"))
      retain.join(recall, "d")
        .select(col("d"), col("mean_retained_ppm"), col("min_retained_ppm"),
          col("recall1_hits"), col("n_queries"),
          expr("recall1_hits * 1000000 DIV n_queries").as("recall1_ppm"))
        .orderBy("d")
    },

    // NS: recommendation-list diversity eval — the beyond-accuracy grades
    // a retrieval stack publishes beside recall: catalog COVERAGE (how
    // much of the corpus ever gets recommended) and intra-list diversity
    // (mean pairwise 1−cos inside each query's top-3 — a list of
    // near-duplicates scores high on recall and zero on ILD). Top-3 via
    // the bounded TopKAgg (k rows per query per partition); the pair
    // stage is C(3,2) per query over the ≤30-row rec frame; pair
    // distances micro-quantize per pair so the ILD mean is exact
    // integer arithmetic.
    "q_rec_diversity" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val qs = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q"))
      val topk = udaf(new graft.functions.TopKAgg(3),
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[graft.functions.ScoredId]())
      val recs = emb.join(broadcast(qs), col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id").as("n_id"),
          round(Vec.cosine(col("embedding"), col("q")), 9).as("sim"))
        .groupBy("q_id").agg(topk(col("n_id"), col("sim")).as("nn"))
        .select(col("q_id"), explode(col("nn")).as("n"))
        .select(col("q_id"), col("n.id").as("n_id"))
        .localCheckpoint(eager = false) // ≤ 30 rows; feeds the pair stage and the census
      val pairs = recs.join(recs.select(col("q_id"), col("n_id").as("m_id")), "q_id")
        .filter(col("n_id") < col("m_id"))
      val pairD = pairs
        .join(emb.select(col("vec_id").as("n_id"), col("embedding").as("va")), "n_id")
        .join(emb.select(col("vec_id").as("m_id"), col("embedding").as("vb")), "m_id")
        .select(round((lit(1.0) - Vec.cosine(col("va"), col("vb"))) * lit(1000000.0))
          .cast("long").as("d_micro"))
        .agg(count(lit(1)).as("n_pairs"), sum("d_micro").as("d_sum"))
      val census = recs.agg(countDistinct("q_id").as("n_queries"),
        count(lit(1)).as("n_recs"), countDistinct("n_id").as("n_distinct_recs"))
      val corpus = emb.agg(count(lit(1)).as("n_corpus"))
      census.crossJoin(broadcast(corpus)).crossJoin(broadcast(pairD))
        .select(col("n_queries"), col("n_recs"), col("n_distinct_recs"),
          expr("n_distinct_recs * 1000000 DIV n_corpus").as("coverage_ppm"),
          expr("d_sum DIV n_pairs").as("ild_micro"))
    },

    // NS: Johnson–Lindenstrauss random projection — the dimensionality
    // reduction pass ahead of ANN indexing (64-D → 8-D at 8x less index
    // memory and distance CPU): y_j = Σ_i s_ij·x_i with DETERMINISTIC ±1
    // signs from md5 parity of (i, j), so the projection matrix is a pure
    // function of nothing but its coordinates — both engines, every
    // retry, every cluster size rebuild the identical matrix, and the
    // Spark side's sign literals CONSTANT-FOLD (the md5s evaluate once at
    // plan time, zero per-row hash cost). The dot folds are the in-row
    // sequential Vec.dot (bit-deterministic; list_sum replay). Output at
    // (vec, dim) grain in milli units; the JL norm-preservation ratio is
    // spec-verified driver-side.
    "q_random_projection" -> { (s, dir) =>
      def sign(i: Int, j: Int): Column =
        when(pmod(Hash.prefix(lit(s"rp:$i:$j")), lit(2L)) === 1, lit(-1.0)).otherwise(lit(1.0))
      val projCols = (0 until 8).map { j =>
        struct(lit(j.toLong).as("j"),
          round(graft.core.Vec.dot(col("embedding"),
            array((0 until 64).map(i => sign(i, j)): _*)) * 1000.0)
            .cast("long").as("y_milli"))
      }
      Tables.embeddings(s, dir)
        .select(col("vec_id"), explode(array(projCols: _*)).as("p"))
        .select(col("vec_id"), col("p.j").as("j"), col("p.y_milli").as("y_milli"))
        .orderBy("vec_id", "j")
    },

    // Embedding near-dup pairs: adaptive two-level LSH bucket equi-join +
    // exact cosine filter. Level 1 = 8-plane sign bucket; buckets whose
    // population exceeds RefineCap are refined by 8 MORE planes, so one hot
    // bucket of clustered embeddings can't make the join quadratic. The
    // bucket census is a tiny aggregate broadcast back onto the rows (never
    // a window over the hot bucket itself). Vectors are L2-normalized ONCE
    // per row before the join, so the per-pair work (the join residual) is
    // a single dot product — the codegen DotProduct kernel (Vec.dot), zero
    // allocation per pair.
    // (norm floored at 1e-12: a zero vector must normalize to zeros, not
    // NaN — Spark filters NaN cos out but DuckDB sorts NaN above 0.5.)
    "q_dedup_embed" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
        .select(col("vec_id"),
          Vec.scale(col("embedding"), lit(1.0) / greatest(Vec.norm(col("embedding")), lit(1e-12))).as("e"),
          lshBucket(col("embedding"), 0, NPlanes).as("b8"),
          lshBucket(col("embedding"), NPlanes, 2 * NPlanes).as("ext8"))
      val census = emb.groupBy("b8").agg(count(lit(1)).as("n_b8"))
      val keyed = emb.join(broadcast(census), "b8")
        .withColumn("ext", when(col("n_b8") > RefineCap, col("ext8")).otherwise(lit(0L)))
        .select(col("vec_id"), col("e"), col("b8"), col("ext"))
      val a = keyed.select(col("vec_id").as("id_a"), col("e").as("e_a"), col("b8"), col("ext"))
      val b = keyed.select(col("vec_id").as("id_b"), col("e").as("e_b"), col("b8"), col("ext"))
      a.join(b, Seq("b8", "ext"))
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          round(Vec.dot(col("e_a"), col("e_b")), 9).as("cos"))
        .filter(col("cos") >= 0.5)
        .orderBy("id_a", "id_b")
    },
    // NS: ANN self-evaluation — recall@10 of each approximate path (LSH
    // bucket, IVF probe, PQ/ADC code ranking) against the exact cosine
    // top-10. The eval is three 10-row joins over results the engine
    // already computes; at 100 TB
    // this is how an index build is accepted or rejected, and it costs
    // nothing beyond the candidate queries themselves. The four candidate
    // lists route through ArtifactMemo ([[annCandidates]]) — at 100 TB they
    // are persisted index-build outputs the eval merely READS, so the
    // benched cost of this key is the eval itself, with the one-time index
    // builds itemized on the memo's cold-build line like every other
    // artifact.
    "q_ann_recall" -> { (s, dir) =>
      // the exact top-10 ids are collected ONCE (10 longs) and inlined as
      // a literal IN-filter into each approximate branch — Spark would
      // otherwise recompute the exact pipeline per union branch (3 extra
      // corpus scans for three 10-row joins). Ground truth is tiny by
      // construction (k rows), so driver-side is the right side of the
      // collect rule here, same as initCentroidsFor.
      val exactIds = annCandidates(s, dir, "exact")
        .select(col("vec_id")).collect().map(_.getLong(0)).toSeq
      def recallOf(method: String, approx: DataFrame): DataFrame =
        approx.select(col("vec_id")).filter(col("vec_id").isin(exactIds: _*))
          .agg(count(lit(1)).as("n_common"))
          .select(lit(method).as("method"), lit(10L).as("k"), col("n_common"),
            round(col("n_common") / lit(10.0), 2).as("recall_at_10"))
      recallOf("ivf", annCandidates(s, dir, "ivf"))
        .unionByName(recallOf("lsh", annCandidates(s, dir, "lsh")))
        .unionByName(recallOf("pq", annCandidates(s, dir, "pq")))
        .orderBy("method")
    },

    // NS: SemDeDup — semantic dedup over the CONVERGED clustering (the
    // cluster-then-pairwise recipe of Abbas et al. 2023): K-Means partitions
    // the embedding space, and near-duplicate search runs ONLY within each
    // cluster, so the quadratic term is bounded by the cluster population,
    // never the corpus. The population bound is ENFORCED in code, not
    // policy: [[semDedupCensus]] sub-chunks any cluster above
    // [[SemClusterCap]] before the self-join (a near-duplicate-heavy corpus
    // produces mega-clusters — exactly what dedup targets — and one hot cid
    // would otherwise go quadratic), and the census reports n_chunks so a
    // capped cluster is observable. Centroids come from the memoized
    // grid-snapped Lloyd loop (the q_kmeans_full artifact, paid once per
    // fixture), so the oracle replays the clustering with the same
    // recursive CTE. Policy: a member is a duplicate if ANY smaller-id
    // member of its (cluster, chunk) is within cosine >= SemTau —
    // exists-smaller-neighbor semantics, NOT true keep-first greedy (which
    // would compare only against the kept set; this over-drops transitive
    // chains, deterministically on both engines).
    // Output = per-cluster census: size, chunk count, drops, max pair cos.
    "q_semdedup" -> { (s, dir) =>
      val cents = Lloyd.runFor(s, dir, graft.kmeans.KmeansQueries.K,
        maxIter = 10, eps = 1e-6, grid = Some(7))._1
      val emb = Tables.points(s, dir)
        .withColumn("cid", Lloyd.assignCol(cents, col("coordinates")))
        .select(col("vec_id"), col("cid"),
          Vec.scale(col("coordinates"),
            lit(1.0) / greatest(Vec.norm(col("coordinates")), lit(1e-12))).as("e"))
      semDedupCensus(emb)
    },
    // NS: nearest-centroid classifier eval (Rocchio / prototype network):
    // train = per-label mean embedding, predict = argmin squared distance,
    // output = confusion matrix. Two narrow shuffles total at any corpus
    // size: the centroid agg moves dim*K partially-aggregated rows (the
    // posexplode is map-side combined), and the confusion matrix is <= K^2
    // rows; prediction itself is a broadcast of K tiny arrays against a
    // single corpus scan — nothing per-row is ever shuffled. Means are
    // rounded to 9 before scoring so both engines classify against
    // bit-identical prototypes.
    "q_centroid_classify" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("label").cast("long").as("label"), col("embedding").as("v"))
      val cents = emb.select(col("label"), posexplode(col("v")).as(Seq("dim", "x")))
        .groupBy("label", "dim").agg(avg("x").as("m"))
        .groupBy("label")
        .agg(array_sort(collect_list(struct(col("dim"), round(col("m"), 7).as("m")))).as("ms"))
        .select(col("label").as("c_label"),
          transform(col("ms"), e => e.getField("m")).as("centroid"))
      emb.crossJoin(broadcast(cents))
        .select(col("vec_id"), col("label"),
          struct(round(Vec.sqDist(col("v"), col("centroid")), 9).as("d"),
            col("c_label")).as("sc"))
        .groupBy("vec_id", "label").agg(min("sc").as("best"))
        .groupBy(col("label").as("true_label"), col("best.c_label").as("pred_label"))
        .agg(count(lit(1)).as("n"))
        .orderBy("true_label", "pred_label")
    }
  )

  def oracleSql: Map[String, String] = {
    def planesSql(lo: Int, hi: Int) = (lo until hi).map { j =>
      val arr = (0 until 64).map(d => s"${hp(j, d)}").mkString("[", ", ", "]")
      s"CASE WHEN list_dot_product(c, $arr::DOUBLE[]) > 0 THEN (CAST(1 AS BIGINT) << ${j - lo}) ELSE 0 END"
    }.mkString(" + ")

    val topkSql =
      s"""WITH ${Tables.PointsCte},
        |${Lloyd.ProbeSql}
        |SELECT t.vec_id,
        |       round(list_dot_product(t.c, probe.p) /
        |             (sqrt(list_dot_product(t.c, t.c)) * sqrt(list_dot_product(probe.p, probe.p))), 9) AS sim
        |FROM pts t CROSS JOIN probe
        |ORDER BY sim DESC, t.vec_id LIMIT 10""".stripMargin
    val annLshSql =
      s"""WITH ${Tables.PointsCte},
         |${Lloyd.ProbeSql},
         |pb AS (SELECT ${planesSql(0, NPlanes)} AS b FROM (SELECT p AS c FROM probe)),
         |bk AS (SELECT vec_id, c, ${planesSql(0, NPlanes)} AS b FROM pts)
         |SELECT bk.vec_id,
         |       round(list_dot_product(bk.c, probe.p) /
         |             (sqrt(list_dot_product(bk.c, bk.c)) * sqrt(list_dot_product(probe.p, probe.p))), 9) AS sim
         |FROM bk CROSS JOIN probe CROSS JOIN pb
         |WHERE bk.b = pb.b
         |ORDER BY sim DESC, bk.vec_id LIMIT 10""".stripMargin
    val annIvfSql =
      s"""${graft.kmeans.KmeansQueries.preludeSql},
         |${Lloyd.ProbeSql},
         |cells AS (
         |  SELECT i.cid FROM init i CROSS JOIN probe
         |  ORDER BY ${Vec.sqDistSql("i.c", "probe.p")}, i.cid
         |  LIMIT 2)
         |SELECT a.vec_id,
         |       round(list_dot_product(p.c, probe.p) /
         |             (sqrt(list_dot_product(p.c, p.c)) * sqrt(list_dot_product(probe.p, probe.p))), 9) AS sim
         |FROM assign a
         |JOIN pts p USING (vec_id)
         |CROSS JOIN probe
         |WHERE a.cid IN (SELECT cid FROM cells)
         |ORDER BY sim DESC, a.vec_id LIMIT 10""".stripMargin
    val annPqSql =
      s"""WITH ${Tables.PointsCte},
        |train AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cidx, c
        |          FROM ${Lloyd.firstSql(4)} f),
        |ms AS (SELECT unnest(range(0, 8)) AS m),
        |sub AS (SELECT t.vec_id, ms.m, tr.cidx,
        |               list_sum(list_transform(range(1, 9),
        |                 d -> (t.c[ms.m*8 + d] - tr.c[ms.m*8 + d]) *
        |                      (t.c[ms.m*8 + d] - tr.c[ms.m*8 + d]))) AS dist
        |        FROM pts t CROSS JOIN ms CROSS JOIN train tr),
        |codes AS (SELECT vec_id, m, cidx AS code FROM sub
        |          QUALIFY row_number() OVER (PARTITION BY vec_id, m ORDER BY dist, cidx) = 1),
        |${Lloyd.ProbeSql},
        |adc AS (SELECT ms.m, tr.cidx,
        |               list_sum(list_transform(range(1, 9),
        |                 d -> (probe.p[ms.m*8 + d] - tr.c[ms.m*8 + d]) *
        |                      (probe.p[ms.m*8 + d] - tr.c[ms.m*8 + d]))) AS dist
        |        FROM probe CROSS JOIN ms CROSS JOIN train tr),
        |est AS (SELECT c.vec_id,
        |               list_sum(list(a.dist ORDER BY c.m)) AS s,
        |               min(CASE WHEN c.m = 0 THEN c.code END) AS code0,
        |               min(CASE WHEN c.m = 1 THEN c.code END) AS code1
        |        FROM codes c JOIN adc a ON a.m = c.m AND a.cidx = c.code
        |        GROUP BY c.vec_id)
        |SELECT vec_id, CAST(code0 AS BIGINT) AS code0, CAST(code1 AS BIGINT) AS code1,
        |       round(sqrt(s), 6) AS adc_dist
        |FROM est ORDER BY adc_dist, vec_id LIMIT 10""".stripMargin
    Map(
      "q_topk_similar" -> topkSql,
      // rides the kmeans assignment prelude (same init cells as q_ann_ivf)
      "q_ivf_balance" ->
        s"""${graft.kmeans.KmeansQueries.preludeSql},
           |cells AS (SELECT CAST(cid AS BIGINT) AS cid, count(*) AS n_vecs
           |          FROM assign GROUP BY 1),
           |tot AS (SELECT CAST(sum(n_vecs) AS BIGINT) AS n,
           |               CAST(max(n_vecs) AS BIGINT) AS max_n,
           |               CAST(count(*) AS BIGINT) AS k FROM cells)
           |SELECT cid, CAST(n_vecs AS BIGINT) AS n_vecs,
           |       CAST(n_vecs * 1000000 // n AS BIGINT) AS share_ppm,
           |       CAST(max_n * k * 100 // n AS BIGINT) AS imbalance_x100
           |FROM cells CROSS JOIN tot ORDER BY cid""".stripMargin,
      // identical micro-unit centroid quantization + exact integer dots
      "q_embed_drift" ->
        """WITH base AS (
          |  SELECT CAST(label AS BIGINT) AS label, i AS pos,
          |         CAST(embedding[i] AS DOUBLE) AS v
          |  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)),
          |bl AS (SELECT label, pos,
          |              CAST(round(avg(v) * 1000000) AS BIGINT) AS c,
          |              CAST(count(*) AS BIGINT) AS n
          |       FROM base GROUP BY 1, 2),
          |g AS (SELECT pos, CAST(round(avg(v) * 1000000) AS BIGINT) AS g
          |      FROM base GROUP BY 1),
          |j AS (SELECT bl.label, CAST(max(bl.n) AS BIGINT) AS n_vecs,
          |             CAST(sum(bl.c * g.g) AS BIGINT) AS ab,
          |             CAST(sum(bl.c * bl.c) AS BIGINT) AS aa,
          |             CAST(sum(g.g * g.g) AS BIGINT) AS bb
          |      FROM bl JOIN g USING (pos) GROUP BY bl.label)
          |SELECT label, n_vecs,
          |       round(CAST(ab AS DOUBLE) / sqrt(CAST(aa AS DOUBLE) * CAST(bb AS DOUBLE)), 6)
          |         AS cos_to_global
          |FROM j ORDER BY label""".stripMargin,
      // same DOUBLE[] cast + dot-product fold the topk oracle validates
      "q_embed_census" ->
        """WITH t AS (SELECT CAST(label AS BIGINT) AS label,
          |                  CAST(len(embedding) AS BIGINT) AS dims,
          |                  sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
          |                                        CAST(embedding AS DOUBLE[]))) AS nrm
          |           FROM embeddings)
          |SELECT label, count(*) AS n_vecs,
          |       CAST(sum(CASE WHEN nrm < 1e-12 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
          |       min(dims) AS min_dims, max(dims) AS max_dims,
          |       round(min(nrm), 6) AS min_norm,
          |       round(max(nrm), 6) AS max_norm,
          |       round(avg(nrm), 6) AS mean_norm
          |FROM t GROUP BY label ORDER BY label""".stripMargin,
      "q_ann_lsh" -> annLshSql,
      // recall@10 of each approximate path vs the exact top-10 — the four
      // candidate pipelines verbatim as nested-WITH subqueries
      "q_ann_recall" ->
        s"""WITH ex AS (SELECT vec_id FROM ($topkSql) t0),
           |lsh AS (SELECT vec_id FROM ($annLshSql) t1),
           |ivf AS (SELECT vec_id FROM ($annIvfSql) t2),
           |pq AS (SELECT vec_id FROM ($annPqSql) t3),
           |r AS (
           |  SELECT 'ivf' AS method, CAST(10 AS BIGINT) AS k,
           |         CAST(count(*) AS BIGINT) AS n_common FROM ex JOIN ivf USING (vec_id)
           |  UNION ALL
           |  SELECT 'lsh', CAST(10 AS BIGINT), CAST(count(*) AS BIGINT) FROM ex JOIN lsh USING (vec_id)
           |  UNION ALL
           |  SELECT 'pq', CAST(10 AS BIGINT), CAST(count(*) AS BIGINT) FROM ex JOIN pq USING (vec_id))
           |SELECT method, k, n_common, round(n_common / 10.0, 2) AS recall_at_10
           |FROM r ORDER BY method""".stripMargin,
      // kNN join replay: same rounded cosine, window rank == bounded-heap
      // top-3 with (sim desc, id) ties
      "q_knn_join" ->
        s"""WITH ${Tables.PointsCte},
          |q AS (SELECT vec_id AS q_id, c AS qc FROM pts WHERE vec_id < 10),
          |s AS (SELECT q.q_id, t.vec_id AS n_id,
          |             round(list_dot_product(t.c, q.qc) /
          |                   (sqrt(list_dot_product(t.c, t.c)) * sqrt(list_dot_product(q.qc, q.qc))), 9) AS sim
          |      FROM pts t CROSS JOIN q WHERE t.vec_id <> q.q_id)
          |SELECT q_id,
          |       CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS BIGINT) AS rank,
          |       n_id, sim
          |FROM s
          |QUALIFY rank <= 3
          |ORDER BY q_id, rank""".stripMargin,
      // PQ replay: same codebooks (first 4 vectors' subvectors), same
      // (dist, code) argmin tie-break, ADC summed in m order via an ordered
      // list so the fold matches Spark's left-to-right add
      "q_ann_pq" -> annPqSql,
      "q_embed_quantize" ->
        s"""WITH ${Tables.PointsCte},
          |sc AS (SELECT vec_id, c,
          |              127.0 / greatest(list_max(list_transform(c, x -> abs(x))), 1e-12) AS scale FROM pts),
          |q AS (SELECT vec_id, c, scale,
          |             list_transform(c, x -> CAST(floor(x * scale + 0.5) AS BIGINT)) AS q FROM sc)
          |SELECT vec_id, round(scale, 9) AS scale_r, q[1] AS q0, q[2] AS q1,
          |       round(sqrt(${Vec.sqDistSql("c", "list_transform(q, v -> CAST(v AS DOUBLE) / scale)")}), 6)
          |         AS dequant_err
          |FROM q ORDER BY vec_id""".stripMargin,
      // identical in-row energy folds, slices, rounded-9 cosines, and the
      // struct_pack max replaying the packed (sim desc, id asc) argmax
      "q_mrl_trunc" ->
        s"""WITH ${Tables.PointsCte},
          |en AS (SELECT list_sum(list_transform(c, x -> x*x)) AS e_full,
          |              list_sum(list_transform(c[1:8],  x -> x*x)) AS e_8,
          |              list_sum(list_transform(c[1:16], x -> x*x)) AS e_16,
          |              list_sum(list_transform(c[1:32], x -> x*x)) AS e_32
          |       FROM pts),
          |ru AS (SELECT 8 AS d, e_8 AS e_d, e_full FROM en
          |       UNION ALL SELECT 16, e_16, e_full FROM en
          |       UNION ALL SELECT 32, e_32, e_full FROM en),
          |rt AS (SELECT CAST(d AS BIGINT) AS d,
          |              CAST(count(*) AS BIGINT) AS n_vecs,
          |              CAST(sum(CASE WHEN e_full <= 0.0e0 THEN 1000000
          |                            ELSE CAST(floor(e_d / e_full * 1000000.0e0) AS BIGINT) END) AS BIGINT) AS r_sum,
          |              CAST(min(CASE WHEN e_full <= 0.0e0 THEN 1000000
          |                            ELSE CAST(floor(e_d / e_full * 1000000.0e0) AS BIGINT) END) AS BIGINT) AS min_retained_ppm
          |       FROM ru GROUP BY 1),
          |q AS (SELECT vec_id AS q_id, c AS qc FROM pts WHERE vec_id < 5),
          |s AS (SELECT q.q_id, t.vec_id AS n_id,
          |             round(list_sum(list_transform(list_zip(t.c, q.qc), z -> z[1]*z[2])) /
          |                   greatest(sqrt(list_sum(list_transform(t.c, x -> x*x))) *
          |                            sqrt(list_sum(list_transform(q.qc, x -> x*x))), 1e-12), 9) AS sim_full,
          |             round(list_sum(list_transform(list_zip(t.c[1:8], q.qc[1:8]), z -> z[1]*z[2])) /
          |                   greatest(sqrt(list_sum(list_transform(t.c[1:8], x -> x*x))) *
          |                            sqrt(list_sum(list_transform(q.qc[1:8], x -> x*x))), 1e-12), 9) AS sim_8,
          |             round(list_sum(list_transform(list_zip(t.c[1:16], q.qc[1:16]), z -> z[1]*z[2])) /
          |                   greatest(sqrt(list_sum(list_transform(t.c[1:16], x -> x*x))) *
          |                            sqrt(list_sum(list_transform(q.qc[1:16], x -> x*x))), 1e-12), 9) AS sim_16,
          |             round(list_sum(list_transform(list_zip(t.c[1:32], q.qc[1:32]), z -> z[1]*z[2])) /
          |                   greatest(sqrt(list_sum(list_transform(t.c[1:32], x -> x*x))) *
          |                            sqrt(list_sum(list_transform(q.qc[1:32], x -> x*x))), 1e-12), 9) AS sim_32
          |      FROM pts t CROSS JOIN q WHERE t.vec_id <> q.q_id),
          |tp AS (SELECT q_id,
          |              max(struct_pack(s := sim_full, nid := -n_id)) AS t_full,
          |              max(struct_pack(s := sim_8,  nid := -n_id)) AS t_8,
          |              max(struct_pack(s := sim_16, nid := -n_id)) AS t_16,
          |              max(struct_pack(s := sim_32, nid := -n_id)) AS t_32
          |       FROM s GROUP BY q_id),
          |rc AS (SELECT 8 AS d, CAST(t_8.nid = t_full.nid AS BIGINT) AS hit FROM tp
          |       UNION ALL SELECT 16, CAST(t_16.nid = t_full.nid AS BIGINT) FROM tp
          |       UNION ALL SELECT 32, CAST(t_32.nid = t_full.nid AS BIGINT) FROM tp),
          |rca AS (SELECT CAST(d AS BIGINT) AS d, CAST(count(*) AS BIGINT) AS n_queries,
          |               CAST(sum(hit) AS BIGINT) AS recall1_hits
          |        FROM rc GROUP BY 1)
          |SELECT rt.d, r_sum // n_vecs AS mean_retained_ppm, min_retained_ppm,
          |       recall1_hits, n_queries,
          |       recall1_hits * 1000000 // n_queries AS recall1_ppm
          |FROM rt JOIN rca ON rt.d = rca.d ORDER BY rt.d""".stripMargin,
      // identical top-3 (rounded-sim rank), pair stage, micro ILD ledger
      "q_rec_diversity" ->
        s"""WITH ${Tables.PointsCte},
          |q AS (SELECT vec_id AS q_id, c AS qc FROM pts WHERE vec_id < 10),
          |s AS (SELECT q.q_id, t.vec_id AS n_id,
          |             round(list_dot_product(t.c, q.qc) /
          |                   (sqrt(list_dot_product(t.c, t.c)) * sqrt(list_dot_product(q.qc, q.qc))), 9) AS sim
          |      FROM pts t CROSS JOIN q WHERE t.vec_id <> q.q_id),
          |r AS (SELECT q_id, n_id FROM s
          |      QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) <= 3),
          |p AS (SELECT a.q_id, a.n_id, b.n_id AS m_id
          |      FROM r a JOIN r b ON a.q_id = b.q_id AND a.n_id < b.n_id),
          |pd AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs,
          |              CAST(sum(CAST(round((1.0 - list_dot_product(ta.c, tb.c) /
          |                (sqrt(list_dot_product(ta.c, ta.c)) * sqrt(list_dot_product(tb.c, tb.c))))
          |                * 1000000.0) AS BIGINT)) AS BIGINT) AS d_sum
          |       FROM p JOIN pts ta ON ta.vec_id = p.n_id JOIN pts tb ON tb.vec_id = p.m_id),
          |cen AS (SELECT CAST(count(DISTINCT q_id) AS BIGINT) AS n_queries,
          |               CAST(count(*) AS BIGINT) AS n_recs,
          |               CAST(count(DISTINCT n_id) AS BIGINT) AS n_distinct_recs
          |        FROM r),
          |co AS (SELECT CAST(count(*) AS BIGINT) AS n_corpus FROM pts)
          |SELECT n_queries, n_recs, n_distinct_recs,
          |       n_distinct_recs * 1000000 // n_corpus AS coverage_ppm,
          |       d_sum // n_pairs AS ild_micro
          |FROM cen CROSS JOIN co CROSS JOIN pd""".stripMargin,
      // identical md5-parity sign matrix (built once in a CTE) and the
      // same sequential dot fold
      "q_random_projection" ->
        s"""WITH ${Tables.PointsCte},
          |signs AS (
          |  SELECT CAST(j AS BIGINT) AS j,
          |         list_transform(range(0, 64), i ->
          |           CASE WHEN ${Hash.prefixSql("""'rp:' || CAST(i AS VARCHAR) || ':'
          |             || CAST(j AS VARCHAR)""")} % 2 = 1
          |           THEN -1.0e0 ELSE 1.0e0 END) AS svec
          |  FROM (SELECT unnest(range(0, 8)) AS j))
          |SELECT t.vec_id, s.j,
          |       CAST(round(list_sum(list_transform(list_zip(t.c, s.svec),
          |         z -> z[1] * z[2])) * 1000.0) AS BIGINT) AS y_milli
          |FROM pts t CROSS JOIN signs s
          |ORDER BY vec_id, j""".stripMargin,
      "q_ann_ivf" -> annIvfSql,
      // mirrors the Spark plan exactly: normalize first, level-1 bucket,
      // refine over-populated buckets with planes 8..15, single dot residual
      "q_dedup_embed" ->
        s"""WITH ${Tables.PointsCte},
           |bkt AS (SELECT vec_id,
           |               list_transform(c, x -> x * (1.0 / greatest(sqrt(list_dot_product(c, c)), 1e-12))) AS e,
           |               ${planesSql(0, NPlanes)} AS b8,
           |               ${planesSql(NPlanes, 2 * NPlanes)} AS ext8 FROM pts),
           |keyed AS (SELECT vec_id, e, b8,
           |                 CASE WHEN count(*) OVER (PARTITION BY b8) > $RefineCap
           |                      THEN ext8 ELSE 0 END AS ext
           |          FROM bkt)
           |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           |       round(list_dot_product(a.e, b.e), 9) AS cos
           |FROM keyed a JOIN keyed b ON a.b8 = b.b8 AND a.ext = b.ext AND a.vec_id < b.vec_id
           |WHERE round(list_dot_product(a.e, b.e), 9) >= 0.5
           |ORDER BY id_a, id_b""".stripMargin,
      // SemDeDup replay: converged centroids from the shared recursive
      // Lloyd CTE, final assignment with the (d2, cid) tie-break, the same
      // normalize spelling as q_dedup_embed, within-(cluster, chunk) pairs
      // only — the chunk arithmetic (ceil-div via integer //, vec_id % on
      // non-negative ids) replays semDedupCensus exactly
      "q_semdedup" ->
        s"""${graft.ml.MLQueries.lloydRecursiveCte},
           |fasg AS (${Lloyd.nearestSql("fin")}),
           |cen AS (SELECT cid, count(*) AS n,
           |               CAST((count(*) + ${SemClusterCap - 1}) // $SemClusterCap AS BIGINT) AS n_chunks
           |        FROM fasg GROUP BY cid),
           |nrm AS (SELECT a.vec_id, a.cid, a.vec_id % c2.n_chunks AS chunk,
           |               list_transform(p.c, x -> x * (1.0 / greatest(sqrt(list_dot_product(p.c, p.c)), 1e-12))) AS e
           |        FROM fasg a JOIN pts p USING (vec_id) JOIN cen c2 USING (cid)),
           |pairs AS (SELECT x.cid, y.vec_id AS id_b,
           |                 round(list_dot_product(x.e, y.e), 9) AS cos
           |          FROM nrm x JOIN nrm y
           |            ON x.cid = y.cid AND x.chunk = y.chunk AND x.vec_id < y.vec_id),
           |ps AS (SELECT cid, max(cos) AS max_cos,
           |              count(DISTINCT CASE WHEN cos >= $SemTau THEN id_b END) AS n_dup
           |       FROM pairs GROUP BY cid)
           |SELECT cen.cid, cen.n, cen.n_chunks,
           |       CAST(coalesce(ps.n_dup, 0) AS BIGINT) AS n_dup,
           |       coalesce(ps.max_cos, 0.0) + 0.0 AS max_cos
           |FROM cen LEFT JOIN ps USING (cid)
           |ORDER BY cen.cid""".stripMargin,
      // same rounded-mean prototypes; argmin replayed as the row_number
      // pattern with (d, c_label) tie order == Spark's min(struct)
      "q_centroid_classify" ->
        s"""WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
          |                  CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          |d AS (SELECT label, u.i AS dim, avg(v[u.i]) AS m
          |      FROM e, UNNEST(generate_series(1, len(v))) AS u(i) GROUP BY 1, 2),
          |c AS (SELECT label AS c_label, list(round(m, 7) ORDER BY dim) AS centroid
          |      FROM d GROUP BY 1),
          |s AS (SELECT e.vec_id, e.label, c.c_label,
          |             row_number() OVER (PARTITION BY e.vec_id ORDER BY
          |               round(${Vec.sqDistSql("e.v", "c.centroid")}, 9), c.c_label) AS rn
          |      FROM e CROSS JOIN c)
          |SELECT label AS true_label, c_label AS pred_label, count(*) AS n
          |FROM s WHERE rn = 1 GROUP BY 1, 2 ORDER BY true_label, pred_label""".stripMargin
    )
  }
}
