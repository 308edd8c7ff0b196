package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Hash, Tables}

/** Graph analytics over the corpus word-adjacency graph (north-star
  * surface; complements [[TextDedup.connectedComponents]]'s fixpoint
  * labeling with a weighted iterative rank): nodes = words, edge w1→w2
  * weighted by adjacent-occurrence count.
  *
  * Scale notes: the edge list shuffles once on (w1, w2) to build weights;
  * each PageRank iteration is one join of the (node, rank) frame onto the
  * edge list + one aggregate on the destination key — the canonical
  * "rank joins edges, contributions shuffle on dst" dataflow. Iterations
  * are unrolled (fixed 2) so the whole computation is ONE declarative plan
  * Catalyst can see end-to-end; an open-ended fixpoint with checkpointed
  * rounds is [[TextDedup.connectedComponents]]'s job. The vocabulary
  * (node set) is tiny relative to the corpus at any scale, so rank frames
  * broadcast, but the code keeps shuffle joins: at 100 TB the node set of a
  * general graph does NOT fit one executor, and this shape survives that.
  */
object GraphQueries extends graft.SparkEntry.Module {

  /** Damping factor (the standard 0.85). */
  val D = 0.85

  /** Unrolled iteration count. */
  val Iters = 2

  /** Wedge-center degree cap for q_graph_jaccard: a center of degree d
    * emits C(d,2) pairs, so hubs are excluded from enumeration (the
    * TextDedup bucket-cap discipline — common counts undercount
    * hub-mediated pairs, deterministically, rather than blowing up).
    */
  val JaccardHubCap = 64

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // NS: bipartite projection — collapse the user × event-type incidence
    // graph onto the type side: co-engagement counts + cosine affinity
    // cos(a,b) = |U_a ∩ U_b| / √(|U_a|·|U_b|), the one-mode projection
    // every recommender/affinity analysis starts from. The pair blowup is
    // C(k,2) per user where k ≤ the TYPE DOMAIN (5), a per-group bound
    // independent of corpus size (the market-basket argument) — users
    // never cross-join each other; degrees are a 5-row broadcast. The
    // affinity forms in DOUBLE floored to ppm (exact cross-mult would
    // need √ anyway) over exact integer counts.
    "q_bipartite_projection" -> { (s, dir) =>
      val inc = Tables.events(s, dir)
        .select(col("user_id"), col("event_type").as("t")).distinct()
      val deg = inc.groupBy("t").agg(count(lit(1)).as("d"))
      val pairs = inc.join(inc.select(col("user_id"), col("t").as("t2")), "user_id")
        .filter(col("t") < col("t2"))
        .groupBy(col("t").as("t_a"), col("t2").as("t_b"))
        .agg(count(lit(1)).as("co_users"))
      pairs
        .join(broadcast(deg.select(col("t").as("t_a"), col("d").as("d_a"))), "t_a")
        .join(broadcast(deg.select(col("t").as("t_b"), col("d").as("d_b"))), "t_b")
        .select(col("t_a"), col("t_b"), col("co_users"), col("d_a"), col("d_b"),
          expr("CAST(floor(CAST(co_users AS DOUBLE) * 1000000.0 / " +
            "(sqrt(CAST(d_a AS DOUBLE)) * sqrt(CAST(d_b AS DOUBLE)))) AS BIGINT)")
            .as("cosine_ppm"))
        .orderBy("t_a", "t_b")
    },

    // NS: PageRank, 2 unrolled iterations, on the bigram word graph.
    // Dangling mass (words that only end bigrams) is dropped, the standard
    // simplification, mirrored exactly by the oracle's unrolled CTE chain.
    "q_pagerank" -> { (s, dir) =>
      val ws = split(col("text"), " ")
      val bigrams = when(size(col("ws")) >= 2,
        transform(sequence(lit(1), size(col("ws")) - 1),
          i => struct(element_at(col("ws"), i).as("w1"), element_at(col("ws"), i + 1).as("w2"))))
        .otherwise(array().cast("array<struct<w1:string,w2:string>>"))
      val edges = Tables.documents(s, dir)
        .select(ws.as("ws"))
        .select(explode(bigrams).as("b"))
        .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
        .groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      val nodes = edges.select(col("w1").as("word"))
        .union(edges.select(col("w2").as("word"))).distinct()
      val total = nodes.agg(count(lit(1)).cast("double").as("n_nodes"))
      val outw = edges.groupBy("w1").agg(sum("c12").cast("double").as("wout"))
      val pr0 = nodes.crossJoin(broadcast(total))
        .select(col("word"), (lit(1.0) / col("n_nodes")).as("pr"))
      def step(pr: DataFrame): DataFrame = {
        val contrib = edges.join(outw, "w1")
          .join(pr.withColumnRenamed("word", "w1"), "w1")
          .select(col("w2").as("word"), (col("pr") * col("c12") / col("wout")).as("m"))
          .groupBy("word").agg(sum("m").as("m"))
        nodes.crossJoin(broadcast(total))
          .join(contrib, Seq("word"), "left_outer")
          .select(col("word"),
            (lit(1.0 - D) / col("n_nodes") + lit(D) * coalesce(col("m"), lit(0.0))).as("pr"))
      }
      val ranked = (1 to Iters).foldLeft(pr0)((pr, _) => step(pr))
      ranked.select(col("word"), round(col("pr"), 6).as("pagerank"))
        .orderBy("word")
    },

    // NS: bounded-hop BFS through the SQL front door — WITH RECURSIVE over
    // a JOIN (q_sql_recursive's spine recursion generalized to graph
    // traversal): hop-distance census of the ≤2-hop out-neighborhood of
    // the highest-frequency word in the bigram graph, min-hop per node
    // read off after the loop. The recursion is UNION ALL, so intermediate
    // rows are PATHS, not nodes — bounded here by out-degree(seed)·avg-out
    // (the literal hop cap is the guard, stated not assumed); an UNBOUNDED
    // reachability/BFS at 100 TB is NOT this query — it is the
    // checkpointed min-label fixpoint (TextDedup.connectedComponents),
    // which dedupes per round. This entry pins the SQL surface: recursive
    // self-reference through a join, cycle-safe via the hop bound.
    "q_graph_bfs" -> { (s, dir) =>
      val ws = split(col("text"), " ")
      val bigrams = when(size(col("ws")) >= 2,
        transform(sequence(lit(1), size(col("ws")) - 1),
          i => struct(element_at(col("ws"), i).as("w1"), element_at(col("ws"), i + 1).as("w2"))))
        .otherwise(array().cast("array<struct<w1:string,w2:string>>"))
      // the recursive loop re-evaluates every CTE it references ONCE PER
      // HOP — materialize the vocabulary-sized distinct edge list and the
      // 1-row seed up front (localCheckpoint), so each hop joins a cached
      // tiny frame instead of replaying the corpus bigram explode +
      // distinct per hop. Residual cost (~1.6 s warm at sf0.1) is the
      // UnionLoop per-iteration job floor — the same class as the CC
      // fixpoint's per-round floor, independent of data volume.
      val pairs = Tables.documents(s, dir)
        .select(ws.as("ws")).select(explode(bigrams).as("b"))
        .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
      pairs.distinct().localCheckpoint(eager = false).createOrReplaceTempView("bfs_edges_v")
      pairs.groupBy("w1").agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("w1")).limit(1)
        .select(col("w1").as("word"))
        .localCheckpoint(eager = false).createOrReplaceTempView("bfs_seed_v")
      s.sql("""WITH RECURSIVE
              |bfs(word, hop) AS (
              |  SELECT word, 0 AS hop FROM bfs_seed_v
              |  UNION ALL
              |  SELECT e.w2, b.hop + 1
              |  FROM bfs b JOIN bfs_edges_v e ON e.w1 = b.word
              |  WHERE b.hop < 2
              |),
              |dist AS (SELECT word, min(hop) AS hop FROM bfs GROUP BY word)
              |SELECT hop, count(*) AS n_nodes
              |FROM dist GROUP BY hop ORDER BY hop""".stripMargin)
    },

    // NS: link-prediction similarity over the word-adjacency graph —
    // degree-capped common-neighbor scores: Jaccard (|N∩N| / |N∪N|, integer
    // ppm) and Adamic–Adar (Σ_centers 1/ln(deg), the hub-discounting
    // refinement) for the top-20 word pairs. The wedge enumeration is the
    // scale-critical part: pairs are generated per CENTER from its
    // neighbor list, so cost is Σ C(deg, 2) — and centers above
    // [[JaccardHubCap]] are excluded BEFORE the self-join (the
    // TextDedup bucket-cap discipline: a hub of degree d would alone emit
    // d²/2 wedges; capped enumeration undercounts `common` for hub-mediated
    // pairs, deterministically, and full degrees still anchor the
    // denominator). Adamic–Adar weights are per-center integers
    // (round(1e4/ln d)) so the wedge sum is reorder-proof; ordering is
    // total via (score, pair), ending in TakeOrdered. This fixture's word
    // graph is nearly complete (31 nodes) — the cap is exercised by the
    // spec's planted hub, not the fixture.
    "q_graph_jaccard" -> { (s, dir) =>
      val ws = split(col("text"), " ")
      val bigrams = when(size(col("ws")) >= 2,
        transform(sequence(lit(1), size(col("ws")) - 1),
          i => struct(element_at(col("ws"), i).as("w1"), element_at(col("ws"), i + 1).as("w2"))))
        .otherwise(array().cast("array<struct<w1:string,w2:string>>"))
      val e = Tables.documents(s, dir)
        .select(ws.as("ws")).select(explode(bigrams).as("b"))
        .select(col("b.w1").as("w1"), col("b.w2").as("w2")).distinct()
      val adj = e.select(col("w1").as("c"), col("w2").as("n"))
        .union(e.select(col("w2").as("c"), col("w1").as("n")))
        .filter(col("c") =!= col("n")).distinct()
      val deg = adj.groupBy("c").agg(count(lit(1)).as("d"))
      // d >= 2: degree-1 centers close no wedge, and excluding them keeps
      // 1/ln(d) finite (ANSI mode would reject casting ln(1)=0's infinity)
      val capped = adj.join(
        deg.filter(col("d") >= 2 && col("d") <= lit(JaccardHubCap))
          .select(col("c"), expr("CAST(round(10000 / ln(d)) AS BIGINT)").as("aaw")),
        "c")
      val pairs = capped.as("x").join(capped.as("y"), "c")
        .filter(col("x.n") < col("y.n"))
        .select(col("x.n").as("wa"), col("y.n").as("wb"), col("x.aaw").as("aaw"))
        .groupBy("wa", "wb")
        .agg(count(lit(1)).as("common"), sum("aaw").as("aa_x1e4"))
      pairs
        .join(deg.select(col("c").as("wa"), col("d").as("da")), "wa")
        .join(deg.select(col("c").as("wb"), col("d").as("db")), "wb")
        .select(col("wa"), col("wb"), col("common"), col("da"), col("db"),
          expr("common * 1000000 DIV (da + db - common)").as("jac_ppm"),
          col("aa_x1e4"))
        .orderBy(col("jac_ppm").desc, col("wa"), col("wb"))
        .limit(20)
    },

    // NS: triangle counting over the simhash near-dup graph — the density
    // diagnostic of a dedup edge set (many triangles = tight duplicate
    // clusters; closure near 0 = chains/noise). Uses the degree-ordering
    // algorithm that survives skew at scale: edges are oriented from the
    // (degree, id)-smaller endpoint, so a hub vertex of degree d generates
    // wedges only from its LOW-degree neighbors — the classic O(m^1.5)
    // bound instead of sum(d^2) on the raw adjacency. One shuffle builds
    // degrees, one self-join makes oriented wedges, one equi-join closes
    // them against the (a<b-canonical) edge list.
    "q_graph_triangles" -> { (s, dir) =>
      // memoized edge artifact (simhashPairsFor) — already materialized,
      // feeds degrees, wedges, and closure without re-banding
      val edges = TextQueries.simhashPairsFor(s, dir)
        .select(col("doc_a").as("a"), col("doc_b").as("b"))
      // NOTE: deg/oriented/wedges are deliberately NOT checkpointed —
      // measured at sf0.1, materializing them costs more than the
      // recomputation they save (2.1 s vs 1.2 s warm); the memoized edge
      // frame is the only reuse worth paying for here.
      val deg = edges.select(col("a").as("v"))
        .union(edges.select(col("b").as("v")))
        .groupBy("v").agg(count(lit(1)).as("d"))
      val oriented = edges
        .join(deg.select(col("v").as("a"), col("d").as("da")), "a")
        .join(deg.select(col("v").as("b"), col("d").as("db")), "b")
        .select(
          when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
            col("a")).otherwise(col("b")).as("src"),
          when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
            col("b")).otherwise(col("a")).as("dst"))
      val wedges = oriented.select(col("src"), col("dst").as("y"))
        .join(oriented.select(col("src"), col("dst").as("z")), "src")
        .filter(col("y") < col("z"))
      val tri = wedges.join(edges, col("y") === col("a") && col("z") === col("b"))
      deg.agg(count(lit(1)).as("n_nodes")).crossJoin(
        edges.agg(count(lit(1)).as("n_edges"))).crossJoin(
        wedges.agg(count(lit(1)).as("n_wedges"))).crossJoin(
        tri.agg(count(lit(1)).as("n_triangles")))
        .select(col("n_nodes"), col("n_edges"), col("n_wedges"), col("n_triangles"),
          round(col("n_triangles").cast("double") /
            greatest(col("n_wedges"), lit(1L)).cast("double"), 6).as("closure"))
    },

    // NS: degree-distribution census over the near-dup graph — the graph
    // health read a dedup run publishes (a power-law tail of hub docs =
    // template families; max degree bounds the worst CC/triangle task).
    // Same bounded-histogram double collapse as q_skew_census: edges →
    // per-node degree (first shuffle) → (degree → n_nodes) histogram
    // (distinct degrees, bounded) → exact integer census columns.
    // NS: directed reciprocity of the bigram word digraph — "does A→B
    // imply B→A?", the one-number directionality grade beside
    // assortativity and the degree census (language is strongly
    // directional; a reciprocity collapse/spike flags templated or
    // shuffled text). Distinct self-loop-free edges, the reverse test is
    // ONE equi-join of the vocab-bounded edge frame against its swapped
    // self (never the corpus), exact integer ppm.
    "q_graph_reciprocity" -> { (s, dir) =>
      val ws = split(col("text"), " ")
      val bigrams = when(size(col("ws")) >= 2,
        transform(sequence(lit(1), size(col("ws")) - 1),
          i => struct(element_at(col("ws"), i).as("w1"), element_at(col("ws"), i + 1).as("w2"))))
        .otherwise(array().cast("array<struct<w1:string,w2:string>>"))
      val e = Tables.documents(s, dir)
        .select(ws.as("ws")).select(explode(bigrams).as("b"))
        .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
        .filter(col("w1") =!= col("w2")).distinct()
        .localCheckpoint(eager = false) // vocab²-bounded edge frame; probed against itself
      val recip = e.join(e.select(col("w2").as("w1"), col("w1").as("w2")), Seq("w1", "w2"))
      e.agg(count(lit(1)).as("n_edges"))
        .crossJoin(broadcast(recip.agg(count(lit(1)).as("n_recip"))))
        .select(col("n_edges"), col("n_recip"),
          expr("n_recip DIV 2").as("n_mutual_pairs"),
          expr("n_recip * 1000000 DIV n_edges").as("reciprocity_ppm"))
    },

    "q_degree_census" -> { (s, dir) =>
      val edges = TextQueries.simhashPairsFor(s, dir)
        .select(col("doc_a").as("a"), col("doc_b").as("b"))
      val deg = edges.select(col("a").as("v"))
        .union(edges.select(col("b").as("v")))
        .groupBy("v").agg(count(lit(1)).as("d"))
      val tot = deg.agg(count(lit(1)).as("n_nodes"), max("d").as("max_d"),
        sum("d").as("sum_d"))
      deg.groupBy("d").agg(count(lit(1)).as("n_nodes_at_d"))
        .crossJoin(broadcast(tot))
        .select(col("d"), col("n_nodes_at_d"), col("n_nodes"), col("max_d"),
          expr("sum_d DIV 2").as("n_edges"))
        .orderBy("d")
    },

    // NS: one semi-supervised label-propagation round over the near-dup
    // doc graph — the scalable transfer of a SPARSE trusted annotation
    // (here: a hash-chosen 10% of docs seed their `source` as the label)
    // to unlabeled neighbors, graded against ground truth. One round is
    // one join (edges x seed labels) + one (node, label) count aggregate
    // + one bounded rank — the exact dataflow an N-round LP would
    // checkpoint per round at 100 TB (the CC-fixpoint discipline); ties
    // break to the lexicographically smallest label so the round is
    // deterministic. Census per label: seeds, adopters, and how many
    // adopters actually match their true source (the eval a
    // model-assisted-labeling pipeline publishes before trusting LP).
    "q_label_prop" -> { (s, dir) =>
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("source"))
      val seeds = docs
        .filter(pmod(Hash.prefix(concat(lit("lps:"), col("doc_id"))), lit(10)) === 0)
        .select(col("doc_id").as("b"), col("source").as("lbl"))
        .localCheckpoint(eager = false)
      val e = TextQueries.simhashPairsFor(s, dir)
        .select(col("doc_a").as("a"), col("doc_b").as("b"))
      val und = e.union(e.select(col("b").as("a"), col("a").as("b")))
      val votes = und.join(seeds, "b")
        .join(seeds.select(col("b").as("a")), Seq("a"), "left_anti")
        .groupBy(col("a").as("doc_id"), col("lbl"))
        .agg(count(lit(1)).as("n_votes"))
      val adopted = votes
        .withColumn("rk", row_number().over(
          Window.partitionBy("doc_id").orderBy(col("n_votes").desc, col("lbl"))))
        .filter(col("rk") === 1)
        .join(docs, "doc_id")
        .select(col("lbl"), col("doc_id"),
          (col("source") === col("lbl")).cast("long").as("correct"))
      val seedCensus = seeds.groupBy(col("lbl").as("label"))
        .agg(count(lit(1)).as("n_seed"))
        .withColumn("n_adopted", lit(0L)).withColumn("n_correct", lit(0L))
      val adoptCensus = adopted.groupBy(col("lbl").as("label"))
        .agg(count(lit(1)).as("n_adopted"), sum("correct").as("n_correct"))
        .withColumn("n_seed", lit(0L))
      val unreached = docs
        .join(seeds.select(col("b").as("doc_id")), Seq("doc_id"), "left_anti")
        .join(adopted.select("doc_id"), Seq("doc_id"), "left_anti")
        .agg(count(lit(1)).as("n_adopted"))
        .select(lit("(unreached)").as("label"), lit(0L).as("n_seed"),
          col("n_adopted"), lit(0L).as("n_correct"))
      seedCensus.unionByName(adoptCensus).unionByName(unreached)
        .groupBy("label")
        .agg(sum("n_seed").as("n_seed"), sum("n_adopted").as("n_adopted"),
          sum("n_correct").as("n_correct"))
        .orderBy("label")
    },

    // NS: k-core peeling (k=3, two unrolled rounds) over the near-dup doc
    // graph — the standard "is this duplicate cluster structural or
    // incidental" density filter: nodes of degree < k are removed and
    // degrees recomputed on the induced subgraph. Each round is one
    // degree aggregate + two semi joins on the edge key — the
    // checkpoint-per-round shape of the full fixpoint, unrolled to 2 so
    // the whole computation is one declarative plan. The census (nodes /
    // edges surviving each peel) is the convergence telemetry the full
    // peeler would emit per round.
    "q_kcore" -> { (s, dir) =>
      val K = 3L
      val e0 = TextQueries.simhashPairsFor(s, dir)
        .select(col("doc_a").as("a"), col("doc_b").as("b"))
        .localCheckpoint(eager = false)
      def degrees(e: DataFrame): DataFrame =
        e.select(col("a").as("v")).union(e.select(col("b").as("v")))
          .groupBy("v").agg(count(lit(1)).as("d"))
      def peel(e: DataFrame): DataFrame = {
        val keep = degrees(e).filter(col("d") >= K).select("v")
        e.join(keep.select(col("v").as("a")), "a")
          .join(keep.select(col("v").as("b")), "b")
          .select("a", "b")
      }
      val e1 = peel(e0).localCheckpoint(eager = false)
      val e2 = peel(e1).localCheckpoint(eager = false)
      def census(e: DataFrame, tag: String): DataFrame =
        e.select(col("a").as("v")).union(e.select(col("b").as("v")))
          .agg(countDistinct("v").as(s"n_$tag"),
            expr("CAST(count(1) DIV 2 AS BIGINT)").as(s"m_$tag"))
      census(e0, "r0").crossJoin(census(e1, "r1")).crossJoin(census(e2, "r2"))
    },

    // NS: HITS hubs & authorities (Kleinberg), 1.5 unrolled sweeps on the
    // weighted bigram digraph — PageRank's bipartite-mutual-reinforcement
    // sibling (a page is a good hub if it points at good authorities, and
    // vice versa). EXACT in integers: authority/hub masses are BIGINT
    // c12-weighted sums, re-normalized to a 1e6 grid against the
    // broadcast max after every propagation (a1 → h1 → a2), so no float
    // recurrence exists and BIGINT never overflows (mass <= Σc12 · 1e6 ≈
    // 5e12 at the 10x stress scale). Each propagation is one
    // vocab-bounded join + one destination-key aggregate — the PageRank
    // dataflow with the rank frame swapped per direction. Top-10 per role
    // with total (score, word) tie-break.
    "q_hits_rank" -> { (s, dir) =>
      val ws = split(col("text"), " ")
      val bigrams = when(size(col("ws")) >= 2,
        transform(sequence(lit(1), size(col("ws")) - 1),
          i => struct(element_at(col("ws"), i).as("w1"), element_at(col("ws"), i + 1).as("w2"))))
        .otherwise(array().cast("array<struct<w1:string,w2:string>>"))
      val edges = Tables.documents(s, dir)
        .select(ws.as("ws")).select(explode(bigrams).as("b"))
        .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
        .groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
        .localCheckpoint(eager = false) // vocab-bounded; feeds all three propagations
      def norm(df: DataFrame, c: String): DataFrame =
        df.crossJoin(broadcast(df.agg(max(c).as("mx"))))
          .select(col("word"), expr(s"$c * 1000000 DIV mx").as("score_x1e6"))
      val a1 = edges.groupBy(col("w2").as("word")).agg(sum("c12").as("a"))
      val a1n = norm(a1, "a")
      val h1 = edges.join(a1n.withColumnRenamed("word", "w2"), "w2")
        .groupBy(col("w1").as("word")).agg(sum(expr("c12 * score_x1e6")).as("h"))
      val h1n = norm(h1, "h").localCheckpoint(eager = false) // reused: a2 propagation + hub top-10
      val a2 = edges.join(h1n.withColumnRenamed("word", "w1"), "w1")
        .groupBy(col("w2").as("word")).agg(sum(expr("c12 * score_x1e6")).as("a"))
      val a2n = norm(a2, "a")
      // TakeOrdered-first (the q_bm25 pattern): the distributed limit
      // bounds the word-score frame to 10 rows before the rank window
      def top(df: DataFrame, role: String): DataFrame =
        df.orderBy(col("score_x1e6").desc, col("word")).limit(10)
          .withColumn("rk", row_number().over(
            Window.orderBy(col("score_x1e6").desc, col("word"))))
          .select(lit(role).as("role"), col("rk"), col("word"), col("score_x1e6"))
      top(a2n, "auth").unionByName(top(h1n, "hub")).orderBy("role", "rk")
    },

    // NS: Newman modularity of the source partition on the near-dup doc
    // graph — "do duplicates cluster within sources or leak across
    // them?", the one-number grade of any community assignment (here the
    // `source` column; the same query grades label-prop or CC output).
    // EXACT: Q = Σ_c (m_c/m − (d_c/2m)²) is computed as ONE integer sum
    // Σ_c (4·m·m_c − d_c²) over the single denominator 4m², then a SINGLE
    // IEEE division rounded 6dp — never a float sum over communities, so
    // no accumulation order exists, and both operands stay below 2^53
    // (4m² ≈ 2.9e14 at the 10x stress edge count) so the doubles are the
    // exact integers. Dataflow: two id-keyed
    // community lookups on the edge list, one community aggregate, one
    // degree aggregate — everything after is arithmetic on <= |sources|
    // rows.
    "q_graph_modularity" -> { (s, dir) =>
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("source"))
      val e = TextQueries.simhashPairsFor(s, dir)
        .select(col("doc_a").as("a"), col("doc_b").as("b"))
        .join(docs.select(col("doc_id").as("a"), col("source").as("ca")), "a")
        .join(docs.select(col("doc_id").as("b"), col("source").as("cb")), "b")
        .localCheckpoint(eager = false) // feeds m, m_c and d_c
      val m = e.agg(count(lit(1)).as("m"))
      val mc = e.filter(col("ca") === col("cb"))
        .groupBy(col("ca").as("community")).agg(count(lit(1)).as("m_c"))
      val dc = e.select(col("ca").as("community"))
        .union(e.select(col("cb").as("community")))
        .groupBy("community").agg(count(lit(1)).as("d_c"))
      val terms = dc.join(mc, Seq("community"), "left_outer")
        .na.fill(0L, Seq("m_c"))
        .crossJoin(broadcast(m))
        .select(col("community"), col("m_c"), col("d_c"), col("m"),
          (lit(4L) * col("m") * col("m_c") - col("d_c") * col("d_c")).as("num"))
      terms.agg(count(lit(1)).as("n_communities"),
          sum("num").as("num"), max("m").as("m"))
        .select(col("n_communities"), col("m").as("n_edges"),
          round(col("num").cast("double") /
            (lit(4.0) * col("m").cast("double") * col("m").cast("double")), 6)
            .as("q_mod"))
    },

    // NS: degree assortativity (Newman's r) of the near-dup graph — do
    // high-degree nodes attach to each other (a template blob) or to
    // leaves (hub-and-spoke boilerplate)? Pearson correlation of endpoint
    // degrees over the edge list read in BOTH orientations (the standard
    // undirected convention, which also makes Σx = Σy so only one moment
    // set is needed). Degrees come from one edge aggregate; the edge list
    // joins its two endpoint degrees (graph-scale joins, the
    // q_graph_jaccard shape); the correlation is a fixed IEEE tree over
    // EXACT BIGINT sufficient stats (deg ≤ nodes, Σxy ≤ m·deg² bounded
    // through stress), rounded 6dp; a zero-variance (regular) graph pins
    // r to 0 on both engines.
    "q_assortativity" -> { (s, dir) =>
      val e = TextQueries.simhashPairsFor(s, dir)
        .select(col("doc_a").as("a"), col("doc_b").as("b"))
        .localCheckpoint(eager = false) // feeds the degree agg and the orientation union
      val deg = e.select(col("a").as("v")).union(e.select(col("b").as("v")))
        .groupBy("v").agg(count(lit(1)).as("deg"))
      val both = e.select(col("a"), col("b"))
        .unionByName(e.select(col("b").as("a"), col("a").as("b")))
        .join(deg.select(col("v").as("a"), col("deg").as("dx")), "a")
        .join(deg.select(col("v").as("b"), col("deg").as("dy")), "b")
      val stats = both.agg(count(lit(1)).as("n"),
        sum("dx").as("sx"), sum(col("dx") * col("dx")).as("sxx"),
        sum(col("dx") * col("dy")).as("sxy"))
      def d(c: String) = col(c).cast("double")
      val num = d("n") * d("sxy") - d("sx") * d("sx")
      val den = d("n") * d("sxx") - d("sx") * d("sx")
      stats
        .crossJoin(broadcast(deg.agg(count(lit(1)).as("n_nodes"))))
        .select(expr("n DIV 2").as("n_edges"), col("n_nodes"),
          expr("sx * 1000 DIV n").as("mean_deg_milli"),
          when(den === 0.0, lit(0.0)).otherwise(round(num / den, 6) + lit(0.0))
            .as("r_assort"))
    },

    // NS: conductance of the source partition — q_graph_modularity's cut
    // sibling (modularity rewards internal density; conductance measures
    // the CUT: phi(S) = cut(S) / min(vol(S), 2m − vol(S)), low = a
    // well-separated community): per community, volume (degree mass) and
    // cut-edge count from ONE labeled-edge aggregate each, phi a single
    // IEEE division over exact BIGINTs rounded 6dp. The same
    // two-id-lookup + bounded-aggregate dataflow as modularity.
    "q_conductance" -> { (s, dir) =>
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("source"))
      val e = TextQueries.simhashPairsFor(s, dir)
        .select(col("doc_a").as("a"), col("doc_b").as("b"))
        .join(docs.select(col("doc_id").as("a"), col("source").as("ca")), "a")
        .join(docs.select(col("doc_id").as("b"), col("source").as("cb")), "b")
        .localCheckpoint(eager = false) // feeds m, vol and cut
      val m = e.agg(count(lit(1)).as("m"))
      val vol = e.select(col("ca").as("community"))
        .union(e.select(col("cb").as("community")))
        .groupBy("community").agg(count(lit(1)).as("vol"))
      val cut = e.filter(col("ca") =!= col("cb"))
        .select(explode(array(col("ca"), col("cb"))).as("community"))
        .groupBy("community").agg(count(lit(1)).as("cut"))
      vol.join(cut, Seq("community"), "left_outer")
        .na.fill(0L, Seq("cut"))
        .crossJoin(broadcast(m))
        .select(col("community"), col("vol"), col("cut"),
          when(least(col("vol"), lit(2L) * col("m") - col("vol")) === 0, lit(0.0))
            .otherwise(round(col("cut").cast("double") /
              least(col("vol"), lit(2L) * col("m") - col("vol")).cast("double"), 6)
              + lit(0.0))
            .as("phi"))
        .orderBy("community")
    }
  )

  def oracleSql: Map[String, String] = {
    // one unrolled iteration: contributions on dst + damped recombine
    def iter(prev: String, c: String, next: String): String =
      s"""$c AS (SELECT e.w2 AS word, sum(p.pr * e.c12 / ow.wout) AS m
         |       FROM e JOIN ow USING (w1) JOIN $prev p ON p.word = e.w1
         |       GROUP BY e.w2),
         |$next AS (SELECT n.word, ${1.0 - D} / t.n + $D * coalesce($c.m, 0.0) AS pr
         |          FROM nodes n CROSS JOIN t LEFT JOIN $c ON $c.word = n.word)""".stripMargin

    Map(
      // identical distinct loop-free edges and the swapped-self equi-join
      "q_graph_reciprocity" ->
        """WITH w AS (SELECT string_split(text, ' ') AS ws FROM documents),
          |bg AS (SELECT unnest(list_transform(range(1, len(ws)),
          |              i -> struct_pack(w1 := ws[i], w2 := ws[i+1]))) AS b FROM w),
          |e AS (SELECT DISTINCT b.w1 AS w1, b.w2 AS w2 FROM bg WHERE b.w1 <> b.w2),
          |r AS (SELECT CAST(count(*) AS BIGINT) AS n_recip
          |      FROM e a JOIN e b ON a.w1 = b.w2 AND a.w2 = b.w1),
          |n AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM e)
          |SELECT n_edges, n_recip, n_recip // 2 AS n_mutual_pairs,
          |       n_recip * 1000000 // n_edges AS reciprocity_ppm
          |FROM n CROSS JOIN r""".stripMargin,
      // identical incidence dedup, bounded pair census, DOUBLE-floored ppm
      "q_bipartite_projection" ->
        """WITH inc AS (SELECT DISTINCT user_id, event_type AS t FROM events),
          |deg AS (SELECT t, CAST(count(*) AS BIGINT) AS d FROM inc GROUP BY 1),
          |pairs AS (
          |  SELECT a.t AS t_a, b.t AS t_b, CAST(count(*) AS BIGINT) AS co_users
          |  FROM inc a JOIN inc b ON a.user_id = b.user_id AND a.t < b.t
          |  GROUP BY 1, 2)
          |SELECT p.t_a, p.t_b, p.co_users, da.d AS d_a, db.d AS d_b,
          |       CAST(floor(CAST(p.co_users AS DOUBLE) * 1000000.0
          |         / (sqrt(CAST(da.d AS DOUBLE)) * sqrt(CAST(db.d AS DOUBLE)))) AS BIGINT)
          |         AS cosine_ppm
          |FROM pairs p JOIN deg da ON da.t = p.t_a JOIN deg db ON db.t = p.t_b
          |ORDER BY t_a, t_b""".stripMargin,
      "q_graph_bfs" ->
        """WITH RECURSIVE
          |w AS (SELECT string_split(text, ' ') AS ws FROM documents),
          |bg AS (SELECT unnest(list_transform(range(1, len(ws)),
          |              i -> struct_pack(w1 := ws[i], w2 := ws[i+1]))) AS b FROM w),
          |pairs AS (SELECT b.w1 AS w1, b.w2 AS w2 FROM bg),
          |edges AS (SELECT DISTINCT w1, w2 FROM pairs),
          |seed AS (SELECT w1 AS word FROM (
          |           SELECT w1, count(*) AS c FROM pairs GROUP BY w1
          |         ) ORDER BY c DESC, w1 LIMIT 1),
          |bfs(word, hop) AS (
          |  SELECT word, 0 AS hop FROM seed
          |  UNION ALL
          |  SELECT e.w2, b.hop + 1
          |  FROM bfs b JOIN edges e ON e.w1 = b.word
          |  WHERE b.hop < 2
          |),
          |dist AS (SELECT word, min(hop) AS hop FROM bfs GROUP BY word)
          |SELECT CAST(hop AS INT) AS hop, count(*) AS n_nodes
          |FROM dist GROUP BY hop ORDER BY hop""".stripMargin,
      "q_pagerank" ->
        s"""WITH w AS (SELECT string_split(text, ' ') AS ws FROM documents),
           |bg AS (SELECT unnest(list_transform(range(1, len(ws)),
           |              i -> struct_pack(w1 := ws[i], w2 := ws[i+1]))) AS b FROM w),
           |e AS (SELECT b.w1 AS w1, b.w2 AS w2, count(*) AS c12 FROM bg GROUP BY w1, w2),
           |nodes AS (SELECT DISTINCT word FROM
           |            (SELECT w1 AS word FROM e UNION ALL SELECT w2 AS word FROM e)),
           |t AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
           |ow AS (SELECT w1, CAST(sum(c12) AS DOUBLE) AS wout FROM e GROUP BY w1),
           |pr0 AS (SELECT word, 1.0 / t.n AS pr FROM nodes CROSS JOIN t),
           |${iter("pr0", "c1", "pr1")},
           |${iter("pr1", "c2", "pr2")}
           |SELECT word, round(pr, 6) AS pagerank FROM pr2 ORDER BY word""".stripMargin,
      "q_graph_jaccard" ->
        s"""WITH w AS (SELECT string_split(text, ' ') AS ws FROM documents),
           |bg AS (SELECT unnest(list_transform(range(1, len(ws)),
           |              i -> struct_pack(w1 := ws[i], w2 := ws[i+1]))) AS b FROM w),
           |e AS (SELECT DISTINCT b.w1 AS w1, b.w2 AS w2 FROM bg),
           |adj AS (SELECT DISTINCT c, n FROM
           |          (SELECT w1 AS c, w2 AS n FROM e UNION ALL SELECT w2 AS c, w1 AS n FROM e)
           |        WHERE c <> n),
           |deg AS (SELECT c, count(*) AS d FROM adj GROUP BY 1),
           |capped AS (SELECT adj.c, adj.n,
           |                  CAST(round(10000 / ln(deg.d)) AS BIGINT) AS aaw
           |           FROM adj JOIN deg ON adj.c = deg.c
           |           WHERE deg.d >= 2 AND deg.d <= $JaccardHubCap),
           |p AS (SELECT x.n AS wa, y.n AS wb, count(*) AS common,
           |             CAST(sum(x.aaw) AS BIGINT) AS aa_x1e4
           |      FROM capped x JOIN capped y ON x.c = y.c AND x.n < y.n
           |      GROUP BY 1, 2)
           |SELECT wa, wb, common, da.d AS da, db.d AS db,
           |       CAST(common * 1000000 // (da.d + db.d - common) AS BIGINT) AS jac_ppm,
           |       aa_x1e4
           |FROM p JOIN deg da ON p.wa = da.c JOIN deg db ON p.wb = db.c
           |ORDER BY jac_ppm DESC, wa, wb LIMIT 20""".stripMargin,
      // same simhash edge set as q_simhash_pairs, then the identical
      // degree-oriented wedge + closure count. Scale-safe spelling (the
      // round-8 stress fix): the wedge count is Sum C(outdeg, 2) over the
      // oriented out-degrees — pure arithmetic, no wedge row ever
      // materialized — and the triangle count streams the wedge join
      // straight into the closing-edge probe in ONE single-use pipeline
      // (the old twice-referenced wedges CTE materialized 1.4e9 rows at
      // the synthetic-sf1 stress scale and blew the 900 s oracle budget;
      // this form finishes in ~700 s there, seconds at driver sf0.01)
      "q_graph_triangles" ->
        s"""WITH ${TextQueries.simhashFrameCte},
           |edges AS (SELECT a.doc_id AS a, b.doc_id AS b
           |          FROM f a JOIN f b ON a.doc_id < b.doc_id
           |          WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
           |deg AS (SELECT v, count(*) AS d FROM
           |          (SELECT a AS v FROM edges UNION ALL SELECT b AS v FROM edges)
           |        GROUP BY v),
           |o AS (SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND e.a < e.b)
           |                  THEN e.a ELSE e.b END AS src,
           |             CASE WHEN da.d < db.d OR (da.d = db.d AND e.a < e.b)
           |                  THEN e.b ELSE e.a END AS dst
           |      FROM edges e JOIN deg da ON da.v = e.a JOIN deg db ON db.v = e.b),
           |od AS (SELECT src, count(*) AS dout FROM o GROUP BY src),
           |wc AS (SELECT CAST(sum(dout * (dout - 1) // 2) AS BIGINT) AS n_wedges FROM od),
           |tc AS (SELECT count(*) AS n_triangles
           |       FROM o o1 JOIN o o2 ON o1.src = o2.src AND o1.dst < o2.dst
           |       JOIN edges e ON o1.dst = e.a AND o2.dst = e.b)
           |SELECT (SELECT count(*) FROM deg) AS n_nodes,
           |       (SELECT count(*) FROM edges) AS n_edges,
           |       (SELECT n_wedges FROM wc) AS n_wedges,
           |       (SELECT n_triangles FROM tc) AS n_triangles,
           |       round(CAST((SELECT n_triangles FROM tc) AS DOUBLE) /
           |             CAST(greatest((SELECT n_wedges FROM wc), 1) AS DOUBLE), 6) AS closure""".stripMargin,
      // same simhash edge prelude; histogram + exact integer census
      "q_degree_census" ->
        s"""WITH ${TextQueries.simhashFrameCte},
           |edges AS (SELECT a.doc_id AS a, b.doc_id AS b
           |          FROM f a JOIN f b ON a.doc_id < b.doc_id
           |          WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
           |deg AS (SELECT v, count(*) AS d FROM
           |          (SELECT a AS v FROM edges UNION ALL SELECT b AS v FROM edges)
           |        GROUP BY v),
           |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes,
           |               CAST(max(d) AS BIGINT) AS max_d,
           |               CAST(sum(d) AS BIGINT) AS sum_d FROM deg)
           |SELECT CAST(d AS BIGINT) AS d, count(*) AS n_nodes_at_d,
           |       n_nodes, max_d, CAST(sum_d // 2 AS BIGINT) AS n_edges
           |FROM deg CROSS JOIN tot
           |GROUP BY d, n_nodes, max_d, sum_d
           |ORDER BY d""".stripMargin,
      // same simhash edge prelude; one vote join + deterministic rank
      "q_label_prop" ->
        s"""WITH ${TextQueries.simhashFrameCte},
           |e AS (SELECT a.doc_id AS a, b.doc_id AS b
           |      FROM f a JOIN f b ON a.doc_id < b.doc_id
           |      WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
           |und AS (SELECT a, b FROM e UNION ALL SELECT b, a FROM e),
           |seeds AS (SELECT doc_id AS b, source AS lbl FROM documents
           |          WHERE ${Hash.prefixSql("'lps:' || CAST(doc_id AS VARCHAR)")} % 10 = 0),
           |votes AS (SELECT und.a AS doc_id, s.lbl, count(*) AS n_votes
           |          FROM und JOIN seeds s USING (b)
           |          WHERE und.a NOT IN (SELECT b FROM seeds)
           |          GROUP BY und.a, s.lbl),
           |adopted AS (
           |  SELECT v.doc_id, v.lbl,
           |         CAST(d.source = v.lbl AS BIGINT) AS correct
           |  FROM (SELECT doc_id, lbl,
           |               row_number() OVER (PARTITION BY doc_id
           |                                  ORDER BY n_votes DESC, lbl) AS rk
           |        FROM votes) v
           |  JOIN documents d USING (doc_id)
           |  WHERE v.rk = 1),
           |census AS (
           |  SELECT lbl AS label, count(*) AS n_seed,
           |         CAST(0 AS BIGINT) AS n_adopted, CAST(0 AS BIGINT) AS n_correct
           |  FROM seeds GROUP BY lbl
           |  UNION ALL
           |  SELECT lbl AS label, CAST(0 AS BIGINT), count(*),
           |         CAST(sum(correct) AS BIGINT)
           |  FROM adopted GROUP BY lbl
           |  UNION ALL
           |  SELECT '(unreached)', CAST(0 AS BIGINT),
           |         (SELECT count(*) FROM documents
           |          WHERE doc_id NOT IN (SELECT b FROM seeds)
           |            AND doc_id NOT IN (SELECT doc_id FROM adopted)),
           |         CAST(0 AS BIGINT))
           |SELECT label, CAST(sum(n_seed) AS BIGINT) AS n_seed,
           |       CAST(sum(n_adopted) AS BIGINT) AS n_adopted,
           |       CAST(sum(n_correct) AS BIGINT) AS n_correct
           |FROM census GROUP BY label ORDER BY label""".stripMargin,
      // same edge prelude; two unrolled degree-peel rounds
      "q_kcore" ->
        s"""WITH ${TextQueries.simhashFrameCte},
           |e0 AS (SELECT a.doc_id AS a, b.doc_id AS b
           |       FROM f a JOIN f b ON a.doc_id < b.doc_id
           |       WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
           |d0 AS (SELECT v, count(*) AS d FROM
           |         (SELECT a AS v FROM e0 UNION ALL SELECT b AS v FROM e0)
           |       GROUP BY v),
           |k0 AS (SELECT v FROM d0 WHERE d >= 3),
           |e1 AS (SELECT a, b FROM e0
           |       WHERE a IN (SELECT v FROM k0) AND b IN (SELECT v FROM k0)),
           |d1 AS (SELECT v, count(*) AS d FROM
           |         (SELECT a AS v FROM e1 UNION ALL SELECT b AS v FROM e1)
           |       GROUP BY v),
           |k1 AS (SELECT v FROM d1 WHERE d >= 3),
           |e2 AS (SELECT a, b FROM e1
           |       WHERE a IN (SELECT v FROM k1) AND b IN (SELECT v FROM k1))
           |SELECT
           |  (SELECT count(*) FROM d0) AS n_r0,
           |  (SELECT count(*) FROM e0) AS m_r0,
           |  (SELECT count(*) FROM d1) AS n_r1,
           |  (SELECT count(*) FROM e1) AS m_r1,
           |  (SELECT count(DISTINCT v) FROM
           |     (SELECT a AS v FROM e2 UNION ALL SELECT b AS v FROM e2)) AS n_r2,
           |  (SELECT count(*) FROM e2) AS m_r2""".stripMargin,
      // same bigram edge prelude; integer-renormalized HITS propagations
      "q_hits_rank" ->
        s"""WITH w AS (SELECT string_split(text, ' ') AS ws FROM documents),
           |bg AS (SELECT unnest(list_transform(range(1, len(ws)),
           |              i -> struct_pack(w1 := ws[i], w2 := ws[i+1]))) AS b FROM w),
           |e AS (SELECT b.w1 AS w1, b.w2 AS w2, CAST(count(*) AS BIGINT) AS c12
           |      FROM bg GROUP BY 1, 2),
           |a1 AS (SELECT w2 AS word, CAST(sum(c12) AS BIGINT) AS a FROM e GROUP BY 1),
           |a1n AS (SELECT word, a * 1000000 // (SELECT max(a) FROM a1) AS score_x1e6 FROM a1),
           |h1 AS (SELECT e.w1 AS word, CAST(sum(e.c12 * a1n.score_x1e6) AS BIGINT) AS h
           |       FROM e JOIN a1n ON a1n.word = e.w2 GROUP BY 1),
           |h1n AS (SELECT word, h * 1000000 // (SELECT max(h) FROM h1) AS score_x1e6 FROM h1),
           |a2 AS (SELECT e.w2 AS word, CAST(sum(e.c12 * h1n.score_x1e6) AS BIGINT) AS a
           |       FROM e JOIN h1n ON h1n.word = e.w1 GROUP BY 1),
           |a2n AS (SELECT word, a * 1000000 // (SELECT max(a) FROM a2) AS score_x1e6 FROM a2),
           |ta AS (SELECT 'auth' AS role, row_number() OVER (ORDER BY score_x1e6 DESC, word) AS rk,
           |              word, score_x1e6 FROM a2n),
           |th AS (SELECT 'hub' AS role, row_number() OVER (ORDER BY score_x1e6 DESC, word) AS rk,
           |              word, score_x1e6 FROM h1n)
           |SELECT role, rk, word, CAST(score_x1e6 AS BIGINT) AS score_x1e6
           |FROM (SELECT * FROM ta WHERE rk <= 10 UNION ALL SELECT * FROM th WHERE rk <= 10)
           |ORDER BY role, rk""".stripMargin,
      // same simhash edge prelude; one integer numerator sum, one division
      "q_graph_modularity" ->
        s"""WITH ${TextQueries.simhashFrameCte},
           |e0 AS (SELECT a.doc_id AS a, b.doc_id AS b
           |       FROM f a JOIN f b ON a.doc_id < b.doc_id
           |       WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
           |e AS (SELECT e0.a, e0.b, da.source AS ca, db.source AS cb
           |      FROM e0 JOIN documents da ON da.doc_id = e0.a
           |              JOIN documents db ON db.doc_id = e0.b),
           |m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e),
           |mc AS (SELECT ca AS community, CAST(count(*) AS BIGINT) AS m_c
           |       FROM e WHERE ca = cb GROUP BY 1),
           |dc AS (SELECT community, CAST(count(*) AS BIGINT) AS d_c FROM
           |         (SELECT ca AS community FROM e UNION ALL SELECT cb FROM e)
           |       GROUP BY 1),
           |t AS (SELECT dc.community,
           |             4 * m.m * coalesce(mc.m_c, 0) - dc.d_c * dc.d_c AS num
           |      FROM dc LEFT JOIN mc USING (community) CROSS JOIN m)
           |SELECT count(*) AS n_communities,
           |       (SELECT m FROM m) AS n_edges,
           |       round(CAST(sum(num) AS DOUBLE)
           |             / (4.0 * (SELECT m FROM m) * (SELECT m FROM m)), 6) AS q_mod
           |FROM t""".stripMargin,
      // same simhash edge prelude; both orientations, exact-stat Pearson
      "q_assortativity" ->
        s"""WITH ${TextQueries.simhashFrameCte},
           |edges AS (SELECT a.doc_id AS a, b.doc_id AS b
           |          FROM f a JOIN f b ON a.doc_id < b.doc_id
           |          WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
           |deg AS (SELECT v, CAST(count(*) AS BIGINT) AS deg FROM
           |          (SELECT a AS v FROM edges UNION ALL SELECT b AS v FROM edges)
           |        GROUP BY v),
           |both_o AS (SELECT a, b FROM edges UNION ALL SELECT b, a FROM edges),
           |j AS (SELECT da.deg AS dx, db.deg AS dy
           |      FROM both_o e JOIN deg da ON da.v = e.a JOIN deg db ON db.v = e.b),
           |st AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(dx) AS BIGINT) AS sx,
           |              CAST(sum(dx*dx) AS BIGINT) AS sxx, CAST(sum(dx*dy) AS BIGINT) AS sxy
           |       FROM j)
           |SELECT n // 2 AS n_edges,
           |       (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
           |       sx * 1000 // n AS mean_deg_milli,
           |       CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
           |                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) = 0.0 THEN 0.0
           |            ELSE round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
           |                        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
           |                     / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
           |                        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) + 0.0
           |       END AS r_assort
           |FROM st""".stripMargin,
      // same labeled edge set; vol/cut exact, one IEEE division
      "q_conductance" ->
        s"""WITH ${TextQueries.simhashFrameCte},
           |edges AS (SELECT a.doc_id AS a, b.doc_id AS b
           |          FROM f a JOIN f b ON a.doc_id < b.doc_id
           |          WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
           |lab AS (SELECT e.a, e.b, da.source AS ca, db.source AS cb
           |        FROM edges e
           |        JOIN documents da ON da.doc_id = e.a
           |        JOIN documents db ON db.doc_id = e.b),
           |m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM lab),
           |vol AS (SELECT community, CAST(count(*) AS BIGINT) AS vol FROM
           |          (SELECT ca AS community FROM lab
           |           UNION ALL SELECT cb FROM lab)
           |        GROUP BY 1),
           |cut AS (SELECT community, CAST(count(*) AS BIGINT) AS cut FROM
           |          (SELECT unnest([ca, cb]) AS community FROM lab WHERE ca <> cb)
           |        GROUP BY 1)
           |SELECT vol.community, vol.vol, coalesce(cut.cut, 0) AS cut,
           |       CASE WHEN least(vol.vol, 2 * m.m - vol.vol) = 0 THEN 0.0
           |            ELSE round(CAST(coalesce(cut.cut, 0) AS DOUBLE)
           |                     / CAST(least(vol.vol, 2 * m.m - vol.vol) AS DOUBLE), 6) + 0.0
           |       END AS phi
           |FROM vol LEFT JOIN cut USING (community) CROSS JOIN m
           |ORDER BY vol.community""".stripMargin
    )
  }
}
