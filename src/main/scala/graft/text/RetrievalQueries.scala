package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Tables, Vec}

/** Retrieval scoring over the corpus (north-star surface — the search half
  * of a training-data/RAG stack): BM25 lexical ranking and reciprocal-rank
  * fusion of a lexical and an embedding ranking.
  *
  * Scale notes: query terms are collected ONCE on the driver (3 rows — a
  * query is driver-side data by definition, exactly like the ANN probe
  * vector) and enter the plan as literals, so per-doc scoring is a narrow
  * map over the scan — tf via `filter(ws, ...)` per term, no (doc, word)
  * explode shuffle at all. Corpus statistics (N, Σdl, df per term) are one
  * tiny aggregate broadcast back via crossJoin. Rankings are truncated with
  * orderBy+limit (TakeOrderedAndProject: per-partition top-k, k-row driver
  * merge) BEFORE any window — the row_number window only ever sees ≤50
  * rows, never the corpus.
  */
object RetrievalQueries extends graft.SparkEntry.Module {

  /** BM25 shape parameters (Robertson–Spärck Jones defaults). */
  val K1 = 1.2
  val B = 0.75

  /** Fused lists are truncated to this depth before ranking. */
  val TopN = 50

  /** The top-3 corpus terms: the "user query" of every retrieval entry,
    * derived deterministically from the fixture (most frequent words, ties
    * by word) so the oracle can replay it.
    */
  def queryTermsFor(s: SparkSession, dir: String): Seq[String] =
    ArtifactMemo("query_terms", s, dir) {
      Tables.documents(s, dir)
        .select(explode(split(col("text"), " ")).as("word"))
        .groupBy("word").agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("word"))
        .limit(3)
        .collect().map(_.getString(0)).toSeq
    }

  /** Per-doc frame (doc_id, dl, tf0..tfN) for the query terms — narrow,
    * shuffle-free: one `filter` count per term against the materialized
    * word array (terms sorted ascending so downstream folds have one
    * fixed order both engines share).
    *
    * Memoized like the minhash/shingle artifacts: FOUR queries (q_bm25,
    * q_ndcg_eval, q_grid_search, q_rrf_fusion) read the same split +
    * per-term-count pass; at 100 TB this is the persisted doc-stats sidecar
    * every ranker reads. The checkpoint keeps the scan's own partitioning
    * (narrow projection — no exchange), so small consumers pay no
    * extra-stage tax.
    */
  private def tfFrame(s: SparkSession, dir: String): (DataFrame, Seq[String]) = {
    val terms = queryTermsFor(s, dir).sorted
    val df = ArtifactMemo("tf_frame", s, dir) {
      Tables.documents(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
        .select(col("doc_id") +: size(col("ws")).cast("double").as("dl") +:
          terms.zipWithIndex.map { case (t, i) =>
            size(filter(col("ws"), x => x === lit(t))).as(s"tf$i")
          }: _*)
        .localCheckpoint(eager = true)
    }
    (df, terms)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // NS: BM25 — the standard lexical relevance score, on the top-3 corpus
    // words as the query. One narrow tf pass + one 1-row stats aggregate
    // (N, Σdl, df per term) broadcast back; score folds per-term
    // contributions in ascending-term order (deterministic doubles: tf/dl/
    // df/N are integers, so both engines compute bit-identical IEEE sums).
    "q_bm25" -> { (s, dir) =>
      val (tf, terms) = tfFrame(s, dir)
      val n = terms.length
      val stats = tf.agg(
        count(lit(1)).cast("double").as("n_docs"),
        sum(col("dl")).cast("double").as("sum_dl") +:
          (0 until n).map(i =>
            sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).cast("double").as(s"df$i")): _*)
      val scored = tf.crossJoin(broadcast(stats))
      val avgdl = col("sum_dl") / col("n_docs")
      def contrib(i: Int): Column = {
        val idf = log(lit(1.0) + (col("n_docs") - col(s"df$i") + 0.5) / (col(s"df$i") + 0.5))
        val tfi = col(s"tf$i").cast("double")
        idf * (tfi * (K1 + 1.0)) / (tfi + lit(K1) * (lit(1.0 - B) + lit(B) * col("dl") / avgdl))
      }
      scored
        .select(col("doc_id"),
          (0 until n).map(i => col(s"tf$i")).reduce(_ + _).cast("long").as("n_hits"),
          round((0 until n).map(contrib).reduce(_ + _), 6).as("bm25"))
        .filter(col("n_hits") > 0)
        .orderBy(col("bm25").desc, col("doc_id"))
        .limit(20)
    },

    // NS: nDCG@10 ranking eval — THE graded-relevance IR metric, closing
    // the retrieval family's eval loop (q_bm25 ranks; this scores the
    // ranking): relevance grade = number of distinct query terms a doc
    // contains (0..3, exact integer — a deterministic stand-in for human
    // labels), DCG folds (2^rel−1)/log2(rank+1) over the BM25 top-10,
    // IDCG over the grade-ideal ordering, nDCG = DCG/IDCG. Ranks come
    // from the ROUNDED bm25 score with a doc_id tie-break, so the ranking
    // can never float-flip between engines; both top-10s are
    // TakeOrdered-truncated before the ≤10-row rank window; the DCG sums
    // run over 10 rows.
    "q_ndcg_eval" -> { (s, dir) =>
      val (tf, terms) = tfFrame(s, dir)
      val n = terms.length
      val stats = tf.agg(
        count(lit(1)).cast("double").as("n_docs"),
        sum(col("dl")).cast("double").as("sum_dl") +:
          (0 until n).map(i =>
            sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).cast("double").as(s"df$i")): _*)
      val avgdl = col("sum_dl") / col("n_docs")
      def contrib(i: Int): Column = {
        val idf = log(lit(1.0) + (col("n_docs") - col(s"df$i") + 0.5) / (col(s"df$i") + 0.5))
        val tfi = col(s"tf$i").cast("double")
        idf * (tfi * (K1 + 1.0)) / (tfi + lit(K1) * (lit(1.0 - B) + lit(B) * col("dl") / avgdl))
      }
      val scored = tf.crossJoin(broadcast(stats))
        .select(col("doc_id"),
          (0 until n).map(i => (col(s"tf$i") > 0).cast("long")).reduce(_ + _).as("rel"),
          (0 until n).map(i => col(s"tf$i")).reduce(_ + _).cast("long").as("n_hits"),
          round((0 until n).map(contrib).reduce(_ + _), 6).as("bm25"))
      def gain(relCol: Column, rankCol: Column): Column =
        (pow(lit(2.0), relCol.cast("double")) - 1.0) / log2(rankCol.cast("double") + 1.0)
      val top = scored.filter(col("n_hits") > 0)
        .orderBy(col("bm25").desc, col("doc_id")).limit(10)
        .withColumn("r", row_number()
          .over(Window.orderBy(col("bm25").desc, col("doc_id"))).cast("long"))
      val dcg = top.agg(count(lit(1)).as("n_ranked"),
        sum(gain(col("rel"), col("r"))).as("dcg"))
      val ideal = scored.filter(col("rel") > 0)
        .orderBy(col("rel").desc, col("doc_id")).limit(10)
        .withColumn("r", row_number()
          .over(Window.orderBy(col("rel").desc, col("doc_id"))).cast("long"))
        .agg(sum(gain(col("rel"), col("r"))).as("idcg"))
      dcg.crossJoin(ideal)
        .select(col("n_ranked"), round(col("dcg"), 6).as("dcg"),
          round(col("idcg"), 6).as("idcg"),
          round(col("dcg") / col("idcg"), 6).as("ndcg"))
    },

    // NS: hyperparameter grid search as ONE dataflow — four BM25
    // (k1, b) configs scored by nDCG@10 in a single pass over the
    // corpus (the tuning loop teams usually run as N sequential jobs;
    // here the config dimension is a broadcast 4-row cross that rides
    // the same tf scan). Per-config top-10 via the bounded TopKAgg
    // (k rows per config per partition — no per-config corpus sort),
    // relevance grades and the IDCG are config-independent and computed
    // once, ranks come from the ROUNDED score with a doc tie-break (the
    // q_ndcg_eval float-flip-proofing), and the winner is ranked by
    // (ndcg desc, k1, b).
    "q_grid_search" -> { (s, dir) =>
      val (tf, terms) = tfFrame(s, dir)
      val n = terms.length
      val stats = tf.agg(
        count(lit(1)).cast("double").as("n_docs"),
        sum(col("dl")).cast("double").as("sum_dl") +:
          (0 until n).map(i =>
            sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).cast("double").as(s"df$i")): _*)
      val configs = broadcast(s.createDataFrame(
        Seq((90L, 40L), (120L, 75L), (150L, 75L), (200L, 90L)))
        .toDF("k1_x100", "b_x100"))
      val avgdl = col("sum_dl") / col("n_docs")
      val k1c = col("k1_x100").cast("double") / 100.0
      val bc = col("b_x100").cast("double") / 100.0
      def contrib(i: Int): Column = {
        val idf = log(lit(1.0) + (col("n_docs") - col(s"df$i") + 0.5) / (col(s"df$i") + 0.5))
        val tfi = col(s"tf$i").cast("double")
        idf * (tfi * (k1c + 1.0)) / (tfi + k1c * (lit(1.0) - bc + bc * col("dl") / avgdl))
      }
      val scored = tf.crossJoin(broadcast(stats)).crossJoin(configs)
        .select(col("k1_x100"), col("b_x100"), col("doc_id"),
          (0 until n).map(i => col(s"tf$i")).reduce(_ + _).cast("long").as("n_hits"),
          round((0 until n).map(contrib).reduce(_ + _), 6).as("bm25"))
        .filter(col("n_hits") > 0)
      val topk = udaf(new graft.functions.TopKAgg(10),
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[graft.functions.ScoredId]())
      val rel = tf.select(col("doc_id"),
        (0 until n).map(i => (col(s"tf$i") > 0).cast("long")).reduce(_ + _).as("rel"))
      def gain(relCol: Column, rankCol: Column): Column =
        (pow(lit(2.0), relCol.cast("double")) - 1.0) / log2(rankCol.cast("double") + 1.0)
      // the broadcast hint rides the <=40-row TOP side (4 configs x top-10),
      // NOT rel: rel carries one row per DOCUMENT, so hinting it overrides
      // statistics with a corpus-scaled broadcast (caught by
      // BroadcastDomainLintSpec, r11)
      val top = broadcast(scored.groupBy("k1_x100", "b_x100")
        .agg(topk(col("doc_id"), col("bm25")).as("nn"))
        .select(col("k1_x100"), col("b_x100"), posexplode(col("nn")).as(Seq("pos", "e")))
        .select(col("k1_x100"), col("b_x100"), (col("pos") + 1).cast("long").as("r"),
          col("e.id").as("doc_id")))
        .join(rel, "doc_id")
      val dcg = top.groupBy("k1_x100", "b_x100")
        .agg(count(lit(1)).as("n_ranked"), sum(gain(col("rel"), col("r"))).as("dcg"))
      val ideal = rel.filter(col("rel") > 0)
        .orderBy(col("rel").desc, col("doc_id")).limit(10)
        .withColumn("r", row_number()
          .over(Window.orderBy(col("rel").desc, col("doc_id"))).cast("long"))
        .agg(sum(gain(col("rel"), col("r"))).as("idcg"))
      dcg.crossJoin(broadcast(ideal))
        .select(col("k1_x100"), col("b_x100"), col("n_ranked"),
          round(col("dcg") / col("idcg"), 6).as("ndcg"))
        .withColumn("rk", row_number().over(
          Window.orderBy(col("ndcg").desc, col("k1_x100"), col("b_x100"))).cast("long"))
        .withColumn("is_best", (col("rk") === 1).cast("long"))
        .orderBy("k1_x100", "b_x100")
    },

    // NS: reciprocal-rank fusion — merge a lexical top-50 (hit count over
    // the query terms; integer score, so ranking is exactly reproducible)
    // with an embedding top-50 (cosine to the probe vector, rounded to 9
    // before ranking) via RRF(60). Both lists are TakeOrderedAndProject-
    // truncated before the row_number window, so the global-window stage
    // sees ≤50 rows; the fusion itself is a full outer join of two ≤50-row
    // frames.
    "q_rrf_fusion" -> { (s, dir) =>
      val (tf, terms) = tfFrame(s, dir)
      val hits = tf
        .select(col("doc_id"),
          terms.indices.map(i => col(s"tf$i")).reduce(_ + _).cast("long").as("n_hits"))
        .filter(col("n_hits") > 0)
        .orderBy(col("n_hits").desc, col("doc_id"))
        .limit(TopN)
      val txt = hits.withColumn("rank_text",
        row_number().over(Window.orderBy(col("n_hits").desc, col("doc_id"))).cast("long"))
      val probe = graft.kmeans.Lloyd.probeFor(s, dir).toSeq
      val pl = array(probe.map(lit): _*)
      val sims = Tables.embeddings(s, dir)
        .select(col("vec_id").as("doc_id"),
          round(Vec.cosine(col("embedding"), pl), 9).as("sim"))
        .orderBy(col("sim").desc, col("doc_id"))
        .limit(TopN)
      val emb = sims.withColumn("rank_emb",
        row_number().over(Window.orderBy(col("sim").desc, col("doc_id"))).cast("long"))
      txt.select(col("doc_id"), col("rank_text"))
        .join(emb.select(col("doc_id"), col("rank_emb")), Seq("doc_id"), "full_outer")
        .select(col("doc_id"), col("rank_text"), col("rank_emb"),
          round(coalesce(lit(1.0) / (lit(60.0) + col("rank_text")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(60.0) + col("rank_emb")), lit(0.0)), 9).as("rrf"))
        .orderBy(col("rrf").desc, col("doc_id"))
        .limit(20)
    },

    // NS: inverted-index construction — per term (hapaxes dropped; the
    // fixture corpus has a closed ~31-word vocabulary, so no stopword band
    // applies), the posting list of its top-10 docs by (tf desc, doc_id).
    // The one shuffle
    // carries (word, doc, tf) triples with map-side combine; the per-term
    // top-10 is the bounded TopKAgg (k rows per term per partition — the
    // whole posting list of a stopword never materializes anywhere), which
    // is the property that makes index BUILD feasible at 100 TB. Postings
    // serialize as a comma-joined string (cross-engine stable).
    "q_posting_lists" -> { (s, dir) =>
      val topk = udaf(new graft.functions.TopKAgg(10),
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[graft.functions.ScoredId]())
      val posts = Tables.documents(s, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
        .groupBy("word", "doc_id").agg(count(lit(1)).as("tf"))
      posts.groupBy("word")
        .agg(count(lit(1)).as("df"), sum("tf").as("total_tf"),
          topk(col("doc_id"), col("tf").cast("double")).as("top"))
        .filter(col("df") >= 2)
        .select(col("word"), col("df"), col("total_tf"),
          array_join(transform(col("top"), x => x.getField("id").cast("string")), ",")
            .as("postings"))
        .orderBy("word")
    }
  )

  def oracleSql: Map[String, String] = {
    // terms + per-doc tf replay: DuckDB derives the same top-3 query terms
    // and the same (doc_id, dl, per-term tf) rows; list_sum over an
    // ORDER BY word list mirrors Spark's ascending-term left fold.
    val prelude =
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |terms AS (SELECT word FROM (
        |            SELECT word, count(*) AS c
        |            FROM (SELECT unnest(ws) AS word FROM w) GROUP BY word)
        |          ORDER BY c DESC, word LIMIT 3),
        |tf AS (SELECT b.doc_id, CAST(len(b.ws) AS DOUBLE) AS dl, t.word,
        |              len(list_filter(b.ws, x -> x = t.word)) AS tf
        |       FROM w b CROSS JOIN terms t)""".stripMargin

    Map(
      "q_bm25" ->
        s"""$prelude,
           |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
           |                 CAST(sum(len(ws)) AS DOUBLE) AS sum_dl
           |          FROM w),
           |df AS (SELECT word, CAST(count(*) FILTER (WHERE tf > 0) AS DOUBLE) AS df
           |       FROM tf GROUP BY word),
           |scored AS (
           |  SELECT tf.doc_id,
           |         CAST(sum(tf.tf) AS BIGINT) AS n_hits,
           |         list_sum(list(
           |           ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5)) *
           |           (tf.tf * (${K1} + 1.0)) /
           |           (tf.tf + ${K1} * (1.0 - ${B} + ${B} * tf.dl / (s.sum_dl / s.n_docs)))
           |           ORDER BY tf.word)) AS score
           |  FROM tf JOIN df d USING (word) CROSS JOIN stats s
           |  GROUP BY tf.doc_id)
           |SELECT doc_id, n_hits, round(score, 6) AS bm25
           |FROM scored WHERE n_hits > 0
           |ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin,
      "q_ndcg_eval" ->
        s"""$prelude,
           |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
           |                 CAST(sum(len(ws)) AS DOUBLE) AS sum_dl
           |          FROM w),
           |df AS (SELECT word, CAST(count(*) FILTER (WHERE tf > 0) AS DOUBLE) AS df
           |       FROM tf GROUP BY word),
           |scored AS (
           |  SELECT tf.doc_id,
           |         CAST(count(*) FILTER (WHERE tf.tf > 0) AS BIGINT) AS rel,
           |         CAST(sum(tf.tf) AS BIGINT) AS n_hits,
           |         round(list_sum(list(
           |           ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5)) *
           |           (tf.tf * (${K1} + 1.0)) /
           |           (tf.tf + ${K1} * (1.0 - ${B} + ${B} * tf.dl / (s.sum_dl / s.n_docs)))
           |           ORDER BY tf.word)), 6) AS bm25
           |  FROM tf JOIN df d USING (word) CROSS JOIN stats s
           |  GROUP BY tf.doc_id),
           |top AS (SELECT doc_id, rel,
           |               CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS BIGINT) AS r
           |        FROM scored WHERE n_hits > 0 QUALIFY r <= 10),
           |dc AS (SELECT count(*) AS n_ranked,
           |              sum((pow(2.0, rel) - 1.0) / log2(r + 1.0)) AS dcg FROM top),
           |ideal AS (SELECT rel,
           |                 CAST(row_number() OVER (ORDER BY rel DESC, doc_id) AS BIGINT) AS r
           |          FROM scored WHERE rel > 0 QUALIFY r <= 10),
           |ic AS (SELECT sum((pow(2.0, rel) - 1.0) / log2(r + 1.0)) AS idcg FROM ideal)
           |SELECT n_ranked, round(dcg, 6) AS dcg, round(idcg, 6) AS idcg,
           |       round(dcg / idcg, 6) AS ndcg
           |FROM dc CROSS JOIN ic""".stripMargin,
      "q_grid_search" ->
        s"""$prelude,
           |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
           |                 CAST(sum(len(ws)) AS DOUBLE) AS sum_dl
           |          FROM w),
           |df AS (SELECT word, CAST(count(*) FILTER (WHERE tf > 0) AS DOUBLE) AS df
           |       FROM tf GROUP BY word),
           |cfg AS (SELECT CAST(k1_x100 AS BIGINT) AS k1_x100,
           |               CAST(b_x100 AS BIGINT) AS b_x100
           |        FROM (VALUES (90, 40), (120, 75), (150, 75), (200, 90)) c(k1_x100, b_x100)),
           |scored AS (
           |  SELECT c.k1_x100, c.b_x100, tf.doc_id,
           |         CAST(sum(tf.tf) AS BIGINT) AS n_hits,
           |         round(list_sum(list(
           |           ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5)) *
           |           (tf.tf * (c.k1_x100 / 100.0 + 1.0)) /
           |           (tf.tf + c.k1_x100 / 100.0 *
           |             (1.0 - c.b_x100 / 100.0 + c.b_x100 / 100.0 * tf.dl / (s.sum_dl / s.n_docs)))
           |           ORDER BY tf.word)), 6) AS bm25
           |  FROM tf JOIN df d USING (word) CROSS JOIN stats s CROSS JOIN cfg c
           |  GROUP BY c.k1_x100, c.b_x100, tf.doc_id
           |  HAVING sum(tf.tf) > 0),
           |rel AS (SELECT doc_id, CAST(count(*) FILTER (WHERE tf > 0) AS BIGINT) AS rel
           |        FROM tf GROUP BY doc_id),
           |top AS (SELECT k1_x100, b_x100, doc_id,
           |               CAST(row_number() OVER (PARTITION BY k1_x100, b_x100
           |                 ORDER BY bm25 DESC, doc_id) AS BIGINT) AS r
           |        FROM scored QUALIFY r <= 10),
           |dc AS (SELECT t.k1_x100, t.b_x100, CAST(count(*) AS BIGINT) AS n_ranked,
           |              sum((pow(2.0, rel.rel) - 1.0) / log2(t.r + 1.0)) AS dcg
           |       FROM top t JOIN rel USING (doc_id) GROUP BY 1, 2),
           |ideal AS (SELECT rel,
           |                 CAST(row_number() OVER (ORDER BY rel DESC, doc_id) AS BIGINT) AS r
           |          FROM rel WHERE rel > 0 QUALIFY r <= 10),
           |ic AS (SELECT sum((pow(2.0, rel) - 1.0) / log2(r + 1.0)) AS idcg FROM ideal)
           |SELECT k1_x100, b_x100, n_ranked,
           |       round(dcg / ic.idcg, 6) AS ndcg,
           |       CAST(row_number() OVER (ORDER BY round(dcg / ic.idcg, 6) DESC,
           |         k1_x100, b_x100) AS BIGINT) AS rk,
           |       CAST(row_number() OVER (ORDER BY round(dcg / ic.idcg, 6) DESC,
           |         k1_x100, b_x100) = 1 AS BIGINT) AS is_best
           |FROM dc CROSS JOIN ic ORDER BY k1_x100, b_x100""".stripMargin,
      "q_rrf_fusion" ->
        s"""$prelude,
           |hits AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_hits
           |         FROM tf GROUP BY doc_id HAVING sum(tf) > 0),
           |txt AS (SELECT doc_id,
           |               CAST(row_number() OVER (ORDER BY n_hits DESC, doc_id) AS BIGINT) AS rank_text
           |        FROM hits QUALIFY rank_text <= $TopN),
           |${Tables.PointsCte},
           |${graft.kmeans.Lloyd.ProbeSql},
           |sims AS (SELECT e.vec_id AS doc_id,
           |                round(list_dot_product(e.c, probe.p) /
           |                      (sqrt(list_dot_product(e.c, e.c)) * sqrt(list_dot_product(probe.p, probe.p))), 9) AS sim
           |         FROM pts e CROSS JOIN probe),
           |emb AS (SELECT doc_id,
           |               CAST(row_number() OVER (ORDER BY sim DESC, doc_id) AS BIGINT) AS rank_emb
           |        FROM sims QUALIFY rank_emb <= $TopN)
           |SELECT coalesce(t.doc_id, m.doc_id) AS doc_id, t.rank_text, m.rank_emb,
           |       round(coalesce(1.0 / (60.0 + t.rank_text), 0.0) +
           |             coalesce(1.0 / (60.0 + m.rank_emb), 0.0), 9) AS rrf
           |FROM txt t FULL OUTER JOIN emb m ON t.doc_id = m.doc_id
           |ORDER BY rrf DESC, doc_id LIMIT 20""".stripMargin,
      "q_posting_lists" ->
        """WITH p AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
          |tf AS (SELECT word, doc_id, count(*) AS tf FROM p GROUP BY 1, 2),
          |g AS (SELECT word, count(*) AS df, CAST(sum(tf) AS BIGINT) AS total_tf,
          |             array_to_string(list(doc_id ORDER BY tf DESC, doc_id)[1:10], ',') AS postings
          |      FROM tf GROUP BY word)
          |SELECT word, df, total_tf, postings
          |FROM g WHERE df >= 2
          |ORDER BY word""".stripMargin
    )
  }
}
