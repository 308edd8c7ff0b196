package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Training-example assembly operators (north-star LLM-pipeline surface —
  * the reference has no text ops): sequence packing of documents into
  * fixed-token-budget context windows, and vocabulary id-encoding of
  * document prefixes.
  *
  * Scale notes: packing is the concat-and-chunk layout GPT-style training
  * uses — documents are laid out contiguously per source shard and cut
  * into `PackBudget`-token bins. The running offset is ONE window pass
  * partitioned by source (at 100 TB the unit of packing is the shard, so
  * no global sort ever exists; each shard's window sorts only its own
  * rows). Vocabulary encoding ranks the POST-AGGREGATION vocabulary (a
  * tiny frame at any corpus scale — rank the counts, never the corpus) and
  * broadcasts it back onto the exploded prefix tokens.
  */
object PackingQueries extends graft.SparkEntry.Module {

  /** Tokens per packed training example (context window length). */
  val PackBudget = 512

  /** Vocabulary size for id-encoding (fixture vocab is 31 words, so a
    * 20-word vocab makes OOV → 0 a real, exercised path).
    */
  val VocabSize = 20

  /** Words of each document encoded (prefix truncation). */
  val EncodeLen = 12

  /** RAG chunker window / stride (tokens); overlap = ChunkWin - ChunkStride. */
  val ChunkWin = 128
  val ChunkStride = 96

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // NS: sequence packing — lay documents out contiguously per source
    // (ordered by doc_id) and assign each to the PackBudget-token bins it
    // occupies: first_bin = floor(offset / B), last_bin covers the final
    // token. last_bin - first_bin > 0 means the document straddles a
    // context-window boundary (the fragmentation a packing stage reports).
    "q_pack_sequences" -> { (s, dir) =>
      val w = Window.partitionBy("source").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables.documents(s, dir)
        .select(col("source"), col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
        .withColumn("tok_offset", coalesce(sum("n_tokens").over(w), lit(0L)))
        .select(col("source"), col("doc_id"), col("n_tokens"), col("tok_offset"),
          expr(s"tok_offset div $PackBudget").as("first_bin"),
          expr(s"(tok_offset + n_tokens - 1) div $PackBudget").as("last_bin"))
        .orderBy("source", "doc_id")
    },

    // NS: RAG-style sliding-window chunker layout — fixed ChunkWin-token
    // windows at ChunkStride (overlap = ChunkWin-ChunkStride) per document:
    // the retrieval-index chunking stage. Pure per-row integer arithmetic
    // (n_chunks = 1 + ceil(max(len-W,0)/S) via DIV), zero shuffle before
    // the ordered emit — at 100 TB this fuses into the document scan. The
    // report carries chunk counts + the exact last-window start so the
    // chunk table is re-derivable without storing chunk text.
    "q_chunk_plan" -> { (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
        .withColumn("n_chunks",
          lit(1L) + expr(s"(greatest(n_tokens - $ChunkWin, 0) + $ChunkStride - 1) DIV $ChunkStride"))
        .withColumn("last_start", (col("n_chunks") - 1) * ChunkStride)
        .withColumn("overlap_tokens",
          greatest((col("n_chunks") - 1) * (ChunkWin - ChunkStride), lit(0L)))
        .orderBy("doc_id")
    },

    // NS: vocabulary id-encoding — build the frequency-ranked vocabulary
    // (rank ties broken by word so ids are deterministic), keep the top
    // VocabSize words, and encode each document's first EncodeLen words as
    // an id sequence with OOV = 0. The global row_number ranks the aggregated
    // word counts (vocab-sized, NOT corpus-sized); the id table broadcasts.
    // token_ids is emitted as a comma-joined STRING (not array<bigint>):
    // NS: prefix-cache benefit census — the KV-cache planning number an
    // inference/training-serving stack wants from its corpus: how much
    // token mass is shared 8-token prefixes? Docs group by their opening
    // 8 tokens (shorter docs by their full text); each group of n docs
    // re-computes the prefix ONCE, so cacheable mass = Σ(n−1)·len_p.
    // One hash aggregate over (prefix → count) — prefix strings shuffle
    // once, bounded by DISTINCT prefixes; ratio DOUBLE-floored to ppm.
    "q_prefix_cache_plan" -> { (s, dir) =>
      val d = Tables.documents(s, dir)
        .select(size(split(col("text"), " ")).cast("long").as("n_toks"),
          concat_ws(" ", slice(split(col("text"), " "), 1, 8)).as("prefix"))
        .withColumn("len_p", least(col("n_toks"), lit(8L)))
      val grp = d.groupBy("prefix").agg(
        count(lit(1)).as("n_docs"), max("len_p").as("len_p"), sum("n_toks").as("toks"))
      grp.agg(
          count(lit(1)).as("n_prefixes"),
          sum("n_docs").as("n_docs"),
          sum(when(col("n_docs") > 1, 1L).otherwise(0L)).as("n_shared_prefixes"),
          sum("toks").as("tokens_total"),
          sum(expr("(n_docs - 1) * len_p")).as("tokens_cacheable"))
        .withColumn("cache_ppm", expr(
          "CAST(floor(CAST(tokens_cacheable AS DOUBLE) * 1000000.0e0 " +
            "/ CAST(tokens_total AS DOUBLE)) AS BIGINT)"))
    },

    // the verification harness canonicalizes result frames by sorting all
    // columns, which array cells cannot survive — the string form carries
    // identical information and hashes/sorts everywhere.
    "q_vocab_encode" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
      // TakeOrdered-first (the q_bm25 pattern): limit() lowers to a
      // distributed TakeOrderedAndProject, so the id-assigning window
      // ranks only the VocabSize survivors — a bare global row_number
      // here would sort the ENTIRE vocabulary in one reducer task
      val vocab = docs.select(explode(col("ws")).as("word"))
        .groupBy("word").agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("word")).limit(VocabSize)
        .withColumn("id",
          row_number().over(Window.orderBy(col("c").desc, col("word"))).cast("long"))
        .select("word", "id")
      docs
        .select(col("doc_id"),
          posexplode(slice(col("ws"), 1, EncodeLen)).as(Seq("pos", "word")))
        .join(broadcast(vocab), Seq("word"), "left_outer")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_enc"),
          concat_ws(",", transform(
            array_sort(collect_list(struct(col("pos"),
              coalesce(col("id"), lit(0L)).as("id")))),
            x => x.getField("id").cast("string"))).as("token_ids"))
        .orderBy("doc_id")
    }
  )

  def oracleSql: Map[String, String] = Map(
    // identical 8-token prefixes (array_to_string == concat_ws) and ledger
    "q_prefix_cache_plan" ->
      """WITH d AS (
        |  SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
        |         array_to_string(string_split(text, ' ')[1:8], ' ') AS prefix
        |  FROM documents),
        |d2 AS (SELECT n_toks, prefix, least(n_toks, 8) AS len_p FROM d),
        |g AS (SELECT prefix, CAST(count(*) AS BIGINT) AS n_docs,
        |             CAST(max(len_p) AS BIGINT) AS len_p,
        |             CAST(sum(n_toks) AS BIGINT) AS toks
        |      FROM d2 GROUP BY 1),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS n_prefixes,
        |             CAST(sum(n_docs) AS BIGINT) AS n_docs,
        |             CAST(sum(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared_prefixes,
        |             CAST(sum(toks) AS BIGINT) AS tokens_total,
        |             CAST(sum((n_docs - 1) * len_p) AS BIGINT) AS tokens_cacheable
        |      FROM g)
        |SELECT n_prefixes, n_docs, n_shared_prefixes, tokens_total, tokens_cacheable,
        |       CAST(floor(CAST(tokens_cacheable AS DOUBLE) * 1000000.0e0
        |         / CAST(tokens_total AS DOUBLE)) AS BIGINT) AS cache_ppm
        |FROM a""".stripMargin,
    "q_pack_sequences" ->
      s"""WITH d AS (SELECT source, doc_id,
         |                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
         |           FROM documents),
         |o AS (SELECT source, doc_id, n_tokens,
         |             CAST(coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
         |                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_offset
         |      FROM d)
         |SELECT source, doc_id, n_tokens, tok_offset,
         |       tok_offset // $PackBudget AS first_bin,
         |       (tok_offset + n_tokens - 1) // $PackBudget AS last_bin
         |FROM o ORDER BY source, doc_id""".stripMargin,
    "q_chunk_plan" ->
      s"""WITH d AS (SELECT doc_id,
         |                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
         |           FROM documents),
         |c AS (SELECT doc_id, n_tokens,
         |             1 + (greatest(n_tokens - $ChunkWin, 0) + $ChunkStride - 1) // $ChunkStride AS n_chunks
         |      FROM d)
         |SELECT doc_id, n_tokens, CAST(n_chunks AS BIGINT) AS n_chunks,
         |       CAST((n_chunks - 1) * $ChunkStride AS BIGINT) AS last_start,
         |       CAST(greatest((n_chunks - 1) * ${ChunkWin - ChunkStride}, 0) AS BIGINT) AS overlap_tokens
         |FROM c ORDER BY doc_id""".stripMargin,
    "q_vocab_encode" ->
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         |vc AS (SELECT word, count(*) AS c
         |       FROM (SELECT unnest(ws) AS word FROM w) GROUP BY word),
         |vocab AS (SELECT word, CAST(row_number() OVER (ORDER BY c DESC, word) AS BIGINT) AS id
         |          FROM vc QUALIFY id <= $VocabSize),
         |tok0 AS (SELECT doc_id,
         |                unnest(list_transform(range(1, least(len(ws), $EncodeLen) + 1),
         |                  i -> struct_pack(pos := i, word := ws[i]))) AS t
         |         FROM w),
         |tok AS (SELECT doc_id, t.pos AS pos, t.word AS word FROM tok0)
         |SELECT t.doc_id, count(*) AS n_enc,
         |       array_to_string(list(CAST(coalesce(v.id, 0) AS BIGINT) ORDER BY t.pos), ',') AS token_ids
         |FROM tok t LEFT JOIN vocab v USING (word)
         |GROUP BY t.doc_id ORDER BY doc_id""".stripMargin
  )
}
