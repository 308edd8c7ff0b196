package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Hash, Tables}

/** Text analysis + deduplication over `documents` (north-star LLM-pipeline
  * surface; the reference has no text ops — all NS).
  *
  * Word and shingle hashes are [[graft.core.Hash]]'s md5 prefix, so sketch
  * queries (MinHash, SimHash, fingerprints) hash-match the oracle exactly.
  * At 100 TB every query here is embarrassingly parallel per document
  * (narrow, no shuffle) or shuffles only small sketch rows.
  */
object TextQueries extends graft.SparkEntry.Module {

  private val words: Column = split(col("text"), " ")

  /** Word-level 3-gram shingles of a words array. Guarded: with <3 words,
    * `sequence(1, size-2)` would be DESCENDING (sequence counts down when
    * stop<start) and `element_at(w, 0)` throws — short docs get an empty
    * shingle set instead, matching the oracle's `range(1, len-1)` (empty when
    * stop<=start).
    */
  def shingles3(w: Column): Column =
    when(size(w) >= 3,
      transform(sequence(lit(1), size(w) - 2),
        i => concat_ws(" ", element_at(w, i), element_at(w, i + 1), element_at(w, i + 2))))
      .otherwise(array().cast("array<string>"))

  /** DuckDB spelling of [[shingles3]] over a `ws` word list
    * (`range(1, len - 1)` is empty below 3 words).
    */
  private[text] val Shingles3Sql =
    "list_transform(range(1, len(ws) - 1), i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])"

  /** q_dedup_ngram blocking key and its population cap (see the query's
    * comment).
    */
  val NgramKeys = Seq("n_words", "first_word")
  val NgramBlockCap = 1000

  // MinHash parameters: k independent universal hashes over a Mersenne prime.
  val MinhashK = 16
  val P: Long = 2147483647L // 2^31 - 1
  private def mhA(j: Int): Long = 2L * j + 1
  private def mhB(j: Int): Long = 12345L * j + 7

  /** MinHash function `j` of a 32-bit hash; a signature value is its min
    * over a doc's shingle hashes.
    */
  private def minhash(j: Int, h: Column): Column = (h * mhA(j) + mhB(j)) % P
  private def minhashSql(j: Int, h: String): String = s"($h * ${mhA(j)} + ${mhB(j)}) % $P"

  /** The k signature values as min aggregates over an `h` hash column,
    * named `sig0` .. `sig15`, and their DuckDB spelling.
    */
  private[text] def minhashAggs: Seq[Column] =
    (0 until MinhashK).map(j => min(minhash(j, col("h"))).as(s"sig$j"))
  private[text] val MinhashAggSql: String =
    (0 until MinhashK).map(j => s"min(${minhashSql(j, "h")}) AS sig$j").mkString(", ")

  /** Per-language tiny stopword lists for the n-gram/stopword language-ID
    * heuristic (decide by hit-count ratio; deterministic argmax).
    */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and"),
    "es" -> Seq("el", "la", "de", "y"),
    "de" -> Seq("der", "die", "das", "und"))

  /** Memoized (doc_id, j, minhash) signature table for the fixture at
    * `dir` — words -> shingles -> shingle hashes materialized as separate
    * projections (each computed once per row instead of once per
    * (signature, element) inside the lambdas), then localCheckpointed. At
    * 100 TB the MinHash sketch table is a PERSISTED artifact that banding,
    * estimation, and dedup queries all consume; rows are 3 longs per
    * signature.
    */
  def minhashSigsFor(s: SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    ArtifactMemo("minhash_sigs", s, dir) {
      val sigs = (0 until MinhashK).map { j =>
        struct(lit(j.toLong).as("j"),
          array_min(transform(col("hs"), h => minhash(j, h))).as("minhash"))
      }
      Tables.documents(s, dir)
        .select(col("doc_id"), words.as("ws"))
        .select(col("doc_id"), transform(shingles3(col("ws")), x => Hash.prefix(x)).as("hs"))
        .select(col("doc_id"), explode(array(sigs: _*)).as("sig"))
        .select(col("doc_id"), col("sig.j").as("j"), col("sig.minhash").as("minhash"))
        .localCheckpoint(eager = false)
    }

  /** DuckDB CTEs `w(doc_id, ws)`, `shl(doc_id, sh)` (each doc's shingles,
    * repeats kept) and `sigs(doc_id, j, minhash)`: the oracle twin of
    * [[minhashSigsFor]].
    */
  private[text] val MinhashSigsCtes: String = {
    val sigs = (0 until MinhashK).map { j =>
      val minhash = minhashSql(j, Hash.prefixSql("x"))
      s"SELECT doc_id, CAST($j AS BIGINT) AS j, list_min(list_transform(sh, x -> $minhash)) AS minhash FROM shl"
    }.mkString("\nUNION ALL\n")
    s"""w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |shl AS (SELECT doc_id, $Shingles3Sql AS sh FROM w),
       |sigs AS (
       |$sigs
       |)""".stripMargin
  }

  /** Memoized (doc_id, n_words, first_word, sh) distinct-shingle table:
    * per-doc distinct 3-gram shingle sets with the blocking keys. Four
    * queries (ngram dedup, containment, sketch-accuracy, nearDupPairs) read
    * it instead of each re-deriving the split→shingle→distinct arrays.
    */
  def shingleSetsFor(s: SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    ArtifactMemo("shingle_sets", s, dir) {
      Tables.documents(s, dir)
        .select(col("doc_id"), words.as("ws"))
        .select(col("doc_id"),
          size(col("ws")).cast("long").as("n_words"),
          element_at(col("ws"), 1).as("first_word"),
          array_distinct(shingles3(col("ws"))).as("sh"))
        .localCheckpoint(eager = false)
    }

  /** Memoized (doc_a, doc_b, hamming) simhash near-pair edges
    * (Hamming <= 3). At 100 TB the near-dup edge set is the central
    * persisted artifact of the dedup pipeline: q_simhash_pairs, the CC
    * labels below and triangle counting read it, nothing recomputes it.
    */
  def simhashPairsFor(s: SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    ArtifactMemo("simhash_pairs", s, dir) {
      TextDedup.simhashNearPairs(queries("q_dedup_simhash")(s, dir), maxHamming = 3)
        .localCheckpoint(eager = false)
    }

  /** Memoized (doc_id, component) labels for the fixture at `dir`: the
    * converged components over the simhash near-dup edges, which both
    * q_dedup_components and q_split_leakage consume (the cluster map).
    */
  def componentLabelsFor(s: SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    ArtifactMemo("component_labels", s, dir) {
      val docs = Tables.documents(s, dir).select("doc_id")
      val edges = simhashPairsFor(s, dir).select("doc_a", "doc_b")
      TextDedup.connectedComponents(docs, edges).localCheckpoint(eager = false)
    }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Language ID: stopword hit counts per candidate language, argmax with
    // ties -> 'und'. (n-gram heuristic family; the fixture corpus is an
    // English-ish analytics vocabulary, so mostly 'en' — the operator, not
    // the corpus, is under test.)
    "q_text_langid" -> { (s, dir) =>
      val scores = langMarkers.map { case (lang, ws) =>
        val markers = array(ws.map(lit): _*)
        struct(size(array_intersect(words, markers)).cast("long").as("hits"), lit(lang).as("lang"))
      }
      // argmax by (hits desc, lang asc); 0 hits -> 'und'
      val best = sort_array(array(scores: _*), asc = false).getItem(0)
      Tables.documents(s, dir)
        .select(col("doc_id"),
          when(best.getField("hits") > 0, best.getField("lang")).otherwise("und").as("pred_lang"),
          best.getField("hits").as("n_hits"))
        .orderBy("doc_id")
    },
    // NS: model-eval of the engine's OWN langid operator — confusion matrix
    // of predicted vs fixture-truth language plus per-class recall shares.
    // The per-row prediction is the identical narrow expression as
    // q_text_langid; the matrix is one tiny two-key aggregate. This is the
    // eval loop a curation pipeline closes over its classifiers.
    "q_langid_confusion" -> { (s, dir) =>
      val scores = langMarkers.map { case (lang, ws) =>
        val markers = array(ws.map(lit): _*)
        struct(size(array_intersect(words, markers)).cast("long").as("hits"),
          lit(lang).as("lang"))
      }
      val best = sort_array(array(scores: _*), asc = false).getItem(0)
      val pred = Tables.documents(s, dir)
        .select(col("lang").as("true_lang"),
          when(best.getField("hits") > 0, best.getField("lang"))
            .otherwise("und").as("pred_lang"))
      val conf = pred.groupBy("true_lang", "pred_lang").agg(count(lit(1)).as("n"))
      val tot = pred.groupBy("true_lang").agg(count(lit(1)).as("n_true"))
      conf.join(broadcast(tot), "true_lang")
        .select(col("true_lang"), col("pred_lang"), col("n"),
          round(col("n").cast("double") / col("n_true").cast("double"), 6).as("frac"))
        .orderBy("true_lang", "pred_lang")
    },

    // Quality scoring: length/stopword/char-class ratios + a composite score.
    "q_text_quality" -> { (s, dir) =>
      val stop = array(Seq("the", "a", "of", "and", "to", "in").map(lit): _*)
      val nWords = size(words).cast("double")
      val nStop = size(filter(words, w => array_contains(stop, w))).cast("double")
      val meanLen = length(col("text")).cast("double") / nWords
      Tables.documents(s, dir)
        .select(col("doc_id"),
          size(words).cast("long").as("n_words"),
          round(nStop / nWords, 6).as("stopword_ratio"),
          round(meanLen, 6).as("mean_word_len"),
          round(least(lit(1.0), nWords / 100) * (lit(1.0) - nStop / nWords), 6).as("quality"))
        .orderBy("doc_id")
    },
    // Token counting: whitespace tokens, BPE-ish regex tokens
    // (letter-runs | digit-runs | single other), 4-char subword pieces.
    "q_text_tokens" -> { (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          size(split(col("text"), "\\s+")).cast("long").as("n_ws"),
          size(regexp_extract_all(col("text"), lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"), lit(0))).cast("long").as("n_bpe"),
          aggregate(transform(words, w => ceil(length(w) / lit(4.0)).cast("long")),
            lit(0L), (a, x) => a + x).as("n_subword"))
        .orderBy("doc_id")
    },
    // Document fingerprint: left-fold polynomial rolling hash over 32-bit
    // word hashes, h = (h*31 + v) mod (1e9+7).
    "q_text_fingerprint" -> { (s, dir) =>
      val fp = aggregate(transform(words, w => Hash.prefix(w)), lit(0L),
        (acc, v) => (acc * 31 + v) % 1000000007L)
      Tables.documents(s, dir)
        .select(col("doc_id"), fp.as("fingerprint"))
        .orderBy("doc_id")
    },

    // NS: n-gram novelty / boilerplate ratio — the share of a doc's 3-gram
    // shingles that appear in at least one OTHER doc (headers, footers,
    // templated text score high; novel prose scores low — the filter signal
    // between exact dedup and near-dup). Rides the memoized shingle-set
    // artifact; the shingle document-frequency table is vocabulary-sized
    // and unbounded at web scale, so the join back is hint-free (AQE
    // broadcasts at fixture scale, shuffles at corpus scale). Docs under 3
    // words have no shingles and drop out on both engines.
    "q_ngram_novelty" -> { (s, dir) =>
      val docSh = shingleSetsFor(s, dir).select(col("doc_id"), explode(col("sh")).as("sh"))
      // sh is per-doc distinct, so count(*) per shingle == document frequency
      val df = docSh.groupBy("sh").agg(count(lit(1)).as("n_docs"))
      docSh.join(df, "sh")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_shingles"),
          sum(when(col("n_docs") >= 2, 1L).otherwise(0L)).as("n_shared"))
        .select(col("doc_id"), col("n_shingles"), col("n_shared"),
          round(col("n_shared") / col("n_shingles"), 6).as("boilerplate_ratio"))
        .orderBy("doc_id")
    },

    // ---- dedup family ------------------------------------------------------

    // Exact dedup: hash-groupBy on content, canonical = min doc_id. At scale
    // this is one shuffle of (hash, id) pairs, never of document bodies.
    "q_dedup_exact" -> { (s, dir) =>
      Tables.documents(s, dir)
        .groupBy(md5(col("text")).as("content_hash"))
        .agg(min("doc_id").as("canonical_id"), count(lit(1)).as("n_copies"))
        .orderBy("canonical_id")
    },

    // NS: dedup savings ledger — the number a curation run actually
    // reports upward: how many TRAINING TOKENS does exact dedup remove?
    // Per content-hash group, the removed mass is the group's token sum
    // minus the kept copy's tokens (min-doc_id canonical, the
    // q_dedup_exact policy — kept tokens selected by the same
    // min(struct) argmin, so duplicate bodies never shuffle). One hash
    // aggregate; savings ratio DOUBLE-floored to ppm over exact sums.
    "q_dedup_savings" -> { (s, dir) =>
      val d = Tables.documents(s, dir)
        .select(md5(col("text")).as("h"), col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("toks"))
      val grp = d.groupBy("h").agg(
        count(lit(1)).as("n_copies"),
        sum("toks").as("tok_sum"),
        min(struct(col("doc_id"), col("toks"))).as("kept"))
      grp.agg(
          count(lit(1)).as("n_groups"),
          sum("n_copies").as("n_docs"),
          sum(expr("n_copies - 1")).as("n_dup_docs"),
          sum("tok_sum").as("tokens_total"),
          sum(expr("tok_sum - kept.toks")).as("tokens_removed"))
        .withColumn("savings_ppm", expr(
          "CAST(floor(CAST(tokens_removed AS DOUBLE) * 1000000.0e0 " +
            "/ CAST(tokens_total AS DOUBLE)) AS BIGINT)"))
    },
    // NS: survivorship dedup — the OTHER canonical-pick policy: among
    // near-identical normalized texts keep the RICHEST copy (max n_chars,
    // lowest doc_id on ties) instead of min-id. One min(struct) aggregate:
    // the (-n_chars, doc_id) struct min IS the argmax-with-tie-break, so
    // the shuffle carries one struct per group per partition (map-side
    // combined), never the duplicate bodies.
    "q_dedup_survivor" -> { (s, dir) =>
      val norm = regexp_replace(lower(col("text")), "[^a-z0-9 ]", "")
      Tables.documents(s, dir)
        .groupBy(md5(norm).as("content_hash"))
        .agg(min(struct((-col("n_chars")).as("neg_len"), col("doc_id"))).as("best"),
          count(lit(1)).as("n_copies"),
          max("n_chars").as("kept_chars"))
        .select(col("content_hash"), col("best.doc_id").as("survivor_id"),
          col("n_copies"), col("kept_chars"))
        .orderBy("survivor_id")
    },
    // MinHash sketch, exploded to (doc_id, j, minhash) so the oracle checks
    // every signature value. Sketch rows are k per doc — the only thing
    // shuffled at 100 TB.
    "q_dedup_minhash" -> { (s, dir) =>
      minhashSigsFor(s, dir).orderBy("doc_id", "j")
    },
    // MinHash as a true AGGREGATION (§2.10 q_udaf_minhash): shingles
    // exploded, then 16 distributive min-aggregates per doc — partial mins
    // on the map side, so the shuffle carries 16 longs per (doc,partition).
    // Same signature values as q_dedup_minhash's per-row HOF form.
    "q_udaf_minhash" -> { (s, dir) =>
      val aggs = minhashAggs
      graft.core.Par.fanOutIfCompact( // r12: parallelize shingle explode
          Tables.documents(s, dir).select("doc_id", "text"), col("doc_id"))
        .select(col("doc_id"), words.as("ws"))
        .select(col("doc_id"), explode(shingles3(col("ws"))).as("shingle"))
        .withColumn("h", Hash.prefix(col("shingle")))
        .groupBy("doc_id")
        .agg(aggs.head, aggs.tail: _*)
        .orderBy("doc_id")
    },
    // SimHash (32-bit): per-bit majority vote over word hashes, packed.
    "q_dedup_simhash" -> { (s, dir) =>
      val bitSums = (0 until 32).map(j =>
        sum(shiftright(col("v"), j).bitwiseAND(lit(1L)) * 2 - 1).as(s"s$j"))
      val packed = (0 until 32).map(j =>
        when(col(s"s$j") > 0, lit(1L << j)).otherwise(lit(0L))).reduce(_ + _)
      Tables.documents(s, dir)
        .select(col("doc_id"), explode(words).as("word"))
        .withColumn("v", Hash.prefix(col("word")))
        .groupBy("doc_id")
        .agg(bitSums.head, bitSums.tail: _*)
        .select(col("doc_id"), packed.as("simhash"))
        .orderBy("doc_id")
    },
    // N-gram Jaccard near-dup: candidate pairs blocked on (n_words,
    // first_word) — an equi-join, never an all-pairs cross product — then
    // exact Jaccard over distinct 3-gram shingle sets. Blocks larger than
    // NgramBlockCap are dropped (the capped block self-join the LSH bands
    // use, mirrored in the oracle): a block of b docs costs b(b-1)/2
    // pairs, so one hot key ("the ..." x 10M docs) must not go quadratic
    // at 100 TB.
    "q_dedup_ngram" -> { (s, dir) =>
      // shared shingle-set artifact (shingleSetsFor memo); the memo itself
      // materializes words once per row before shingling — referencing
      // `split(text)` inside the shingle lambda would re-split per element
      // (no CSE across HOF lambda bodies), O(words^2) per doc
      val sized = TextDedup.withBlockSize(shingleSetsFor(s, dir), NgramKeys)
      TextDedup.blockPairs(sized, NgramKeys, NgramBlockCap, "sh")
        .select(col("doc_a"), col("doc_b"), round(TextDedup.jaccard, 6).as("jaccard"))
        .filter(col("jaccard") >= 0.05)
        .orderBy("doc_a", "doc_b")
    },
    // MinHash LSH banding candidates (TextDedup.minhashCandidates) as a
    // first-class query: docs sharing ANY of the 4 bands of their 16-value
    // signature become a candidate pair. The oracle rebuilds the exact band
    // fingerprints in DuckDB — every emitted pair cross-checked.
    "q_lsh_candidates" -> { (s, dir) =>
      TextDedup.minhashCandidatesFor(s, dir)
        .orderBy("doc_a", "doc_b")
    },
    // SimHash near-pairs via pigeonhole chunk banding
    // (TextDedup.simhashNearPairs). The banding is COMPLETE for Hamming<=3
    // (4 chunks, <=3 differing bits -> some chunk equal), so the oracle is
    // the brute-force all-pairs filter — the strongest possible
    // cross-engine proof that the optimized form loses nothing.
    "q_simhash_pairs" -> { (s, dir) =>
      simhashPairsFor(s, dir).orderBy("doc_a", "doc_b")
    },
    // Dedup canonicalization: connected components over the simhash
    // near-pair edges (min-label propagation, TextDedup.connectedComponents)
    // -> every doc mapped to its cluster's canonical (min) doc_id. The
    // oracle computes the same fixpoint as a recursive CTE — min reachable
    // id over the symmetric edge set.
    "q_dedup_components" -> { (s, dir) =>
      componentLabelsFor(s, dir).orderBy("doc_id")
    },
    // NS: train/test LEAKAGE AUDIT — near-dup clusters straddling split
    // boundaries (the reason dedup must run BEFORE splitting: a near-copy
    // of a training doc inside the test set inflates eval). Composes the
    // component labels with the deterministic hash split; report = the
    // leaking clusters with their per-split membership. Beyond the CC
    // fixpoint the audit is one component-key aggregate — tiny at any
    // corpus scale (clusters, not docs, reach the report).
    "q_split_leakage" -> { (s, dir) =>
      val labels = componentLabelsFor(s, dir)
      val bucket = pmod(Hash.prefix(concat(lit("split:"), col("doc_id").cast("string"))), lit(100))
      val split = Tables.documents(s, dir)
        .select(col("doc_id"), when(bucket < 80, "train")
          .when(bucket < 90, "valid").otherwise("test").as("split"))
      labels.join(split, "doc_id")
        .groupBy("component")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("split")).as("n_splits"),
          sum(when(col("split") === "train", 1L).otherwise(0L)).as("n_train"),
          sum(when(col("split") === "valid", 1L).otherwise(0L)).as("n_valid"),
          sum(when(col("split") === "test", 1L).otherwise(0L)).as("n_test"))
        .filter(col("n_splits") > 1)
        .orderBy("component")
    },

    // ---- corpus-prep family (NS) ------------------------------------------

    // NS: text normalization — the canonicalization pass every training
    // corpus runs before dedup/tokenization: lowercase, strip non-alnum,
    // collapse runs of spaces, trim. Narrow per-row (no shuffle); at 100 TB
    // it is a pure map stage fused into whatever scan follows it.
    "q_text_normalize" -> { (s, dir) =>
      val norm = trim(regexp_replace(
        regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), " +", " "))
      Tables.documents(s, dir)
        .select(col("doc_id"), norm.as("norm"))
        .select(col("doc_id"),
          substring(col("norm"), 1, 40).as("head40"),
          length(col("norm")).cast("long").as("n_chars_norm"),
          size(split(col("norm"), " ")).cast("long").as("n_tokens_norm"))
        .orderBy("doc_id")
    },
    // NS: deterministic train/valid/test split via content-free hash
    // bucketing — `Hash.prefix("split:" || doc_id) mod 100` -> 80/10/10. No RNG, so
    // the split is stable under retries, re-runs, and re-partitioning (the
    // property `sample(fraction)` does NOT have on a task retry), and any
    // engine can reproduce the assignment from doc_id alone.
    "q_sample_hash" -> { (s, dir) =>
      val bucket = pmod(Hash.prefix(concat(lit("split:"), col("doc_id").cast("string"))), lit(100))
      Tables.documents(s, dir)
        .select(col("doc_id"), bucket.cast("long").as("bucket"),
          when(bucket < 80, "train").when(bucket < 90, "valid")
            .otherwise("test").as("split"))
        .orderBy("doc_id")
    },
    // NS: source-weighted corpus mixing — per-source keep rates (derived
    // here deterministically from the source name: 20..79%) applied by the
    // same hash-bucket trick as q_sample_hash. This is the "sample web at
    // 30%, books at 70%" mixing step of a training-data pipeline, as one
    // narrow filter: no shuffle, no RNG, reproducible at any scale.
    "q_mix_sources" -> { (s, dir) =>
      val rate = pmod(Hash.prefix(col("source")), lit(60)) + lit(20)
      val bucket = pmod(Hash.prefix(concat(lit("mix:"), col("doc_id").cast("string"))), lit(100))
      Tables.documents(s, dir)
        .withColumn("rate_pct", rate)
        .withColumn("bucket", bucket)
        .filter(col("bucket") < col("rate_pct"))
        .select(col("doc_id"), col("source"), col("rate_pct").cast("long").as("rate_pct"))
        .orderBy("doc_id")
    },
    // NS: Gopher/C4-style repetition quality signals — the filters that
    // catch boilerplate and degenerate generations: distinct-word ratio,
    // the most-frequent word's share, and the duplicate-bigram fraction.
    // All narrow per-row HOF math; the per-doc top-word count is
    // O(distinct × words) inside one row — no shuffle anywhere.
    "q_text_repetition" -> { (s, dir) =>
      val ws = col("ws")
      val bigrams = when(size(ws) >= 2,
        transform(sequence(lit(1), size(ws) - 1),
          i => concat_ws(" ", element_at(ws, i), element_at(ws, i + 1))))
        .otherwise(array().cast("array<string>"))
      val topFreq = array_max(transform(array_distinct(ws),
        w => size(filter(ws, x => x === w))))
      Tables.documents(s, dir)
        .select(col("doc_id"), words.as("ws"))
        .select(col("doc_id"), ws, bigrams.as("bg"), topFreq.as("top_n"))
        .select(col("doc_id"),
          round(size(array_distinct(ws)).cast("double") / size(ws).cast("double"), 6)
            .as("distinct_ratio"),
          round(col("top_n").cast("double") / size(ws).cast("double"), 6)
            .as("top_word_frac"),
          round(when(size(col("bg")) > 0,
            lit(1.0) - size(array_distinct(col("bg"))).cast("double") / size(col("bg")).cast("double"))
            .otherwise(lit(0.0)), 6).as("dup_bigram_frac"))
        .orderBy("doc_id")
    },
    // NS: corpus-level top-20 terms by total frequency — the vocabulary
    // head a tokenizer trainer or stopword list builds from. One explode +
    // hash agg (partial map-side) + TakeOrderedAndProject (top-k merge on
    // the driver, never a global sort).
    "q_top_terms" -> { (s, dir) =>
      Tables.documents(s, dir)
        .select(explode(words).as("word"))
        .groupBy("word").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("word"))
        .limit(20)
    },
    // NS: document-length histogram (100-char buckets) — the corpus-shape
    // profile a length filter is tuned from. groupBy on a derived bucket
    // key; K buckets shuffle, not rows.
    "q_length_hist" -> { (s, dir) =>
      Tables.documents(s, dir)
        .groupBy((floor(col("n_chars") / 100) * 100).cast("long").as("len_bucket"))
        .agg(count(lit(1)).as("n_docs"),
          round(avg(size(words)), 6).as("avg_words"))
        .orderBy("len_bucket")
    },
    // NS: corpus document-frequency / IDF stats — the vocabulary table a
    // quality-filtering or TF-IDF stage needs. Distinct words per doc
    // explode to (word, doc) pairs; one hash shuffle on word (partial
    // counts map-side); the 1-row total joins in by broadcast.
    "q_doc_idf" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val total = docs.agg(count(lit(1)).cast("double").as("n_docs"))
      docs.select(col("doc_id"), explode(array_distinct(words)).as("word"))
        .groupBy("word").agg(count(lit(1)).as("df"))
        .filter(col("df") >= 5)
        .crossJoin(broadcast(total))
        .select(col("word"), col("df"),
          round(log(col("n_docs") / col("df").cast("double")), 6).as("idf"))
        .orderBy("word")
    }
  )

  /** DuckDB CTE prefix yielding `f(doc_id, simhash)` on the documents
    * table — the oracle-side twin of `queries("q_dedup_simhash")`, shared
    * with [[GraphQueries]]'s oracle, which reruns the same near-dup edge set.
    */
  private[graft] val simhashFrameCte: String = {
    val bitSums = (0 until 32).map(j => s"sum(((v >> $j) & 1) * 2 - 1) AS s$j").mkString(", ")
    val packed = (0 until 32)
      .map(j => s"CASE WHEN s$j > 0 THEN (CAST(1 AS BIGINT) << $j) ELSE 0 END").mkString(" + ")
    s"""w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
       |v AS (SELECT doc_id, ${Hash.prefixSql("word")} AS v FROM w),
       |s AS (SELECT doc_id, $bitSums FROM v GROUP BY doc_id),
       |f AS (SELECT doc_id, $packed AS simhash FROM s)""".stripMargin
  }

  def oracleSql: Map[String, String] = {
    val langScore = langMarkers.map { case (lang, ws) =>
      val arr = ws.map(w => s"'$w'").mkString("[", ", ", "]")
      s"struct_pack(hits := CAST(len(list_intersect(ws, $arr)) AS BIGINT), lang := '$lang')"
    }.mkString("[", ", ", "]")

    // simhash frame -> near-pair edges -> min-label components; shared by
    // q_dedup_components and q_split_leakage
    val ccPrelude =
      s"""WITH RECURSIVE
         |$simhashFrameCte,
         |e0 AS (SELECT a.doc_id AS a, b.doc_id AS b
         |       FROM f a JOIN f b ON a.doc_id < b.doc_id
         |       WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
         |${TextDedup.componentsSql("documents", "doc_id")}""".stripMargin

    Map(
      "q_udaf_minhash" ->
        s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
           |sh AS (SELECT doc_id, unnest($Shingles3Sql) AS shingle
           |       FROM w),
           |h AS (SELECT doc_id, ${Hash.prefixSql("shingle")} AS h FROM sh)
           |SELECT doc_id, $MinhashAggSql
           |FROM h GROUP BY doc_id ORDER BY doc_id""".stripMargin,
      "q_text_langid" ->
        s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
           |best AS (SELECT doc_id, list_reverse_sort($langScore)[1] AS b FROM t)
           |SELECT doc_id,
           |       CASE WHEN b.hits > 0 THEN b.lang ELSE 'und' END AS pred_lang,
           |       b.hits AS n_hits
           |FROM best ORDER BY doc_id""".stripMargin,
      "q_langid_confusion" ->
        s"""WITH t AS (SELECT lang AS true_lang, string_split(text, ' ') AS ws FROM documents),
           |best AS (SELECT true_lang, list_reverse_sort($langScore)[1] AS b FROM t),
           |p AS (SELECT true_lang,
           |             CASE WHEN b.hits > 0 THEN b.lang ELSE 'und' END AS pred_lang
           |      FROM best),
           |c AS (SELECT true_lang, pred_lang, count(*) AS n FROM p GROUP BY 1, 2),
           |tot AS (SELECT true_lang, count(*) AS n_true FROM p GROUP BY 1)
           |SELECT c.true_lang, c.pred_lang, c.n,
           |       round(c.n::DOUBLE / tot.n_true::DOUBLE, 6) AS frac
           |FROM c JOIN tot USING (true_lang)
           |ORDER BY true_lang, pred_lang""".stripMargin,
      "q_text_quality" ->
        """WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS ws FROM documents),
          |m AS (SELECT doc_id,
          |             CAST(len(ws) AS DOUBLE) AS n_words,
          |             CAST(len(list_filter(ws, w -> list_contains(['the','a','of','and','to','in'], w))) AS DOUBLE) AS n_stop,
          |             CAST(length(text) AS DOUBLE) AS n_chars
          |      FROM t)
          |SELECT doc_id,
          |       CAST(n_words AS BIGINT) AS n_words,
          |       round(n_stop / n_words, 6) AS stopword_ratio,
          |       round(n_chars / n_words, 6) AS mean_word_len,
          |       round(least(1.0, n_words / 100) * (1.0 - n_stop / n_words), 6) AS quality
          |FROM m ORDER BY doc_id""".stripMargin,
      "q_text_tokens" ->
        """SELECT doc_id,
          |       CAST(len(regexp_split_to_array(text, '\s+')) AS BIGINT) AS n_ws,
          |       CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS BIGINT) AS n_bpe,
          |       CAST(list_sum(list_transform(string_split(text, ' '),
          |            u -> CAST(ceil(length(u) / 4.0) AS BIGINT))) AS BIGINT) AS n_subword
          |FROM documents ORDER BY doc_id""".stripMargin,
      "q_text_fingerprint" ->
        s"""WITH t AS (SELECT doc_id,
          |                  list_transform(string_split(text, ' '),
          |                    u -> ${Hash.prefixSql("u")}) AS vs
          |           FROM documents)
          |SELECT doc_id,
          |       list_reduce(list_prepend(CAST(0 AS BIGINT), vs),
          |                   (acc, v) -> (acc * 31 + v) % 1000000007) AS fingerprint
          |FROM t ORDER BY doc_id""".stripMargin,
      "q_ngram_novelty" ->
        s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
           |shl AS (SELECT doc_id, list_distinct($Shingles3Sql) AS sh FROM w),
           |e AS (SELECT doc_id, unnest(sh) AS sh FROM shl),
           |df AS (SELECT sh, count(*) AS n_docs FROM e GROUP BY sh)
           |SELECT e.doc_id, count(*) AS n_shingles,
           |       CAST(sum(CASE WHEN df.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
           |       round(sum(CASE WHEN df.n_docs >= 2 THEN 1 ELSE 0 END) / count(*), 6)
           |         AS boilerplate_ratio
           |FROM e JOIN df USING (sh)
           |GROUP BY e.doc_id
           |ORDER BY e.doc_id""".stripMargin,
      "q_dedup_exact" ->
        """SELECT md5(text) AS content_hash, min(doc_id) AS canonical_id, count(*) AS n_copies
          |FROM documents GROUP BY content_hash ORDER BY canonical_id""".stripMargin,
      // identical min-struct canonical pick and the DOUBLE-floored ratio
      "q_dedup_savings" ->
        """WITH d AS (SELECT md5(text) AS h, doc_id,
          |                  CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
          |           FROM documents),
          |g AS (SELECT h, CAST(count(*) AS BIGINT) AS n_copies,
          |             CAST(sum(toks) AS BIGINT) AS tok_sum,
          |             (min(struct_pack(doc_id := doc_id, toks := toks))).toks AS kept_toks
          |      FROM d GROUP BY 1),
          |a AS (SELECT CAST(count(*) AS BIGINT) AS n_groups,
          |             CAST(sum(n_copies) AS BIGINT) AS n_docs,
          |             CAST(sum(n_copies - 1) AS BIGINT) AS n_dup_docs,
          |             CAST(sum(tok_sum) AS BIGINT) AS tokens_total,
          |             CAST(sum(tok_sum - kept_toks) AS BIGINT) AS tokens_removed
          |      FROM g)
          |SELECT n_groups, n_docs, n_dup_docs, tokens_total, tokens_removed,
          |       CAST(floor(CAST(tokens_removed AS DOUBLE) * 1000000.0e0
          |         / CAST(tokens_total AS DOUBLE)) AS BIGINT) AS savings_ppm
          |FROM a""".stripMargin,
      "q_dedup_survivor" ->
        """WITH n AS (SELECT doc_id, n_chars,
          |                  md5(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')) AS content_hash
          |           FROM documents),
          |r AS (SELECT content_hash, doc_id, n_chars,
          |             row_number() OVER (PARTITION BY content_hash
          |               ORDER BY n_chars DESC, doc_id) AS rn
          |      FROM n),
          |g AS (SELECT content_hash, count(*) AS n_copies, max(n_chars) AS kept_chars
          |      FROM n GROUP BY content_hash)
          |SELECT r.content_hash, r.doc_id AS survivor_id, g.n_copies, g.kept_chars
          |FROM r JOIN g USING (content_hash)
          |WHERE r.rn = 1 ORDER BY survivor_id""".stripMargin,
      "q_dedup_minhash" ->
        s"""WITH $MinhashSigsCtes
           |SELECT doc_id, j, minhash FROM sigs ORDER BY doc_id, j""".stripMargin,
      "q_dedup_simhash" ->
        s"""WITH $simhashFrameCte
           |SELECT doc_id, simhash FROM f ORDER BY doc_id""".stripMargin,
      // LSH banding candidates: rebuild the per-(doc, band) signature
      // fingerprint exactly and replay the size-capped band-bucket equi-join.
      "q_lsh_candidates" ->
        s"""WITH ${TextDedup.CandidateCtes}
           |SELECT doc_a, doc_b FROM pairs ORDER BY doc_a, doc_b""".stripMargin,
      // recursive min-reachable-id fixpoint over the symmetric simhash edge
      // set == the label-propagation result (undirected reachability)
      "q_dedup_components" ->
        s"""$ccPrelude
           |SELECT doc_id, component FROM labels ORDER BY doc_id""".stripMargin,
      // same CC fixpoint + the q_sample_hash split; clusters spanning >1
      // split are the leakage report
      "q_split_leakage" ->
        s"""$ccPrelude,
           |sp AS (SELECT doc_id,
           |              CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'valid'
           |                   ELSE 'test' END AS split
           |       FROM (SELECT doc_id,
           |                    ${Hash.prefixSql("'split:' || CAST(doc_id AS VARCHAR)")} % 100 AS b
           |             FROM documents) t)
           |SELECT l.component, count(*) AS n_docs,
           |       CAST(count(DISTINCT s.split) AS BIGINT) AS n_splits,
           |       CAST(sum(CASE WHEN s.split = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
           |       CAST(sum(CASE WHEN s.split = 'valid' THEN 1 ELSE 0 END) AS BIGINT) AS n_valid,
           |       CAST(sum(CASE WHEN s.split = 'test' THEN 1 ELSE 0 END) AS BIGINT) AS n_test
           |FROM labels l JOIN sp s USING (doc_id)
           |GROUP BY l.component HAVING count(DISTINCT s.split) > 1
           |ORDER BY component""".stripMargin,
      // brute-force all-pairs Hamming filter: the chunk-banding plan must
      // produce EXACTLY this (pigeonhole completeness for d<=3)
      "q_simhash_pairs" ->
        s"""WITH $simhashFrameCte
           |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           |       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
           |FROM f a JOIN f b ON a.doc_id < b.doc_id
           |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
           |ORDER BY doc_a, doc_b""".stripMargin,
      "q_dedup_ngram" ->
        s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
           |d0 AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_words, ws[1] AS first_word,
           |              list_distinct($Shingles3Sql) AS sh
           |       FROM w),
           |d AS (SELECT * FROM d0 ${TextDedup.cappedSql(NgramKeys, NgramBlockCap)})
           |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, round(${TextDedup.JaccardSql}, 6) AS jaccard
           |FROM ${TextDedup.selfJoinSql("d", NgramKeys)}
           |WHERE round(${TextDedup.JaccardSql}, 6) >= 0.05
           |ORDER BY doc_a, doc_b""".stripMargin,
      "q_text_normalize" ->
        """WITH n AS (SELECT doc_id,
          |                  trim(regexp_replace(regexp_replace(lower(text),
          |                    '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS norm
          |           FROM documents)
          |SELECT doc_id, substr(norm, 1, 40) AS head40,
          |       CAST(length(norm) AS BIGINT) AS n_chars_norm,
          |       CAST(len(string_split(norm, ' ')) AS BIGINT) AS n_tokens_norm
          |FROM n ORDER BY doc_id""".stripMargin,
      "q_sample_hash" ->
        s"""WITH b AS (SELECT doc_id,
          |                  ${Hash.prefixSql("'split:' || CAST(doc_id AS VARCHAR)")} % 100 AS bucket
          |           FROM documents)
          |SELECT doc_id, CAST(bucket AS BIGINT) AS bucket,
          |       CASE WHEN bucket < 80 THEN 'train'
          |            WHEN bucket < 90 THEN 'valid' ELSE 'test' END AS split
          |FROM b ORDER BY doc_id""".stripMargin,
      "q_mix_sources" ->
        s"""WITH d AS (SELECT doc_id, source,
          |                  (${Hash.prefixSql("source")} % 60) + 20 AS rate_pct,
          |                  ${Hash.prefixSql("'mix:' || CAST(doc_id AS VARCHAR)")} % 100 AS bucket
          |           FROM documents)
          |SELECT doc_id, source, CAST(rate_pct AS BIGINT) AS rate_pct
          |FROM d WHERE bucket < rate_pct ORDER BY doc_id""".stripMargin,
      "q_text_repetition" ->
        """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
          |b AS (SELECT doc_id, ws,
          |             list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1]) AS bg,
          |             list_max(list_transform(list_distinct(ws),
          |               w -> len(list_filter(ws, x -> x = w)))) AS top_n
          |      FROM t)
          |SELECT doc_id,
          |       round(CAST(len(list_distinct(ws)) AS DOUBLE) / CAST(len(ws) AS DOUBLE), 6) AS distinct_ratio,
          |       round(CAST(top_n AS DOUBLE) / CAST(len(ws) AS DOUBLE), 6) AS top_word_frac,
          |       round(CASE WHEN len(bg) > 0
          |                  THEN 1.0 - CAST(len(list_distinct(bg)) AS DOUBLE) / CAST(len(bg) AS DOUBLE)
          |                  ELSE 0.0 END, 6) AS dup_bigram_frac
          |FROM b ORDER BY doc_id""".stripMargin,
      "q_top_terms" ->
        """SELECT word, count(*) AS n
          |FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
          |GROUP BY word ORDER BY n DESC, word LIMIT 20""".stripMargin,
      "q_length_hist" ->
        """SELECT CAST(floor(n_chars / 100) * 100 AS BIGINT) AS len_bucket,
          |       count(*) AS n_docs,
          |       round(avg(len(string_split(text, ' '))), 6) AS avg_words
          |FROM documents GROUP BY len_bucket ORDER BY len_bucket""".stripMargin,
      "q_doc_idf" ->
        """WITH total AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
          |w AS (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS word
          |      FROM documents),
          |df AS (SELECT word, CAST(count(*) AS BIGINT) AS df FROM w GROUP BY word)
          |SELECT word, df, round(ln(total.n_docs / CAST(df AS DOUBLE)), 6) AS idf
          |FROM df CROSS JOIN total WHERE df >= 5 ORDER BY word""".stripMargin
    )
  }
}
