package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Hash, Tables}

/** Training-corpus hygiene operators (north-star LLM-pipeline surface, all
  * NS — the reference has no text ops): PII redaction, benchmark
  * contamination detection, sub-document (paragraph/chunk) dedup, MinHash
  * accuracy estimation, and tokenizer compression stats.
  *
  * Scale notes: everything here is either narrow per-row regex/HOF math or
  * an equi-join on a small derived key. The contamination check broadcasts
  * the eval-set shingle hashes (benchmarks are KBs-to-MBs even when the
  * corpus is 100 TB); chunk dedup shuffles (hash, position) pairs, never
  * chunk text bodies beyond the md5 input.
  */
object CorpusQueries extends graft.SparkEntry.Module {

  private val words: Column = split(col("text"), " ")

  /** BPE-trainer building blocks (q_bpe_train), exposed for the plan spec.
    * Vocab-first: the corpus collapses to DISTINCT words with counts
    * before any symbol work, so every merge round is vocabulary-bounded.
    */
  private val BpeS = "\u0001"

  private[graft] def bpeVocab(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(explode(words).as("word"))
      .filter(length(col("word")) >= 1)
      .groupBy("word").agg(count(lit(1)).as("wc"))
      .select(col("wc"),
        concat(lit(BpeS), concat_ws(BpeS + BpeS, split(col("word"), "")), lit(BpeS)).as("sym"))

  private[graft] def bpePairCounts(d: DataFrame): DataFrame = {
    // toks gets its own projection: CollapseProject refuses to inline a
    // non-cheap multiply-referenced alias, so the split runs ONCE per row
    // instead of once per element_at. explode_OUTER (+ the explicit null
    // filter above the Generate) rather than explode: a plain explode
    // makes InferFiltersFromGenerate add size(ps)>0 below the Generate,
    // and predicate pushdown then re-inlines the whole split expression
    // into that filter — 4 extra splits per row for a guard we don't need.
    val toks = col("toks")
    d.select(col("wc"),
        split(expr("substring(sym, 2, length(sym) - 2)"), BpeS + BpeS).as("toks"))
      .select(col("wc"),
        when(size(toks) >= 2,
          transform(sequence(lit(1), size(toks) - 1),
            i => struct(element_at(toks, i).as("a"), element_at(toks, i + 1).as("b"))))
          .otherwise(array().cast("array<struct<a:string,b:string>>")).as("ps"))
      .select(col("wc"), explode_outer(col("ps")).as("p"))
      .filter(col("p").isNotNull)
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(sum("wc").as("n"))
  }

  private[graft] def bpeTop1(pc: DataFrame): DataFrame =
    pc.orderBy(col("n").desc, col("a"), col("b")).limit(1)

  private[graft] def bpeMerge(d: DataFrame, t: DataFrame): DataFrame =
    d.crossJoin(broadcast(t.select(col("a").as("ma"), col("b").as("mb"))))
      .withColumn("sym", expr(
        "replace(sym, concat(chr(1), ma, chr(1), chr(1), mb, chr(1)), " +
          "concat(chr(1), ma, mb, chr(1)))"))
      .drop("ma", "mb")

  /** Docs with doc_id < EvalDocs play "the held-out benchmark" in the
    * contamination check; the rest are the training corpus.
    */
  val EvalDocs = 20

  /** q_dedup_eval: exact-Jaccard bar a pair must clear to count as a true
    * near-duplicate. 0.8 is the standard near-dup dedup bar, and it sits
    * ABOVE the b=4, r=4 S-curve midpoint ((1/4)^(1/4) ≈ 0.707): fire
    * probability at j=0.8 is 1-(1-0.8^4)^4 ≈ 0.88 and rises to 1 at j=1,
    * so a LOW recall at this bar indicts the index, not the curve. (At
    * j=0.5 the same curve fires at only ~0.23 — a bar down there would
    * measure the S-curve's designed softness, not index health.)
    */
  val DedupEvalTau = 0.8

  /** Chunk width (in words) for sub-document dedup. */
  val ChunkWords = 10

  // PII patterns shared by query and oracle (RE2/Java-regex common subset:
  // no lookarounds, no \b — both engines interpret these identically).
  private val EmailRe = "[a-z0-9#]+@[a-z0-9-]+\\.org"
  private val PhoneRe = "555-[0-9]{4}"

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // NS: PII redaction — the scrub pass a corpus runs before training.
    // The fixture has no real PII, so a contact blob is derived
    // deterministically from customer fields (same construction in the
    // oracle), then emails/phones are counted and masked. Narrow per-row
    // regex work; at 100 TB this is a map stage fused into the scan.
    "q_pii_redact" -> { (s, dir) =>
      val blob = concat(col("c_name"), lit(" <"), lower(col("c_name")),
        lit("@mail-"), col("c_nationkey").cast("string"), lit(".org> call 555-"),
        lpad(pmod(col("c_custkey"), lit(10000)).cast("string"), 4, "0"))
      Tables.customer(s, dir)
        .select(col("c_custkey"), blob.as("contact"))
        .select(col("c_custkey"),
          regexp_count(col("contact"), lit(EmailRe)).cast("long").as("n_emails"),
          regexp_count(col("contact"), lit(PhoneRe)).cast("long").as("n_phones"),
          regexp_replace(regexp_replace(col("contact"), EmailRe, "<EMAIL>"),
            PhoneRe, "<PHONE>").as("redacted"))
        .orderBy("c_custkey")
    },

    // NS: benchmark-contamination check — which training docs share 3-gram
    // shingles with the held-out eval set. The eval side collapses to a
    // DISTINCT shingle-hash set and is broadcast (eval sets stay small at
    // any corpus scale); the corpus side streams (doc_id, hash) pairs
    // through the broadcast join — no shuffle of the corpus at all.
    "q_contamination" -> { (s, dir) =>
      // The (doc_id, shingle-hash-set) frame is materialized ONCE
      // (localCheckpoint): it feeds both the eval side and the corpus side,
      // and without the cut InferFiltersFromGenerate copies the whole
      // shingle+md5 pipeline into a generate-inferred Filter, evaluating it
      // 2-3x per row (measured 8.6 s for the 20-doc eval side alone at
      // sf0.1 vs ~1 s for the whole hash pass). What is materialized is
      // sketch rows — ~50 longs/doc — never document bodies.
      val hashed = graft.core.Par.fanOutIfCompact( // r12: parallelize shingle+hash
          Tables.documents(s, dir).select("doc_id", "text"), col("doc_id"))
        .select(col("doc_id"), words.as("ws"))
        .select(col("doc_id"),
          transform(array_distinct(TextQueries.shingles3(col("ws"))),
            x => Hash.prefix(x)).as("hs"))
        .localCheckpoint(eager = false)
      val evalSet = hashed.filter(col("doc_id") < EvalDocs)
        .select(explode(col("hs")).as("h")).distinct()
      hashed.filter(col("doc_id") >= EvalDocs)
        .select(col("doc_id"), explode(col("hs")).as("h"))
        .join(broadcast(evalSet), "h")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_shared"))
        .withColumn("contaminated", (col("n_shared") >= 3).cast("long"))
        .orderBy("doc_id")
    },

    // NS: sub-document dedup — split every doc into consecutive
    // ChunkWords-word chunks and find chunks occurring 2+ times across the
    // corpus (the paragraph-level pass that catches boilerplate exact dedup
    // misses). One shuffle of (md5, encoded position) pairs; first_pos =
    // doc_id*1000+idx is a single-scalar deterministic "earliest
    // occurrence" both engines agree on.
    "q_dedup_paragraph" -> { (s, dir) =>
      val nChunks = ceil(size(col("ws")) / lit(ChunkWords.toDouble)).cast("int")
      val chunks = when(size(col("ws")) > 0,
        transform(sequence(lit(0), nChunks - 1),
          i => concat_ws(" ", slice(col("ws"), i * ChunkWords + 1, lit(ChunkWords)))))
        .otherwise(array().cast("array<string>"))
      Tables.documents(s, dir)
        .select(col("doc_id"), words.as("ws"))
        .select(col("doc_id"), posexplode(chunks).as(Seq("chunk_idx", "chunk")))
        .groupBy(md5(col("chunk")).as("chunk_hash"))
        .agg(count(lit(1)).as("n_occurrences"),
          min(col("doc_id") * 1000 + col("chunk_idx")).as("first_pos"))
        .filter(col("n_occurrences") >= 2)
        .orderBy("chunk_hash")
    },

    // NS: content-defined chunking dedup — q_dedup_paragraph's fixed-width
    // chunks break under a single inserted word (every later chunk
    // shifts); CDC (the rsync/backup-dedup primitive) cuts where a word's
    // HASH says so (h % 8 == 0 → ~8-word expected chunks), so an edit
    // perturbs only its own chunk and duplicated passages re-align
    // downstream. Per-doc chunk indices come from a doc-partitioned
    // running boundary count (partitions bounded by document length);
    // chunk text reassembles deterministically (array_sort by position —
    // collect_list order is never trusted); the duplicate-chunk census
    // groups by chunk hash exactly like the fixed-width path, so the two
    // operators are directly comparable.
    "q_dedup_cdc" -> { (s, dir) =>
      // r12 fan-out: the posexplode + per-word hash otherwise run in the
      // single-split scan task (identity at scale splits).
      // r13 revert-or-prove adjudication: PROVEN — reverting it measured
      // x1.17 normalized on a paired full-bench run, so the fan-out stays.
      val wordsExp = graft.core.Par.fanOutIfCompact(
          Tables.documents(s, dir).select("doc_id", "text"), col("doc_id"))
        .select(col("doc_id"), posexplode(words).as(Seq("pos", "w")))
        .withColumn("bnd", (pmod(Hash.prefix(concat(lit("cdc:"), col("w"))), lit(8L)) === 0L).cast("long"))
      val w = Window.partitionBy("doc_id").orderBy("pos")
      val chunks = wordsExp
        .withColumn("chunk_idx", coalesce(sum("bnd")
          .over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .groupBy("doc_id", "chunk_idx")
        .agg(concat_ws(" ",
          transform(array_sort(collect_list(struct(col("pos"), col("w")))),
            x => x.getField("w"))).as("chunk"))
      chunks.groupBy(md5(col("chunk")).as("chunk_hash"))
        .agg(count(lit(1)).as("n_occurrences"),
          min(col("doc_id") * 1000 + col("chunk_idx")).as("first_pos"))
        .filter(col("n_occurrences") >= 2)
        .orderBy("chunk_hash")
    },

    // NS: MinHash sketch accuracy, measured — estimated Jaccard (matching
    // signature positions / k) vs exact shingle Jaccard for every LSH
    // candidate pair. The quality dial (k, bands) of the dedup pipeline
    // becomes a queryable number instead of a design-doc claim. Signatures
    // are checkpointed once and reused for banding + both pair sides.
    "q_minhash_est" -> { (s, dir) =>
      val sigs = TextQueries.minhashSigsFor(s, dir)
      val pairs = TextDedup.minhashCandidatesFor(s, dir)
      val a = sigs.select(col("doc_id").as("doc_a"), col("j"), col("minhash").as("mh_a"))
      val b = sigs.select(col("doc_id").as("doc_b"), col("j"), col("minhash").as("mh_b"))
      val est = pairs.join(a, "doc_a").join(b, Seq("doc_b", "j"))
        .groupBy("doc_a", "doc_b")
        .agg(round(sum(when(col("mh_a") === col("mh_b"), 1.0).otherwise(0.0)) /
          TextQueries.MinhashK, 6).as("est_jaccard"))
      TextDedup.withShingleSets(est, TextQueries.shingleSetsFor(s, dir))
        .select(col("doc_a"), col("doc_b"), col("est_jaccard"),
          round(TextDedup.jaccard, 6).as("jaccard"))
        .orderBy("doc_a", "doc_b")
    },

    // NS: LSH band/row tuning — the S-curve P(candidate | j) = 1-(1-j^r)^b
    // evaluated at every b*r=K config over the OBSERVED candidate-pair
    // jaccards, so the banding choice at 100 TB (where re-running dedup per
    // config is unaffordable) is made from expected candidate volume and
    // hi/lo-similarity firing rates measured on real data, not the
    // textbook curve alone. Reuses the memoized signature/candidate
    // artifacts; the config fan-out is a 4-element per-row explode, and
    // the aggregate is K-group. (Sampling caveat: pairs are the DEFAULT
    // config's candidates, so low-j firing rates are conditional on that
    // recall floor — the standard index-tuning telescope, stated in the
    // column name `fire_lo_given_cand`.)
    "q_lsh_tuning" -> { (s, dir) =>
      val jac = TextDedup.withShingleSets(TextDedup.minhashCandidatesFor(s, dir),
          TextQueries.shingleSetsFor(s, dir))
        .select(round(TextDedup.jaccard, 6).as("j"))
      val configs = Seq((32, 1), (16, 2), (8, 4), (4, 8))
      val cfg = explode(array(configs.map { case (b, r) =>
        struct(lit(b.toLong).as("b"), lit(r.toLong).as("r"))
      }: _*)).as("cfg")
      jac.select(col("j"), cfg)
        .select(col("cfg.b").as("b"), col("cfg.r").as("r"),
          (lit(1.0) - pow(lit(1.0) - pow(col("j"), col("r").cast("double")),
            col("b").cast("double"))).as("p"),
          col("j"))
        .groupBy("b", "r")
        .agg(count(lit(1)).as("n_pairs"),
          round(sum("p"), 4).as("exp_candidates"),
          coalesce(round(avg(when(col("j") >= 0.5, col("p"))), 6), lit(-1.0)).as("fire_hi"),
          coalesce(round(avg(when(col("j") < 0.5, col("p"))), 6), lit(-1.0)).as("fire_lo_given_cand"))
        .orderBy("r")
    },

    // NS: incremental-ingest dedup — the DAILY shape of near-dup removal:
    // a new batch (hash-split 20% of docs, deterministic) is deduped
    // AGAINST the standing corpus, never corpus-vs-corpus. Candidates come
    // from the same memoized LSH banding (at 100 TB the standing side's
    // signatures are a persisted index; only the batch re-signs), filtered
    // to cross (old, new) pairs with exact jaccard >= 0.8; each flagged
    // new doc reports its match count and the smallest matching standing
    // doc (the dedup survivor it would collapse into).
    "q_dedup_incremental" -> { (s, dir) =>
      val isNew = pmod(Hash.prefix(concat(lit("inc:"), col("doc_id").cast("string"))), lit(100L)) >= 80
      val tagged = Tables.documents(s, dir).select(col("doc_id"), isNew.as("is_new"))
      val hi = TextDedup.withShingleSets(TextDedup.minhashCandidatesFor(s, dir),
          TextQueries.shingleSetsFor(s, dir))
        .filter(round(TextDedup.jaccard, 6) >= 0.8)
        .select(col("doc_a"), col("doc_b"))
      val t = tagged
      val cross = hi
        .join(t.select(col("doc_id").as("doc_a"), col("is_new").as("new_a")), "doc_a")
        .join(t.select(col("doc_id").as("doc_b"), col("is_new").as("new_b")), "doc_b")
        .filter(col("new_a") =!= col("new_b"))
        .select(when(col("new_a"), col("doc_a")).otherwise(col("doc_b")).as("new_doc"),
          when(col("new_a"), col("doc_b")).otherwise(col("doc_a")).as("old_doc"))
      cross.groupBy("new_doc")
        .agg(count(lit(1)).as("n_old_matches"), min("old_doc").as("dup_of"))
        .orderBy("new_doc")
    },

    // NS: vocabulary coverage — min distinct tokens covering {50,90,99}%
    // of corpus token mass (the Zipf head/tail question behind tokenizer
    // vocab sizing and OOV budgets). The corpus collapses to word counts,
    // the counts collapse AGAIN to a (count -> n_words) histogram (distinct
    // frequency values — bounded-domain, the q_skew_census argument), and
    // the only window walks that tiny histogram in descending-count order.
    // The within-class residual is exact ceil-division: vocab_needed =
    // prev_words + ceil((target - prev_mass)/c). All integers.
    "q_vocab_coverage" -> { (s, dir) =>
      val wd = org.apache.spark.sql.expressions.Window.orderBy(col("c").desc)
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      val uni = Tables.documents(s, dir)
        .select(explode(words).as("word"))
        .groupBy("word").agg(count(lit(1)).as("c"))
      val hist = uni.groupBy("c").agg(count(lit(1)).as("nw"))
      val cum = hist
        .withColumn("cum_mass", sum(col("c") * col("nw")).over(wd))
        .withColumn("cum_words", sum("nw").over(wd))
        .withColumn("prev_mass", col("cum_mass") - col("c") * col("nw"))
        .withColumn("prev_words", col("cum_words") - col("nw"))
      val tot = hist.agg(sum(col("c") * col("nw")).as("total"))
      cum.crossJoin(broadcast(tot))
        .select(col("c"), col("prev_mass"), col("prev_words"), col("cum_mass"),
          col("total"), explode(array(lit(50L), lit(90L), lit(99L))).as("pct"))
        .withColumn("target", expr("(pct * total + 99) DIV 100"))
        .filter(col("cum_mass") >= col("target"))
        .groupBy("pct")
        // cum_mass is strictly increasing, so min(struct) picks the first
        // crossing class; the struct never reaches the output schema
        .agg(min(struct(col("cum_mass"), col("prev_words"), col("prev_mass"), col("c"))).as("s"),
          max("target").as("target_mass"), max("total").as("total_tokens"))
        .select(col("pct"), col("total_tokens"), col("target_mass"),
          expr("s.prev_words + (target_mass - s.prev_mass + s.c - 1) DIV s.c").as("vocab_needed"))
        .orderBy("pct")
    },

    // NS: near-duplicate rate per source — the dashboard number a curation
    // run publishes (share of docs with a >= 0.8-jaccard neighbor): high-
    // similarity candidate pairs (memoized LSH candidates + exact residual,
    // never all-pairs) explode to member ids, dedupe, join back to sources,
    // and a left join keeps zero-dup sources in the report. Rate is integer
    // ppm — engine-version-proof.
    "q_dup_rate" -> { (s, dir) =>
      val hi = TextDedup.withShingleSets(TextDedup.minhashCandidatesFor(s, dir),
          TextQueries.shingleSetsFor(s, dir))
        .filter(round(TextDedup.jaccard, 6) >= 0.8)
      val dupIds = hi.select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id")).distinct()
      val bySrc = Tables.documents(s, dir).select(col("doc_id"), col("source"))
        .join(dupIds, "doc_id")
        .groupBy("source").agg(count(lit(1)).as("n_neardup"))
      Tables.documents(s, dir).groupBy("source").agg(count(lit(1)).as("n_docs"))
        .join(bySrc, Seq("source"), "left_outer")
        .select(col("source"), col("n_docs"),
          coalesce(col("n_neardup"), lit(0L)).as("n_neardup"))
        .withColumn("dup_ppm", expr("n_neardup * 1000000 DIV n_docs"))
        .orderBy("source")
    },

    // NS: perplexity gating — the CCNet-style quality filter as a per-
    // source census: per-doc unigram mean NLL (the q_unigram_logprob
    // score) quantized to integer micro-nats, per-source mean from EXACT
    // integer sums, and the keep rule `nll <= source mean` (the right-tail
    // cut — NLL is right-skewed, so the mean sits above the median and the
    // gate keeps the clean majority while dropping the improbable tail)
    // decided by integer compare against the floor-DIV mean — no float
    // boundary can flip a doc across engines. The vocab join is hint-free
    // (unbounded at web scale; AQE broadcasts at fixture scale), only the
    // 1-row total broadcasts, and the gate itself is two shuffles: word
    // key, then source key. int64 bound: sum_u caps sources at ~9e11 docs
    // (1e7 micro-nats each) — 5 decades above a 100 TB corpus.
    "q_perplexity_gate" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val uni = docs.select(explode(words).as("word"))
        .groupBy("word").agg(count(lit(1)).as("c"))
      val total = uni.agg(sum("c").cast("double").as("t"))
      // localCheckpoint: the per-doc frame (corpus explode + vocab join)
      // feeds BOTH the source stats and the keep count — cut once, reuse
      val perDoc = docs.select(col("doc_id"), col("source"), explode(words).as("word"))
        .join(uni, "word")
        .crossJoin(broadcast(total))
        .groupBy("doc_id", "source")
        .agg(round(avg(-log(col("c") / col("t"))) * 1e6).cast("long").as("nll_u"))
        .localCheckpoint(eager = false)
      val bySrc = perDoc.groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("nll_u").as("sum_u"))
        .withColumn("thr_u", expr("sum_u DIV n_docs"))
      perDoc.join(bySrc, "source")
        .groupBy("source")
        .agg(max("n_docs").as("n_docs"),
          sum(when(col("nll_u") <= col("thr_u"), 1L).otherwise(0L)).as("n_kept"),
          max(expr("sum_u DIV n_docs")).as("mean_nll_micro"))
        .orderBy("source")
    },

    // NS: containment dedup (asymmetric Jaccard) — |A∩B|/|A| finds
    // documents CONTAINED in others (quotes, boilerplate-wrapped copies,
    // excerpts) that resemblance misses: a 50-shingle doc embedded in a
    // 500-shingle doc has jaccard 0.1 but containment 1.0. Same LSH
    // candidate generation as the resemblance path (shingle sets only
    // materialize for candidate pairs, never all-pairs); ANSI-safe because
    // shingle-less docs (<3 words) are filtered before any denominator.
    "q_dedup_containment" -> { (s, dir) =>
      TextDedup.withShingleSets(TextDedup.minhashCandidatesFor(s, dir),
          TextQueries.shingleSetsFor(s, dir).filter(size(col("sh")) > 0))
        .select(col("doc_a"), col("doc_b"),
          size(array_intersect(col("sh_a"), col("sh_b"))).cast("double").as("n_common"),
          size(col("sh_a")).cast("double").as("n_a"),
          size(col("sh_b")).cast("double").as("n_b"))
        .select(col("doc_a"), col("doc_b"),
          round(col("n_common") / col("n_a"), 6).as("containment_a_in_b"),
          round(col("n_common") / col("n_b"), 6).as("containment_b_in_a"),
          round(col("n_common") / (col("n_a") + col("n_b") - col("n_common")), 6).as("jaccard"))
        .orderBy("doc_a", "doc_b")
    },

    // NS: dedup-index quality eval — the audit that says whether the LSH
    // banding (the scale path) can be TRUSTED to stand in for exact n-gram
    // Jaccard, the truth no 100 TB corpus can afford all-pairs. Ground
    // truth is POOLED (the TREC-pooling spelling — the standard eval when
    // exhaustive truth is infeasible): the union of both tractable
    // candidate generators (the (n_words, first_word)-blocked exact path
    // and the LSH banding path) is scored with exact shingle Jaccard, and
    // pairs clearing DedupEvalTau form the truth set. recall then
    // penalizes banding for every true pair the INDEPENDENT blocked
    // generator found that the bands missed (the two generators have
    // disjoint blind spots: blocking cannot see cross-length pairs,
    // banding misses low-j pairs probabilistically); precision = fraction
    // of surfaced candidates that are true. Both sides ride the memoized
    // artifacts (shingle sets, candidate pairs); after the pool-scoring
    // join everything is four counts crossed into one row — exact
    // integers plus two single-division ratios.
    "q_dedup_eval" -> { (s, dir) =>
      import TextQueries.{NgramBlockCap, NgramKeys}
      val sets = TextQueries.shingleSetsFor(s, dir)
      val bp = TextDedup.blockPairs(TextDedup.withBlockSize(sets, NgramKeys), NgramKeys, NgramBlockCap)
        .select("doc_a", "doc_b")
      val cand = TextDedup.minhashCandidatesFor(s, dir)
      val pool = bp.union(cand).distinct()
      // truth is pair-pool-sized (tiny next to the corpus at any scale);
      // at 100 TB it would persist as an eval artifact — here the three
      // count consumers just recompute the cheap scoring join
      val truth = TextDedup.withShingleSets(pool, sets.filter(size(col("sh")) > 0))
        .filter(round(TextDedup.jaccard, 6) >= DedupEvalTau)
        .select("doc_a", "doc_b")
      val hits = truth.join(cand, Seq("doc_a", "doc_b"))
      val btr = truth.join(bp, Seq("doc_a", "doc_b"))
      truth.agg(count(lit(1)).as("n_truth"))
        .crossJoin(cand.agg(count(lit(1)).as("n_cand")))
        .crossJoin(hits.agg(count(lit(1)).as("n_hits")))
        .crossJoin(btr.agg(count(lit(1)).as("n_blocked_truth")))
        .select(col("n_truth"), col("n_cand"), col("n_hits"), col("n_blocked_truth"),
          round(col("n_hits").cast("double") /
            greatest(col("n_truth"), lit(1L)).cast("double"), 6).as("recall"),
          round(col("n_hits").cast("double") /
            greatest(col("n_cand"), lit(1L)).cast("double"), 6).as("precision"))
    },

    // NS: mergeable-sketch union — the ALGEBRAIC property that makes
    // sketches the right tool at 100 TB, demonstrated end-to-end: a
    // source's MinHash signature is the element-wise MIN over its docs'
    // signatures (min is associative + idempotent, so shard-local partial
    // signatures min-merge into the corpus signature with no recompute —
    // daily shards sketch independently, the merge is 16 longs per shard),
    // and signature agreement between two sources estimates the Jaccard of
    // their full shingle VOCABULARIES. The estimate is cross-checked
    // against the exact source-pair Jaccard computed from the distinct
    // (source, shingle) table — vocabulary-sized after its dedup, the same
    // bound as every df table here. Source cardinality is corpus-defined:
    // the pair join is hint-free (AQE broadcasts at fixture scale).
    "q_sketch_merge" -> { (s, dir) =>
      import TextQueries.MinhashK
      // ride the memoized per-doc distinct shingle-set artifact instead of
      // re-shingling the corpus (min is duplicate-blind, so per-doc distinct
      // inputs produce the identical signature); source arrives via a
      // doc-count-sized key join
      val sh = TextQueries.shingleSetsFor(s, dir)
        .join(Tables.documents(s, dir).select("doc_id", "source"), "doc_id")
        .select(col("source"), explode(col("sh")).as("shingle"))
      val sigAggs = TextQueries.minhashAggs
      val srcSig = sh.withColumn("h", Hash.prefix(col("shingle")))
        .groupBy("source").agg(sigAggs.head, sigAggs.tail: _*)
      val a = srcSig.columns.foldLeft(srcSig)((d, c) => d.withColumnRenamed(c, s"a_$c"))
      val b = srcSig.columns.foldLeft(srcSig)((d, c) => d.withColumnRenamed(c, s"b_$c"))
      val nAgree = (0 until MinhashK).map(j =>
        when(col(s"a_sig$j") === col(s"b_sig$j"), 1L).otherwise(0L)).reduce(_ + _)
      val pairs = a.join(b, col("a_source") < col("b_source"))
        .select(col("a_source").as("source_a"), col("b_source").as("source_b"),
          nAgree.as("n_agree"))
      val ss = sh.distinct()
      val sizes = ss.groupBy("source").agg(count(lit(1)).as("n_sh"))
      val common = ss.select(col("source").as("source_a"), col("shingle"))
        .join(ss.select(col("source").as("source_b"), col("shingle")), "shingle")
        .filter(col("source_a") < col("source_b"))
        .groupBy("source_a", "source_b").agg(count(lit(1)).as("n_common"))
      pairs
        .join(sizes.select(col("source").as("source_a"), col("n_sh").as("n_a")), "source_a")
        .join(sizes.select(col("source").as("source_b"), col("n_sh").as("n_b")), "source_b")
        .join(common, Seq("source_a", "source_b"), "left_outer")
        .select(col("source_a"), col("source_b"), col("n_agree"),
          round(col("n_agree").cast("double") / MinhashK, 6).as("est_jaccard"),
          coalesce(col("n_common"), lit(0L)).as("n_common"),
          (col("n_a") + col("n_b") - coalesce(col("n_common"), lit(0L))).as("n_union"),
          round(coalesce(col("n_common"), lit(0L)).cast("double") /
            (col("n_a") + col("n_b") - coalesce(col("n_common"), lit(0L))).cast("double"), 6)
            .as("jaccard"))
        .orderBy("source_a", "source_b")
    },

    // NS: CROSS-SOURCE near-dup audit — the inter-dataset contamination
    // report: LSH candidate pairs whose endpoints come from DIFFERENT
    // sources, verified by exact shingle Jaccard. The reason to run dedup
    // across dataset boundaries, not within them: a benchmark document
    // mirrored into a web crawl only shows up as a cross-source pair.
    // Same memoized candidate/shingle artifacts as the resemblance path —
    // the audit adds two broadcast-sized source lookups and a filter,
    // nothing corpus-scaled.
    "q_dedup_cross_source" -> { (s, dir) =>
      val pairs = TextDedup.withShingleSets(TextDedup.minhashCandidatesFor(s, dir),
        TextQueries.shingleSetsFor(s, dir).filter(size(col("sh")) > 0))
      val src = Tables.documents(s, dir).select(col("doc_id"), col("source"))
      pairs
        .join(src.select(col("doc_id").as("doc_a"), col("source").as("source_a")), "doc_a")
        .join(src.select(col("doc_id").as("doc_b"), col("source").as("source_b")), "doc_b")
        .filter(col("source_a") =!= col("source_b"))
        .select(col("doc_a"), col("doc_b"), col("source_a"), col("source_b"),
          round(TextDedup.jaccard, 6).as("jaccard"))
        .orderBy("doc_a", "doc_b")
    },

    // NS: per-document top TF-IDF term — the keyword-extraction shape of a
    // corpus indexer. tf shuffles (doc, word) pairs, df shuffles words.
    // The df join carries NO broadcast hint (same rationale as
    // q_unigram_logprob): the un-floored distinct-token table grows with
    // the corpus and cannot broadcast at web scale — AQE broadcasts at
    // fixture scale, shuffle-joins on the word key beyond. The per-doc
    // argmax is one window pass ranked on (rounded tfidf desc, word) so
    // ties break identically across engines.
    "q_tfidf_top" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val total = docs.agg(count(lit(1)).cast("double").as("n_docs"))
      val tf = docs.select(col("doc_id"), explode(words).as("word"))
        .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
      val df = docs.select(col("doc_id"), explode(array_distinct(words)).as("word"))
        .groupBy("word").agg(count(lit(1)).as("df"))
      val scored = tf.join(df, "word")
        .crossJoin(broadcast(total))
        .select(col("doc_id"), col("word"),
          round(col("tf") * log(col("n_docs") / col("df").cast("double")), 6).as("tfidf"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy(col("tfidf").desc, col("word"))
      scored.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("word").as("top_word"), col("tfidf"))
        .orderBy("doc_id")
    },

    // NS: bigram PMI collocations — the corpus-statistics query behind
    // phrase mining / tokenizer merges: pointwise mutual information of
    // adjacent word pairs vs their unigram marginals, min-count 5, top 20.
    // The vocabulary joins carry NO broadcast hint: a web-scale corpus's
    // distinct-token table (typos, URLs, code) runs to billions of rows, so
    // the plan must degrade to a shuffle join at scale. AQE still picks
    // broadcast at fixture scale from runtime stats; the single-row totals
    // are the only forced broadcasts. Final top-k is TakeOrderedAndProject.
    // NS: corpus entropy rate — H(W₂|W₁) of the bigram model vs the
    // unigram entropy H(W₁): the information-theoretic pair every LM
    // data report leads with (how much does ONE word of context buy?).
    // Ledger discipline: every ln quantizes once per (bounded) vocab or
    // bigram row to micro-nats, weighted sums are EXACT BIGINTs over the
    // census frames (c·ln ratios, never float accumulation), and the
    // final normalizations are integer DIV. H_cond ≤ H_uni is the
    // spec-pinned information inequality.
    "q_ngram_entropy_rate" -> { (s, dir) =>
      val docs = Tables.documents(s, dir).select(words.as("ws"))
      val bigrams = when(size(col("ws")) >= 2,
        transform(sequence(lit(1), size(col("ws")) - 1),
          i => struct(element_at(col("ws"), i).as("w1"), element_at(col("ws"), i + 1).as("w2"))))
        .otherwise(array().cast("array<struct<w1:string,w2:string>>"))
      val bg = docs.select(explode(bigrams).as("b"))
        .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
        .groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
        .localCheckpoint(eager = false) // vocab²-bounded; feeds both entropies
      val c1 = bg.groupBy("w1").agg(sum("c12").as("c1"))
      val n = bg.agg(sum("c12").as("n"))
      val hCond = bg.join(c1, "w1")
        .agg(sum(expr(
          "c12 * CAST(round(ln(CAST(c1 AS DOUBLE) / CAST(c12 AS DOUBLE)) * 1000000) AS BIGINT)"))
          .as("hc_num"))
      val hUni = c1.crossJoin(broadcast(n))
        .agg(sum(expr(
          "c1 * CAST(round(ln(CAST(n AS DOUBLE) / CAST(c1 AS DOUBLE)) * 1000000) AS BIGINT)"))
          .as("hu_num"))
      n.crossJoin(broadcast(hCond)).crossJoin(broadcast(hUni))
        .crossJoin(broadcast(bg.agg(count(lit(1)).as("n_bigram_types"))))
        .select(col("n").as("n_bigrams"), col("n_bigram_types"),
          expr("hu_num DIV n").as("h_unigram_micronat"),
          expr("hc_num DIV n").as("h_cond_micronat"),
          expr("(hu_num DIV n) - (hc_num DIV n)").as("info_gain_micronat"))
    },

    "q_bigram_pmi" -> { (s, dir) =>
      val docs = Tables.documents(s, dir).select(col("doc_id"), words.as("ws"))
      val bigrams = when(size(col("ws")) >= 2,
        transform(sequence(lit(1), size(col("ws")) - 1),
          i => struct(element_at(col("ws"), i).as("w1"), element_at(col("ws"), i + 1).as("w2"))))
        .otherwise(array().cast("array<struct<w1:string,w2:string>>"))
      val uni = docs.select(explode(col("ws")).as("word"))
        .groupBy("word").agg(count(lit(1)).as("c"))
      val totals = docs.select(explode(col("ws")).as("word"))
        .agg(count(lit(1)).cast("double").as("t_words"))
      val bg = docs.select(explode(bigrams).as("b"))
        .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
        .groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
        .filter(col("c12") >= 5)
      val bgTotal = docs
        .agg(sum(greatest(size(col("ws")) - 1, lit(0))).cast("double").as("t_bigrams"))
      bg.join(uni.select(col("word").as("w1"), col("c").as("c1")), "w1")
        .join(uni.select(col("word").as("w2"), col("c").as("c2")), "w2")
        .crossJoin(broadcast(totals)).crossJoin(broadcast(bgTotal))
        .select(col("w1"), col("w2"), col("c12"),
          round(log((col("c12") / col("t_bigrams")) /
            ((col("c1") / col("t_words")) * (col("c2") / col("t_words")))), 6).as("pmi"))
        .orderBy(col("pmi").desc, col("w1"), col("w2"))
        .limit(20)
    },

    // NS: the end-to-end corpus-prep pipeline as ONE query — normalize →
    // quality-filter → exact-dedup (keep min doc_id per normalized hash) →
    // deterministic split → per-(split, source) stats. The composition is
    // what a real training-data run executes; Catalyst fuses the narrow
    // stages into the scan and the only shuffles are the dedup groupBy and
    // the final tiny stats groupBy.
    "q_corpus_pipeline" -> { (s, dir) =>
      val norm = trim(regexp_replace(
        regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), " +", " "))
      val normed = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), norm.as("norm"))
        .select(col("doc_id"), col("source"), col("norm"),
          size(split(col("norm"), " ")).as("n_words"))
        .filter(col("n_words") >= 30)
      val canonical = normed
        .groupBy(md5(col("norm")).as("h"))
        .agg(min(struct(col("doc_id"), col("source"), col("n_words"))).as("keep"))
        .select(col("keep.doc_id").as("doc_id"), col("keep.source").as("source"),
          col("keep.n_words").as("n_words"))
      val bucket = pmod(Hash.prefix(concat(lit("split:"), col("doc_id").cast("string"))), lit(100))
      canonical
        .withColumn("split",
          when(bucket < 80, "train").when(bucket < 90, "valid").otherwise("test"))
        .groupBy("split", "source")
        .agg(count(lit(1)).as("n_docs"), round(avg("n_words"), 6).as("avg_words"))
        .orderBy("split", "source")
    },

    // NS: unigram log-probability scoring — the perplexity-style quality
    // signal (docs of improbable words score high): corpus unigram
    // frequencies joined back onto the exploded words, mean -ln p(word)
    // per doc. The vocab join carries NO broadcast hint — at web scale the
    // distinct-token table runs to billions of rows and must shuffle-join
    // on the word key; AQE still broadcasts at fixture scale from runtime
    // stats. Only the single-row total is force-broadcast.
    "q_unigram_logprob" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val uni = docs.select(explode(words).as("word"))
        .groupBy("word").agg(count(lit(1)).as("c"))
      val total = uni.agg(sum("c").cast("double").as("t"))
      docs.select(col("doc_id"), explode(words).as("word"))
        .join(uni, "word")
        .crossJoin(broadcast(total))
        .groupBy("doc_id")
        .agg(round(avg(-log(col("c") / col("t"))), 6).as("mean_nll"),
          count(lit(1)).as("n_words"))
        .orderBy("doc_id")
    },

    // NS: bigram LM scoring — the CCNet-style perplexity filter one order
    // up from q_unigram_logprob: add-alpha-smoothed p(w2|w1) from corpus
    // bigram/unigram counts, per-doc mean -ln p over adjacent pairs.
    // Bigram FORMATION is per-row array arithmetic (zero shuffle — same
    // spelling as q_bigram_pmi); the count tables join back WITHOUT
    // broadcast hints (both are vocabulary-sized and unbounded at web
    // scale — the r5-verdict lesson); only the single-row vocab size is
    // force-broadcast. avg is rounded at 6 after the aggregate, the
    // established mean-of-floats discipline.
    "q_bigram_logprob" -> { (s, dir) =>
      // r12 fan-out: three bigram/word explodes read this frame; each
      // otherwise runs in the single-split scan task (identity at scale).
      // r13 revert-or-prove adjudication: PROVEN — reverting it measured
      // x1.27 normalized on a paired full-bench run, so the fan-out stays.
      val docs = graft.core.Par.fanOutIfCompact(
          Tables.documents(s, dir).select("doc_id", "text"), col("doc_id"))
        .select(col("doc_id"), words.as("ws"))
      val bigrams = when(size(col("ws")) >= 2,
        transform(sequence(lit(1), size(col("ws")) - 1),
          i => struct(element_at(col("ws"), i).as("w1"), element_at(col("ws"), i + 1).as("w2"))))
        .otherwise(array().cast("array<struct<w1:string,w2:string>>"))
      val uni = docs.select(explode(col("ws")).as("w1"))
        .groupBy("w1").agg(count(lit(1)).as("c1"))
      val vsize = uni.agg(count(lit(1)).cast("double").as("v"))
      val bg = docs.select(explode(bigrams).as("b"))
        .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
        .groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      docs.select(col("doc_id"), explode(bigrams).as("b"))
        .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
        .join(bg, Seq("w1", "w2"))
        .join(uni, Seq("w1"))
        .crossJoin(broadcast(vsize))
        .groupBy("doc_id")
        .agg(round(avg(-log((col("c12") + lit(0.5)) / (col("c1") + lit(0.5) * col("v")))), 6)
          .as("mean_nll"),
          count(lit(1)).as("n_bigrams"))
        .orderBy("doc_id")
    },

    // NS: lexical-diversity census per source — the vocabulary-health
    // panel a corpus snapshot publishes (template/spam sources show low
    // diversity before any model sees them): type-token ratio, hapax
    // share, Simpson repeat probability, Shannon entropy + effective
    // vocabulary (perplexity of the unigram distribution). One word-key
    // shuffle reduces the corpus to per-(source, word) counts; everything
    // after runs on that vocabulary-sized frame. TTR/hapax/Simpson are
    // EXACT integers (Simpson's numerator Σn(n−1) is an integer — int64
    // bound: a single source caps at ~3e9 tokens of one repeated word
    // before Σn² widens); entropy is the one float fold, rounded at 9
    // over a vocab-sized sum (the q_jsd_drift argument).
    "q_lexical_diversity" -> { (s, dir) =>
      val wc = Tables.documents(s, dir)
        .select(col("source"), explode(words).as("w"))
        .groupBy("source", "w").agg(count(lit(1)).as("n"))
      val bySrc = wc.groupBy("source").agg(
        sum("n").as("n_tokens"),
        count(lit(1)).as("vocab"),
        sum(when(col("n") === 1, 1L).otherwise(0L)).as("n_hapax"),
        sum(col("n") * (col("n") - 1)).as("simpson_num"))
      val h = wc.join(bySrc.select(col("source"), col("n_tokens").as("nt")), "source")
        .groupBy("source")
        .agg(round(sum(-(col("n").cast("double") / col("nt").cast("double")) *
          log(col("n").cast("double") / col("nt").cast("double"))), 9).as("entropy"))
      bySrc.join(h, "source")
        .select(col("source"), col("n_tokens"), col("vocab"),
          expr("vocab * 1000000 DIV n_tokens").as("ttr_ppm"),
          col("n_hapax"),
          round(col("simpson_num").cast("double") /
            (col("n_tokens").cast("double") * (col("n_tokens") - 1).cast("double")), 9)
            .as("simpson"),
          col("entropy"),
          round(exp(col("entropy")), 2).as("eff_vocab"))
        .orderBy("source")
    },

    // NS: interpolated Kneser–Ney bigram smoothing — THE n-gram LM
    // estimator (Chen & Goodman 1999), add-α's stronger sibling:
    // P(w2|w1) = (c−D)/c(w1) + D·N1+(w1,·)/c(w1) · N1+(·,w2)/N1+(··)
    // with absolute discount D=0.75; the continuation probability counts
    // CONTEXTS a word follows, not tokens (why "Francisco" scores low
    // despite high frequency). Everything derives from ONE bigram count
    // frame (three small re-aggregations of it: per-w1 totals+fanout,
    // per-w2 continuation fanin, the 1-row type total — only that single
    // row broadcasts; the vocab-sized joins are hint-free, the r5 lesson).
    // The corpus-level cross-entropy sums per-TYPE integer micro-nats
    // (round(c·nll·1e6) — the q_perplexity_gate discipline), so the
    // row-scale fold is exact-integer and partition-order-free; int64
    // bound: ~8e6 micro-nats/token caps the corpus at ~1e12 tokens before
    // the sum needs decimal widening. All observed bigrams have c ≥ 1 > D,
    // so max(c−D, 0) is just c−D.
    "q_kneser_ney" -> { (s, dir) =>
      val docs = Tables.documents(s, dir).select(col("doc_id"), words.as("ws"))
      val bigrams = when(size(col("ws")) >= 2,
        transform(sequence(lit(1), size(col("ws")) - 1),
          i => struct(element_at(col("ws"), i).as("w1"), element_at(col("ws"), i + 1).as("w2"))))
        .otherwise(array().cast("array<struct<w1:string,w2:string>>"))
      // localCheckpoint: the bigram count frame feeds THREE derived
      // aggregates plus the scoring join — cut lineage once, reuse
      val bg = docs.select(explode(bigrams).as("b"))
        .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
        .groupBy("w1", "w2").agg(count(lit(1)).as("c"))
        .localCheckpoint(eager = false)
      val ctx = bg.groupBy("w1").agg(sum("c").as("ctot"), count(lit(1)).as("nfollow"))
      val cont = bg.groupBy("w2").agg(count(lit(1)).as("ncont"))
      val btot = bg.agg(count(lit(1)).cast("double").as("bt"))
      val pkn = (col("c") - lit(0.75)) / col("ctot") +
        lit(0.75) * col("nfollow") / col("ctot") * (col("ncont") / col("bt"))
      bg.join(ctx, "w1").join(cont, "w2").crossJoin(broadcast(btot))
        .select(col("c"),
          round(col("c") * -log(pkn) * 1e6).cast("long").as("t_u"))
        .agg(sum("c").as("n_bigram_tokens"),
          count(lit(1)).as("n_bigram_types"),
          sum("t_u").as("sum_u"))
        .select(col("n_bigram_tokens"), col("n_bigram_types"),
          expr("sum_u DIV n_bigram_tokens").as("mean_nll_micro"),
          round(exp(col("sum_u").cast("double") / 1e6 /
            col("n_bigram_tokens").cast("double")), 6).as("ppl"))
    },

    // NS: BPE pair counting — the tokenizer-TRAINING inner loop (which
    // adjacent symbol pair merges next): adjacent char pairs weighted by
    // word frequency. The corpus collapses to the vocabulary FIRST (one
    // word-key shuffle, map-side combined), so the pair explosion runs
    // over vocab-sized data — the classic BPE-trainer trick; at 100 TB
    // the pair stage touches millions of rows, not the corpus. Top-20 by
    // weight ends in TakeOrdered, never a global sort.
    "q_bpe_pairs" -> { (s, dir) =>
      val vocab = Tables.documents(s, dir)
        .select(explode(words).as("word"))
        .filter(length(col("word")) >= 2)
        .groupBy("word").agg(count(lit(1)).as("wc"))
      vocab
        .select(col("wc"), explode(transform(
          sequence(lit(1), length(col("word")) - 1),
          i => col("word").substr(i, lit(2)))).as("pair"))
        .groupBy("pair").agg(sum("wc").as("n"))
        .orderBy(col("n").desc, col("pair"))
        .limit(20)
    },

    // NS: the BPE TRAINER loop itself — q_bpe_pairs counts one round of
    // candidate pairs; this runs three full merge rounds and emits the
    // learned merge table (the artifact a tokenizer build publishes).
    // Scale design is vocab-first: the corpus collapses to DISTINCT words
    // with counts before any symbol work, so every round's cost is bounded
    // by vocabulary size — corpus volume enters only through the wc
    // weights (the q_fuzzy_join lesson). Symbol sequences are
    // sentinel-wrapped strings ("\u0001tok\u0001" per token): pair merge
    // is ONE literal left-to-right replace() per row — boundary-exact (a
    // pair can never match inside a longer token) and greedy-non-overlap
    // in both engines, the reference BPE behavior for runs like "aaa".
    // Argmax per round is total-ordered (n DESC, pair) and broadcast back,
    // so all three rounds are one declarative plan.
    "q_bpe_train" -> { (s, dir) =>
      // checkpoint the vocab: (a) it feeds all three merge rounds, so the
      // corpus scan + word aggregate run ONCE; (b) it is a pushdown
      // barrier — without it Catalyst infers size(ps)>0 from the pair
      // Generate and pushes it below the word aggregate, inlining the
      // symbol-split expression per CORPUS word (5x split per raw token)
      val v0 = bpeVocab(s, dir).localCheckpoint(eager = false)
      val t1 = bpeTop1(bpePairCounts(v0)).localCheckpoint(eager = false)
      val v1 = bpeMerge(v0, t1)
      val t2 = bpeTop1(bpePairCounts(v1)).localCheckpoint(eager = false)
      val v2 = bpeMerge(v1, t2)
      val t3 = bpeTop1(bpePairCounts(v2)).localCheckpoint(eager = false)
      t1.withColumn("round", lit(1L))
        .union(t2.withColumn("round", lit(2L)))
        .union(t3.withColumn("round", lit(3L)))
        .select(col("round"), col("a").as("tok_a"), col("b").as("tok_b"), col("n"))
        .orderBy("round")
    },

    // NS: tokenizer compression stats per source — chars-per-token under
    // the BPE-ish regex tokenizer, the signal a tokenizer trainer / data
    // mixer reads per corpus slice. Narrow per-row tokenize + one tiny
    // groupBy on source.
    "q_tokenizer_stats" -> { (s, dir) =>
      val nBpe = size(regexp_extract_all(col("text"),
        lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"), lit(0)))
      Tables.documents(s, dir)
        .select(col("source"), length(col("text")).cast("double").as("nc"),
          nBpe.cast("double").as("nt"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          round(avg(col("nc") / col("nt")), 6).as("avg_chars_per_token"),
          round(min(col("nc") / col("nt")), 6).as("min_cpt"),
          round(max(col("nc") / col("nt")), 6).as("max_cpt"))
        .orderBy("source")
    },

    // NS: exact-substring duplication census (the Lee et al. 2022
    // "Deduplicating Training Data Makes Language Models Better" shape,
    // L=32 chars): every character position opens a 32-gram window, a
    // position is DUPLICATED if its gram occurs more than once in the
    // whole corpus, and the per-source duplicated-position share is the
    // coverage number that paper's suffix-array pass reports. The
    // windowing is a narrow per-row transform (no suffix array needed
    // for the CENSUS — the gram-key aggregate gives occurrence counts);
    // work is corpus-chars-scale rows through ONE (source, gram)
    // combinable aggregate, then a gram-key join of two AGGREGATED
    // frames (gram vocabulary bound), never position-by-position.
    "q_substring_dup" -> { (s, dir) =>
      // gram keys shuffle as 8-byte xxhash64 fingerprints, not raw
      // 32-char strings — a ~4x cut of the exchange's dominant column (at
      // 100 TB the gram shuffle is multi-PB in string form). The census
      // counts are hash-collision-exact with probability 1 - n²/2^65
      // (~1e-7 at the driver's sf0.01 gate); the DuckDB oracle replays
      // the same census over the raw grams, so a collision would fail
      // the gate loudly rather than pass silently. The r8 md5 variant
      // measured SLOWER at local[32] (md5 CPU > loopback shuffle
      // savings); xxhash64 is ~20x cheaper per gram and wins even
      // locally, if modestly (measured sf0.1/local[32] min-of-2:
      // 5.61 -> 5.11 s warm, 9.15 -> 8.60 s cold — loopback shuffle is
      // nearly free, so the 4x byte cut pays mainly on a real network).
      // ONE corpus pass, ZERO joins (r11): the r10 shape joined the
      // (source, gram) census back to a per-gram total frame, which (a)
      // re-ran the scan+explode+hash for the second aggregate and (b) let
      // the planner BROADCAST the per-gram frame — a frame that scales
      // with the gram VOCABULARY, i.e. with the corpus (an OOM at 100 TB,
      // and a 30 MB hashed-relation build at sf0.1). Instead the per-gram
      // aggregate carries its per-source breakdown as a collect_list of
      // (source, n_sg) structs — bounded by the SOURCE REGISTRY (a gram
      // appears in at most #sources list entries), never by occurrence
      // count — and explodes it back out, so gram totals meet their
      // source rows without any join or second scan.
      // Measured sf0.1/local[32] warm: 5.08 -> 1.54 s.
      // r12: the per-position hashing below is the query's dominant CPU
      // (L-31 substring+xxhash64 calls per doc) and runs in the SCAN stage
      // — a compact fixture plans one split, serializing it on one core.
      // Par.fanOutIfCompact spreads the narrow (source, text) rows across
      // cores first (identity at production split counts). Measured
      // sf0.1/local[32] warm: 2.82 -> (see OPTIMIZATION_r12.md).
      val grams = graft.core.Par.fanOutIfCompact(
          Tables.documents(s, dir).select(col("source"), col("text")))
        .select(col("source"), expr(
          """explode(CASE WHEN length(text) >= 32
            |  THEN transform(sequence(1, length(text) - 31), i -> xxhash64(substring(text, i, 32)))
            |  ELSE CAST(array() AS ARRAY<BIGINT>) END)""".stripMargin).as("gram"))
      // one explicit hash exchange on gram serves BOTH aggregate levels:
      // hashpartitioning(gram) satisfies the (source, gram) clustering too,
      // so neither groupBy adds its own shuffle — and map-side partial
      // aggregation would not have compressed anything anyway (grams are
      // mostly unique, so the pre-agged exchange carries the same rows).
      val perSrc = grams.repartition(col("gram"))
        .groupBy("source", "gram").agg(count(lit(1)).as("n_sg"))
      val byGram = perSrc.groupBy("gram")
        .agg(collect_list(struct(col("source"), col("n_sg"))).as("srcs"),
          sum("n_sg").as("n_g"), count(lit(1)).as("n_sources_g"))
      byGram
        .select(col("n_g"), col("n_sources_g"),
          explode(col("srcs")).as("sc"))
        .select(col("sc.source").as("source"), col("sc.n_sg").as("n_sg"),
          col("n_g"), col("n_sources_g"))
        .groupBy("source")
        .agg(sum("n_sg").as("n_positions"),
          sum(when(col("n_g") > 1, col("n_sg")).otherwise(0L)).as("n_dup_positions"),
          sum(when(col("n_sources_g") > 1, col("n_sg")).otherwise(0L))
            .as("n_cross_source_positions"),
          count(lit(1)).as("n_distinct_grams"))
        .withColumn("dup_ppm", expr("n_dup_positions * 1000000 DIV n_positions"))
        .orderBy("source")
    }
  )

  def oracleSql: Map[String, String] = {
    import TextDedup.{CandidateCtes, JaccardSql, cappedSql, selfJoinSql, shingleSetsCte, verifyJoinSql}
    import TextQueries.{MinhashK, NgramBlockCap, NgramKeys, Shingles3Sql}
    val srcSigAgreeSum = (0 until MinhashK)
      .map(j => s"(CASE WHEN a.sig$j = b.sig$j THEN 1 ELSE 0 END)").mkString(" + ")

    Map(
      "q_pii_redact" ->
        s"""WITH c AS (SELECT c_custkey,
           |                  c_name || ' <' || lower(c_name) || '@mail-' ||
           |                  CAST(c_nationkey AS VARCHAR) || '.org> call 555-' ||
           |                  lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0') AS contact
           |           FROM customer)
           |SELECT c_custkey,
           |       CAST(len(regexp_extract_all(contact, '$EmailRe')) AS BIGINT) AS n_emails,
           |       CAST(len(regexp_extract_all(contact, '$PhoneRe')) AS BIGINT) AS n_phones,
           |       regexp_replace(regexp_replace(contact, '$EmailRe', '<EMAIL>', 'g'),
           |                      '$PhoneRe', '<PHONE>', 'g') AS redacted
           |FROM c ORDER BY c_custkey""".stripMargin,
      "q_contamination" ->
        s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
           |sh AS (SELECT doc_id, list_distinct($Shingles3Sql) AS sh FROM w),
           |h AS (SELECT doc_id, unnest(list_transform(sh,
           |             x -> ${Hash.prefixSql("x")})) AS h FROM sh),
           |ev AS (SELECT DISTINCT h FROM h WHERE doc_id < $EvalDocs)
           |SELECT c.doc_id, count(*) AS n_shared,
           |       CAST(count(*) >= 3 AS BIGINT) AS contaminated
           |FROM h c JOIN ev USING (h)
           |WHERE c.doc_id >= $EvalDocs
           |GROUP BY c.doc_id ORDER BY doc_id""".stripMargin,
      "q_dedup_paragraph" ->
        s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
           |c AS (SELECT doc_id,
           |             unnest(list_transform(range(0, CAST(ceil(len(ws) / ${ChunkWords}.0) AS INT)),
           |               i -> struct_pack(idx := i,
           |                 chunk := array_to_string(ws[(i*$ChunkWords+1):(i*$ChunkWords+$ChunkWords)], ' ')))) AS ch
           |      FROM w)
           |SELECT md5(ch.chunk) AS chunk_hash, count(*) AS n_occurrences,
           |       min(doc_id * 1000 + ch.idx) AS first_pos
           |FROM c GROUP BY chunk_hash HAVING count(*) >= 2
           |ORDER BY chunk_hash""".stripMargin,
      "q_dedup_cdc" ->
        s"""WITH p AS (SELECT doc_id, CAST(u.i - 1 AS BIGINT) AS pos, ws[u.i] AS w
          |           FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
          |                UNNEST(generate_series(1, len(ws))) AS u(i)),
          |b AS (SELECT doc_id, pos, w,
          |             CASE WHEN ${Hash.prefixSql("'cdc:' || w")} % 8 = 0
          |                  THEN 1 ELSE 0 END AS bnd
          |      FROM p),
          |ci AS (SELECT doc_id, pos, w,
          |              coalesce(sum(bnd) OVER (PARTITION BY doc_id ORDER BY pos
          |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_idx
          |       FROM b),
          |chunks AS (SELECT doc_id, chunk_idx,
          |                  string_agg(w, ' ' ORDER BY pos) AS chunk
          |           FROM ci GROUP BY 1, 2)
          |SELECT md5(chunk) AS chunk_hash, count(*) AS n_occurrences,
          |       CAST(min(doc_id * 1000 + chunk_idx) AS BIGINT) AS first_pos
          |FROM chunks GROUP BY 1 HAVING count(*) >= 2
          |ORDER BY chunk_hash""".stripMargin,
      "q_minhash_est" ->
        s"""WITH $CandidateCtes,
           |est AS (
           |  SELECT p.doc_a, p.doc_b,
           |         round(sum(CASE WHEN sa.minhash = sb.minhash THEN 1.0 ELSE 0.0 END) / $MinhashK, 6) AS est_jaccard
           |  FROM pairs p
           |  JOIN sigs sa ON sa.doc_id = p.doc_a
           |  JOIN sigs sb ON sb.doc_id = p.doc_b AND sb.j = sa.j
           |  GROUP BY p.doc_a, p.doc_b
           |),
           |${shingleSetsCte(nonEmpty = false)}
           |SELECT p.doc_a, p.doc_b, p.est_jaccard, round($JaccardSql, 6) AS jaccard
           |FROM ${verifyJoinSql("est")}
           |ORDER BY doc_a, doc_b""".stripMargin,
      // same candidate prelude as q_minhash_est; the S-curve math is then
      // pure scalar arithmetic over (jaccard, config) rows
      "q_lsh_tuning" ->
        s"""WITH $CandidateCtes,
           |${shingleSetsCte(nonEmpty = false)},
           |jac AS (SELECT round($JaccardSql, 6) AS j FROM ${verifyJoinSql("pairs")}),
           |cfg AS (SELECT CAST(b AS BIGINT) AS b, CAST(r AS BIGINT) AS r
           |        FROM (VALUES (32, 1), (16, 2), (8, 4), (4, 8)) AS t(b, r)),
           |scored AS (SELECT b, r, j, 1 - pow(1 - pow(j, r), b) AS p
           |           FROM jac CROSS JOIN cfg)
           |SELECT b, r, count(*) AS n_pairs,
           |       round(sum(p), 4) AS exp_candidates,
           |       coalesce(round(avg(p) FILTER (WHERE j >= 0.5), 6), -1.0) AS fire_hi,
           |       coalesce(round(avg(p) FILTER (WHERE j < 0.5), 6), -1.0) AS fire_lo_given_cand
           |FROM scored GROUP BY b, r ORDER BY r""".stripMargin,
      // candidate prelude + the same deterministic 20% hash split; the
      // cross filter keeps only (standing, batch) pairs
      "q_dedup_incremental" ->
        s"""WITH $CandidateCtes,
           |${shingleSetsCte(nonEmpty = false)},
           |hi AS (SELECT p.doc_a, p.doc_b FROM ${verifyJoinSql("pairs")}
           |       WHERE round($JaccardSql, 6) >= 0.8),
           |tag AS (SELECT doc_id,
           |               (${Hash.prefixSql("'inc:' || CAST(doc_id AS VARCHAR)")} % 100) >= 80 AS is_new
           |        FROM documents),
           |cx AS (
           |  SELECT CASE WHEN ta.is_new THEN h.doc_a ELSE h.doc_b END AS new_doc,
           |         CASE WHEN ta.is_new THEN h.doc_b ELSE h.doc_a END AS old_doc
           |  FROM hi h JOIN tag ta ON ta.doc_id = h.doc_a
           |            JOIN tag tb ON tb.doc_id = h.doc_b
           |  WHERE ta.is_new <> tb.is_new)
           |SELECT new_doc, count(*) AS n_old_matches, min(old_doc) AS dup_of
           |FROM cx GROUP BY new_doc ORDER BY new_doc""".stripMargin,
      // descending-count histogram walk + exact ceil-division residual
      "q_vocab_coverage" ->
        """WITH uni AS (SELECT word, count(*) AS c
          |             FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
          |             GROUP BY 1),
          |hist AS (SELECT c, count(*) AS nw FROM uni GROUP BY 1),
          |cum AS (SELECT c, nw,
          |               CAST(sum(c * nw) OVER (ORDER BY c DESC
          |                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_mass,
          |               CAST(sum(nw) OVER (ORDER BY c DESC
          |                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_words
          |        FROM hist),
          |tot AS (SELECT CAST(sum(c * nw) AS BIGINT) AS total FROM hist),
          |q AS (SELECT pct, total AS total_tokens,
          |             (pct * total + 99) // 100 AS target_mass,
          |             cum_mass, cum_words - nw AS prev_words,
          |             cum_mass - c * nw AS prev_mass, c,
          |             row_number() OVER (PARTITION BY pct ORDER BY cum_mass) AS rn
          |      FROM cum CROSS JOIN tot
          |      CROSS JOIN (SELECT CAST(p AS BIGINT) AS pct
          |                  FROM (VALUES (50), (90), (99)) t(p))
          |      WHERE cum_mass >= (pct * total + 99) // 100)
          |SELECT pct, total_tokens, CAST(target_mass AS BIGINT) AS target_mass,
          |       CAST(prev_words + (target_mass - prev_mass + c - 1) // c AS BIGINT) AS vocab_needed
          |FROM q WHERE rn = 1 ORDER BY pct""".stripMargin,
      // same candidate prelude; members of >= 0.8 pairs union + distinct,
      // then two source-keyed counts
      "q_dup_rate" ->
        s"""WITH $CandidateCtes,
           |${shingleSetsCte(nonEmpty = false)},
           |hi AS (SELECT p.doc_a, p.doc_b FROM ${verifyJoinSql("pairs")}
           |       WHERE round($JaccardSql, 6) >= 0.8),
           |ids AS (SELECT DISTINCT doc_id FROM
           |        (SELECT doc_a AS doc_id FROM hi UNION ALL SELECT doc_b FROM hi)),
           |nd AS (SELECT source, count(*) AS n_neardup
           |       FROM documents JOIN ids USING (doc_id) GROUP BY 1)
           |SELECT d.source, count(*) AS n_docs,
           |       CAST(coalesce(max(nd.n_neardup), 0) AS BIGINT) AS n_neardup,
           |       CAST(coalesce(max(nd.n_neardup), 0) * 1000000 // count(*) AS BIGINT) AS dup_ppm
           |FROM documents d LEFT JOIN nd ON d.source = nd.source
           |GROUP BY d.source
           |ORDER BY d.source""".stripMargin,
      // integer micro-nat replay of the gate: identical quantization,
      // identical floor-DIV threshold, so the keep set is bit-equal
      "q_perplexity_gate" ->
        """WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents),
          |uni AS (SELECT word, count(*) AS c
          |        FROM (SELECT unnest(ws) AS word FROM w) GROUP BY 1),
          |tw AS (SELECT CAST(sum(c) AS DOUBLE) AS t FROM uni),
          |dw AS (SELECT doc_id, source, unnest(ws) AS word FROM w),
          |pd AS (SELECT doc_id, source,
          |              CAST(round(avg(-ln(c / t)) * 1e6) AS BIGINT) AS nll_u
          |       FROM dw JOIN uni USING (word) CROSS JOIN tw
          |       GROUP BY doc_id, source),
          |srcs AS (SELECT source, count(*) AS n_docs, CAST(sum(nll_u) AS BIGINT) AS sum_u
          |         FROM pd GROUP BY 1),
          |thr AS (SELECT source, n_docs, sum_u,
          |               CAST(sum_u // n_docs AS BIGINT) AS thr_u FROM srcs)
          |SELECT source, CAST(max(n_docs) AS BIGINT) AS n_docs,
          |       CAST(sum(CASE WHEN nll_u <= thr_u THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
          |       CAST(max(sum_u // n_docs) AS BIGINT) AS mean_nll_micro
          |FROM pd JOIN thr USING (source)
          |GROUP BY source
          |ORDER BY source""".stripMargin,
      // same candidate prelude as q_minhash_est; exact set math adds the
      // two directed containments beside the resemblance
      "q_dedup_containment" ->
        s"""WITH $CandidateCtes,
           |${shingleSetsCte(nonEmpty = true)}
           |SELECT p.doc_a, p.doc_b,
           |       round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(a.sh), 6) AS containment_a_in_b,
           |       round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(b.sh), 6) AS containment_b_in_a,
           |       round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
           |             (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) AS jaccard
           |FROM ${verifyJoinSql("pairs")}
           |ORDER BY doc_a, doc_b""".stripMargin,
      // same candidate prelude; source lookup + cross-source filter on top
      "q_dedup_cross_source" ->
        s"""WITH $CandidateCtes,
           |${shingleSetsCte(nonEmpty = true)}
           |SELECT p.doc_a, p.doc_b, da.source AS source_a, db.source AS source_b,
           |       round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
           |             (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) AS jaccard
           |FROM ${verifyJoinSql("pairs")}
           |JOIN documents da ON da.doc_id = p.doc_a
           |JOIN documents db ON db.doc_id = p.doc_b
           |WHERE da.source <> db.source
           |ORDER BY doc_a, doc_b""".stripMargin,
      // same candidate prelude + the q_dedup_ngram blocked prelude; pooled
      // truth scored once, then four counts over the pool joins
      "q_dedup_eval" ->
        s"""WITH $CandidateCtes,
           |d0 AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_words, ws[1] AS first_word
           |       FROM w),
           |d AS (SELECT * FROM d0 ${cappedSql(NgramKeys, NgramBlockCap)}),
           |bp AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
           |       FROM ${selfJoinSql("d", NgramKeys)}),
           |pool AS (SELECT doc_a, doc_b FROM bp UNION SELECT doc_a, doc_b FROM pairs),
           |${shingleSetsCte(nonEmpty = true)},
           |truth AS (SELECT p.doc_a, p.doc_b FROM ${verifyJoinSql("pool")}
           |          WHERE round($JaccardSql, 6) >= $DedupEvalTau),
           |hits AS (SELECT t.doc_a FROM truth t JOIN pairs c
           |         ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b),
           |btr AS (SELECT t.doc_a FROM truth t JOIN bp p
           |        ON t.doc_a = p.doc_a AND t.doc_b = p.doc_b),
           |n AS (SELECT (SELECT count(*) FROM truth) AS n_truth,
           |             (SELECT count(*) FROM pairs) AS n_cand,
           |             (SELECT count(*) FROM hits) AS n_hits,
           |             (SELECT count(*) FROM btr) AS n_blocked_truth)
           |SELECT n_truth, n_cand, n_hits, n_blocked_truth,
           |       round(CAST(n_hits AS DOUBLE) / greatest(n_truth, 1), 6) AS recall,
           |       round(CAST(n_hits AS DOUBLE) / greatest(n_cand, 1), 6) AS precision
           |FROM n""".stripMargin,
      // per-source signatures = min-merge over all shingle hashes (min is
      // duplicate-blind, so the per-source min over raw shingles equals
      // the minhash of the source's distinct vocabulary)
      "q_sketch_merge" ->
        s"""WITH w AS (SELECT source, string_split(text, ' ') AS ws FROM documents),
           |sh AS (SELECT source, unnest($Shingles3Sql) AS shingle FROM w),
           |h AS (SELECT source, ${Hash.prefixSql("shingle")} AS h FROM sh),
           |sig AS (SELECT source, ${TextQueries.MinhashAggSql} FROM h GROUP BY source),
           |pairs AS (SELECT a.source AS source_a, b.source AS source_b,
           |                 CAST($srcSigAgreeSum AS BIGINT) AS n_agree
           |          FROM sig a JOIN sig b ON a.source < b.source),
           |ss AS (SELECT DISTINCT source, shingle FROM sh),
           |sizes AS (SELECT source, count(*) AS n_sh FROM ss GROUP BY 1),
           |common AS (SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_common
           |           FROM ss a JOIN ss b ON a.shingle = b.shingle AND a.source < b.source
           |           GROUP BY 1, 2)
           |SELECT p.source_a, p.source_b, p.n_agree,
           |       round(CAST(p.n_agree AS DOUBLE) / $MinhashK, 6) AS est_jaccard,
           |       CAST(coalesce(c.n_common, 0) AS BIGINT) AS n_common,
           |       CAST(sa.n_sh + sb.n_sh - coalesce(c.n_common, 0) AS BIGINT) AS n_union,
           |       round(CAST(coalesce(c.n_common, 0) AS DOUBLE) /
           |             (sa.n_sh + sb.n_sh - coalesce(c.n_common, 0)), 6) AS jaccard
           |FROM pairs p
           |JOIN sizes sa ON sa.source = p.source_a
           |JOIN sizes sb ON sb.source = p.source_b
           |LEFT JOIN common c ON c.source_a = p.source_a AND c.source_b = p.source_b
           |ORDER BY 1, 2""".stripMargin,
      "q_tfidf_top" ->
        """WITH total AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
          |tf AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
          |tfc AS (SELECT doc_id, word, count(*) AS tf FROM tf GROUP BY doc_id, word),
          |dfc AS (SELECT word, count(*) AS df
          |        FROM (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS word
          |              FROM documents)
          |        GROUP BY word),
          |scored AS (SELECT doc_id, word,
          |                  round(tf * ln(total.n_docs / CAST(df AS DOUBLE)), 6) AS tfidf
          |           FROM tfc JOIN dfc USING (word) CROSS JOIN total)
          |SELECT doc_id, word AS top_word, tfidf
          |FROM scored
          |QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, word) = 1
          |ORDER BY doc_id""".stripMargin,
      // identical micro-nat ledgers over the same bigram census
      "q_ngram_entropy_rate" ->
        """WITH w AS (SELECT string_split(text, ' ') AS ws FROM documents),
          |bg0 AS (SELECT unnest(list_transform(range(1, len(ws)),
          |               i -> struct_pack(w1 := ws[i], w2 := ws[i+1]))) AS b FROM w),
          |bg AS (SELECT b.w1 AS w1, b.w2 AS w2, CAST(count(*) AS BIGINT) AS c12
          |       FROM bg0 GROUP BY 1, 2),
          |c1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM bg GROUP BY 1),
          |n AS (SELECT CAST(sum(c12) AS BIGINT) AS n FROM bg),
          |hc AS (SELECT CAST(sum(bg.c12 * CAST(round(ln(CAST(c1.c1 AS DOUBLE)
          |                / CAST(bg.c12 AS DOUBLE)) * 1000000) AS BIGINT)) AS BIGINT) AS hc_num
          |       FROM bg JOIN c1 USING (w1)),
          |hu AS (SELECT CAST(sum(c1.c1 * CAST(round(ln(CAST(n.n AS DOUBLE)
          |                / CAST(c1.c1 AS DOUBLE)) * 1000000) AS BIGINT)) AS BIGINT) AS hu_num
          |       FROM c1 CROSS JOIN n),
          |bt AS (SELECT CAST(count(*) AS BIGINT) AS n_bigram_types FROM bg)
          |SELECT n.n AS n_bigrams, bt.n_bigram_types,
          |       hu_num // n.n AS h_unigram_micronat,
          |       hc_num // n.n AS h_cond_micronat,
          |       (hu_num // n.n) - (hc_num // n.n) AS info_gain_micronat
          |FROM n CROSS JOIN hc CROSS JOIN hu CROSS JOIN bt""".stripMargin,
      "q_bigram_pmi" ->
        """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
          |uni AS (SELECT word, count(*) AS c
          |        FROM (SELECT unnest(ws) AS word FROM w) GROUP BY word),
          |tw AS (SELECT CAST(count(*) AS DOUBLE) AS t_words
          |       FROM (SELECT unnest(ws) AS word FROM w)),
          |bgl AS (SELECT unnest(list_transform(range(1, len(ws)),
          |               i -> struct_pack(w1 := ws[i], w2 := ws[i+1]))) AS b FROM w),
          |bg AS (SELECT b.w1 AS w1, b.w2 AS w2, count(*) AS c12
          |       FROM bgl GROUP BY w1, w2 HAVING count(*) >= 5),
          |tb AS (SELECT CAST(sum(greatest(len(ws) - 1, 0)) AS DOUBLE) AS t_bigrams FROM w)
          |SELECT bg.w1, bg.w2, bg.c12,
          |       round(ln((c12 / tb.t_bigrams) /
          |             ((u1.c / tw.t_words) * (u2.c / tw.t_words))), 6) AS pmi
          |FROM bg JOIN uni u1 ON u1.word = bg.w1
          |        JOIN uni u2 ON u2.word = bg.w2
          |        CROSS JOIN tw CROSS JOIN tb
          |ORDER BY pmi DESC, w1, w2 LIMIT 20""".stripMargin,
      // bigram LM replay: same bigram formation, same add-0.5 smoothing;
      // joins mirror the Spark inner joins (every doc bigram has counts)
      "q_bigram_logprob" ->
        """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
          |uni AS (SELECT word AS w1, count(*) AS c1
          |        FROM (SELECT unnest(ws) AS word FROM w) GROUP BY 1),
          |v AS (SELECT CAST(count(*) AS DOUBLE) AS v FROM uni),
          |bgl AS (SELECT doc_id, unnest(list_transform(range(1, len(ws)),
          |               i -> struct_pack(w1 := ws[i], w2 := ws[i+1]))) AS b FROM w),
          |db AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM bgl),
          |bg AS (SELECT w1, w2, count(*) AS c12 FROM db GROUP BY 1, 2)
          |SELECT db.doc_id,
          |       round(avg(-ln((bg.c12 + 0.5) / (uni.c1 + 0.5 * v.v))), 6) AS mean_nll,
          |       count(*) AS n_bigrams
          |FROM db JOIN bg USING (w1, w2) JOIN uni USING (w1) CROSS JOIN v
          |GROUP BY db.doc_id
          |ORDER BY db.doc_id""".stripMargin,
      "q_lexical_diversity" ->
        """WITH wc AS (SELECT source, word, count(*) AS n
          |            FROM (SELECT source, unnest(string_split(text, ' ')) AS word
          |                  FROM documents)
          |            GROUP BY 1, 2),
          |bysrc AS (SELECT source,
          |                 CAST(sum(n) AS BIGINT) AS n_tokens,
          |                 count(*) AS vocab,
          |                 CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
          |                 CAST(sum(n * (n - 1)) AS BIGINT) AS simpson_num
          |          FROM wc GROUP BY 1),
          |h AS (SELECT wc.source,
          |             round(sum(-(CAST(n AS DOUBLE) / nt) * ln(CAST(n AS DOUBLE) / nt)), 9) AS entropy
          |      FROM wc JOIN (SELECT source, n_tokens AS nt FROM bysrc) b USING (source)
          |      GROUP BY 1)
          |SELECT source, n_tokens, vocab,
          |       CAST(vocab * 1000000 // n_tokens AS BIGINT) AS ttr_ppm,
          |       n_hapax,
          |       round(CAST(simpson_num AS DOUBLE) /
          |             (CAST(n_tokens AS DOUBLE) * (n_tokens - 1)), 9) AS simpson,
          |       entropy,
          |       round(exp(entropy), 2) AS eff_vocab
          |FROM bysrc JOIN h USING (source)
          |ORDER BY source""".stripMargin,
      "q_kneser_ney" ->
        """WITH w AS (SELECT string_split(text, ' ') AS ws FROM documents),
          |bgl AS (SELECT unnest(list_transform(range(1, len(ws)),
          |               i -> struct_pack(w1 := ws[i], w2 := ws[i+1]))) AS b FROM w),
          |bg AS (SELECT b.w1 AS w1, b.w2 AS w2, count(*) AS c FROM bgl GROUP BY 1, 2),
          |ctx AS (SELECT w1, CAST(sum(c) AS BIGINT) AS ctot, count(*) AS nfollow
          |        FROM bg GROUP BY 1),
          |cont AS (SELECT w2, count(*) AS ncont FROM bg GROUP BY 1),
          |btot AS (SELECT CAST(count(*) AS DOUBLE) AS bt FROM bg),
          |terms AS (SELECT c,
          |                 CAST(round(c * -ln((c - 0.75) / ctot
          |                   + 0.75 * nfollow / ctot * (ncont / bt)) * 1e6) AS BIGINT) AS t_u
          |          FROM bg JOIN ctx USING (w1) JOIN cont USING (w2) CROSS JOIN btot),
          |a AS (SELECT CAST(sum(c) AS BIGINT) AS n_bigram_tokens,
          |             count(*) AS n_bigram_types,
          |             CAST(sum(t_u) AS BIGINT) AS sum_u FROM terms)
          |SELECT n_bigram_tokens, n_bigram_types,
          |       CAST(sum_u // n_bigram_tokens AS BIGINT) AS mean_nll_micro,
          |       round(exp(CAST(sum_u AS DOUBLE) / 1e6 / n_bigram_tokens), 6) AS ppl
          |FROM a""".stripMargin,
      "q_corpus_pipeline" ->
        s"""WITH n AS (SELECT doc_id, source,
          |                  trim(regexp_replace(regexp_replace(lower(text),
          |                    '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS norm
          |           FROM documents),
          |q AS (SELECT doc_id, source, norm, len(string_split(norm, ' ')) AS n_words
          |      FROM n WHERE len(string_split(norm, ' ')) >= 30),
          |c AS (SELECT min(struct_pack(doc_id := doc_id, source := source, n_words := n_words)) AS keep
          |      FROM q GROUP BY md5(norm)),
          |k AS (SELECT keep.doc_id AS doc_id, keep.source AS source,
          |             keep.n_words AS n_words FROM c),
          |b AS (SELECT *,
          |             ${Hash.prefixSql("'split:' || CAST(doc_id AS VARCHAR)")} % 100 AS bucket
          |      FROM k)
          |SELECT CASE WHEN bucket < 80 THEN 'train'
          |            WHEN bucket < 90 THEN 'valid' ELSE 'test' END AS split,
          |       source, count(*) AS n_docs, round(avg(n_words), 6) AS avg_words
          |FROM b GROUP BY split, source ORDER BY split, source""".stripMargin,
      "q_unigram_logprob" ->
        """WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
          |uni AS (SELECT word, count(*) AS c FROM w GROUP BY word),
          |t AS (SELECT CAST(sum(c) AS DOUBLE) AS t FROM uni)
          |SELECT w.doc_id,
          |       round(avg(-ln(uni.c / t.t)), 6) AS mean_nll,
          |       count(*) AS n_words
          |FROM w JOIN uni USING (word) CROSS JOIN t
          |GROUP BY w.doc_id ORDER BY doc_id""".stripMargin,
      "q_bpe_pairs" ->
        """WITH w AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
          |v AS (SELECT word, count(*) AS wc FROM w WHERE length(word) >= 2 GROUP BY word),
          |p AS (SELECT substr(v.word, u.i, 2) AS pair, v.wc
          |      FROM v, UNNEST(generate_series(1, length(v.word) - 1)) AS u(i))
          |SELECT pair, CAST(sum(wc) AS BIGINT) AS n
          |FROM p GROUP BY pair ORDER BY n DESC, pair LIMIT 20""".stripMargin,
      // The 3 merge rounds unrolled as CTEs: same sentinel-wrapped symbol
      // strings, same literal replace() merge, same (n DESC, a, b) argmax
      // total order — DuckDB's replace() is the same greedy left-to-right
      // non-overlapping scan as Spark's, so "aaa"-style runs merge
      // identically in both engines.
      "q_bpe_train" ->
        """WITH w AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
          |v AS (SELECT word, count(*) AS wc FROM w WHERE length(word) >= 1 GROUP BY word),
          |v0 AS (SELECT wc, chr(1) || array_to_string(string_split(word, ''), chr(1) || chr(1)) || chr(1) AS sym FROM v),
          |p1 AS (SELECT t.toks[u.i] AS a, t.toks[u.i + 1] AS b, CAST(sum(t.wc) AS BIGINT) AS n
          |       FROM (SELECT wc, string_split(substr(sym, 2, length(sym) - 2), chr(1) || chr(1)) AS toks FROM v0) t,
          |            UNNEST(generate_series(1, len(t.toks) - 1)) AS u(i)
          |       GROUP BY 1, 2),
          |t1 AS (SELECT a, b, n FROM p1 ORDER BY n DESC, a, b LIMIT 1),
          |v1 AS (SELECT v0.wc, replace(v0.sym, chr(1) || t1.a || chr(1) || chr(1) || t1.b || chr(1), chr(1) || t1.a || t1.b || chr(1)) AS sym FROM v0, t1),
          |p2 AS (SELECT t.toks[u.i] AS a, t.toks[u.i + 1] AS b, CAST(sum(t.wc) AS BIGINT) AS n
          |       FROM (SELECT wc, string_split(substr(sym, 2, length(sym) - 2), chr(1) || chr(1)) AS toks FROM v1) t,
          |            UNNEST(generate_series(1, len(t.toks) - 1)) AS u(i)
          |       GROUP BY 1, 2),
          |t2 AS (SELECT a, b, n FROM p2 ORDER BY n DESC, a, b LIMIT 1),
          |v2 AS (SELECT v1.wc, replace(v1.sym, chr(1) || t2.a || chr(1) || chr(1) || t2.b || chr(1), chr(1) || t2.a || t2.b || chr(1)) AS sym FROM v1, t2),
          |p3 AS (SELECT t.toks[u.i] AS a, t.toks[u.i + 1] AS b, CAST(sum(t.wc) AS BIGINT) AS n
          |       FROM (SELECT wc, string_split(substr(sym, 2, length(sym) - 2), chr(1) || chr(1)) AS toks FROM v2) t,
          |            UNNEST(generate_series(1, len(t.toks) - 1)) AS u(i)
          |       GROUP BY 1, 2),
          |t3 AS (SELECT a, b, n FROM p3 ORDER BY n DESC, a, b LIMIT 1)
          |SELECT CAST(1 AS BIGINT) AS round, a AS tok_a, b AS tok_b, n FROM t1
          |UNION ALL
          |SELECT CAST(2 AS BIGINT) AS round, a AS tok_a, b AS tok_b, n FROM t2
          |UNION ALL
          |SELECT CAST(3 AS BIGINT) AS round, a AS tok_a, b AS tok_b, n FROM t3
          |ORDER BY round""".stripMargin,
      "q_tokenizer_stats" ->
        """WITH t AS (SELECT source,
          |                  CAST(length(text) AS DOUBLE) AS nc,
          |                  CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS DOUBLE) AS nt
          |           FROM documents)
          |SELECT source, count(*) AS n_docs,
          |       round(avg(nc / nt), 6) AS avg_chars_per_token,
          |       round(min(nc / nt), 6) AS min_cpt,
          |       round(max(nc / nt), 6) AS max_cpt
          |FROM t GROUP BY source ORDER BY source""".stripMargin,
      // same 32-char windows; range() end is exclusive where Spark's
      // sequence() end is inclusive, hence the +1
      "q_substring_dup" ->
        """WITH g AS (
          |  SELECT source,
          |         unnest(CASE WHEN length(text) >= 32
          |           THEN list_transform(range(1, length(text) - 31 + 1),
          |                               i -> substr(text, i, 32))
          |           ELSE [] END) AS gram
          |  FROM documents),
          |ps AS (SELECT source, gram, count(*) AS n_sg FROM g GROUP BY 1, 2),
          |tot AS (SELECT gram, CAST(sum(n_sg) AS BIGINT) AS n_g,
          |               count(*) AS n_sources_g
          |        FROM ps GROUP BY 1)
          |SELECT source,
          |       CAST(sum(n_sg) AS BIGINT) AS n_positions,
          |       CAST(sum(CASE WHEN n_g > 1 THEN n_sg ELSE 0 END) AS BIGINT) AS n_dup_positions,
          |       CAST(sum(CASE WHEN n_sources_g > 1 THEN n_sg ELSE 0 END) AS BIGINT) AS n_cross_source_positions,
          |       count(*) AS n_distinct_grams,
          |       CAST(sum(CASE WHEN n_g > 1 THEN n_sg ELSE 0 END) AS BIGINT)
          |         * 1000000 // CAST(sum(n_sg) AS BIGINT) AS dup_ppm
          |FROM ps JOIN tot USING (gram)
          |GROUP BY source ORDER BY source""".stripMargin
    )
  }
}
