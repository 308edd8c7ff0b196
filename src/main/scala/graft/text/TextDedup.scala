package graft.text

import org.apache.spark.internal.Logging
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Candidate-pair generation for the sketch-based dedup family — the
  * "scale path" half of the §2 dedup surface: every method below turns
  * near-dup search into an equi-join on a small derived key, so candidate
  * generation is one shuffle of sketch rows (never document bodies, never
  * an all-pairs product).
  *
  * The MinHash near-dup pipeline's decisions each live in one place, with
  * their DuckDB spelling beside the Spark one: shingles and the MinHash
  * functions in [[TextQueries]]; here the band key, the capped block
  * self-join (band buckets and n-gram blocks alike) and the pair ⋈
  * shingle-sets Jaccard verify.
  */
object TextDedup extends Logging {

  /** MinHash LSH banding: split each doc's k-value signature into `bands`
    * bands of k/bands values; docs sharing ANY band land in the same bucket
    * and become a candidate pair. Standard S-curve: with k=16, bands=4
    * (r=4), P(candidate) = 1-(1-s^4)^4 for Jaccard s.
    *
    * Input: (doc_id, j, minhash) exploded signatures (q_dedup_minhash
    * shape). Output: distinct candidate (doc_a, doc_b) pairs.
    */
  def minhashCandidates(signatures: DataFrame, bands: Int = 4,
                        maxBucketSize: Int = DefaultMaxBucketSize): DataFrame =
    candidatesFromBanded(bandedWithSize(signatures, bands), maxBucketSize)

  /** Memoized default-parameter LSH candidate pairs for the fixture at
    * `dir`: at 100 TB the candidate edge set is a persisted pipeline
    * artifact that the banding report, containment scoring, and
    * sketch-accuracy queries all read.
    */
  def minhashCandidatesFor(s: org.apache.spark.sql.SparkSession,
                           dir: String): DataFrame =
    ArtifactMemo("minhash_candidates", s, dir) {
      minhashCandidates(TextQueries.minhashSigsFor(s, dir)).localCheckpoint(eager = false)
    }

  /** Candidate pairs from a pre-computed [[bandedWithSize]] frame — split
    * out so callers needing BOTH the candidates and the over-full-bucket
    * report (e.g. [[nearDupPairs]]) band once, not twice.
    */
  def candidatesFromBanded(banded: DataFrame,
                           maxBucketSize: Int = DefaultMaxBucketSize): DataFrame =
    blockPairs(banded, BandKeys, maxBucketSize).select("doc_a", "doc_b").distinct()

  /** Bucket-population guard default: a band bucket of b docs yields
    * b(b-1)/2 candidate pairs, so ONE degenerate key (e.g. an empty-doc
    * signature repeated across a 100 TB corpus) would go quadratic.
    * Over-full buckets are dropped from candidate generation — a bounded,
    * observable recall sacrifice ([[overfullFromBanded]] reports what was
    * dropped) instead of an unbounded shuffle explosion.
    */
  val DefaultMaxBucketSize = 1000

  private val BandKeys = Seq("band", "band_key")

  /** Per-(band, band_key) rows annotated with their bucket population
    * ([[withBlockSize]]). Materialized once (`localCheckpoint`): the
    * output is small — `bands` rows of (id, key, count) per doc, never
    * document bodies — but every consumer reads it at least twice
    * (self-join sides, census, over-full report), and without the cut each
    * read would re-run the whole shingle→minhash pipeline upstream.
    */
  def bandedWithSize(signatures: DataFrame, bands: Int = 4): DataFrame = {
    val banded = signatures
      .withColumn("band", pmod(col("j"), lit(bands)))
      .groupBy("doc_id", "band")
      // band key = the band's signature values in j order, fingerprinted
      .agg(md5(concat_ws(",",
        transform(array_sort(collect_list(struct(col("j"), col("minhash")))),
          x => x.getField("minhash").cast("string")))).as("band_key"))
      .localCheckpoint(eager = false)
    withBlockSize(banded, BandKeys).localCheckpoint(eager = false)
  }

  /** Over-full-bucket report from a pre-computed [[bandedWithSize]] frame:
    * the band buckets [[candidatesFromBanded]] drops at `maxBucketSize`.
    */
  def overfullFromBanded(banded: DataFrame,
                         maxBucketSize: Int = DefaultMaxBucketSize): DataFrame =
    banded
      .filter(col("n_bucket") > maxBucketSize)
      .select("band", "band_key", "n_bucket").distinct()

  /** DuckDB CTEs through `pairs(doc_a, doc_b)`, the oracle twin of
    * [[minhashCandidatesFor]]: [[TextQueries.MinhashSigsCtes]], then
    * `banded` — each doc's band keys, in buckets of at most
    * DefaultMaxBucketSize docs — and its block self-join.
    */
  private[text] val CandidateCtes: String =
    s"""${TextQueries.MinhashSigsCtes},
       |banded AS (
       |  SELECT doc_id, j % 4 AS band,
       |         md5(array_to_string(list_transform(list(minhash ORDER BY j),
       |             x -> CAST(x AS VARCHAR)), ',')) AS band_key
       |  FROM sigs GROUP BY doc_id, band
       |  ${cappedSql(BandKeys, DefaultMaxBucketSize)}
       |),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM ${selfJoinSql("banded", BandKeys)}
       |)""".stripMargin

  /** Block census: `rows` annotated with `n_bucket`, the number of rows
    * sharing their `keys` (the block). Census + co-partitioned join: both
    * sides shuffle on the key, and the census is NOT broadcast because
    * distinct keys scale with corpus size.
    */
  private[text] def withBlockSize(rows: DataFrame, keys: Seq[String]): DataFrame =
    rows.join(rows.groupBy(keys.head, keys.tail: _*).agg(count(lit(1)).as("n_bucket")), keys)

  /** The capped block self-join over [[withBlockSize]] rows: blocks of at
    * most `cap` rows are paired within themselves as (doc_a < doc_b),
    * carrying each `carry` column as `<c>_a` and `<c>_b`; larger blocks
    * are dropped — a block of b rows costs b(b-1)/2 pairs.
    */
  private[text] def blockPairs(sized: DataFrame, keys: Seq[String], cap: Int,
                               carry: String*): DataFrame = {
    val kept = sized.filter(col("n_bucket") <= cap)
    def side(s: String): DataFrame = kept.select(
      (col("doc_id").as(s"doc_$s") +: keys.map(col)) ++ carry.map(c => col(c).as(s"${c}_$s")): _*)
    side("a").join(side("b"), keys).filter(col("doc_a") < col("doc_b"))
  }

  /** DuckDB spelling of the census cap: a QUALIFY clause keeping the rows
    * whose block over `keys` holds at most `cap` rows.
    */
  private[text] def cappedSql(keys: Seq[String], cap: Int): String =
    s"QUALIFY count(*) OVER (PARTITION BY ${keys.mkString(", ")}) <= $cap"

  /** DuckDB spelling of the block self-join: `rel` as `a` and `b`, paired
    * within a block, `a.doc_id < b.doc_id`.
    */
  private[text] def selfJoinSql(rel: String, keys: Seq[String]): String =
    s"$rel a JOIN $rel b ON ${keys.map(k => s"a.$k = b.$k").mkString(" AND ")} AND a.doc_id < b.doc_id"

  /** The pair verify: (doc_a, doc_b, ...) `pairs` joined to the (doc_id,
    * sh) shingle `sets` of both ends, as `sh_a` and `sh_b`; a pair with an
    * end missing from `sets` drops out.
    */
  private[text] def withShingleSets(pairs: DataFrame, sets: DataFrame): DataFrame =
    pairs
      .join(sets.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")

  /** Exact Jaccard of the `sh_a` and `sh_b` shingle sets. */
  private[text] def jaccard: Column =
    size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
      size(array_union(col("sh_a"), col("sh_b"))).cast("double")

  /** DuckDB spelling of [[jaccard]] over the `a.sh` and `b.sh` sets. */
  private[text] val JaccardSql =
    "CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / " +
      "CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE)"

  /** DuckDB `ds(doc_id, sh)`: the distinct shingle sets of `shl`, the
    * oracle twin of [[TextQueries.shingleSetsFor]]'s `sh`; `nonEmpty`
    * drops the docs without a shingle.
    */
  private[text] def shingleSetsCte(nonEmpty: Boolean): String =
    "ds AS (SELECT doc_id, list_distinct(sh) AS sh FROM shl" +
      (if (nonEmpty) " WHERE len(list_distinct(sh)) > 0)" else ")")

  /** DuckDB spelling of [[withShingleSets]]: `pairs` as `p`, joined to
    * `ds` as `a` and `b`.
    */
  private[text] def verifyJoinSql(pairs: String): String =
    s"$pairs p JOIN ds a ON a.doc_id = p.doc_a JOIN ds b ON b.doc_id = p.doc_b"

  /** SimHash near-dup candidates: band the 32-bit fingerprint into four
    * 8-bit chunks; two docs within Hamming distance 3 must agree on at
    * least one chunk (pigeonhole), so chunk-equality equi-joins generate a
    * complete candidate set for d <= 3, verified exactly by popcount.
    *
    * Input: (doc_id, simhash) (q_dedup_simhash shape).
    * Output: (doc_a, doc_b, hamming) pairs with hamming <= maxHamming.
    */
  def simhashNearPairs(simhashes: DataFrame, maxHamming: Int = 3): DataFrame = {
    val chunks = simhashes.select(col("doc_id"), col("simhash"),
      explode(array((0 until 4).map(c =>
        struct(lit(c).as("chunk"),
          shiftright(col("simhash"), c * 8).bitwiseAND(lit(255L)).as("ck"))): _*)).as("b"))
      .select(col("doc_id"), col("simhash"), col("b.chunk").as("chunk"), col("b.ck").as("ck"))
    val a = chunks.select(col("doc_id").as("doc_a"), col("simhash").as("sh_a"), col("chunk"), col("ck"))
    val b = chunks.select(col("doc_id").as("doc_b"), col("simhash").as("sh_b"), col("chunk"), col("ck"))
    a.join(b, Seq("chunk", "ck"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Connected components over a near-dup edge set by iterative min-label
    * propagation — the canonicalization step that turns pairwise dedup
    * verdicts into clusters (component id = min doc_id in the cluster;
    * everything but the min is a duplicate to drop).
    *
    * Each iteration: every node takes the min of its own label and its
    * neighbors' labels; stop at fixpoint (or `maxIter`). Converges in
    * O(component diameter) rounds; each round is one co-partitioned
    * edge⋈label join + one min-aggregate — both shuffled by node id, so a
    * 100 TB edge set runs at the usual groupBy cost per round, and
    * `localCheckpoint` keeps the plan from growing across rounds (the
    * Lloyd-loop discipline, Lloyd.scala).
    */
  def connectedComponents(nodes: DataFrame, edges: DataFrame,
                          maxIter: Int = 50): DataFrame =
    connectedComponentsWithRounds(nodes, edges, maxIter)._1

  /** [[connectedComponents]] in DuckDB, for the oracles, as one recursive
    * CTE chain: `edges` holds both directions of each caller-defined
    * `e0(a, b)` pair, `reach(v, u)` pairs every `id` of `nodes` with each
    * node it reaches (itself included), and `labels($id, component)` keeps
    * the least. The caller opens with `WITH RECURSIVE`.
    */
  private[graft] def componentsSql(nodes: String, id: String): String =
    s"""edges AS (SELECT a, b FROM e0 UNION ALL SELECT b AS a, a AS b FROM e0),
       |reach(v, u) AS (
       |  SELECT $id, $id FROM $nodes
       |  UNION
       |  SELECT r.v, e.b FROM reach r JOIN edges e ON r.u = e.a
       |),
       |labels AS (SELECT v AS $id, min(u) AS component FROM reach GROUP BY v)""".stripMargin

  /** [[connectedComponents]] plus its observability: (labels, rounds run,
    * reached fixpoint). The round count is how the O(log diameter)
    * pointer-jumping claim is ASSERTED (TextDedupSpec plants a long chain
    * and a star and pins the round budget) rather than trusted.
    */
  def connectedComponentsWithRounds(nodes: DataFrame, edges: DataFrame,
                                    maxIter: Int = 50): (DataFrame, Int, Boolean) = {
    val sym = edges.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(edges.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .localCheckpoint(eager = false)
    var labels = nodes.select(col("doc_id"), col("doc_id").as("component"))
      .localCheckpoint(eager = false)
    // Fixpoint detection without a per-round join: labels only ever
    // DECREASE (min-propagation is monotone), so the label sum is a strict
    // progress measure — unchanged sum == fixpoint. Decimal sum: immune to
    // long overflow at any id range / node count.
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("component").cast("decimal(38,0)"))).head().getDecimal(0)
    var prevSum = labelSum(labels)
    var i = 0
    var converged = false
    while (!converged && i < maxIter) {
      // neighbor step: take the min label over self + direct neighbors.
      // Both union branches re-alias every column: the right branch embeds
      // `labels` inside its join, so without fresh exprIds the two branches
      // share attribute ids and Catalyst's union-constraint rewrite throws
      // (key not found) on the self-referential plan.
      val fromNbr = sym.join(labels, sym("src") === labels("doc_id"))
        .select(col("dst").as("doc_id"), col("component").as("component"))
      // Eager checkpoint: the pointer-jump self-join below reads this agg
      // twice, and AQE does NOT dedupe the two into one exchange (verified
      // in the executed plan: two materialized ShuffleQueryStages with
      // distinct plan_ids; only the tiny label broadcast gets
      // ReusedExchange). Without the cut the aggregation — the round's one
      // big shuffle at 100 TB — would run twice per round; one small extra
      // job is the cheaper side of that trade.
      val stepped = labels.select(col("doc_id").as("doc_id"), col("component").as("component"))
        .unionByName(fromNbr)
        .groupBy("doc_id").agg(min("component").as("component"))
        .localCheckpoint(eager = false)
      // pointer-jump step: also adopt the label OF my current label
      // (component ids are node ids, so label(label) is a valid lookup).
      // Halves the remaining path distance every round -> O(log diameter)
      // rounds instead of O(diameter) on chain-shaped components.
      // LAZY checkpoint: the labelSum action right below is what
      // materializes it (truncating lineage for the next round), so each
      // round costs two jobs total — previously three (two eager
      // checkpoints + the sum).
      labels = stepped.as("a")
        .join(stepped.select(col("doc_id").as("c_id"), col("component").as("c_comp")),
          col("a.component") === col("c_id"))
        .select(col("a.doc_id").as("doc_id"),
          least(col("a.component"), col("c_comp")).as("component"))
        .localCheckpoint(eager = false)
      i += 1
      // Fixpoint probe every 2nd round only: the sum is a full-pass action,
      // labels are monotone non-increasing, and pointer jumping converges in
      // O(log diameter) rounds — so probing alternate rounds halves the
      // probe actions for at most one extra (cheap) post-fixpoint round.
      // Un-probed rounds leave the lazy checkpoint to be materialized by the
      // NEXT round's stepped job, so they cost a single job.
      if (i % 2 == 0 || i == maxIter) {
        val s = labelSum(labels)
        converged = s.compareTo(prevSum) == 0
        prevSum = s
      }
    }
    if (converged)
      logInfo(s"connectedComponents converged in $i rounds")
    else
      // the labeling below the fixpoint is still a valid (coarser-ward)
      // upper bound on components, but it is NOT the answer — say so loudly
      // instead of claiming convergence.
      logWarning(s"connectedComponents stopped at maxIter=$maxIter WITHOUT reaching the fixpoint — labels may be unconverged")
    (labels, i, converged)
  }

  /** End-to-end near-dup dedup decision: minhash-LSH candidates verified by
    * exact shingle Jaccard, keep min doc_id per connected component's edge
    * set (single-link within candidate pairs).
    */
  def nearDupPairs(spark: org.apache.spark.sql.SparkSession, sfDir: String,
                   jaccardThreshold: Double = 0.8): DataFrame = {
    val sigs = TextQueries.minhashSigsFor(spark, sfDir)
    // band ONCE; both the over-full report and the kept candidates read the
    // same materialized frame
    val banded = bandedWithSize(sigs)
    // size-guard observability: say what the cap threw away (one tiny
    // aggregate job over sketch rows; nothing at fixture scale)
    val dropped = overfullFromBanded(banded).count()
    if (dropped > 0)
      logWarning(s"dropped $dropped over-full band buckets (> $DefaultMaxBucketSize docs) from candidate generation")
    withShingleSets(candidatesFromBanded(banded), TextQueries.shingleSetsFor(spark, sfDir))
      .select(col("doc_a"), col("doc_b"), jaccard.as("jaccard"))
      .filter(col("jaccard") >= jaccardThreshold)
  }
}
