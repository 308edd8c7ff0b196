package graft.text

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.TestSpark

/** Candidate generation correctness for the sketch dedup family: known
  * near-dups must be recalled, candidates must verify, and the pair sets
  * must be equi-join products (no cross-join blowup).
  */
class TextDedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Synthetic corpus with two planted near-dup pairs + distinct docs. */
  private def corpus = {
    val s = spark
    import s.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    Seq(
      (0L, base),
      (1L, base), // exact dup of 0
      (2L, base.replace("today", "tomorrow")), // near-dup of 0
      (3L, "completely different content about spark query engines and shuffles here"),
      (4L, "another unrelated document mentioning columnar storage formats and codecs"))
      .toDF("doc_id", "text")
  }

  private def sigsOf(df: org.apache.spark.sql.DataFrame) = {
    df.createOrReplaceTempView("dedup_docs")
    // reuse the q_dedup_minhash expression pipeline on an arbitrary df
    val ws = split(col("text"), " ")
    val sh3 = transform(sequence(lit(1), size(col("ws")) - 2),
      i => concat_ws(" ", element_at(col("ws"), i), element_at(col("ws"), i + 1),
        element_at(col("ws"), i + 2)))
    val sigs = (0 until TextQueries.MinhashK).map { j =>
      struct(lit(j.toLong).as("j"),
        array_min(transform(col("hs"), h => (h * (2L * j + 1) + (12345L * j + 7)) % TextQueries.P)).as("minhash"))
    }
    df.select(col("doc_id"), ws.as("ws"))
      .select(col("doc_id"), transform(sh3, x => graft.core.Hash.prefix(x)).as("hs"))
      .select(col("doc_id"), explode(array(sigs: _*)).as("sig"))
      .select(col("doc_id"), col("sig.j").as("j"), col("sig.minhash").as("minhash"))
  }

  test("minhash LSH banding recalls exact and near dups, verified by Jaccard") {
    val cands = TextDedup.minhashCandidates(sigsOf(corpus))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cands.contains((0L, 1L)), "exact dup must share all bands")
    assert(cands.contains((0L, 2L)) && cands.contains((1L, 2L)), "near dup should share a band")
    assert(!cands.exists { case (a, b) => Set(a, b).intersect(Set(3L, 4L)).nonEmpty && Set(a, b).intersect(Set(0L, 1L, 2L)).nonEmpty },
      "unrelated docs must not pair with the dup cluster")
  }

  test("simhash chunk banding finds all pairs within Hamming 3 (pigeonhole-complete)") {
    val s = spark
    import s.implicits._
    // hand-built fingerprints: b differs from a in 2 bits, c in 20 bits
    val a = 0x0F0F0F0FL
    val b = a ^ 0x3L        // hamming 2
    val c = a ^ 0xFFFFFL    // hamming 20
    val df = Seq((0L, a), (1L, b), (2L, c)).toDF("doc_id", "simhash")
    val pairs = TextDedup.simhashNearPairs(df, maxHamming = 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(pairs.keySet == Set((0L, 1L)))
    assert(pairs((0L, 1L)) == 2L)
  }

  test("a degenerate hot band bucket is capped, not exploded into quadratic pairs") {
    val s = spark
    import s.implicits._
    // synthetic hot key: 40 docs with IDENTICAL signatures (the 100 TB
    // pathology: e.g. boilerplate/empty docs all hashing alike) + one
    // normal near-dup pair that must survive the guard
    val hot = (100L until 140L).flatMap(id =>
      (0 until TextQueries.MinhashK).map(j => (id, j.toLong, 42L)))
    val pair = Seq(0L, 1L).flatMap(id =>
      (0 until TextQueries.MinhashK).map(j => (id, j.toLong, 7000L + j)))
    val sigs = (hot ++ pair).toDF("doc_id", "j", "minhash")
    val cands = TextDedup.minhashCandidates(sigs, maxBucketSize = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cands == Set((0L, 1L)),
      s"hot bucket must be dropped, normal pair kept; got ${cands.size} pairs")
    val dropped = TextDedup.overfullFromBanded(TextDedup.bandedWithSize(sigs), maxBucketSize = 10)
      .collect().map(r => r.getLong(r.fieldIndex("n_bucket")))
    assert(dropped.nonEmpty && dropped.forall(_ == 40L),
      "overfullFromBanded must report the 40-doc bucket per band")
  }

  test("q_dedup_ngram drops over-cap blocking keys (synthetic hot key)") {
    val s = spark
    import s.implicits._
    // two blocking keys through the capped block self-join q_dedup_ngram
    // and q_dedup_eval use, at cap 5: "alpha" holds exactly 5 docs (kept,
    // all 10 pairs), "omega" holds 20 (over the cap: no pair at all)
    val docs = ((0L until 5L).map(i => (i, s"alpha beta gamma word$i")) ++
      (10L until 30L).map(i => (i, s"omega beta gamma word$i"))).toDF("doc_id", "text")
    val ws = split(col("text"), " ")
    val blocked = docs.select(col("doc_id"), ws.as("ws"))
      .select(col("doc_id"), size(col("ws")).cast("long").as("n_words"),
        element_at(col("ws"), 1).as("first_word"))
    val keys = TextQueries.NgramKeys
    val pairs = TextDedup.blockPairs(TextDedup.withBlockSize(blocked, keys), keys, cap = 5)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val alpha = for (a <- 0L until 5L; b <- a + 1 until 5L) yield (a, b)
    assert(pairs == alpha.toSet, s"want the 10 pairs of the 5-doc block only; got $pairs")
    // and the registered query still runs green on the fixture (cap is a
    // no-op there -- fixture blocks are far below NgramBlockCap)
    assert(TextQueries.queries("q_dedup_ngram")(spark, TestSpark.Sf0001).count() >= 0)
  }

  test("connected components converge to min-id labels on a known graph") {
    val s = spark
    import s.implicits._
    // components: {0,1,2,3} (a path — propagation needs >1 round),
    // {10,11} (pair), {20} (isolated)
    val nodes = Seq(0L, 1L, 2L, 3L, 10L, 11L, 20L).toDF("doc_id")
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val labels = TextDedup.connectedComponents(nodes, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L,
      10L -> 10L, 11L -> 10L, 20L -> 20L))
  }

  test("survivorship dedup keeps the richest copy, min doc_id on ties") {
    // independent recomputation: window rank by (n_chars DESC, doc_id) per
    // normalized-content hash must agree with the single-aggregate
    // min(struct(-n_chars, doc_id)) the query uses
    val docs = graft.core.Tables.documents(spark, TestSpark.Sf0001)
    val norm = regexp_replace(lower(col("text")), "[^a-z0-9 ]", "")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("content_hash").orderBy(col("n_chars").desc, col("doc_id"))
    val expected = docs.select(md5(norm).as("content_hash"), col("doc_id"), col("n_chars"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("content_hash"), col("doc_id").as("survivor_id"))
    val got = TextQueries.queries("q_dedup_survivor")(spark, TestSpark.Sf0001)
      .select("content_hash", "survivor_id")
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty)
  }

  test("containment catches a planted subset pair that resemblance misses") {
    val s = spark
    import s.implicits._
    val small = (1 to 12).map(i => s"w$i").mkString(" ")
    val big = (1 to 120).map(i => s"w$i").mkString(" ") // small is a prefix of big
    val docs = Seq((0L, small), (1L, big)).toDF("doc_id", "text")
      .select(col("doc_id"),
        array_distinct(TextQueries.shingles3(split(col("text"), " "))).as("sh"))
    val a = docs.filter(col("doc_id") === 0).select(col("sh").as("sh_a"))
    val b = docs.filter(col("doc_id") === 1).select(col("sh").as("sh_b"))
    val r = a.crossJoin(b).select(
      (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
        size(col("sh_a"))).as("containment"),
      (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
        size(array_union(col("sh_a"), col("sh_b")))).as("jaccard")).head()
    assert(r.getDouble(0) == 1.0, "subset must have containment 1.0")
    assert(r.getDouble(1) < 0.15, "resemblance must stay low for the subset pair")
    // registered query invariant on the fixture: jaccard never exceeds
    // either directed containment, and all three are in [0,1]
    val q = graft.text.CorpusQueries.queries("q_dedup_containment")(spark, TestSpark.Sf0001)
    assert(q.filter(col("jaccard") > col("containment_a_in_b") + 1e-9 ||
      col("jaccard") > col("containment_b_in_a") + 1e-9 ||
      col("containment_a_in_b") > 1.0 || col("containment_b_in_a") > 1.0 ||
      col("jaccard") < 0.0).count() == 0)
  }

  test("end-to-end near-dup decision on the documents fixture is candidate-verified") {
    val pairs = TextDedup.nearDupPairs(spark, TestSpark.Sf0001, jaccardThreshold = 0.8)
    // fixture has no >=0.8 near-dups (verified exhaustively in DuckDB);
    // the invariant under test: every emitted pair satisfies its threshold
    assert(pairs.filter(col("jaccard") < 0.8).count() == 0)
  }

  test("memoized pipeline artifacts equal their direct (un-memoized) derivations") {
    // the memo layer (sigs/shingles/candidates/edges/CC labels) must be a
    // pure cache: any keying bug (wrong fixture, stale context) would show
    // as a row diff against the directly-built frame
    val dir = TestSpark.Sf0001
    val directSh = graft.core.Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"),
        size(col("ws")).cast("long").as("n_words"),
        element_at(col("ws"), 1).as("first_word"),
        array_distinct(TextQueries.shingles3(col("ws"))).as("sh"))
    val memoSh = TextQueries.shingleSetsFor(spark, dir)
    assert(memoSh.exceptAll(directSh).isEmpty && directSh.exceptAll(memoSh).isEmpty,
      "shingleSetsFor drifted from the direct derivation")

    val directPairs = TextDedup.simhashNearPairs(
      TextQueries.queries("q_dedup_simhash")(spark, dir), maxHamming = 3)
    val memoPairs = TextQueries.simhashPairsFor(spark, dir)
    assert(memoPairs.exceptAll(directPairs).isEmpty && directPairs.exceptAll(memoPairs).isEmpty,
      "simhashPairsFor drifted from the direct derivation")

    val directCc = TextDedup.connectedComponents(
      graft.core.Tables.documents(spark, dir).select("doc_id"),
      directPairs.select("doc_a", "doc_b"))
    val memoCc = TextQueries.componentLabelsFor(spark, dir)
    assert(memoCc.exceptAll(directCc).isEmpty && directCc.exceptAll(memoCc).isEmpty,
      "componentLabelsFor drifted from the direct CC fixpoint")
  }

  test("CC fixpoint on a planted long chain converges in O(log diameter) rounds, not O(diameter)") {
    import spark.implicits._
    // path graph 0-1-2-...-128: diameter 128. Plain min-propagation needs
    // ~diameter rounds to sweep label 0 to node 128; the pointer-jumping
    // step halves the remaining distance each round, so the fixpoint must
    // land within a small multiple of log2(128) = 7 — the budget below is
    // generous (x2 + probe-every-2nd slack) but two orders under the
    // diameter, which is the property that protects q_dedup_components /
    // q_fuzzy_cluster / q_split_leakage on chain-shaped near-dup graphs.
    val n = 129L
    val nodes = (0L until n).toDF("doc_id")
    val edges = (0L until n - 1).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val (labels, rounds, converged) =
      TextDedup.connectedComponentsWithRounds(nodes, edges, maxIter = 50)
    assert(converged, "chain did not reach the fixpoint inside maxIter")
    assert(rounds <= 2 * 7 + 4, s"chain of diameter 128 took $rounds rounds — pointer jumping is not engaging")
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == n && got.values.forall(_ == 0L), "chain must collapse to component 0")
  }

  test("CC fixpoint on a planted star (hot hub) stays flat: constant rounds, no driver blow-up") {
    import spark.implicits._
    // star: hub 0 with 500 leaves — the skew shape a near-dup mega-cluster
    // produces. Diameter 2, so the fixpoint must land in a handful of
    // rounds regardless of degree, and the labels frame stays one row per
    // node (nothing quadratic ever materializes on the hot key).
    val leaves = (1L to 500L)
    val nodes = (0L +: leaves).toDF("doc_id")
    val edges = leaves.map(l => (0L, l)).toDF("doc_a", "doc_b")
    val (labels, rounds, converged) =
      TextDedup.connectedComponentsWithRounds(nodes, edges, maxIter = 50)
    assert(converged)
    assert(rounds <= 4, s"star of diameter 2 took $rounds rounds")
    val got = labels.collect()
    assert(got.length == 501 && got.forall(_.getLong(1) == 0L),
      "star must collapse to the hub's label in one sweep")
  }
}
