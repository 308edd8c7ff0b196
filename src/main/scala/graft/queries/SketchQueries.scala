package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Hash, Tables}
import graft.text.TextQueries

/** Sketch-backed pruning operators (north-star scale surface): an explicit
  * blocked Bloom filter built from a join's dim side and probed on the
  * fact side BEFORE any shuffle — the user-level twin of Spark's runtime
  * row-level filtering, with the false-positive rate surfaced as a
  * queryable number instead of a config knob.
  *
  * Scale notes: the filter is `BloomWords` longs (a few KB) built by one
  * map-side-combinable `bit_or` aggregate over the dim keys and broadcast
  * to every fact partition; the fact side is filtered in a narrow map
  * stage. At 100 TB this is exactly the shape that makes a selective
  * dim⋈fact join cheap: the 98%+ of fact rows that cannot match never
  * enter the join shuffle. All hashing is the cross-engine md5-substring
  * hash ([[graft.core.Hash]]) so DuckDB rebuilds bit-identical words.
  */
object SketchQueries extends graft.SparkEntry.Module {

  /** 64-bit words in the filter (64 × 62 usable bits ≈ 4 Kbit). */
  val BloomWords = 64

  /** Bits usable per word — capped at 62 to keep `1 << p` strictly
    * positive in both engines (bit 63 is the sign bit; DuckDB raises on
    * BIGINT shift overflow edge cases Spark wraps silently).
    */
  val BitsPerWord = 62

  private def h(tag: String, k: Column): Column = Hash.prefix(concat(lit(tag), k.cast("string")))

  /** FM/PCSA register machinery, shared by q_fm_sketch and the streaming
    * windowed-distinct entry (streaming/EventQueries.q_stream_distinct).
    * `FmRSql` recovers R_j (the lowest UNSET bit index) from a register
    * bitmap column `b` in pure integer arithmetic; [[fmEstimate]] applies
    * the PCSA formula with the HLL-style linear-counting small-range
    * branch — every decision derives from deterministic integers, so both
    * engines agree bitwise.
    */
  val FmRSql = "CAST(bit_count(((b + 1) & ~b) - 1) AS BIGINT)"

  def fmRaw(sumR: Column): Column =
    lit(64.0) / lit(0.77351) * pow(lit(2.0), sumR.cast("double") / lit(64.0))

  def fmEstimate(sumR: Column, nRegs: Column): Column = {
    val v = lit(64L) - nRegs
    when(v > 0 && fmRaw(sumR) < 160.0,
      lit(64.0) * log(lit(64.0) / v.cast("double"))).otherwise(fmRaw(sumR))
  }

  private def word(k: Column): Column = pmod(h("bw:", k), lit(BloomWords.toLong))

  /** Two-bit mask from the in-scope `p1`/`p2` bit-position columns. */
  private def mask: Column =
    expr("shiftleft(CAST(1 AS BIGINT), CAST(p1 AS INT)) | shiftleft(CAST(1 AS BIGINT), CAST(p2 AS INT))")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // NS: bloom-pruned semi join — BUILDING-segment customers are the dim;
    // orders probe the filter (2 hash bits in 1 word — a blocked bloom, one
    // cache line per probe), then the exact semi join measures what the
    // sketch let through: per order status, candidates vs true matches vs
    // false positives. The invariant pass ⊇ truth (no false negatives) is
    // what the oracle equivalence certifies; the fp rate is the quality
    // dial (k bits, filter size) made queryable.
    "q_bloom_prune" -> { (s, dir) =>
      val dim = Tables.customer(s, dir)
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey").as("k"))
      val bloom = dim
        .select(word(col("k")).as("w"),
          pmod(h("b1:", col("k")), lit(BitsPerWord.toLong)).as("p1"),
          pmod(h("b2:", col("k")), lit(BitsPerWord.toLong)).as("p2"))
        .select(col("w"), mask.as("b"))
        .groupBy("w").agg(expr("bit_or(b)").as("bloom"))
      val probed = Tables.orders(s, dir)
        .select(col("o_orderstatus"), col("o_custkey"))
        .withColumn("w", word(col("o_custkey")))
        .withColumn("p1", pmod(h("b1:", col("o_custkey")), lit(BitsPerWord.toLong)))
        .withColumn("p2", pmod(h("b2:", col("o_custkey")), lit(BitsPerWord.toLong)))
        .join(broadcast(bloom), Seq("w"), "left_outer")
        .withColumn("pass",
          (col("bloom").isNotNull && col("bloom").bitwiseAND(mask) === mask)
            .cast("long"))
        .join(broadcast(dim.withColumn("truth", lit(1L))),
          col("o_custkey") === col("k"), "left_outer")
        .withColumn("truth", coalesce(col("truth"), lit(0L)))
      probed.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          sum("pass").as("n_bloom_pass"),
          sum("truth").as("n_true"),
          sum(col("pass") * (lit(1L) - col("truth"))).as("n_false_pos"),
          round(sum(col("pass") * (lit(1L) - col("truth"))).cast("double") /
            greatest(count(lit(1)) - sum("truth"), lit(1L)).cast("double"), 6)
            .as("fp_rate"))
        .orderBy("o_orderstatus")
    },

    // NS: exact heavy hitters via sketch + recount — the Misra–Gries
    // Aggregator generates a ≤64-entry candidate map (partition-local
    // sketches, k-entry maps merge — the full tokenized corpus never
    // shuffles), the candidates broadcast back for an exact recount, and
    // the n/30 threshold cut makes the output EXACT (MG guarantees the
    // candidate set is a superset of everything above n/(k+1)) — so the
    // plain groupBy-HAVING oracle certifies the sketch path end to end.
    "q_heavy_hitters" -> { (s, dir) =>
      val words = Tables.documents(s, dir)
        .select(explode(split(col("text"), " ")).as("word"))
      val cand = words.agg(graft.functions.MisraGriesAgg(col("word")).as("mg"))
        .select(explode(map_keys(col("mg"))).as("word"))
      val total = words.agg(count(lit(1)).as("n_total"))
      words.join(broadcast(cand), "word")
        .groupBy("word").agg(count(lit(1)).as("cnt"))
        .crossJoin(broadcast(total))
        .filter(col("cnt") * lit(30L) > col("n_total"))
        .select(col("word"), col("cnt"), col("n_total"))
        .orderBy("word")
    },

    // NS: Flajolet–Martin / PCSA distinct-count sketch, built as pure
    // dataflow with DETERMINISTIC registers (md5-derived) so both engines
    // reconstruct identical sketch state — unlike approx_count_distinct's
    // opaque HLL buffer, every bit here is queryable and oracle-checkable.
    // 64 registers; a word's low 6 hash bits pick the register, the lowest
    // set bit of the remaining 54 ORs into that register's bitmap. The
    // sketch insert is bit_or — associative, commutative, IDEMPOTENT — so
    // (a) duplicates need no pre-distinct (the input never shuffles
    // de-duplicated), (b) per-source sketches MERGE into the corpus sketch
    // by another bit_or (the '__ALL__' row below is literally that merge —
    // shard-local sketches at 100 TB combine with no recompute, the
    // q_sketch_merge property for cardinality). R_j (lowest unset bit) is
    // recovered in pure integer arithmetic — bit_count(((b+1) & ~b) - 1) —
    // and the PCSA estimate m/φ·2^(ΣR/m) is the only float, from exact
    // ints. The exact countDistinct alongside is the eval baseline (the
    // expensive path the sketch replaces), joined hint-free.
    "q_fm_sketch" -> { (s, dir) =>
      val words = Tables.documents(s, dir)
        .select(col("source"), explode(split(col("text"), " ")).as("w"))
        .select(col("source"), Hash.prefix(col("w"), 15).as("v"))
      val regs = words
        .select(col("source"), pmod(col("v"), lit(64L)).as("j"),
          expr("(v DIV 64) & -(v DIV 64)").as("lsb"))
        .groupBy("source", "j").agg(expr("bit_or(lsb)").as("b"))
      val merged = regs.groupBy("j").agg(expr("bit_or(b)").as("b"))
        .withColumn("source", lit("__ALL__"))
      val allRegs = regs.select("source", "j", "b")
        .unionByName(merged.select("source", "j", "b"))
      val sums = allRegs
        .select(col("source"), expr(FmRSql).as("r"))
        .groupBy("source").agg(sum("r").as("sum_r"), count(lit(1)).as("n_regs"))
      // small-range correction (the HLL playbook): below ~2.5m cardinality
      // most registers are empty and the PCSA mean-R estimate collapses, so
      // LINEAR COUNTING on the empty-register count V takes over —
      // est = m·ln(m/V). The branch decides on (integer V, the PCSA raw
      // value, literal 160.0) — all deterministic on both engines.
      val raw = fmRaw(col("sum_r"))
      val vEmpty = lit(64L) - col("n_regs")
      val est = fmEstimate(col("sum_r"), col("n_regs"))
      val exactSrc = Tables.documents(s, dir)
        .select(col("source"), explode(split(col("text"), " ")).as("w"))
        .groupBy("source").agg(countDistinct("w").as("n_words"))
      val exactAll = Tables.documents(s, dir)
        .select(explode(split(col("text"), " ")).as("w"))
        .agg(countDistinct("w").as("n_words"))
        .withColumn("source", lit("__ALL__"))
      val exact = exactSrc.unionByName(exactAll.select("source", "n_words"))
      sums.join(exact, "source")
        .select(col("source"), col("n_words"), vEmpty.as("v_empty"),
          when(vEmpty > 0 && raw < 160.0, lit("lc")).otherwise(lit("pcsa")).as("alg"),
          round(est, 4).as("est"),
          round(est / col("n_words").cast("double") * 100, 2).as("est_vs_exact_x100"))
        .orderBy("source")
    },

    // NS: Count-Min sketch — the mergeable fixed-size frequency summary
    // (3 hash rows x 64 counters, deterministic md5 cells) with its
    // signature one-sided error: est >= exact always, over-estimation =
    // hash collisions. Probed on the top-10 exact terms, with the
    // over-count surfaced in ppm — the accuracy read a streaming
    // frequency service publishes beside the sketch. Scale shape: inserts
    // fold map-side into the 192-cell frame (sums commute, so building
    // from the vocab-bounded term-count frame is numerically identical to
    // folding the raw token stream — one corpus-scale aggregate either
    // way); the probe is a 30-row join against the broadcast sketch.
    "q_countmin" -> { (s, dir) =>
      val terms = Tables.documents(s, dir)
        .select(explode(split(col("text"), " ")).as("term"))
        .groupBy("term").agg(count(lit(1)).as("exact"))
        .localCheckpoint(eager = false) // vocab-bounded; feeds both the build and the probe
      val rowsCol = explode(array(Seq(0L, 1L, 2L).map(lit): _*)).as("r")
      def cell(term: Column): Column =
        pmod(Hash.prefix(concat(lit("cm"), col("r"), lit(":"), term)), lit(64L))
      val sketch = terms.select(col("term"), col("exact"), rowsCol)
        .withColumn("cell", cell(col("term")))
        .groupBy("r", "cell").agg(sum("exact").as("counter"))
      // TakeOrdered-first (the q_bm25 pattern): the distributed limit
      // bounds the vocab-sized frame to 10 rows before the rank window
      val top = terms
        .orderBy(col("exact").desc, col("term")).limit(10)
        .withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("exact").desc, col("term"))))
      top.select(col("rk"), col("term"), col("exact"), rowsCol)
        .withColumn("cell", cell(col("term")))
        .join(sketch, Seq("r", "cell"))
        .groupBy("rk", "term", "exact").agg(min("counter").as("est"))
        .select(col("rk"), col("term"), col("exact"), col("est"),
          expr("(est - exact) * 1000000 DIV exact").as("over_ppm"))
        .orderBy("rk")
    },

    // NS: mergeable log-histogram quantile sketch — the fourth mergeable
    // summary beside FM (distinct), Count-Min (frequency) and MinHash
    // (similarity): values land in base-2 octaves with 16 sub-buckets
    // (bucket id from the BINARY STRING LENGTH of the integer cents —
    // floor(log2)+1 with no float log to boundary-flip an engine), shard
    // histograms merge by pure addition, and p50/p95/p99 read off the
    // merged cumulative histogram with <= 2^-4 relative bucket error by
    // construction. The exact-percentile baseline (distinct-value census
    // + one bounded ordered window) is the EVAL side only — it is the
    // expensive path the sketch replaces at 100 TB, computed here to
    // surface err_ppm the way q_ann_recall grades its index.
    "q_histo_quantile_merge" -> { (s, dir) =>
      val o = Tables.orders(s, dir).select(col("o_orderstatus").as("src"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
      val bucketed = o
        .withColumn("b", length(conv(col("cents"), 10, 2)).cast("long"))
        .withColumn("bucket",
          expr("b * 16 + (cents * 16) DIV shiftleft(CAST(1 AS BIGINT), CAST(b AS INT))"))
      // per-shard sketches (one map-side-combinable agg), then the merge
      // is plain addition on the bucket key — the mergeability property
      val hist = bucketed.groupBy("src", "bucket").agg(count(lit(1)).as("n"))
      val merged = hist.groupBy("bucket").agg(sum("n").as("n"))
      val tot = merged.agg(sum("n").as("nt"))
      val cum = merged.crossJoin(broadcast(tot))
        .withColumn("cum", sum("n").over(Window.orderBy("bucket")))
      val ps = Seq(50L, 95L, 99L)
      // all three percentile probes fold in ONE conditional aggregate per
      // frame (min over the rows past each threshold) — no per-percentile
      // re-scan, no checkpoint
      def probes(df: DataFrame, v: String, out: String): DataFrame = {
        val aggs = ps.map(p =>
          min(when(col("cum") * 100 >= col("nt") * p, col(v))).as(s"$out$p"))
        df.agg(aggs.head, aggs.tail: _*)
      }
      val est1 = probes(cum, "bucket", "b")
      val vc = o.groupBy("cents").agg(count(lit(1)).as("n"))
      val vtot = vc.agg(sum("n").as("nt"))
      val vcum = vc.crossJoin(broadcast(vtot))
        .withColumn("cum", sum("n").over(Window.orderBy("cents")))
      val ex1 = probes(vcum, "cents", "x")
      // unpivot the 1-row probe frame with ONE explode (a 3-way union
      // would re-run both probe pipelines per branch)
      val rows = est1.crossJoin(ex1)
        .select(explode(array(ps.map(p => struct(lit(p).as("p"),
          col(s"b$p").as("bucket"), col(s"x$p").as("exact_cents"))): _*)).as("r"))
        .select(col("r.p").as("p"), col("r.bucket").as("bucket"),
          col("r.exact_cents").as("exact_cents"))
      rows
        .withColumn("est_cents",
          expr("((bucket % 16) * shiftleft(CAST(1 AS BIGINT), CAST(bucket DIV 16 AS INT))) DIV 16"))
        .select(col("p"), col("est_cents"), col("exact_cents"),
          expr("(exact_cents - est_cents) * 1000000 DIV exact_cents").as("err_ppm"))
        .orderBy("p")
    },

    // NS: Bloom-filter sizing advisor — the planning pass before
    // q_bloom_prune builds anything: for each join-key domain and target
    // FPR, the optimal bits m = ceil(-n·ln p/ln²2) and hash count
    // k = round(m/n·ln 2). The per-element bit multipliers are
    // DATA-INDEPENDENT constants (9.584963 bits/key at 1%, 14.377445 at
    // 0.1% — ppm literals shared by both engines), so the whole plan is
    // exact integer arithmetic off three countDistinct aggregates; ceil
    // spelled (n·c + 999999) DIV 1e6.
    "q_bloom_plan" -> { (s, dir) =>
      def dom(name: String, df: DataFrame) =
        df.agg(countDistinct(col(df.columns.head)).as("n"))
          .select(lit(name).as("domain"), col("n"))
      val domains =
        dom("orders.o_custkey", Tables.orders(s, dir).select("o_custkey"))
          .unionByName(dom("lineitem.l_partkey", Tables.lineitem(s, dir).select("l_partkey")))
          .unionByName(dom("events.user_id", Tables.events(s, dir).select("user_id")))
      // (target fpr ppm, bits-per-key ppm, k hashes): ln(0.01)/ln²2,
      // ln(0.001)/ln²2 and round(c·ln2) — fixed closed-form constants
      val targets = broadcast(s.createDataFrame(Seq(
        (10000L, 9584963L, 7L), (1000L, 14377445L, 10L)))
        .toDF("fpr_ppm", "bits_per_key_ppm", "k_hashes"))
      domains.crossJoin(targets)
        .select(col("domain"), col("fpr_ppm"), col("n").as("n_distinct"),
          expr("(n * bits_per_key_ppm + 999999) DIV 1000000").as("m_bits"),
          col("k_hashes"))
        .withColumn("m_kib", expr("m_bits DIV 8192"))
        .orderBy("domain", "fpr_ppm")
    },

    // NS: KMV (k-minimum-values) distinct-count sketch — the third
    // mergeable cardinality summary beside FM/PCSA and the bitmap index,
    // and the one whose merge is simply "keep the k smallest of the
    // union" (the theta-sketch core). Values hash into a 56-bit space
    // (14 md5 hex chars — (k−1)·2^56 ≤ 9.1e18 stays inside BIGINT for
    // k = 64), each group keeps its k = 64 smallest DISTINCT hashes via
    // the combinable BottomKDistinctAgg (≤ k values per group per
    // partition cross the shuffle; a rank window here would sort each
    // group's ENTIRE distinct hash domain in one reducer task), and the
    // estimator (k−1)·2^56 DIV kth_min is EXACT integer arithmetic.
    // Groups with fewer than k distinct values report exactly (the
    // sketch IS the value set there). The __ALL__ row is built by
    // MERGING the per-status sketches (k smallest of their union), not
    // by re-scanning — the mergeability under test. Self-eval: exact
    // countDistinct beside the estimate, signed err_ppm.
    "q_kmv_sketch" -> { (s, dir) =>
      val K = 64L
      val bottomK = udaf(new graft.functions.BottomKDistinctAgg(K.toInt))
      val hashed = Tables.orders(s, dir)
        .select(col("o_orderstatus").as("grp"),
          Hash.prefix(concat(lit("kmv:"), col("o_custkey")), 14).as("h"))
      // no pre-distinct: the aggregator dedups map-side, so neither the
      // full (grp, h) domain nor its distinct shuffle ever materializes
      val sk = hashed.groupBy("grp").agg(bottomK(col("h")).as("hs"))
        .select(col("grp"), explode(col("hs")).as("h"))
        .localCheckpoint(eager = false) // ≤ 64-row-per-group frame; feeds estimate AND merge
      val merged = sk.groupBy().agg(bottomK(col("h")).as("hs"))
        .select(lit("__ALL__").as("grp"), explode(col("hs")).as("h"))
      val est = sk.unionByName(merged)
        .groupBy("grp")
        .agg(max("h").as("kth_min"), count(lit(1)).as("k_used"))
        .withColumn("est",
          when(col("k_used") < K, col("k_used"))
            .otherwise(expr(s"($K - 1) * 72057594037927936 DIV kth_min")))
      val exact = Tables.orders(s, dir)
        .groupBy(col("o_orderstatus").as("grp"))
        .agg(countDistinct("o_custkey").as("n_exact"))
      val exactAll = Tables.orders(s, dir)
        .agg(countDistinct("o_custkey").as("n_exact"))
        .withColumn("grp", lit("__ALL__"))
      est.join(exact.unionByName(exactAll.select("grp", "n_exact")), "grp")
        .select(col("grp"), col("n_exact"), col("k_used"), col("kth_min"), col("est"),
          expr("""CASE WHEN est >= n_exact
                 |  THEN (est - n_exact) * 1000000 DIV n_exact
                 |  ELSE -((n_exact - est) * 1000000 DIV n_exact) END""".stripMargin)
            .as("err_ppm"))
        .orderBy("grp")
    },

    // NS: join-size forecast from Count-Min inner products — the planner
    // primitive beside q_selfjoin_forecast (pair mass of ONE table) and
    // q_shuffle_forecast (reducer load): |A ⋈ B| on a key = Σ_v f_A(v)·
    // f_B(v), estimated as the MIN over hash rows of the sketch inner
    // product Σ_c A_rc·B_rc — an upper bound per row (collisions only
    // add), so min is the classic CM estimate and est ≥ exact always.
    // Both sketches build in one combinable aggregate each (3×64 cells
    // cross the shuffle, never the keys); the exact Σ f_A·f_B self-eval
    // reduces both sides to key counts BEFORE the join. All integers.
    "q_join_size_est" -> { (s, dir) =>
      val rowsCol = explode(array(Seq(0L, 1L, 2L).map(lit): _*)).as("r")
      def cell(key: Column): Column =
        pmod(Hash.prefix(concat(lit("cm"), col("r"), lit(":"), key)), lit(64L))
      def sketch(df: DataFrame, key: String, side: String): DataFrame =
        df.groupBy(col(key).as("k")).agg(count(lit(1)).as("f"))
          .select(col("k"), col("f"), rowsCol)
          .withColumn("cell", cell(col("k").cast("string")))
          .groupBy("r", "cell").agg(sum("f").as(s"f_$side"))
      val sa = sketch(Tables.orders(s, dir), "o_custkey", "a")
      val sb = sketch(Tables.customer(s, dir), "c_custkey", "b")
      val est = sa.join(sb, Seq("r", "cell"))
        .groupBy("r").agg(sum(expr("f_a * f_b")).as("ip"))
        .agg(min("ip").as("est_join_rows"))
      val fa = Tables.orders(s, dir).groupBy(col("o_custkey").as("k"))
        .agg(count(lit(1)).as("fa"))
      val fb = Tables.customer(s, dir).groupBy(col("c_custkey").as("k"))
        .agg(count(lit(1)).as("fb"))
      val exact = fa.join(fb, "k").agg(sum(expr("fa * fb")).as("n_exact"))
      est.crossJoin(broadcast(exact))
        .select(col("n_exact"), col("est_join_rows"),
          // ratio in DOUBLE over the exact BIGINTs (the r9 overflow
          // discipline: the ×1e6 cross-mult would pass 2^63 at ~1e12 rows)
          expr("CAST(floor(CAST(est_join_rows - n_exact AS DOUBLE) * 1000000.0e0 " +
            "/ CAST(n_exact AS DOUBLE)) AS BIGINT)").as("over_ppm"))
    },

    // NS: HyperLogLog distinct-count sketch — the fourth mergeable
    // cardinality summary (FM/PCSA, bitmap, KMV, HLL), and the one
    // production engines actually ship. m = 64 registers: the 56-bit md5
    // hash splits into a 6-bit register index and a 50-bit suffix whose
    // leading-zero rank feeds a per-(group, register) MAX — the fully
    // combinable aggregate (64 rows per group per partition cross the
    // shuffle, nothing else; verified identical `bin`/shift/pmod
    // semantics on both engines). The harmonic-mean denominator
    // Σ 2^(-M_j) is computed as the EXACT BIGINT Σ 2^(51-M_j) (≤ 64·2^51
    // < 2^63) so float summation order can never flip a digit; only the
    // final α·m²/denominator division is IEEE, with the standard
    // small-range linear-counting correction (E ≤ 2.5m and empty
    // registers present → m·ln(m/V)). The __ALL__ row MERGES the
    // per-status registers (pointwise max) — the mergeability under
    // test. Self-eval: exact countDistinct beside the estimate.
    "q_hyperloglog" -> { (s, dir) =>
      val regs0 = Tables.orders(s, dir)
        .select(col("o_orderstatus").as("grp"),
          Hash.prefix(concat(lit("hll:"), col("o_custkey")), 14).as("h"))
        .select(col("grp"), pmod(col("h"), lit(64L)).as("j"), expr("h DIV 64").as("w"))
        .select(col("grp"), col("j"),
          expr("CASE WHEN w = 0 THEN CAST(51 AS BIGINT) " +
            "ELSE CAST(51 - length(bin(w)) AS BIGINT) END").as("rho"))
        .groupBy("grp", "j").agg(max("rho").as("r"))
      val merged = regs0.groupBy("j").agg(max("r").as("r"))
        .select(lit("__ALL__").as("grp"), col("j"), col("r"))
      val regs = regs0.unionByName(merged)
      val grid = regs.select("grp").distinct()
        .crossJoin(broadcast(s.range(64).select(col("id").as("j"))))
      val filled = grid.join(regs, Seq("grp", "j"), "left_outer").na.fill(0L, Seq("r"))
      val est = filled.groupBy("grp")
        .agg(sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(51 - r AS INT))")).as("se"),
          sum(when(col("r") === 0, 1L).otherwise(0L)).as("n_zero_regs"))
        .withColumn("raw", expr("0.70936e0 * 4096e0 * 2251799813685248e0 / CAST(se AS DOUBLE)"))
        .select(col("grp"), col("n_zero_regs"),
          expr("CAST(round(CASE WHEN raw <= 160.0 AND n_zero_regs > 0 " +
            "THEN 64.0 * ln(64.0 / CAST(n_zero_regs AS DOUBLE)) ELSE raw END) AS BIGINT)")
            .as("est"))
      val exactG = Tables.orders(s, dir)
        .groupBy(col("o_orderstatus").as("grp"))
        .agg(countDistinct("o_custkey").as("n_exact"))
      val exactA = Tables.orders(s, dir)
        .agg(countDistinct("o_custkey").as("n_exact"))
        .select(lit("__ALL__").as("grp"), col("n_exact"))
      est.join(exactG.unionByName(exactA), "grp")
        .select(col("grp"), col("n_exact"), col("n_zero_regs"), col("est"),
          expr("""CASE WHEN est >= n_exact
                 |  THEN (est - n_exact) * 1000000 DIV n_exact
                 |  ELSE -((n_exact - est) * 1000000 DIV n_exact) END""".stripMargin)
            .as("err_ppm"))
        .orderBy("grp")
    }
  )

  def oracleSql: Map[String, String] = {
    def h(tag: String, k: String): String =
      Hash.prefixSql(s"'$tag' || CAST($k AS VARCHAR)")
    Map(
      "q_bloom_prune" ->
        s"""WITH dim AS (SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'),
           |db AS (SELECT ${h("bw:", "k")} % $BloomWords AS w,
           |              (CAST(1 AS BIGINT) << CAST(${h("b1:", "k")} % $BitsPerWord AS INT)) |
           |              (CAST(1 AS BIGINT) << CAST(${h("b2:", "k")} % $BitsPerWord AS INT)) AS b
           |       FROM dim),
           |bloom AS (SELECT w, bit_or(b) AS bloom FROM db GROUP BY w),
           |probe AS (SELECT o_orderstatus, o_custkey,
           |                 ${h("bw:", "o_custkey")} % $BloomWords AS w,
           |                 (CAST(1 AS BIGINT) << CAST(${h("b1:", "o_custkey")} % $BitsPerWord AS INT)) |
           |                 (CAST(1 AS BIGINT) << CAST(${h("b2:", "o_custkey")} % $BitsPerWord AS INT)) AS b
           |          FROM orders),
           |flags AS (SELECT p.o_orderstatus,
           |                 CASE WHEN bl.bloom IS NOT NULL AND (bl.bloom & p.b) = p.b
           |                      THEN 1 ELSE 0 END AS pass,
           |                 CASE WHEN d.k IS NOT NULL THEN 1 ELSE 0 END AS truth
           |          FROM probe p
           |          LEFT JOIN bloom bl USING (w)
           |          LEFT JOIN dim d ON d.k = p.o_custkey)
           |SELECT o_orderstatus,
           |       count(*) AS n_orders,
           |       CAST(sum(pass) AS BIGINT) AS n_bloom_pass,
           |       CAST(sum(truth) AS BIGINT) AS n_true,
           |       CAST(sum(pass * (1 - truth)) AS BIGINT) AS n_false_pos,
           |       round(CAST(sum(pass * (1 - truth)) AS DOUBLE) /
           |             CAST(greatest(count(*) - sum(truth), 1) AS DOUBLE), 6) AS fp_rate
           |FROM flags GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
      // exact heavy hitters: the sketch+recount plan must equal the plain
      // full groupBy with a HAVING threshold
      "q_heavy_hitters" ->
        """WITH w AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
          |t AS (SELECT count(*) AS n_total FROM w)
          |SELECT word, count(*) AS cnt, t.n_total AS n_total
          |FROM w CROSS JOIN t
          |GROUP BY word, t.n_total
          |HAVING count(*) * 30 > t.n_total
          |ORDER BY word""".stripMargin,
      // identical md5 register derivation + integer bit arithmetic; the
      // merged '__ALL__' sketch replays the same per-source bit_or merge
      "q_fm_sketch" ->
        s"""WITH w AS (SELECT source,
          |                  ${Hash.prefixSql("word", 15)} AS v
          |           FROM (SELECT source, unnest(string_split(text, ' ')) AS word
          |                 FROM documents)),
          |regs AS (SELECT source, v % 64 AS j,
          |                bit_or((v // 64) & -(v // 64)) AS b
          |         FROM w GROUP BY 1, 2),
          |merged AS (SELECT '__ALL__' AS source, j, bit_or(b) AS b FROM regs GROUP BY 2),
          |allregs AS (SELECT source, j, b FROM regs
          |            UNION ALL SELECT source, j, b FROM merged),
          |sums AS (SELECT source,
          |                CAST(sum(bit_count(((b + 1) & ~b) - 1)) AS BIGINT) AS sum_r,
          |                count(*) AS n_regs
          |         FROM allregs GROUP BY 1),
          |ex AS (SELECT source, count(DISTINCT word) AS n_words
          |       FROM (SELECT source, unnest(string_split(text, ' ')) AS word
          |             FROM documents) GROUP BY 1
          |       UNION ALL
          |       SELECT '__ALL__' AS source, count(DISTINCT word) AS n_words
          |       FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)),
          |e AS (SELECT source, n_words, 64 - n_regs AS v_empty,
          |             64.0 / 0.77351 * pow(2.0, CAST(sum_r AS DOUBLE) / 64.0) AS raw
          |      FROM sums JOIN ex USING (source)),
          |est AS (SELECT source, n_words, v_empty,
          |               CASE WHEN v_empty > 0 AND raw < 160.0 THEN 'lc' ELSE 'pcsa' END AS alg,
          |               CASE WHEN v_empty > 0 AND raw < 160.0
          |                    THEN 64.0 * ln(64.0 / CAST(v_empty AS DOUBLE))
          |                    ELSE raw END AS est
          |        FROM e)
          |SELECT source, n_words, CAST(v_empty AS BIGINT) AS v_empty, alg,
          |       round(est, 4) AS est,
          |       round(est / CAST(n_words AS DOUBLE) * 100, 2) AS est_vs_exact_x100
          |FROM est
          |ORDER BY source""".stripMargin,
      // build from the term-count frame (sums commute with the fold),
      // probe the top-10 exact terms, min across the 3 hash rows
      "q_countmin" ->
        s"""WITH tc AS (
          |  SELECT term, count(*) AS exact
          |  FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
          |  GROUP BY term),
          |r AS (SELECT unnest([0, 1, 2]) AS r),
          |ins AS (
          |  SELECT r.r,
          |         ${Hash.prefixSql("'cm' || CAST(r.r AS VARCHAR) || ':' || term")} % 64 AS cell,
          |         CAST(sum(exact) AS BIGINT) AS counter
          |  FROM tc CROSS JOIN r GROUP BY 1, 2),
          |top AS (
          |  SELECT * FROM (
          |    SELECT term, exact,
          |           row_number() OVER (ORDER BY exact DESC, term) AS rk
          |    FROM tc)
          |  WHERE rk <= 10),
          |probe AS (
          |  SELECT top.rk, top.term, top.exact, min(ins.counter) AS est
          |  FROM top CROSS JOIN r
          |  JOIN ins ON ins.r = r.r
          |          AND ins.cell = ${Hash.prefixSql("'cm' || CAST(r.r AS VARCHAR) || ':' || top.term")} % 64
          |  GROUP BY 1, 2, 3)
          |SELECT rk, term, CAST(exact AS BIGINT) AS exact, est,
          |       (est - exact) * 1000000 // exact AS over_ppm
          |FROM probe ORDER BY rk""".stripMargin,
      // same octave bucketing from the binary-string length, shard merge
      // by addition, identical integer percentile reads
      "q_histo_quantile_merge" ->
        """WITH o AS (
          |  SELECT o_orderstatus AS src,
          |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
          |  FROM orders),
          |bk AS (SELECT src, cents,
          |              length(bin(cents)) * 16
          |                + (cents * 16) // (CAST(1 AS BIGINT) << length(bin(cents))) AS bucket
          |       FROM o),
          |hist AS (SELECT src, bucket, count(*) AS n FROM bk GROUP BY 1, 2),
          |merged AS (SELECT bucket, CAST(sum(n) AS BIGINT) AS n FROM hist GROUP BY 1),
          |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt FROM merged),
          |cum AS (SELECT bucket, nt,
          |               CAST(sum(n) OVER (ORDER BY bucket) AS BIGINT) AS cum
          |        FROM merged CROSS JOIN tot),
          |ps AS (SELECT unnest([50, 95, 99]) AS p),
          |est AS (SELECT p, min(bucket) AS bucket
          |        FROM ps JOIN cum ON cum.cum * 100 >= cum.nt * ps.p GROUP BY p),
          |estv AS (SELECT p,
          |                ((bucket % 16) * (CAST(1 AS BIGINT) << (bucket // 16))) // 16 AS est_cents
          |         FROM est),
          |vc AS (SELECT cents, count(*) AS n FROM o GROUP BY 1),
          |vtot AS (SELECT CAST(sum(n) AS BIGINT) AS nt FROM vc),
          |vcum AS (SELECT cents, nt, CAST(sum(n) OVER (ORDER BY cents) AS BIGINT) AS cum
          |         FROM vc CROSS JOIN vtot),
          |ex AS (SELECT p, min(cents) AS exact_cents
          |       FROM ps JOIN vcum ON vcum.cum * 100 >= vcum.nt * ps.p GROUP BY p)
          |SELECT CAST(estv.p AS BIGINT) AS p, est_cents, exact_cents,
          |       (exact_cents - est_cents) * 1000000 // exact_cents AS err_ppm
          |FROM estv JOIN ex USING (p)
          |ORDER BY p""".stripMargin,
      // identical constant multipliers and integer ceil
      "q_bloom_plan" ->
        """WITH d AS (
          |  SELECT 'orders.o_custkey' AS domain,
          |         CAST(count(DISTINCT o_custkey) AS BIGINT) AS n FROM orders
          |  UNION ALL
          |  SELECT 'lineitem.l_partkey', CAST(count(DISTINCT l_partkey) AS BIGINT)
          |  FROM lineitem
          |  UNION ALL
          |  SELECT 'events.user_id', CAST(count(DISTINCT user_id) AS BIGINT) FROM events),
          |t AS (SELECT CAST(fpr_ppm AS BIGINT) AS fpr_ppm,
          |             CAST(c AS BIGINT) AS bits_per_key_ppm,
          |             CAST(k AS BIGINT) AS k_hashes
          |      FROM (VALUES (10000, 9584963, 7), (1000, 14377445, 10)) v(fpr_ppm, c, k))
          |SELECT domain, fpr_ppm, n AS n_distinct,
          |       (n * bits_per_key_ppm + 999999) // 1000000 AS m_bits,
          |       k_hashes,
          |       (n * bits_per_key_ppm + 999999) // 1000000 // 8192 AS m_kib
          |FROM d CROSS JOIN t ORDER BY domain, fpr_ppm""".stripMargin,
      // identical 56-bit md5 hash space, rank window, and integer estimator
      "q_kmv_sketch" ->
        s"""WITH hashed AS (
          |  SELECT DISTINCT o_orderstatus AS grp,
          |         ${Hash.prefixSql("'kmv:' || CAST(o_custkey AS VARCHAR)", 14)} AS h
          |  FROM orders),
          |sk AS (
          |  SELECT grp, h, row_number() OVER (PARTITION BY grp ORDER BY h) AS rk
          |  FROM hashed QUALIFY rk <= 64),
          |mg AS (
          |  SELECT '__ALL__' AS grp, h,
          |         row_number() OVER (ORDER BY h) AS rk
          |  FROM (SELECT DISTINCT h FROM sk) QUALIFY rk <= 64),
          |est AS (
          |  SELECT grp, CAST(max(h) AS BIGINT) AS kth_min,
          |         CAST(count(*) AS BIGINT) AS k_used
          |  FROM (SELECT * FROM sk UNION ALL SELECT grp, h, rk FROM mg)
          |  GROUP BY grp),
          |e2 AS (
          |  SELECT grp, kth_min, k_used,
          |         CASE WHEN k_used < 64 THEN k_used
          |              ELSE 63 * 72057594037927936 // kth_min END AS est
          |  FROM est),
          |ex AS (
          |  SELECT o_orderstatus AS grp,
          |         CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_exact
          |  FROM orders GROUP BY 1
          |  UNION ALL
          |  SELECT '__ALL__', CAST(count(DISTINCT o_custkey) AS BIGINT) FROM orders)
          |SELECT e2.grp, ex.n_exact, e2.k_used, e2.kth_min, e2.est,
          |       CASE WHEN e2.est >= ex.n_exact
          |         THEN (e2.est - ex.n_exact) * 1000000 // ex.n_exact
          |         ELSE -((ex.n_exact - e2.est) * 1000000 // ex.n_exact) END AS err_ppm
          |FROM e2 JOIN ex ON e2.grp = ex.grp
          |ORDER BY e2.grp""".stripMargin,
      // identical CM cells (same md5 grid as q_countmin), exact inner
      // products, min across rows, DOUBLE-floored over_ppm
      "q_join_size_est" ->
        s"""WITH fa0 AS (SELECT o_custkey AS k, CAST(count(*) AS BIGINT) AS f
          |            FROM orders GROUP BY 1),
          |fb0 AS (SELECT c_custkey AS k, CAST(count(*) AS BIGINT) AS f
          |        FROM customer GROUP BY 1),
          |rows3 AS (SELECT CAST(r AS BIGINT) AS r FROM (VALUES (0), (1), (2)) v(r)),
          |sa AS (SELECT r,
          |              ${Hash.prefixSql("""'cm' || CAST(r AS VARCHAR) || ':'
          |                || CAST(k AS VARCHAR)""")} % 64 AS cell,
          |              CAST(sum(f) AS BIGINT) AS f_a
          |       FROM fa0 CROSS JOIN rows3 GROUP BY 1, 2),
          |sb AS (SELECT r,
          |              ${Hash.prefixSql("""'cm' || CAST(r AS VARCHAR) || ':'
          |                || CAST(k AS VARCHAR)""")} % 64 AS cell,
          |              CAST(sum(f) AS BIGINT) AS f_b
          |       FROM fb0 CROSS JOIN rows3 GROUP BY 1, 2),
          |ip AS (SELECT sa.r, CAST(sum(sa.f_a * sb.f_b) AS BIGINT) AS ip
          |       FROM sa JOIN sb ON sa.r = sb.r AND sa.cell = sb.cell
          |       GROUP BY 1),
          |est AS (SELECT CAST(min(ip) AS BIGINT) AS est_join_rows FROM ip),
          |ex AS (SELECT CAST(sum(fa0.f * fb0.f) AS BIGINT) AS n_exact
          |       FROM fa0 JOIN fb0 USING (k))
          |SELECT n_exact, est_join_rows,
          |       CAST(floor(CAST(est_join_rows - n_exact AS DOUBLE) * 1000000.0e0
          |         / CAST(n_exact AS DOUBLE)) AS BIGINT) AS over_ppm
          |FROM est CROSS JOIN ex""".stripMargin,
      // identical register construction (bin/shift/pmod semantics verified
      // equal on both engines), exact-integer harmonic denominator
      "q_hyperloglog" ->
        s"""WITH hashed AS (
          |  SELECT o_orderstatus AS grp,
          |         ${Hash.prefixSql("'hll:' || CAST(o_custkey AS VARCHAR)", 14)} AS h
          |  FROM orders),
          |jr AS (SELECT grp, h % 64 AS j, h // 64 AS w FROM hashed),
          |r0 AS (SELECT grp, j,
          |              max(CASE WHEN w = 0 THEN CAST(51 AS BIGINT)
          |                       ELSE CAST(51 - length(bin(w)) AS BIGINT) END) AS r
          |       FROM jr GROUP BY 1, 2),
          |mg AS (SELECT '__ALL__' AS grp, j, max(r) AS r FROM r0 GROUP BY 2),
          |regs AS (SELECT * FROM r0 UNION ALL SELECT * FROM mg),
          |grid AS (SELECT g.grp, CAST(gs.j AS BIGINT) AS j
          |         FROM (SELECT DISTINCT grp FROM regs) g
          |         CROSS JOIN (SELECT unnest(range(0, 64)) AS j FROM (SELECT 1)) gs),
          |filled AS (SELECT grid.grp, grid.j, coalesce(regs.r, 0) AS r
          |           FROM grid LEFT JOIN regs ON regs.grp = grid.grp AND regs.j = grid.j),
          |est AS (SELECT grp,
          |               CAST(sum(1::BIGINT << CAST(51 - r AS INTEGER)) AS BIGINT) AS se,
          |               CAST(sum(CASE WHEN r = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_regs
          |        FROM filled GROUP BY 1),
          |e2 AS (SELECT grp, n_zero_regs,
          |              0.70936e0 * 4096e0 * 2251799813685248e0 / CAST(se AS DOUBLE) AS raw
          |       FROM est),
          |e3 AS (SELECT grp, n_zero_regs,
          |              CAST(round(CASE WHEN raw <= 160.0 AND n_zero_regs > 0
          |                   THEN 64.0 * ln(64.0 / CAST(n_zero_regs AS DOUBLE))
          |                   ELSE raw END) AS BIGINT) AS est
          |       FROM e2),
          |ex AS (
          |  SELECT o_orderstatus AS grp,
          |         CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_exact
          |  FROM orders GROUP BY 1
          |  UNION ALL
          |  SELECT '__ALL__', CAST(count(DISTINCT o_custkey) AS BIGINT) FROM orders)
          |SELECT e3.grp, ex.n_exact, e3.n_zero_regs, e3.est,
          |       CASE WHEN e3.est >= ex.n_exact
          |         THEN (e3.est - ex.n_exact) * 1000000 // ex.n_exact
          |         ELSE -((ex.n_exact - e3.est) * 1000000 // ex.n_exact) END AS err_ppm
          |FROM e3 JOIN ex ON e3.grp = ex.grp
          |ORDER BY e3.grp""".stripMargin
    )
  }
}
