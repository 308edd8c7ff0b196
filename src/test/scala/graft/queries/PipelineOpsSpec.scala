package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.{SparkEntry, TestSpark}
import graft.text.PackingQueries

/** Properties of the sequence-packing, vocab-encoding, bloom-pruning,
  * winsorization, pattern-match, and triangle operators that the hash
  * oracle can't express: the no-false-negative bloom guarantee, packing
  * offset contiguity, OOV behavior, capping fractions, stage ordering,
  * and wedge/triangle algebra.
  */
class PipelineOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.Sf0001

  test("q_scan_text round trip: line count and char mass match the table's own n_chars column") {
    val r = SparkEntry.queries("q_scan_text")(spark, dir).head()
    val docs = graft.core.Tables.documents(spark, dir)
    assert(r.getAs[Long]("n_lines") === docs.count())
    // independent cross-check: the fixture carries a materialized n_chars
    // column — the text round trip must reproduce its total exactly
    val expectedChars = docs.agg(sum(length(col("text")))).head().getLong(0)
    assert(r.getAs[Long]("total_chars") === expectedChars)
    assert(r.getAs[Long]("min_chars") <= r.getAs[Long]("max_chars"))
  }

  test("q_dedup_cross_source: pairs are cross-source, candidate-derived, jaccard in [0,1]") {
    val rows = SparkEntry.queries("q_dedup_cross_source")(spark, dir).collect()
    val cands = SparkEntry.queries("q_lsh_candidates")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    rows.foreach { r =>
      assert(r.getAs[String]("source_a") !== r.getAs[String]("source_b"))
      val j = r.getAs[Double]("jaccard")
      assert(j >= 0.0 && j <= 1.0)
      assert(cands.contains((r.getLong(0), r.getLong(1))),
        "cross-source pairs must be a subset of the LSH candidate set")
    }
  }

  test("q_pack_sequences: offsets are contiguous per source and bins are consistent") {
    val rows = SparkEntry.queries("q_pack_sequences")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).values.foreach { docs =>
      val sorted = docs.sortBy(_._2).toSeq
      assert(sorted.head._4 == 0L, "first doc of a source starts at offset 0")
      sorted.sliding(2).foreach { w =>
        if (w.length == 2)
          assert(w(1)._4 == w(0)._4 + w(0)._3, "token layout must be gapless per source")
      }
    }
    rows.foreach { case (_, _, n, off, first, last) =>
      assert(n >= 1 && off >= 0 && first <= last)
      assert(first == off / PackingQueries.PackBudget)
      assert(last == (off + n - 1) / PackingQueries.PackBudget)
    }
  }

  test("q_vocab_encode: id range bounded by VocabSize, OOV=0 occurs, lengths agree") {
    val rows = SparkEntry.queries("q_vocab_encode")(spark, dir).collect()
    assert(rows.length == 500)
    var sawOov = false
    rows.foreach { r =>
      val ids = r.getString(2).split(",").map(_.toLong).toSeq
      assert(ids.length == r.getLong(1) && ids.length <= PackingQueries.EncodeLen)
      ids.foreach(id => assert(id >= 0 && id <= PackingQueries.VocabSize))
      sawOov ||= ids.contains(0L)
    }
    assert(sawOov, "a 20-word vocab over a 31-word corpus must produce OOV ids")
  }

  test("q_bloom_prune: no false negatives, nontrivial pruning, fp rate sane") {
    val rows = SparkEntry.queries("q_bloom_prune")(spark, dir)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    val (orders, pass, truth, fp) =
      rows.reduce((x, y) => (x._1 + y._1, x._2 + y._2, x._3 + y._3, x._4 + y._4))
    assert(pass >= truth, "bloom must never drop a true match (no false negatives)")
    assert(pass == truth + fp, "pass splits exactly into true matches + false positives")
    assert(pass < orders, "the filter must actually prune")
    assert(fp.toDouble / (orders - truth).max(1L) < 0.25,
      "2-bit/4Kbit bloom at this load factor should stay well under 25% fp")
  }

  test("q_winsorize: capped fractions ~5% per tail, avg inside [min, max]") {
    val rows = SparkEntry.queries("q_winsorize")(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val n = r.getLong(1).toDouble
      val (lo, hi) = (r.getLong(2).toDouble, r.getLong(3).toDouble)
      assert(lo / n <= 0.06 && hi / n <= 0.06, "strictly-outside-p05/p95 tails are <=5%+ties")
      val (avg, mn, mx) = (r.getDouble(4), r.getDouble(5), r.getDouble(6))
      assert(mn <= avg && avg <= mx)
    }
  }

  test("q_seq_pattern: stages strictly ordered, span matches the endpoints") {
    val rows = SparkEntry.queries("q_seq_pattern")(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (c, v, p) = (r.getTimestamp(1), r.getTimestamp(2), r.getTimestamp(3))
      assert(c.before(v) && v.before(p), "click < view < purchase")
      val spanUs = r.getLong(4)
      assert(spanUs == (p.getTime - c.getTime) * 1000 +
        (p.getNanos / 1000 % 1000) - (c.getNanos / 1000 % 1000))
    }
  }

  test("MisraGriesAgg: superset guarantee when distinct items exceed capacity") {
    val mg = new graft.functions.MisraGriesAgg(4)
    // 60 'a' + 40 'b' + 50 distinct noise singletons, interleaved
    val stream = (Seq.fill(60)("a") ++ Seq.fill(40)("b") ++
      (1 to 50).map(i => s"noise$i")).sorted
    val sketch = stream.foldLeft(mg.zero)(mg.reduce)
    assert(sketch.size <= 4, "buffer must stay within capacity")
    // n=150, capacity 4 => anything with freq > 150/5=30 must survive
    assert(sketch.contains("a") && sketch.contains("b"),
      s"MG must retain items above n/(k+1): $sketch")
    // merge path: two half-streams sketched independently then merged
    val (s1, s2) = stream.splitAt(75)
    val merged = mg.merge(s1.foldLeft(mg.zero)(mg.reduce), s2.foldLeft(mg.zero)(mg.reduce))
    assert(merged.size <= 4 && merged.contains("a") && merged.contains("b"))
  }

  test("q_heavy_hitters: every output word clears the n/30 threshold exactly") {
    val rows = SparkEntry.queries("q_heavy_hitters")(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getLong(1) * 30 > r.getLong(2)))
  }

  test("q_interval_join: overlaps positive and bounded by the 30-min window") {
    val rows = SparkEntry.queries("q_interval_join")(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val overlap = r.getLong(3)
      assert(overlap > 0 && overlap <= 30L * 60 * 1000000L,
        "overlap must be positive and can never exceed the window length")
    }
  }

  test("q_linear_fit: r2 in [0,1], group sizes cover the table") {
    val rows = SparkEntry.queries("q_linear_fit")(spark, dir).collect()
    assert(rows.nonEmpty)
    val total = graft.core.Tables.orders(spark, dir).count()
    assert(rows.map(_.getLong(1)).sum == total)
    rows.foreach(r => assert(r.getDouble(4) >= 0.0 && r.getDouble(4) <= 1.0))
  }

  test("q_table_hash: fingerprint is invariant under row order") {
    val out = SparkEntry.queries("q_table_hash")(spark, dir).collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // recompute the orders fingerprint from a deliberately re-ordered,
    // re-partitioned copy — commutative aggs must not care
    val reordered = graft.core.Tables.orders(spark, dir)
      .orderBy(col("o_totalprice").desc, col("o_orderkey").desc)
      .repartition(7)
    val h = graft.core.Hash.prefix(concat_ws("|",
      col("o_orderkey").cast("string"), col("o_custkey").cast("string"),
      col("o_orderstatus"),
      round(col("o_totalprice") * 100).cast("long").cast("string"),
      unix_micros(col("o_orderdate").cast("timestamp")).cast("string"),
      col("o_orderpriority")))
    val r = reordered.select(h.as("h"))
      .agg(count(lit(1)), sum("h"), expr("bit_xor(h)")).collect()(0)
    assert(out("orders") == ((r.getLong(0), r.getLong(1), r.getLong(2))))
  }

  test("q_graph_triangles: wedge/triangle algebra holds and matches brute force") {
    val row = SparkEntry.queries("q_graph_triangles")(spark, dir).collect()(0)
    val (nodes, edges, wedges, tris, closure) =
      (row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3), row.getDouble(4))
    assert(nodes >= 2 && edges >= 1)
    assert(tris <= wedges, "every triangle closes exactly one oriented wedge")
    assert(closure >= 0.0 && closure <= 1.0)
    // brute-force count over the collected edge set (fixture-sized)
    val es = graft.text.TextQueries.queries("q_simhash_pairs")(spark, dir)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val vs = es.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
    var brute = 0L
    for {
      Seq(a, b, c) <- vs.combinations(3)
      if es((a, b)) && es((b, c)) && es((a, c))
    } brute += 1
    assert(tris == brute, s"degree-oriented count $tris != brute-force $brute")
  }

  test("q_graph_jaccard: score algebra holds; ordering is total") {
    val rows = SparkEntry.queries("q_graph_jaccard")(spark, dir).collect()
    assert(rows.nonEmpty && rows.length <= 20)
    rows.foreach { r =>
      val (common, da, db, jac) = (r.getAs[Long]("common"), r.getAs[Long]("da"),
        r.getAs[Long]("db"), r.getAs[Long]("jac_ppm"))
      assert(common >= 1 && common <= math.min(da, db),
        "common neighbors bounded by the smaller degree")
      assert(jac == common * 1000000L / (da + db - common))
      assert(jac <= 1000000L)
      // Adamic-Adar: each of `common` centers contributes round(1e4/ln d),
      // d in [2, cap] -> weight in [round(1e4/ln cap), round(1e4/ln 2)]
      val aa = r.getAs[Long]("aa_x1e4")
      val wMin = math.round(10000.0 / math.log(graft.text.GraphQueries.JaccardHubCap))
      val wMax = math.round(10000.0 / math.log(2.0))
      assert(aa >= common * wMin && aa <= common * wMax,
        s"AA sum $aa outside [$wMin, $wMax] x $common")
    }
    // descending, tie-broken: strictly decreasing (jac, wa, wb) triple
    val keys = rows.map(r => (-r.getAs[Long]("jac_ppm"),
      r.getAs[String]("wa"), r.getAs[String]("wb"))).toSeq
    assert(keys == keys.sorted, "top-20 ordering must be total")
  }

  test("q_graph_jaccard: hub cap bounds wedge enumeration on a planted star") {
    // star graph: hub adjacent to 200 leaves (degree 200 > cap), plus one
    // bounded clique of 4. The hub must be excluded as a CENTER: no pair of
    // its leaves may appear with common>=1 unless another center links them.
    import spark.implicits._
    val star = (1 to 200).map(i => ("hub", f"leaf$i%03d"))
    val clique = Seq(("k1", "k2"), ("k2", "k3"), ("k3", "k4"), ("k1", "k3"))
    val adj0 = (star ++ clique).toDF("c", "n")
    val adj = adj0.union(adj0.select($"n", $"c")).distinct()
    val deg = adj.groupBy("c").agg(org.apache.spark.sql.functions.count(
      org.apache.spark.sql.functions.lit(1)).as("d"))
    val capped = adj.join(deg.filter($"d" >= 2 && $"d" <= graft.text.GraphQueries.JaccardHubCap)
      .select($"c"), "c")
    val pairs = capped.as("x").join(capped.as("y"), "c")
      .filter($"x.n" < $"y.n")
      .select($"x.n".as("wa"), $"y.n".as("wb"))
    val got = pairs.collect().map(r => (r.getString(0), r.getString(1))).toSet
    // no leaf-leaf pair: the only path between leaves runs through the
    // excluded hub — cap engaged, wedge count stays O(clique) not O(200^2)
    assert(!got.exists { case (a, b) => a.startsWith("leaf") && b.startsWith("leaf") },
      s"hub-mediated pairs leaked past the cap: ${got.take(5)}")
    // clique wedges survive (k1-k3 share centers k2; hub edges irrelevant)
    assert(got.nonEmpty)
  }

  test("q_blocklist_gate: word-exact membership, flags bounded by docs") {
    val rows = SparkEntry.queries("q_blocklist_gate")(spark, dir).collect()
    assert(rows.length >= 1)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_flagged") <= r.getAs[Long]("n_docs"))
      assert(r.getAs[Long]("n_term_hits") >= r.getAs[Long]("n_flagged"))
      assert(r.getAs[Long]("n_term_hits") <=
        r.getAs[Long]("n_flagged") * graft.queries.QualityQueries.BlockList.length)
      assert(r.getAs[Long]("flag_ppm") ==
        r.getAs[Long]("n_flagged") * 1000000L / r.getAs[Long]("n_docs"))
    }
    // word-exact: "duplicate" must not match blocked term "dup"
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val w = split(col("text"), " ")
    val hits = graft.queries.QualityQueries.BlockList
      .map(t => array_contains(w, t).cast("long")).reduce(_ + _)
    val probe = Seq(("duplicate slowly leaky", 0L), ("dup x", 1L), ("a slow leak", 2L))
      .toDF("text", "want")
    assert(probe.select(hits.as("got"), col("want")).collect()
      .forall(r => r.getLong(0) == r.getLong(1)))
  }
}
