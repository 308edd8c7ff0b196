package graft.ml

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEntry, TestSpark}

/** Semantic invariants of the training-primitive operators (q_tree_split,
  * q_logreg_step), the Count-Min sketch (q_countmin), and the graph
  * rounds (q_label_prop, q_kcore). The byte-level cross-engine check is
  * the DuckDB oracle gate; these pin defining identities — the one-sided
  * CM error, the exact-gradient recomputation, partition-mass
  * conservation — so a refactor cannot drift both engines in lockstep.
  */
class TrainPrimSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private def run(name: String): Array[Row] =
    SparkEntry.queries(name)(spark, TestSpark.Sf0001).collect()

  test("q_tree_split: split partitions conserve mass, exactly one best, chi2 >= 0") {
    val rows = run("q_tree_split")
    assert(rows.nonEmpty)
    val byFeature = rows.groupBy(_.getAs[String]("feature"))
    assert(byFeature.keySet == Set("qty", "disc"))
    for ((_, rs) <- byFeature) {
      val tot = rs.map(r => r.getAs[Long]("n_left") + r.getAs[Long]("n_right")).distinct
      assert(tot.size == 1, s"n_left + n_right must be the feature total: $tot")
      val ptot = rs.map(r => r.getAs[Long]("pos_left") + r.getAs[Long]("pos_right")).distinct
      assert(ptot.size == 1)
      // cumulative counts are monotone in the split bin
      val sorted = rs.sortBy(_.getAs[Long]("split_bin"))
      assert(sorted.map(_.getAs[Long]("n_left")).sliding(2).forall(p => p.head <= p.last))
    }
    assert(rows.count(_.getAs[Long]("is_best") == 1L) == 1)
    assert(rows.forall(_.getAs[Double]("chi2") >= 0.0))
  }

  test("q_logreg_step: gradient matches a driver-side exact recomputation") {
    val row = run("q_logreg_step").head
    val emb = graft.core.Tables.embeddings(spark, TestSpark.Sf0001)
      .select("label", "embedding").collect()
    val n = emb.length.toLong
    var nPos = 0L
    val g = Array.fill(8)(0L)
    emb.foreach { r =>
      val y = r.getAs[Int]("label") / 5
      val sgn = 2L * y - 1
      if (y == 1) nPos += 1
      val v = r.getSeq[Double](1) // Tables.embeddings widens float32 -> double
      (0 until 8).foreach(j => g(j) += sgn * math.round(v(j) * 1e6))
    }
    assert(row.getAs[Long]("n") == n && row.getAs[Long]("n_pos") == nPos)
    (1 to 8).foreach(j => assert(row.getAs[Long](s"g$j") == g(j - 1),
      s"g$j: expected ${g(j - 1)} got ${row.getAs[Long](s"g$j")}"))
    val acc = row.getAs[Long]("acc_ppm")
    assert(acc >= 0 && acc <= 1000000)
  }

  test("q_countmin: one-sided error — estimate >= exact on every probe") {
    val rows = SparkEntry.queries("q_countmin")(spark, TestSpark.Sf0001).collect()
    assert(rows.length == 10)
    rows.foreach { r =>
      assert(r.getAs[Long]("est") >= r.getAs[Long]("exact"),
        s"CM must never under-count: $r")
      assert(r.getAs[Long]("over_ppm") >= 0)
    }
    // ranks are the dense 1..10 prefix
    assert(rows.map(_.getAs[Int]("rk")).sorted.sameElements(1 to 10))
  }

  test("q_label_prop: seeds + adopters + unreached partition the corpus; correct <= adopted") {
    val rows = SparkEntry.queries("q_label_prop")(spark, TestSpark.Sf0001).collect()
    val nDocs = graft.core.Tables.documents(spark, TestSpark.Sf0001).count()
    val mass = rows.map(r => r.getAs[Long]("n_seed") + r.getAs[Long]("n_adopted")).sum
    assert(mass == nDocs, s"census mass $mass != corpus $nDocs")
    rows.foreach { r =>
      assert(r.getAs[Long]("n_correct") <= r.getAs[Long]("n_adopted"))
      if (r.getAs[String]("label") == "(unreached)")
        assert(r.getAs[Long]("n_seed") == 0 && r.getAs[Long]("n_correct") == 0)
    }
  }

  test("q_kcore: peeling is monotone and round 1 obeys the peel predicate") {
    val row = SparkEntry.queries("q_kcore")(spark, TestSpark.Sf0001).collect().head
    val Seq(n0, m0, n1, m1, n2, m2) =
      Seq("n_r0", "m_r0", "n_r1", "m_r1", "n_r2", "m_r2").map(row.getAs[Long])
    assert(n0 >= n1 && n1 >= n2)
    assert(m0 >= m1 && m1 >= m2)
    // independent replay of round 1: e1 = e0 restricted to deg >= 3 nodes
    val e0 = graft.text.TextQueries.simhashPairsFor(spark, TestSpark.Sf0001)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val deg = e0.flatMap(p => Seq(p._1, p._2)).groupBy(identity).view.mapValues(_.length)
    val e1 = e0.filter(p => deg(p._1) >= 3 && deg(p._2) >= 3)
    assert(m1 == e1.length.toLong)
    assert(n1 == e1.flatMap(p => Seq(p._1, p._2)).distinct.length.toLong)
  }

  test("q_tree_depth2: leaves partition mass; level-2 splits respect leaf totals") {
    val l2 = run("q_tree_depth2")
    assert(l2.length == 2 && l2.map(_.getAs[String]("leaf")).toSet == Set("L", "R"))
    // level-1 winner is consistent across both leaf rows
    assert(l2.map(r => (r.getAs[String]("l1_feature"), r.getAs[Long]("l1_bin")))
      .distinct.length == 1)
    // each leaf's level-2 split partitions that leaf's own row mass, and
    // the two leaves together partition the full dataset
    val total = l2.map(r => r.getAs[Long]("n_left") + r.getAs[Long]("n_right")).sum
    val n = graft.core.Tables.lineitem(spark, TestSpark.Sf0001).count()
    assert(total == n, s"leaf masses $total != $n")
    l2.foreach { r =>
      assert(r.getAs[Double]("chi2") >= 0.0)
      assert(r.getAs[Long]("pos_left") <= r.getAs[Long]("n_left"))
      assert(r.getAs[Long]("pos_right") <= r.getAs[Long]("n_right"))
    }
  }

  test("q_naive_bayes: confusion mass = test docs with tokens; labels in domain") {
    val rows = run("q_naive_bayes")
    val langs = Set("de", "en", "es", "fr", "zh")
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(langs.contains(r.getAs[String]("true_lang")))
      assert(langs.contains(r.getAs[String]("pred_lang")))
      assert(r.getAs[Long]("n") > 0)
    }
    // every test-half doc with at least one nonempty token is classified
    // exactly once
    val expected = graft.core.Tables.documents(spark, TestSpark.Sf0001)
      .selectExpr("doc_id", "text",
        "CAST(conv(substring(md5(concat('nb:', CAST(doc_id AS STRING))), 1, 8), 16, 10) AS BIGINT) % 2 AS t")
      .collect()
      .count(r => r.getAs[Long]("t") == 0 &&
        r.getAs[String]("text").split(" ").exists(_.nonEmpty))
    assert(rows.map(_.getAs[Long]("n")).sum == expected.toLong)
  }

  // r12: the wide-model rewrite must preserve the old inner-join edge
  // semantics the tall shape got for free — a lang absent from the train
  // half is NOT a candidate (and its ln(0) prior must never reach the
  // ANSI BIGINT cast), and an empty train half yields an EMPTY census
  // (not null predictions).
  test("q_naive_bayes: missing-lang and empty-train edges match the tall-model semantics") {
    val dir = java.nio.file.Files.createTempDirectory("nb_edge").toString
    import spark.implicits._
    // parities of pmod(Hash.prefix("nb:" + id), 2) computed via the engine itself
    val par = spark.range(1, 41)
      .selectExpr("id",
        "CAST(conv(substring(md5(concat('nb:', CAST(id AS STRING))), 1, 8), 16, 10) AS BIGINT) % 2 AS t")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val testIds = par.filter(_._2 == 0L).keys.toSeq.sorted
    val trainIds = par.filter(_._2 == 1L).keys.toSeq.sorted
    // case 1: train has ONLY 'en' docs; test docs carry en + zh truths —
    // predictions must all be 'en' (the lone candidate), zh never crashes
    Seq((trainIds.head, "en", "alpha beta gamma"),
      (trainIds(1), "en", "alpha beta"),
      (testIds.head, "en", "alpha gamma"),
      (testIds(1), "zh", "beta beta"))
      .toDF("doc_id", "lang", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("q_naive_bayes")(spark, dir).collect()
    assert(rows.map(_.getAs[Long]("n")).sum == 2L)
    assert(rows.forall(_.getAs[String]("pred_lang") == "en"),
      s"only the trained lang may be predicted: ${rows.mkString(", ")}")
    // case 2: no train docs at all -> empty census (the tall shape's
    // empty langFrame), never a null-prediction row
    Seq((testIds.head, "en", "alpha gamma"), (testIds(1), "zh", "beta"))
      .toDF("doc_id", "lang", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    assert(SparkEntry.queries("q_naive_bayes")(spark, dir).collect().isEmpty)
  }

  test("q_ols_normal: first normal equation holds; fit is sane") {
    val row = run("q_ols_normal").head
    val s = graft.core.Tables.lineitem(spark, TestSpark.Sf0001)
      .selectExpr("CAST(l_quantity AS BIGINT) AS x1",
        "CAST(round(l_discount * 100) AS BIGINT) AS x2",
        "CAST(round(l_extendedprice) AS BIGINT) AS y")
      .selectExpr("count(*) AS n", "sum(x1) AS s1", "sum(x2) AS s2", "sum(y) AS sy")
      .collect().head
    val (n, s1, s2, sy) = (s.getAs[Long]("n"), s.getAs[Long]("s1"),
      s.getAs[Long]("s2"), s.getAs[Long]("sy"))
    val b0 = row.getAs[Double]("b0_dollars")
    val b1 = row.getAs[Double]("b1_dollars_per_unit")
    val b2 = row.getAs[Double]("b2_dollars_per_disc")
    // n·b0 + b1·Σx1 + b2·Σx2 = Σy — the defining property of the OLS
    // solution (gradient of SSE w.r.t. the intercept is zero)
    val lhs = n * b0 + b1 * s1 + b2 * s2
    assert(math.abs(lhs - sy) / sy.toDouble < 1e-5, s"normal eq: $lhs vs $sy")
    // no sign pin on b1/b2: the synthetic fixture draws price independent
    // of quantity, so the slope is a small data artifact either way
    val r2 = row.getAs[Double]("r2")
    assert(r2 >= 0.0 && r2 <= 1.0)
  }
}
