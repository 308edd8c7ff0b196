package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source lint for the one-spelling rule of the MinHash near-dup pipeline,
  * the K-Means oracle, the md5-prefix hash and the min-label components
  * fixpoint: each decision is written once per engine, in
  * its owner file, and every key calls it. A second spelling drifts: the
  * oracle replays one rule while the Spark side runs another, one key caps
  * its band buckets while its neighbour does not, or one replay breaks a
  * distance tie the other way. So the tokens of each decision below may
  * appear in the code lines of `src/main` only in their owner; anywhere
  * else they fail the build, naming `file:line`. The canary proves the
  * lint bites.
  */
class NearDupLintSpec extends AnyFunSuite {

  private case class Rule(what: String, owner: String, tokens: Seq[String])

  private val Rules = Seq(
    Rule("the 3-word shingle rule", "TextQueries.scala", Seq("ws[i+2]", "i + 2)")),
    Rule("the MinHash functions", "TextQueries.scala", Seq("mhA(", "mhB(")),
    Rule("the band key", "TextDedup.scala", Seq("minhash ORDER BY j", "pmod(col(\"j\")")),
    Rule("the block census and its cap", "TextDedup.scala",
      Seq("QUALIFY count(*) OVER", "PARTITION BY band, band_key",
        "PARTITION BY n_words, first_word", "\"n_bucket\"", "\"n_blk\"")),
    Rule("the pair ⋈ shingle-sets Jaccard verify", "TextDedup.scala",
      Seq(".as(\"sh_a\")", "array_union(col(\"sh_a\")", "JOIN ds a", "list_concat(a.sh, b.sh)")),
    Rule("the K-Means points CTE", "Tables.scala", Seq("AS DOUBLE[]) AS c FROM embeddings")),
    Rule("the first-n points by vec_id and the probe", "Lloyd.scala",
      Seq("IS NOT NULL ORDER BY vec_id LIMIT", "initCentroidsFor(s, dir, 1)")),
    Rule("the squared distance", "Vec.scala", Seq("z -> (z[1]-z[2])")),
    Rule("the nearest-centroid tie-break", "Lloyd.scala", Seq("ORDER BY d2, cid) = 1")),
    Rule("the per-cid per-dimension mean", "Lloyd.scala", Seq("avg(p.c[u.i])")),
    Rule("the ARI pair-count fold", "KmeansQueries.scala", Seq("nij * (nij - 1)")),
    // the JVM token is the digest read as an unsigned big-endian integer,
    // which RelationalQueries' full-md5 fixture fingerprint does not spell
    Rule("the md5-prefix hash", "Hash.scala", Seq("substr(md5(", "substring(md5(", "BigInteger(1, ")),
    Rule("the min-label components fixpoint", "TextDedup.scala", Seq("FROM reach r JOIN edges e")))

  /** `file:line: text` for every token of `rule` in the code lines of
    * `lines` of `file`, unless `file` is the rule's owner.
    */
  private def violations(rule: Rule, file: String, lines: Seq[String]): Seq[String] =
    if (file.endsWith("/" + rule.owner)) Nil
    else SourceLint.hits(file, SourceLint.code(lines), rule.tokens)

  test("each near-dup pipeline decision is spelled only in its owner") {
    val files = SourceLint.mainFiles.map(f => (f, SourceLint.lines(f)))
    Rules.foreach { rule =>
      // the lint must see the spelling it guards
      val owned = files.filter(_._1.getName == rule.owner)
      assert(owned.size == 1, s"expected one ${rule.owner}, found ${owned.map(_._1.getPath)}")
      assert(SourceLint.hits(rule.owner, SourceLint.code(owned.head._2), rule.tokens).nonEmpty,
        s"${rule.owner} no longer spells ${rule.what}")
      val found = files.flatMap { case (f, ls) => violations(rule, f.getPath, ls) }
      assert(found.isEmpty,
        s"${found.length} spellings of ${rule.what} outside ${rule.owner}:\n${found.mkString("\n")}")
    }
  }

  test("canary: a second spelling IS flagged, with its file and line") {
    val canary = Seq(
      "object Canary {",
      "  val sh = \"list_transform(range(1, len(ws) - 1), i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])\"",
      "  val bigram = \"list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])\"",
      "  val census = \"QUALIFY count(*) OVER (PARTITION BY band, band_key) <= 1000\"",
      "  def verify(p: DataFrame, d: DataFrame) = p.join(d.select(col(\"doc_id\").as(\"doc_a\"), col(\"sh\").as(\"sh_a\")), \"doc_a\")",
      "  val pts = \"WITH pts AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS c FROM embeddings)\"",
      "  val probe = \"probe AS (SELECT c AS p FROM pts WHERE c IS NOT NULL ORDER BY vec_id LIMIT 1)\"",
      "  val d2 = \"list_sum(list_transform(list_zip(p.c, i.c), z -> (z[1]-z[2])*(z[1]-z[2])))\"",
      "  val asg = \"QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) = 1\"",
      "  val mean = \"round(avg(p.c[u.i]), 7) + 0.0 AS m\"",
      "  val sij = expr(\"nij * (nij - 1) DIV 2\")",
      "  val probeVec = Lloyd.initCentroidsFor(s, dir, 1).head.coordinates",
      "  val hSql = \"('0x' || substr(md5(word), 1, 8))::BIGINT % 2\"",
      "  def h32(c: Column) = conv(substring(md5(c), 1, 8), 16, 10).cast(\"long\")",
      "  def hash32(d: Array[Byte]) = new BigInteger(1, d).shiftRight(96).longValue",
      "  val cc = \"SELECT r.v, e.b FROM reach r JOIN edges e ON r.u = e.a\"",
      "  // a comment may name QUALIFY count(*) OVER, ws[i+2] and z -> (z[1]-z[2])",
      "}")
    def flagged(f: String): Seq[Int] = Rules.flatMap(r => violations(r, s"src/main/scala/graft/$f", canary))
      .map(_.stripPrefix(s"src/main/scala/graft/$f:").takeWhile(_ != ':').toInt).sorted
    val all = Seq(2, 4, 5) ++ (6 to 16)
    assert(flagged("text/CorpusQueries.scala") == all)
    // an owner may spell its own decisions, and only its own
    Seq("text/TextQueries.scala" -> Seq(2), "text/TextDedup.scala" -> Seq(4, 5, 16),
      "core/Tables.scala" -> Seq(6), "kmeans/Lloyd.scala" -> Seq(7, 9, 10, 12),
      "core/Vec.scala" -> Seq(8), "kmeans/KmeansQueries.scala" -> Seq(11),
      "core/Hash.scala" -> Seq(13, 14, 15)).foreach {
      case (owner, lines) => assert(flagged(owner) == all.diff(lines), owner)
    }
  }
}
