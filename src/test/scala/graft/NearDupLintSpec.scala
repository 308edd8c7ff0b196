package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source lint for the one-spelling rule of the MinHash near-dup pipeline:
  * each decision is written once per engine, in its owner file, and every
  * key calls it. A second spelling drifts: the oracle replays one rule
  * while the Spark side runs another, or one key caps its band buckets
  * while its neighbour does not. So the tokens of each decision below may
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
      Seq(".as(\"sh_a\")", "array_union(col(\"sh_a\")", "JOIN ds a", "list_concat(a.sh, b.sh)")))

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
      "  // a comment may name QUALIFY count(*) OVER and ws[i+2]",
      "}")
    val file = "src/main/scala/graft/text/CorpusQueries.scala"
    def flagged(f: String) = Rules.flatMap(r => violations(r, f, canary)).map(_.takeWhile(_ != ' ')).sorted
    assert(flagged(file) == Seq(s"$file:2:", s"$file:4:", s"$file:5:"))
    // an owner may spell its own decision, and only its own
    assert(flagged("src/main/scala/graft/text/TextQueries.scala") ==
      Seq("src/main/scala/graft/text/TextQueries.scala:4:", "src/main/scala/graft/text/TextQueries.scala:5:"))
    assert(flagged("src/main/scala/graft/text/TextDedup.scala") ==
      Seq("src/main/scala/graft/text/TextDedup.scala:2:"))
  }
}
