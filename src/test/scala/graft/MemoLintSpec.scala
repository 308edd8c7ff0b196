package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source lint for the one-memo rule: `graft.text.ArtifactMemo` is the
  * only memo in `src/main`. An ad hoc map keyed by its own choice of
  * (dir, params) repeats the keying, eviction and cold-build decisions and
  * serves stale artifacts when an input is rewritten, so any
  * `ConcurrentHashMap` or `computeIfAbsent` outside ArtifactMemo.scala
  * fails the build, naming `file:line`. The canary proves the lint bites.
  */
class MemoLintSpec extends AnyFunSuite {

  private val Banned = Seq("ConcurrentHashMap", "computeIfAbsent")
  private val Allowed = "ArtifactMemo.scala"

  /** `file:line: text` for every banned token in `lines` of `file`. */
  private def violations(file: String, lines: Seq[String]): Seq[String] =
    if (file.endsWith("/" + Allowed)) Nil
    else SourceLint.hits(file, lines, Banned)

  test("no memo map in src/main outside ArtifactMemo") {
    val files = SourceLint.mainFiles
    assert(files.exists(_.getName == Allowed))
    val found = files.flatMap(f => violations(f.getPath, SourceLint.lines(f)))
    assert(found.isEmpty, s"${found.length} memo maps outside $Allowed:\n${found.mkString("\n")}")
  }

  test("canary: an ad hoc memo map IS flagged, with its file and line") {
    val canary = Seq(
      "object Canary {",
      "  private val cache = new java.util.concurrent.ConcurrentHashMap[String, Int]()",
      "  def get(k: String): Int = cache.computeIfAbsent(k, _ => k.length)",
      "}")
    assert(violations("src/main/scala/graft/Canary.scala", canary).map(_.takeWhile(_ != ' ')) ==
      Seq("src/main/scala/graft/Canary.scala:2:", "src/main/scala/graft/Canary.scala:3:"))
    assert(violations("src/main/scala/graft/text/ArtifactMemo.scala", canary).isEmpty)
  }
}
