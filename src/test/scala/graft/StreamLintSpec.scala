package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source lint for the one-drain rule: `graft.streaming.Streams` decides
  * where a stream's session, sink and checkpoint go, so each drain cleans up
  * after itself in one place. A child session, a memory sink or a
  * checkpoint location set anywhere else in `src/main` fails the build,
  * naming `file:line`. The canary proves the lint bites.
  */
class StreamLintSpec extends AnyFunSuite {

  private val Banned = Seq("newSession()", "format(\"memory\")", "checkpointLocation")
  private val Allowed = "Streams.scala"

  /** `file:line: text` for every banned token in `lines` of `file`. */
  private def violations(file: String, lines: Seq[String]): Seq[String] =
    if (file.endsWith("/" + Allowed)) Nil
    else SourceLint.hits(file, lines, Banned)

  test("no session, memory sink or checkpoint location in src/main outside Streams") {
    val files = SourceLint.mainFiles
    assert(files.exists(_.getName == Allowed))
    val found = files.flatMap(f => violations(f.getPath, SourceLint.lines(f)))
    assert(found.isEmpty, s"${found.length} stream placements outside $Allowed:\n${found.mkString("\n")}")
  }

  test("canary: a hand-built drain IS flagged, with its file and line") {
    val canary = Seq(
      "object Canary {",
      "  def q(s: SparkSession, df: DataFrame) = {",
      "    val ss = s.newSession()",
      "    df.writeStream.format(\"memory\").queryName(\"q\")",
      "      .option(\"checkpointLocation\", \"/tmp/q\").start()",
      "  }",
      "}")
    assert(violations("src/main/scala/graft/Canary.scala", canary).map(_.takeWhile(_ != ' ')) ==
      Seq("src/main/scala/graft/Canary.scala:3:", "src/main/scala/graft/Canary.scala:4:",
        "src/main/scala/graft/Canary.scala:5:"))
    assert(violations("src/main/scala/graft/streaming/Streams.scala", canary).isEmpty)
  }
}
