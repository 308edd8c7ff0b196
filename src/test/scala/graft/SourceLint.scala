package graft

import java.io.File

import scala.io.Source

/** What the source lint specs read: the `.scala` files of `src/main` and
  * their lines. The specs run from the project root.
  */
object SourceLint {

  /** Every `.scala` file under `src/main/scala`, in path order. */
  def mainFiles: Seq[File] = {
    val root = new File("src/main/scala")
    assert(root.isDirectory, s"run from the project root: ${root.getAbsolutePath} is missing")
    scalaFiles(root)
  }

  private def scalaFiles(dir: File): Seq[File] =
    Option(dir.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap { f =>
      if (f.isDirectory) scalaFiles(f)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Nil
    }

  def lines(f: File): Seq[String] = {
    val src = Source.fromFile(f, "UTF-8")
    try src.getLines().toSeq finally src.close()
  }

  /** `lines` with every comment line (one that starts with `//`, a block
    * comment opener or a scaladoc `*`) blanked, so line numbers still hold.
    */
  def code(lines: Seq[String]): Seq[String] = lines.map { l =>
    val t = l.trim
    if (t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")) "" else l
  }

  /** `file:line: text` for every line of `lines` that holds one of `tokens`. */
  def hits(file: String, lines: Seq[String], tokens: Seq[String]): Seq[String] =
    lines.zipWithIndex.collect {
      case (l, i) if tokens.exists(l.contains) => s"$file:${i + 1}: ${l.trim}"
    }
}
