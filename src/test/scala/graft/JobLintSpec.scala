package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source lint for the cheap-job rule of the Lloyd loop. Spark's
  * `ClosureCleaner` reads and parses the bytecode of the class that
  * defines every Scala lambda handed to an RDD operation or a job, and of
  * the lambdas Spark wraps around it; on a per-iteration path that was most
  * of an iteration's driver time. So:
  *
  *   - `src/main` calls no `treeAggregate` or `treeReduce`, which clean
  *     several such lambdas per call and add a merge shuffle;
  *   - Lloyd.scala hands `runJob` and `mapPartitions*` a named function
  *     class (`Name(...)` or `new Name(...)`), never a lambda, a block or an
  *     eta-expanded method.
  *
  * Either kind of violation fails the build, naming `file:line`. The
  * canaries prove the lint bites.
  */
class JobLintSpec extends AnyFunSuite {

  private val Tree = Seq("treeAggregate", "treeReduce")
  private val Lloyd = "Lloyd.scala"

  /** `file:line: text` for every tree aggregation in the code lines of
    * `lines` of `file`; a comment may name one, say to explain why it is
    * avoided.
    */
  private def treeCalls(file: String, lines: Seq[String]): Seq[String] =
    SourceLint.hits(file, SourceLint.code(lines), Tree)

  private val Call = raw"\b(runJob|mapPartitions\w*)\s*([({])".r
  private val Named = raw"(?s)(new\s+)?[A-Z][\w.]*\s*(\[.*\])?\s*(\(.*\))?".r

  /** The top-level, comma-separated arguments of the call whose opening
    * parenthesis is at `open` in `src`.
    */
  private def arguments(src: String, open: Int): Seq[String] = {
    val args = Seq.newBuilder[String]
    var depth = 0
    var start = open + 1
    var i = open
    var done = false
    while (i < src.length && !done) {
      src(i) match {
        case '(' | '[' | '{' => depth += 1
        case ')' | ']' | '}' =>
          depth -= 1
          if (depth == 0) { args += src.substring(start, i).trim; done = true }
        case ',' if depth == 1 => args += src.substring(start, i).trim; start = i + 1
        case _ =>
      }
      i += 1
    }
    args.result()
  }

  /** `file:line: call` for every `runJob` or `mapPartitions*` call in
    * `lines` whose function argument is not a named class, or whose
    * arguments hold a lambda. Comment lines are skipped.
    */
  private def lambdaJobs(file: String, lines: Seq[String]): Seq[String] = {
    val src = SourceLint.code(lines).mkString("\n")
    Call.findAllMatchIn(src).toSeq.flatMap { m =>
      val (name, open) = (m.group(1), m.start(2))
      val args = if (m.group(2) == "{") Seq(src.substring(open)) else arguments(src, open)
      val fn = args.lift(if (name == "runJob") 1 else 0).getOrElse("")
      val lambda = m.group(2) == "{" || !Named.pattern.matcher(fn).matches() ||
        args.exists(_.contains("=>"))
      if (lambda) Seq(s"$file:${src.take(m.start).count(_ == '\n') + 1}: $name") else Nil
    }
  }

  test("no treeAggregate or treeReduce in src/main") {
    val found = SourceLint.mainFiles.flatMap(f => treeCalls(f.getPath, SourceLint.lines(f)))
    assert(found.isEmpty, s"${found.length} tree aggregations:\n${found.mkString("\n")}")
  }

  test("Lloyd hands runJob and mapPartitions named function classes, not lambdas") {
    val lloyd = SourceLint.mainFiles.filter(_.getName == Lloyd)
    assert(lloyd.size == 1, s"expected one $Lloyd, found ${lloyd.map(_.getPath)}")
    val src = SourceLint.lines(lloyd.head)
    // the lint must see the calls it guards
    assert(Call.findAllMatchIn(src.mkString("\n")).nonEmpty)
    val found = lambdaJobs(lloyd.head.getPath, src)
    assert(found.isEmpty, s"${found.length} lambdas handed to a job:\n${found.mkString("\n")}")
  }

  test("canary: tree aggregations and lambdas handed to a job ARE flagged, with their lines") {
    val canary = Seq(
      "object Canary {",
      "  def a(bs: RDD[Block]) = bs.treeAggregate(new Sums)(_ add _, _ merge _)",
      "  def b(bs: RDD[Double]) = bs.treeReduce(_ + _)",
      "  def c(bs: RDD[Block]) = sc.runJob(bs, (it: Iterator[Block]) => it.size)",
      "  def d(bs: RDD[Block]) = sc.runJob(bs,",
      "    FoldBlocks(table), bs.partitions.indices, (i: Int, s: Sums) => out(i) = s)",
      "  def e(rows: RDD[Row]) = rows.mapPartitions(toBlocks)",
      "  def f(rows: RDD[Row]) = rows.mapPartitionsWithIndex { (i, it) => it }",
      "  // def g(rows: RDD[Row]) = rows.mapPartitions(it => it)",
      "  def h(rows: RDD[Row]) = rows.mapPartitions(_.map(f))",
      "  def ok1(bs: RDD[Block]) = sc.runJob(bs, FoldBlocks(table))",
      "  def ok2(rows: RDD[Row]) = rows.mapPartitions(new ToBlocks(checkNulls), true)",
      "  def ok3(bs: RDD[Block]) = sc.runJob(bs, FirstK(math.max(k, 1)))",
      "  // a treeAggregate here would shuffle; see treeReduce",
      "  /** Not `treeAggregate`: its merge shuffles. */",
      "   * treeAggregate",
      "}")
    val file = "src/main/scala/graft/kmeans/Lloyd.scala"
    assert(treeCalls(file, canary).map(_.takeWhile(_ != ' ')) == Seq(s"$file:2:", s"$file:3:"))
    assert(lambdaJobs(file, canary) == Seq(s"$file:4: runJob", s"$file:5: runJob",
      s"$file:7: mapPartitions", s"$file:8: mapPartitionsWithIndex", s"$file:10: mapPartitions"))
  }
}
