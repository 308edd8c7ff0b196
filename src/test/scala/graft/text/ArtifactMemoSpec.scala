package graft.text

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.kmeans.Lloyd

/** The one artifact memo: nested builds, rebuilds of an input rewritten
  * under the same path, one build under concurrent callers, and no caching
  * of a failed build. Every case works on its own copy of the sf0.001
  * fixture, so no other suite's entries are touched.
  */
class ArtifactMemoSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def delete(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(f => Files.delete(f))

  private def withFixtureCopy(body: String => Unit): Unit = {
    val dir = Files.createTempDirectory("artifact-memo")
    try {
      Files.list(Paths.get(TestSpark.Sf0001)).iterator().asScala
        .foreach(f => Files.copy(f, dir.resolve(f.getFileName)))
      body(dir.toString)
    } finally delete(dir)
  }

  /** Replaces `dir/<table>.parquet` with the rows `keep` selects, written
    * as one parquet file under the same name.
    */
  private def rewrite(dir: String, table: String,
                      keep: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): Unit = {
    val target = Paths.get(dir, s"$table.parquet")
    val staging = Paths.get(dir + "_staging", table)
    keep(spark.read.parquet(target.toString)).coalesce(1).write.parquet(staging.toString)
    val part = Files.list(staging).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.move(part, target, StandardCopyOption.REPLACE_EXISTING)
    delete(staging.getParent)
  }

  test("a nested build runs each artifact once and is billed as a cold build") {
    withFixtureCopy { dir =>
      val cold0 = ArtifactMemo.totalColdBuildSeconds
      val cands = TextDedup.minhashCandidatesFor(spark, dir)
      val cold1 = ArtifactMemo.totalColdBuildSeconds
      assert(cold1 > cold0, "the candidate build must be billed")
      assert(TextDedup.minhashCandidatesFor(spark, dir) eq cands)
      val sigs = TextQueries.minhashSigsFor(spark, dir)
      assert(TextQueries.minhashSigsFor(spark, dir) eq sigs)
      assert(ArtifactMemo.totalColdBuildSeconds == cold1,
        "the signatures were built inside the candidate build, not again")
      assert(cands.count() > 0)
    }
  }

  test("a nested build is billed once: each build pays only its own time") {
    val dir = Files.createTempDirectory("artifact-memo-billing")
    try {
      val cold0 = ArtifactMemo.totalColdBuildSeconds
      ArtifactMemo("spec_outer", spark, dir.toString) {
        Thread.sleep(200)
        ArtifactMemo("spec_inner", spark, dir.toString) { Thread.sleep(300); 1 }
      }
      val billed = ArtifactMemo.totalColdBuildSeconds - cold0
      // 0.2 s of the outer build's own plus the 0.3 s inner build, not 0.8 s
      assert(billed >= 0.5 && billed < 0.7, s"billed $billed s")
    } finally delete(dir)
  }

  test("an input rewritten under the same path is rebuilt, not served stale") {
    withFixtureCopy { dir =>
      val docs0 = TextQueries.shingleSetsFor(spark, dir).count()
      val init0 = Lloyd.initCentroidsFor(spark, dir, 5)
      rewrite(dir, "documents", _.orderBy(col("doc_id").desc).limit(40))
      rewrite(dir, "embeddings", _.orderBy(col("vec_id").desc).limit(40))

      val sh = TextQueries.shingleSetsFor(spark, dir)
      assert(sh.count() == 40 && docs0 > 40)
      assert(sh.select("doc_id").collect().map(_.getLong(0)).toSet ==
        graft.core.Tables.documents(spark, dir).select("doc_id").collect().map(_.getLong(0)).toSet)
      val init1 = Lloyd.initCentroidsFor(spark, dir, 5)
      val direct = Lloyd.initCentroids(graft.core.Tables.points(spark, dir), 5)
      def rows(cs: Seq[graft.kmeans.Centroid]) = cs.map(c => (c.cid, c.coordinates.toSeq))
      assert(rows(init1) == rows(direct))
      assert(rows(init1) != rows(init0))
    }
  }

  test("concurrent callers of one key wait for a single build") {
    withFixtureCopy { dir =>
      val builds = new AtomicInteger(0)
      val start = new CountDownLatch(1)
      val pool = Executors.newFixedThreadPool(8)
      try {
        val results = (1 to 8).map { _ =>
          pool.submit(new Callable[AnyRef] {
            def call(): AnyRef = {
              start.await()
              ArtifactMemo("spec_concurrent", spark, dir) {
                builds.incrementAndGet()
                Thread.sleep(200)
                new Object
              }
            }
          })
        }
        start.countDown()
        val values = results.map(_.get(60, TimeUnit.SECONDS))
        assert(builds.get == 1)
        assert(values.forall(_ eq values.head))
      } finally pool.shutdownNow()
    }
  }

  test("a build that throws is not cached; the next call builds again") {
    withFixtureCopy { dir =>
      val attempts = new AtomicInteger(0)
      val e = intercept[IllegalStateException] {
        ArtifactMemo("spec_failing", spark, dir) {
          attempts.incrementAndGet()
          throw new IllegalStateException("first build fails")
        }
      }
      assert(e.getMessage == "first build fails")
      def build = ArtifactMemo("spec_failing", spark, dir) { attempts.incrementAndGet(); 42 }
      assert(build == 42)
      assert(build == 42)
      assert(attempts.get == 2)
    }
  }
}
