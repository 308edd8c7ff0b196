package graft.core

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.grafttest.Bus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The read contract of [[Tables.table]]: a single parquet file yields
  * exactly the schema Spark's inference would, without running a Spark job,
  * and is read afresh on every call; a directory of part files still reads
  * through Spark's inference; bad input fails naming the problem.
  */
class TablesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf0001 = TestSpark.Sf0001
  private val sf001 = new File(new File(sf0001).getParent, "sf0.01").getPath
  private val names = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "documents", "embeddings", "events")

  /** Spark jobs started while `body` runs. */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    Bus.drain(sc)
    val jobs = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    sc.addSparkListener(l)
    try {
      body
      Bus.drain(sc)
    } finally sc.removeSparkListener(l)
    jobs.get
  }

  private def withTempDir(prefix: String)(body: String => Unit): Unit = {
    val dir = Files.createTempDirectory(prefix)
    try body(dir.toString)
    finally Files.walk(dir).iterator().asScala.toSeq.reverse.foreach(f => Files.delete(f))
  }

  test("every fixture table reads with the schema Spark's inference gives it") {
    for (dir <- Seq(sf0001, sf001) if new File(dir).isDirectory; name <- names) {
      val inferred = spark.read.parquet(s"$dir/$name.parquet").schema
      assert(Tables.table(spark, dir, name).schema == inferred, s"$dir/$name.parquet")
    }
  }

  test("building the points, documents, events and customer loaders runs no Spark job") {
    Tables.points(spark, sf0001) // loads the reader classes outside the count
    val n = jobsDuring {
      Tables.points(spark, sf0001)
      Tables.documents(spark, sf0001)
      Tables.events(spark, sf0001)
      Tables.customer(spark, sf0001)
    }
    assert(n == 0)
  }

  test("a directory of part files still reads, with the inferred schema") {
    withTempDir("tables_dir") { dir =>
      val path = s"$dir/x.parquet"
      Tables.customer(spark, sf0001).repartition(3).write.parquet(path)
      assert(new File(path).listFiles().count(_.getName.endsWith(".parquet")) == 3)
      val t = Tables.table(spark, dir, "x")
      assert(t.schema == spark.read.parquet(path).schema)
      assert(t.count() == Tables.customer(spark, sf0001).count())
    }
  }

  test("a file rewritten in place with one more column is read with the new schema") {
    withTempDir("tables_rewrite") { dir =>
      val file = new File(s"$dir/embeddings.parquet")
      Files.copy(new File(s"$sf0001/embeddings.parquet").toPath, file.toPath)
      val before = Tables.embeddings(spark, dir)
      assert(!before.columns.contains("extra"))
      val n = before.count()
      val staged = s"$dir/staged"
      spark.read.parquet(file.getPath).withColumn("extra", lit(7L)).coalesce(1)
        .write.parquet(staged)
      val part = new File(staged).listFiles().find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, file.toPath, StandardCopyOption.REPLACE_EXISTING)
      val after = Tables.embeddings(spark, dir)
      assert(after.columns.contains("extra"))
      assert(after.agg(count(lit(1)), sum("extra")).head() == org.apache.spark.sql.Row(n, 7L * n))
    }
  }

  test("a TIMESTAMP(NANOS) events file fails naming NanosAsLongConf in a session without it") {
    withTempDir("tables_nanos") { dir =>
      val schema = MessageTypeParser.parseMessageType(
        "message events { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,true)); }")
      val conf = spark.sessionState.newHadoopConf()
      val w = ExampleParquetWriter.builder(
          HadoopOutputFile.fromPath(new Path(s"$dir/events.parquet"), conf))
        .withType(schema).withConf(conf).build()
      try w.write(new SimpleGroupFactory(schema).newGroup()
        .append("event_id", 1L).append("ts", 1700000000123456789L))
      finally w.close()

      // the shared session carries the conf: the nanos long truncates to micros
      val ok = Tables.events(spark, dir)
      assert(ok.schema("ts").dataType == TimestampType)
      assert(ok.select(unix_micros(col("ts"))).head().getLong(0) == 1700000000123456L)

      val bare = spark.newSession()
      bare.conf.set(Tables.NanosAsLongConf._1, "false")
      val e = intercept[IllegalStateException](Tables.events(bare, dir))
      assert(e.getMessage.contains("Tables.NanosAsLongConf"))
      assert(e.getMessage.contains(Tables.NanosAsLongConf._1))
    }
  }

  test("a file at <name>.parquet that is not parquet fails naming its path") {
    withTempDir("tables_notparquet") { dir =>
      Files.write(new File(s"$dir/customer.parquet").toPath, "c_custkey,c_name\n1,a\n".getBytes)
      val e = intercept[Exception](Tables.customer(spark, dir))
      assert(String.valueOf(e.getMessage).contains(s"$dir/customer.parquet"))
    }
  }

  test("a missing table fails with Spark's PATH_NOT_FOUND") {
    withTempDir("tables_missing") { dir =>
      val e = intercept[org.apache.spark.sql.AnalysisException](Tables.customer(spark, dir))
      assert(e.getCondition == "PATH_NOT_FOUND")
    }
  }
}
