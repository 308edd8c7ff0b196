package graft.core

import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** [[Hash]] is one hash spelled once per engine: Spark's column, DuckDB's
  * SQL and the JVM's function must give the same value for every input,
  * or the sketch oracles stop matching bit for bit.
  */
class HashSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val Inputs = Seq("", "split:42", "é ü", "naïve 日本語 🙂", "0123456789" * 1024)
  private val Widths = Seq(8, 14, 15)

  test("Spark's prefix equals the JVM form for widths 8, 14 and 15") {
    import spark.implicits._
    val df = Inputs.toDF("s")
    val got = df.select(Widths.map(w => Hash.prefix(col("s"), w)): _*).collect()
    Inputs.zip(got).foreach { case (s, row) =>
      Widths.zipWithIndex.foreach { case (w, i) =>
        assert(row.getLong(i) == Hash.prefixOf(s, w), s"width $w of a ${s.length}-char input")
      }
    }
  }

  test("known answers, from Python hashlib and DuckDB 1.0.0") {
    assert(Hash.prefixOf("") == 3558706393L)
    assert(Hash.prefixOf("", 15) == 955282973525019424L)
    assert(Hash.prefixOf("é ü") == 890414523L)
    val row = spark.range(1).select(Hash.prefix(lit("")), Hash.prefix(lit(""), 15),
      Hash.prefix(lit("é ü"))).head()
    assert((row.getLong(0), row.getLong(1), row.getLong(2)) ==
      (3558706393L, 955282973525019424L, 890414523L))
  }

  test("a null input hashes to null in Spark") {
    val row = spark.range(1).select(Hash.prefix(lit(null).cast("string"))).head()
    assert(row.isNullAt(0))
  }

  test("the DuckDB spelling") {
    assert(Hash.prefixSql("x") == "('0x' || substr(md5(x), 1, 8))::BIGINT")
    assert(Hash.prefixSql("'split:' || w", 14) == "('0x' || substr(md5('split:' || w), 1, 14))::BIGINT")
  }
}
