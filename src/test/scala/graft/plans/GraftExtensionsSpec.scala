package graft.plans

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The SparkSessionExtensions SQL surface: the codegen kernels registered
  * as SQL functions.
  */
class GraftExtensionsSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = TestSpark.spark
    // same injections .withExtensions would apply, but late-bound onto the
    // shared test session (extensions can't be added post-construction)
    s.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_sqdist", exprs => graft.functions.SquaredDistance(exprs(0), exprs(1)), "scala_udf")
    s.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_dot", exprs => graft.functions.DotProduct(exprs(0), exprs(1)), "scala_udf")
    s
  }

  test("graft_sqdist is callable from SQL text") {
    val got = spark.sql(
      "SELECT graft_sqdist(array(0.0d, 0.0d), array(3.0d, 4.0d)) AS d2").head().getDouble(0)
    assert(got == 25.0)
  }

  test("graft_dot is callable from SQL text") {
    val got = spark.sql(
      "SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS dot").head().getDouble(0)
    assert(got == 11.0)
  }
}
