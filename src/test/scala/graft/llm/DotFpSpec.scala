package graft.llm

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Native dot_fp expression: parity with the HOF formulation,
  * interpreted-vs-codegen agreement, null contract. */
class DotFpSpec extends AnyFunSuite with SparkTestSession {

  private def vecsDF = {
    import spark.implicits._
    Seq(
      (1L, Array(0.5f, -0.25f, 1.0f), Array(1.0f, 2.0f, 0.5f)),
      (2L, Array(0.0f, 0.0f, 0.0f), Array(1.0f, 1.0f, 1.0f)),
      (3L, Array(1e-7f, 1e-7f, 1e-7f), Array(1e-7f, -1e-7f, 1e-7f)),
    ).toDF("id", "a", "b")
  }

  test("native expression equals the HOF formulation element for element") {
    graft.GraftExtensions.ensure(spark)
    val rows = vecsDF.select(col("id"),
      Similarity.dotFpNative("a", "b").as("native"),
      Similarity.dotFpExpr("a", "b").as("hof")).collect()
    rows.foreach(r => assert(r.getLong(1) == r.getLong(2), s"id ${r.getLong(0)}"))
    // floor(-tiny) = -1: negative products round toward -inf in both forms
    assert(rows.find(_.getLong(0) == 3L).get.getLong(1) == -1L)
  }

  test("interpreted and codegen paths agree") {
    graft.GraftExtensions.ensure(spark)
    vecsDF.createOrReplaceTempView("dotfp_vecs")
    val results = Seq("NO_CODEGEN", "CODEGEN_ONLY").map { mode =>
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      try spark.sql("SELECT id, dot_fp(a, b) FROM dotfp_vecs ORDER BY id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      finally spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
    assert(results(0) == results(1))
    spark.catalog.dropTempView("dotfp_vecs")
  }

  test("null contract: null array, null element, length mismatch") {
    graft.GraftExtensions.ensure(spark)
    val r1 = spark.sql(
      "SELECT dot_fp(CAST(NULL AS ARRAY<FLOAT>), array(CAST(1.0 AS FLOAT)))").collect()(0)
    assert(r1.isNullAt(0))
    val r2 = spark.sql(
      "SELECT dot_fp(array(CAST(1.0 AS FLOAT), CAST(NULL AS FLOAT)), " +
        "array(CAST(1.0 AS FLOAT), CAST(1.0 AS FLOAT)))").collect()(0)
    assert(r2.isNullAt(0))
    val r3 = spark.sql(
      "SELECT dot_fp(array(CAST(1.0 AS FLOAT)), " +
        "array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)))").collect()(0)
    assert(r3.isNullAt(0))
  }

  test("double arrays and mixed float/double operands work") {
    graft.GraftExtensions.ensure(spark)
    val r = spark.sql(
      "SELECT dot_fp(array(CAST(0.5 AS DOUBLE), CAST(2.0 AS DOUBLE)), " +
        "array(CAST(2.0 AS FLOAT), CAST(0.25 AS FLOAT)))").collect()(0)
    assert(r.getLong(0) == 1500000L) // 1.0 + 0.5 in millionths
  }

  test("non-array operands are an analysis-time type error") {
    graft.GraftExtensions.ensure(spark)
    intercept[Exception] {
      spark.sql("SELECT dot_fp(1, 2)").collect()
    }
  }
}
