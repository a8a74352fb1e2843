package graft.llm

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Native minhash_sigs expression: parity with the HOF formulation,
  * codegen agreement, null semantics. */
class MinHashSigsSpec extends AnyFunSuite with SparkTestSession {

  test("native signatures equal the HOF formulation") {
    graft.GraftExtensions.ensure(spark)
    import spark.implicits._
    val df = Seq(
      Seq(5L, 123456789L, 42L, 2147483646L),
      Seq(0L),
      Seq(999L, 999L),
    ).toDF("bases")
    val rows = df.select(
      expr("minhash_sigs(bases, 8)").as("native"),
      MinHashLSH.minhashExpr("bases", 8).as("hof")).collect()
    rows.foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1))
    }
  }

  test("interpreted and codegen paths agree") {
    graft.GraftExtensions.ensure(spark)
    import spark.implicits._
    Seq(Seq(7L, 77L, 777L)).toDF("bases").createOrReplaceTempView("mh_bases")
    val results = Seq("NO_CODEGEN", "CODEGEN_ONLY").map { mode =>
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      try spark.sql("SELECT minhash_sigs(bases, 4) FROM mh_bases")
        .collect().map(_.getSeq[Long](0)).toSeq
      finally spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
    assert(results(0) == results(1))
    spark.catalog.dropTempView("mh_bases")
  }

  test("null semantics: null array → null; null elements skipped") {
    graft.GraftExtensions.ensure(spark)
    val r1 = spark.sql("SELECT minhash_sigs(CAST(NULL AS ARRAY<BIGINT>), 4)").collect()(0)
    assert(r1.isNullAt(0))
    val r2 = spark.sql(
      "SELECT minhash_sigs(array(CAST(NULL AS BIGINT), 10L), 2)").collect()(0)
    val viaHof = spark.sql(
      "SELECT array(array_min(transform(array(CAST(NULL AS BIGINT), 10L), " +
        s"v -> (v * ${MinHashLSH.seedParams(0)._1}L + ${MinHashLSH.seedParams(0)._2}L) % ${MinHashLSH.P})))").collect()(0)
    assert(r2.getSeq[Long](0).head == viaHof.getSeq[Long](0).head)
    val r3 = spark.sql("SELECT minhash_sigs(array(CAST(NULL AS BIGINT)), 4)").collect()(0)
    assert(r3.isNullAt(0)) // all elements null → null
  }

  test("non-literal k is rejected") {
    graft.GraftExtensions.ensure(spark)
    intercept[Exception] {
      spark.sql("SELECT minhash_sigs(array(1L), CAST(rand() * 4 AS INT))").collect()
    }
  }
}
