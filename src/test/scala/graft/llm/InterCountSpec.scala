package graft.llm

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Native inter_count expression: parity with
  * size(array_intersect(...)) on sorted distinct arrays; codegen
  * agreement; null semantics. */
class InterCountSpec extends AnyFunSuite with SparkTestSession {

  test("matches size(array_intersect) on random sorted distinct arrays") {
    graft.GraftExtensions.ensure(spark)
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    def mk() = (0 until rnd.nextInt(40)).map(_ => rnd.nextInt(60).toLong)
      .distinct.sorted
    val df = (0 until 200).map(_ => (mk(), mk())).toDF("a", "b")
    val rows = df.select(
      expr("inter_count(a, b)").as("native"),
      size(array_intersect(col("a"), col("b"))).as("builtin")).collect()
    rows.foreach(r => assert(r.getInt(0) == r.getInt(1)))
  }

  test("interpreted and codegen paths agree; empty and disjoint inputs") {
    graft.GraftExtensions.ensure(spark)
    import spark.implicits._
    Seq(
      (Seq(1L, 2L, 3L), Seq(2L, 3L, 4L)),
      (Seq.empty[Long], Seq(1L)),
      (Seq(1L, 5L), Seq(2L, 6L)),
    ).toDF("a", "b").createOrReplaceTempView("ic_t")
    val results = Seq("NO_CODEGEN", "CODEGEN_ONLY").map { mode =>
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      try spark.sql("SELECT inter_count(a, b) FROM ic_t")
        .collect().map(_.getInt(0)).toSeq
      finally spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
    assert(results(0) == Seq(2, 0, 0))
    assert(results(0) == results(1))
    spark.catalog.dropTempView("ic_t")
  }

  test("null array → null") {
    graft.GraftExtensions.ensure(spark)
    val r = spark.sql(
      "SELECT inter_count(CAST(NULL AS ARRAY<BIGINT>), array(1L))").collect()(0)
    assert(r.isNullAt(0))
  }
}
