package graft.llm

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Native shingle_bases expression: bit parity with the composable
  * SQL formulation (tokens → shingleExpr → baseHashExpr →
  * array_distinct) that the DuckDB oracle replays, across adversarial
  * whitespace shapes and random text; codegen agreement. */
class ShingleBasesSpec extends AnyFunSuite with SparkTestSession {

  private def sqlForm(n: Int) =
    array_distinct(MinHashLSH.baseHashExpr("sh")).as("s")

  private def compare(texts: Seq[String], n: Int): Unit = {
    import spark.implicits._
    graft.GraftExtensions.ensure(spark)
    val df = texts.toDF("text")
    val viaSql = df
      .select(TextAnalysis.tokens(col("text")).as("toks"), col("text"))
      .select(MinHashLSH.shingleExpr("toks", n).as("sh"), col("text"))
      .select(col("text"), sqlForm(n))
    val viaNative = df.select(col("text"),
      array_distinct(expr(s"shingle_bases(text, $n)")).as("s"))
    val a = viaSql.collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    val b = viaNative.collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    texts.foreach { t =>
      assert(a(t) == b(t), s"mismatch for ${t.take(60).replace("\n", "\\n")}")
    }
  }

  test("parity on adversarial whitespace and unicode shapes") {
    compare(Seq(
      "hello world this is a test",
      "", " ", "   ",
      "\thello",            // leading tab: spark trim keeps it → empty first token
      "  \t mixed \n ws ",
      "one",
      "one two",            // fewer than n tokens collapses to one shingle
      "æøå unicode tøkens her går det bra",
      "a a a a a a",        // duplicate shingles → distinct collapses
      "x nbsp stays one token here",
    ), 3)
  }

  test("parity on random text corpus") {
    val rnd = new scala.util.Random(11)
    val words = Seq("alpha", "beta", "gamma", "delta", "eps", "zeta", "x", "")
    val texts = (0 until 120).map { _ =>
      (0 until rnd.nextInt(20)).map(_ => words(rnd.nextInt(words.size)))
        .mkString(Seq(" ", "  ", "\t", " \n ")(rnd.nextInt(4)))
    }.distinct
    compare(texts, 3)
    compare(texts, 2)
  }

  test("interpreted and codegen paths agree") {
    graft.GraftExtensions.ensure(spark)
    import spark.implicits._
    Seq("the quick brown fox", "  ", "\tx y z").toDF("text")
      .createOrReplaceTempView("sb_texts")
    val results = Seq("NO_CODEGEN", "CODEGEN_ONLY").map { mode =>
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      try spark.sql("SELECT shingle_bases(text, 3) FROM sb_texts")
        .collect().map(_.getSeq[Long](0)).toSeq
      finally spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
    assert(results(0) == results(1))
    spark.catalog.dropTempView("sb_texts")
  }

  test("null text → null") {
    graft.GraftExtensions.ensure(spark)
    val r = spark.sql("SELECT shingle_bases(CAST(NULL AS STRING), 3)").collect()(0)
    assert(r.isNullAt(0))
  }
}
