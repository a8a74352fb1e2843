package graft.llm

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** [[LabelQa.alphaCard]] edge semantics: the pinned-raters guard
  * fails loudly, a MISSING rating is not an abstain LABEL, and
  * unpairable items count without contributing. */
class AlphaSpec extends AnyFunSuite with SparkTestSession {

  private def df(rows: (Long, String, String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("item", "rater", "lab")
  }

  // note: an item with ZERO ratings has no row in long format — it
  // does not exist to the card; AlphaProps generates k >= 1
  test("an item with more ratings than the pinned maxRaters kills " +
      "the card loudly") {
    val e = intercept[Exception] {
      LabelQa.alphaCard(df(
        (1L, "a", "en"), (1L, "b", "en"), (1L, "c", "en")),
        "item", "rater", "lab", maxRaters = 2).collect()
    }
    assert(e.getMessage != null)
  }

  test("a missing rating changes alpha differently than an abstain " +
      "label — the distinction the estimator exists for") {
    // two raters agree on two items; the third rater...
    val base = Seq((1L, "a", "en"), (1L, "b", "en"),
      (2L, "a", "no"), (2L, "b", "no"))
    // ...is MISSING entirely
    val missing = LabelQa.alphaCard(df(base: _*),
      "item", "rater", "lab", 3).collect().head
    // ...or ABSTAINS with a committed null-like label
    val abstain = LabelQa.alphaCard(
      df(base ++ Seq((1L, "c", "(abstain)"), (2L, "c", "(abstain)")): _*),
      "item", "rater", "lab", 3).collect().head
    assert(missing.getAs[Long]("alpha_ppm") === 1000000L,
      "perfect agreement among the ratings that exist")
    assert(abstain.getAs[Long]("alpha_ppm") < 1000000L,
      "an abstain LABEL disagrees with committed votes")
    assert(abstain.getAs[Long]("n_classes") === 3L)
  }

  private def pivotOf(items: Seq[Seq[String]], classes: Seq[String],
      maxRaters: Int) = {
    import spark.implicits._
    LabelQa.alphaPivot(items.toDF("labs"), "labs", classes, maxRaters)
      .collect().head
  }

  private def cardOf(items: Seq[Seq[String]], maxRaters: Int) = {
    import spark.implicits._
    val rows = items.zipWithIndex.flatMap { case (ls, i) =>
      ls.zipWithIndex.map { case (l, r) => (i.toLong, s"r$r", l) }
    }
    LabelQa.alphaCard(rows.toDF("item", "rater", "lab"),
      "item", "rater", "lab", maxRaters).collect().head
  }

  private val Cols = Seq("n_items", "n_pairable", "n_classes",
    "do_ppm", "de_ppm", "alpha_ppm")

  test("alphaPivot == alphaCard on a covering class list, including " +
      "missing ratings and unpairable items") {
    val items = Seq(
      Seq("en", "en", "no"), Seq("no", "no"), Seq("en"),
      Seq("de", "en", "de"), Seq("no", "en"))
    val p = pivotOf(items, Seq("en", "no", "de"), 3)
    val c = cardOf(items, 3)
    for (f <- Cols) assert(p.getAs[Long](f) === c.getAs[Long](f), f)
  }

  test("alphaPivot under lumping == alphaCard over pre-lumped labels") {
    val items = Seq(
      Seq("en", "fr", "no"), Seq("fr", "fr"), Seq("en", "xx", "en"))
    val lumped = items.map(_.map(l =>
      if (Seq("en", "no").contains(l)) l else LabelQa.OtherLabel))
    val p = pivotOf(items, Seq("en", "no"), 3)
    val c = cardOf(lumped, 3)
    for (f <- Cols) assert(p.getAs[Long](f) === c.getAs[Long](f), f)
  }

  test("alphaIngest over a MemoryStream equals the batch pivot") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val items = Seq(
      Seq("en", "en", "no"), Seq("no", "no"), Seq("en"),
      Seq("de", "en"), Seq("no", "en", "no"))
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[Seq[String]]
    val q = LabelQa.alphaPivot(
        input.toDF().withColumnRenamed("value", "labs"),
        "labs", Seq("en", "no"), 3)
      .writeStream.outputMode("complete")
      .format("memory").queryName("alpha_live").start()
    try {
      input.addData(items.take(2): _*)
      q.processAllAvailable()
      input.addData(items.drop(2): _*)
      q.processAllAvailable()
    } finally q.stop()
    val live = spark.table("alpha_live").collect().head
    val batch = pivotOf(items, Seq("en", "no"), 3)
    for (f <- Cols)
      assert(live.getAs[Long](f) === batch.getAs[Long](f), f)
  }

  test("unpairable items are counted but contribute nothing") {
    val withSingleton = LabelQa.alphaCard(df(
      (1L, "a", "en"), (1L, "b", "en"),
      (2L, "a", "no"), (2L, "b", "no"),
      (3L, "a", "de")), // k=1: unpairable
      "item", "rater", "lab", 3).collect().head
    assert(withSingleton.getAs[Long]("n_items") === 3L)
    assert(withSingleton.getAs[Long]("n_pairable") === 2L)
    // 'de' appears only on the unpairable item — not a class in the
    // coincidence universe
    assert(withSingleton.getAs[Long]("n_classes") === 2L)
    assert(withSingleton.getAs[Long]("alpha_ppm") === 1000000L)
  }
}
