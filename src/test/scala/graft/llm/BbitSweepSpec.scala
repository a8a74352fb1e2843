package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** [[MinHashLSH.bbitScreenSweep]] (q311's tuning card): the grid rows
  * must be internally consistent (candidate/truth columns constant,
  * screen monotone in the threshold), the degenerate thresholds must
  * read their closed forms (0 screens everything, >10^6 screens
  * nothing), and the truth column must agree with the exact-verify
  * admission gate's near-dup verdicts on the same corpus. */
class BbitSweepSpec extends AnyFunSuite with SparkTestSession {

  private val ShingleN = 3
  private val NumHashes = 8

  private def df(rows: (Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  // corpus with two templated families so band collisions exist, plus
  // arrivals that are exact re-uploads, near-dups, and clean docs
  private val corpus = df(
    (1L, "the quick brown fox jumps over the lazy dog tonight"),
    (2L, "pack my box with five dozen fine liquor jugs today"),
    (3L, "sphinx of black quartz judge my silly vow right now"),
    (4L, "the quick brown fox jumps over the lazy cat tonight"))

  private val arrivals = df(
    (10L, "the quick brown fox jumps over the lazy dog tonight"), // exact
    (11L, "pack my box with five dozen fine liquor jugs tomorrow"), // near
    (12L, "completely unrelated fresh arrival text with new words here"))

  private def index = {
    val sets = MinHashLSH.shingleSets(corpus, "doc_id", "text", ShingleN)
    (MinHashLSH.capBuckets(
      MinHashLSH.bandIndexFromSets(sets, NumHashes, 1),
      Seq("band_id", "band_key"), 32),
      MinHashLSH.packedWords(sets), sets)
  }

  private def sweep(thresholds: Seq[Long]) = {
    val (bands, words, sets) = index
    MinHashLSH.bbitScreenSweep(arrivals, "doc_id", "text", bands, words,
        sets, ShingleN, NumHashes, 1, thresholds, 500000L)
      .orderBy("screen_min_ppm").collect()
  }

  test("grid rows are consistent and the screen is monotone") {
    val rows = sweep(Seq(0L, 250000L, 500000L, 750000L, 1000001L))
    assert(rows.length === 5)
    val cands = rows.map(_.getAs[Long]("n_candidates")).distinct
    val truth = rows.map(_.getAs[Long]("n_true_dups")).distinct
    assert(cands.length === 1 && truth.length === 1,
      "candidate and truth columns must not depend on the threshold")
    assert(cands.head > 0L, "the fixture must produce band candidates")
    assert(truth.head > 0L, "the fixture must contain true near-dups")
    val screened = rows.map(_.getAs[Long]("n_screened")).toSeq
    val caught = rows.map(_.getAs[Long]("n_caught")).toSeq
    assert(screened === screened.sorted.reverse,
      "n_screened must be non-increasing in the threshold")
    assert(caught === caught.sorted.reverse,
      "n_caught must be non-increasing in the threshold")
    rows.foreach { r =>
      assert(r.getAs[Long]("n_caught") <= r.getAs[Long]("n_screened"))
      assert(r.getAs[Long]("n_caught") <= r.getAs[Long]("n_true_dups"))
      assert(r.getAs[Long]("recall_ppm") ===
        r.getAs[Long]("n_caught") * 1000000L /
          math.max(r.getAs[Long]("n_true_dups"), 1L))
      assert(r.getAs[Long]("verify_saved_ppm") ===
        (r.getAs[Long]("n_candidates") - r.getAs[Long]("n_screened")) *
          1000000L / math.max(r.getAs[Long]("n_candidates"), 1L))
    }
  }

  test("threshold 0 screens every candidate at full recall; a threshold " +
      "past 10^6 screens none") {
    val rows = sweep(Seq(0L, 1000001L))
    val zero = rows.head
    assert(zero.getAs[Long]("n_screened") === zero.getAs[Long]("n_candidates"))
    assert(zero.getAs[Long]("n_caught") === zero.getAs[Long]("n_true_dups"))
    assert(zero.getAs[Long]("recall_ppm") === 1000000L)
    assert(zero.getAs[Long]("verify_saved_ppm") === 0L)
    val top = rows.last
    assert(top.getAs[Long]("n_screened") === 0L)
    assert(top.getAs[Long]("n_caught") === 0L)
    assert(top.getAs[Long]("verify_saved_ppm") === 1000000L)
  }

  test("the truth column agrees with the exact-verify admission gate") {
    val (bands, words, sets) = index
    // arrivals the gate flags near_dup are exactly the arrivals owning
    // at least one true-dup candidate pair in the sweep's truth pass
    val gate = MinHashLSH.fuzzyAdmission(arrivals, "doc_id", "text",
        bands, sets, ShingleN, NumHashes, 1, 500000L)
      .filter(col("status") === "near_dup")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val truthDocs = {
      val aSets = MinHashLSH.shingleSets(arrivals, "doc_id", "text",
        ShingleN)
      val aBands = MinHashLSH.bandIndexFromSets(aSets, NumHashes, 1)
      graft.GraftExtensions.ensure(spark)
      aBands.join(bands.select(col("doc_id").as("corpus_doc"),
          col("band_id"), col("band_key")), Seq("band_id", "band_key"))
        .select(col("doc_id"), col("corpus_doc")).distinct()
        .join(aSets.select(col("doc_id"), col("s").as("__sa")), Seq("doc_id"))
        .join(sets.select(col("doc_id").as("corpus_doc"),
          col("s").as("__sb")), Seq("corpus_doc"))
        .filter(expr("cast(floor(1000000.0 * cast(inter_count(__sa, __sb) as double) / cast(size(__sa) + size(__sb) - inter_count(__sa, __sb) as double)) as bigint)") >= 500000L)
        .select(col("doc_id")).distinct().collect().map(_.getLong(0)).toSet
    }
    assert(truthDocs === gate,
      "sweep truth and the admission gate must agree on who is a near-dup")
  }
}
