package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** [[SigStore]] + [[Artifacts.compact]] (q315's mechanism): the
  * chained on-disk index must serve row-identically to a full
  * rebuild, compaction must preserve that image exactly (including a
  * planted cap transition), reset the debt meter, physically drop
  * tombstone mass, stay idempotent, and leave retired files for live
  * readers until vacuum. */
class SigStoreSpec extends AnyFunSuite with SparkTestSession {

  private val ShingleN = 3
  private val NumHashes = 8
  private val Cap = 3

  private def df(rows: (Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  // base: two dup families + a 4-strong boilerplate family that sits
  // OVER cap 3 (its bucket rows live in the cold tier) + a singleton
  private val base = df(
    (1L, "the quick brown fox jumps over the lazy dog tonight"),
    (2L, "the quick brown fox jumps over the lazy dog tonight"),
    (3L, "pack my box with five dozen fine liquor jugs today"),
    (5L, "standard boilerplate legal disclaimer text block here now"),
    (6L, "standard boilerplate legal disclaimer text block here now"),
    (7L, "standard boilerplate legal disclaimer text block here now"),
    (8L, "standard boilerplate legal disclaimer text block here now"),
    (9L, "completely unrelated fresh document with new words inside"))

  // arrival: a new member of family A (disjoint ids)
  private val arrivals = df(
    (4L, "pack my box with five dozen fine liquor jugs today"),
    (10L, "yet another brand new standalone document arriving late here"))

  // erasing 7 and 8 pulls the boilerplate bucket from 4 back to 2 —
  // UNDER the cap: the resurrection branch must fire through the
  // store's fold chain AND survive compaction
  private def eraseIds = {
    import spark.implicits._
    Seq(7L, 8L).toDF("doc_id")
  }

  private def finalCorpus = base.unionByName(arrivals)
    .filter(!col("doc_id").isin(7L, 8L))

  private def freshStore(): String = {
    val root = java.nio.file.Files
      .createTempDirectory("sigstore-spec-").toString + "/store"
    SigStore.init(base, "doc_id", "text", root, ShingleN, NumHashes, 1, Cap)
    SigStore.appendArrivals(arrivals, "doc_id", "text", root): Unit
    SigStore.appendErases(eraseIds, root): Unit
    root
  }

  private def image(idx: MinHashLSH.SigIndex): (Seq[(Long, Int, String)],
      Seq[(Long, Seq[Long])], Seq[(Int, String, Long)]) = (
    idx.bands.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("band_id"),
        r.getAs[String]("band_key"))).sorted.toSeq,
    idx.sets.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getSeq[Long](1).toSeq))
      .sortBy(_._1).toSeq,
    idx.counts.collect()
      .map(r => (r.getAs[Int]("band_id"), r.getAs[String]("band_key"),
        r.getAs[Long]("n"))).sorted.toSeq)

  test("the served chain equals a full rebuild over the final corpus " +
      "(arrival fold + erase fold with a cap resurrection)") {
    val root = freshStore()
    val served = image(SigStore.serve(spark, root))
    val rebuilt = image(MinHashLSH.signatureIndex(finalCorpus,
      "doc_id", "text", ShingleN, NumHashes, 1, Cap))
    assert(served === rebuilt)
    // the resurrection really fired: doc 5/6 band rows are LIVE again
    assert(served._1.exists(_._1 == 5L) && served._1.exists(_._1 == 6L))
  }

  test("compact preserves the served image exactly, advances the " +
      "pointer, resets the meter, and is idempotent") {
    val root = freshStore()
    val before = image(SigStore.serve(spark, root))
    assert(SigStore.debtCard(spark, root).count() === 2L)
    val stats = Artifacts.compact(spark, root)
    assert(stats.gen === "gen-1" && stats.epochsFolded === 2)
    assert(SigStore.readPointer(root) ===
      SigStore.Pointer("gen-1", stats.watermark))
    assert(image(SigStore.serve(spark, root)) === before)
    // meter reset: consumed epochs fall below the watermark
    assert(SigStore.debtCard(spark, root).count() === 0L)
    // idempotent: nothing left to fold
    val again = Artifacts.compact(spark, root)
    assert(again.epochsFolded === 0 && again.gen === "gen-1")
  }

  test("compaction physically drops tombstone mass and retires " +
      "nothing a live reader holds; vacuum reclaims") {
    val root = freshStore()
    // lazy chain reader taken BEFORE compact
    val lazyServed = SigStore.serve(spark, root)
    Artifacts.compact(spark, root): Unit
    // erased docs are gone from the new generation's FILES
    val genSets = spark.read.parquet(s"$root/gen-1/sets")
    assert(genSets.filter(col("doc_id").isin(7L, 8L)).count() === 0L)
    // the pre-compact reader still executes (retired files in place)
    assert(lazyServed.sets.count() === finalCorpus.count())
    assert(new java.io.File(root, "gen-0").exists())
    SigStore.vacuum(root)
    assert(!new java.io.File(root, "gen-0").exists())
    assert(SigStore.epochs(root).isEmpty)
    // the store still serves after vacuum
    assert(SigStore.serve(spark, root).sets.count() === finalCorpus.count())
  }

  test("appends continue after compaction and the meter prices only " +
      "the new chain, against the compacted base size") {
    val root = freshStore()
    Artifacts.compact(spark, root): Unit
    val e = SigStore.appendArrivals(
      df((20L, "one more very fresh arrival document after compaction")),
      "doc_id", "text", root)
    assert(e === 3L) // epoch numbering survives the compaction
    val card = SigStore.debtCard(spark, root).collect()
    assert(card.length === 1)
    assert(card.head.getAs[Long]("epoch") === 3L)
    // live base = compacted generation's 8 docs + the 1 arrival
    assert(card.head.getAs[Long]("live_rows") === 9L)
    val served = image(SigStore.serve(spark, root))
    val rebuilt = image(MinHashLSH.signatureIndex(
      finalCorpus.unionByName(df(
        (20L, "one more very fresh arrival document after compaction"))),
      "doc_id", "text", ShingleN, NumHashes, 1, Cap))
    assert(served === rebuilt)
  }

  test("appends after vacuum allocate ABOVE the watermark — never " +
      "into the void (regression: epoch numbering must survive the " +
      "epoch DIRS being reclaimed)") {
    val root = freshStore()
    Artifacts.compact(spark, root): Unit
    SigStore.vacuum(root)
    // pre-fix: the empty epochs/ listing re-issued epoch 1, BELOW the
    // compaction watermark 2 — published, then silently ignored by
    // serve() and the debt meter
    val e = SigStore.appendArrivals(
      df((21L, "a post vacuum arrival document that must stay visible")),
      "doc_id", "text", root)
    assert(e === 3L)
    assert(SigStore.debtCard(spark, root).count() === 1L)
    assert(SigStore.serve(spark, root).sets
      .filter(col("doc_id") === 21L).count() === 1L)
  }

  test("re-folding a known id fails loudly before the epoch publishes " +
      "(the exactness theorem's precondition, enforced)") {
    val root = freshStore()
    val before = SigStore.epochs(root)
    val e = intercept[IllegalArgumentException] {
      SigStore.appendArrivals(
        df((1L, "the quick brown fox jumps over the lazy dog tonight")),
        "doc_id", "text", root)
    }
    assert(e.getMessage.contains("erases first"))
    // nothing published: the store is untouched
    assert(SigStore.epochs(root) === before)
    // a bulk loader that proved disjointness upstream can opt out —
    // here with a genuinely fresh id, so the store stays exact
    SigStore.appendArrivals(
      df((50L, "a very fresh bulk loaded document indeed right here")),
      "doc_id", "text", root, verifyDisjoint = false): Unit
    assert(SigStore.epochs(root).size === before.size + 1)
  }

  test("erase stat rows count only ids actually in the index") {
    import spark.implicits._
    val root = freshStore()
    // 999 is unknown; only it → erase_rows 0 for the new epoch
    SigStore.appendErases(Seq(999L).toDF("doc_id"), root): Unit
    val card = SigStore.debtCard(spark, root)
      .orderBy(col("epoch")).collect()
    assert(card.last.getAs[Long]("erase_rows") === 0L)
    // the earlier real erase epoch priced its 2 in-index ids
    assert(card(1).getAs[Long]("erase_rows") === 2L)
  }

  test("serving a compacted generation through an erase and an arrive " +
      "epoch submits no Spark job") {
    import spark.implicits._
    val root = freshStore()
    Artifacts.compact(spark, root): Unit
    SigStore.appendErases(Seq(4L).toDF("doc_id"), root): Unit
    SigStore.appendArrivals(
      df((60L, "one more arrival after the compaction lands here")),
      "doc_id", "text", root): Unit
    var served: MinHashLSH.SigIndex = null
    // every frame the store reads is one it wrote: Tables knows each
    // schema, so building the served image runs no inference job
    assert(graft.SparkJobs.jobs(spark) {
      served = SigStore.serve(spark, root)
    } === 0)
    assert(served.sets.select(col("doc_id")).as[Long].collect().sorted
      .toSeq === Seq(1L, 2L, 3L, 5L, 6L, 9L, 10L, 60L))
  }
}
