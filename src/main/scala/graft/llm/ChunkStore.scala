package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The refcounted CDC chunk-count index `(ck, n)` as a chained
  * on-disk store — the second [[ChainedStore]] family (r18 verdict
  * ask #7): [[Fingerprint.chunkCountIndex]] is the image,
  * content-addressed refcount ADD is the arrival fold, and
  * [[Fingerprint.chunkIndexErase]]'s decrement-and-drop is the erase
  * fold — both EXACT (chunking is a pure row-local function, so a
  * batch's contribution re-derives bit-identically; pinned on-corpus
  * by q295 and by the q319 compact≡chain card).
  *
  * Shingle-once discipline carried over from [[SigStore]]: a batch
  * (arrival OR erase) is CDC-chunked exactly once, at append time;
  * the epoch payload is its per-key multiset `(ck, n)`, so replaying
  * the chain is pure integer frame arithmetic — no re-tokenization,
  * ever. Erase batches must be prior contributors (the
  * [[Fingerprint.chunkIndexErase]] / [[NbClassifier.eraseCounts]]
  * precondition): erasing a never-added doc would silently deflate
  * refcounts shared with live docs.
  *
  * Scale shape: the index is `(ck, n)` distributed parquet — key-
  * partitioned, never driver-resident; folds are one sum-merge or
  * one decrement join per epoch; compaction is one fold-chain
  * materialization, priced by the same q312 meter as every family. */
object ChunkStore {

  object Family extends ChainedStore.Family {
    val frames = Seq("counts")
    val arrivePayload = "arrive_counts"
    val erasePayload = "erase_counts"
    /** Refcount ADD: counts are additive under disjoint-doc unions,
      * so `rebuild(base ∪ batch) = fold(rebuild(base), counts(batch))`
      * exactly. */
    def foldArrive(gen: Map[String, DataFrame], payload: DataFrame)
        : Map[String, DataFrame] =
      Map("counts" -> gen("counts").unionByName(payload)
        .groupBy(col("ck")).agg(sum(col("n")).as("n")))
    /** Refcount SUBTRACT, keys at zero dropped — the
      * [[Fingerprint.foldEraseCounts]] spelling (one implementation;
      * the batch erase card and this store cannot disagree). */
    def foldErase(gen: Map[String, DataFrame], payload: DataFrame)
        : Map[String, DataFrame] =
      Map("counts" -> Fingerprint.foldEraseCounts(gen("counts"), payload))
    def liveCount(gen: Map[String, DataFrame]): Long =
      gen("counts").count()
  }

  /** Initialize: [[Fingerprint.chunkCountIndex]] over `docs` as
    * generation 0 with an empty chain. */
  def init(docs: DataFrame, idCol: String, textCol: String,
      root: String, divisor: Long = Fingerprint.CdcDivisor): Unit =
    ChainedStore.initGeneric(root, s"$divisor",
      Map("counts" -> countsOf(docs, idCol, textCol, divisor)))

  private def countsOf(docs: DataFrame, idCol: String, textCol: String,
      divisor: Long): DataFrame =
    Fingerprint.cdcChunkFrame(docs, idCol, textCol, divisor)
      .groupBy(col("ck")).agg(count(lit(1)).as("n"))

  /** Append an ARRIVAL epoch: the batch chunks ONCE, here; its
    * `(ck, n)` multiset lands as the epoch payload. The stat row
    * prices distinct chunk keys arriving — the unit the debt meter's
    * relative-mass arithmetic runs in. Returns the epoch number. */
  def appendArrivals(batch: DataFrame, idCol: String, textCol: String,
      root: String, txn: Option[(String, Long)] = None): Long = {
    val divisor = ChainedStore.readMetaLine(root).toLong
    val spark = batch.sparkSession
    ChainedStore.publishEpoch(spark, root, arrive = true, txn) { tmp =>
      Artifacts.saveIndexFrame(tmp + "/" + Family.arrivePayload,
        countsOf(batch, idCol, textCol, divisor))
      graft.Tables.read(spark, tmp + "/" + Family.arrivePayload).count()
    }
  }

  /** Append an ERASE epoch: the erased docs (WITH their text — the
    * store is never re-chunked, so the eraser re-derives the
    * contribution row-locally) chunk once into a `(ck, n)` decrement
    * payload. The stat row prices keys actually IN the served index,
    * so the meter sees real tombstone mass, not no-op requests. */
  def appendErases(erasedDocs: DataFrame, idCol: String, textCol: String,
      root: String, txn: Option[(String, Long)] = None): Long = {
    val divisor = ChainedStore.readMetaLine(root).toLong
    val spark = erasedDocs.sparkSession
    ChainedStore.publishEpoch(spark, root, arrive = false, txn) { tmp =>
      Artifacts.saveIndexFrame(tmp + "/" + Family.erasePayload,
        countsOf(erasedDocs, idCol, textCol, divisor))
      graft.Tables.read(spark, tmp + "/" + Family.erasePayload)
        .join(serve(spark, root).select(col("ck")), Seq("ck"),
          "left_semi").count()
    }
  }

  /** The served refcount index `(ck, n)`: current generation plus
    * the un-compacted chain folded in order. */
  def serve(spark: SparkSession, root: String): DataFrame =
    ChainedStore.serveGeneric(spark, root, Family)("counts")

  /** The q312 policy meter over this store's chain. */
  def debtCard(spark: SparkSession, root: String,
      depthUnitPpm: Long = FoldDebt.DefaultDepthUnitPpm,
      tombWeight: Long = FoldDebt.DefaultTombWeight,
      debtBudgetPpm: Long = FoldDebt.DefaultDebtBudgetPpm,
      tombBudgetPpm: Long = FoldDebt.DefaultTombBudgetPpm): DataFrame =
    ChainedStore.debtCardGeneric(spark, root, Family, depthUnitPpm,
      tombWeight, debtBudgetPpm, tombBudgetPpm)

  /** Materialize the served image as a fresh generation and advance
    * the pointer (tombstoned keys drop physically — the erase fold
    * already removed them from the served frame, so the rewrite
    * simply doesn't copy them). */
  def compact(spark: SparkSession, root: String)
      : ChainedStore.CompactStats =
    ChainedStore.compactGeneric(spark, root, Family)

  /** Reclaim retired generations and consumed epochs — the
    * [[ChainedStore.vacuumGeneric]] retention caveat applies. */
  def vacuum(root: String): Unit = ChainedStore.vacuumGeneric(root)
}
