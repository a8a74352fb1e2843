package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Chained ON-DISK layout for the incrementally-maintained signature
  * index — the shipping shape of [[MinHashLSH.SigIndex]] once a crawl
  * maintains it at epoch cadence, and the artifact family
  * [[Artifacts.compact]] operates on (r17 verdict ask #3: the q312
  * debt policy names checkpoint/rebuild actions; this is the
  * mechanism that runs them).
  *
  * The generation / epoch / pointer machinery lives in
  * [[ChainedStore]] (r18 verdict ask #7 — the layout is now shared
  * with [[ChunkStore]] and any further fold-exact family); this
  * object owns only the signature-index ALGEBRA: what a generation
  * holds (`bands`/`counts`/`sets`[/`evicted`]), how an arrival epoch
  * folds ([[MinHashLSH.indexDeltaFromSets]] — the text was shingled
  * once, at append time; replay is integer-only), and how an erase
  * epoch folds ([[MinHashLSH.indexErase]]). The on-disk layout is
  * bit-identical to the pre-lift rounds (SigStoreSpec and the q315
  * compact card pin serve ≡ rebuild through chain AND compaction).
  *
  * Concurrency and exactly-once: [[ChainedStore]]'s per-root
  * serialization, epoch-slot allocation retry, and `(sinkId,
  * batchId)` txn markers apply — [[appendArrivals]]/[[appendErases]]
  * accept an optional txn so a replayed foreachBatch batch is a
  * no-op instead of a double-append (ADVICE r18).
  *
  * Scale shape: every frame is distributed parquet; driver-side work
  * is directory listing and two one-line pointer files (catalog-
  * scale). Appends are batch-bounded; compact's cost is one fold-
  * chain materialization — exactly the price q312 schedules it to
  * pay. */
object SigStore {

  final case class Meta(shingleN: Int, numHashes: Int, rowsPerBand: Int,
      cap: Int)

  type Pointer = ChainedStore.Pointer
  val Pointer = ChainedStore.Pointer

  /** Compaction receipt: the new generation dir, the watermark it
    * consumed through, and how many epochs it folded. */
  type CompactStats = ChainedStore.CompactStats
  val CompactStats = ChainedStore.CompactStats

  def readMeta(root: String): Meta = {
    val f = ChainedStore.readMetaLine(root).split("\\s+")
    Meta(f(0).toInt, f(1).toInt, f(2).toInt, f(3).toInt)
  }

  def readPointer(root: String): Pointer = ChainedStore.readPointer(root)

  /** Epoch numbers present under `root/epochs`, ascending. */
  def epochs(root: String): Seq[Long] = ChainedStore.epochs(root)

  /** The signature-index fold algebra over the shared chained
    * layout. `evicted` is a frame only on capped stores — the frame
    * list follows the meta, exactly as the pre-lift loader did. */
  private def familyFor(m: Meta): ChainedStore.Family =
    new ChainedStore.Family {
      val frames: Seq[String] =
        if (m.cap > 0) Seq("bands", "counts", "sets", "evicted")
        else Seq("bands", "counts", "sets")
      val arrivePayload = "arrive_sets"
      val erasePayload = "erase_ids"
      def foldArrive(gen: Map[String, DataFrame], payload: DataFrame)
          : Map[String, DataFrame] =
        toMap(MinHashLSH.indexDeltaFromSets(fromMap(gen), payload,
          m.numHashes, m.rowsPerBand, m.cap))
      def foldErase(gen: Map[String, DataFrame], payload: DataFrame)
          : Map[String, DataFrame] =
        toMap(MinHashLSH.indexErase(fromMap(gen), payload,
          m.numHashes, m.rowsPerBand, m.cap))
      def liveCount(gen: Map[String, DataFrame]): Long =
        gen("sets").select(col("doc_id")).count()
    }

  private def fromMap(g: Map[String, DataFrame]): MinHashLSH.SigIndex =
    MinHashLSH.SigIndex(g("bands"), g("counts"), g("sets"),
      g.get("evicted"))

  private def toMap(idx: MinHashLSH.SigIndex): Map[String, DataFrame] =
    Map("bands" -> idx.bands, "counts" -> idx.counts,
      "sets" -> idx.sets) ++ idx.evicted.map("evicted" -> _)

  /** Initialize a store: build [[MinHashLSH.signatureIndex]] over
    * `docs` and publish it as generation 0 with an empty chain. */
  def init(docs: DataFrame, idCol: String, textCol: String, root: String,
      shingleN: Int, numHashes: Int, rowsPerBand: Int, cap: Int): Unit = {
    val idx = MinHashLSH.signatureIndex(docs, idCol, textCol, shingleN,
      numHashes, rowsPerBand, cap)
    ChainedStore.initGeneric(root,
      s"$shingleN $numHashes $rowsPerBand $cap", toMap(idx))
  }

  /** Append an ARRIVAL epoch: the batch is shingled once, here, and
    * its `(doc_id, s)` sets land as the epoch's delta files (replay
    * never re-tokenizes). Same disjoint-id precondition as
    * [[MinHashLSH.indexDelta]] — and because the store's whole
    * fold ≡ rebuild theorem stands on it, the default ENFORCES it:
    * a batch naming an id already in the served index fails loudly
    * BEFORE the epoch publishes (re-folding a known doc would
    * permanently inflate the bucket counts — a re-crawl erases
    * first). The check is one id-keyed semi-join against the served
    * sets per append — crawl-cadence cost; a bulk loader that has
    * already proven disjointness upstream passes
    * `verifyDisjoint = false`. The epoch publishes atomically (temp
    * dir + rename) so a concurrent [[serve]] never reads a half-
    * written epoch; `txn` stamps it for foreachBatch replay
    * idempotency ([[ChainedStore.alreadyApplied]]). Returns the
    * epoch number. */
  def appendArrivals(arrivals: DataFrame, idCol: String, textCol: String,
      root: String, verifyDisjoint: Boolean = true,
      txn: Option[(String, Long)] = None): Long = {
    val m = readMeta(root)
    val spark = arrivals.sparkSession
    if (verifyDisjoint) {
      // ids render generically (ADVICE r18): a non-long id column
      // must still produce the intended loud message, never a
      // ClassCastException inside the diagnostic itself
      val dup = arrivals
        .select(col(graft.Names.quoted(idCol)).as("doc_id"))
        .join(serve(spark, root).sets.select(col("doc_id")),
          Seq("doc_id"), "left_semi")
        .limit(5).collect().map(r => String.valueOf(r.get(0)))
      require(dup.isEmpty,
        s"appendArrivals: batch re-folds ids already in the index " +
          s"(${dup.mkString(", ")}${if (dup.length == 5) ", …" else ""})" +
          " — a re-crawl of a known doc erases first (indexErase), " +
          "never bare-folds")
    }
    ChainedStore.publishEpoch(spark, root, arrive = true, txn) { tmp =>
      val sets = MinHashLSH.shingleSets(arrivals, idCol, textCol,
        m.shingleN)
      Artifacts.saveIndexFrame(tmp + "/arrive_sets", sets)
      graft.Tables.read(spark, tmp + "/arrive_sets").count()
    }
  }

  /** Append an ERASE epoch: a `(doc_id)` tombstone frame. Idempotent
    * per id at fold time ([[MinHashLSH.indexErase]]); the stat row
    * counts ids that are actually IN the served index, so the debt
    * meter prices real tombstone mass, not no-op requests. */
  def appendErases(eraseIds: DataFrame, root: String,
      txn: Option[(String, Long)] = None): Long = {
    val spark = eraseIds.sparkSession
    ChainedStore.publishEpoch(spark, root, arrive = false, txn) { tmp =>
      val ids = eraseIds.select(col("doc_id")).distinct()
      Artifacts.saveIndexFrame(tmp + "/erase_ids", ids)
      val served = serve(spark, root)
      graft.Tables.read(spark, tmp + "/erase_ids")
        .join(served.sets.select(col("doc_id")), Seq("doc_id"),
          "left_semi").count()
    }
  }

  /** The served index: the current generation with every epoch above
    * the watermark folded on in order. Lineage depth — and therefore
    * read cost — grows with the un-compacted chain length; that is
    * the debt [[debtCard]] prices and [[compact]] resets. */
  def serve(spark: SparkSession, root: String): MinHashLSH.SigIndex =
    fromMap(ChainedStore.serveGeneric(spark, root,
      familyFor(readMeta(root))))

  /** The q312 policy meter over THIS store's un-compacted chain:
    * [[FoldDebt.schedule]] over the epoch stat rows above the
    * watermark. Empty chain → empty card (debt zero by construction —
    * compaction reset the meter). */
  def debtCard(spark: SparkSession, root: String,
      depthUnitPpm: Long = FoldDebt.DefaultDepthUnitPpm,
      tombWeight: Long = FoldDebt.DefaultTombWeight,
      debtBudgetPpm: Long = FoldDebt.DefaultDebtBudgetPpm,
      tombBudgetPpm: Long = FoldDebt.DefaultTombBudgetPpm): DataFrame =
    ChainedStore.debtCardGeneric(spark, root, familyFor(readMeta(root)),
      depthUnitPpm, tombWeight, debtBudgetPpm, tombBudgetPpm)

  /** Execute the compaction ([[FoldDebt]]'s `checkpoint`/`rebuild`
    * action): materialize the served image as a fresh generation and
    * atomically advance `CURRENT` past the consumed epochs. A no-op
    * (current pointer returned, zero epochs folded) when the chain is
    * already empty — compact is idempotent. Retired generations and
    * consumed epoch dirs are LEFT IN PLACE for live readers;
    * [[vacuum]] reclaims them. */
  def compact(spark: SparkSession, root: String): CompactStats =
    ChainedStore.compactGeneric(spark, root, familyFor(readMeta(root)))

  /** Reclaim retired generations and consumed epoch dirs. UNSAFE
    * under readers still holding retired snapshots — run it the way a
    * table format runs vacuum: after a retention window, never
    * concurrently with a reader of the old generation. */
  def vacuum(root: String): Unit = ChainedStore.vacuumGeneric(root)
}
