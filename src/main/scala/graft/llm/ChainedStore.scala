package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The chained on-disk artifact layout, lifted out of [[SigStore]]
  * (r18 verdict ask #7) so every artifact family with exact
  * delta/erase folds — the signature index, the refcounted chunk
  * store, the IVF lists, the NB counts — can share ONE generation /
  * epoch / pointer discipline instead of re-growing it per family.
  *
  * Layout under `root` (identical to the r18 SigStore layout, which
  * delegates here unchanged):
  * {{{
  *   meta                   one line of family-owned config
  *   CURRENT                one line: <genDir> <epochWatermark>
  *   gen-0/<frame>/...      the base generation image (parquet per frame)
  *   gen-0/txns             carried foreachBatch txn watermarks (optional)
  *   epochs/e<13-digit>/stat/      (epoch, batch_rows, erase_rows)
  *   epochs/e<13-digit>/<payload>/ the family's delta frame
  *   epochs/e<13-digit>/txn        "<sinkId> <batchId>" (optional)
  *   gen-<k>/...            written by [[compactGeneric]]
  * }}}
  *
  * Concurrency contract (ADVICE r18): epoch publication retries its
  * slot allocation on a lost rename race, and every mutation of one
  * store root serializes on a per-root JVM monitor — the natural
  * deployment (an arrival stream and an erase stream feeding the same
  * root from one Spark driver) is safe without external locking.
  * ACROSS driver JVMs the store remains single-writer per root (the
  * table-format discipline: one committer; readers are always safe) —
  * the allocation retry turns a cross-JVM race into one winner and
  * one loud failure instead of a silent double-publish.
  *
  * Exactly-once sinks: [[publishEpoch]] can stamp the epoch with a
  * `(sinkId, batchId)` transaction marker that lands ATOMICALLY with
  * the payload (same directory rename). [[lastTxn]] reads the high
  * batchId per sink; a replayed foreachBatch batch (crash after
  * publish, before the streaming checkpoint commit) is then a no-op
  * instead of a double-append — the Delta-style `txn` idempotency
  * pattern. [[compactGeneric]] carries the markers of consumed epochs
  * into the new generation's `txns` file, so [[vacuumGeneric]] never
  * erases the idempotency watermark.
  *
  * Scale shape: every frame is distributed parquet; driver-side work
  * is directory listing and one-line pointer files — catalog-scale,
  * never corpus-scale. */
object ChainedStore {

  final case class Pointer(gen: String, watermark: Long)

  /** Compaction receipt: the new generation dir, the watermark it
    * consumed through, and how many epochs it folded. */
  final case class CompactStats(gen: String, watermark: Long,
      epochsFolded: Int)

  /** One artifact family's fold algebra over a generation image of
    * named frames. Folds must be EXACT (fold ≡ rebuild) — that is the
    * theorem the whole chain stands on. */
  trait Family {
    /** Frame names inside a generation directory. */
    def frames: Seq[String]
    /** Payload frame name of an arrival epoch. */
    def arrivePayload: String
    /** Payload frame name of an erase epoch. */
    def erasePayload: String
    def foldArrive(gen: Map[String, DataFrame], payload: DataFrame)
        : Map[String, DataFrame]
    def foldErase(gen: Map[String, DataFrame], payload: DataFrame)
        : Map[String, DataFrame]
    /** Live-row count of a generation image — the debt meter's
      * relative-mass denominator. */
    def liveCount(gen: Map[String, DataFrame]): Long
  }

  // ---------- pointer / layout primitives ----------

  def writeAtomic(path: java.nio.file.Path, text: String): Unit = {
    val tmp = java.nio.file.Files.createTempFile(
      path.getParent, "." + path.getFileName.toString, ".tmp")
    java.nio.file.Files.write(tmp, text.getBytes("UTF-8"))
    java.nio.file.Files.move(tmp, path,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  def readLine(path: java.nio.file.Path): String =
    new String(java.nio.file.Files.readAllBytes(path), "UTF-8").trim

  def readPointer(root: String): Pointer = {
    val f = readLine(java.nio.file.Paths.get(root, "CURRENT")).split("\\s+")
    Pointer(f(0), f(1).toLong)
  }

  def writePointer(root: String, gen: String, watermark: Long): Unit =
    writeAtomic(java.nio.file.Paths.get(root, "CURRENT"),
      s"$gen $watermark\n")

  /** Epoch numbers present under `root/epochs`, ascending. */
  def epochs(root: String): Seq[Long] = {
    val d = new java.io.File(root, "epochs")
    Option(d.listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(f => f.isDirectory && f.getName.startsWith("e"))
      .map(_.getName.drop(1).toLong).sorted.toSeq
  }

  def epochDir(root: String, e: Long): java.io.File =
    new java.io.File(new java.io.File(root, "epochs"), f"e$e%013d")

  // ---------- per-root serialization (ADVICE r18) ----------

  private val monitors =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** The monitor every mutation of `root` synchronizes on — appends
    * and compactions of one store cannot interleave within a JVM
    * (reentrant, so a fold that serves mid-append never deadlocks). */
  def lockFor(root: String): Object = {
    val key = new java.io.File(root).getAbsolutePath
    monitors.computeIfAbsent(key, _ => new Object)
  }

  // ---------- epoch publication ----------

  /** Publish one epoch atomically: `body` writes the payload into a
    * temp sibling, the stat row and optional txn marker land next to
    * it, and ONE directory rename makes all of it visible. The epoch
    * number is allocated by read-last-then-move WITH RETRY: a lost
    * rename race (another JVM published the same slot first) retries
    * the next slot instead of crashing with a half-published temp dir
    * (ADVICE r18). Returns the epoch number. */
  def publishEpoch(spark: SparkSession, root: String,
      arrive: Boolean = true, txn: Option[(String, Long)] = None)
      (body: String => Long): Long = lockFor(root).synchronized {
    txn.foreach { case (sink, _) =>
      require(!sink.contains('\n') && !sink.exists(_.isWhitespace),
        s"sink id must be whitespace-free: '$sink'")
    }
    val parent = new java.io.File(root, "epochs")
    parent.mkdirs()
    val tmp = java.nio.file.Files.createTempDirectory(parent.toPath,
      ".epoch-")
    // the slot is claimed BEFORE the (slow, Spark-job-running) body —
    // the realistic race window is body execution, and the move loop
    // below re-allocates if another writer landed the slot meanwhile.
    // Allocation floors at the pointer watermark, not just the
    // directory listing: after vacuum reclaims consumed epoch dirs
    // the listing is empty, and a bare lastEpoch+1 would re-issue a
    // BELOW-watermark number that serve() and the debt meter silently
    // ignore — an append that publishes into the void
    def nextSlot(): Long = math.max(
      epochs(root).lastOption.getOrElse(0L),
      readPointer(root).watermark) + 1L
    var epoch = nextSlot()
    val n = body(tmp.toString)
    import spark.implicits._
    txn.foreach { case (sink, batchId) =>
      java.nio.file.Files.write(
        tmp.resolve("txn"), s"$sink $batchId\n".getBytes("UTF-8")): Unit
    }
    var published = false
    var attempts = 0
    while (!published) {
      // the stat row carries the epoch number, so it is (re)written
      // inside the allocation loop — a lost race re-stamps it
      // one row in one local partition: coalesce keeps it one file
      // without the shuffle job a repartition would add
      graft.Tables.write(
        Seq((epoch, if (arrive) n else 0L, if (arrive) 0L else n))
          .toDF("epoch", "batch_rows", "erase_rows").coalesce(1),
        tmp.resolve("stat").toString)
      try {
        java.nio.file.Files.move(tmp, epochDir(root, epoch).toPath,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        published = true
      } catch {
        case e: java.nio.file.FileSystemException
            if epochDir(root, epoch).exists() && attempts < 50 =>
          // another writer took this slot between the listing and the
          // move — take the next one (the loser's payload is intact
          // in tmp; only the slot number moves)
          attempts += 1
          epoch = math.max(epoch + 1L, nextSlot())
      }
    }
    epoch
  }

  // ---------- exactly-once txn markers ----------

  private def parseTxnLine(line: String): Option[(String, Long)] = {
    val f = line.trim.split("\\s+")
    if (f.length == 2) f(1).toLongOption.map(f(0) -> _) else None
  }

  /** All txn watermarks visible at `root`: the current generation's
    * carried `txns` file merged with every live epoch's marker,
    * max per sink. */
  def txns(root: String): Map[String, Long] = {
    val ptr = readPointer(root)
    val genFile =
      new java.io.File(new java.io.File(root, ptr.gen), "txns").toPath
    val carried =
      if (java.nio.file.Files.exists(genFile)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.readAllLines(genFile).asScala.toSeq
          .flatMap(parseTxnLine)
      } else Seq.empty
    val live = epochs(root).flatMap { e =>
      val f = epochDir(root, e).toPath.resolve("txn")
      if (java.nio.file.Files.exists(f)) parseTxnLine(readLine(f))
      else None
    }
    (carried ++ live).groupBy(_._1).map { case (s, vs) =>
      s -> vs.map(_._2).max
    }
  }

  /** Highest batchId `sinkId` has durably applied to `root`, if any. */
  def lastTxn(root: String, sinkId: String): Option[Long] =
    txns(root).get(sinkId)

  /** True iff `batchId` (or a later batch) from `sinkId` already
    * landed — the foreachBatch replay guard. */
  def alreadyApplied(root: String, sinkId: String, batchId: Long): Boolean =
    lastTxn(root, sinkId).exists(_ >= batchId)

  // ---------- generic store operations ----------

  /** Initialize a store: publish `image` as generation 0 with an
    * empty chain. `metaLine` is family-owned config, one line. */
  def initGeneric(root: String, metaLine: String,
      image: Map[String, DataFrame]): Unit = {
    new java.io.File(root).mkdirs()
    writeGen(new java.io.File(root, "gen-0").toString, image)
    writeAtomic(java.nio.file.Paths.get(root, "meta"), metaLine + "\n")
    writePointer(root, "gen-0", 0L)
  }

  def readMetaLine(root: String): String =
    readLine(java.nio.file.Paths.get(root, "meta"))

  private def writeGen(genPath: String,
      image: Map[String, DataFrame]): Unit =
    image.foreach { case (name, df) =>
      Artifacts.saveIndexFrame(genPath + "/" + name, df)
    }

  private def loadGen(spark: SparkSession, root: String, gen: String,
      frames: Seq[String]): Map[String, DataFrame] = {
    val p = new java.io.File(root, gen).toString
    frames.map(f => f -> Artifacts.loadIndexFrame(spark, p + "/" + f))
      .toMap
  }

  /** The served image: the current generation with every epoch above
    * the watermark folded on in order through the family's algebra.
    * Lineage depth — and therefore read cost — grows with the
    * un-compacted chain length; that is the debt [[debtCardGeneric]]
    * prices and [[compactGeneric]] resets. */
  def serveGeneric(spark: SparkSession, root: String, family: Family)
      : Map[String, DataFrame] = {
    val ptr = readPointer(root)
    val base = loadGen(spark, root, ptr.gen, family.frames)
    epochs(root).filter(_ > ptr.watermark).foldLeft(base) { (img, e) =>
      val d = epochDir(root, e)
      val arriveDir = new java.io.File(d, family.arrivePayload)
      if (arriveDir.exists())
        family.foldArrive(img, graft.Tables.read(spark, arriveDir.toString))
      else
        family.foldErase(img, graft.Tables.read(spark,
          new java.io.File(d, family.erasePayload).toString))
    }
  }

  /** The q312 policy meter over this store's un-compacted chain:
    * [[FoldDebt.schedule]] over the epoch stat rows above the
    * watermark, denominated against the compacted generation's live
    * mass. Empty chain → empty card (debt zero by construction). */
  def debtCardGeneric(spark: SparkSession, root: String, family: Family,
      depthUnitPpm: Long = FoldDebt.DefaultDepthUnitPpm,
      tombWeight: Long = FoldDebt.DefaultTombWeight,
      debtBudgetPpm: Long = FoldDebt.DefaultDebtBudgetPpm,
      tombBudgetPpm: Long = FoldDebt.DefaultTombBudgetPpm): DataFrame = {
    val ptr = readPointer(root)
    val live = epochs(root).filter(_ > ptr.watermark)
    val stats =
      if (live.isEmpty)
        spark.range(0).select(col("id").as("epoch"),
          col("id").as("batch_rows"), col("id").as("erase_rows"))
      else live.map(e => graft.Tables.read(spark,
        new java.io.File(epochDir(root, e), "stat").toString))
        .reduce(_ unionByName _)
    // the relative-mass denominators start from the compacted
    // generation's corpus size, not zero — a 100-row delta on a
    // million-row base must price as 0.01%, not as 100% of a chain
    // that "began" empty
    val baseLive =
      family.liveCount(loadGen(spark, root, ptr.gen, family.frames))
    FoldDebt.schedule(stats, "epoch", "batch_rows", "erase_rows",
      depthUnitPpm, tombWeight, debtBudgetPpm, tombBudgetPpm, baseLive)
  }

  /** Execute the compaction: materialize the served image as a fresh
    * generation, carry the consumed epochs' txn markers forward, and
    * atomically advance `CURRENT`. A no-op on an empty chain.
    * Retired generations and consumed epoch dirs are LEFT IN PLACE
    * for live readers; [[vacuumGeneric]] reclaims them. */
  def compactGeneric(spark: SparkSession, root: String, family: Family)
      : CompactStats = lockFor(root).synchronized {
    val ptr = readPointer(root)
    val chain = epochs(root).filter(_ > ptr.watermark)
    if (chain.isEmpty) return CompactStats(ptr.gen, ptr.watermark, 0)
    val served = serveGeneric(spark, root, family)
    val k = ptr.gen.stripPrefix("gen-").toInt + 1
    val gen = s"gen-$k"
    writeGen(new java.io.File(root, gen).toString, served)
    // txn carry BEFORE the pointer advance: once CURRENT names the
    // new generation, lastTxn must already see the consumed markers
    val carried = txns(root)
    if (carried.nonEmpty)
      writeAtomic(
        new java.io.File(new java.io.File(root, gen), "txns").toPath,
        carried.toSeq.sortBy(_._1)
          .map { case (s, b) => s"$s $b" }.mkString("", "\n", "\n"))
    writePointer(root, gen, chain.max)
    CompactStats(gen, chain.max, chain.size)
  }

  /** Reclaim retired generations and consumed epoch dirs. UNSAFE
    * under readers still holding retired snapshots — run it the way a
    * table format runs vacuum: after a retention window, never
    * concurrently with a reader of the old generation. Txn markers
    * survive (carried into the live generation by compact). */
  def vacuumGeneric(root: String): Unit = {
    val ptr = readPointer(root)
    val rootF = new java.io.File(root)
    Option(rootF.listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(f => f.isDirectory && f.getName.startsWith("gen-") &&
        f.getName != ptr.gen)
      .foreach(deleteRecursively)
    epochs(root).filter(_ <= ptr.watermark)
      .foreach(e => deleteRecursively(epochDir(root, e)))
  }

  private[llm] def deleteRecursively(f: java.io.File): Unit =
    if (f.exists()) {
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty)
          .foreach(deleteRecursively)
      f.delete(): Unit
    }
}
