package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Bounded tracker for the skinny projections the LLM operators
  * persist (shingle sets, gram streams): multiple plan branches
  * consume them, so caching halves the expensive tokenize/hash
  * traversal — but an operator cannot unpersist what a lazy caller
  * has not yet consumed, so caches are tracked here and released
  * either explicitly ([[unpersistAll]], between corpora) or by
  * oldest-first eviction past [[MaxTracked]] (unpersist mid-query is
  * safe — Spark recomputes).
  */
object Caches {

  val MaxTracked = 16
  private val tracked = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()

  private[graft] def persistTracked(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    // Spark's CacheManager keeps ONE entry per canonical plan — e.g.
    // crossCorpusPairs(docs, docs) persists two plan-identical frames
    // that share a cache. Tracking both would over-count releases and,
    // worse, let oldest-first eviction unpersist data a newer tracked
    // entry still represents — so dedupe by canonicalized plan. The
    // dedup-check + add + evict must be one atomic section: two
    // concurrent queries persisting plan-identical frames could both
    // miss the dup and track twice (the queue alone is thread-safe,
    // check-then-add over it is not). Canonicalization runs OUTSIDE
    // the lock — it walks the analyzed plan and can be slow.
    val canonical = p.queryExecution.analyzed.canonicalized
    tracked.synchronized {
      val dup = {
        val it = tracked.iterator()
        var found = false
        while (it.hasNext && !found)
          found = it.next().queryExecution.analyzed.canonicalized == canonical
        found
      }
      if (!dup) {
        tracked.add(p)
        while (tracked.size > MaxTracked) {
          val old = tracked.poll()
          if (old != null) old.unpersist(false)
        }
      }
    }
    p
  }

  private val trackedBc = new java.util.concurrent.ConcurrentLinkedQueue[
    org.apache.spark.broadcast.Broadcast[_]]()

  /** Track a driver-built broadcast variable so [[unpersistAll]]
    * releases its executor copies along with the caches — operators
    * that broadcast constructed artifacts (the decontamination Bloom
    * filter) would otherwise accumulate broadcast memory across
    * repeated calls until session end. Release is `unpersist`, not
    * `destroy`, so it stays recompute-safe: a still-referenced plan
    * re-ships the value on next use. */
  private[graft] def broadcastTracked[T](bc: org.apache.spark.broadcast.Broadcast[T])
      : org.apache.spark.broadcast.Broadcast[T] = {
    trackedBc.add(bc)
    bc
  }

  /** Driver-held trained-artifact memo (e.g. the IVF codebook): a
    * deterministic pure function of (owning session, canonical input
    * plan, params) that several operators recompute identically —
    * q66/q67/q92/q117/q125 all train the SAME codebook on the same
    * corpus, and a real deployment trains an index once and serves
    * many consumers. The session UUID is part of the key because a
    * memoized value can be session-bound (the BPE memo holds a
    * DataFrame): after a session restart in the same JVM an identical
    * call must retrain, not resurrect a frame tied to a stopped
    * session. Entries are LRU-bounded so distinct corpora across a
    * long-lived JVM cannot grow the memo without bound, and
    * [[unpersistAll]] still clears it outright, so
    * min-over-iterations benches (which unpersist before every timed
    * run) price the full training compute. */
  private val MemoMaxEntries = 64
  private val artifactMemo =
    new java.util.LinkedHashMap[AnyRef, AnyRef](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[AnyRef, AnyRef]): Boolean =
        size() > MemoMaxEntries
    }

  /** Stable per-session discriminator (Spark's own sessionUUID is
    * private[sql]): a UUID assigned per session OBJECT, held weakly so
    * a stopped session's id — and with it every memo entry keyed on
    * it — becomes unreachable rather than pinned. SparkSession does
    * not override equals, so WeakHashMap keys on identity: a
    * restarted session in the same JVM gets a fresh id and can never
    * resurrect a frame bound to the stopped one. */
  private val sessionIds = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[org.apache.spark.sql.SparkSession, String]())
  private[graft] def sessionId(spark: org.apache.spark.sql.SparkSession): String =
    sessionIds.computeIfAbsent(spark,
      _ => java.util.UUID.randomUUID().toString)

  private[graft] def memoized[V <: AnyRef](
      spark: org.apache.spark.sql.SparkSession, key: AnyRef)(
      compute: => V): V = {
    val full = (sessionId(spark), key)
    val hit = artifactMemo.synchronized(artifactMemo.get(full))
    if (hit != null) hit.asInstanceOf[V]
    else {
      // compute OUTSIDE the lock: training runs Spark jobs
      val v = compute
      artifactMemo.synchronized {
        val raced = artifactMemo.get(full)
        if (raced != null) raced.asInstanceOf[V]
        else { artifactMemo.put(full, v); v }
      }
    }
  }

  /** Release every cache, tracked broadcast, AND memoized trained
    * artifact the graft operators created in this JVM, returning how
    * many resources were released. Scoped to graft's own tracking —
    * unlike `spark.catalog.clearCache()` it cannot evict unrelated
    * user data. */
  def unpersistAll(blocking: Boolean = false): Int = {
    var n = 0
    var df = tracked.poll()
    while (df != null) {
      df.unpersist(blocking)
      n += 1
      df = tracked.poll()
    }
    var bc = trackedBc.poll()
    while (bc != null) {
      bc.unpersist(blocking)
      n += 1
      bc = trackedBc.poll()
    }
    artifactMemo.synchronized {
      n += artifactMemo.size()
      artifactMemo.clear()
    }
    n
  }
}
