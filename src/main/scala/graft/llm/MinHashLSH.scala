package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** MinHash + banded LSH near-duplicate detection.
  *
  * Pipeline (all set-oriented, no driver state, no all-pairs scan):
  *   1. shingle: word n-grams of the tokenized text;
  *   2. base-hash: one md5 per shingle → 60-bit integer (expressible in
  *      any engine with md5(), which is what makes the DuckDB oracle
  *      exact);
  *   3. minhash: k signatures as integer LCGs over the base hashes —
  *      computed from the *distinct* base set (minimum is invariant
  *      under duplicates), so signatures and the Jaccard-verify sets
  *      share one corpus traversal;
  *   4. band → bucket: each (band_id, band_key) groups its doc ids;
  *      pairs are generated inside the bucket (sorted ids, upper
  *      triangle) — a single shuffle keyed on short hash strings,
  *      never on text, and no self-join that would recompute the
  *      tokenize/md5 stage for each side;
  *   5. verify: exact Jaccard over the distinct base-hash sets, joined
  *      back by doc id.
  *
  * Scale notes: the shuffle payload is doc_id + 32-byte band keys.
  * Popular buckets (boilerplate shingles) are the skew risk — the
  * bucket rows are materialized by a groupBy, so a size cap
  * (`maxBucketSize`) bounds the quadratic in-bucket pair expansion.
  * Both modes are oracle-checked end-to-end: q21 runs uncapped, q49
  * runs with the cap enforced (its DuckDB oracle replays the windowed
  * bucket-count filter exactly).
  */
object MinHashLSH {

  /** Shingle-set projections persisted by [[nearDupPairs]] /
    * [[crossCorpusPairs]] are tracked by [[Caches]] (bounded,
    * oldest-first eviction); release them between corpora with
    * [[unpersistAll]]. */
  private def persistTracked(df: DataFrame): DataFrame =
    Caches.persistTracked(df)

  /** Forwards to [[Caches.unpersistAll]] — kept here because the LSH
    * operators are where the caches come from. */
  def unpersistAll(blocking: Boolean = false): Int =
    Caches.unpersistAll(blocking)

  /** Word n-gram shingles; docs shorter than n collapse to one shingle. */
  def shingleExpr(toksCol: String, n: Int): Column =
    expr(
      s"""CASE WHEN size($toksCol) >= $n
         | THEN transform(sequence(0, size($toksCol) - $n),
         |   i -> concat_ws(' ', slice($toksCol, i + 1, $n)))
         | ELSE array(concat_ws(' ', $toksCol)) END""".stripMargin)

  /** Mersenne prime 2^31−1: signature arithmetic stays far below
    * BIGINT overflow (base < P, a < 2^20 → product < 2^51). */
  val P = 2147483647L

  /** Per-seed LCG constants (a_k, b_k) — deterministic, embedded
    * identically in the DuckDB oracle. */
  def seedParams(k: Int): (Long, Long) = {
    val a = ((1103515245L * (k + 1) + 12345L) % ((1L << 20) - 1)) | 1L // odd, < 2^20
    val b = (2654435769L * (k + 1)) % P
    (a, b)
  }

  /** Base hash per shingle: md5 once, first 15 hex chars → 60-bit int,
    * reduced mod P. Each of the k signatures is then a cheap integer
    * LCG over the base values — one md5 per shingle total, not k
    * (the md5-per-(seed,shingle) variant dominated the benchmark). */
  def baseHashExpr(shCol: String): Column =
    expr(
      s"""transform($shCol,
         |  s -> cast(conv(substr(md5(cast(s as binary)), 1, 15), 16, 10) as bigint) % $P)""".stripMargin)

  /** k minhash signatures from a base-hash array column. */
  def minhashExpr(basesCol: String, k: Int): Column = {
    val mins = (0 until k).map { i =>
      val (a, b) = seedParams(i)
      s"array_min(transform($basesCol, v -> (v * ${a}L + ${b}L) % $P))"
    }
    expr(s"array(${mins.mkString(", ")})")
  }

  /** (doc_id, s) — the distinct 60-bit shingle base-hash set per doc:
    * the single expensive corpus traversal (tokenize → shingle → md5)
    * that every later stage (signatures, bands, Jaccard verify)
    * derives from. Uses the native `shingle_bases` expression
    * ([[graft.llm.expressions.ShingleBasesExpr]]) — bit-identical to
    * `array_distinct(baseHashExpr(shingleExpr(tokens(text))))` but one
    * codegen'd loop instead of four interpreted HOF passes. */
  def shingleSets(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int): DataFrame = {
    graft.GraftExtensions.ensure(docs.sparkSession)
    // Spread BEFORE the shingle fold: the per-row shingle/hash work is
    // the expensive part and a single-split scan would run it serial
    // (see [[Spread]] — structural no-op on a parallel scan)
    val projected = Spread(docs.select(
      col(graft.Names.quoted(idCol)).as("doc_id"),
      col(graft.Names.quoted(textCol)).as("__t")))
    // sorted: the Jaccard verify's `inter_count` is a merge walk over
    // sorted inputs; minhash is order-invariant so nothing else cares
    projected.select(col("doc_id"),
      sort_array(array_distinct(
        expr(s"shingle_bases(__t, $shingleN)"))).as("s"))
  }

  /** In-bucket upper-triangle pair expansion over a sorted array
    * column: every (earlier, later) element pair, built by `mkPair`
    * from the two lambda variables. Shared by the MinHash and SimHash
    * candidate generators (the index arithmetic is easy to fork and
    * hard to spot-check — keep one copy). */
  private[graft] def upperTriangleSql(xsCol: String,
      mkPair: (String, String) => String): String =
    s"""flatten(transform($xsCol, (a, i) ->
       |  transform(slice($xsCol, i + 2, size($xsCol) - i - 1),
       |    b -> ${mkPair("a", "b")})))""".stripMargin

  /** Drop rows of buckets larger than `cap` BEFORE any bucket is
    * materialized as an array (a windowed count is sort-based and
    * memory-safe; `collect_list` of a pathological bucket is a single
    * task-killing row). No-op when cap <= 0. */
  private[graft] def capBuckets(bands: DataFrame, keyCols: Seq[String], cap: Int): DataFrame =
    if (cap <= 0) bands
    else {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(keyCols.map(col): _*)
      bands.withColumn("__bc", count(lit(1)).over(w))
        .filter(col("__bc") <= cap).drop("__bc")
    }

  /** Candidate pairs from a precomputed [[shingleSets]] projection:
    * signatures → band keys → bucket groupBy → in-bucket upper-triangle
    * expansion. `maxBucketSize > 0` drops pathological buckets before
    * they are materialized (a bucket of m docs expands to m·(m−1)/2
    * pairs and its collect_list is one m-element row — at corpus scale
    * cap this; boilerplate-heavy buckets carry no near-dup signal
    * worth quadratic work). */
  /** (doc_id, band_id, band_key) — the banded signature index, the
    * SHIPPABLE near-dup state: persist it once
    * ([[graft.llm.Artifacts]]) and an ingest batch needs only ITS OWN
    * bands plus one equi-join to find which corpus docs it may
    * duplicate (q194) — the corpus is never re-signatured per batch.
    * Also the internal first stage of [[candidatePairsFromSets]], so
    * the shipped index and the in-session pair generator can never
    * disagree about what a band IS. */
  /** The (band_id → band_key) array for a set column `sCol` — the ONE
    * spelling of what a band IS, shared by [[bandIndexFromSets]] and
    * [[fuzzyAdmission]] so the shipped index and the arrival side can
    * never disagree about banding. */
  private def bandKeysExpr(sCol: String, numHashes: Int,
      rowsPerBand: Int): Column = {
    require(numHashes % rowsPerBand == 0, "numHashes must divide into bands")
    val numBands = numHashes / rowsPerBand
    expr(
      s"""transform(sequence(0, ${numBands - 1}),
         |  b -> concat_ws('|', transform(
         |    slice(minhash_sigs($sCol, $numHashes), b * $rowsPerBand + 1, $rowsPerBand),
         |    x -> cast(x as string))))""".stripMargin)
  }

  def bandIndexFromSets(sets: DataFrame, numHashes: Int,
      rowsPerBand: Int): DataFrame = {
    graft.GraftExtensions.ensure(sets.sparkSession)
    sets.select(col("doc_id"),
      posexplode(bandKeysExpr("s", numHashes, rowsPerBand))
        .as(Seq("band_id", "band_key")))
  }

  /** The complete shippable signature-index state for INCREMENTAL
    * maintenance — the three frames a near-dup serving tier persists
    * through [[graft.llm.Artifacts]]:
    *
    *   - `bands`  — the capped `(doc_id, band_id, band_key)` probe
    *     side ([[bandIndexFromSets]] + [[capBuckets]]), what
    *     [[fuzzyAdmission]] equi-joins arrivals against;
    *   - `counts` — FULL per-bucket row counts BEFORE capping. This
    *     is the fold's cap arbiter: a bucket sitting at the cap that
    *     an append pushes over must evict its OLD rows too, and those
    *     rows' bucket population is invisible from the capped `bands`
    *     alone;
    *   - `sets`   — the sorted shingle sets ([[shingleSets]]), the
    *     exact-Jaccard verify side;
    *   - `evicted` — OPTIONAL cold tier (r16 verdict ask #3): the
    *     band rows of over-cap buckets that capping dropped from
    *     `bands`, kept out-of-line. Serving never reads it; its one
    *     consumer is [[indexErase]]'s cap-resurrection branch, which
    *     turns "re-band every surviving set, then semi-join" into a
    *     semi-join against this frame — an id lookup instead of a
    *     corpus-sets-shaped signature pass per transitioning erase
    *     batch. `None` on a pre-cold-tier artifact; every fold keeps
    *     the tier exact (it always holds EXACTLY the rows of buckets
    *     currently over the cap, for docs currently in the index).
    *
    * All frames are distributed parquet-shaped; nothing here ever
    * touches the driver. */
  final case class SigIndex(bands: DataFrame, counts: DataFrame,
      sets: DataFrame, evicted: Option[DataFrame] = None)

  /** Build the full [[SigIndex]] over a corpus — the train-side
    * spelling whose fold twin is [[indexDelta]]. The cold tier is
    * populated whenever a cap is in force (the rows it holds are the
    * complement of `bands` within the uncapped band frame, derived by
    * one semi-join against the over-cap bucket list — build-side,
    * one-time cost). */
  def signatureIndex(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int, numHashes: Int, rowsPerBand: Int, cap: Int): SigIndex = {
    val sets = shingleSets(docs, idCol, textCol, shingleN)
    val bands = bandIndexFromSets(sets, numHashes, rowsPerBand)
    val counts = bands.groupBy(col("band_id"), col("band_key"))
      .agg(count(lit(1)).as("n"))
    val evicted =
      if (cap <= 0) None
      else Some(bands.join(
        counts.filter(col("n") > cap).select(col("band_id"), col("band_key")),
        Seq("band_id", "band_key"), "left_semi")
        .select(col("doc_id"), col("band_id"), col("band_key")))
    SigIndex(
      capBuckets(bands, Seq("band_id", "band_key"), cap),
      counts, sets, evicted)
  }

  /** Fold an arrival batch into an existing [[SigIndex]] — incremental
    * maintenance of the SHIPPED near-dup index, the index-side twin of
    * [[Dedup.ccDelta]]: the corpus is never re-tokenized, re-hashed or
    * re-banded; the arrival side shingles and bands only ITSELF, and
    * the one corpus-shaped touch is a bucket-keyed full-outer join
    * against the counts frame (bucket-sized, not corpus-row-sized)
    * plus one semi-join that applies the refreshed cap verdicts.
    *
    * Exactness contract (proven on-corpus by q280 and on planted cap
    * transitions by SigIndexDeltaSpec): the folded index is
    * ROW-IDENTICAL to [[signatureIndex]] rebuilt over the union
    * corpus — including every cap transition. A bucket the batch
    * pushes PAST the cap evicts its old rows (they are present in
    * `index.bands` because their old count was ≤ cap, so the
    * semi-join sees and drops them); a bucket already past the cap
    * stays dropped (counts only grow, so its total can never return
    * under the cap). Folds COMPOSE (the q279 discipline), so
    * crawl-cadence maintenance cannot drift across batches.
    *
    * PRECONDITION: arrival doc_ids must be DISJOINT from the ids
    * already in the index — the same new-vertex contract as
    * [[Dedup.ccDelta]]. Re-folding an already-indexed doc would
    * duplicate its rows in `sets`/`bands` and permanently inflate the
    * bucket counts (counts only grow), silently corrupting the cap
    * arbitration and the rebuild equivalence. A re-crawl of a KNOWN
    * doc is an erase-then-fold ([[indexErase]] first), not a bare
    * fold. */
  def indexDelta(index: SigIndex, arrivals: DataFrame, idCol: String,
      textCol: String, shingleN: Int, numHashes: Int, rowsPerBand: Int,
      cap: Int): SigIndex =
    indexDeltaFromSets(index,
      shingleSets(arrivals, idCol, textCol, shingleN),
      numHashes, rowsPerBand, cap)

  /** [[indexDelta]] from a PRE-SHINGLED arrival frame (`(doc_id, s)`,
    * the [[shingleSets]] shape) — the spelling a persisted delta epoch
    * folds through ([[SigStore.serve]] stores arrival sets, never
    * text, so replaying a chain re-derives bands from integers
    * row-locally and the text is tokenized exactly once, at append
    * time). Same exactness contract and disjoint-arrival precondition
    * as [[indexDelta]]. */
  def indexDeltaFromSets(index: SigIndex, aSets: DataFrame,
      numHashes: Int, rowsPerBand: Int, cap: Int): SigIndex = {
    val aBands = bandIndexFromSets(aSets, numHashes, rowsPerBand)
    val aCounts = aBands.groupBy(col("band_id"), col("band_key"))
      .agg(count(lit(1)).as("an"))
    val totals = index.counts
      .join(aCounts, Seq("band_id", "band_key"), "full_outer")
      .select(col("band_id"), col("band_key"),
        (coalesce(col("n"), lit(0L)) + coalesce(col("an"), lit(0L))).as("n"))
    val unioned = index.bands.unionByName(aBands)
    val kept =
      if (cap <= 0) unioned
      else unioned.join(
        totals.filter(col("n") <= cap)
          .select(col("band_id"), col("band_key")),
        Seq("band_id", "band_key"), "left_semi")
        .select(col("doc_id"), col("band_id"), col("band_key"))
    // cold-tier maintenance: counts only GROW under an append, so
    // previously over-cap buckets stay over (their tier rows stand)
    // and the newly-over-cap buckets' rows all sit in `unioned` (old
    // rows were ≤ cap hence in index.bands; new rows are aBands) —
    // one semi-join moves them into the tier
    val evicted =
      if (cap <= 0) None
      else index.evicted.map(_.unionByName(
        unioned.join(
          totals.filter(col("n") > cap)
            .select(col("band_id"), col("band_key")),
          Seq("band_id", "band_key"), "left_semi")
          .select(col("doc_id"), col("band_id"), col("band_key"))))
    SigIndex(kept, totals, index.sets.unionByName(aSets), evicted)
  }

  /** Erasure-APPLY on the shipped signature index — [[indexDelta]]
    * inverted: fold a tombstone set OUT of a loaded [[SigIndex]], so a
    * right-to-be-forgotten batch costs work bounded by the erase set
    * instead of a full index rebuild. The erased docs are never
    * re-tokenized: their band rows re-derive from the SHIPPED `sets`
    * frame (band keys are pure integer functions of `s`), so the only
    * corpus-shaped touches are id-keyed anti-joins.
    *
    * Exactness contract (the q280 discipline inverted — proven
    * on-corpus by q294 and on planted cap transitions by
    * SigIndexDeltaSpec): the folded index is ROW-IDENTICAL to
    * [[signatureIndex]] rebuilt over the corpus minus the erase set,
    * including every cap transition, in BOTH directions:
    *
    *   - a bucket that was ≤ cap only shrinks — its surviving rows
    *     pass through (they are all present in `index.bands`);
    *   - a bucket the erase pulls from OVER the cap back to ≤ cap must
    *     RESURRECT its surviving rows (they were evicted at build, so
    *     `index.bands` cannot supply them): with the cold tier
    *     (`evicted`) shipped, they are READ BACK from it — two
    *     id/bucket-keyed joins, zero re-banding; on a pre-cold-tier
    *     artifact (`evicted = None`) they regenerate from the
    *     surviving sets — a row-local signature pass over the loaded
    *     integer sets (no text, no md5 re-hash of shingles, since `s`
    *     already holds the base hashes) semi-joined against the
    *     (typically tiny) transitioned-bucket list;
    *   - a bucket still over the cap after the erase keeps ZERO rows —
    *     the resurrection semi-join keys on transitioned buckets only,
    *     so still-evicted rows can never leak back.
    *
    * Erasing an id absent from the index is a no-op for that id (the
    * erase side derives from `index.sets`, where absent ids simply
    * match nothing) — erasure is idempotent, unlike [[indexDelta]]'s
    * disjoint-arrival precondition. Erase folds compose with each
    * other and with [[indexDelta]] appends (both are exact rebuild
    * images, and rebuilds compose trivially), which is the
    * erase-then-refold path a re-crawl of a known doc takes.
    *
    * 100 TB shape: one batch-bounded re-band of the erase set, one
    * bucket-keyed join against the counts frame (bucket-sized), two
    * id-keyed anti-joins, and — with the cold tier — a resurrection
    * that touches only the tier frame (over-cap rows, a small slice
    * of the index) via map-side semi/anti joins against the
    * broadcast-size transitioned list. No driver state. */
  def indexErase(index: SigIndex, eraseIds: DataFrame, numHashes: Int,
      rowsPerBand: Int, cap: Int): SigIndex = {
    val ids = eraseIds.select(col("doc_id"))
    val eSets = index.sets.join(ids, Seq("doc_id"), "left_semi")
    val eBands = bandIndexFromSets(eSets, numHashes, rowsPerBand)
    val eCounts = eBands.groupBy(col("band_id"), col("band_key"))
      .agg(count(lit(1)).as("en"))
    val totals = index.counts
      .join(eCounts, Seq("band_id", "band_key"), "left")
      .select(col("band_id"), col("band_key"), col("n"),
        (col("n") - coalesce(col("en"), lit(0L))).as("n2"))
    val newCounts = totals.filter(col("n2") > 0L)
      .select(col("band_id"), col("band_key"), col("n2").as("n"))
    val newSets = index.sets.join(ids, Seq("doc_id"), "left_anti")
    val keptOld = index.bands.join(ids, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("band_id"), col("band_key"))
    if (cap <= 0) SigIndex(keptOld, newCounts, newSets, None)
    else {
      val transitioned = totals
        .filter(col("n") > cap && col("n2") <= cap && col("n2") > 0L)
        .select(col("band_id"), col("band_key"))
      // transitioned buckets had n > cap, so index.bands holds none
      // of their rows — the union cannot double-keep anything
      val resurrected = index.evicted match {
        case Some(ev) =>
          // cold tier present: resurrection is an id lookup — the
          // tier holds exactly the over-cap buckets' rows, so the
          // survivors of a transitioned bucket are (tier rows minus
          // erased docs) semi-joined on the transitioned list. No
          // signature pass over the corpus sets, ever (plan-asserted
          // by SigIndexDeltaSpec: one minhash_sigs in the erase
          // plan, the batch-bounded erase-side re-band).
          ev.join(ids, Seq("doc_id"), "left_anti")
            .join(transitioned, Seq("band_id", "band_key"), "left_semi")
            .select(col("doc_id"), col("band_id"), col("band_key"))
        case None =>
          // pre-cold-tier artifact: regenerate survivors from the
          // surviving sets — row-local over loaded integer sets, but
          // corpus-sets-shaped CPU per transitioning erase batch
          bandIndexFromSets(newSets, numHashes, rowsPerBand)
            .join(transitioned, Seq("band_id", "band_key"), "left_semi")
            .select(col("doc_id"), col("band_id"), col("band_key"))
      }
      val kept = keptOld.unionByName(resurrected)
      // tier after the erase: drop erased docs' rows, then drop the
      // buckets that transitioned back under the cap (their rows just
      // moved into `bands`); still-over-cap buckets keep their rows
      val evicted = index.evicted.map(
        _.join(ids, Seq("doc_id"), "left_anti")
          .join(transitioned, Seq("band_id", "band_key"), "left_anti")
          .select(col("doc_id"), col("band_id"), col("band_key")))
      SigIndex(kept, newCounts, newSets, evicted)
    }
  }

  /** Near-dup ADMISSION of an arrival batch against the SHIPPED
    * signature index — the q175 serve contract lifted from exact to
    * fuzzy: `corpusBands` and `corpusSets` are the LOADED artifact
    * (built once by [[bandIndexFromSets]]/[[shingleSets]], capped and
    * saved via [[graft.llm.Artifacts]]); arrivals shingle and band
    * themselves ROW-LOCALLY, candidates come from one equi-join on
    * (band_id, band_key) — the corpus is never re-tokenized — and
    * each candidate verifies with the exact `inter_count` Jaccard
    * between the arrival's fresh set and the SHIPPED corpus set.
    *
    * One row per arrival: `(doc_id, n_candidates, n_near_dups,
    * best_match, best_jaccard_fp, status)` — status `near_dup` iff
    * any candidate verifies at `minJaccardFp`; candidate-less
    * arrivals carry NULL best columns.
    *
    * STREAMING-SAFE BY CONSTRUCTION — a streaming frame of arrivals
    * runs this very function (pinned in StreamingSpec):
    * no persist, no distinct, no window, no universe self-join (the
    * arrival's row survives through `posexplode_outer` + left joins
    * even with no bands or no matches), and the single aggregate
    * uses duplicate-invariant spellings (`collect_set` sizes, max,
    * null-last min_by) so pairs sharing several bands count once
    * without a streaming-unsupported DISTINCT. Per-arrival state is
    * bounded by bands × bucket cap, never corpus size.
    *
    * Skew guard: cap the corpus bands AT INDEX BUILD ([[capBuckets]]
    * before saving) — an arrival contributes one row per band, so
    * the stream side cannot skew a bucket by itself; the arrival's
    * shingle set rides the band explode (bands × set ints, bounded
    * by the arrival batch, never the corpus). */
  def fuzzyAdmission(arrivals: DataFrame, idCol: String, textCol: String,
      corpusBands: DataFrame, corpusSets: DataFrame, shingleN: Int,
      numHashes: Int, rowsPerBand: Int, minJaccardFp: Long): DataFrame = {
    graft.GraftExtensions.ensure(arrivals.sparkSession)
    val aSets = shingleSets(arrivals, idCol, textCol, shingleN)
    val aBands = aSets.select(col("doc_id"), col("s").as("__sa"),
      posexplode_outer(bandKeysExpr("s", numHashes, rowsPerBand))
        .as(Seq("band_id", "band_key")))
    val ver = aBands
      .join(corpusBands.select(col("doc_id").as("corpus_doc"),
        col("band_id"), col("band_key")), Seq("band_id", "band_key"), "left")
      .join(corpusSets.select(col("doc_id").as("corpus_doc"),
        col("s").as("__sb")), Seq("corpus_doc"), "left")
      .select(col("doc_id"), col("corpus_doc"),
        expr("inter_count(__sa, __sb)").as("__i"), col("__sa"), col("__sb"))
      .select(col("doc_id"), col("corpus_doc"), expr(
        """cast(floor(1000000.0 * cast(__i as double)
          |  / cast(size(__sa) + size(__sb) - __i as double)) as bigint)"""
          .stripMargin).as("jfp"))
    ver.groupBy(col("doc_id"))
      .agg(
        size(collect_set(col("corpus_doc"))).cast("bigint")
          .as("n_candidates"),
        size(collect_set(when(col("jfp") >= minJaccardFp,
          col("corpus_doc")))).cast("bigint").as("n_near_dups"),
        // null-LAST ordering: an arrival whose bands partly missed
        // carries (null corpus_doc, null jfp) rows in the same group;
        // nulls-first struct ordering would elect one of those as the
        // "best" match over a real candidate
        min_by(col("corpus_doc"), struct(
          coalesce(col("jfp") * -1L, lit(Long.MaxValue)).as("nj"),
          coalesce(col("corpus_doc"), lit(Long.MaxValue)).as("cd")))
          .as("best_match"),
        max(col("jfp")).as("best_jaccard_fp"))
      .select(col("doc_id"), col("n_candidates"), col("n_near_dups"),
        col("best_match"), col("best_jaccard_fp"),
        when(col("n_near_dups") > 0L, lit("near_dup"))
          .otherwise(lit("unique")).as("status"))
  }

  /** 1-bit signatures per word (Li & König's b-bit minhash at b = 1,
    * 64 signatures). */
  val PackBits = 64

  /** The packed 1-bit minhash word over a sets column — each of the
    * [[PackBits]] signatures' LOWEST bit, folded row-locally into ONE
    * 64-bit long (the q206 sign-word discipline). The 64× smaller
    * signature rendering that decides whether a 100 TB corpus's
    * near-dup index fits hot storage; the ONE spelling shared by the
    * q277 error card and [[fuzzyAdmissionBbit]], so the measured
    * estimator and the production screen can never disagree about
    * what the word IS. */
  def packWordExpr(sCol: String): Column = expr(
    s"""aggregate(transform(minhash_sigs($sCol, $PackBits), (m, i) ->
       |  CASE WHEN m % 2 = 1 THEN shiftleft(1L, i) ELSE 0L END),
       |  0L, (acc, x) -> acc | x)""".stripMargin)

  /** `(doc_id, w)` — the packed-word projection of a [[shingleSets]]
    * frame: the HOT-storage half of the signature index (8 bytes per
    * doc vs 8·64 for raw signatures and ~8·|shingles| for the verify
    * sets). */
  def packedWords(sets: DataFrame): DataFrame = {
    graft.GraftExtensions.ensure(sets.sparkSession)
    sets.select(col("doc_id"), packWordExpr("s").as("w"))
  }

  /** [[fuzzyAdmission]] with the 1-bit Hamming screen between the
    * band probe and the exact verify — the hot-storage production
    * knob q277 priced: candidates still come from one band equi-join,
    * but each one first scores the b-bit estimate
    * Ĵ = max(0, 2·match_bits − 64)/64 against the 64×-smaller packed
    * index (`corpusWords`), and ONLY candidates at or above
    * `screenMinPpm` touch the big shingle-set artifact for the exact
    * `inter_count` verify. With the screen a couple of sd below the
    * admission threshold (q277: mean |err| 0.062; sd of the bit-match
    * count ≈ 3.5 bits) the skipped mass is almost entirely
    * true-negative band collisions — and the q278 card MEASURES the
    * residual recall cost rather than assuming it.
    *
    * Same shape and null contract as [[fuzzyAdmission]] plus
    * `n_screened` (candidates that passed the Hamming screen);
    * `best_match`/`best_jaccard_fp` rank only VERIFIED candidates
    * (unscreened ones carry null jfp and sort last; an arrival with
    * candidates but no screen survivor reads null best columns).
    * Streaming-legal by the same construction (posexplode_outer +
    * left joins + one duplicate-invariant aggregate). */
  def fuzzyAdmissionBbit(arrivals: DataFrame, idCol: String,
      textCol: String, corpusBands: DataFrame, corpusWords: DataFrame,
      corpusSets: DataFrame, shingleN: Int, numHashes: Int,
      rowsPerBand: Int, screenMinPpm: Long, minJaccardFp: Long): DataFrame = {
    graft.GraftExtensions.ensure(arrivals.sparkSession)
    val aSets = shingleSets(arrivals, idCol, textCol, shingleN)
    val aBands = aSets.select(col("doc_id"), col("s").as("__sa"),
      packWordExpr("s").as("__wa"),
      posexplode_outer(bandKeysExpr("s", numHashes, rowsPerBand))
        .as(Seq("band_id", "band_key")))
    val screened = aBands
      .join(corpusBands.select(col("doc_id").as("corpus_doc"),
        col("band_id"), col("band_key")), Seq("band_id", "band_key"), "left")
      .join(corpusWords.select(col("doc_id").as("corpus_doc"),
        col("w").as("__wb")), Seq("corpus_doc"), "left")
      .withColumn("__est", expr(
        s"cast(greatest(0L, 2L * ($PackBits - bit_count(__wa ^ __wb)) " +
          s"- $PackBits) * 1000000L div $PackBits as bigint)"))
      .withColumn("__pass",
        coalesce(col("__est") >= screenMinPpm, lit(false)))
    // the cold sets artifact joins ONLY screen survivors (the equi
    // key plus the __pass residual — unscreened candidates keep their
    // row with a null set and therefore a null jfp)
    val ver = screened
      .join(corpusSets.select(col("doc_id").as("__vd"), col("s").as("__sb")),
        col("corpus_doc") === col("__vd") && col("__pass"), "left")
      .select(col("doc_id"), col("corpus_doc"), col("__pass"),
        expr("inter_count(__sa, __sb)").as("__i"), col("__sa"), col("__sb"))
      .select(col("doc_id"), col("corpus_doc"), col("__pass"), expr(
        """cast(floor(1000000.0 * cast(__i as double)
          |  / cast(size(__sa) + size(__sb) - __i as double)) as bigint)"""
          .stripMargin).as("jfp"))
    ver.groupBy(col("doc_id"))
      .agg(
        size(collect_set(col("corpus_doc"))).cast("bigint")
          .as("n_candidates"),
        size(collect_set(when(col("__pass"), col("corpus_doc"))))
          .cast("bigint").as("n_screened"),
        size(collect_set(when(col("jfp") >= minJaccardFp,
          col("corpus_doc")))).cast("bigint").as("n_near_dups"),
        min_by(when(col("jfp").isNotNull, col("corpus_doc")), struct(
          coalesce(col("jfp") * -1L, lit(Long.MaxValue)).as("nj"),
          coalesce(col("corpus_doc"), lit(Long.MaxValue)).as("cd")))
          .as("best_match"),
        max(col("jfp")).as("best_jaccard_fp"))
      .select(col("doc_id"), col("n_candidates"), col("n_screened"),
        col("n_near_dups"), col("best_match"), col("best_jaccard_fp"),
        when(col("n_near_dups") > 0L, lit("near_dup"))
          .otherwise(lit("unique")).as("status"))
  }

  /** Screen-threshold tuning sweep for [[fuzzyAdmissionBbit]] (r16
    * verdict ask #8): the hot-tier knob `screenMinPpm` trades cold-
    * storage verifies against recall, and q298 graded it at ONE
    * point; this card prices the whole curve so the knob is tuned,
    * not defaulted. One truth pass (the q173 discipline): every band
    * candidate pair is scored ONCE with both the 1-bit Hamming
    * estimate and the exact shingle Jaccard, then each grid threshold
    * reads off its (screened, caught, recall, verifies-saved) row
    * from that single persisted frame — the exhaustive verify is paid
    * once for the card, never per threshold.
    *
    * Output per threshold: `(screen_min_ppm, n_candidates,
    * n_screened, n_true_dups, n_caught, recall_ppm,
    * verify_saved_ppm)` — `n_true_dups` from the exact-Jaccard truth
    * at `minJaccardFp`, `recall_ppm` = caught/true floor-ppm,
    * `verify_saved_ppm` = the cold-artifact reads the screen avoids.
    *
    * 100 TB shape: candidates come from the capped band equi-join
    * (bucket-bounded, the q272 serve path); the truth verify is the
    * deliberate card price (arrivals-side-bounded, the q278/q298
    * pattern); thresholds are a literal broadcast grid over the
    * candidate-count-sized scored frame. */
  def bbitScreenSweep(arrivals: DataFrame, idCol: String,
      textCol: String, corpusBands: DataFrame, corpusWords: DataFrame,
      corpusSets: DataFrame, shingleN: Int, numHashes: Int,
      rowsPerBand: Int, thresholds: Seq[Long],
      minJaccardFp: Long): DataFrame = {
    require(thresholds.nonEmpty, "empty threshold grid")
    graft.GraftExtensions.ensure(arrivals.sparkSession)
    val session = arrivals.sparkSession
    import session.implicits._
    val grid = thresholds.toDF("screen_min_ppm")
    val aSets = Caches.persistTracked(
      shingleSets(arrivals, idCol, textCol, shingleN))
    val aBands2 = aSets.select(col("doc_id"),
      posexplode(bandKeysExpr("s", numHashes, rowsPerBand))
        .as(Seq("band_id", "band_key")))
    // dedupe on the 2-long id pair BEFORE pulling sets/words in —
    // distinct over array payloads would hash every shingle set once
    // per shared band
    val pairs = aBands2
      .join(corpusBands.select(col("doc_id").as("corpus_doc"),
        col("band_id"), col("band_key")), Seq("band_id", "band_key"))
      .select(col("doc_id"), col("corpus_doc"))
      .distinct()
    val scored = Caches.persistTracked(pairs
      .join(aSets.select(col("doc_id"), col("s").as("__sa"),
        packWordExpr("s").as("__wa")), Seq("doc_id"))
      .join(corpusWords.select(col("doc_id").as("corpus_doc"),
        col("w").as("__wb")), Seq("corpus_doc"))
      .join(corpusSets.select(col("doc_id").as("corpus_doc"),
        col("s").as("__sb")), Seq("corpus_doc"))
      .select(col("doc_id"), col("corpus_doc"),
        expr(s"cast(greatest(0L, 2L * ($PackBits - " +
          s"bit_count(__wa ^ __wb)) - $PackBits) * 1000000L " +
          s"div $PackBits as bigint)").as("est_ppm"),
        expr("inter_count(__sa, __sb)").as("__i"),
        col("__sa"), col("__sb"))
      .select(col("doc_id"), col("corpus_doc"), col("est_ppm"), expr(
        """cast(floor(1000000.0 * cast(__i as double)
          |  / cast(size(__sa) + size(__sb) - __i as double)) as bigint)"""
          .stripMargin).as("jfp")))
    scored.crossJoin(broadcast(grid))
      .groupBy(col("screen_min_ppm"))
      .agg(
        count(lit(1)).as("n_candidates"),
        coalesce(sum(when(col("est_ppm") >= col("screen_min_ppm"), 1L)
          .otherwise(0L)), lit(0L)).as("n_screened"),
        coalesce(sum(when(col("jfp") >= minJaccardFp, 1L)
          .otherwise(0L)), lit(0L)).as("n_true_dups"),
        coalesce(sum(when(col("est_ppm") >= col("screen_min_ppm") &&
          col("jfp") >= minJaccardFp, 1L).otherwise(0L)), lit(0L))
          .as("n_caught"))
      .select(col("screen_min_ppm"), col("n_candidates"),
        col("n_screened"), col("n_true_dups"), col("n_caught"),
        // a vacuous cell (no true dups to catch) reads FULL recall,
        // not zero — otherwise a curve scan cannot tell "nothing to
        // lose" from "lost everything" (the po/pe empty-corpus
        // convention)
        expr("case when n_true_dups = 0L then 1000000L " +
          "else n_caught * 1000000L div n_true_dups end")
          .as("recall_ppm"),
        expr("(n_candidates - n_screened) * 1000000L " +
          "div greatest(n_candidates, 1L)").as("verify_saved_ppm"))
  }

  /** Bucket-cap tuning sweep — the skew guard's PRICE curve. The
    * q49/q272 pipelines drop LSH buckets larger than a cap before
    * their quadratic pair expansion on the CLAIM that boilerplate
    * buckets carry no near-dup signal worth m² work; this card
    * measures that claim instead of asserting it. One truth pass (the
    * q173/q311 discipline): the uncapped candidate pair set is built
    * ONCE with, per pair, the SMALLEST shared bucket's size (a pair
    * survives cap c iff some shared bucket has ≤ c rows) and the
    * exact shingle Jaccard; every grid cap then reads its row off
    * that persisted frame plus bucket-size stats — the quadratic
    * truth expansion is paid once for the card, never per cap.
    *
    * Output per cap: `(cap, n_buckets, n_buckets_dropped,
    * pair_work_saved_ppm, n_candidates, n_kept, n_true_dups,
    * n_caught, recall_ppm)` — `pair_work_saved_ppm` is the share of
    * Σ bc·(bc−1)/2 bucket pair-work the cap avoids (the quantity the
    * guard exists to bound), `n_caught`/`recall_ppm` what it costs
    * against the exact truth at `minJaccardFp`.
    *
    * 100 TB shape: the uncapped expansion is the deliberate card
    * price (run it at a sampled SF — the S-curve transfers; the
    * PRODUCTION path stays capped); bucket stats are one aggregate
    * over the band index; caps are a literal broadcast grid over the
    * pair-count-sized scored frame. */
  def capSweep(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int, numHashes: Int, rowsPerBand: Int, caps: Seq[Long],
      minJaccardFp: Long): DataFrame = {
    require(caps.nonEmpty, "empty cap grid")
    require(caps.forall(_ >= 1L), "a cap below 1 drops every bucket")
    graft.GraftExtensions.ensure(docs.sparkSession)
    val session = docs.sparkSession
    import session.implicits._
    val grid = caps.toDF("cap")
    val sets = Caches.persistTracked(
      shingleSets(docs, idCol, textCol, shingleN))
    val bands = bandIndexFromSets(sets, numHashes, rowsPerBand)
    val buckets = Caches.persistTracked(
      bands.groupBy(col("band_id"), col("band_key"))
        .agg(count(lit(1)).as("__bc")))
    val b2 = bands.join(buckets, Seq("band_id", "band_key"))
    val scored = Caches.persistTracked(b2.as("a")
      .join(b2.as("b"),
        col("a.band_id") === col("b.band_id") &&
          col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(min(col("a.__bc")).as("__min_bc"))
      .join(sets.select(col("doc_id").as("doc_a"), col("s").as("__sa")),
        Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"), col("s").as("__sb")),
        Seq("doc_b"))
      .select(col("__min_bc"),
        expr("inter_count(__sa, __sb)").as("__i"),
        col("__sa"), col("__sb"))
      .select(col("__min_bc"), expr(
        """cast(floor(1000000.0 * cast(__i as double)
          |  / cast(size(__sa) + size(__sb) - __i as double)) as bigint)"""
          .stripMargin).as("jfp")))
    val work = buckets.crossJoin(broadcast(grid))
      .groupBy(col("cap"))
      .agg(count(lit(1)).as("n_buckets"),
        coalesce(sum(when(col("__bc") > col("cap"), 1L).otherwise(0L)),
          lit(0L)).as("n_buckets_dropped"),
        coalesce(sum(expr("__bc * (__bc - 1L) div 2L")), lit(0L))
          .as("__work_all"),
        coalesce(sum(when(col("__bc") <= col("cap"),
          expr("__bc * (__bc - 1L) div 2L")).otherwise(0L)), lit(0L))
          .as("__work_kept"))
    val rec = scored.crossJoin(broadcast(grid))
      .groupBy(col("cap"))
      .agg(count(lit(1)).as("n_candidates"),
        coalesce(sum(when(col("__min_bc") <= col("cap"), 1L)
          .otherwise(0L)), lit(0L)).as("n_kept"),
        coalesce(sum(when(col("jfp") >= minJaccardFp, 1L)
          .otherwise(0L)), lit(0L)).as("n_true_dups"),
        coalesce(sum(when(col("__min_bc") <= col("cap") &&
          col("jfp") >= minJaccardFp, 1L).otherwise(0L)), lit(0L))
          .as("n_caught"))
    work.join(rec, Seq("cap"), "left")
      .select(col("cap"), col("n_buckets"), col("n_buckets_dropped"),
        expr("(__work_all - __work_kept) * 1000000L " +
          "div greatest(__work_all, 1L)").as("pair_work_saved_ppm"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("n_true_dups"), lit(0L)).as("n_true_dups"),
        coalesce(col("n_caught"), lit(0L)).as("n_caught"),
        // vacuous cell (zero true dups) reads full recall — see
        // [[bbitScreenSweep]]'s convention
        expr("case when coalesce(n_true_dups, 0L) = 0L then 1000000L " +
          "else coalesce(n_caught, 0L) * 1000000L div n_true_dups end")
          .as("recall_ppm"))
  }

  /** Per-tombstone erase impact against the LOADED signature index —
    * the admission-mirror of [[indexErase]], what a deletion queue
    * runs per right-to-be-forgotten request before (or instead of)
    * the fold: for each tombstoned id, whether the index knows it,
    * how many set ints and band rows the erase will remove, how many
    * of those rows are LIVE in the capped bands frame, and how many
    * buckets this doc's removal alone pulls back under the cap
    * (n == cap+1 — the resurrection triggers [[indexErase]] will pay
    * for).
    *
    * STREAMING-SAFE BY CONSTRUCTION — a streaming frame of tombstones
    * runs this very function (pinned in StreamingSpec):
    * the index sides are static (stream-static left joins), bands
    * derive row-locally from the loaded sets via the shared
    * [[bandKeysExpr]], unknown ids keep their row through
    * `posexplode_outer` + left joins, and the single aggregate uses
    * duplicate-insensitive spellings (max / conditional counts over
    * rows unique per (doc, band)). Per-tombstone state is bounded by
    * the band count, never the corpus. */
  def eraseImpact(tombstones: DataFrame, idCol: String,
      corpusSets: DataFrame, corpusCounts: DataFrame, numHashes: Int,
      rowsPerBand: Int, cap: Int): DataFrame = {
    graft.GraftExtensions.ensure(tombstones.sparkSession)
    val t = tombstones.select(col(graft.Names.quoted(idCol)).as("doc_id"))
    val withSets = t
      .join(corpusSets.select(col("doc_id"), col("s")), Seq("doc_id"), "left")
    val bands = withSets.select(col("doc_id"),
      size(col("s")).as("__ns"),
      posexplode_outer(when(col("s").isNotNull,
        bandKeysExpr("s", numHashes, rowsPerBand)))
        .as(Seq("band_id", "band_key")))
    bands
      .join(corpusCounts.select(col("band_id"), col("band_key"), col("n")),
        Seq("band_id", "band_key"), "left")
      .groupBy(col("doc_id"))
      .agg(
        max(col("__ns").isNotNull).as("in_index"),
        coalesce(max(col("__ns")), lit(0)).cast("bigint").as("n_set_ints"),
        count(col("band_id")).cast("bigint").as("n_band_rows"),
        sum(when(col("n") <= cap, 1L).otherwise(0L)).cast("bigint")
          .as("n_live_rows"),
        sum(when(col("n") === cap + 1L, 1L).otherwise(0L)).cast("bigint")
          .as("n_resurrections"))
  }

  def candidatePairsFromSets(sets: DataFrame, numHashes: Int, rowsPerBand: Int,
      maxBucketSize: Int = 0): DataFrame = {
    val bands = bandIndexFromSets(sets, numHashes, rowsPerBand)
    val buckets = capBuckets(bands, Seq("band_id", "band_key"), maxBucketSize)
      .groupBy(col("band_id"), col("band_key"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) >= 2)
    buckets
      .select(explode(expr(upperTriangleSql("ids",
        (a, b) => s"struct($a AS doc_a, $b AS doc_b)"))).as("p"))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .distinct()
  }

  /** Distinct candidate pairs (doc_a < doc_b) sharing ≥1 LSH bucket.
    * `numHashes` signatures, banded `rowsPerBand` each. */
  def candidatePairs(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 8, rowsPerBand: Int = 1): DataFrame =
    candidatePairsFromSets(shingleSets(docs, idCol, textCol, shingleN),
      numHashes, rowsPerBand)

  /** Cross-corpus near-duplicate linkage (entity resolution shape):
    * pairs (left doc, right doc) from two different corpora sharing
    * ≥1 LSH bucket, verified with exact Jaccard — the record-linkage
    * twin of [[nearDupPairs]] (which dedups within one corpus). The
    * join is banded left-bands ⋈ right-bands on the bucket key, so
    * neither corpus is ever crossed against the other wholesale.
    *
    * `maxBucketSize > 0` drops each side's rows of overfull buckets
    * BEFORE the bucket join — the same 100 TB skew guard as
    * [[nearDupPairs]]: a boilerplate bucket present in BOTH corpora
    * (m left rows × n right rows) degenerates the equi-join toward
    * quadratic, and those pairs carry no linkage signal worth m·n
    * work. Capping per side bounds any bucket's contribution to
    * cap². */
  def crossCorpusPairs(left: DataFrame, right: DataFrame,
      idCol: String, textCol: String, shingleN: Int = 3, numHashes: Int = 8,
      minJaccardFp: Long = 0L, maxBucketSize: Int = 0): DataFrame = {
    graft.GraftExtensions.ensure(left.sparkSession)
    def prep(df: DataFrame, side: String): (DataFrame, DataFrame) = {
      val sets = persistTracked(shingleSets(df, idCol, textCol, shingleN))
      val mh = sets.select(col("doc_id"), expr(s"minhash_sigs(s, $numHashes)").as("mh"))
      val bands = mh.select(col("doc_id").as(s"${side}_id"),
        posexplode(expr(
          s"transform(sequence(0, ${numHashes - 1}), b -> cast(element_at(mh, b + 1) as string))"))
          .as(Seq("band_id", "band_key")))
      (sets, capBuckets(bands, Seq("band_id", "band_key"), maxBucketSize))
    }
    val (lsets, lbands) = prep(left, "left")
    val (rsets, rbands) = prep(right, "right")
    val pairs = lbands.join(rbands, Seq("band_id", "band_key"))
      .select(col("left_id"), col("right_id")).distinct()
    val jaccard = expr(
      """cast(floor(1000000.0 * cast(i as double)
        |  / cast(size(sa) + size(sb) - i as double)) as bigint)""".stripMargin)
    val scored = pairs
      .join(lsets.select(col("doc_id").as("left_id"), col("s").as("sa")), "left_id")
      .join(rsets.select(col("doc_id").as("right_id"), col("s").as("sb")), "right_id")
      .select(col("left_id"), col("right_id"), col("sa"), col("sb"),
        expr("inter_count(sa, sb)").as("i"))
      .select(col("left_id"), col("right_id"), jaccard.as("jaccard_fp"))
    if (minJaccardFp > 0L) scored.filter(col("jaccard_fp") >= minJaccardFp) else scored
  }

  /** Candidate pairs with their exact shingle-set Jaccard similarity
    * (fixed-point millionths), filtered at `minJaccardFp`. The sets
    * compared are the 60-bit base hashes, not the shingle strings —
    * same Jaccard up to ~1e-5 collision mass, and integer
    * intersect/union is several times cheaper than string sets at
    * corpus scale.
    *
    * The shingle-set projection is persisted (memory-and-disk) because
    * three plan branches consume it: the signature path and both sides
    * of the verify join. The cache is tracked — release it between
    * corpora with [[unpersistAll]] (precise, unlike a global
    * `clearCache`); at cluster scale this is the natural
    * checkpoint/materialization boundary.
    *
    * `maxBucketSize > 0` drops pathological LSH buckets before their
    * quadratic pair expansion — the 100 TB skew guard (boilerplate
    * buckets carry no near-dup signal worth m² work). */
  /** Joins each candidate side's sorted base set and appends the
    * exact `jaccard_fp` = floor(10⁶·|∩|/|∪|), computed as ONE
    * `inter_count` merge walk per pair (|a ∪ b| = |a| + |b| − |a ∩ b|
    * for distinct sets, so no array_intersect + array_union pair).
    * The ONE spelling of the verify every blocking family shares —
    * banding, time-windowed banding, and the sorted-neighborhood
    * path. Every column of `pairs` survives. */
  private[graft] def withJaccardFp(pairs: DataFrame, sets: DataFrame,
      aCol: String, bCol: String): DataFrame = {
    val carry = pairs.columns.toSeq.map(c => col(graft.Names.quoted(c)))
    pairs
      .join(sets.select(col("doc_id").as(aCol), col("s").as("__sa")), aCol)
      .join(sets.select(col("doc_id").as(bCol), col("s").as("__sb")), bCol)
      .select(carry ++ Seq(expr("inter_count(__sa, __sb)").as("__i"),
        col("__sa"), col("__sb")): _*)
      .select(carry :+ expr(
        """cast(floor(1000000.0 * cast(__i as double)
          |  / cast(size(__sa) + size(__sb) - __i as double)) as bigint)"""
          .stripMargin).as("jaccard_fp"): _*)
  }

  def nearDupPairs(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 8, rowsPerBand: Int = 1,
      minJaccardFp: Long = 0L, maxBucketSize: Int = 0): DataFrame = {
    graft.GraftExtensions.ensure(docs.sparkSession)
    val sets = persistTracked(shingleSets(docs, idCol, textCol, shingleN))
    val pairs = candidatePairsFromSets(sets, numHashes, rowsPerBand, maxBucketSize)
    val scored = withJaccardFp(pairs, sets, "doc_a", "doc_b")
    // jaccard is never negative: a 0 threshold filter would only push
    // a redundant inter_count evaluation into the join condition
    if (minJaccardFp > 0L) scored.filter(col("jaccard_fp") >= minJaccardFp) else scored
  }

  /** Near-dup pairs restricted to a bounded event-time window — the
    * incremental-corpus form of [[nearDupPairs]]. Each doc carries a
    * non-negative integer day (`dayCol`); only pairs with
    * |day_a − day_b| <= windowDays are emitted.
    *
    * The LSH band join is additionally keyed by time block
    * (day div W and day div W + 1, so any admissible pair — whose
    * blocks differ by at most 1 — still shares a composite key).
    * That is the retention guard that keeps this viable on an
    * ever-growing 100 TB corpus: a boilerplate band key that would
    * bucket ALL of history now buckets at most ~2 windows of it, so
    * candidate volume stays linear in corpus age and old blocks can
    * be dropped at the scan. Because the blocking provably admits
    * every pair the exact day filter keeps, the result is identical
    * to the unblocked pipeline + day filter — which is exactly what
    * the DuckDB oracle replays (the salted-join proof pattern: the
    * optimization must be semantics-free).
    *
    * Output: (doc_a, doc_b, gap_days, jaccard_fp). */
  def temporalNearDupPairs(docs: DataFrame, idCol: String, textCol: String,
      dayCol: String, windowDays: Long, shingleN: Int = 3, numHashes: Int = 8,
      minJaccardFp: Long = 0L): DataFrame = {
    require(windowDays > 0, "windowDays must be positive")
    graft.GraftExtensions.ensure(docs.sparkSession)
    val day = col(graft.Names.quoted(dayCol)).cast("bigint")
    val sets = persistTracked(
      shingleSets(docs, idCol, textCol, shingleN)
        .join(docs.select(col(graft.Names.quoted(idCol)).as("doc_id"),
          day.as("day")), "doc_id"))
    val mh = sets.select(col("doc_id"), col("day"),
      expr(s"minhash_sigs(s, $numHashes)").as("mh"))
    val bandKey = expr(
      s"transform(sequence(0, ${numHashes - 1}), b -> cast(element_at(mh, b + 1) as string))")
    val bands = mh
      .select(col("doc_id"), col("day"),
        posexplode(bandKey).as(Seq("band_id", "band_key")))
      .select(col("doc_id"), col("day"), col("band_id"), col("band_key"),
        explode(expr(s"array(day div ${windowDays}L, day div ${windowDays}L + 1L)"))
          .as("blk"))
    val buckets = bands
      .groupBy(col("band_id"), col("band_key"), col("blk"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("day")))).as("ids"))
      .filter(size(col("ids")) >= 2)
    val pairs = buckets
      .select(explode(expr(upperTriangleSql("ids",
        (a, b) => s"struct($a.doc_id AS doc_a, $b.doc_id AS doc_b, " +
          s"abs($a.day - $b.day) AS gap_days)"))).as("p"))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"),
        col("p.gap_days").as("gap_days"))
      .filter(col("gap_days") <= windowDays)
      .distinct()
    val scored = withJaccardFp(pairs, sets, "doc_a", "doc_b")
    if (minJaccardFp > 0L) scored.filter(col("jaccard_fp") >= minJaccardFp)
    else scored
  }

  /** LSH tuning card: recall and precision of the banded candidate
    * generator against exact ground truth, per Jaccard threshold —
    * the evidence that picks (numHashes, rowsPerBand) before anyone
    * trusts LSH output at scale.
    *
    * Ground truth needs pairs LSH *misses*, so some brute force is
    * irreducible; the card confines it to the deterministic eval
    * slice `id < sampleLimit`. A modulus sample would keep each PAIR
    * with probability 1/m² and destroy the signal; the id-range slice
    * preserves every pair inside it, and its cost is O(sampleLimit²)
    * — a CONSTANT at any corpus size, the bound that lets the
    * nested-loop upper-triangle join below exist at all. The LSH side
    * reuses the production [[nearDupPairs]] path unchanged. Output:
    * one row per threshold with exact integer counts and ppm rates
    * (null rate when its denominator is 0). */
  def recallCard(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 8, rowsPerBand: Int = 1,
      sampleLimit: Long = 250L, thresholds: Seq[Long]): DataFrame = {
    require(thresholds.nonEmpty, "at least one threshold")
    require(sampleLimit > 0, "sampleLimit must be positive")
    graft.GraftExtensions.ensure(docs.sparkSession)
    val sample = docs.filter(col(graft.Names.quoted(idCol)) < sampleLimit)
    val sets = persistTracked(shingleSets(sample, idCol, textCol, shingleN))
    val jaccard = expr(
      """cast(floor(1000000.0 * cast(i as double)
        |  / cast(size(sa) + size(sb) - i as double)) as bigint)""".stripMargin)
    val truth = sets.select(col("doc_id").as("doc_a"), col("s").as("sa"))
      .join(broadcast(sets.select(col("doc_id").as("doc_b"), col("s").as("sb"))),
        col("doc_a") < col("doc_b"))
      .select(col("sa"), col("sb"), expr("inter_count(sa, sb)").as("i"))
      .select(jaccard.as("jaccard_fp"))
    val cand = nearDupPairs(sample, idCol, textCol, shingleN, numHashes,
      rowsPerBand).select(col("jaccard_fp"))
    thresholdCard(truth, cand, thresholds)
  }

  /** Per-threshold recall/precision card over two single-column
    * `jaccard_fp` frames (exact truth scores vs a candidate
    * generator's scores) — the generic tail shared by the LSH
    * ([[recallCard]]) and sorted-neighborhood recall cards, so every
    * blocking family is graded by the SAME arithmetic. */
  private[graft] def thresholdCard(truth: DataFrame, cand: DataFrame,
      thresholds: Seq[Long]): DataFrame = {
    require(thresholds.nonEmpty, "at least one threshold")
    def hitCounts(df: DataFrame, pfx: String, extra: Seq[Column]): DataFrame = {
      val sums = thresholds.zipWithIndex.map { case (t, i) =>
        coalesce(sum(when(col("jaccard_fp") >= t, 1L).otherwise(0L)), lit(0L))
          .as(s"${pfx}_$i")
      } ++ extra
      df.agg(sums.head, sums.tail: _*)
    }
    val tAgg = hitCounts(truth, "t", Nil)
    val cAgg = hitCounts(cand, "f", Seq(count(lit(1)).as("n_cand")))
    val stackArgs = thresholds.indices
      .map(i => s"${thresholds(i)}L, t_$i, f_$i").mkString(", ")
    tAgg.crossJoin(cAgg)
      .selectExpr(
        s"stack(${thresholds.size}, $stackArgs) AS (thr_fp, n_true, n_found)",
        "n_cand")
      .select(col("thr_fp"), col("n_true"), col("n_cand"), col("n_found"),
        expr("case when n_true > 0 then n_found * 1000000L div n_true end")
          .as("recall_ppm"),
        expr("case when n_cand > 0 then n_found * 1000000L div n_cand end")
          .as("precision_ppm"))
  }
}
