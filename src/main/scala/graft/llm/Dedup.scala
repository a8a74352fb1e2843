package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for corpus curation.
  *
  * Scale design: one hash-shuffle on the dedup key, then a window over
  * each key's partition — no driver state, no all-pairs comparison.
  * The shuffle necessarily moves whichever columns the caller wants to
  * survive; when only ids are needed, project to (id, fingerprint)
  * BEFORE deduplicating (as `q17_dedup_norm` does) so megabyte
  * payloads never cross the wire. The join key itself is always a
  * short value (text equality dedups hash the text for partitioning;
  * fingerprint dedups ship 32-byte digests).
  */
object Dedup {

  /** Whitespace-collapse + lowercase + trim — the ASCII-level half of
    * the dedup normalization. Still the SNM BLOCKING key
    * ([[snmPairs]] — a candidate generator, where a rare non-NFC
    * spelling costs at most a missed candidate, priced by the q174
    * recall card), but NOT the dedup key: [[fingerprint]] composes
    * NFC in front, because a key decides deletions and must not
    * double-ingest an NFD re-crawl of an NFC corpus. */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(lower(text), "\\s+", " "))

  /** `normalize_unicode(text, form)` — resolves against the
    * [[graft.GraftExtensions]]-injected native expression, present in
    * EVERY session built through `graft.Sessions.builder` (no
    * per-session registration call needed), so the NFC default below
    * works wherever the engine runs. */
  private def normalizeUnicode(text: Column, form: String): Column =
    call_function("normalize_unicode", text, lit(form))

  /** [[normalizeText]] with Unicode NFC composition in front — the
    * dedup key that catches "café" (composed U+00E9) vs "café"
    * (e + combining U+0301) the way [[normalizeUrl]] catches URL
    * variants: canonically-equivalent spellings fingerprint
    * identically. Row-local and codegen'd
    * ([[graft.llm.expressions.NormalizeUnicodeExpr]], `isNormalized`
    * ASCII fast path); the DuckDB oracle replays it as
    * `lower(nfc_normalize(..))`. NFC (not NFKC) here: canonical
    * equivalence is safe to collapse for dedup KEYS cross-engine;
    * compatibility folding (full-width → ASCII) is the NFKC form of
    * the same expression, spec-certified because DuckDB ships no
    * NFKC. */
  def normalizeTextUnicode(text: Column): Column =
    trim(regexp_replace(lower(normalizeUnicode(text, "NFC")), "\\s+", " "))

  /** 128-bit content fingerprint of the normalized text. NFC
    * normalization is the DEFAULT (round-16 decision, closing r15 ask
    * #7): every dedup-key call site — q16/q70/q73/q175/q178, the
    * shipped fingerprint index, the streaming ingest twins — keys on
    * the NFC form, so an NFD re-crawl of an NFC corpus dedups instead
    * of double-ingesting. On ASCII text the fast path makes this
    * byte-identical to (and no slower than) the historical
    * lower+trim key; every oracle replays the NFC spelling
    * verbatim. */
  def fingerprint(text: Column): Column =
    md5(normalizeTextUnicode(text).cast("binary"))

  /** Alias of [[fingerprint]] — kept so call sites written against
    * the explicit-Unicode name (q274) read unambiguously; since the
    * NFC default landed the two are the SAME key. */
  def unicodeFingerprint(text: Column): Column = fingerprint(text)

  /** The PRE-NFC dedup key (lower + whitespace-collapse only) — kept
    * SOLELY as q274's contrast arm, which proves why the NFC default
    * matters by showing this key split canonically-equivalent
    * variants. No dedup path keys on it. */
  def legacyAsciiFingerprint(text: Column): Column =
    md5(normalizeText(text).cast("binary"))

  /** [[fingerprint]] with null text treated as empty content — the ONE
    * spelling of the null contract every incremental/dedup entry point
    * shares (batch, streaming, q70, q73): null and empty text carry
    * the same real fingerprint, so they group in windows AND match in
    * equi-joins, where a SQL-null fp would do the former but never the
    * latter. */
  def fingerprintOrEmpty(text: Column): Column =
    fingerprint(coalesce(text, lit("")))

  /** Exact dedup: one surviving row per distinct value of `keys`, the
    * survivor being the row with the smallest `tieBreak`. Returns the
    * full original row set, filtered — implemented as a row_number
    * window over the key so arbitrary payload columns survive without
    * being shuffled twice. */
  def exact(df: DataFrame, keys: Seq[String], tieBreak: String): DataFrame = {
    val q = graft.Names.quoted _
    val rn = graft.Names.fresh("__rn", df.columns)
    val w = Window.partitionBy(keys.map(k => col(q(k))): _*).orderBy(col(q(tieBreak)))
    df.withColumn(rn, row_number().over(w))
      .filter(col(q(rn)) === 1)
      .drop(rn)
  }

  /** Near-dup removal by normalized fingerprint: groups rows whose
    * normalized text is identical. */
  def byFingerprint(df: DataFrame, textCol: String, tieBreak: String): DataFrame = {
    val fp = graft.Names.fresh("__fp", df.columns)
    exact(df.withColumn(fp, fingerprint(col(graft.Names.quoted(textCol)))), Seq(fp), tieBreak)
      .drop(fp)
  }

  /** Incremental-ingest dedup — the daily-batch shape: classify every
    * document of a NEW batch against an EXISTING corpus without
    * re-deduplicating the corpus. Returns one row per batch document:
    * `(doc_id, fp, status)` with status `'dup_of_corpus'` (normalized
    * fingerprint already present in the corpus), `'new'` (first
    * occurrence of its fingerprint within the batch), or
    * `'dup_in_batch'` (a lower-id batch row owns the fingerprint).
    * Corpus membership wins over batch ordering, mirroring how an
    * ingest pipeline discards against the index first.
    *
    * Null text normalizes to empty BEFORE fingerprinting, so null-text
    * rows carry a real (shared) fingerprint: they group with each
    * other in the batch window AND match null/empty-text corpus docs
    * in the membership join — without the guard, SQL null semantics
    * would group them in the window (NULLs partition together) but
    * never match them in the equi-join, yielding self-contradictory
    * statuses.
    *
    * 100 TB shape: the corpus contributes ONLY its distinct 16-byte
    * fingerprint set (the corpus index — in production precomputed,
    * persisted, and bucketed by fp so the per-batch join bucket-prunes
    * instead of re-shuffling the index); corpus text never moves. The
    * batch side is one fingerprint projection + a window keyed on fp.
    * Both exchanges carry digests, never payloads. */
  def incremental(corpus: DataFrame, batch: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val q = graft.Names.quoted _
    val fpCol = fingerprintOrEmpty(col(q(textCol)))
    incrementalByFp(
      corpus.select(fpCol.as("fp")),
      batch.select(col(q(idCol)).as("doc_id"), fpCol.as("fp")))
  }

  /** [[incremental]]'s core on precomputed fingerprints — use this
    * form when the corpus fingerprint index already exists (the
    * production case: computed once at ingest, persisted, reused by
    * every subsequent batch) or when corpus and batch derive from one
    * scan that should not be fingerprinted per slice (q70). */
  def incrementalByFp(corpusFps: DataFrame, batchFps: DataFrame): DataFrame = {
    val corpusIdx = corpusFps.select(col("fp")).distinct()
      .withColumn("__in_corpus", lit(true))
    val w = Window.partitionBy(col("fp")).orderBy(col("doc_id"))
    batchFps.select(col("doc_id"), col("fp"))
      .withColumn("__rn", row_number().over(w))
      .join(corpusIdx, Seq("fp"), "left")
      .select(col("doc_id"), col("fp"),
        when(coalesce(col("__in_corpus"), lit(false)), lit("dup_of_corpus"))
          .when(col("__rn") === 1, lit("new"))
          .otherwise(lit("dup_in_batch")).as("status"))
  }

  /** Erasure-APPLY on the shipped fingerprint index (`(doc_id, fp)`,
    * one row per contributing doc — the [[incrementalByFp]] corpus
    * side): a pure id anti-join; fold ≡ rebuild-without trivially,
    * because the index is row-per-contributor. Named so every shipped
    * artifact family's erase has ONE audited spelling (the q294/q295
    * discipline: SigIndex → [[MinHashLSH.indexErase]], chunk store →
    * [[Fingerprint.chunkIndexErase]], classifier counts →
    * [[NbClassifier.eraseCounts]], this index → here). */
  def fingerprintIndexErase(index: DataFrame, eraseIds: DataFrame): DataFrame =
    index.join(eraseIds.select(col("doc_id")), Seq("doc_id"), "left_anti")

  /** How [[dupSpanStats]] materializes the exploded (doc_id, gram-hash)
    * stream, which BOTH aggregation branches consume. The stream is
    * NOT small: one row per distinct gram position at ~16 bytes/row
    * against ~6 bytes/token of source text makes it roughly 2–4× the
    * corpus text size — at 100 TB that is a several-hundred-TB
    * footprint, so the trade must be the caller's. */
  sealed trait GramMaterialization
  object GramMaterialization {
    /** Persist MEMORY_AND_DISK (Caches-tracked, releasable). Right when
      * the cluster's aggregate storage comfortably holds ~2–4× the
      * corpus text — and at bench scale. Default. */
    case object Persist extends GramMaterialization
    /** Run the tokenize+hash traversal once per consumer (twice total).
      * Nothing is stored; right when the gram stream exceeds what the
      * cluster can spill — CPU is re-spent instead of storage. */
    case object Recompute extends GramMaterialization
    /** Eager `localCheckpoint`: truncates lineage AND materializes, for
      * iterative callers layering more rounds on top. Executor-local
      * (not fault-tolerant on a cluster — a lost executor loses the
      * partition; use a checkpoint dir for that). */
    case object LocalCheckpoint extends GramMaterialization
  }

  /** Exact-substring duplication stats (the RefinedWeb / Gopher
    * "duplicated span" curation signal): for each document, the
    * fraction of its DISTINCT word n-grams that also occur in at least
    * one other document. Wholesale-copied boilerplate scores near 1;
    * original text near 0 — thresholding on `dup_fp` is the
    * exact-substring counterpart of MinHash near-dedup (which scores
    * whole-document similarity, not span reuse).
    *
    * Scale design: n-grams are hashed to 60-bit ints by the codegen'd
    * `shingle_bases` expression and deduplicated per document BEFORE
    * the explode, so the only shuffles are keyed on (gram-hash) then
    * (doc_id) — 8-byte keys, never text. Gram-frequency skew (a
    * boilerplate gram in every doc) is a counting aggregation, not a
    * pair expansion, so no quadratic bucket risk exists here. The one
    * corpus-proportional footprint is the exploded gram stream itself
    * (~2–4× the corpus text — see [[GramMaterialization]]); `grams`
    * picks who pays: storage (Persist/LocalCheckpoint) or a second
    * tokenize pass (Recompute).
    *
    * Returns (doc_id, n_grams, n_shared, dup_fp) with dup_fp in
    * fixed-point millionths. Blank documents (null or whitespace-only
    * text) are excluded from the gram stream and report 0s: the
    * collapsed whole-text shingle of a blank doc is the empty string,
    * and letting blank docs score 1000000 against each other would
    * make a duplication threshold silently drop every empty row.
    * Short-but-nonblank docs DO collapse to one whole-text gram, so
    * two identical short docs correctly score as full duplicates.
    */
  def dupSpanStats(docs: DataFrame, idCol: String, textCol: String,
      gramN: Int = 8,
      grams: GramMaterialization = GramMaterialization.Persist): DataFrame = {
    graft.GraftExtensions.ensure(docs.sparkSession)
    val q = graft.Names.quoted _
    val gramSets = docs
      .filter(length(trim(col(q(textCol)))) > 0)
      .select(col(q(idCol)).as("doc_id"),
        array_distinct(expr(s"shingle_bases(${q(textCol)}, $gramN)")).as("gs"))
    // two plan branches consume the gram stream (the per-gram count
    // and the join back), and the partial aggregate between them
    // defeats exchange reuse — so without materialization the
    // tokenize+hash traversal runs once per branch
    val raw = gramSets.select(col("doc_id"), explode(col("gs")).as("g"))
    val exploded = grams match {
      case GramMaterialization.Persist => Caches.persistTracked(raw)
      case GramMaterialization.Recompute => raw
      case GramMaterialization.LocalCheckpoint => raw.localCheckpoint()
    }
    // docs-per-gram: two-level partial aggregation on the gram hash
    val gramDocs = exploded.groupBy(col("g"))
      .agg(count(lit(1)).as("n_docs_with"))
    val perDoc = exploded.join(gramDocs, "g")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("n_docs_with") >= 2, 1L).otherwise(0L)).as("n_shared"))
    docs.select(col(q(idCol)).as("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        when(coalesce(col("n_grams"), lit(0L)) === 0, lit(0L))
          .otherwise(expr(
            "cast(floor(1000000.0 * cast(n_shared as double) / cast(n_grams as double)) as bigint)"))
          .as("dup_fp"))
  }

  /** The duplicated-gram blocklist `(g)` — every `gramN`-token word
    * n-gram (60-bit `shingle_bases` hash) occurring at least `minOcc`
    * times across the corpus, in-document repeats included (the
    * boilerplate signature). This is the SHIPPABLE artifact
    * [[stripSpans]] serves from ([[graft.llm.Artifacts
    * .saveIndexFrame]]): built once over the corpus, loaded by every
    * ingest batch. Docs shorter than `gramN` tokens contribute no
    * grams (their whole-text shingle is not a span). One hash-keyed
    * aggregate over 8-byte keys; text never shuffles. */
  def dupGramIndex(docs: DataFrame, idCol: String, textCol: String,
      gramN: Int, minOcc: Long = 2L): DataFrame = {
    require(minOcc >= 2L, "minOcc < 2 would blocklist every gram")
    blocklistOf(dupGramCounts(docs, idCol, textCol, gramN), minOcc)
  }

  /** The dup-gram COUNTS frame `(g, n)` — the MAINTAINABLE form of
    * the blocklist artifact: ship the per-gram occurrence counts and
    * derive the strip's blocklist as the `n >= minOcc` view
    * ([[blocklistOf]]). Counts are a commutative monoid (the
    * chunk-index discipline), so the artifact folds at crawl cadence
    * through [[dupGramDelta]]/[[dupGramErase]] with fold ≡ rebuild
    * exactly — and the threshold view means a gram crossing `minOcc`
    * in EITHER direction enters/leaves the blocklist with no special
    * casing. */
  def dupGramCounts(docs: DataFrame, idCol: String, textCol: String,
      gramN: Int): DataFrame = {
    require(gramN > 0, "gramN must be positive")
    graft.GraftExtensions.ensure(docs.sparkSession)
    val q = graft.Names.quoted _
    docs
      .filter(size(graft.llm.TextAnalysis.tokens(col(q(textCol)))) >= gramN)
      .select(explode(expr(s"shingle_bases(${q(textCol)}, $gramN)")).as("g"))
      .groupBy(col("g")).agg(count(lit(1)).as("n"))
  }

  /** The strip-ready blocklist view of a counts frame. */
  def blocklistOf(counts: DataFrame, minOcc: Long): DataFrame =
    counts.filter(col("n") >= minOcc).select(col("g"))

  /** Fold an arrival batch INTO the shipped gram counts — arrivals
    * gram-hash row-locally, one key-keyed merge; fold ≡ rebuild by
    * the count monoid (pinned in DupGramLifecycleSpec). Same
    * disjoint-arrival contract as every append fold. */
  def dupGramDelta(counts: DataFrame, arrivals: DataFrame, idCol: String,
      textCol: String, gramN: Int): DataFrame =
    counts.unionByName(dupGramCounts(arrivals, idCol, textCol, gramN))
      .groupBy(col("g")).agg(sum(col("n")).cast("bigint").as("n"))

  /** Fold an erased doc set OUT of the shipped gram counts — the
    * erased docs re-hash row-locally (never the corpus), counts
    * decrement, zero-count grams delete; a gram falling back under
    * `minOcc` leaves the blocklist through the [[blocklistOf]] view
    * automatically. Contributor precondition as
    * [[NbClassifier.eraseCounts]]. */
  def dupGramErase(counts: DataFrame, erased: DataFrame, idCol: String,
      textCol: String, gramN: Int): DataFrame =
    counts
      .join(dupGramCounts(erased, idCol, textCol, gramN)
        .select(col("g"), col("n").as("__en")), Seq("g"), "left")
      .select(col("g"),
        (col("n") - coalesce(col("__en"), lit(0L))).cast("bigint").as("n"))
      .filter(col("n") > 0L)

  /** Exact duplicated-SPAN removal (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better", arXiv:2107.06499 —
    * the suffix-array dedup re-expressed set-oriented): every token
    * covered by a `gramN`-gram whose hash is in `dupGrams` is
    * REMOVED from the document, and the survivors rejoin in order.
    * [[dupSpanStats]] reports span duplication; this operator acts on
    * it — the curation step that strips wholesale-copied boilerplate,
    * licence blocks and navigation chrome without dropping the whole
    * document.
    *
    * Output one row per input doc: `(doc_id, n_tok, n_removed,
    * clean_text)` — `clean_text` is the WHITESPACE-NORMALIZED rejoin
    * of surviving tokens (single spaces; the tokenizer's view, not
    * original bytes). Docs shorter than `gramN` tokens pass through
    * untouched; empty/null text reads (0, 0, "").
    *
    * ONE spelling, streaming-legal by construction — the token rows
    * and the dup-gram start rows are two PROJECTIONS of the input
    * unioned (no self-join), the blocklist membership is a
    * stream-static semi-join, and everything reassembles in exactly
    * ONE doc-keyed aggregate whose projection is row-local array
    * arithmetic (covered = the union of [start, start+gramN) windows;
    * survivors = tokens at uncovered offsets). So
    * [[graft.streaming.Streams.spanStripIngest]] IS this function on
    * a streaming frame (stream == batch pinned in StreamingSpec).
    *
    * 100 TB shape: the one shuffle keys (token + dup-start) rows by
    * doc_id — the same corpus-token-order footprint any reassembly
    * pays; gram hashing is scan-local; the per-doc projection is
    * bounded by doc length (worst case len·cov membership tests —
    * doc-local, never cross-doc). */
  def stripSpans(docs: DataFrame, idCol: String, textCol: String,
      gramN: Int, dupGrams: DataFrame): DataFrame = {
    require(gramN > 0, "gramN must be positive")
    graft.GraftExtensions.ensure(docs.sparkSession)
    val q = graft.Names.quoted _
    val tokRows = docs
      .select(col(q(idCol)).as("doc_id"),
        posexplode_outer(graft.llm.TextAnalysis.tokens(col(q(textCol))))
          .as(Seq("__i", "__tok")))
      .select(col("doc_id"), lit(0).as("__kind"), col("__i"), col("__tok"))
    val gramRows = docs
      .select(col(q(idCol)).as("doc_id"), col(q(textCol)).as("__text"))
      .filter(size(graft.llm.TextAnalysis.tokens(col("__text"))) >= gramN)
      .select(col("doc_id"),
        posexplode(expr(s"shingle_bases(__text, $gramN)"))
          .as(Seq("__i", "__g")))
      .join(dupGrams.select(col("g").as("__g")), Seq("__g"), "left_semi")
      .select(col("doc_id"), lit(1).as("__kind"), col("__i"),
        lit(null).cast("string").as("__tok"))
    tokRows.unionByName(gramRows)
      .groupBy(col("doc_id"))
      .agg(
        sort_array(collect_list(when(
          col("__kind") === 0 && col("__i").isNotNull,
          struct(col("__i").as("i"), col("__tok").as("tok"))))).as("__tl"),
        collect_set(when(col("__kind") === 1, col("__i"))).as("__starts"))
      .select(col("doc_id"), col("__tl"),
        expr(s"array_distinct(flatten(transform(__starts, " +
          s"p -> sequence(p, p + ${gramN - 1}))))").as("__cov"))
      .select(col("doc_id"),
        size(col("__tl")).cast("bigint").as("n_tok"),
        expr("filter(__tl, x -> NOT array_contains(__cov, x.i))")
          .as("__kept"))
      .select(col("doc_id"), col("n_tok"),
        (col("n_tok") - size(col("__kept"))).cast("bigint").as("n_removed"),
        expr("concat_ws(' ', transform(__kept, x -> x.tok))")
          .as("clean_text"))
  }

  /** [[stripSpans]] with the blocklist built from the corpus itself
    * ([[dupGramIndex]] at `minOcc`) — the batch curation card; the
    * ingest path ships the index and serves arrivals through
    * [[stripSpans]] directly. Two tokenize passes by design (the
    * blocklist aggregate and the strip scan — the
    * [[GramMaterialization.Recompute]] trade; persist the gram stream
    * upstream if storage is cheaper than CPU). */
  def removeDupSpans(docs: DataFrame, idCol: String, textCol: String,
      gramN: Int = 8, minOcc: Long = 2L): DataFrame =
    stripSpans(docs, idCol, textCol, gramN,
      dupGramIndex(docs, idCol, textCol, gramN, minOcc))

  /** Span-removal aggressiveness SWEEP (r16 verdict ask #7): price
    * what [[removeDupSpans]] would strip across a (gramN × minOcc)
    * grid BEFORE committing the curation decision — Lee et al.'s
    * operating point is corpus-dependent, and defaulting it is how a
    * pipeline silently deletes 30% of its tokens. One row per grid
    * cell: `(gram_n, min_occ, n_blocklist_grams, n_docs_touched,
    * tokens_removed, total_tokens, strip_ppm)` where `tokens_removed`
    * is EXACTLY the token count [[stripSpans]] would remove at that
    * cell (coverage = union of [start, start+gramN) windows, the same
    * arithmetic — pinned against the actual strip in SpanSweepSpec).
    *
    * Cost shape (the q193 threshold-sweep discipline): ONE gram
    * position frame per gramN, persisted and shared by every minOcc
    * cell — the counts aggregate, the blocklist sizes and the
    * coverage pass all derive from it; minOcc thresholds multiply
    * only the post-join filter, never the tokenize. The per-(doc,
    * cell) coverage projection is row-local array arithmetic bounded
    * by doc length (the stripSpans bound); cells are a literal grid
    * (broadcast, never shuffled). */
  def spanSweep(docs: DataFrame, idCol: String, textCol: String,
      gramNs: Seq[Int], minOccs: Seq[Long]): DataFrame = {
    require(gramNs.nonEmpty && minOccs.nonEmpty, "empty sweep grid")
    require(minOccs.forall(_ >= 2L), "minOcc < 2 blocklists every gram")
    // a duplicated gramN silently doubles the tokenize/count/coverage
    // scans and emits duplicate rows; a duplicated minOcc duplicates
    // rows within a gramN — the fleissPivot distinct-classes guard
    require(gramNs.distinct == gramNs, s"duplicate gramN in $gramNs")
    require(minOccs.distinct == minOccs, s"duplicate minOcc in $minOccs")
    graft.GraftExtensions.ensure(docs.sparkSession)
    val q = graft.Names.quoted _
    val session = docs.sparkSession
    import session.implicits._
    val grid = minOccs.toDF("min_occ")
    val total = docs.agg(coalesce(sum(
      graft.llm.TextAnalysis.tokenCount(col(q(textCol))).cast("bigint")),
      lit(0L)).as("total_tokens"))
    gramNs.map { gramN =>
      val occ = Caches.persistTracked(docs
        .select(col(q(idCol)).as("doc_id"), col(q(textCol)).as("__text"))
        .filter(size(graft.llm.TextAnalysis.tokens(col("__text"))) >= gramN)
        .select(col("doc_id"),
          posexplode(expr(s"shingle_bases(__text, $gramN)"))
            .as(Seq("__p", "__g"))))
      val cnt = Caches.persistTracked(
        occ.groupBy(col("__g")).agg(count(lit(1)).as("__n")))
      val blk = cnt.crossJoin(broadcast(grid))
        .filter(col("__n") >= col("min_occ"))
        .groupBy(col("min_occ"))
        .agg(count(lit(1)).as("n_blocklist_grams"))
      val removedPerDoc = occ.join(cnt, Seq("__g"))
        .crossJoin(broadcast(grid))
        .filter(col("__n") >= col("min_occ"))
        .groupBy(col("doc_id"), col("min_occ"))
        .agg(collect_set(col("__p")).as("__st"))
        .select(col("min_occ"),
          size(expr("array_distinct(flatten(transform(__st, " +
            s"p -> sequence(p, p + ${gramN - 1}))))"))
            .cast("bigint").as("__removed"))
      val agg = removedPerDoc.groupBy(col("min_occ"))
        .agg(count(lit(1)).as("n_docs_touched"),
          sum(col("__removed")).as("tokens_removed"))
      grid.join(blk, Seq("min_occ"), "left")
        .join(agg, Seq("min_occ"), "left")
        .crossJoin(broadcast(total))
        .select(lit(gramN.toLong).as("gram_n"), col("min_occ"),
          coalesce(col("n_blocklist_grams"), lit(0L))
            .as("n_blocklist_grams"),
          coalesce(col("n_docs_touched"), lit(0L)).as("n_docs_touched"),
          coalesce(col("tokens_removed"), lit(0L)).as("tokens_removed"),
          col("total_tokens"),
          expr("coalesce(tokens_removed, 0L) * 1000000L " +
            "div greatest(total_tokens, 1L)").as("strip_ppm"))
    }.reduce(_ unionByName _)
  }

  /** Segment-level (paragraph) duplication stats: split each document
    * into NON-overlapping token segments of `segLen` tokens (the last
    * segment may be shorter), hash each segment, and report per
    * document how many of its segments also occur elsewhere in the
    * corpus — the RefinedWeb-style "drop documents whose paragraphs
    * are mostly copies" signal. The corpus here is single-line, so
    * fixed-width token windows stand in for the paragraph delimiter;
    * with `\n\n`-delimited text the split expression is the only line
    * that changes.
    *
    * Contrast with [[dupSpanStats]]: that operator slides an
    * OVERLAPPING n-gram window (positional span coverage), this one
    * tiles the document (segment identity), and "duplicated" here
    * means the segment's total occurrence count across the corpus is
    * >= 2 — so a segment repeated within one document counts too,
    * which is exactly what boilerplate detection wants.
    *
    * Scale design: the exploded segment stream is ~1/segLen the size
    * of the gram stream (one row per segLen tokens, not per token),
    * keyed by a 60-bit hash — one hash-shuffle for the occurrence
    * count, one for the per-doc rollup; text itself never shuffles
    * (segments are hashed in the map stage). Docs with no tokens are
    * kept via the left-join spine and report zeros.
    */
  def segmentDupStats(docs: DataFrame, idCol: String, textCol: String,
      segLen: Int = 16): DataFrame = {
    require(segLen > 0, "segLen must be positive")
    val q = graft.Names.quoted _
    val toks = graft.llm.TextAnalysis.tokens(col(q(textCol)))
    // sequence(0, n-1) is only safe for n >= 1: Spark's default step
    // for start > stop is -1, so empty docs must not reach it
    val nonEmpty = docs
      .select(col(q(idCol)).as("doc_id"), toks.as("__toks"))
      .filter(size(col("__toks")) > 0)
    val segs = nonEmpty.select(col("doc_id"),
      explode(expr(
        s"""transform(sequence(0, cast(ceil(size(__toks) / ${segLen}.0) AS INT) - 1),
           |          i -> concat_ws(' ', slice(__toks, i * $segLen + 1, $segLen)))"""
          .stripMargin)).as("seg"))
    // 60-bit md5-prefix hash: collision-negligible at corpus scale,
    // always positive, and replayable in any SQL engine with md5()
    val hashed = segs.select(col("doc_id"),
      conv(substring(md5(col("seg").cast("binary")), 1, 15), 16, 10)
        .cast("bigint").as("h"))
    val occ = hashed.groupBy(col("h")).agg(count(lit(1)).as("n_occ"))
    val perDoc = hashed.join(occ, "h")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_segs"),
        sum(when(col("n_occ") >= 2, 1L).otherwise(0L)).as("n_dup_segs"))
    docs.select(col(q(idCol)).as("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_segs"), lit(0L)).as("n_segs"),
        coalesce(col("n_dup_segs"), lit(0L)).as("n_dup_segs"),
        when(coalesce(col("n_segs"), lit(0L)) === 0, lit(0L))
          .otherwise(expr(
            "cast(floor(1000000.0 * cast(n_dup_segs as double) / cast(n_segs as double)) as bigint)"))
          .as("seg_dup_fp"))
  }

  /** Connected components of a near-duplicate graph: every vertex is
    * labeled with the smallest id reachable through the edge set —
    * the cluster key for transitive dedup ("A≈B, B≈C ⇒ keep one of
    * A,B,C", which pairwise dedup alone cannot express).
    *
    * Algorithm: min-label propagation to fixpoint over a
    * PARTITIONER-AWARE RDD loop — the one genuinely RDD-shaped piece
    * of the engine. A DataFrame formulation pays Catalyst planning
    * plus one AQE stage-job per exchange PER ROUND (~5 sequential
    * driver jobs a round, ~60 ms each measured on an idle local box
    * — pure scheduling, zero data); here every round is ONE job whose
    * stages chain narrow co-partitioned joins: the symmetrized edge
    * set is hash-partitioned once by label-owner, labels live on the
    * same partitioner, so the neighbor-label lookup is narrow, the
    * round's single shuffle is the per-receiver `reduceByKey(min)`,
    * and the merge back into labels is narrow again. Convergence
    * detection rides a `longAccumulator` inside the same action
    * (over-count on a task retry only delays the exit by a no-op
    * round — it can never report a false fixpoint, because a truly
    * stable round adds zero regardless of retries). Rounds needed =
    * graph diameter + 1; per-round state is persisted and the
    * previous round released, so memory stays one label-frame deep
    * (on a cluster add periodic `checkpoint` for fault tolerance —
    * local mode cannot lose partitions).
    *
    * The converged fixpoint is unique, so results are deterministic
    * under any partitioning — the DuckDB oracle computes the same
    * labels via a recursive transitive-closure CTE.
    *
    * `vertices`: one BIGINT `doc_id` per row. `edges`: (doc_a, doc_b)
    * pairs. Returns (doc_id, cluster_id).
    *
    * `initLabels` (optional): a pre-seeded (doc_id, cluster_id) frame
    * covering the same vertex set, e.g. `least(doc_id, min incident
    * neighbor)` — the first propagation hop done at init. Any
    * per-vertex upper bound on the component minimum that is itself a
    * reachable label converges to the SAME unique fixpoint, and
    * seeding saves one full round on chain-shaped clusters. */

  def connectedComponents(vertices: DataFrame, edges: DataFrame,
      maxIter: Int = 40, initLabels: Option[DataFrame] = None): DataFrame = {
    val spark = vertices.sparkSession
    import spark.implicits._
    val idType = org.apache.spark.sql.types.LongType
    // validate the SAME columns the body selects — positional
    // schema.take(2) would check the wrong fields on an edges frame
    // with extra or reordered columns
    require(vertices.schema.head.dataType == idType &&
      edges.schema("doc_a").dataType == idType &&
      edges.schema("doc_b").dataType == idType,
      "connectedComponents expects BIGINT vertex ids")
    val P = math.max(1, math.min(spark.sparkContext.defaultParallelism, 16))
    val part = new org.apache.spark.HashPartitioner(P)
    // (label-owner, receiver) both directions, co-partitioned with the
    // labels so each round's lookup join is narrow
    val symByOwner = edges.select(col("doc_a"), col("doc_b")).as[(Long, Long)]
      .rdd.flatMap { case (a, b) => Iterator((a, b), (b, a)) }
      .partitionBy(part)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var labels = initLabels.getOrElse(
        vertices.select(col("doc_id"), col("doc_id").as("cluster_id")))
      .as[(Long, Long)].rdd.partitionBy(part)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // maxIter must exceed the graph diameter by one: the round after
    // the last label change is the one that observes changed == 0.
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIter) {
      val acc = spark.sparkContext.longAccumulator(s"cc_changed_$iter")
      val nbrMin = symByOwner.join(labels) // narrow: same partitioner
        .map { case (_, (recv, lbl)) => (recv, lbl) }
        .reduceByKey(part, math.min(_: Long, _: Long)) // the round's one shuffle
      val next = labels.leftOuterJoin(nbrMin) // narrow: same partitioner
        .mapValues { case (old, nm) =>
          val nu = math.min(old, nm.getOrElse(old))
          if (nu != old) acc.add(1L)
          nu
        }
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      next.count() // ONE driver job materializes the round + the metric
      changed = acc.value
      labels.unpersist(blocking = false)
      labels = next
      iter += 1
    }
    symByOwner.unpersist(blocking = false)
    // returning mid-propagation labels would silently violate the
    // "smallest reachable id" contract — fail loudly instead
    require(changed == 0,
      s"connectedComponents did not converge within $maxIter rounds " +
        s"($changed labels still changing) — raise maxIter (graph diameter exceeds it)")
    labels.toDF("doc_id", "cluster_id")
  }

  /** INCREMENTAL connected-components maintenance: fold an arrival
    * batch into an EXISTING clustering without re-running the full
    * loop over history — the crawl-cadence answer to "q38 recomputes
    * the closure on any change".
    *
    * Inputs: `existing` = (doc_id, cluster_id), a correct min-label
    * clustering (every cluster_id is the smallest member id — what
    * [[connectedComponents]] produces); `newDocs` = (doc_id) arrival
    * vertices, ids NOT present in `existing`; `newEdges` =
    * (doc_a, doc_b) links discovered for the batch — each endpoint
    * may be an old id or a new one (new↔old, new↔new, and late
    * old↔old evidence all fold in).
    *
    * How: components TOUCHED by the delta (clusters owning any edge
    * endpoint) are re-labeled by label propagation over their STAR
    * edges (member ↔ cluster representative — connectivity-equivalent
    * to the original cluster, diameter 2) plus the new edges, seeded
    * from the existing labels; every untouched cluster passes through
    * byte-identical. Work is bounded by the delta's NEIGHBORHOOD
    * (affected members + new edges), never corpus history: old edges
    * are never rebuilt, old text never re-tokenized, and the
    * propagation converges in ~(2 + new-bridge diameter) rounds
    * because stars collapse old clusters to depth one.
    *
    * Guarantee (spec-pinned, and proven on-corpus by q273):
    * `ccDelta(cc(old), new) == cc(old ∪ new)` exactly — min labels
    * re-derive correctly even when one new doc BRIDGES several old
    * clusters, because the merged component sees every member through
    * its star.
    *
    * Relabel-volume bound (pinned by CcDeltaAdversarialSpec): a fold
    * RELABELS at most the members of the touched clusters that do not
    * already carry the merged component's minimum, plus the arrivals —
    * when one arrival bridges the two largest clusters, exactly the
    * larger-minimum cluster's membership plus the arrival changes
    * label, and every untouched cluster's rows pass through
    * byte-identical (the anti-join branch, no recompute). The
    * propagation frame itself is touched-members + arrivals rows —
    * never corpus history — and converges in ~(2 + new-bridge
    * diameter) rounds because stars collapse old clusters to depth
    * one; a chain arriving one edge per epoch therefore costs O(1)
    * rounds per fold, not O(chain length) (the composition-at-depth
    * case, also pinned). */
  def ccDelta(existing0: DataFrame, newDocs: DataFrame,
      newEdges: DataFrame, maxIter: Int = 40): DataFrame = {
    // `existing` is referenced three times (cluster lookup, member
    // expansion, untouched pass-through) and `affectedDocs` three more
    // (star edges, vertex set, seed labels) — persist both so a fold
    // whose `existing` input is itself an expensive lineage (a prior
    // fold in a chain, q279) is priced once, not once per branch (r19;
    // both frames are label-frame-sized, the same footprint the CC
    // loop itself holds; Caches dedupes by canonical plan, so a
    // caller-persisted input is not tracked twice)
    val existing = Caches.persistTracked(existing0)
    val endpoints = newEdges.select(col("doc_a").as("doc_id"))
      .unionByName(newEdges.select(col("doc_b").as("doc_id"))).distinct()
    val affectedClusters = existing.join(endpoints, Seq("doc_id"))
      .select(col("cluster_id")).distinct()
    val affectedDocs = Caches.persistTracked(
      existing.join(affectedClusters, Seq("cluster_id"))
        .select(col("doc_id"), col("cluster_id")))
    // star edges: representative ↔ member reproduces the affected
    // cluster's connectivity in one hop without any original edge
    val starEdges = affectedDocs.filter(col("doc_id") =!= col("cluster_id"))
      .select(col("cluster_id").as("doc_a"), col("doc_id").as("doc_b"))
    val verts = affectedDocs.select(col("doc_id"))
      .unionByName(newDocs.select(col("doc_id")))
      .unionByName(endpoints)
      .distinct()
    // seed: existing labels where known, self-labels for arrivals
    val init = verts.join(affectedDocs, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
    val relabeled = connectedComponents(verts,
      starEdges.unionByName(newEdges.select(col("doc_a"), col("doc_b"))),
      maxIter, initLabels = Some(init))
    existing.join(affectedClusters, Seq("cluster_id"), "left_anti")
      .select(col("doc_id"), col("cluster_id"))
      .unionByName(relabeled)
  }

  /** Bounded max-propagation with per-hop halving: after `rounds`
    * rounds, `s(v) = max over nodes u within `rounds` hops of
    * `s₀(u) div 2^dist(u,v)`` — the decay-with-distance spread used
    * by the guilt-by-duplication card (q204). Integer floor halving,
    * so every score is exact and oracle-replayable; max (not sum) so
    * dense spam clusters cannot overflow or double-count. Scale: the
    * LinkRank round discipline — symmetrized edges and each round's
    * node-sized scores persisted, one join + one dst-keyed max
    * aggregate per round. `seeds` = (doc_id, s); `edges` =
    * (src, dst), symmetrized here. Edge endpoints ABSENT from `seeds`
    * enter the score frame at s=0 (one node-sized anti-join, round
    * 0 only) — without that a seedless node has no row in the score
    * frame to relay through, silently cutting every propagation path
    * that crosses it (ADVICE r13); with it the formula above holds on
    * ANY seed/edge combination, and nodes named only in `seeds`
    * (isolated, no edges) still pass through untouched. */
  def maxPropagate(seeds: DataFrame, edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, "at least one propagation round")
    val sym = Caches.persistTracked(
      edges.select(col("src"), col("dst"))
        .unionByName(edges.select(col("dst").as("src"), col("src").as("dst"))))
    val seeded = seeds.select(col("doc_id"), col("s"))
    var sc = Caches.persistTracked(seeded.unionByName(
      sym.select(col("src").as("doc_id")).distinct()
        .join(seeded.select(col("doc_id")), Seq("doc_id"), "left_anti")
        .select(col("doc_id"), lit(0L).as("s"))))
    for (_ <- 1 to rounds) {
      val m = sym
        .join(sc.select(col("doc_id").as("src"), col("s")), "src")
        .groupBy(col("dst")).agg(max(col("s")).as("mx"))
      sc = Caches.persistTracked(
        sc.join(m.withColumnRenamed("dst", "doc_id"), Seq("doc_id"), "left")
          .select(col("doc_id"),
            greatest(col("s"), coalesce(expr("mx div 2"), lit(0L))).as("s")))
    }
    sc
  }

  /** Sorted-neighborhood candidate pairs — the classic record-linkage
    * blocking alternative to MinHash/SimHash banding: sort by the
    * normalized text, compare each row only to its `windowSize`
    * successors in sort order. Near-identical texts sort adjacent, so
    * the window finds them in O(n·w) candidates with ZERO hashing
    * parameters to tune — the complement of LSH (which catches edits
    * anywhere, but misses nothing only at matching band settings).
    *
    * A GLOBAL sort order would serialize 100 TB through one window
    * task, so the sort runs per BLOCK — the first `blockPrefixLen`
    * normalized characters — exactly the banding trade LSH makes:
    * pairs that straddle a block boundary are out of reach, which is
    * the documented recall cost of distributing the neighborhood scan
    * (blocks are hash-partitioned and each block's window sorts only
    * its own rows). Ordering inside a block is `(key, id)`, so ties
    * on identical normalized text are broken deterministically and
    * the pair set replays in any engine.
    *
    * Output per candidate pair: block, `doc_lo`/`doc_hi` (id-ordered),
    * `pos_dist` (neighborhood offset, 1..w), `len_diff_chars`
    * (normalized-length gap — the cheap pre-verify every SNM pipeline
    * filters on) and `same_norm` (exact normalized equality). Null
    * ids or texts are excluded (no sort position). */
  def snmPairs(df: DataFrame, idCol: String, textCol: String,
      blockPrefixLen: Int = 4, windowSize: Int = 2,
      maxBlockSize: Int = 0): DataFrame = {
    require(blockPrefixLen > 0 && windowSize > 0,
      "blockPrefixLen and windowSize must be positive")
    snmPairsByKey(snmKeyed(df, idCol, textCol), blockPrefixLen, windowSize,
      maxBlockSize)
  }

  /** (doc_id, k) projection shared by the SNM passes — the null
    * contract lives HERE so every keying applies it identically. Null
    * filter AFTER the cast: a non-castable id becomes a SQL null at
    * the cast, and the documented contract excludes it (a null doc_id
    * must never reach least/greatest in the pair rows). */
  private def snmKeyed(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(graft.Names.quoted(idCol)).cast("bigint").as("doc_id"),
        normalizeText(col(graft.Names.quoted(textCol))).as("k"))
      .filter(col("doc_id").isNotNull && col("k").isNotNull)

  /** One window scan over one (doc_id, k) keying of the corpus — the
    * shared core of the forward pass ([[snmPairs]]) and the
    * reversed-key second pass ([[snmPairsMultiPass]]).
    *
    * `maxBlockSize > 0` is the hot-prefix skew guard, the SNM
    * analogue of the LSH `maxBucketSize` cap: blocks are 4-char
    * normalized prefixes, so shared boilerplate ("the ", a common
    * header) can funnel a large corpus fraction into ONE block whose
    * per-block sort is exactly the single-task bottleneck per-block
    * execution exists to avoid. Overfull blocks are dropped BEFORE
    * the neighborhood window (a count window on the same partition
    * key — no extra shuffle); like capBuckets, a dropped block
    * carries near-zero dedup signal per comparison, and the recall
    * card (q174) is the instrument that prices the loss. 0 = off. */
  private def snmPairsByKey(keyed: DataFrame, blockPrefixLen: Int,
      windowSize: Int, maxBlockSize: Int): DataFrame = {
    val blocked0 = keyed
      .withColumn("block", substring(col("k"), 1, blockPrefixLen))
    val base =
      if (maxBlockSize > 0) {
        val wb = Window.partitionBy(col("block"))
        blocked0.withColumn("__bn", count(lit(1)).over(wb))
          .filter(col("__bn") <= maxBlockSize).drop("__bn")
      } else blocked0
    val w = Window.partitionBy(col("block")).orderBy(col("k"), col("doc_id"))
    // window exprs first, explode second — a Generate operator cannot
    // itself host window expressions
    val withLeads = base.select(col("block") +: col("doc_id") +: col("k") +:
      (1 to windowSize).flatMap(i => Seq(
        lead(col("doc_id"), i).over(w).as(s"_id$i"),
        lead(col("k"), i).over(w).as(s"_k$i"))): _*)
    val neighbors = array((1 to windowSize).map(i =>
      struct(col(s"_id$i").as("id2"), col(s"_k$i").as("k2"),
        lit(i.toLong).as("pos_dist"))): _*)
    withLeads.select(col("block"), col("doc_id"), col("k"),
        explode(neighbors).as("nb"))
      .filter(col("nb.id2").isNotNull)
      .select(col("block"),
        least(col("doc_id"), col("nb.id2")).as("doc_lo"),
        greatest(col("doc_id"), col("nb.id2")).as("doc_hi"),
        col("nb.pos_dist"),
        abs(length(col("k")) - length(col("nb.k2"))).cast("bigint")
          .as("len_diff_chars"),
        (col("k") === col("nb.k2")).as("same_norm"))
  }

  /** Canonical URL dedup key — the web-corpus dedup axis none of the
    * content-blocking families (MinHash/SimHash/SNM) covers: the SAME
    * page crawled twice under cosmetically different URLs (scheme or
    * host case, `www.` prefix, default port, trailing slash, query
    * parameter order, tracking parameters, fragments) must collapse
    * to one key BEFORE any content comparison runs. Normalization,
    * applied in order:
    *
    *  1. fragment dropped (`#…` — client-side only);
    *  2. scheme and host lowercased (RFC 3986 §6.2.2.1; path stays
    *     case-sensitive);
    *  3. the scheme's OWN default port stripped — `:80` only under
    *     `http`, `:443` only under `https` (an unconditional strip
    *     would merge `https://host:80/x`, a genuinely different
    *     origin, into `https://host/x` — ADVICE r13);
    *  4. leading `www.` stripped;
    *  5. trailing slashes stripped from the path;
    *  6. query params split on `&`, tracking params dropped
    *     (`utm_*`, `fbclid`, `gclid` — NOT `ref`, which is frequently
    *     semantic, e.g. `?ref=branch` on a code host; dropping it
    *     would false-merge documents on the axis that decides which
    *     get deleted), the rest SORTED and rejoined (param order is
    *     almost never semantic; sorting makes the key order-free).
    *     Empty query ⇒ no `?`.
    *
    * Pure row-local string surgery (codegen'd regexp/array ops, no
    * UDF, no shuffle) — at 100 TB this runs at scan speed and the
    * only shuffle is whatever consumes the key. The DuckDB oracle
    * (q178) replays each step verbatim; patterns use `[.]`/`[?]`
    * classes instead of backslash escapes so both engines parse them
    * identically. */
  def normalizeUrl(urlCol: String): Column = {
    val q = graft.Names.quoted(urlCol)
    val noFrag = s"regexp_replace($q, '#.*$$', '')"
    val scheme = s"lower(regexp_extract($noFrag, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))"
    val rest = s"regexp_replace($noFrag, '^[A-Za-z][A-Za-z0-9+.-]*://', '')"
    val hostRaw = s"lower(regexp_extract($rest, '^([^/?]*)', 1))"
    val hostPort = s"CASE WHEN $scheme = 'http' " +
      s"THEN regexp_replace($hostRaw, ':80$$', '') " +
      s"WHEN $scheme = 'https' THEN regexp_replace($hostRaw, ':443$$', '') " +
      s"ELSE $hostRaw END"
    val host = s"regexp_replace($hostPort, '^www[.]', '')"
    val pathq = s"regexp_replace($rest, '^[^/?]*', '')"
    val path = s"regexp_replace(regexp_extract($pathq, '^([^?]*)', 1), '/+$$', '')"
    val query = s"regexp_extract($pathq, '[?](.*)$$', 1)"
    val qn = s"array_join(array_sort(filter(split($query, '&'), " +
      "p -> p != '' AND NOT p rlike '^(utm_|fbclid=|gclid=)')), '&')"
    expr(s"concat($scheme, '://', $host, $path, " +
      s"CASE WHEN $qn = '' THEN '' ELSE '?' || $qn END)")
  }

  /** Multi-pass sorted neighborhood — the standard fix for SNM's
    * known blind spot: a pair whose normalized texts differ in their
    * first characters never sorts adjacent, so the single forward
    * pass cannot meet it. A second pass sorts by the REVERSED
    * normalized text (suffix order): a prefix edit leaves the suffix
    * aligned, so the pair meets in pass two, and the union of both
    * passes' candidates strictly dominates either (q174's recall card
    * prices the lift). Reversal is per code point in both engines —
    * exact-parity on this corpus (all-ASCII at every SF, asserted in
    * the spec's fixture) and on any text without combining marks.
    *
    * Output per DISTINCT unordered pair: which pass(es) found it
    * (`in_fwd`/`in_rev`), plus the verify-filter columns
    * (`len_diff_chars`, `same_norm` — both invariant under reversal,
    * aggregated with min/bool_or only for determinism). The keyed
    * projection feeds both passes, so it is persisted (the recurring
    * two-consumer rule); cost is two window scans + one pair-key
    * aggregate — still O(n·w) candidates, zero hash parameters. */
  def snmPairsMultiPass(df: DataFrame, idCol: String, textCol: String,
      blockPrefixLen: Int = 4, windowSize: Int = 2,
      maxBlockSize: Int = 0): DataFrame = {
    require(blockPrefixLen > 0 && windowSize > 0,
      "blockPrefixLen and windowSize must be positive")
    val keyed = Caches.persistTracked(snmKeyed(df, idCol, textCol))
    val fwd = snmPairsByKey(keyed, blockPrefixLen, windowSize, maxBlockSize)
    val rev = snmPairsByKey(
      keyed.select(col("doc_id"), reverse(col("k")).as("k")),
      blockPrefixLen, windowSize, maxBlockSize)
    fwd.withColumn("__f", lit(true)).withColumn("__r", lit(false))
      .unionByName(rev.withColumn("__f", lit(false)).withColumn("__r", lit(true)))
      .groupBy(col("doc_lo"), col("doc_hi"))
      .agg(expr("bool_or(__f)").as("in_fwd"),
        expr("bool_or(__r)").as("in_rev"),
        min(col("len_diff_chars")).as("len_diff_chars"),
        expr("bool_or(same_norm)").as("same_norm"))
  }

  /** Cluster-cohesion card over a verified pair list `(doc_a, doc_b,
    * jaccard_fp)` and its transitive closure `(doc_id, cluster_id)`
    * — the chain-merge instrument behind q304: transitive closures
    * admit A~B~C even when A≁C, so a survivor-per-cluster policy can
    * discard documents that were never near-dups of the kept one.
    * Per multi-doc cluster: verified-edge count vs the pair ceiling
    * (density, floor ppm), `is_tree` (edges == size−1 — every
    * admitted edge is a bridge, the maximally fragile shape), and
    * the weakest admitted link. A chain-merge reads tree-shaped with
    * a min link barely over threshold; a true dup set reads
    * near-complete with high links.
    *
    * Scale shape: one cluster-keyed join of the (already bounded)
    * pair list to the labels, two cluster-keyed aggregates — every
    * frame is cluster-count-sized. Edges are intra-cluster by
    * construction of the closure, so joining on `doc_a`'s label
    * suffices. */
  def cohesionCard(pairs: DataFrame, clusters: DataFrame): DataFrame = {
    val edgeStats = pairs
      .join(clusters.withColumnRenamed("doc_id", "doc_a"), Seq("doc_a"))
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).cast("bigint").as("n_edges"),
        min(col("jaccard_fp")).cast("bigint").as("min_link_jfp"))
    clusters.groupBy(col("cluster_id"))
      .agg(count(lit(1)).cast("bigint").as("n_docs"))
      .filter(col("n_docs") >= 2L)
      .join(edgeStats, Seq("cluster_id"))
      .select(col("cluster_id"), col("n_docs"), col("n_edges"),
        expr("cast(cast(n_edges as decimal(38,0)) * 2000000 " +
          "div (cast(n_docs as decimal(38,0)) * (n_docs - 1)) as bigint)")
          .as("density_ppm"),
        (col("n_edges") === col("n_docs") - 1L).as("is_tree"),
        col("min_link_jfp"))
  }
}
