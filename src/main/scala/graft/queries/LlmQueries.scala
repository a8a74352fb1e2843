package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.llm.{Dedup, TextAnalysis}

/** LLM-training-data pipeline queries over the `documents` table:
  * dedup, text statistics, language ID, quality scoring, multimodal
  * decode, fingerprinting, simhash pairing, and the composed curation
  * pipeline. EVERY query here carries an exact DuckDB oracle —
  * including the algorithm-heavy ones (q28 replays the winnowed
  * rolling hash, q31 replays 64-bit FNV-1a over HUGEINT);
  * SparkEntrySpec asserts queries/oracle key parity so this can't
  * silently drift.
  */
object LlmQueries {

  import TextAnalysis._

  // ---- q16: exact dedup — survivor per text, full rows kept ----
  def q16DedupExact(s: SparkSession, dir: String): DataFrame =
    Dedup.exact(graft.Tables.documents(s, dir), Seq("text"), "doc_id")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))

  // ---- q17: normalized-fingerprint dedup (md5 of collapsed text) ----
  // fingerprint computed once, reused by both the dedup window and
  // the output projection
  def q17DedupNorm(s: SparkSession, dir: String): DataFrame =
    Dedup.exact(
      graft.Tables.documents(s, dir)
        .select(col("doc_id"), Dedup.fingerprint(col("text")).as("fp")),
      Seq("fp"), "doc_id")
      .select(col("doc_id"), col("fp"))

  // ---- q18: per-language corpus statistics ----
  def q18TextStats(s: SparkSession, dir: String): DataFrame = {
    val d = graft.Tables.documents(s, dir)
    val nTok = tokenCount(col("text")).cast("bigint")
    d.groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(nTok).as("sum_tokens"),
        sum(length(col("text")).cast("bigint")).as("sum_chars"),
        max(nTok).as("max_tokens"),
        min(nTok).as("min_tokens"),
        sum(vocabHits(col("text"), DefaultStopwords).cast("bigint")).as("sum_stop_hits"),
        sum(bpeTokenCount(col("text")).cast("bigint")).as("sum_bpe_tokens"))
      .orderBy(col("lang"))
  }

  // ---- q19: language-ID heuristic → confusion matrix vs labels ----
  def q19LangId(s: SparkSession, dir: String): DataFrame =
    graft.Tables.documents(s, dir)
      .withColumn("predicted", langId("text"))
      .groupBy(col("lang"), col("predicted"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("lang"), col("predicted"))

  // ---- q20: per-document quality scoring (fixed-point) ----
  def q20Quality(s: SparkSession, dir: String): DataFrame =
    graft.Tables.documents(s, dir)
      .select(
        col("doc_id"),
        qualityScoreFp("text").as("quality_fp"),
        stopwordRatioFp(col("text"), DefaultStopwords).as("stop_fp"),
        meanTokenLenFp(col("text")).as("mean_tok_len_fp"),
        tokenCount(col("text")).cast("bigint").as("n_tokens"))

  // ---- q27: media frame-sampling plumbing over REAL payloads ----
  // Formerly a stub-decode row; repointed (round 5) so every green row
  // certifies real behavior: payloads are actual BMP/WAV files, so the
  // byte length the frame sampler slices is the true container size
  // (derived by the oracle from the format specs), and the slice
  // arithmetic (trunc(i·len/frames) boundaries, last-slice clamp) is
  // replayed exactly in SQL. The video-frame-sampling shape:
  // array<binary> out, bounded memory per row, typed mapPartitions.
  private val FramesRequested = 4

  def q27Multimodal(s: SparkSession, dir: String): DataFrame = {
    import graft.llm.Multimodal
    import s.implicits._
    Multimodal.documentsAsRealMedia(s, dir)
      .flatMap { p =>
        val frames = Multimodal.sampleFrames(p.content, FramesRequested)
        frames.iterator.zipWithIndex.map { case (f, i) =>
          (p.id, p.mediaType, p.content.length.toLong, frames.size, i, f.length.toLong)
        }
      }
      .toDF("id", "media_type", "n_bytes", "n_frames", "frame_idx", "frame_len")
  }

  // ---- q55: REAL nearest-neighbor BMP resize ----
  // resize() decodes the source pixel array, samples
  // (⌊tx·w/tw⌋, ⌊ty·h/th⌋) in image space, re-encodes with spec row
  // padding — and the result is then RE-DECODED by bmpBandSums to
  // produce the pixel checksum, so a wrong stride/row-order/offset on
  // either side breaks the match. The oracle computes the checksum
  // from first principles: source pixel bytes are (index % 251) by
  // fixture construction, so each target pixel's value is a pure
  // function of (doc_id, tx, ty, channel). Target dims 7×5 force
  // nontrivial padding on both source and target.
  private val ResizeW = 7
  private val ResizeH = 5

  def q55MediaResize(s: SparkSession, dir: String): DataFrame = {
    import graft.llm.Multimodal
    import s.implicits._
    val bmps = Multimodal.documentsAsRealMedia(s, dir)
      .filter((p: Multimodal.MediaPayload) => p.mediaType == "image/bmp")
    Multimodal.resize(bmps, ResizeW, ResizeH)
      .map(r => (r.id, r.width, r.height, r.content.length.toLong,
        Multimodal.bmpBandSums(r.content, 1).map(_(0)).getOrElse(-1L)))
      .toDF("id", "width", "height", "n_bytes", "pix_sum")
  }

  // ---- q56: decoded-sample band energies (real features) ----
  // The feature-extraction path over genuinely decoded media: BMP
  // pixel-channel byte sums and WAV |PCM| energies over contiguous
  // quarter-slices of the decoded sample stream. Pure integer
  // arithmetic over spec-synthesized payloads → exact oracle.
  private val FeatureBands = 4

  def q56MediaFeatures(s: SparkSession, dir: String): DataFrame = {
    import graft.llm.Multimodal
    import s.implicits._
    Multimodal.documentsAsRealMedia(s, dir)
      .flatMap { p =>
        Multimodal.bandEnergies(p, FeatureBands).toSeq.flatMap { arr =>
          arr.iterator.zipWithIndex.map { case (e, b) => (p.id, p.mediaType, b, e) }
        }
      }
      .toDF("id", "media_type", "band", "energy")
  }

  // ---- q207: audio voice-activity segmentation (VAD card) ----
  // The silence-dropping evidence an audio pipeline needs before
  // paying for transcription: per WAV clip (the q47/q56 REAL payloads
  // — spec-compliant RIFF files decoded by the chunk walk, not
  // trusted metadata), 16-sample windows flagged active by
  // absolute-amplitude sum vs half-scale (16384/sample), maximal
  // active runs counted as segments. Integer-exact over decoded PCM,
  // so the oracle replays every window, flag, and run boundary from
  // the synthesis formula. Scale: row-local decode+walk per clip,
  // no shuffle until the (absent) rollup.
  private val VadWin = 16
  private val VadThrPerSample = 16384L
  def q207AudioVad(s: SparkSession, dir: String): DataFrame = {
    import graft.llm.Multimodal
    import s.implicits._
    Multimodal.documentsAsRealMedia(s, dir)
      .filter(_.mediaType == "audio/wav")
      .flatMap { p =>
        Multimodal.wavActivity(p.content, VadWin, VadThrPerSample).map {
          case (nw, na, ns) => (p.id, nw, na, ns)
        }
      }
      .toDF("id", "n_windows", "n_active", "n_segments")
      .withColumn("active_ppm", expr(
        "cast(cast(n_active as decimal(38,0)) * 1000000 " +
          "div greatest(n_windows, 1L) as bigint)"))
  }

  // ---- q47: REAL container decode (BMP + WAV header parsing) ----
  // Payloads are actual spec-compliant BMP/WAV files synthesized from
  // doc_id; decode() parses the real headers back (dims at BMP bytes
  // 18-25, WAV fmt/data chunk walk). The oracle recomputes metadata
  // AND exact file sizes (BMP 4-byte row padding, WAV 44-byte chunk
  // layout) from first principles — certifying encoder and parser
  // against the format spec, not against each other's length. The
  // fingerprint column is omitted: DuckDB cannot md5 bytes it never
  // builds.
  def q47MediaDecode(s: SparkSession, dir: String): DataFrame = {
    import graft.llm.Multimodal
    Multimodal.decode(Multimodal.documentsAsRealMedia(s, dir))
      .toDF()
      .select(col("id"), col("mediaType").as("media_type"),
        col("width"), col("height"),
        col("nFrames").as("n_frames"), col("nBytes").as("n_bytes"))
  }

  // ---- q59: PII scrub (emails / IPv4 / phones) ----
  // The corpus carries no natural PII, so deterministic PII derived
  // from doc_id is appended on BOTH sides (Spark concat, oracle ||)
  // — every row then genuinely exercises all three regexes, and the
  // md5 of the redacted text certifies the exact replacement bytes,
  // not just counts. Patterns live in the Java-regex/RE2 common
  // subset so DuckDB replays them verbatim.
  def q59PiiRedact(s: SparkSession, dir: String): DataFrame = {
    import graft.llm.Pii
    val injected = graft.Tables.documents(s, dir).select(col("doc_id"),
      concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"), lit("@geo.example.org"),
        lit(" from 10."), (col("doc_id") % 200).cast("string"),
        lit(".0."), (col("doc_id") % 250).cast("string"),
        lit(" tel +47 555 "), (col("doc_id") % 90000 + 10000).cast("string")
      ).as("text"))
    Pii.scrub(injected, "text")
      .select(col("doc_id"), col("n_emails"), col("n_ips"), col("n_phones"),
        length(col("clean_text")).cast("bigint").as("clean_len"),
        md5(col("clean_text").cast("binary")).as("clean_md5"))
  }

  // ---- q64: sequential PII scrub (counts-as-redaction semantics) ----
  // scrubSequential counts each pattern on the text AS THE REDACTION
  // SEQUENCE SEES IT, so counts reconcile exactly against clean_text
  // tokens — certified here by emitting BOTH the counts and the token
  // occurrences and hash-comparing all of them. The injected email's
  // domain CONTAINS a dotted quad (user{id}@10.{…}.3.4.com), the exact
  // overlap where q59's detection counts and these redaction counts
  // diverge — so the oracle pins the divergence, not just the happy
  // path.
  def q64PiiSequential(s: SparkSession, dir: String): DataFrame = {
    import graft.llm.Pii
    val injected = graft.Tables.documents(s, dir).select(col("doc_id"),
      concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"), lit("@10."),
        (col("doc_id") % 200).cast("string"), lit(".3.4.com"),
        lit(" from 10."), (col("doc_id") % 200).cast("string"),
        lit(".0."), (col("doc_id") % 250).cast("string"),
        lit(" tel +47 555 "), (col("doc_id") % 90000 + 10000).cast("string")
      ).as("text"))
    Pii.scrubSequential(injected, "text")
      .select(col("doc_id"), col("n_emails"), col("n_ips"), col("n_phones"),
        regexp_count(col("clean_text"), lit(Pii.EmailToken)).cast("bigint").as("tok_emails"),
        regexp_count(col("clean_text"), lit(Pii.Ipv4Token)).cast("bigint").as("tok_ips"),
        regexp_count(col("clean_text"), lit(Pii.PhoneToken)).cast("bigint").as("tok_phones"),
        md5(col("clean_text").cast("binary")).as("clean_md5"))
  }

  // ---- q60: REAL multi-frame container walk + per-frame decode ----
  // Payloads are GVID containers (magic + frame count + concatenated
  // spec-compliant BMPs); sampleVideoFrames hops frame-to-frame via
  // each BMP's declared size field, selects evenly-spaced frames, and
  // each selected frame is then genuinely re-decoded (header parse +
  // pixel checksum). The oracle recomputes frame sizes AND decoded
  // pixel sums from the BMP spec — a wrong walk offset or stride on
  // either side breaks the match. maxTake bounds per-row output: at
  // 100 TB the unselected frames are never copied out of the payload.
  private val VideoFramesTake = 3

  def q60VideoFrames(s: SparkSession, dir: String): DataFrame = {
    import graft.llm.Multimodal
    import s.implicits._
    Multimodal.documentsAsVideo(s, dir)
      .flatMap { p =>
        Multimodal.sampleVideoFrames(p.content, VideoFramesTake).map {
          case (f, nf, bytes) =>
            val (w, h) = Multimodal.decodeBmp(bytes).getOrElse((0, 0))
            val pix = Multimodal.bmpBandSums(bytes, 1).map(_(0)).getOrElse(-1L)
            (p.id, nf, f, w, h, bytes.length.toLong, pix)
        }
      }
      .toDF("id", "n_frames", "frame_idx", "width", "height", "n_bytes", "pix_sum")
  }

  // ---- q63: frame-level video near-dup (multimodal × dedup) ----
  // The q60 container walk composed with the dedup family: every frame
  // of every GVID container is decoded, content-hashed (dims + exact
  // size + pixel checksum through md5), and counted per container —
  // "how many of my frames also appear in another video". Counting agg
  // keyed on frame hashes (q61's shape, no pair expansion). The oracle
  // recomputes every frame hash from the deterministic (doc_id, frame)
  // pixel rule — a wrong decode or hash input on either side breaks it.
  def q63VideoFrameDups(s: SparkSession, dir: String): DataFrame =
    graft.llm.Multimodal.videoFrameDupStats(
      graft.llm.Multimodal.documentsAsVideo(s, dir))

  // ---- q65: whole-payload media dedup over the mixed BMP/WAV corpus ----
  // q63's sibling at payload granularity: content keys from DECODED
  // representations (BMP pixel checksum, WAV |PCM| energy), counting
  // agg on the key hash. The generation rules make real duplicates:
  // even ids repeat (w, h) every lcm-window, odd ids repeat
  // (rate, ch, nf) at id vs id+400 — the oracle recomputes every key
  // from the BMP/WAV specs and must land on the same copy counts.
  def q65MediaDups(s: SparkSession, dir: String): DataFrame =
    graft.llm.Multimodal.mediaDupStats(
      graft.llm.Multimodal.documentsAsRealMedia(s, dir))

  // ---- q61: segment-level (paragraph) duplication stats ----
  // Non-overlapping 12-token segments; "duplicated" = the segment
  // occurs >= 2 times corpus-wide (within-doc repeats count —
  // boilerplate semantics). Complements q50's overlapping-gram span
  // coverage. At sf0.01 ~8% of segment occurrences are duplicated,
  // so the signal is real, not a sea of zeros.
  private val SegmentLen = 12

  def q61SegmentDedup(s: SparkSession, dir: String): DataFrame =
    Dedup.segmentDupStats(graft.Tables.documents(s, dir), "doc_id", "text", SegmentLen)

  // ---- q28: winnowed rolling-hash document fingerprints ----
  // Oracle-checked end-to-end: the rolling hash is a fixed 16-term
  // polynomial, so the DuckDB side embeds the Base^k mod M constants
  // and replays the winnowing window scan with list functions. The
  // xor-fold certifies the fingerprint *values*, not just counts.
  def q28Fingerprints(s: SparkSession, dir: String): DataFrame = {
    graft.llm.Fingerprint.register(s)
    graft.Tables.documents(s, dir)
      .select(col("doc_id"), expr("doc_fingerprints(text)").as("fps"))
      .select(col("doc_id"),
        size(col("fps")).cast("bigint").as("n_fps"),
        expr("aggregate(fps, 0L, (a, x) -> a ^ x)").as("fp_xor"),
        expr("fingerprint_containment_fp(fps, fps)").as("self_containment_fp"))
  }

  // ---- q31: SimHash 64-bit banded near-dup pairs ----
  // The production simhash path end-to-end: FNV-1a fingerprint UDF →
  // 4×16-bit band explode → bucket groupBy → hamming verify.
  // Oracle-checked: FNV-1a's per-byte fold is replayed in DuckDB with
  // list_reduce over HUGEINT (the 40-bit prime keeps products inside
  // int128), see q31Sql.
  def q31SimhashPairs(s: SparkSession, dir: String): DataFrame =
    graft.llm.SimHash.nearDupPairs(graft.Tables.documents(s, dir),
      "doc_id", "text", maxHamming = 12)

  // ---- q36: distinctive terms per language (TF-IDF-shaped) ----
  // Integer arithmetic throughout so the score is engine-exact:
  // score = floor(1e6 * tf_lang / tf_total). Token counts shuffle on
  // (lang, token) with map-side partial aggregation; the corpus text
  // never shuffles. Top-k per language by (score, tf, token) — ties
  // broken lexically so the result is deterministic.
  def q36DistinctiveTerms(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = graft.Tables.documents(s, dir)
      .select(col("lang"), explode(tokens(col("text"))).as("w"))
      .groupBy(col("lang"), col("w")).agg(count(lit(1)).as("tf"))
    val scored = tf.withColumn("tf_total",
      sum(col("tf")).over(Window.partitionBy(col("w"))))
      .withColumn("score",
        expr("cast(floor(1000000.0 * cast(tf as double) / cast(tf_total as double)) as bigint)"))
    val rank = Window.partitionBy(col("lang"))
      .orderBy(col("score").desc, col("tf").desc, col("w").asc)
    scored.withColumn("rn", row_number().over(rank))
      .filter(col("rn") <= 10)
      .select(col("lang"), col("w"), col("tf"), col("score"), col("rn"))
  }

  // ---- q146: emerging terms (frequency-ratio trend card) ----
  // Which vocabulary is NEW: term frequency in the recent half of the
  // corpus (doc_id ≥ N/2 — the deterministic stand-in for a time
  // split) against the older half, scored as the add-one-smoothed
  // ratio floor(1e6·(recent+1)/(older+1)). A support floor keeps
  // one-off noise out; top-20 by (score, recent tf, term) so ties are
  // deterministic. One (half, token) counting aggregate — the corpus
  // text never shuffles — and a vocabulary-sized rank.
  private val EmergeMinRecent = 5L
  private val EmergeTopK = 20
  def q146EmergingTerms(s: SparkSession, dir: String): DataFrame = {
    val d = graft.Tables.documents(s, dir)
    val n = d.count()
    val tf = d.select(
        (col("doc_id") >= lit(n / 2)).as("recent"),
        explode(tokens(col("text"))).as("w"))
      .groupBy(col("w"))
      .agg(sum(when(col("recent"), 1L).otherwise(0L)).as("tf_recent"),
        sum(when(!col("recent"), 1L).otherwise(0L)).as("tf_old"))
      .filter(col("tf_recent") >= EmergeMinRecent)
      .withColumn("score", expr(
        "cast(floor(1000000.0 * cast(tf_recent + 1 as double) " +
          "/ cast(tf_old + 1 as double)) as bigint)"))
    tf.orderBy(col("score").desc, col("tf_recent").desc, col("w").asc)
      .limit(EmergeTopK)
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("score").desc, col("tf_recent").desc, col("w").asc))
        .cast("bigint"))
  }

  // ---- q161: temperature-derived source mixing weights ----
  // The sampling-weight card a multi-source training run ships:
  // weight ∝ tokens^(1/2) (temperature-2 reweighting), normalized to
  // ppm, plus the effective epochs each source runs when the budget
  // equals the corpus token mass (up-sampling factor for small
  // sources, down-sampling for head sources). q57 consumes
  // caller-chosen weights; this derives them from the corpus.
  def q161TemperatureMixture(s: SparkSession, dir: String): DataFrame =
    graft.llm.Sampling.temperatureMixture(
      graft.Tables.documents(s, dir)
        .select(col("source"), tokenCount(col("text")).cast("bigint").as("n_tok")),
      "source", "n_tok")
      .orderBy(col("source"))

  // ---- q163: per-source token-distribution divergence (exact TVD) ----
  // "Does source X speak a different language than the corpus?" —
  // total-variation distance between unigram distributions in exact
  // integer ppm (one final division, no float sums), the
  // vocabulary-level complement of q108's length-histogram drift and
  // q152's composition drift.
  def q163SourceDivergence(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.tokenDivergenceFp(
      graft.Tables.documents(s, dir).select(col("source"), col("text")),
      "source", "text")
      .orderBy(col("source"))

  // ---- q164: sorted-neighborhood dedup candidate pairs ----
  // The third blocking family next to MinHash banding (q21) and
  // SimHash radius probing (q31): block by normalized prefix, sort
  // inside the block, pair each row with its 2 sort-successors. Zero
  // hash parameters; recall trade = pairs straddling a block
  // boundary, the same cut LSH makes at band edges.
  def q164SnmPairs(s: SparkSession, dir: String): DataFrame =
    graft.llm.Dedup.snmPairs(
      graft.Tables.documents(s, dir).select(col("doc_id"), col("text")),
      "doc_id", "text")

  // ---- q177: multi-pass sorted-neighborhood candidates ----
  // q164's forward pass unioned with a reversed-key (suffix-order)
  // second pass: the pairs a prefix edit hides from the forward sort
  // meet in suffix order, so the union strictly dominates either pass
  // (q174's recall card prices the lift per threshold). One row per
  // distinct pair, tagged with which pass(es) found it.
  def q177SnmMultipass(s: SparkSession, dir: String): DataFrame =
    graft.llm.Dedup.snmPairsMultiPass(
      graft.Tables.documents(s, dir).select(col("doc_id"), col("text")),
      "doc_id", "text")

  /** Deterministic per-doc URL fixture for q178 (the corpus carries
    * categorical sources, not URLs): realistic cosmetic variants —
    * scheme/host case, `www.`, default ports, trailing slash, query
    * order, tracking params, fragments — as a pure function of
    * doc_id, in SQL that parses IDENTICALLY in Spark and DuckDB (the
    * linkGraph precedent: one spelling, embedded in both the query
    * and its oracle). Also exercises the NON-cosmetic edges the r13
    * ADVICE flagged: `https…:80` (non-default port, must survive the
    * key — 13 of the 66 sf0.01 clusters carry it) and a semantic
    * `ref=main` param kept in every cluster's key, reordered but
    * never dropped. */
  private val urlSynthSql: String =
    """CASE WHEN doc_id % 3 = 0 THEN 'http' WHEN doc_id % 3 = 1 THEN 'https' ELSE 'HTTPS' END
      | || '://' || CASE WHEN doc_id % 2 = 0 THEN 'www.' ELSE '' END
      | || CASE WHEN doc_id % 5 = 0 THEN 'Docs' ELSE 'docs' END
      | || (doc_id % 40) || '.example.com'
      | || CASE WHEN doc_id % 3 = 1 AND doc_id % 5 = 1 THEN ':443'
      |         WHEN doc_id % 3 = 0 AND doc_id % 5 = 2 THEN ':80'
      |         WHEN doc_id % 3 <> 0 AND doc_id % 5 = 3 THEN ':80' ELSE '' END
      | || '/p/' || (doc_id % 100)
      | || CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END
      | || CASE WHEN doc_id % 6 = 0 THEN '?utm_source=feed&b=2&a=1'
      |         WHEN doc_id % 6 = 3 THEN '?a=1&b=2'
      |         WHEN doc_id % 6 = 2 THEN '?ref=main&a=1'
      |         WHEN doc_id % 6 = 4 THEN '?a=1&ref=main&utm_medium=x'
      |         WHEN doc_id % 6 = 5 THEN '?a=1&b=2&gclid=XyZ' ELSE '' END
      | || CASE WHEN doc_id % 7 = 0 THEN '#frag' ELSE '' END""".stripMargin
      .linesIterator.mkString(" ")

  // ---- q178: URL-canonicalization dedup key card ----
  // The web-corpus dedup axis the content families (MinHash, SimHash,
  // SNM) don't cover: the same page crawled under cosmetically
  // different URLs collapses to one canonical key BEFORE any content
  // comparison. Per surviving key with >=2 docs: cluster size, how
  // many RAW variants it absorbed, and the survivorship pick (lowest
  // doc_id). Scale: key derivation is row-local codegen'd string
  // surgery; the only shuffle is the key groupBy.
  def q178UrlDedupKey(s: SparkSession, dir: String): DataFrame =
    graft.Tables.documents(s, dir)
      .select(col("doc_id"), expr(urlSynthSql).as("url"))
      .select(col("doc_id"), col("url"),
        graft.llm.Dedup.normalizeUrl("url").as("url_key"))
      .groupBy(col("url_key"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("url")).as("n_variants"),
        min(col("doc_id")).as("keep_doc_id"))
      .filter(col("n_docs") >= 2)

  // ---- q184: dedup savings card ----
  // What exact dedup actually BUYS, in the unit budgets are written
  // in: per source, the docs that are a non-first copy of their
  // normalized fingerprint (q17's survivorship rule) and the tokens
  // those copies carry, as a ppm savings rate. One fingerprint-keyed
  // rank window + one source aggregate; token numerators widened to
  // decimal(38,0)/HUGEINT for 100 TB totals (the q180 precedent).
  def q184DedupSavings(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("fp")).orderBy(col("doc_id"))
    graft.Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        Dedup.fingerprintOrEmpty(col("text")).as("fp"),
        TextAnalysis.tokenCount(col("text")).cast("bigint").as("n_tok"))
      .withColumn("__rn", row_number().over(w))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("__rn") > 1, 1L).otherwise(0L)).as("n_dup_docs"),
        sum(col("n_tok")).as("__tt"),
        sum(when(col("__rn") > 1, col("n_tok")).otherwise(0L)).as("__dt"))
      .select(col("source"), col("n_docs"), col("n_dup_docs"),
        col("__tt").cast("bigint").as("n_tokens"),
        col("__dt").cast("bigint").as("dup_tokens"),
        expr("cast(cast(__dt as decimal(38,0)) * 1000000 " +
          "div greatest(__tt, 1L) as bigint)").as("savings_ppm"))
  }

  // ---- q180: per-domain corpus mix card ----
  // The CommonCrawl-style domain composition audit a web corpus ships
  // with: documents keyed by the CANONICAL host of their URL (q178's
  // normalizer, so 'WWW.Docs7…:443' and 'docs7…' are one domain), per
  // domain doc/token counts and ppm shares of the corpus. The
  // per-domain aggregate feeds the output AND the share denominators,
  // so it is persisted (the recurring two-consumer rule); totals ride
  // one broadcast scalar row.
  def q180DomainMix(s: SparkSession, dir: String): DataFrame = {
    val perDomain = graft.llm.Caches.persistTracked(
      graft.Tables.documents(s, dir)
        .select(col("doc_id"), col("text"), expr(urlSynthSql).as("url"))
        .select(col("doc_id"), col("text"),
          graft.llm.Dedup.normalizeUrl("url").as("uk"))
        .select(col("doc_id"),
          regexp_extract(col("uk"), "^[a-z]+://([^/?]*)", 1).as("domain"),
          graft.llm.TextAnalysis.tokenCount(col("text")).cast("bigint")
            .as("n_tok"))
        .groupBy(col("domain"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens")))
    val totals = perDomain
      .agg(sum(col("n_docs")).as("__td"), sum(col("n_tokens")).as("__tt"))
    perDomain.crossJoin(broadcast(totals))
      .select(col("domain"), col("n_docs"),
        col("n_tokens").cast("bigint").as("n_tokens"),
        expr("n_docs * 1000000L div greatest(__td, 1L)").cast("bigint")
          .as("doc_share_ppm"),
        // corpus token totals reach ~10¹³ at 100 TB — ×10⁶ overflows a
        // BIGINT numerator, so widen (HUGEINT on the DuckDB side)
        expr("cast(cast(n_tokens as decimal(38,0)) * 1000000 " +
          "div greatest(__tt, 1L) as bigint)").as("token_share_ppm"))
  }

  private val PadBuckets = Seq(16L, 32L, 64L, 128L, 256L, 512L, 1024L,
    2048L, 4096L, 8192L)

  /** Power-of-two padding bucket of `n_tok` — ONE SQL spelling (plain
    * integer CASE chain; log2/pow would be float and not replayable)
    * embedded in both the Spark side and the oracle. */
  private val padBucketSql: String =
    "CASE " + PadBuckets.map(b => s"WHEN n_tok <= $b THEN $b").mkString(" ") +
      " ELSE 16384 END"

  // ---- q188: padding-waste card (length-bucketed batching) ----
  // The OTHER batching strategy next to q44/q140's packing: pad every
  // sequence up to its power-of-two length bucket. This card prices
  // that choice — per bucket, how many tokens the padding burns (ppm
  // of the padded volume) — the evidence that picks packing over
  // padding (or sizes the buckets). One row-local bucket projection +
  // one bucket aggregate; waste numerators widened to
  // decimal(38,0)/HUGEINT (padded totals × 10⁶ overflow BIGINT at
  // corpus scale).
  def q188PaddingWaste(s: SparkSession, dir: String): DataFrame =
    graft.Tables.documents(s, dir)
      .select(TextAnalysis.tokenCount(col("text")).cast("bigint").as("n_tok"))
      .select(col("n_tok"), expr(padBucketSql).cast("bigint").as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("__st"))
      .select(col("bucket"), col("n_docs"),
        col("__st").cast("bigint").as("n_tokens"),
        (col("n_docs") * col("bucket")).as("padded_tokens"),
        expr("cast(cast(n_docs * bucket - __st as decimal(38,0)) * 1000000 " +
          "div greatest(n_docs * bucket, 1L) as bigint)").as("waste_ppm"))

  private val BoilerMinDf = 3
  private val BoilerTopK = 50

  // ---- q187: boilerplate span mining ----
  // The C4-style boilerplate detector's evidence: 13-gram spans
  // recurring across MANY documents (doc frequency ≥ BoilerMinDf) are
  // headers/footers/licenses, not content — ranked by df with the
  // gram as tiebreak. Grams are per-doc DISTINCT (a doc repeating its
  // own span is repetition — q37's axis — not boilerplate). Scale:
  // one gram-keyed partial-aggregating count; the rank window runs
  // over the df-filtered sliver only (the q146 emerging-terms
  // precedent), never the full gram stream.
  def q187Boilerplate(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.boilerplateGrams(graft.Tables.documents(s, dir),
      "doc_id", "text", ProbeGramN, BoilerMinDf, BoilerTopK)

  // ---- q201: boilerplate-strip savings card ----
  // q187 MINES the cross-document spans; this prices REMOVING them:
  // per source, the token mass covered by at least one mined span
  // occurrence (overlaps and chains merged exactly by the island
  // walk — min(n, gap) per occurrence), the cleaned residue, and the
  // strip ratio. The span set is the SAME boilerplateGrams call as
  // q187, so the two cards cannot disagree about what boilerplate
  // IS; the oracle replays mining, positional hits, the island walk,
  // and both rollups.
  def q201BoilerplateStrip(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.boilerplateStripCard(graft.Tables.documents(s, dir),
      "doc_id", "text", "source", ProbeGramN, BoilerMinDf, BoilerTopK)

  // ---- q192: train→eval contamination provenance matrix ----
  // q179 says HOW MUCH of each train source overlaps the eval slice;
  // this says WHOSE eval content it is: distinct shared 13-grams per
  // (train source, eval source) pair — the provenance a cleanup acts
  // on (drop the train source, or re-split the eval set). Rides the
  // SAME persisted md5-gram frame; the pair matrix is
  // source²-bounded.
  def q192ContaminationMatrix(s: SparkSession, dir: String): DataFrame = {
    val g = md5GramFrame(s, dir)
    val ev = g.filter(pmod(col("doc_id"), lit(50)) === 0)
      .select(col("source").as("eval_source"), explode(col("gs")).as("gk"))
      .distinct()
    val tr = g.filter(pmod(col("doc_id"), lit(50)) =!= 0)
      .select(col("source").as("train_source"), explode(col("gs")).as("gk"))
      .distinct()
    tr.join(ev, Seq("gk"))
      .groupBy(col("train_source"), col("eval_source"))
      .agg(countDistinct(col("gk")).as("n_shared_grams"))
  }

  private val QualitySweepThresholds = Seq(300000L, 500000L, 700000L, 900000L)

  // ---- q193: quality-cutoff sweep card ----
  // The S-curve that picks a quality filter threshold BEFORE anyone
  // deletes data: per candidate cutoff, the docs and tokens that
  // survive `quality_fp >= thr` with ppm shares — q20's score, q173's
  // sweep discipline. One corpus pass computes every threshold's sums
  // (a stack over one aggregate row — no per-threshold rescan);
  // token numerators widened to decimal(38,0)/HUGEINT.
  def q193QualitySweep(s: SparkSession, dir: String): DataFrame = {
    val d = graft.Tables.documents(s, dir)
      .select(TextAnalysis.qualityScoreFp("text").as("q"),
        TextAnalysis.tokenCount(col("text")).cast("bigint").as("n_tok"))
    val sums = QualitySweepThresholds.zipWithIndex.flatMap { case (t, i) =>
      Seq(sum(when(col("q") >= t, 1L).otherwise(0L)).as(s"d_$i"),
        sum(when(col("q") >= t, col("n_tok")).otherwise(0L)).as(s"t_$i"))
    } ++ Seq(count(lit(1)).as("nd"), sum(col("n_tok")).as("nt"))
    val stackArgs = QualitySweepThresholds.indices
      .map(i => s"${QualitySweepThresholds(i)}L, d_$i, t_$i").mkString(", ")
    d.agg(sums.head, sums.tail: _*)
      .selectExpr(s"stack(${QualitySweepThresholds.size}, $stackArgs) " +
        "AS (thr_fp, n_docs_kept, n_tokens_kept)", "nd", "nt")
      .select(col("thr_fp"), col("n_docs_kept"),
        col("n_tokens_kept").cast("bigint").as("n_tokens_kept"),
        expr("n_docs_kept * 1000000L div greatest(nd, 1L)")
          .as("docs_kept_ppm"),
        expr("cast(cast(n_tokens_kept as decimal(38,0)) * 1000000 " +
          "div greatest(nt, 1L) as bigint)").as("tokens_kept_ppm"))
  }

  // ---- q186: content-keyed split audit (leakage-free assignment) ----
  // WHY the split key matters: q126 assigns by doc_id hash, so exact
  // duplicates (same fingerprint, different ids) can straddle
  // train/val/test — leakage by construction. Keying the SAME
  // hashSplit by the content fingerprint makes straddling impossible
  // (one fp ⇒ one hash ⇒ one split). The card measures both schemes
  // on the same corpus: distinct fps, docs, fps spanning >1 split and
  // the docs they carry — by_content's zero is re-proven by the
  // oracle, not assumed. Scale: the fingerprint frame is persisted
  // for its two scheme consumers; each scheme is one fp-keyed
  // aggregate folded to one row.
  def q186ContentSplit(s: SparkSession, dir: String): DataFrame = {
    val d = graft.llm.Caches.persistTracked(
      graft.Tables.documents(s, dir).select(col("doc_id"),
        Dedup.fingerprintOrEmpty(col("text")).as("fp")))
    def card(keyCol: String, scheme: String): DataFrame =
      graft.llm.Sampling.hashSplit(d, keyCol, TrainPct, ValPct)
        .groupBy(col("fp"))
        .agg(countDistinct(col("split")).as("nsp"), count(lit(1)).as("nd"))
        .agg(count(lit(1)).as("n_fps"), sum(col("nd")).as("n_docs"),
          sum(when(col("nsp") > 1, 1L).otherwise(0L)).as("n_straddling_fps"),
          sum(when(col("nsp") > 1, col("nd")).otherwise(0L)).as("n_straddling_docs"))
        .select(lit(scheme).as("scheme"), col("n_fps"),
          col("n_docs").cast("bigint").as("n_docs"),
          col("n_straddling_fps"), col("n_straddling_docs"))
    card("doc_id", "by_doc_id").unionByName(card("fp", "by_content"))
  }

  // ---- q185: URL-level split leakage card ----
  // The q160/q179 leakage axis at the URL layer: a train document
  // whose CANONICAL URL (q178's key) also appears in the eval slice
  // is the same page crawled into both splits — leakage no content
  // hash is needed to prove. The split predicate is a parameter of
  // the card; the demo split here is doc_id % 7 (q45's % 50
  // convention is STRUCTURALLY collision-free against the synthetic
  // URL arithmetic — same-key docs are always congruent mod 200,
  // hence in the same % 50 class — which would make the card
  // trivially zero). Scale: keyed projection persisted for its two
  // split consumers; one distinct + one left join on the key.
  def q185UrlSplitLeakage(s: SparkSession, dir: String): DataFrame = {
    val keyed = graft.llm.Caches.persistTracked(
      graft.Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), expr(urlSynthSql).as("url"))
        .select(col("doc_id"), col("source"),
          graft.llm.Dedup.normalizeUrl("url").as("uk")))
    val evalK = keyed.filter(pmod(col("doc_id"), lit(7)) === 0)
      .select(col("uk")).distinct().withColumn("__hit", lit(true))
    keyed.filter(pmod(col("doc_id"), lit(7)) =!= 0)
      .join(evalK, Seq("uk"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_train_docs"),
        sum(when(col("__hit"), 1L).otherwise(0L)).as("n_leaked_docs"),
        countDistinct(when(col("__hit"), col("uk"))).as("n_leaked_keys"))
      .withColumn("leak_ppm",
        expr("n_leaked_docs * 1000000L div greatest(n_train_docs, 1L)"))
  }

  private val ProbeGramN = 13

  // ---- q179: n-gram memorization / novelty probe ----
  // q68's decontamination machinery pointed at MEASUREMENT instead of
  // filtering: per source, what fraction of the train slice's
  // distinct 13-grams also appear in the eval slice (q45's
  // doc_id % 50 == 0 convention) — the memorization-risk rate a
  // model card reports, where q45/q68 DROP the offending docs. Grams
  // are keyed by md5 in BOTH engines, so the join compares 32-char
  // keys (never text) and any collision affects both sides
  // identically — exact replay by construction. The per-doc gram
  // frame is built ONCE over the whole table and sliced (the q70 nf
  // pattern), persisted for its two consumers (eval key set, train
  // side); totals ride the pre-explode frame so zero-overlap docs
  // still count.
  /** md5-keyed distinct word-13-gram frame over the WHOLE table —
    * (doc_id, source, gs). ONE spelling feeding q179's cross-split
    * overlap and q181's first-occurrence novelty; persisted, and the
    * cache tracker dedupes by canonical plan, so the two cards share
    * one materialization within a session. */
  private def md5GramFrame(s: SparkSession, dir: String): DataFrame =
    graft.llm.Caches.persistTracked(
      graft.llm.Spread(graft.Tables.documents(s, dir)
          .select(col("doc_id"), col("source"), col("text")))
        .select(col("doc_id"), col("source"),
          graft.llm.TextAnalysis.tokens(col("text")).as("__toks"))
        .select(col("doc_id"), col("source"),
          graft.llm.TextAnalysis.wordNgrams("__toks", ProbeGramN).as("__gs0"))
        .select(col("doc_id"), col("source"),
          expr("array_distinct(transform(__gs0, g -> md5(cast(g as binary))))")
            .as("gs")))

  def q179MemorizationProbe(s: SparkSession, dir: String): DataFrame = {
    val g = md5GramFrame(s, dir)
    val ev = g.filter(pmod(col("doc_id"), lit(50)) === 0)
      .select(explode(col("gs")).as("gk")).distinct()
    val tr = g.filter(pmod(col("doc_id"), lit(50)) =!= 0)
    val hits = tr.select(col("doc_id"), explode(col("gs")).as("gk"))
      .join(ev, Seq("gk"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hit"))
    val d = tr.select(col("doc_id"), col("source"),
        size(col("gs")).cast("bigint").as("n_grams"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("source"), col("n_grams"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"))
    d.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_grams")).as("__sg"),
        sum(col("n_hit")).as("__sh"),
        sum(when(col("n_hit") > 0, 1L).otherwise(0L)).as("n_docs_hit"),
        max(when(col("n_grams") > 0,
          expr("n_hit * 1000000L div n_grams")).otherwise(0L)).as("max_doc_ppm"))
      .select(col("source"), col("n_docs"),
        col("__sg").cast("bigint").as("n_grams"),
        col("__sh").cast("bigint").as("n_overlap"),
        when(col("__sg") > 0, expr("__sh * 1000000L div __sg"))
          .otherwise(0L).cast("bigint").as("overlap_ppm"),
        col("n_docs_hit"), col("max_doc_ppm"))
  }

  // ---- q181: first-occurrence novelty profile ----
  // The curriculum/dup-pressure card: per doc, which of its distinct
  // 13-grams appear HERE first (the gram's minimum doc_id over the
  // whole corpus is this doc), rolled up per source — high novelty =
  // fresh content worth its tokens; near-zero novelty = the document
  // restates what ingestion order already covered (the dedup families
  // find COPIES; this prices partial restatement). Scale: one
  // gram-keyed aggregate (min doc_id) + one join back — both shuffle
  // 32-char md5 keys, never text; the gram frame is the SAME
  // persisted projection q179 rides.
  def q181NoveltyProfile(s: SparkSession, dir: String): DataFrame = {
    val g = md5GramFrame(s, dir)
    val ex = g.select(col("doc_id"), explode(col("gs")).as("gk"))
    val firsts = ex.groupBy(col("gk")).agg(min(col("doc_id")).as("first_doc"))
    val novel = ex.join(firsts, Seq("gk"))
      .filter(col("first_doc") === col("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_novel"))
    val d = g.select(col("doc_id"), col("source"),
        size(col("gs")).cast("bigint").as("n_grams"))
      .join(novel, Seq("doc_id"), "left")
      .select(col("source"), col("n_grams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"))
    d.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_grams")).as("__sg"),
        sum(col("n_novel")).as("__sn"),
        sum(when(col("n_grams") > 0 && col("n_novel") === col("n_grams"), 1L)
          .otherwise(0L)).as("n_fully_novel"),
        sum(when(col("n_grams") > 0 && col("n_novel") === 0L, 1L)
          .otherwise(0L)).as("n_stale"))
      .select(col("source"), col("n_docs"),
        col("__sg").cast("bigint").as("n_grams"),
        col("__sn").cast("bigint").as("n_novel"),
        when(col("__sg") > 0, expr("__sn * 1000000L div __sg"))
          .otherwise(0L).cast("bigint").as("novelty_ppm"),
        col("n_fully_novel"), col("n_stale"))
  }

  // ---- q167: deterministic shard plan (resumable loader order) ----
  // The (shard, position) assignment a training data-loader resumes
  // from: hash-mod shard, rank-of-hash position — both pure functions
  // of doc_id, so the plan survives reshuffles and re-runs unchanged
  // (q126's split determinism applied to intra-epoch ORDER).
  private val PlanShards = 8
  def q167ShardPlan(s: SparkSession, dir: String): DataFrame =
    graft.llm.Sampling.shardPlan(
      graft.Tables.documents(s, dir).select(col("doc_id")),
      "doc_id", PlanShards)

  // ---- q169: end-to-end training manifest ----
  // The one call a curation run SHIPS: q76's verdict machinery keeps
  // only clean documents (not contaminated, not a duplicate, rules
  // pass), and q167's deterministic shard plan orders them for the
  // data loader — doc_id, lang, token count, shard, position, all
  // re-derivable forever. Every stage is individually oracle-proven
  // (q69/q17/q45/q167); this composes them into the artifact a
  // training job actually consumes.
  def q169TrainingManifest(s: SparkSession, dir: String): DataFrame = {
    // TRAIN side only — the eval split (q45's doc_id % 50 == 0
    // convention) must never reach a training manifest; restricting
    // upfront also keeps dedup survivorship within the training
    // corpus (an eval doc must not "win" a fingerprint and evict the
    // train copy a loader could legitimately use)
    val train = graft.Tables.documents(s, dir)
      .filter(pmod(col("doc_id"), lit(50)) =!= 0)
    val kept = curationVerdicts(s, dir, train)
      .filter(col("verdict") === "kept")
      .select(col("doc_id"), col("lang"), col("n_tok"))
    graft.llm.Sampling.shardPlan(kept, "doc_id", PlanShards)
      .select(col("doc_id"), col("lang"), col("n_tok"),
        col("shard").cast("bigint").as("shard"), col("pos"))
  }

  // ---- q213: the manifest SERVED from the durable catalog ----
  // The manifest IS the deliverable a training job consumes — the
  // one output that must survive the session that computed it. Saved
  // once per corpus through `Artifacts.ensure` (train-once marker,
  // corpus-signature key) as plain parquet, then every later session
  // and bench iteration LOADS it; byte-identical to q169 by the same
  // contract q157/q175/q176 meet (identical oracle). A re-derived
  // manifest that differed would mean a crashed run could resume
  // against different data — this card makes that impossible to miss.
  def q213ManifestLoaded(s: SparkSession, dir: String): DataFrame = {
    val root = graft.llm.Artifacts.ensure(dir, "manifest-v1") { p =>
      graft.llm.Artifacts.saveIndexFrame(s"$p/manifest",
        q169TrainingManifest(s, dir))
    }
    graft.llm.Artifacts.loadIndexFrame(s, s"$root/manifest")
      .select(col("doc_id"), col("lang"), col("n_tok"), col("shard"),
        col("pos"))
  }

  /** Per-document curation verdict over `d` — the ONE spelling of the
    * q76 priority chain (contaminated beats duplicate beats
    * rule-dropped beats kept), shared by the funnel card and the
    * training manifest so the two can never diverge. Contamination
    * comes from [[q45Decontamination]] (its split IS the reference);
    * the duplicate window runs over `d` as given, so survivorship is
    * scoped to the caller's corpus slice. */
  private def curationVerdicts(s: SparkSession, dir: String,
      d: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rules = TextAnalysis.ruleFilter(d, "doc_id", "text",
        carryCols = Seq("lang", "text"))
      .withColumn("fp", Dedup.fingerprintOrEmpty(col("text")))
    val cont = q45Decontamination(s, dir)
      .select(col("doc_id"), lit(true).as("contaminated"))
    val w = Window.partitionBy(col("fp")).orderBy(col("doc_id"))
    rules.withColumn("__rn", row_number().over(w))
      .join(cont, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"), col("n_tok"),
        when(coalesce(col("contaminated"), lit(false)), lit("contaminated"))
          .when(col("__rn") > 1, lit("duplicate"))
          .when(!col("kept"), lit("rule_dropped"))
          .otherwise(lit("kept")).as("verdict"))
  }

  // ---- q152: source-composition drift (corpus mixture monitoring) ----
  // Whether the ingest mix is moving: each source's share of the
  // recent corpus half vs the older half (q146's deterministic
  // doc_id split), in exact ppm, with the absolute drift alongside.
  // One counting aggregate; every later frame is source-cardinality-
  // sized.
  def q152SourceDrift(s: SparkSession, dir: String): DataFrame = {
    val d = graft.Tables.documents(s, dir)
    val n = d.count()
    // persisted (Caches-tracked): the source-cardinality aggregate
    // feeds both the output and the totals branch — unpersisted, the
    // corpus scan runs once per consumer
    val agg = graft.llm.Caches.persistTracked(
      d.select((col("doc_id") >= lit(n / 2)).as("recent"), col("source"))
        .groupBy(col("source"))
        .agg(sum(when(col("recent"), 1L).otherwise(0L)).as("n_recent"),
          sum(when(!col("recent"), 1L).otherwise(0L)).as("n_old")))
    val tot = agg.agg(sum(col("n_recent")).as("tr"), sum(col("n_old")).as("to"))
    agg.crossJoin(broadcast(tot))
      .select(col("source"), col("n_recent"), col("n_old"),
        expr("n_recent * 1000000L div greatest(tr, 1L)").as("share_recent_ppm"),
        expr("n_old * 1000000L div greatest(to, 1L)").as("share_old_ppm"))
      .withColumn("drift_ppm",
        abs(col("share_recent_ppm") - col("share_old_ppm")))
  }

  // ---- q153: per-language tokenizer equity card ----
  // The fairness audit an LLM pipeline owes its tokenizer: characters
  // per BPE token by language — a language the tokenizer fragments
  // pays more compute per character. Composes the q88-trained symbol
  // counts (trained once via the session memo) with the documents'
  // language column; ratios are exact fixed-point.
  def q153TokenizerEquity(s: SparkSession, dir: String): DataFrame = {
    val d = graft.Tables.documents(s, dir)
    val counts = graft.llm.BpeTrainer.symbolCounts(d, "doc_id", "text", BpeMerges)
    d.select(col("doc_id"), col("lang"),
        length(col("text")).cast("bigint").as("n_chars"))
      .join(counts, Seq("doc_id"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("chars"),
        sum(col("n_sym")).as("bpe_tokens"),
        expr("sum(n_chars) * 1000000L div greatest(sum(n_sym), 1L)")
          .as("chars_per_token_ppm"))
  }

  // ---- q37: repetition statistics (Gopher-style filters) ----
  // Two repetition signals per doc, both integer fixed-point:
  // duplicate word-3-gram fraction (row-local list arithmetic, zero
  // shuffle) and top-token frequency (explode → two-level partial
  // aggregation on (doc_id, token) then (doc_id) — the only shuffle,
  // keyed on ids+tokens, never text). Docs with no tokens keep 0s via
  // the left join back to the corpus.
  def q37Repetition(s: SparkSession, dir: String): DataFrame = {
    val d = graft.Tables.documents(s, dir)
    val grams = d
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), word3grams("toks").as("g3"))
      .select(col("doc_id"), size(col("g3")).cast("bigint").as("n_3grams"),
        dup3gramFp("g3").as("dup_3gram_fp"))
    val topTok = d
      .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(expr("cast(floor(1000000.0 * cast(max(c) as double) / cast(sum(c) as double)) as bigint)")
        .as("top_tok_fp"))
    grams.join(topTok, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_3grams"), col("dup_3gram_fp"),
        coalesce(col("top_tok_fp"), lit(0L)).as("top_tok_fp"))
  }

  // ---- q39: deterministic stratified sampling (corpus mixing) ----
  // Training-data mixing needs per-stratum rates that are reproducible
  // across engines, retries and partitionings — so the sampling
  // decision is a pure hash of the row key (first 8 md5 hex chars mod
  // 100 < rate), not rand()/sampleBy. Fully scan-local: no shuffle at
  // all until the count summary.
  private val SampleRates = Map("en" -> 50, "de" -> 30, "es" -> 20, "fr" -> 20)
  def q39StratifiedSample(s: SparkSession, dir: String): DataFrame = {
    val rate = SampleRates.foldLeft(lit(10)) { case (acc, (l, r)) =>
      when(col("lang") === l, lit(r)).otherwise(acc)
    }
    graft.Tables.documents(s, dir)
      .withColumn("bucket",
        expr("cast(conv(substr(md5(cast(doc_id as string)), 1, 8), 16, 10) as bigint) % 100"))
      .filter(col("bucket") < rate)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_sampled"), min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .orderBy(col("lang"))
  }

  // ---- q57: deterministic token-budget mixture (data mixing) ----
  // Keep-rates derived FROM the corpus toward a target source mixture
  // under a token budget (q39's fixed-rate sampler cannot hit a target
  // mixture; this computes the rates). Weight of src<i> is i+1, budget
  // 30% of corpus tokens; selection is the md5-threshold rule, so the
  // oracle replays counts → rates (verbatim float expression tree) →
  // row-level selection and must land on the SAME rows.
  private val MixBudgetFraction = 0.3

  def q57TokenMixture(s: SparkSession, dir: String): DataFrame = {
    val d = graft.Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        tokenCount(col("text")).cast("bigint").as("n_tok"))
    graft.llm.Sampling.tokenBudgetMixture(d, "source", "doc_id", "n_tok",
      weightExpr = expr("cast(substr(source, 4) as int) + 1"),
      budgetFraction = MixBudgetFraction)
      .select(col("doc_id"), col("source"), col("n_tok"))
  }

  // ---- q40: exact per-language token-count quantiles ----
  // approx_percentile is engine- and merge-order-dependent; exact
  // quantiles from rank positions are not. The naive form (row_number
  // over a per-language window) sorts each language's ENTIRE corpus in
  // one task; this is the two-pass rank-selection form instead: count
  // per (lang, value) — a scale-safe aggregation — then a cumulative
  // window over the aggregated rows only (bounded by the number of
  // distinct token counts per language, never by corpus size). The
  // value at quantile q is the smallest v whose cumulative count
  // reaches ceil(q·n) — identical to the rank definition.
  def q40TokenQuantiles(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = graft.Tables.documents(s, dir)
      .select(col("lang"), tokenCount(col("text")).cast("bigint").as("n_tok"))
      .groupBy(col("lang"), col("n_tok")).agg(count(lit(1)).as("c"))
    val wCum = Window.partitionBy(col("lang")).orderBy(col("n_tok"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = counts
      .withColumn("cum", sum(col("c")).over(wCum))
      .withColumn("n", sum(col("c")).over(Window.partitionBy(col("lang"))))
    cum.groupBy(col("lang"))
      .agg(
        max(col("n")).as("n_docs"),
        min(col("n_tok")).as("min_tok"),
        min(when(col("cum") >= expr("cast(ceil(0.5 * n) as bigint)"), col("n_tok")))
          .as("p50_tok"),
        min(when(col("cum") >= expr("cast(ceil(0.9 * n) as bigint)"), col("n_tok")))
          .as("p90_tok"),
        max(col("n_tok")).as("max_tok"))
      .orderBy(col("lang"))
  }

  // ---- q42: positional inverted index + phrase query ----
  private val PhraseW1 = "table"
  private val PhraseW2 = "hash"
  def q42PhraseSearch(s: SparkSession, dir: String): DataFrame = {
    val postings = graft.llm.Postings.build(
      graft.Tables.documents(s, dir), "doc_id", "text")
    graft.llm.Postings.phraseCounts(postings, PhraseW1, PhraseW2)
  }

  // ---- q43: document chunking (sliding token windows) ----
  // Training prep splits long docs into fixed-size token windows with
  // overlap. Chunk boundaries are pure functions of the token count
  // (start = i·stride while start < n), so the op is one row-local
  // explode — no shuffle, linear in corpus size — and reproducible
  // anywhere. Emits per-chunk token counts and the first token as the
  // content witness.
  private val ChunkSize = 64
  private val ChunkStride = 48
  def q43Chunks(s: SparkSession, dir: String): DataFrame = {
    val d = graft.Tables.documents(s, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"), size(col("toks")).as("n"))
      .filter(col("n") > 0)
    d.select(col("doc_id"),
      posexplode(expr(
        s"""transform(sequence(0, cast(ceil((greatest(n - $ChunkSize, 0)) / $ChunkStride.0) as int)),
           |  i -> slice(toks, i * $ChunkStride + 1, $ChunkSize))""".stripMargin))
        .as(Seq("chunk_id", "chunk")))
      .select(col("doc_id"), col("chunk_id").cast("bigint").as("chunk_id"),
        size(col("chunk")).cast("bigint").as("n_tokens"),
        element_at(col("chunk"), 1).as("first_token"))
  }

  // ---- q44: contiguous sequence packing (prefix-sum binning) ----
  // Sequence packing assigns docs (in doc_id order) to fixed token
  // budgets: bin = floor(exclusive-prefix-sum(n_tokens) / budget).
  // The prefix sum is the two-level distributed form (per-shard window
  // + broadcast shard offsets, see Packing.exclusivePrefixSum) — no
  // corpus-sized data ever passes through a single-partition sort.
  // Integer arithmetic only; bit-identical to a global window.
  private val PackBudget = 4096L
  private val PackShardSize = 512L
  def q44SequencePacking(s: SparkSession, dir: String): DataFrame = {
    val d = graft.Tables.documents(s, dir)
      .select(col("doc_id"), tokenCount(col("text")).cast("bigint").as("n_tok"))
    graft.llm.Packing.exclusivePrefixSum(d, "doc_id", "n_tok", PackShardSize)
      .withColumn("bin", expr(s"cum div ${PackBudget}L"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("bin_tokens"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
  }

  // ---- q140: sequence packing in TRAINED-tokenizer tokens ----
  // q44's packing with the budget measured in BPE tokens instead of
  // whitespace tokens — the unit a training pipeline actually bills
  // in. Per-doc counts come from the q88-trained tokenizer
  // (symbolCounts: train once, broadcast the word→symbol-count
  // table); the two-level prefix sum and binning are q44's audited
  // machinery unchanged. The oracle composes the q88 training chain
  // with q44's window replay.
  def q140BpePacking(s: SparkSession, dir: String): DataFrame = {
    val d = graft.llm.BpeTrainer.symbolCounts(
        graft.Tables.documents(s, dir), "doc_id", "text", BpeMerges)
      .select(col("doc_id"), col("n_sym").as("n_tok"))
    graft.llm.Packing.exclusivePrefixSum(d, "doc_id", "n_tok", PackShardSize)
      .withColumn("bin", expr(s"cum div ${PackBudget}L"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("bin_tokens"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
  }

  // ---- q45: train/eval decontamination via shared fingerprints ----
  // Every 50th doc plays the eval set; training docs sharing any
  // winnowed fingerprint with it are reported with their containment.
  def q45Decontamination(s: SparkSession, dir: String): DataFrame = {
    val d = graft.Tables.documents(s, dir)
    graft.llm.Decontaminate.contaminated(
      d.filter(pmod(col("doc_id"), lit(50)) =!= 0),
      d.filter(pmod(col("doc_id"), lit(50)) === 0),
      "doc_id", "text")
  }

  // ---- q68: decontamination behind a broadcast Bloom prefilter ----
  // Same train/eval split and SAME ORACLE as q45: the Bloom filter of
  // eval fingerprints prunes the train-side fingerprint stream before
  // the exchange, and the confirming equi-join erases its false
  // positives — so hash-identical output proves the prefilter is
  // side-effect-free, which is the whole point of the operator.
  def q68DecontamBloom(s: SparkSession, dir: String): DataFrame = {
    val d = graft.Tables.documents(s, dir)
    graft.llm.Decontaminate.contaminatedBloom(
      d.filter(pmod(col("doc_id"), lit(50)) =!= 0),
      d.filter(pmod(col("doc_id"), lit(50)) === 0),
      "doc_id", "text")
  }

  // ---- q158: decontamination through the PERSISTED Bloom artifact ----
  // The full prefilter artifact loop on the oracle surface: build the
  // eval-set Bloom ([[graft.llm.Decontaminate.evalBloom]]), save and
  // reload it as parquet ([[graft.llm.Artifacts]]), then run the
  // pre-built contaminatedBloom overload — SAME ORACLE as q45/q68,
  // because a round-tripped filter over the same eval fingerprints
  // must leave the output bit-identical. At 100 TB the eval benchmark
  // set is fixed for months: train the filter once, ship the bitset,
  // and every ingest job broadcasts the loaded artifact.
  def q158DecontamBloomLoaded(s: SparkSession, dir: String): DataFrame = {
    val d = graft.Tables.documents(s, dir)
    val train = d.filter(pmod(col("doc_id"), lit(50)) =!= 0)
    val eval = d.filter(pmod(col("doc_id"), lit(50)) === 0)
    // durable catalog, not a per-call temp dir: train the prefilter
    // ONCE per corpus, serve it forever — the bench then prices the
    // load+filter serve path, not a retrain per iteration (exactness
    // unaffected either way: Bloom false positives are re-checked)
    val root = graft.llm.Artifacts.ensure(dir, "eval-bloom-v1") { p =>
      graft.llm.Decontaminate.evalBloom(eval, "doc_id", "text") match {
        case Some(b) => graft.llm.Artifacts.saveBloom(s, p + "/bloom", b)
        case None =>
          // a fingerprint-less eval slice is a VALID trained outcome
          // (serve the exact path) — record it explicitly so ensure's
          // empty-publish refusal doesn't read it as a broken train
          new java.io.File(p).mkdirs()
          java.nio.file.Files.writeString(
            java.nio.file.Path.of(p, "_NO_BLOOM"), "")
      }
    }
    if (new java.io.File(root, "bloom").exists())
      graft.llm.Decontaminate.contaminatedBloom(train, eval,
        "doc_id", "text", graft.llm.Artifacts.loadBloom(s, root + "/bloom"))
    else // no eval fingerprints — nothing to prefilter
      graft.llm.Decontaminate.contaminated(train, eval, "doc_id", "text")
  }

  // ---- q69: Gopher/C4-style rule filter with reasons bitmask ----
  // One bit per violated rule (length band, mean token length,
  // stopword floor, 3-gram repetition, digit share) — the corpus-
  // curation primitive that reports WHY each document was dropped.
  def q69FilterRules(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.ruleFilter(graft.Tables.documents(s, dir), "doc_id", "text")

  // ---- q70: incremental-ingest dedup (new batch vs corpus index) ----
  // The batch is SYNTHESIZED so every status arm carries rows at
  // oracle scale (the raw tables have almost no exact dups): the
  // doc_id%10==0 slice is genuinely new; re-keyed copies of corpus
  // docs (+1M) must classify dup_of_corpus; re-keyed copies of batch
  // docs (+2M) must classify dup_in_batch behind their lower-id twin.
  def q70IncrementalDedup(s: SparkSession, dir: String): DataFrame = {
    // fingerprint the table ONCE into a cached skinny (doc_id, fp)
    // frame — the corpus-index shape — then slice it; fingerprinting
    // per slice would md5 the %7 docs twice and scan the parquet four
    // times (the oracle's one nf CTE, mirrored)
    val nf = graft.llm.Caches.persistTracked(
      graft.Tables.documents(s, dir).select(col("doc_id"),
        Dedup.fingerprintOrEmpty(col("text")).as("fp")))
    Dedup.incrementalByFp(
      nf.filter(pmod(col("doc_id"), lit(10)) =!= 0), incrementalBatch(nf))
  }

  /** The q70/q175 incoming-batch fixture over a fingerprinted corpus
    * frame — ONE spelling (corpus-dup slice, offset re-id'd %7 and
    * %13 slices) so the loaded-index replay can never drift from the
    * in-session original it must match byte for byte. */
  private def incrementalBatch(nf: DataFrame): DataFrame =
    nf.filter(pmod(col("doc_id"), lit(10)) === 0)
      .unionByName(nf.filter(pmod(col("doc_id"), lit(7)) === 0 &&
          pmod(col("doc_id"), lit(10)) =!= 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("fp")))
      .unionByName(nf.filter(pmod(col("doc_id"), lit(13)) === 0 &&
          pmod(col("doc_id"), lit(10)) === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"), col("fp")))

  // ---- q175: incremental dedup against the SHIPPED fingerprint index ----
  // q70 rebuilt its corpus index per run; the real deployment trains
  // it once, ships it (Artifacts catalog), and every ingest batch
  // joins against the LOADED table — the last trained state that was
  // still rebuilt from scratch each session. The batch side is
  // fingerprinted fresh (it was never part of the shipped index);
  // output is byte-identical to q70 by construction and shares its
  // oracle.
  def q175IncrementalLoaded(s: SparkSession, dir: String): DataFrame = {
    val root = graft.llm.Artifacts.ensure(dir, "fp-index-v2") { p =>
      graft.llm.Artifacts.saveFingerprintIndex(p + "/index",
        graft.Tables.documents(s, dir)
          .filter(pmod(col("doc_id"), lit(10)) =!= 0)
          .select(col("doc_id"), Dedup.fingerprintOrEmpty(col("text")).as("fp")))
    }
    val corpus = graft.llm.Artifacts.loadFingerprintIndex(s, root + "/index")
    val nf = graft.llm.Caches.persistTracked(
      graft.Tables.documents(s, dir).select(col("doc_id"),
        Dedup.fingerprintOrEmpty(col("text")).as("fp")))
    Dedup.incrementalByFp(corpus, incrementalBatch(nf))
  }

  // ---- q50: exact-substring duplicate-span stats ----
  // Per-doc fraction of distinct word 8-grams shared with any other
  // document — the span-level dedup signal (RefinedWeb-style) that
  // whole-document MinHash similarity cannot express. Grams hash
  // through the same codegen'd shingle_bases path as q21, so the
  // oracle replays md5-based gram hashing exactly.
  private val DupSpanGramN = graft.llm.Knobs.SpanGramN
  def q50DupSpans(s: SparkSession, dir: String): DataFrame =
    Dedup.dupSpanStats(graft.Tables.documents(s, dir), "doc_id", "text",
      gramN = DupSpanGramN)

  // ---- q300: exact duplicated-span REMOVAL (Lee et al. 2022) ----
  // q50 reports span duplication; this ACTS on it — the curation
  // step that strips every token covered by a corpus-repeated 8-gram
  // (in-doc repeats included) and rejoins the survivors, so
  // wholesale-copied boilerplate leaves the training text without
  // dropping the document. One streaming-legal spelling
  // ([[graft.llm.Dedup.stripSpans]]: token rows ∪ dup-start rows,
  // one blocklist semi-join, ONE doc-keyed aggregate whose
  // projection is row-local window/array arithmetic); the corpus
  // card builds the blocklist from itself
  // ([[graft.llm.Dedup.dupGramIndex]] — the shippable artifact), and
  // the oracle replays hashing, blocklisting, coverage and the
  // rejoin VERBATIM including clean_text, so a single off-by-one in
  // span coverage hash-fails the round.
  private val SpanStripGramN = graft.llm.Knobs.SpanGramN
  def q300SpanRemoval(s: SparkSession, dir: String): DataFrame =
    Dedup.removeDupSpans(graft.Tables.documents(s, dir), "doc_id",
      "text", SpanStripGramN, graft.llm.Knobs.SpanMinOcc)

  // ---- q301: span removal served from the SHIPPED blocklist ----
  // The ingest shape: the corpus's dup-gram blocklist trains once
  // into the durable catalog and each arrival batch (doc_id % 10 ==
  // 0) strips against the LOADED index — the corpus is never
  // re-tokenized per batch, and [[graft.llm.Dedup.stripSpans]] runs
  // unchanged on the live feed (stream == batch pinned).
  def q301SpanStripLoaded(s: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.documents(s, dir)
    val root = graft.llm.Artifacts.ensure(dir,
        s"dupgram-index-v1-n$SpanStripGramN-m2") { p =>
      graft.llm.Artifacts.saveIndexFrame(p + "/grams",
        Dedup.dupGramIndex(docs.filter(pmod(col("doc_id"), lit(10)) =!= 0),
          "doc_id", "text", SpanStripGramN, graft.llm.Knobs.SpanMinOcc))
    }
    Dedup.stripSpans(docs.filter(pmod(col("doc_id"), lit(10)) === 0),
      "doc_id", "text", SpanStripGramN,
      graft.llm.Artifacts.loadIndexFrame(s, root + "/grams"))
  }

  // ---- q52: deterministic exact-k-per-group sample (eval sets) ----
  // Hash-order top-k per language via the threshold-prefilter form:
  // the rank window sees only the ~margin·k oversample, never the
  // corpus (see Sampling.deterministicGroupSample). The oracle is the
  // naive global-window definition — identical output, different
  // (scale-safe) plan.
  private val SampleK = 20
  def q52GroupSample(s: SparkSession, dir: String): DataFrame =
    graft.llm.Sampling.deterministicGroupSample(
      graft.Tables.documents(s, dir).select(col("doc_id"), col("lang")),
      "lang", "doc_id", SampleK)

  // ---- q53: out-of-vocabulary rate vs the corpus top-k vocab ----
  // The rare-token curation signal without a float in sight: build the
  // reference vocabulary as the corpus's top-V tokens by frequency
  // (aggregation + TakeOrdered — scale-safe, and deterministic via the
  // (count desc, token asc) tie-break), broadcast-join it back, and
  // score each doc by the fixed-point share of its token OCCURRENCES
  // outside the vocab. High OOV = gibberish/noise; the vocab is data-
  // derived so no external wordlist ships with the engine.
  private val VocabSize = 20
  def q53OovRate(s: SparkSession, dir: String): DataFrame = {
    val d = TextAnalysis.explodedTokens(
      graft.Tables.documents(s, dir), "doc_id", "text")
    val vocab = TextAnalysis.topVocab(d, VocabSize)
      .select(col("w"), lit(1).as("in_vocab"))
    val scored = d.join(broadcast(vocab), Seq("w"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
    graft.Tables.documents(s, dir).select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"),
        when(coalesce(col("n_tokens"), lit(0L)) === 0, lit(0L))
          .otherwise(expr(
            "cast(floor(1000000.0 * cast(n_oov as double) / cast(n_tokens as double)) as bigint)"))
          .as("oov_fp"))
  }

  // ---- q71: mean unigram surprisal (perplexity-filter stand-in) ----
  // Integer-exact log2 (binary digit length) against the corpus-
  // derived top-V vocabulary, so the information-content score is
  // replayable byte-for-byte in DuckDB. Same vocab machinery as q53.
  def q71Surprisal(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.unigramSurprisalFp(
      graft.Tables.documents(s, dir), "doc_id", "text", VocabSize)

  // ---- q73: per-language corpus data card ----
  // The report a curation run ends with: per language, document count,
  // rule-filter keep count, distinct normalized fingerprints, token
  // mass and mean quality — every signal oracle-proven individually
  // (q69 / q17 / q18 / q20), here produced from ONE text scan by
  // riding ruleFilter's carry columns.
  def q73DataCard(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.ruleFilter(graft.Tables.documents(s, dir), "doc_id", "text",
        carryCols = Seq("lang", "text"), withQuality = true)
      .withColumn("fp", Dedup.fingerprintOrEmpty(col("text")))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        countDistinct(col("fp")).as("n_norm_unique"),
        sum(col("n_tok").cast("decimal(38,0)")).cast("bigint").as("sum_tokens"),
        expr("cast(sum(cast(quality_fp as decimal(38,0))) div count(1) as bigint)")
          .as("mean_quality_fp"))

  // ---- q74: dynamic percentile length band ----
  // Corpus-derived cutoffs instead of q69's fixed ones: keep documents
  // inside the exact [5th, 95th] token-count percentile band, ranks in
  // integer arithmetic so no float rounding can move a threshold.
  def q74DynamicFilter(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.tokenBandFilter(graft.Tables.documents(s, dir), "doc_id", "text")

  // ---- q76: the curation funnel (drop attribution end-to-end) ----
  // One verdict per document under the pipeline's priority order —
  // contaminated (shares fingerprints with the q45 eval split) beats
  // duplicate (not the lowest-id holder of its normalized fingerprint)
  // beats rule-dropped (q69 mask) beats kept — then per-language
  // funnel counts. The accounting view a curation run actually ships:
  // how much mass each stage removes, per language, in one query.
  def q76CurationFunnel(s: SparkSession, dir: String): DataFrame = {
    // shared verdict chain (see [[curationVerdicts]]) over the WHOLE
    // corpus — the funnel accounts for every document, while q169
    // scopes the same chain to the train split
    val verdicts = curationVerdicts(s, dir, graft.Tables.documents(s, dir))
    verdicts.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("verdict") === "contaminated", 1L).otherwise(0L)).as("n_contaminated"),
        sum(when(col("verdict") === "duplicate", 1L).otherwise(0L)).as("n_duplicate"),
        sum(when(col("verdict") === "rule_dropped", 1L).otherwise(0L)).as("n_rule_dropped"),
        sum(when(col("verdict") === "kept", 1L).otherwise(0L)).as("n_kept"))
  }

  // ---- q32: composed curation pipeline (quality → dedup → stats) ----
  // the realistic corpus-curation shape: threshold on quality, keep
  // one doc per normalized fingerprint, then per-language counts —
  // every stage individually oracle-checked above, composed here
  def q32CurationPipeline(s: SparkSession, dir: String): DataFrame = {
    val scored = graft.Tables.documents(s, dir)
      .filter(qualityScoreFp("text") >= 600000L)
      .select(col("doc_id"), col("lang"), Dedup.fingerprint(col("text")).as("fp"))
    Dedup.exact(scored, Seq("fp"), "doc_id")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"))
      .orderBy(col("lang"))
  }

  // ---- q83: fixed-point BM25 ranked retrieval ----
  // The ranked-retrieval complement of q42's exact phrase matching:
  // quarter-bit idf (the q71 digit-length trick sharpened by fourth-
  // powering the N/df ratio), denominator-cleared tf saturation, and
  // the two-level top-k heap — no float leaves the engine, so DuckDB
  // replays the ranking byte-for-byte.
  private val Bm25K = 10
  private[queries] val Bm25Queries: Seq[(String, Seq[String])] = Seq(
    "near_dup"  -> Seq("dup", "hash"),
    "pipeline"  -> Seq("scan", "filter", "vector"),
    "rare_only" -> Seq("dup"))
  def q83Bm25(s: SparkSession, dir: String): DataFrame =
    graft.llm.Bm25.scoreTopK(graft.Tables.documents(s, dir),
      "doc_id", "text", Bm25Queries, Bm25K)

  // ---- q87: fixed-point PageRank over a synthesized link graph ----
  // The domain-authority curation signal: every doc links to three
  // arithmetic neighbors ((id·7 + k·13) mod N, self-loops dropped), so
  // the oracle can regenerate the graph and replay all Lloyd-style
  // unrolled iterations from the row count alone, while the Spark
  // side runs the real distributed iteration (share join + dst
  // aggregation per round).
  private val PrIter = 3

  /** The synthetic link graph every graph query scores (q87 / q100 /
    * q116 / q170 / q172): 3 deterministic out-edges per doc
    * (`(doc·7 + k·13) mod n`), self-loops dropped. ONE spelling —
    * each query's embedded oracle replays this arithmetic, so a
    * per-site fork would have to stay byte-synchronized five ways. */
  private def linkGraph(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val docs = graft.Tables.documents(s, dir).select(col("doc_id"))
    val n = math.max(docs.count(), 1L)
    val edges = docs.select(col("doc_id").as("src"),
        explode(expr("sequence(1, 3)")).as("k"))
      .select(col("src"), expr(s"(src * 7L + k * 13L) % ${n}L").as("dst"))
      .filter(col("dst") =!= col("src"))
    (docs, edges)
  }

  def q87PageRank(s: SparkSession, dir: String): DataFrame = {
    val (_, edges) = linkGraph(s, dir)
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("out_deg"))
    graft.llm.LinkRank.pageRankFp(edges, PrIter)
      .join(deg.withColumnRenamed("src", "v"), Seq("v"))
      .select(col("v").as("doc_id"), col("out_deg"), col("pr_fp"))
  }

  // ---- q170: HITS hubs/authorities over the link graph ----
  // q87's graph scored with the role-separating algorithm: directory
  // pages (hubs) vs canonical sources (authorities), fixed-point
  // max-normalized so the oracle replays both rounds verbatim.
  private val HitsIter = 2
  def q170Hits(s: SparkSession, dir: String): DataFrame = {
    val (_, edges) = linkGraph(s, dir)
    graft.llm.LinkRank.hitsFp(edges, HitsIter)
      .select(col("v").as("doc_id"), col("hub_fp"), col("auth_fp"))
  }

  // ---- q172: personalized PageRank from trusted seeds ----
  // q87's graph re-scored with teleport confined to the seed set
  // (every ~97th doc): the continuous trust-propagation complement
  // of q116's hard k-hop cutoff, fixed-point like the global walk.
  def q172SeededPagerank(s: SparkSession, dir: String): DataFrame = {
    val (docs, edges) = linkGraph(s, dir)
    val seeds = docs.filter(col("doc_id") % 97L === 0L)
      .select(col("doc_id").as("v"))
    graft.llm.LinkRank.personalizedPageRankFp(edges, seeds, PrIter)
      .select(col("v").as("doc_id"), col("ppr_fp"))
  }

  // ---- q88: deterministic BPE tokenizer training ----
  // Train-the-tokenizer-on-the-corpus: three merge rounds over the
  // word-frequency table (integer counts, lexicographic tie-break),
  // then per-doc symbol counts under the learned merges. The oracle
  // replays every round — pair counting, argmax, corpus-wide literal
  // replace — as unrolled CTEs on the same bracket-wrapped strings.
  private val BpeMerges = 3
  def q88BpeTrain(s: SparkSession, dir: String): DataFrame =
    graft.llm.BpeTrainer.symbolCounts(
      graft.Tables.documents(s, dir), "doc_id", "text", BpeMerges)

  // ---- q89: fuzzy entity-resolution join (edit-distance blocking) ----
  // Master = distinct part names; dirty = deterministic perturbations
  // (first char dropped / e→3 / unchanged, keyed by id mod 3). The
  // Spark side must length-band, neighbor-probe, and levenshtein-
  // verify its way to the exact lev ≤ 2 pair set the oracle computes
  // brute-force — blocking completeness is what the equality proves.
  private val FuzzyMaxDist = 2
  def q89FuzzyJoin(s: SparkSession, dir: String): DataFrame = {
    val master = graft.Tables.part(s, dir)
      .groupBy(col("p_name")).agg(min(col("p_partkey")).as("id"))
      .select(col("id"), col("p_name").as("name"))
    val dirty = master.select((col("id") + 100000L).as("id"),
      expr("CASE CAST(id % 3 AS INT) WHEN 0 THEN substring(name, 2) " +
        "WHEN 1 THEN replace(name, 'e', '3') ELSE name END").as("name"))
    graft.llm.Fuzzy.editDistanceJoin(master, dirty, FuzzyMaxDist)
  }

  // ---- q91: collocation extraction (adjacent-pair PMI) ----
  // Multiword-term discovery: top bigrams by count with half-bit
  // integer PMI; only positive-PMI pairs survive. The oracle replays
  // pair counting, the independence filter, the squared digit-length
  // log, and the (count, pair) ranking.
  private val CollocTopK = 20
  private val CollocMinCount = 2L
  def q91Collocations(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.collocations(graft.Tables.documents(s, dir),
      "doc_id", "text", CollocMinCount, CollocTopK)

  // ---- q96: all-pairs sparse cosine over the inverted index ----
  // The weighted-bag-of-words dedup geometry (MinHash = sets, SimHash
  // = hamming, this = tf vectors): df-pruned postings self-join, then
  // a square-free integer cosine verify — dot²·10¹² ≥ thr²·n2a·n2b —
  // so no float and no sqrt anywhere. The oracle replays term
  // frequencies, the df cut, and the HUGEINT verify.
  private val SparseMaxDf = 50L
  private val SparseThrPpm = 500000L
  def q96SparseCosine(s: SparkSession, dir: String): DataFrame =
    graft.llm.SparseSim.allPairsCosine(graft.Tables.documents(s, dir),
      "doc_id", "text", SparseMaxDf, SparseThrPpm)

  // ---- q97: HLL distinct-token card per language ----
  // The survey instrument for cardinality at 100 TB: 64 max-registers
  // per group (mergeable, fixed memory) vs the exact distinct count —
  // an error card in the q75 style, proving the register assignment,
  // the digit-length rho, and the integer harmonic estimator
  // bit-for-bit against the oracle's replay.
  def q97HllCard(s: SparkSession, dir: String): DataFrame = {
    val toks = graft.Tables.documents(s, dir)
      .select(col("lang"), explode(TextAnalysis.tokens(col("text"))).as("w"))
    graft.llm.Sketches.hllDistinctCard(toks, col("lang"), col("w"))
      .withColumnRenamed("group_key", "lang")
  }

  // ---- q98: count-min heavy hitters ----
  // Frequency estimation in depth×width fixed memory: counters summed
  // straight off the token stream, the top-20 exact tokens probed for
  // their min-over-rows estimate. The one-sided guarantee
  // (n_est ≥ n_exact) plus collision overcounts, replayed exactly.
  private val CmWidth = 512
  private val CmTopK = 20
  def q98HeavyHitters(s: SparkSession, dir: String): DataFrame =
    graft.llm.Sketches.cmsHeavyHitters(graft.Tables.documents(s, dir),
      "doc_id", "text", CmWidth, CmTopK)

  // ---- q128: HLL sketch-merge card (roll-up without raw keys) ----
  // The reason sketches earn their keep at 100 TB: q97's per-language
  // register grids max-merged into a corpus union estimate, next to
  // the directly-built corpus sketch and the exact count. Equality of
  // the two estimates is the associativity contract that lets
  // per-partition/per-day sketches roll up forever.
  def q128HllUnion(s: SparkSession, dir: String): DataFrame = {
    val toks = graft.Tables.documents(s, dir)
      .select(col("lang"), explode(TextAnalysis.tokens(col("text"))).as("w"))
    graft.llm.Sketches.hllUnionCard(toks, col("lang"), col("w"))
  }

  // ---- q99: the trained BPE vocabulary ----
  // The encoder artifact q88's training implies: every final symbol
  // with its corpus occurrence mass and a dense (mass desc, symbol
  // asc) id. Vocabulary-sized, so the rank window is bounded.
  def q99BpeVocab(s: SparkSession, dir: String): DataFrame =
    graft.llm.BpeTrainer.vocab(graft.Tables.documents(s, dir),
      "doc_id", "text", BpeMerges)

  // ---- q137: BPE encode — tokenize the corpus with the trained merges ----
  // The path that makes q88's training usable: every whitespace token
  // is bracket-wrapped and the learned merges are replayed in rank
  // order as the same leftmost-non-overlapping literal replaces
  // training used, then each resulting symbol takes its q99 dense id.
  // One row per document: (doc_id, token_ids, n_bpe_tokens). The
  // oracle proves the replace-chain encoder agrees with training by a
  // different route — it looks each word up in the final training
  // table (encode(w) must equal w's final training symbols) and
  // reassembles ids in reading order.
  def q137BpeEncode(s: SparkSession, dir: String): DataFrame =
    graft.llm.BpeTrainer.encode(graft.Tables.documents(s, dir),
      "doc_id", "text", BpeMerges)

  // ---- q157: BPE encode through the PERSISTED artifact ----
  // The full train-once/ship/serve loop on the oracle surface: train,
  // write the merge table + vocabulary as parquet
  // ([[graft.llm.Artifacts]]), load them back, and encode with the
  // pre-trained overload only. Oracle-identical to q137 BY CONTRACT —
  // persistence must not change one byte of the encoding. At 100 TB
  // the save/load halves run in different jobs days apart; here they
  // round-trip through a temp dir inside one query.
  def q157BpeEncodeLoaded(s: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.documents(s, dir)
    // durable catalog (the q175/q176/q158 pattern): the tokenizer
    // trains once per corpus; every later session and bench iteration
    // pays only load + encode — the honest serve-side cost
    val root = graft.llm.Artifacts.ensure(dir, s"bpe-v1-m$BpeMerges") { p =>
      graft.llm.Artifacts.saveBpe(s, p,
        graft.llm.BpeTrainer.trainMerges(docs, "doc_id", "text", BpeMerges),
        graft.llm.BpeTrainer.vocab(docs, "doc_id", "text", BpeMerges))
    }
    val loadedMerges = graft.llm.Artifacts.loadBpeMerges(s, root)
    val loadedVocab = graft.llm.Artifacts.loadBpeVocab(s, root)
      .select(col("sym"), col("sym_id"))
    graft.llm.BpeTrainer.encode(docs, "doc_id", "text",
      loadedMerges, loadedVocab)
  }

  // ---- q155: order-independent dataset integrity checksum ----
  // [[graft.llm.Sketches.integrityCard]] over the documents table,
  // grouped by source: the replication/migration audit a 100 TB lake
  // runs instead of a row-by-row diff (see the card's scaladoc for
  // the commutativity contract).
  def q155DatasetChecksum(s: SparkSession, dir: String): DataFrame =
    graft.llm.Sketches.integrityCard(graft.Tables.documents(s, dir),
        col("source"),
        Seq(col("doc_id").cast("string"), coalesce(col("text"), lit("")),
          coalesce(col("lang"), lit("")), coalesce(col("source"), lit("")),
          col("n_chars").cast("string")))
      .withColumnRenamed("g", "source")

  // ---- q100: degree-oriented triangle counting ----
  // The community-density signal over q87's link graph: per-vertex
  // triangle participation via degree orientation (wedges form only
  // at the (degree, id)-smallest vertex, so a star hub generates zero
  // wedges — the skew-proof formulation). The oracle regenerates the
  // graph and replays orientation, wedges, and closure.
  def q100Triangles(s: SparkSession, dir: String): DataFrame = {
    val (_, edges) = linkGraph(s, dir)
    graft.llm.LinkRank.triangleCounts(edges)
      .select(col("v").as("doc_id"), col("n_tri"))
  }

  // ---- q116: k-hop seed expansion over the link graph ----
  // The trust-propagation primitive: BFS layers from the seed slice
  // (doc_id ≡ 0 mod SeedMod) along q87's directed edges, depth-capped
  // at KhopDepth. Unreached docs surface as dist = -1 (curation reads
  // that as "outside the trust radius"), so every doc carries a
  // verdict. Each round is one src-keyed join + dst-keyed min — the
  // frontier frame never exceeds one row per reached vertex.
  private val KhopDepth = 3
  private val SeedMod = 101L
  def q116KhopSeeds(s: SparkSession, dir: String): DataFrame = {
    val (docs, edges) = linkGraph(s, dir)
    val seeds = docs.filter(col("doc_id") % SeedMod === 0L)
      .select(col("doc_id").as("v"))
    val dist = graft.llm.LinkRank.khopDistances(edges, seeds, KhopDepth)
    docs.join(dist.withColumnRenamed("v", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("dist"), lit(-1L)).as("dist"))
  }

  // ---- q122: vocabulary-growth (Heaps' law) card ----
  // Sizing evidence for tokenizer vocab and sketch capacity: distinct
  // vs total token counts at 8 corpus prefixes. The corpus pays two
  // aggregations total (token first-seen + per-doc counts); every
  // checkpoint is then a conditional count — not one scan per prefix.
  private val GrowthCheckpoints = 8
  def q122VocabGrowth(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.vocabGrowth(graft.Tables.documents(s, dir),
      "doc_id", "text", GrowthCheckpoints)

  // ---- q123: video scene-cut detection ----
  // Temporal segmentation before clip sampling: every frame of every
  // GVID container decoded in order, reduced to a fixed-point mean
  // pixel, a cut wherever the frame-to-frame delta reaches the
  // threshold. The oracle recomputes each frame's mean pixel from the
  // BMP spec and replays the lag walk — certifying the decode, the
  // ordering, and the cut rule together.
  private val SceneCutThrMp = 30000L
  def q123SceneCuts(s: SparkSession, dir: String): DataFrame =
    graft.llm.Multimodal.videoSceneCuts(
      graft.llm.Multimodal.documentsAsVideo(s, dir), SceneCutThrMp)

  // ---- q126: deterministic train/val/test split ----
  // The split that must be re-derivable forever: hash32(doc_id) mod
  // 100 against 90/5 fences, row-local and shuffle-free, so appending
  // batches or reshuffling the corpus can never migrate a document
  // into eval. Per-doc assignment (not just counts) so downstream
  // joins consume it; the oracle replays the identical md5 prefix.
  private val TrainPct = 90
  private val ValPct = 5
  def q126DatasetSplit(s: SparkSession, dir: String): DataFrame =
    graft.llm.Sampling.hashSplit(
      graft.Tables.documents(s, dir).select(col("doc_id"), col("lang")),
      "doc_id", TrainPct, ValPct)

  // ---- q131: histogram-quantile error card ----
  // The scalable-quantile tradeoff with evidence: per language, exact
  // p50/p90/p99 of n_chars (ceil-rank over the counting aggregate)
  // next to the estimate a 256-wide equi-width histogram gives
  // (bucket midpoint at the same rank), with the ppm error. The
  // histogram is the 100 TB path — buckets are a fixed-size mergeable
  // aggregate like the q97 registers — and the card prices its error
  // instead of asserting a tolerance.
  private val SketchPcts = Seq(50, 90, 99)
  private val SketchW = 256L
  def q131QuantileSketch(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = graft.Tables.documents(s, dir)
      .select(col("lang"), col("n_chars").cast("bigint").as("v"))
    val pcts = explode(array(SketchPcts.map(p => lit(p.toLong)): _*)).as("pct")
    def ranked(frame: DataFrame): DataFrame = {
      val wc = Window.partitionBy(col("lang")).orderBy(col("x"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val wa = Window.partitionBy(col("lang"))
      frame.groupBy(col("lang"), col("x")).agg(count(lit(1)).as("c"))
        .withColumn("cum", sum(col("c")).over(wc))
        .withColumn("tot", sum(col("c")).over(wa))
        .select(col("lang"), col("x"), col("cum"), col("tot"), pcts)
        .filter(col("cum") >= expr("(pct * tot + 99L) div 100L"))
        .groupBy(col("lang"), col("pct")).agg(min(col("x")).as("pick"))
    }
    val exact = ranked(d.select(col("lang"), col("v").as("x")))
      .withColumnRenamed("pick", "exact_v")
    val est = ranked(d.select(col("lang"), expr(s"v div $SketchW").as("x")))
      .select(col("lang"), col("pct"),
        expr(s"pick * $SketchW + ${SketchW / 2}").as("est_v"))
    exact.join(est, Seq("lang", "pct"))
      .select(col("lang"), col("pct"), col("exact_v"), col("est_v"),
        expr("abs(est_v - exact_v) * 1000000L div greatest(exact_v, 1L)")
          .as("err_ppm"))
  }

  // ---- q101: asymmetric containment join ----
  // The dup geometry Jaccard misses: a short document quoted inside a
  // long one has tiny Jaccard but containment ≈ 1. Distinct-3-gram
  // postings, df cut, one undirected pair pass evaluated in both
  // directions. The oracle replays grams, the cut, and both verifies.
  private val ContainMaxDf = 50L
  private val ContainThrPpm = 800000L
  def q101Containment(s: SparkSession, dir: String): DataFrame =
    graft.llm.SparseSim.containmentPairs(graft.Tables.documents(s, dir),
      "doc_id", "text", ContainMaxDf, ContainThrPpm)

  // ---- q103: weighted deterministic group sample ----
  // Length-biased eval selection: priority ⌊h·10⁶/w⌋ with w =
  // max(n_chars, 1), k smallest per language. The operator runs the
  // priority-space threshold prefilter (survivors ≤ k·margin per
  // group); the oracle replays the FULL rank window — equality proves
  // the prefilter sound, the q52 pattern.
  private val WSampleK = 10
  def q103WeightedSample(s: SparkSession, dir: String): DataFrame = {
    val d = graft.Tables.documents(s, dir)
      .withColumn("w8", greatest(col("n_chars"), lit(1L)))
    graft.llm.Sampling.weightedGroupSample(d, "lang", "doc_id", "w8", WSampleK)
      .select(col("lang"), col("doc_id"), col("_priority").as("pri"))
  }

  // ---- q104: cross-source quality calibration ----
  // A quality threshold tuned on one source misfires on another whose
  // score distribution differs; percentile-normalizing within source
  // (exact integer rank over the score-counting aggregate) makes one
  // threshold portable. The oracle replays the rank walk and the
  // floor division.
  def q104QualityCalibrated(s: SparkSession, dir: String): DataFrame = {
    val d = graft.Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), qualityScoreFp("text").as("quality_fp"))
    TextAnalysis.scoreCalibration(d, "source", "quality_fp")
      .select(col("doc_id"), col("source"), col("quality_fp"), col("pct_ppm"))
  }

  // ---- q105: bigram-conditional surprisal ----
  // The fluency signal q71's unigram model is blind to: common words
  // in uncommon ORDER now cost bits. Add-one-smoothed P(b|a) scored
  // as an integer digit-length log; the oracle replays pairs, counts,
  // smoothing and the per-doc mean.
  def q105BigramSurprisal(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.bigramSurprisalFp(graft.Tables.documents(s, dir),
      "doc_id", "text")

  // ---- q107: robust per-language length outliers (median/MAD) ----
  // Mean/stddev outlier gates are dragged by the very outliers they
  // hunt; median/MAD is not, and stays integer-exact. The oracle
  // replays both lower-median walks and the 3·MAD flag.
  def q107RobustOutliers(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.robustOutliers(
      graft.Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), col("n_chars")),
      "lang", "n_chars")
      .select(col("doc_id"), col("lang"), col("n_chars"), col("med"),
        col("mad"), col("is_outlier"))

  // ---- q108: per-source length-histogram drift vs the corpus ----
  // "Did source X's length profile move away from the corpus?" — L2
  // distance between ppm histogram SHARES, integer-exact at any
  // scale. The oracle replays buckets, shares and the grid sum.
  private val DriftBucketWidth = 200L
  private val DriftMaxBucket = 50L
  def q108HistogramDrift(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.histogramDrift(
      graft.Tables.documents(s, dir).select(col("source"), col("n_chars")),
      "source", "n_chars", DriftBucketWidth, DriftMaxBucket)

  // ---- q195: trained token-vote language classifier ----
  // The first TRAINED MODEL on the board (vs trained indexes/codecs):
  // multinomial-NB-as-token-vote ([[graft.llm.NbClassifier]]) fit on
  // the hash-split train slice of `documents`, evaluated as a
  // confusion matrix on the held-out test slice. Every score is an
  // exact integer floor-division, so training, the per-token winner
  // table, the vote, and the matrix all replay in the oracle.
  // Scale: training is one (label, token) aggregate; scoring is one
  // vocab join + two doc-keyed aggregates — see the module scaladoc.
  private val ClsTrainPct = 80
  private val ClsValPct = 10
  def q195NbClassifier(s: SparkSession, dir: String): DataFrame = {
    val split = graft.llm.Sampling.hashSplit(
      graft.Tables.documents(s, dir), "doc_id", ClsTrainPct, ClsValPct)
    val counts = graft.llm.NbClassifier.train(
      split.filter(col("split") === "train"), "text", "lang")
    graft.llm.NbClassifier.confusionCard(
      split.filter(col("split") === "test"), counts, "doc_id", "text", "lang")
  }

  // ---- q196: the same classifier served from the durable catalog ----
  // train-once/serve-many (the q157/q158/q175/q176 contract): the
  // counts frame — the classifier's ENTIRE trained state — ships as a
  // plain parquet artifact; the winner table, totals, and smoothing
  // constants re-derive from the loaded replica, so this card is
  // byte-identical to q195 (same oracle) while its bench line prices
  // load + score only.
  def q196NbLoaded(s: SparkSession, dir: String): DataFrame = {
    val split = graft.llm.Sampling.hashSplit(
      graft.Tables.documents(s, dir), "doc_id", ClsTrainPct, ClsValPct)
    val root = graft.llm.Artifacts.ensure(dir, s"nbcls-v1-p$ClsTrainPct") { p =>
      graft.llm.Artifacts.saveIndexFrame(s"$p/counts",
        graft.llm.NbClassifier.train(
          split.filter(col("split") === "train"), "text", "lang"))
    }
    val counts = graft.llm.Artifacts.loadIndexFrame(s, s"$root/counts")
    graft.llm.NbClassifier.confusionCard(
      split.filter(col("split") === "test"), counts, "doc_id", "text", "lang")
  }

  // ---- q302: inter-annotator agreement (Cohen's kappa) ----
  // Label QA for weak supervision: the two independent automatic
  // labelers the pipeline already runs — the stopword-profile langId
  // heuristic and the q195 NB classifier — graded against each OTHER
  // on the test split, chance-corrected
  // ([[graft.llm.LabelQa.kappaCard]]). Raw agreement po overstates
  // consensus under skewed marginals (two labelers that both say "en"
  // 80% of the time agree 68% by luck); kappa rescales by the
  // marginal-product chance rate — the number an auto-accept rule
  // ("admit when both labelers agree") must clear before its
  // agreements mean anything. Scale: one (lab_a, lab_b) cell
  // aggregate over the split; marginals, the chance product, and the
  // ratio are all class-count-sized. The oracle replays both labelers
  // (the q19 CASE chain, the q195 vote CTEs) and the exact
  // signed-floor-ppm kappa arithmetic in HUGEINT.
  def q302AnnotatorKappa(s: SparkSession, dir: String): DataFrame = {
    val split = graft.llm.Sampling.hashSplit(
      graft.Tables.documents(s, dir), "doc_id", ClsTrainPct, ClsValPct)
    // persist: predict references the counts subtree ~5× (r19)
    val counts = graft.llm.Caches.persistTracked(
      graft.llm.NbClassifier.train(
        split.filter(col("split") === "train"), "text", "lang"))
    val test = split.filter(col("split") === "test")
    val pair = test.select(col("doc_id"), langId("text").as("lab_a"))
      .join(graft.llm.NbClassifier.predict(test, counts, "doc_id", "text")
        .select(col("doc_id"), col("label_pred").as("lab_b")), Seq("doc_id"))
    graft.llm.LabelQa.kappaCard(pair, "lab_a", "lab_b")
  }

  // ---- q303: label-consensus monitor (kappa, ingest spelling) ----
  // q302's card the way the LIVE feed must run it: kappaCard's
  // aggregate of an aggregate is streaming-illegal, so
  // [[graft.llm.LabelQa.kappaPivot]] pins the class list as monitor
  // config and computes the whole card in ONE global aggregate
  // (per-class conditional-sum marginals + the agree count) with the
  // kappa arithmetic row-local on the single aggregated row —
  // a streaming frame runs this function unchanged (stream == batch
  // pinned in StreamingSpec). The pinned list here is {en, zh, es}, so the card
  // also EXERCISES the OTHER lump (de/fr and the no-evidence label
  // fold into one bucket, the chiSquarePivot discipline). State at
  // scale: 2·(K+1)+2 longs total, whatever the feed length.
  private[queries] val KappaClasses = Seq("en", "zh", "es")
  def q303KappaMonitor(s: SparkSession, dir: String): DataFrame = {
    val split = graft.llm.Sampling.hashSplit(
      graft.Tables.documents(s, dir), "doc_id", ClsTrainPct, ClsValPct)
    // persist: predict references the counts subtree ~5× (r19)
    val counts = graft.llm.Caches.persistTracked(
      graft.llm.NbClassifier.train(
        split.filter(col("split") === "train"), "text", "lang"))
    val test = split.filter(col("split") === "test")
    val pair = test.select(col("doc_id"), langId("text").as("lab_a"))
      .join(graft.llm.NbClassifier.predict(test, counts, "doc_id", "text")
        .select(col("doc_id"), col("label_pred").as("lab_b")), Seq("doc_id"))
    graft.llm.LabelQa.kappaPivot(pair, "lab_a", "lab_b", KappaClasses)
  }

  /** The 3-labeler weak-supervision stack q308/q309 grade — the
    * corpus metadata tag, the n-gram language-ID heuristic, and the
    * NB classifier, all voting on the held-out test slice in LONG
    * format `(doc_id, rater, lab)`. Every test doc gets exactly one
    * vote per rater (the Fleiss balance precondition, REPORTED not
    * assumed by the card). */
  private def labelerRatings(s: SparkSession, dir: String): DataFrame = {
    val split = graft.llm.Sampling.hashSplit(
      graft.Tables.documents(s, dir), "doc_id", ClsTrainPct, ClsValPct)
    // the trained counts frame is vocab-sized and referenced ~5× by
    // predict's verdict pipeline (winner table + class constants +
    // smoothing default) — persist it so the train-slice tokenize runs
    // once, not per reference (r19: the whole agreement family replays
    // this chain; measured 2.9-3.2 s/card before, the NB train subtree
    // dominating)
    val counts = graft.llm.Caches.persistTracked(
      graft.llm.NbClassifier.train(
        split.filter(col("split") === "train"), "text", "lang"))
    // keyed on doc_id BEFORE the persist: Spread.byKey sees the file
    // scan here and sees none under the cache, and the cached scan keeps
    // the HashPartitioning(doc_id) — so predict's vote and majority
    // aggregates, the rater union and the cards' per-item aggregates
    // above it all run without another exchange
    val test = graft.llm.Caches.persistTracked(graft.llm.Spread.byKey(
      split.filter(col("split") === "test"), col("doc_id")))
    // the ratings frame feeds self-joins (kappaMatrix) and multi-branch
    // aggregates downstream — persist the (test-slice × 3 raters) frame
    // so the NB predict chain is priced once per card, not per branch
    graft.llm.Caches.persistTracked(
      test.select(col("doc_id"), lit("lang").as("rater"),
          col("lang").as("lab"))
        .unionByName(test.select(col("doc_id"), lit("langid").as("rater"),
          langId("text").as("lab")))
        .unionByName(
          graft.llm.NbClassifier.predict(test, counts, "doc_id", "text")
            .select(col("doc_id"), lit("nb").as("rater"),
              col("label_pred").as("lab"))))
  }

  // ---- q308: Fleiss' kappa (k-labeler consensus) ----
  // q302 grades exactly two labelers; a weak-supervision stack has
  // three or more the moment rules, a distilled classifier and a
  // language-ID heuristic all vote. [[graft.llm.LabelQa.fleissCard]]
  // pools the marginals across raters (Fleiss 1971) in the same
  // exact floor-ppm integer discipline as q302 — po from per-item
  // rating pairs, pe from pooled category marginals, the signed
  // truncation CASE — and REPORTS imbalance instead of assuming the
  // equal-k design. The oracle replays the full three-rater chain
  // (split, NB train/predict, langId) and every aggregate.
  def q308FleissKappa(s: SparkSession, dir: String): DataFrame =
    graft.llm.LabelQa.fleissCard(labelerRatings(s, dir),
      "doc_id", "rater", "lab")

  // ---- q309: pairwise-kappa matrix (names the drifted labeler) ----
  // [[graft.llm.LabelQa.kappaMatrix]] over the same three raters —
  // one q302-arithmetic row per unordered pair, computed group-wise
  // in ONE plan. Where q308 says "consensus dropped", the row whose
  // two cells both sag names WHICH labeler drifted (the q303 monitor
  // reads exactly that). At two raters the single row IS q302's card
  // (pinned in LabelQaSpec).
  def q309KappaMatrix(s: SparkSession, dir: String): DataFrame =
    graft.llm.LabelQa.kappaMatrix(labelerRatings(s, dir),
      "doc_id", "rater", "lab")

  // ---- q313: k-labeler consensus monitor (streaming Fleiss) ----
  // q308's fleissCard is streaming-illegal twice over (per-item
  // aggregate feeding global aggregates; observed-max rater count).
  // [[graft.llm.LabelQa.fleissPivot]] pins the class list and the
  // expected rater count as monitor config and computes the identical
  // card from one-row-per-item label ARRAYS in ONE global aggregate —
  // a streaming frame runs the function unchanged (stream == batch
  // pinned in StreamingSpec). Unpinned labels and null lump to `(other)` (the
  // q303 bucket discipline). The oracle replays the 3-rater chain,
  // the lump, and the pooled-marginal arithmetic.
  def q313FleissMonitor(s: SparkSession, dir: String): DataFrame = {
    // collect_list drops nulls — pre-lump a null vote to the bucket
    // the pivot would lump it to anyway, so no rating silently vanishes
    val items = labelerRatings(s, dir).groupBy(col("doc_id"))
      .agg(collect_list(coalesce(col("lab"),
        lit(graft.llm.LabelQa.OtherLabel))).as("labs"))
    graft.llm.LabelQa.fleissPivot(items, "labs", KappaClasses, 3)
  }

  // ---- q316: Krippendorff's alpha (missing-rating agreement) ----
  // q308 REPORTS design imbalance; this card is the estimator built
  // for it ([[graft.llm.LabelQa.alphaCard]], Krippendorff 2004,
  // nominal metric): the 'nb' rater is deliberately MISSING on a
  // quarter of the test slice (a rating that never happened — NOT an
  // abstain label, which stays a real category), per-item
  // disagreement weights by 1/(k_i − 1) through the exact lcm-scaled
  // integer spelling, and chance comes from the pairable ratings
  // only. On complete designs alpha reduces to Fleiss via
  // 1 − alpha = (1 − kappa)·(T−1)/T, pinned universally in
  // AlphaProps. The oracle replays the 3-rater chain, the missing
  // slice, and every aggregate.
  private val AlphaMissingMod = 4L
  private val AlphaMaxRaters = 3
  def q316KrippendorffAlpha(s: SparkSession, dir: String): DataFrame =
    graft.llm.LabelQa.alphaCard(
      labelerRatings(s, dir).filter(!(col("rater") === "nb" &&
        pmod(col("doc_id"), lit(AlphaMissingMod)) === 1L)),
      "doc_id", "rater", "lab", AlphaMaxRaters)

  // ---- q317: rater accuracy against held-out truth ----
  // q309 names who DISAGREES; where truth exists (the corpus lang tag
  // on the test slice) [[graft.llm.LabelQa.accuracyCard]] names who
  // is WRONG: per rater, raw accuracy plus truth-kappa (Cohen's
  // kappa vs the truth column — chance-corrected, so marginal-skew
  // parroting cannot buy a score). The 'lang' rater IS the truth
  // tag, so its row pins accuracy = kappa = 1.0 inside the card — a
  // live sanity row the oracle replays too.
  def q317RaterAccuracy(s: SparkSession, dir: String): DataFrame = {
    val split = graft.llm.Sampling.hashSplit(
      graft.Tables.documents(s, dir), "doc_id", ClsTrainPct, ClsValPct)
    val truth = split.filter(col("split") === "test")
      .select(col("doc_id"), col("lang"))
    graft.llm.LabelQa.accuracyCard(labelerRatings(s, dir),
      "doc_id", "rater", "lab", truth, "lang")
  }

  // ---- q318: streaming alpha monitor (missing-rating agreement live) ----
  // q316's estimator in the ingest spelling: one row per item with
  // its label ARRAY (possibly SHORTER than the roster — the missing
  // ratings alpha exists for arrive naturally at ingest), class list
  // and maxRaters pinned as monitor config, every per-item quantity
  // row-local into ONE global aggregate —
  // [[graft.llm.LabelQa.alphaPivot]], which a streaming frame runs
  // unchanged (stream == batch pinned in AlphaSpec). Unpinned labels
  // and null votes lump to `(other)`. The oracle replays the 3-rater
  // chain, the missing slice, the lump, and the lcm-scaled coincidence
  // arithmetic.
  def q318AlphaMonitor(s: SparkSession, dir: String): DataFrame = {
    // collect_list drops nulls — pre-lump a null vote to the bucket
    // the pivot lumps it to anyway (the q313 discipline)
    val items = labelerRatings(s, dir)
      .filter(!(col("rater") === "nb" &&
        pmod(col("doc_id"), lit(AlphaMissingMod)) === 1L))
      .groupBy(col("doc_id"))
      .agg(collect_list(coalesce(col("lab"),
        lit(graft.llm.LabelQa.OtherLabel))).as("labs"))
    graft.llm.LabelQa.alphaPivot(items, "labs", KappaClasses,
      AlphaMaxRaters)
  }

  // ---- q320: ordinal Krippendorff's alpha (graded-label agreement) ----
  // q316 grades NOMINAL labels; quality is ORDINAL — "band 1 vs 2"
  // is a smaller disagreement than "0 vs 3", and the nominal metric
  // cannot see it ([[graft.llm.LabelQa.alphaWeightedCard]], r18
  // verdict ask #8: Krippendorff 2004's ordinal metric, weights
  // data-derived from the coincidence marginals, the whole card in
  // lcm-scaled exact integers). Three cheap quality raters band
  // every document onto one pinned 4-point scale — the q20 quality
  // score, raw character length, and the token count (each already
  // oracle-pinned spellings) — and the 'tokens' rater is
  // deliberately MISSING on a quarter of the corpus (the q316
  // discipline: absent ratings are alpha's reason to exist). The
  // oracle replays the banding, the marginals, the segment-sum
  // ordinal weights, DoN/DeN, and the floor-ppm rules in HUGEINT.
  private val OrdScale = Seq("0", "1", "2", "3")
  def q320OrdinalAlpha(s: SparkSession, dir: String): DataFrame = {
    val d = graft.Tables.documents(s, dir)
    val q = TextAnalysis.qualityScoreFp("text")
    val qBand = when(q < 400000L, "0").when(q < 650000L, "1")
      .when(q < 900000L, "2").otherwise("3")
    // char/token cutoffs sit at the corpus quartiles (chars ≈ 5.5 ×
    // tokens on this generator), so the three raters band on
    // comparable scales and the card measures estimator behavior on
    // genuinely correlated ordinal votes, not a manufactured
    // scale-offset disagreement
    val len = length(col("text"))
    val lBand = when(len < 170, "0").when(len < 300, "1")
      .when(len < 440, "2").otherwise("3")
    val nTok = TextAnalysis.tokenCount(col("text")).cast("bigint")
    val tBand = when(nTok < 30L, "0").when(nTok < 55L, "1")
      .when(nTok < 80L, "2").otherwise("3")
    // all three raters from ONE scan/fold pass (a 3-struct explode)
    // instead of a 3-branch union that re-scanned and re-folded the
    // corpus per rater (r19, guide §2.4); the 'tokens' rater's missing
    // quarter drops by the same pmod filter post-explode. Spread:
    // qualityScoreFp's token fold is the heavy part and a single-split
    // scan runs it serial.
    val ratings = graft.llm.Spread(d.select(col("doc_id"), col("text")))
      .select(col("doc_id"), explode(array(
        struct(lit("quality").as("rater"), qBand.as("lab")),
        struct(lit("length").as("rater"), lBand.as("lab")),
        struct(lit("tokens").as("rater"), tBand.as("lab")))).as("rt"))
      .select(col("doc_id"), col("rt.rater").as("rater"),
        col("rt.lab").as("lab"))
      .filter(!(col("rater") === "tokens" &&
        pmod(col("doc_id"), lit(AlphaMissingMod)) === 1L))
    graft.llm.LabelQa.alphaWeightedCard(ratings, "doc_id", "rater",
      "lab", AlphaMaxRaters, OrdScale, "ordinal")
  }

  // ---- q310: span-removal aggressiveness sweep ----
  // q300 strips at ONE (gramN, minOcc) point; this card prices the
  // whole grid ([[graft.llm.Dedup.spanSweep]]) — blocklist size,
  // docs touched, and EXACTLY the tokens q300 would remove at each
  // cell (same coverage arithmetic, pinned in SpanSweepSpec) — so
  // the curation operating point is chosen off a measured curve, not
  // defaulted. One shared gram-position frame per gramN (the q193
  // threshold-sweep discipline); thresholds multiply only the
  // post-count filter, never the tokenize.
  // 50 is the Lee et al. (2022) operating point — long verbatim spans
  // (56% of this corpus's docs carry >= 50 tokens, so the cell is a
  // real measurement, not a vacuous zero row)
  private[queries] val SpanSweepGramNs = Seq(4, 8, 50)
  private[queries] val SpanSweepMinOccs = Seq(2L, 3L, 5L)
  def q310SpanSweep(s: SparkSession, dir: String): DataFrame = {
    // the grid must contain the production operating point — a grid
    // edit that orphans the knob fails at plan build (Knobs coupling)
    require(SpanSweepGramNs.contains(graft.llm.Knobs.SpanGramN) &&
      SpanSweepMinOccs.contains(graft.llm.Knobs.SpanMinOcc),
      "span sweep grid must contain the production (gramN, minOcc)")
    graft.llm.Dedup.spanSweep(graft.Tables.documents(s, dir),
      "doc_id", "text", SpanSweepGramNs, SpanSweepMinOccs)
  }

  // ---- q199: capped-proportional token-budget allocation ----
  // The fair-share decision q161/q191 stop short of: given a target
  // token budget (90% of the corpus here), how many tokens to DRAW
  // from each source when no source can give more than it has.
  // [[graft.llm.Sampling.cappedAllocation]]'s exact integer
  // water-fill over the per-source token caps; at this corpus the
  // budget sits between the smallest and largest caps, so BOTH
  // regimes (saturated small sources, level-shared big ones) appear
  // in the card and the oracle re-proves the cut, the floor level,
  // and the remainder distribution. Scale: one corpus aggregate
  // (map-side combined, persisted for its two consumers — the budget
  // scalar is a bounded driver collect), then source-count-sized
  // window walks.
  private val AllocPpm = 900000L
  def q199TokenAllocation(s: SparkSession, dir: String): DataFrame = {
    val caps = graft.llm.Caches.persistTracked(
      graft.Tables.documents(s, dir)
        .groupBy(coalesce(col("source"), lit("(null)")).as("source"))
        .agg(sum(TextAnalysis.tokenCount(col("text")).cast("bigint"))
          .cast("bigint").as("cap_tokens")))
    val total = caps.agg(sum(col("cap_tokens")).cast("bigint"))
      .collect()(0).getLong(0)
    val budget = (BigInt(total) * AllocPpm / 1000000L).toLong
    graft.llm.Sampling.cappedAllocation(caps, "source", "cap_tokens", budget)
  }

  // ---- q200: data-constrained epoch plan (repeat-vs-buy card) ----
  // The Muennighoff-style accounting a token-starved training run
  // needs: per source, its UNIQUE token mass (q184's first-occurrence
  // fingerprint rule — duplicate copies must not count as fresh
  // data), the share of a 2×-unique total budget it is assigned
  // (q199's water-fill, caps = EpochCap·unique so no source repeats
  // past 4 epochs), the implied epoch count, and the EFFECTIVE token
  // value after a geometric per-epoch decay (repeated epochs teach
  // less — the shape data-constrained scaling fits measure). All
  // integer: epoch slices are clamps, the decay a ppm literal per
  // epoch, products in decimal(38,0)/HUGEINT. Scale: one corpus scan
  // into the per-source unique aggregate (persisted for its two
  // consumers), then source-count-sized arithmetic.
  private val EpochCap = 4
  private val EpochValuePpm = Seq(1000000L, 630000L, 400000L, 250000L)
  private val RepeatPpm = 2000000L
  def q200EpochPlan(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("fp")).orderBy(col("doc_id"))
    val uniq = graft.llm.Caches.persistTracked(
      graft.Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          Dedup.fingerprintOrEmpty(col("text")).as("fp"),
          TextAnalysis.tokenCount(col("text")).cast("bigint").as("n_tok"))
        .withColumn("__rn", row_number().over(w))
        .groupBy(col("source"))
        .agg(sum(when(col("__rn") === 1, col("n_tok")).otherwise(0L))
          .cast("bigint").as("unique_tokens")))
    val total = uniq.agg(sum(col("unique_tokens")).cast("bigint"))
      .collect()(0).getLong(0)
    val budget = (BigInt(total) * RepeatPpm / 1000000L).toLong
    val alloc = graft.llm.Sampling.cappedAllocation(
      uniq.select(col("source"),
        (col("unique_tokens") * EpochCap).as("cap_tokens")),
      "source", "cap_tokens", budget)
    val effTerms = EpochValuePpm.zipWithIndex.map { case (v, k) =>
      s"cast(greatest(least(alloc_tokens - ${k}L * unique_tokens, " +
        s"unique_tokens), 0L) as decimal(38,0)) * $v"
    }.mkString(" + ")
    alloc.join(uniq, Seq("source"))
      .select(col("source"), col("unique_tokens"),
        col("alloc_tokens"),
        expr("cast(case when unique_tokens = 0 then 0 else " +
          "cast(alloc_tokens as decimal(38,0)) * 1000000 " +
          "div unique_tokens end as bigint)").as("epochs_fp"),
        expr(s"cast(($effTerms) div 1000000 as bigint)")
          .as("effective_tokens"))
  }

  // ---- q202: vocabulary-size sweep (coverage curve pricing) ----
  // The tokenizer-design question q53 answers for ONE vocab size,
  // priced for every candidate in one pass (the q193/q199 sweep
  // pattern): occurrence coverage needs no corpus re-scan per V —
  // OOV@V is total occurrences minus the rank-prefix mass of the
  // frequency table, so the whole sweep reads the corpus once,
  // ranks only the top max(V) rows (TakeOrdered, q53's tie-break),
  // and the candidate join is literals × a max(V)-row frame. The
  // frequency table feeds the rank AND the totals → persisted.
  private val VocabSweep = Seq(5L, 10L, 20L, 40L, 80L)
  def q202VocabSweep(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val maxV = VocabSweep.max.toInt
    val freq = graft.llm.Caches.persistTracked(
      TextAnalysis.tokenFreq(TextAnalysis.explodedTokens(
        graft.Tables.documents(s, dir), "doc_id", "text")))
    val top = TextAnalysis.topVocabOfFreq(freq, maxV)
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("c").desc, col("w").asc)).cast("bigint"))
    val tot = freq.agg(sum(col("c")).cast("bigint").as("total_occ"),
      count(lit(1)).as("n_types"))
    VocabSweep.toDF("vocab_size")
      .join(top, col("rnk") <= col("vocab_size"), "left")
      .groupBy(col("vocab_size"))
      .agg(count(col("w")).as("covered_types"),
        sum(coalesce(col("c"), lit(0L))).cast("bigint").as("covered_occ"))
      .crossJoin(broadcast(tot))
      .select(col("vocab_size"), col("n_types"), col("covered_types"),
        col("covered_occ"),
        (col("total_occ") - col("covered_occ")).as("oov_occ"),
        expr("cast(cast(total_occ - covered_occ as decimal(38,0)) * 1000000 " +
          "div greatest(total_occ, 1L) as bigint)").as("oov_ppm"))
  }

  // ---- q209: classifier confidence calibration card ----
  // Is the router's confidence honest? q195's vote-share signal
  // bucketed into deciles against held-back truth: per bucket,
  // accuracy ppm — a well-calibrated classifier's accuracy rises
  // with its share; a flat curve means the confidence is noise and
  // any share-based routing threshold is theater. Same split, same
  // trained counts, same vote pipeline as q195 (shared nbCtes in the
  // oracle), one extra windowed share and a decile rollup.
  def q209NbCalibration(s: SparkSession, dir: String): DataFrame = {
    val split = graft.llm.Sampling.hashSplit(
      graft.Tables.documents(s, dir), "doc_id", ClsTrainPct, ClsValPct)
    val counts = graft.llm.NbClassifier.train(
      split.filter(col("split") === "train"), "text", "lang")
    val test = split.filter(col("split") === "test")
    graft.llm.NbClassifier.predict(test, counts, "doc_id", "text")
      .join(test.select(col("doc_id"), col("lang").as("label_true")),
        Seq("doc_id"))
      .groupBy(expr("share_ppm div 100000").as("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("label_pred") === col("label_true"), 1L).otherwise(0L))
          .as("n_correct"))
      .withColumn("accuracy_ppm", expr(
        "cast(cast(n_correct as decimal(38,0)) * 1000000 " +
          "div greatest(n_docs, 1L) as bigint)"))
  }

  // ---- q210: length-sorted-batching waste card ----
  // [[graft.llm.Packing.batchWasteCard]] over whitespace token
  // counts: the padding a shuffled loader pays vs the same shards
  // batched length-descending — the decision evidence for sorted
  // batching, priced not asserted (q188 prices PACKED-vs-padded;
  // this prices the batching ORDER).
  private val BatchShards = 8
  private val BatchSize = 32
  def q210BatchWaste(s: SparkSession, dir: String): DataFrame =
    graft.llm.Packing.batchWasteCard(
      graft.Tables.documents(s, dir)
        .select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).cast("bigint").as("n_tok")),
      "doc_id", "n_tok", BatchShards, BatchSize)

  // ---- q216: per-document keyword extraction (TF·IDF top-k) ----
  // The doc-level twin of q36's corpus-level distinctive terms: each
  // document's top-3 terms by tf × integer-exact idf (binary digit
  // length of N div df — q71's log trick, so the score replays
  // byte-for-byte; float idf would drift in the last ulp). The
  // per-(doc, term) tf frame feeds BOTH the df aggregate and the
  // scoring join → persisted; at 100 TB that frame is
  // distinct-(doc, term)-pairs sized — the same trade dupSpanStats
  // documents, spend storage or recompute the tokenize. Ranking is
  // per-doc over the doc's own terms, never a global window.
  private val KwTopK = 3
  def q216Keywords(s: SparkSession, dir: String): DataFrame = {
    val d = graft.Tables.documents(s, dir)
    val tf = graft.llm.Caches.persistTracked(
      TextAnalysis.explodedTokens(d, "doc_id", "text")
        .groupBy(col("doc_id"), col("w"))
        .agg(count(lit(1)).as("tf")))
    val dfq = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
    val n = d.agg(count(lit(1)).as("n"))
    tf.join(dfq, Seq("w"))
      .crossJoin(broadcast(n))
      .withColumn("score",
        col("tf") * expr("cast(length(bin(n div df)) - 1 as bigint)"))
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
          .orderBy(col("score").desc, col("w").asc)))
      .filter(col("rnk") <= KwTopK)
      .select(col("doc_id"), col("rnk").cast("bigint").as("rnk"),
        col("w").as("term"), col("score").cast("bigint").as("score"))
  }

  // ---- q218: more-data accuracy card (delta-train serving live) ----
  // The question every labeling budget hangs on: does adding the val
  // slice's labels actually lift test accuracy? Scored twice against
  // the SAME held-out test slice: counts trained on train only, and
  // counts DELTA-MERGED with the val slice ([[NbClassifier
  // .mergeCounts]] — exact by the spec-pinned monoid property, so
  // the oracle may equivalently train on train∪val). One row per
  // variant. The corpus is tokenized ONCE into a persisted exploded
  // frame that all three slices aggregate from
  // ([[graft.llm.NbClassifier.trainFromTokens]], closing the r13
  // double-tokenize finding at the explode), and scoring is the
  // ONE-pass [[graft.llm.NbClassifier.predictVariantsFromTf]]: tagged
  // winner tables unioned, the test tf joined once, both accuracy
  // rows out of a single (variant, doc) aggregate — closing the r14
  // two-scorings finding. The per-doc correctness frame is shared
  // with q288's paired bootstrap (same chain, different tail).
  private def moreDataPerDocCorrect(s: SparkSession,
      dir: String): DataFrame = {
    val split = graft.llm.Sampling.hashSplit(
      graft.Tables.documents(s, dir), "doc_id", ClsTrainPct, ClsValPct)
      .select(col("doc_id"), col("text"), col("lang"), col("split"))
    // NOTHING corpus-sized is persisted: the train+val slices explode
    // straight into ONE (split, label, w) counting aggregate (the
    // only persist — ≤ 2×vocab rows), the test slice explodes
    // straight into its single-consumer tf frame, and the doc-level
    // split is a cheap md5 projection rescanned by each of its three
    // skinny consumers. Total corpus-side work: each document
    // tokenized exactly once, zero corpus-sized cache writes
    val countsBySplit = graft.llm.Caches.persistTracked(
      graft.llm.NbClassifier.trainFromTokens(
        split.filter(col("split") =!= "test")
          .select(col("split"),
            col("lang").cast("string").as("label"),
            explode(TextAnalysis.tokens(col("text"))).as("w")),
        extraKeys = Seq("split"))
        // vocab-sized result, but the cache keeps the full 32 shuffle
        // partitions (cached plans opt out of AQE coalescing) and
        // every downstream consumer then pays 32 task launches per
        // read — coalesce the tiny frame before caching
        .coalesce(4))
    val base = countsBySplit.filter(col("split") === "train").drop("split")
    val delta = graft.llm.Caches.persistTracked(
      graft.llm.NbClassifier.mergeCounts(base,
        countsBySplit.filter(col("split") === "val").drop("split"))
        .coalesce(4))
    // the doc-level test metadata is consumed FOUR times (labels,
    // ids, the scorer's doc universe, the final accuracy join) — a
    // skinny text-free persist turns four full-corpus text scans
    // into one
    val labels = graft.llm.Caches.persistTracked(
      split.filter(col("split") === "test")
        .select(col("doc_id"), col("lang").cast("string").as("label_true"))
        .coalesce(4))
    val testIds = labels.select(col("doc_id"))
    // test tf has exactly ONE consumer (the one-pass scorer's votes
    // join) — no persist
    val testTf = split.filter(col("split") === "test")
      .select(col("doc_id"),
        explode(TextAnalysis.tokens(col("text"))).as("w"))
      .groupBy(col("doc_id"), col("w"))
      .agg(count(lit(1)).as("tf"))
    // ONE corpus-side pass for both variants: the winner tables are
    // tagged and unioned, tf joins the union once, and both accuracy
    // rows come out of a single (variant, doc) shuffle — scoring k
    // variants costs one tf join, not k
    graft.llm.NbClassifier.predictVariantsFromTf(testIds, testTf,
        Seq("train_only" -> base, "with_val" -> delta))
      .join(labels, Seq("doc_id"))
      .select(col("doc_id"), col("variant"),
        when(col("label_true") === col("label_pred"), 1L).otherwise(0L)
          .as("correct"))
  }

  def q218MoreDataCard(s: SparkSession, dir: String): DataFrame =
    moreDataPerDocCorrect(s, dir)
      .groupBy(col("variant"))
      .agg(count(lit(1)).cast("bigint").as("n_docs"),
        sum(col("correct")).cast("bigint").as("n_correct"))
      .select(col("variant"), col("n_docs"), col("n_correct"),
        expr("cast(cast(n_correct as decimal(38,0)) * 1000000 " +
          "div greatest(n_docs, 1L) as bigint)").as("accuracy_ppm"))

  // ---- q226: NB distillation of the rule gate (weak supervision) ----
  // The cheap-router-approximates-expensive-rules evidence a crawler
  // deploys: q69's rule verdict becomes the TRAINING LABEL (keep/drop
  // — no human labels anywhere), the token-vote classifier fits on
  // the train slice, and the card is its confusion against held-out
  // RULE verdicts — how well a one-join router reproduces the full
  // six-rule gate. High agreement ⇒ the router can pre-screen at
  // crawl time and reserve the rule battery for the maybes. Shares
  // the q195 machinery end to end (train/confusionCard) and the
  // nbCtes oracle spelling with the label source swapped to the
  // rulesCtes verdict. Scale: labeling is the q69 row-local
  // projection; everything after is the audited classifier shape.
  def q226RuleDistill(s: SparkSession, dir: String): DataFrame = {
    val labeled = graft.llm.Caches.persistTracked(
      graft.llm.Sampling.hashSplit(
        TextAnalysis.ruleFilter(graft.Tables.documents(s, dir),
            "doc_id", "text", carryCols = Seq("text"))
          .select(col("doc_id"), col("text"),
            when(col("kept"), lit("keep")).otherwise(lit("drop"))
              .as("rule_label")),
        "doc_id", ClsTrainPct, ClsValPct))
    val counts = graft.llm.NbClassifier.train(
      labeled.filter(col("split") === "train"), "text", "rule_label")
    graft.llm.NbClassifier.confusionCard(
      labeled.filter(col("split") === "test"), counts,
      "doc_id", "text", "rule_label")
  }

  // ---- q270: rule distillation served from the SHIPPED counts ----
  // q226 is a bench top-ender because it trains the distilled
  // classifier per run; this is its honest serve cost: the (label,
  // token) counts frame ships through the durable catalog (the q196
  // pattern — counts are a deterministic aggregate, so loaded ≡
  // trained byte-for-byte) and the card prices exactly label join +
  // scoring. Shares q226's oracle verbatim.
  def q270RuleDistillLoaded(s: SparkSession, dir: String): DataFrame = {
    val labeled = graft.llm.Caches.persistTracked(
      graft.llm.Sampling.hashSplit(
        TextAnalysis.ruleFilter(graft.Tables.documents(s, dir),
            "doc_id", "text", carryCols = Seq("text"))
          .select(col("doc_id"), col("text"),
            when(col("kept"), lit("keep")).otherwise(lit("drop"))
              .as("rule_label")),
        "doc_id", ClsTrainPct, ClsValPct))
    val root = graft.llm.Artifacts.ensure(dir, s"nbrule-v1-p$ClsTrainPct") { p =>
      graft.llm.Artifacts.saveIndexFrame(s"$p/counts",
        graft.llm.NbClassifier.train(
          labeled.filter(col("split") === "train"), "text", "rule_label"))
    }
    graft.llm.NbClassifier.confusionCard(
      labeled.filter(col("split") === "test"),
      graft.llm.Artifacts.loadIndexFrame(s, s"$root/counts"),
      "doc_id", "text", "rule_label")
  }

  // ---- q227: BPE decode + round-trip card ----
  // Encode has been on the board since q137; this adds its inverse
  // ([[graft.llm.BpeTrainer.decodeIds]] — the vocabulary joined the
  // other way, `sym_id → sym`, plus an ordered concat) and GRADES the
  // pair: the tokenizer trains on the hash-split train slice only,
  // every distinct held-out test word encodes through the trained
  // merge chain, decodes back through ids, and the card reports per
  // source how many words round-trip exactly versus how many are
  // LOSSY — a symbol the training vocabulary never produced has no
  // id (encode's literal `null`), so decode refuses it. The loss
  // rate is the deployment question for a frozen tokenizer: how much
  // of tomorrow's crawl can today's vocabulary even represent.
  // Scale: training rides the (word, freq) aggregate; the card side
  // is DISTINCT (source, word)-bounded — encode is a codegen'd
  // replace chain, decode one vocabulary broadcast; the only
  // shuffles are the word distinct and the source rollup.
  def q227BpeRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val split = graft.llm.Sampling.hashSplit(
      graft.Tables.documents(s, dir), "doc_id", ClsTrainPct, ClsValPct)
    val train = split.filter(col("split") === "train")
    val merges = graft.llm.BpeTrainer.trainMerges(
      train, "doc_id", "text", BpeMerges)
    val vocab = graft.llm.BpeTrainer.vocab(train, "doc_id", "text", BpeMerges)
      .select(col("sym"), col("sym_id"))
    val testWords = split.filter(col("split") === "test")
      .select(coalesce(col("source"), lit("(null)")).as("source"),
        explode(TextAnalysis.tokens(col("text"))).as("w"))
      .distinct()
    val encoded = testWords
      .select(col("source"), col("w"),
        expr(graft.llm.BpeTrainer.encodeWordSql(merges, "w")).as("s"))
      .select(col("source"), col("w"),
        posexplode(expr(graft.llm.BpeTrainer.symsOfSql("s")))
          .as(Seq("j", "sym")))
      .join(broadcast(vocab), Seq("sym"), "left")
      .groupBy(col("source"), col("w"))
      .agg(array_join(
        transform(
          array_sort(collect_list(struct(col("j"), col("sym_id")))),
          x => x.getField("sym_id").cast("string")),
        " ", "null").as("token_ids"))
    graft.llm.BpeTrainer.decodeIds(encoded, Seq("source", "w"),
        "token_ids", vocab)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_words"),
        sum(when(col("decoded") === col("w"), 1L).otherwise(0L))
          .cast("bigint").as("n_roundtrip_ok"),
        sum(when(col("n_unknown") > 0L, 1L).otherwise(0L))
          .cast("bigint").as("n_lossy"))
      .withColumn("loss_ppm",
        expr("n_lossy * 1000000L div greatest(n_words, 1L)"))
  }

  // ---- q230: compute-optimal feasibility card (Chinchilla × data) ----
  // The sizing question q199/q200 stop short of: given THIS corpus,
  // which model sizes can be trained compute-optimally at all? Per
  // candidate size: the Chinchilla token requirement (20 tokens per
  // parameter — Hoffmann et al. 2022), the corpus's total and
  // UNIQUE-after-exact-dedup tokens (the honest budget — q184's
  // fingerprint spelling), the epochs of the unique set the
  // requirement implies (floor ppm), and feasibility under the
  // ~4-useful-epochs repetition bound (Muennighoff et al. 2023, the
  // q200 constant). All integer arithmetic off ONE corpus aggregate;
  // the model list is a constant frame — the card costs one dedup
  // scan regardless of how many sizes it prices.
  private val ChinchillaTokensPerParam = 20L
  private val ModelSizesM = Seq(125L, 1300L, 13000L)
  def q230ComputeOptimal(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("fp")).orderBy(col("doc_id"))
    val budget = graft.Tables.documents(s, dir)
      .select(col("doc_id"),
        Dedup.fingerprintOrEmpty(col("text")).as("fp"),
        TextAnalysis.tokenCount(col("text")).cast("bigint").as("n_tok"))
      .withColumn("__rn", row_number().over(w))
      .agg(sum(col("n_tok")).cast("bigint").as("total_tokens"),
        sum(when(col("__rn") === 1, col("n_tok")).otherwise(0L))
          .cast("bigint").as("unique_tokens"))
    ModelSizesM.toDF("m_params_m")
      .crossJoin(broadcast(budget))
      .withColumn("required_tokens",
        expr(s"m_params_m * 1000000L * $ChinchillaTokensPerParam"))
      .withColumn("epochs_needed_ppm",
        expr("cast(cast(required_tokens as decimal(38,0)) * 1000000 " +
          "div greatest(unique_tokens, 1L) as bigint)"))
      .withColumn("feasible",
        col("required_tokens") <= lit(EpochCap.toLong) * col("unique_tokens"))
  }

  /** Deterministic PII fixture for q231 (the synthetic corpus carries
    * no contact surface of its own): emails, private-range IPs, and
    * +NN phone strings appended as a pure function of doc_id — the
    * urlSynthSql precedent: ONE spelling, embedded in both the query
    * and its oracle, so the detectors are graded on text whose truth
    * both engines derive identically. */
  /** Deterministic sparse-PII fixture for q231 (q59's injection
    * plants PII on EVERY doc — right for grading the scrubber,
    * useless for a prevalence card): emails, private-range IPs, and
    * +NN phones appended to DISJOINT doc_id classes as a pure
    * function of doc_id — the urlSynthSql precedent: ONE spelling,
    * embedded in both the query and its oracle. Shapes match the
    * audited [[graft.llm.Pii]] patterns. */
  private val piiSynthSql: String =
    """CASE WHEN doc_id % 7 = 0
      |  THEN ' contact user' || doc_id || '@mail.example.com now'
      |WHEN doc_id % 7 = 2
      |  THEN ' from 192.168.' || (doc_id % 256) || '.' || (doc_id % 100) || ' up'
      |WHEN doc_id % 7 = 4
      |  THEN ' call +47 555 ' || (10000 + doc_id % 89999)
      |ELSE '' END""".stripMargin.linesIterator.mkString(" ")

  // ---- q231: per-source PII prevalence + redaction budget card ----
  // q59/q64 grade the SCRUBBER per document; this is the fleet-level
  // decision card a curation pass runs first: per source, how many
  // documents carry a PII surface at all ([[graft.llm.Pii.scrub]] —
  // the audited detectors, unchanged), the match counts per kind,
  // and the character budget redaction will move (raw vs clean char
  // sums — <TOKEN> replacements make the delta signed, the honest
  // unit a storage planner needs). Detection stays row-local
  // codegen'd regex at scan speed; the only shuffle is the source
  // rollup — and the SAME scrub projection runs unchanged at crawl
  // time ([[graft.streaming.Streams.piiIngest]], stream == batch
  // pinned).
  def q231PiiScan(s: SparkSession, dir: String): DataFrame =
    graft.llm.Pii.scrub(
        graft.Tables.documents(s, dir)
          .select(col("doc_id"),
            coalesce(col("source"), lit("(null)")).as("source"),
            expr(s"concat(coalesce(text, ''), $piiSynthSql)").as("text")),
        "text")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_emails") + col("n_ips") + col("n_phones") > 0L, 1L)
          .otherwise(0L)).as("n_pii_docs"),
        sum(col("n_emails")).cast("bigint").as("n_emails"),
        sum(col("n_ips")).cast("bigint").as("n_ips"),
        sum(col("n_phones")).cast("bigint").as("n_phones"),
        sum(length(col("text"))).cast("bigint").as("raw_chars"),
        sum(length(col("clean_text"))).cast("bigint").as("clean_chars"))
      .withColumn("pii_doc_ppm",
        expr("n_pii_docs * 1000000L div greatest(n_docs, 1L)"))

  // ---- q234: content-defined chunk dedup (the LBFS/FastCDC axis) ----
  // Doc-level dedup (q184) misses PARTIAL overlap — two revisions
  // sharing 90% of their bytes count as fully distinct. CDC cuts
  // every document where its rolling hash divides CdcDivisor
  // ([[graft.llm.Fingerprint.cdcCuts]] — boundaries are functions of
  // CONTENT, so an edit re-synchronizes at the next cut and the
  // shared tail keeps its chunk identities), then dedups at chunk
  // granularity: per source, chunk counts, duplicate-occurrence
  // bytes (corpus-wide md5 keying, first occurrence by (doc_id,
  // start) survives), and the storage savings_ppm chunk-level dedup
  // buys. Chunk identity is md5 over the LOWERCASED HEX of the byte
  // slice — the one spelling both engines compute identically
  // (DuckDB cannot slice blobs). Scale: cut detection is a row-local
  // UDF over the scan; only (doc, chunk) rows — corpus_bytes /
  // ~CdcDivisor of them — reach the md5 shuffle.
  def q234CdcDedup(s: SparkSession, dir: String): DataFrame = {
    graft.llm.Fingerprint.register(s)
    val chunks = graft.llm.Fingerprint.cdcChunkFrame(
        graft.Tables.documents(s, dir), "doc_id", "text")
      .join(graft.Tables.documents(s, dir)
          .select(col("doc_id"),
            coalesce(col("source"), lit("(null)")).as("source")),
        Seq("doc_id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("ck")).orderBy(col("doc_id"), col("st"))
    chunks.withColumn("__rn", row_number().over(w))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("__rn") > 1, 1L).otherwise(0L)).cast("bigint")
          .as("n_dup_chunks"),
        sum(col("len")).cast("bigint").as("total_bytes"),
        sum(when(col("__rn") > 1, col("len")).otherwise(0L)).cast("bigint")
          .as("dup_bytes"))
      .withColumn("mean_chunk_bytes",
        expr("total_bytes div greatest(n_chunks, 1L)"))
      .withColumn("savings_ppm", expr(
        "cast(cast(dup_bytes as decimal(38,0)) * 1000000 " +
          "div greatest(total_bytes, 1L) as bigint)"))
  }

  /** Shared admission card: every arriving doc's chunks left-joined
    * against a (ck)-keyed chunk index; per arrival, chunk counts and
    * NOVEL bytes — the store-admission question a CDC dedup store
    * answers per upload. Arrivals with no chunks (empty text) still
    * land, all-zero. */
  private def cdcAdmissionCard(batch: DataFrame, index: DataFrame): DataFrame = {
    val bc = graft.llm.Fingerprint.cdcChunkFrame(batch, "doc_id", "text")
      .join(index.select(col("ck")).distinct()
        .withColumn("__known", lit(true)), Seq("ck"), "left")
    val per = bc.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("__nc"),
        sum(when(col("__known"), 0L).otherwise(1L)).as("__nn"),
        sum(col("len")).as("__tb"),
        sum(when(col("__known"), 0L).otherwise(col("len"))).as("__nb2"))
    batch.select(col("doc_id")).join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("__nc"), lit(0L)).cast("bigint").as("n_chunks"),
        coalesce(col("__nn"), lit(0L)).cast("bigint").as("n_novel_chunks"),
        coalesce(col("__tb"), lit(0L)).cast("bigint").as("total_bytes"),
        coalesce(col("__nb2"), lit(0L)).cast("bigint").as("novel_bytes"))
      .withColumn("novel_ppm", expr(
        "cast(cast(novel_bytes as decimal(38,0)) * 1000000 " +
          "div greatest(total_bytes, 1L) as bigint)"))
  }

  // ---- q235: CDC store admission (incremental chunk novelty) ----
  // q194's incremental question at CHUNK granularity: the corpus
  // slice (doc_id % 10 != 0) ships its distinct chunk keys as the
  // store index; each arriving doc (doc_id % 10 == 0) reports how
  // many of its chunks — and how many of its BYTES — the store does
  // not already hold. This is the admission meter every CDC-dedup
  // object store runs per upload; doc-level incremental dedup (q70)
  // calls a 90%-overlap revision fully novel, this prices it at its
  // true marginal bytes. Scale: the index is (distinct chunk)-sized
  // and joins by key; arrivals ride the q234 chunk machinery.
  def q235CdcAdmission(s: SparkSession, dir: String): DataFrame = {
    graft.llm.Fingerprint.register(s)
    val docs = graft.Tables.documents(s, dir)
    val index = graft.llm.Fingerprint.cdcChunkFrame(
      docs.filter(pmod(col("doc_id"), lit(10)) =!= 0), "doc_id", "text")
    cdcAdmissionCard(docs.filter(pmod(col("doc_id"), lit(10)) === 0), index)
  }

  // ---- q236: the same admission served from the SHIPPED index ----
  // train-once/serve-many for the chunk store: the corpus chunk index
  // persists as a DISTRIBUTED parquet artifact (saveIndexFrame — the
  // q175 fingerprint-index discipline: corpus-sized state never
  // funnels through the driver) and the admission card runs off the
  // loaded replica, byte-identical to q235 (same oracle). The bench
  // line prices chunk + probe only — the store's steady state.
  def q236CdcAdmissionLoaded(s: SparkSession, dir: String): DataFrame = {
    graft.llm.Fingerprint.register(s)
    val docs = graft.Tables.documents(s, dir)
    val root = graft.llm.Artifacts.ensure(dir, "cdc-index-v1") { p =>
      graft.llm.Artifacts.saveIndexFrame(s"$p/chunks",
        graft.llm.Fingerprint.cdcChunkFrame(
            docs.filter(pmod(col("doc_id"), lit(10)) =!= 0), "doc_id", "text")
          .select(col("ck")).distinct())
    }
    cdcAdmissionCard(docs.filter(pmod(col("doc_id"), lit(10)) === 0),
      graft.llm.Artifacts.loadIndexFrame(s, s"$root/chunks"))
  }

  // ---- q237: erasure blast radius across SHIPPED artifacts ----
  // q205 traces a GDPR erasure through the TABLES; this traces it
  // through the TRAINED ARTIFACTS — the part a deletion request
  // actually struggles with, because shipped state outlives its
  // source rows. For the deterministic erase set (doc_id % EraseMod
  // = 0), per artifact family: how many entries exist, how many are
  // AFFECTED (an erased doc contributed), and how many are REMOVABLE
  // outright (every contributor erased — safe to delete; affected-
  // but-not-removable entries need a decrement or retrain instead):
  //  - fp_index (q70/q175): one row per doc — every erased doc's row
  //    is removable, nothing else is touched;
  //  - cdc_chunk_index (q236): a chunk key survives while ANY
  //    surviving doc still produces it — content-addressed state
  //    deletes by refcount, not by owner;
  //  - nb_counts (q195/q196): a (label, token) cell entirely from
  //    erased train docs deletes; a shared cell needs the exact
  //    count decrement (the mergeCounts monoid run backwards).
  // One pass per family over audited frames; output is 3 rows.
  private val EraseMod = 97
  def q237ArtifactErasure(s: SparkSession, dir: String): DataFrame = {
    graft.llm.Fingerprint.register(s)
    val docs = graft.Tables.documents(s, dir)
    def card(name: String, entries: DataFrame): DataFrame =
      // entries: (has_erased: bool, removable: bool) per artifact entry
      entries.agg(count(lit(1)).cast("bigint").as("n_entries"),
          sum(when(col("has_erased"), 1L).otherwise(0L)).cast("bigint")
            .as("n_affected"),
          sum(when(col("removable"), 1L).otherwise(0L)).cast("bigint")
            .as("n_removable"))
        .select(lit(name).as("artifact"), col("n_entries"),
          col("n_affected"), col("n_removable"),
          expr("n_affected * 1000000L div greatest(n_entries, 1L)")
            .as("affected_ppm"))
    val er = pmod(col("doc_id"), lit(EraseMod)) === 0
    val fpIdx = docs.select(er.as("has_erased"))
      .withColumn("removable", col("has_erased"))
    val chunkIdx = graft.llm.Fingerprint.cdcChunkFrame(docs, "doc_id", "text")
      .select(col("ck"), er.as("er"))
      .groupBy(col("ck"))
      .agg(expr("bool_or(er)").as("has_erased"),
        expr("not bool_or(not er)").as("removable"))
    val nbCells = graft.llm.Sampling.hashSplit(docs, "doc_id",
        ClsTrainPct, ClsValPct)
      .filter(col("split") === "train" && col("lang").isNotNull)
      .select(col("lang").cast("string").as("label"), er.as("er"),
        explode(TextAnalysis.tokens(col("text"))).as("w"))
      .groupBy(col("label"), col("w"))
      .agg(count(lit(1)).as("cnt"),
        sum(when(col("er"), 1L).otherwise(0L)).as("ec"))
      .select((col("ec") > 0L).as("has_erased"),
        (col("ec") === col("cnt")).as("removable"))
    card("fp_index", fpIdx)
      .unionByName(card("cdc_chunk_index", chunkIdx))
      .unionByName(card("nb_counts", nbCells))
  }

  // ---- q295: erasure-APPLY across the artifact families ----
  // q237 TRACES the blast radius; q294 APPLIES the hardest family
  // (the capped signature index); this card applies the other three
  // and proves each fold equals the rebuild-without-the-set:
  //  - fp_index — [[graft.llm.Dedup.fingerprintIndexErase]]: id
  //    anti-join (row-per-contributor, q237's "every erased row is
  //    removable" arm);
  //  - cdc_chunk_index — [[graft.llm.Fingerprint.chunkIndexErase]]
  //    over the refcounted index: erased docs chunk ROW-LOCALLY,
  //    refcounts decrement, keys at zero delete — q237's
  //    "content-addressed state deletes by refcount" rule applied;
  //  - nb_counts — [[graft.llm.NbClassifier.eraseCounts]]: the
  //    mergeCounts monoid run backwards; shared cells decrement,
  //    erased-only cells vanish.
  // Per family: entries before, after the fold, after a full rebuild
  // over the surviving docs, and agree — frame equality pinned
  // in-Spark by row count + commutative checksum over EVERY column;
  // the oracle replays the rebuild counts and pins agree == true, so
  // a missed decrement, an under-deleted key, or a leaked row
  // hash-fails the round. Work per family is bounded by the erase
  // set plus one key-keyed join — never a rebuild over history.
  def q295EraseApply(s: SparkSession, dir: String): DataFrame = {
    graft.llm.Fingerprint.register(s)
    val docs = graft.Tables.documents(s, dir)
    val er = pmod(col("doc_id"), lit(EraseMod)) === 0
    val eraseIds = docs.filter(er).select(col("doc_id"))
    val remaining = docs.filter(!er)
    def sig(df: DataFrame,
        fields: Seq[org.apache.spark.sql.Column]): DataFrame =
      df.select(graft.llm.Sketches.integrityHash(fields).as("h"))
        .agg(count(lit(1)).cast("bigint").as("n"),
          expr("cast(sum(cast(h as decimal(38,0))) % " +
            s"${graft.llm.Sketches.ChecksumMod}L as bigint)").as("ck"))
    def family(name: String, before: DataFrame, folded: DataFrame,
        rebuilt: DataFrame,
        fields: Seq[org.apache.spark.sql.Column]): DataFrame =
      sig(before, fields).select(col("n").as("n_before"))
        .crossJoin(sig(folded, fields)
          .select(col("n").as("n_after"), col("ck").as("__cf")))
        .crossJoin(sig(rebuilt, fields)
          .select(col("n").as("n_rebuild"), col("ck").as("__cr")))
        .select(lit(name).as("artifact"), col("n_before"), col("n_after"),
          col("n_rebuild"),
          (col("n_after") === col("n_rebuild") &&
            col("__cf") === col("__cr")).as("agree"))
    // fp_index: one row per contributing doc
    val fpBefore = docs.select(col("doc_id"),
      Dedup.fingerprintOrEmpty(col("text")).as("fp"))
    val fpCard = family("fp_index", fpBefore,
      Dedup.fingerprintIndexErase(fpBefore, eraseIds),
      remaining.select(col("doc_id"),
        Dedup.fingerprintOrEmpty(col("text")).as("fp")),
      Seq(col("doc_id").cast("string"), col("fp")))
    // cdc_chunk_index: refcounted keys (persisted — the sig pass and
    // the fold both consume it, and rebuilding means re-chunking)
    val ckBefore = graft.llm.Caches.persistTracked(
      graft.llm.Fingerprint.chunkCountIndex(docs, "doc_id", "text"))
    val ckCard = family("cdc_chunk_index", ckBefore,
      graft.llm.Fingerprint.chunkIndexErase(ckBefore, docs.filter(er),
        "doc_id", "text"),
      graft.llm.Fingerprint.chunkCountIndex(remaining, "doc_id", "text"),
      Seq(col("ck"), col("n").cast("string")))
    // nb_counts: the q195/q237 train slice (persisted for the same
    // two-consumer reason)
    val trainSlice = graft.llm.Sampling.hashSplit(docs, "doc_id",
        ClsTrainPct, ClsValPct)
      .filter(col("split") === "train" && col("lang").isNotNull)
    val nbBefore = graft.llm.Caches.persistTracked(
      graft.llm.NbClassifier.train(trainSlice, "text", "lang"))
    val nbCard = family("nb_counts", nbBefore,
      graft.llm.NbClassifier.eraseCounts(nbBefore,
        graft.llm.NbClassifier.train(trainSlice.filter(er), "text", "lang")),
      graft.llm.NbClassifier.train(trainSlice.filter(!er), "text", "lang"),
      Seq(col("label"), col("w"), col("cnt").cast("string")))
    fpCard.unionByName(ckCard).unionByName(nbCard)
  }

  // ---- q319: chunk-store compaction serves identically ----
  // q295 proves the chunk-index folds EXACT in one shot; this card
  // proves the OPERATIONAL loop — the refcounted chunk index as a
  // chained [[graft.llm.ChunkStore]] (the second
  // [[graft.llm.ChainedStore]] family, r18 verdict ask #7): base
  // generation = 90% of the corpus, one arrival epoch (the other
  // 10%, chunked ONCE at append), one erase epoch (every doc_id %
  // ChunkEraseMod == 5, refcounts decremented, keys at zero
  // dropped), then compaction — fresh generation, pointer advanced,
  // meter reset. Chain-served and compacted refcounts must agree per
  // chunk key, and the oracle replays the full REBUILD over the
  // surviving corpus via the shared CDC chunk CTEs and pins BOTH
  // sides to it with agree == true — a lost refcount, an
  // under-dropped key, or a leaked erased chunk hash-fails the
  // round. 100 TB: every frame distributed parquet; the card's cost
  // is the store build (amortized via the artifact catalog) plus two
  // served reads and one key-keyed full-outer join.
  private val ChunkEraseMod = 11L
  def q319ChunkStoreCompact(s: SparkSession, dir: String): DataFrame = {
    graft.llm.Fingerprint.register(s)
    val docs = graft.Tables.documents(s, dir)
    val root = graft.llm.Artifacts.ensure(dir,
        s"chunkstore-chain-v1-d${graft.llm.Fingerprint.CdcDivisor}" +
          s"-e$ChunkEraseMod") { p =>
      val st = p + "/store"
      graft.llm.ChunkStore.init(
        docs.filter(pmod(col("doc_id"), lit(10)) =!= 0),
        "doc_id", "text", st)
      graft.llm.ChunkStore.appendArrivals(
        docs.filter(pmod(col("doc_id"), lit(10)) === 0),
        "doc_id", "text", st): Unit
      graft.llm.ChunkStore.appendErases(
        docs.filter(pmod(col("doc_id"), lit(ChunkEraseMod)) === 5L),
        "doc_id", "text", st): Unit
    }
    val st = root + "/store"
    // chain image read BEFORE compact stays valid (retired files are
    // kept for live readers — the q315 vacuum-separation discipline);
    // on a later session both sides read the compacted generation and
    // the VALUES are identical either way (fold ≡ rebuild ≡ compact)
    val served = graft.llm.ChunkStore.serve(s, st)
    graft.llm.ChunkStore.compact(s, st): Unit
    val compacted = graft.llm.ChunkStore.serve(s, st)
    served.select(col("ck"), col("n").as("n_served"))
      .join(compacted.select(col("ck"), col("n").as("n_compact")),
        Seq("ck"), "full_outer")
      .select(col("ck"),
        coalesce(col("n_served"), lit(0L)).as("n_served"),
        coalesce(col("n_compact"), lit(0L)).as("n_compact"),
        (col("n_served").isNotNull && col("n_compact").isNotNull &&
          col("n_served") === col("n_compact")).as("agree"))
  }

  // ---- q238: threshold-free ranking quality of cheap scores ----
  // q226 distills the rule gate into a classifier and grades it at
  // ONE operating point (a confusion card); this asks the
  // threshold-free question — how well does a cheap per-doc score
  // RANK the expensive gate's verdict — as the exact Mann-Whitney
  // AUC, P(score_pos > score_neg) + ½·P(tie). Integer throughout:
  // the corpus collapses to one (score → pos/neg count) aggregate,
  // AUC2 = Σ_s p_s·(2·C_s + q_s) over that tiny frame (C_s =
  // negatives strictly below s), and the division lands as
  // floor-ppm, so the DuckDB replay is exact. 100 TB: one
  // ruleFilter scan persisted once (both rankers ride it), one
  // shuffle per ranker down to |distinct score| rows, and a window
  // over that score-sized frame — the corpus itself never reaches a
  // global sort (the naive per-row rank() spelling would).
  def q238RankAuc(s: SparkSession, dir: String): DataFrame = {
    val rf = graft.llm.Caches.persistTracked(
      TextAnalysis.ruleFilter(graft.Tables.documents(s, dir),
          "doc_id", "text", withQuality = true)
        .select(col("kept"), col("quality_fp"), col("n_tok")))
    def card(name: String, score: org.apache.spark.sql.Column): DataFrame = {
      val per = rf.groupBy(score.as("sc")).agg(
        sum(when(col("kept"), 1L).otherwise(0L)).as("p"),
        sum(when(col("kept"), 0L).otherwise(1L)).as("q"))
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("sc"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      per.withColumn("c", coalesce(sum(col("q")).over(w), lit(0L)))
        .agg(sum(col("p") * (lit(2L) * col("c") + col("q"))).as("auc2"),
          sum(col("p")).as("np"), sum(col("q")).as("nq"))
        .select(lit(name).as("ranker"),
          col("np").cast("bigint").as("n_pos"),
          col("nq").cast("bigint").as("n_neg"),
          expr("cast(cast(auc2 as decimal(38,0)) * 1000000 " +
            "div greatest(2 * np * nq, 1L) as bigint)").as("auc_ppm"))
    }
    card("quality_fp", col("quality_fp"))
      .unionByName(card("n_tok", col("n_tok")))
  }

  // ---- q281: DSIR-style importance selection (hashed n-gram ratios) ----
  // The data-selection operator a pretraining pipeline runs over raw
  // web text: "keep the documents whose token distribution looks like
  // my high-quality target corpus" (Xie et al. 2023, importance
  // resampling over hashed n-grams). Target = the English slice; raw
  // pool = the whole corpus; every doc scores the count-weighted mean
  // smoothed target/raw ratio of its hashed-unigram buckets — exact
  // rational arithmetic in ppm (the Simpson-over-Shannon discipline:
  // the paper's log-sum would never replay bit-for-bit), so the
  // oracle replays the entire estimator. The card emits the top-K
  // selection with its language labels — the lang column IS the
  // quality readout (a working selector surfaces the en slice).
  // Scale: two B-bounded bucket aggregates, one ≤B-row broadcast, one
  // per-doc aggregate, TakeOrderedAndProject for the top-K — no
  // global window, no corpus-sized shuffle beyond the token explode
  // every bag-of-words operator pays.
  private val ImpBuckets = 4096
  private val ImpSelectK = 50
  private val ImpTargetLang = "en"
  def q281ImportanceSelect(s: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.documents(s, dir)
    val counts = graft.llm.Caches.persistTracked(
      graft.llm.Importance.bucketCounts(docs, "doc_id", "text", ImpBuckets))
    val targetCounts = counts.join(
      docs.filter(col("lang") === ImpTargetLang).select(col("doc_id")),
      Seq("doc_id"), "left_semi")
    val weights = graft.llm.Importance.bucketWeights(
      targetCounts, counts, ImpBuckets)
    graft.llm.Importance.docScores(counts, weights)
      .join(docs.select(col("doc_id"), col("lang"), col("source")),
        Seq("doc_id"))
      .orderBy(col("score_ppm").desc, col("doc_id"))
      .limit(ImpSelectK)
      .select(col("doc_id"), col("lang"), col("source"), col("n_tok"),
        col("score_ppm"))
  }

  // ---- q282: importance-scoring serve from the SHIPPED weight table ----
  // q281 trains the selector; this is what a crawler RUNS: the ≤B-row
  // weight table (plus its one-row unseen-bucket smoothing constant)
  // ships once through the durable catalog, and every arrival scores
  // token-locally against the broadcast table — one explode, one
  // broadcast left join, ONE aggregate, no corpus touch at all (the
  // q175/q225 serve discipline applied to data selection).
  // Vocabulary the training pool never saw scores at the smoothing
  // constant instead of silently dropping (dropping would change
  // n_tok and bias the mean toward seen vocab).
  // [[graft.llm.Importance.scoreArrivals]] runs unchanged at ingest
  // time on a stream (stream == batch pinned in StreamingSpec).
  def q282ImportanceServe(s: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.documents(s, dir)
    val root = graft.llm.Artifacts.ensure(dir,
        s"importance-weights-v1-b$ImpBuckets-$ImpTargetLang") { p =>
      val corpus = docs.filter(pmod(col("doc_id"), lit(10)) =!= 0)
      val counts = graft.llm.Caches.persistTracked(
        graft.llm.Importance.bucketCounts(corpus, "doc_id", "text",
          ImpBuckets))
      val tCounts = counts.join(
        corpus.filter(col("lang") === ImpTargetLang).select(col("doc_id")),
        Seq("doc_id"), "left_semi")
      graft.llm.Artifacts.saveIndexFrame(p + "/weights",
        graft.llm.Importance.bucketWeights(tCounts, counts, ImpBuckets))
      graft.llm.Artifacts.saveIndexFrame(p + "/defaults",
        graft.llm.Importance.unseenWeight(tCounts, counts, ImpBuckets))
    }
    val weights = graft.llm.Artifacts.loadIndexFrame(s, root + "/weights")
    // bounded one-row read: the artifact's unseen-bucket constant
    val w0 = graft.llm.Artifacts.loadIndexFrame(s, root + "/defaults")
      .head().getLong(0)
    graft.llm.Importance.scoreArrivals(
      docs.filter(pmod(col("doc_id"), lit(10)) === 0),
      "doc_id", "text", weights, w0, ImpBuckets)
  }

  // ---- q283: deterministic bootstrap CI (Poisson resampling) ----
  // Every corpus statistic this engine reports is a point estimate;
  // this is the uncertainty instrument: 64 Poisson-bootstrap
  // replicates of the mean tokens-per-doc, with weights DERIVED from
  // md5(doc_id|rep) through Poisson(1)'s fixed integer CDF grid
  // ([[graft.llm.Bootstrap]]) — coordination-free, reproducible, and
  // replayed exactly by the oracle (same integer, same eight literal
  // thresholds). The replicate spread IS the confidence interval; a
  // reader takes the 2.5%/97.5% replicate quantiles off the 64-row
  // grid. Scale: the row×64 explode collapses map-side to 64 rows
  // per partition before the shuffle — the wire carries reps ×
  // partitions rows, whatever the corpus size.
  private val BootReps = 64
  def q283BootstrapCi(s: SparkSession, dir: String): DataFrame =
    graft.llm.Bootstrap.replicateMeans(
      graft.Tables.documents(s, dir),
      col("doc_id"), TextAnalysis.tokenCount(col("text")), BootReps)
      .withColumnRenamed("mean_mstat", "mean_mtok")

  // ---- q286: rank-fusion review queue (nonparametric quality blend) ----
  // Three quality signals — token count, stopword ratio, and
  // inverted 3-gram repetition — fused by MEAN PERCENTILE RANK
  // ([[graft.llm.RankFusion]]), not by a weighted raw-value sum: a
  // weighted sum is dominated by whichever signal has the widest
  // range, while ranks make "bottom 1% by repetition" and "bottom 1%
  // by length" the same size before averaging. The bottom-K of the
  // fused order is the curation review queue a human (or an
  // expensive model gate) actually reads. Scale: each rank table is
  // a value-grid aggregate + distinct-value window (never a corpus
  // window), joined back by value; the queue is
  // TakeOrderedAndProject.
  private val ReviewK = 40
  def q286ReviewQueue(s: SparkSession, dir: String): DataFrame = {
    val prepared = graft.Tables.documents(s, dir)
      .withColumn("toks", tokens(col("text")))
      .withColumn("g3", word3grams("toks"))
      .select(col("doc_id"),
        coalesce(size(col("toks")).cast("bigint"), lit(0L)).as("s_tok"),
        coalesce(stopwordRatioFp(col("text"), DefaultStopwords), lit(0L))
          .cast("bigint").as("s_stop"),
        (lit(1000000L) - coalesce(dup3gramFp("g3"), lit(0L)))
          .cast("bigint").as("s_rep"))
    graft.llm.RankFusion.fuse(prepared, "doc_id",
        Seq("s_tok", "s_stop", "s_rep"))
      .orderBy(col("fused_ppm"), col("doc_id")).limit(ReviewK)
  }

  // ---- q287: character-collision gibberish filter (Rényi-2) ----
  // The quality family's entropy-shaped member without the
  // entropy-shaped logarithm: per doc, the probability two random
  // character draws collide, exact in ppm
  // ([[graft.llm.TextAnalysis.charCollisionFp]] — one row-local fold
  // over the sorted char array; the oracle computes the same
  // Σc(c−1)/(n(n−1)) through per-char group counts, a genuinely
  // independent spelling). Natural text reads the language's
  // letter-frequency collision; "aaaa…" keyboard-mash reads near 10⁶
  // — the gibberish screen byte-dedup and token stats both miss.
  // Corpus docs are clean prose, so none flag at the 0.3 threshold
  // (the truthful verdict); LlmSpec plants mash and pins detection.
  private val SpamCollisionPpm = 300000L
  def q287CharCollision(s: SparkSession, dir: String): DataFrame =
    graft.Tables.documents(s, dir)
      .withColumn("cs", TextAnalysis.sortedChars(col("text")))
      .select(col("doc_id"),
        size(col("cs")).cast("bigint").as("n_chars"),
        TextAnalysis.charCollisionFp("cs").as("collision_ppm"))
      .withColumn("flagged", col("collision_ppm") >= SpamCollisionPpm)

  // ---- q288: paired bootstrap — is "more data" SIGNIFICANTLY better? ----
  // q218 reports the two NB variants' accuracies; this card asks the
  // question a training decision actually needs answered: is the
  // with_val gain REAL or test-set noise? Paired Poisson bootstrap
  // (the q283 machinery): per test doc, the correctness DELTA
  // (with_val − train_only ∈ {−1,0,1}, shifted +1 so no negative
  // integer division crosses an engine boundary), resampled 64 times
  // with the SAME derived weight per doc on both arms — pairing
  // cancels the shared per-doc difficulty, which is what makes the
  // delta CI tight enough to mean something. The 64-replicate grid
  // IS the answer: a CI straddling 0 reads "not significant".
  def q288PairedBootstrap(s: SparkSession, dir: String): DataFrame = {
    val delta = moreDataPerDocCorrect(s, dir)
      .groupBy(col("doc_id"))
      .agg((lit(1L) +
        sum(when(col("variant") === "with_val", col("correct"))
          .otherwise(0L)) -
        sum(when(col("variant") === "train_only", col("correct"))
          .otherwise(0L))).as("ds"))
    graft.llm.Bootstrap.replicateMeans(delta, col("doc_id"), col("ds"),
        BootReps)
      .select(col("rep"), col("n_eff"),
        (col("mean_mstat") - 1000L).as("delta_macc"))
  }

  // ---- q292: rule-gate disparate-impact audit (four-fifths rule) ----
  // The responsible-curation number the q69 gate owes its corpus: the
  // pass RATE per language, each language's impact ratio against the
  // best-passing one, and the classic four-fifths adverse-impact flag
  // (impact < 0.8) — the audit that catches an English-tuned filter
  // quietly halving another language's representation (the documented
  // real-world failure mode of blocklist/heuristic gates). The lang
  // column rides ruleFilter's OWN scan (carryCols — no second corpus
  // read); the best-rate arm is a broadcast one-row crossJoin. The
  // verdict is relative, so it stays meaningful wherever the absolute
  // pass rates sit.
  def q292GateDisparity(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.gateDisparity(graft.Tables.documents(s, dir),
      "doc_id", "text", "lang")

  // ---- q293: watermark screen (synthetic-text contamination) ----
  // The detection side of green-list watermarking (Kirchenbauer et
  // al. 2023): per doc, the fraction of adjacent-token transitions
  // whose bigram hash lands in the green half of hash space
  // ([[graft.llm.TextAnalysis.greenCount]] — one row-local filter
  // over the q37 bigram list). Natural text sits at the γ = 1/2 base
  // rate; a watermarking generator biases toward green, so the flag
  // is the exact-integer one-sided 3σ binomial test:
  // 2g > n AND (2g − n)² ≥ 9n ⟺ g ≥ n/2 + 1.5√n — no square root,
  // no doubles, and the bar self-scales with doc length (a fixed ppm
  // cutoff would flag ~8% of 50-pair docs by chance — measured, then
  // fixed). On this corpus: green centers on 489k ppm, ZERO flags —
  // the truthful verdict for human text; LlmSpec generates
  // actually-watermarked text with a greedy green sampler and pins
  // detection.
  private val WmMinPairs = 50L
  def q293WatermarkScreen(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.watermarkScreen(graft.Tables.documents(s, dir),
      "doc_id", "text", WmMinPairs)

  // ---- q291: proximity search over the positional index ----
  // The retrieval operator between q42's phrase match (ordered,
  // adjacent) and a bag-of-words AND: the same two query terms, but
  // matching within a 5-token window in either order
  // ([[graft.llm.Postings.proximityCounts]]) — per doc the count of
  // w1 occurrences with a w2 in reach and the closest approach. Same
  // shipped-index discipline as q42: the corpus is indexed once, the
  // query is a posting-list equi-join plus row-local list
  // arithmetic; proximity hits are a strict superset of phrase hits
  // (min_dist = 1 covers adjacency both ways).
  private val ProxWindow = 5
  def q291ProximitySearch(s: SparkSession, dir: String): DataFrame =
    graft.llm.Postings.proximityCounts(
      graft.llm.Postings.build(
        graft.Tables.documents(s, dir), "doc_id", "text"),
      PhraseW1, PhraseW2, ProxWindow)

  // ---- q290: sentence statistics (structure-of-prose quality) ----
  // The Gopher filter axis the token-level stats can't see: a doc
  // with 400 good tokens in ONE unbroken run-on is boilerplate/markup
  // shaped, and a 2-sentence doc is a fragment.
  // [[graft.llm.TextAnalysis.sentenceStats]] — one row-local
  // traversal (portable [.!?]+ split, blank segments dropped on both
  // engines by contract), flags derived on top: few_sentences (< 3)
  // and run_on (longest sentence ≥ 60 tokens). Measured on this
  // corpus: ALL 500 docs flag few_sentences and 45% flag run_on —
  // the synthetic text is nearly punctuation-free, i.e. exactly the
  // prose shape this filter exists to catch (LlmSpec pins that real
  // sentence structure passes and fragments/run-ons flag).
  private val MinSentences = 3L
  private val RunOnTokens = 60L
  def q290SentenceStats(s: SparkSession, dir: String): DataFrame =
    graft.llm.TextAnalysis.sentenceStats(
        graft.Tables.documents(s, dir), "doc_id", "text")
      .withColumn("few_sentences", col("n_sent") < MinSentences)
      .withColumn("run_on", col("max_sent_tok") >= RunOnTokens)

  // ---- q289: the drift monitor's ingest spelling (pivot == card) ----
  // q285 is the batch card; this is what the STANDING monitor runs
  // ([[graft.llm.Drift.chiSquarePivot]]): cells pinned up front as
  // monitor config, one broadcast baseline join per arrival row, ONE
  // aggregate — streaming-legal, so a streaming frame runs this
  // function unchanged. On this corpus the observed
  // values stay inside the configured list, so the pivot equals the
  // card row-for-row on every source that has arrivals — the oracle
  // is q285's with the zero-arrival rows dropped (the one documented
  // semantic difference: a monitor alerts on arrivals).
  private val DriftCells = Seq("en", "zh", "es", "de", "fr")
  def q289DriftMonitor(s: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.documents(s, dir)
    graft.llm.Drift.chiSquarePivot(
      docs.filter(pmod(col("doc_id"), lit(7)) === 0),
      docs.filter(pmod(col("doc_id"), lit(7)) =!= 0),
      "source", "lang", DriftCells)
  }

  // ---- q285: categorical mixture drift (chi-square per source) ----
  // The feed monitor: per source, does the arrival batch's language
  // mix still match the corpus baseline? [[graft.llm.Drift]]'s
  // chi-square card — exact rational per-cell terms in ppm, add-one
  // smoothing so never-seen cells stay finite, literal 95% critical
  // values by df — so "drifted" is a deterministic, oracle-replayable
  // verdict, not a float comparison. The slice is doc_id % 7 — NOT
  // the usual % 10: sources ride doc_id % 20, so a % 10 cut makes
  // every source all-arrivals or all-corpus (no baseline to test);
  // % 7 is coprime and spreads arrivals across every source. An
  // unbiased cut reads not-drifted up to the test's own alpha: at
  // alpha = 0.05 over 20 sources the expected false-flag count is 1,
  // and the card measures exactly 1 — the test operating at its
  // design point, not a defect. DriftSpec plants a language flip and
  // pins the detection. Scale: frames bounded by sources × langs.
  def q285MixtureDrift(s: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.documents(s, dir)
    graft.llm.Drift.chiSquareCard(
      docs.filter(pmod(col("doc_id"), lit(7)) === 0),
      docs.filter(pmod(col("doc_id"), lit(7)) =!= 0),
      "source", "lang")
  }

  // ---- q274: Unicode-normalization dedup key ----
  // The mojibake family's sibling: canonically-EQUIVALENT spellings —
  // "café" composed (U+00E9) vs "café" decomposed (e + U+0301) —
  // render identically, tokenize identically to a human, and still
  // carry different bytes, so the plain lowercase+whitespace
  // fingerprint treats them as different documents. The q93/q239 key
  // discipline: the ASCII corpus gets three planted variants per
  // sampled doc (composed, decomposed, composed-uppercase), built by
  // identical key arithmetic on both engines, and the card proves
  // per doc that the raw key splits them (n_raw_fps = 2: lowercase
  // already folds case, never composition) while the NFC-normalized
  // key ([[graft.llm.Dedup.unicodeFingerprint]], the codegen'd
  // normalize_unicode expression; DuckDB replays via nfc_normalize)
  // collapses all three. 100 TB: a row-local scan-time projection,
  // no new shuffle — the key slots into every existing
  // fingerprint-keyed pipeline. NFKC (full-width folding) is the
  // same expression's other form, spec-certified in
  // NormalizeUnicodeProps because DuckDB ships no NFKC.
  private val UnicodeSliceMod = 8
  def q274UnicodeDedup(s: SparkSession, dir: String): DataFrame = {
    val b = graft.Tables.documents(s, dir)
      .filter(pmod(col("doc_id"), lit(UnicodeSliceMod)) === 0)
      .select(col("doc_id"), col("text"))
    def slice(suffix: String) = b.select(
      col("doc_id").as("orig_doc"),
      concat(col("text"), lit(suffix)).as("text"))
    // explicit escapes - a source normalizer must never silently
    // compose the decomposed plant
    val arr = slice(" caf\u00e9 menu")
      .unionByName(slice(" cafe\u0301 menu"))
      .unionByName(slice(" CAF\u00c9 MENU"))
    arr.select(col("orig_doc"),
        graft.llm.Dedup.legacyAsciiFingerprint(col("text")).as("raw_fp"),
        graft.llm.Dedup.unicodeFingerprint(col("text")).as("norm_fp"))
      .groupBy(col("orig_doc"))
      .agg(count(lit(1)).cast("bigint").as("n_variants"),
        countDistinct(col("raw_fp")).as("n_raw_fps"),
        countDistinct(col("norm_fp")).as("n_norm_fps"))
      .select(col("orig_doc"), col("n_variants"), col("n_raw_fps"),
        col("n_norm_fps"), (col("n_norm_fps") === 1L).as("norm_collapsed"))
  }

  // ---- q239: mojibake (encoding-artifact) detect + repair card ----
  // The ftfy axis of corpus cleaning: UTF-8 text decoded as Latin-1
  // leaves 'Ã©'-style artifact sequences that poison tokenizers and
  // dedup keys alike. The synthetic corpus is pure ASCII, so — the
  // q93 precedent — the card SYNTHESIZES its ground truth by key
  // arithmetic, identically on both engines: docs with doc_id %
  // MojiPlantMod = 0 get accents injected (e→é, u→ü: the "clean
  // European" original) and then suffer the double-encoding failure
  // ([[graft.llm.TextAnalysis.mojibakeCorrupt]]). Per source: docs
  // the lead-byte detector flags, total artifact chars, and — the
  // repair operator's proof — how many docs [[TextAnalysis
  // .mojibakeRepair]] restores BYTE-IDENTICALLY to the
  // pre-corruption text (all of them; the detector-clean inverse
  // contract is also pinned on arbitrary strings in MojibakeProps).
  // 100 TB: row-local codegen'd replace chains on the scan, zero
  // shuffle until the one per-source rollup; the streaming twin
  // (`Streams.mojibakeIngest`) runs the same repair at ingest.
  private val MojiPlantMod = 13
  def q239Mojibake(s: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.documents(s, dir)
    val planted = pmod(col("doc_id"), lit(MojiPlantMod)) === 0
    val accented = replace(replace(coalesce(col("text"), lit("")),
      lit("e"), lit("é")), lit("u"), lit("ü"))
    val d = docs.select(
        coalesce(col("source"), lit("(null)")).as("source"),
        when(planted, accented).otherwise(coalesce(col("text"), lit("")))
          .as("pre"),
        planted.as("planted"))
      .withColumn("cur",
        when(col("planted"), TextAnalysis.mojibakeCorrupt(col("pre")))
          .otherwise(col("pre")))
      .withColumn("art", TextAnalysis.mojibakeArtifactCount(col("cur")))
      .withColumn("rt_ok",
        TextAnalysis.mojibakeRepair(col("cur")) === col("pre"))
    d.groupBy(col("source")).agg(
        count(lit(1)).cast("bigint").as("n_docs"),
        sum(when(col("planted"), 1L).otherwise(0L)).cast("bigint")
          .as("n_planted"),
        sum(when(col("art") > 0L, 1L).otherwise(0L)).cast("bigint")
          .as("n_detected"),
        sum(col("art")).cast("bigint").as("artifact_chars"),
        sum(when(col("rt_ok"), 1L).otherwise(0L)).cast("bigint")
          .as("n_roundtrip_ok"))
      .withColumn("detected_ppm",
        expr("n_detected * 1000000L div greatest(n_docs, 1L)"))
  }

  // ---- q246: incremental distinct counter off SHIPPED registers ----
  // q128 proves the HLL register monoid in-session; this proves it
  // across the STORE boundary — the operational pattern a 100 TB
  // lake actually runs: per-source registers for the historical
  // corpus live as a parquet artifact (64 rows per source, written
  // once), and a new arrival partition (doc_id%7 — coprime with the
  // synthetic source period, so EVERY source owns docs in both
  // slices) folds in by max-merge WITHOUT touching raw history
  // keys. The card pins, per source: loaded-artifact estimate, the
  // delta's own estimate, the merged estimate, the built-direct
  // estimate over the full corpus — merged == direct bit-for-bit
  // (associativity survives the parquet round trip, integers only)
  // — plus exact distinct and the merged sketch's error. The
  // arrival-side registers are persisted once (they feed their own
  // estimate AND the merge).
  private val HllArrivalMod = 7 // coprime with the source period, so every source has both slices
  def q246HllIncremental(s: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.documents(s, dir)
    // keyed on word 3-grams, not tokens: the synthetic vocabulary is
    // ~31 words, far below the 64 registers, while 3-grams run
    // ~1.3k/source — the regime a distinct sketch is FOR
    def toks(d: DataFrame) = d
      .withColumn("__toks", TextAnalysis.tokens(col("text")))
      .select(coalesce(col("source"), lit("(null)")).as("src"),
        explode(TextAnalysis.word3grams("__toks")).as("w"))
    val root = graft.llm.Artifacts.ensure(dir, "hll-grams-v1") { p =>
      graft.llm.Artifacts.saveIndexFrame(s"$p/regs",
        graft.llm.Sketches.hllRegisters(
          toks(docs.filter(pmod(col("doc_id"), lit(HllArrivalMod)) =!= 0)),
          col("src"), col("w")))
    }
    val histRegs = graft.llm.Artifacts.loadIndexFrame(s, s"$root/regs")
    val deltaRegs = graft.llm.Caches.persistTracked(
      graft.llm.Sketches.hllRegisters(
        toks(docs.filter(pmod(col("doc_id"), lit(HllArrivalMod)) === 0)),
        col("src"), col("w")))
    val directRegs = graft.llm.Sketches.hllRegisters(
      toks(docs), col("src"), col("w"))
    def est(regs: DataFrame, name: String) =
      graft.llm.Sketches.hllEstimate(regs)
        .select(col("g"), col("hll_est").as(name))
    val exact = toks(docs)
      .groupBy(col("src").as("g"))
      .agg(countDistinct(col("w")).as("n_exact"))
    exact
      .join(est(histRegs, "history_est"), Seq("g"))
      .join(est(deltaRegs, "delta_est"), Seq("g"))
      .join(est(graft.llm.Sketches.mergeRegisters(histRegs, deltaRegs),
        "merged_est"), Seq("g"))
      .join(est(directRegs, "direct_est"), Seq("g"))
      .select(col("g").as("source"), col("n_exact"), col("history_est"),
        col("delta_est"), col("merged_est"), col("direct_est"),
        (col("merged_est") === col("direct_est")).as("merge_exact"),
        expr("cast((1000000 * abs(merged_est - n_exact)) " +
          "div greatest(n_exact, 1) as bigint)").as("err_ppm"))
  }

  // ---- q271: store-consistency audit (is the shipped state stale?) ----
  // Every loaded-artifact query (q175/q236/q246/q251/q263/q269/q270)
  // TRUSTS that the store matches the corpus; this is the audit that
  // checks it: for each index family, row count and the q155
  // commutative checksum computed from the LOADED artifact next to
  // the same pair rebuilt from the corpus — equal iff the store is
  // fresh, under ANY partitioning or row order on either side. A
  // build-changed-without-a-version-bump artifact (the documented
  // staleness hazard) fails here LOUDLY instead of silently serving
  // wrong bytes. Cost: the rebuild arms are the artifacts' own build
  // passes; the loaded arms are index-sized scans; everything meets
  // only in one-row aggregates.
  def q271StoreAudit(s: SparkSession, dir: String): DataFrame = {
    graft.llm.Fingerprint.register(s) // the native cdc_cuts expression
    val docs = graft.Tables.documents(s, dir)
    val fpRoot = graft.llm.Artifacts.ensure(dir, "fp-index-v2") { p =>
      graft.llm.Artifacts.saveFingerprintIndex(p + "/index",
        docs.filter(pmod(col("doc_id"), lit(10)) =!= 0)
          .select(col("doc_id"), Dedup.fingerprintOrEmpty(col("text")).as("fp")))
    }
    val cdcRoot = graft.llm.Artifacts.ensure(dir, "cdc-index-v1") { p =>
      graft.llm.Artifacts.saveIndexFrame(s"$p/chunks",
        graft.llm.Fingerprint.cdcChunkFrame(
            docs.filter(pmod(col("doc_id"), lit(10)) =!= 0), "doc_id", "text")
          .select(col("ck")).distinct())
    }
    def audit(family: String, loaded: DataFrame, rebuilt: DataFrame,
        fields: Seq[org.apache.spark.sql.Column]): DataFrame = {
      def side(d: DataFrame, p: String) = d
        .select(graft.llm.Sketches.integrityHash(fields).as("h"))
        .agg(count(lit(1)).cast("bigint").as(s"n_$p"),
          expr("cast(sum(cast(h as decimal(38,0))) % " +
            s"${graft.llm.Sketches.ChecksumMod}L as bigint)")
            .as(s"checksum_$p"))
      side(loaded, "loaded").crossJoin(broadcast(side(rebuilt, "rebuilt")))
        .select(lit(family).as("family"), col("n_loaded"), col("n_rebuilt"),
          col("checksum_loaded"), col("checksum_rebuilt"),
          (col("n_loaded") === col("n_rebuilt") &&
            col("checksum_loaded") === col("checksum_rebuilt"))
            .as("consistent"))
    }
    audit("fp-index",
      graft.llm.Artifacts.loadFingerprintIndex(s, fpRoot + "/index"),
      docs.filter(pmod(col("doc_id"), lit(10)) =!= 0)
        .select(col("doc_id"), Dedup.fingerprintOrEmpty(col("text")).as("fp")),
      Seq(col("doc_id").cast("string"), col("fp")))
      .unionByName(audit("cdc-index",
        graft.llm.Artifacts.loadIndexFrame(s, s"$cdcRoot/chunks"),
        graft.llm.Fingerprint.cdcChunkFrame(
            docs.filter(pmod(col("doc_id"), lit(10)) =!= 0), "doc_id", "text")
          .select(col("ck")).distinct(),
        Seq(col("ck"))))
  }

  // ---- q267: max-seq-len sweep (the context-length knob priced) ----
  // Choosing a training sequence length is a two-sided loss: short L
  // wastes capacity on padding the last chunk of every document;
  // long L amplifies that waste on short docs (and under a
  // truncate-don't-chunk policy, long docs LOSE tokens). This card
  // prices both sides for three candidate lengths off ONE persisted
  // token-count aggregate — per L: docs, tokens, chunks
  // (ceil-division), padded slots, pad-waste ppm, and the
  // truncation-policy loss ppm — all integer (ceil via
  // (n + L − 1) div L, ppm via decimal-widened div), so the replay
  // is exact. The q193/q215 sweep discipline: the knob never re-scans
  // the corpus. q188 prices BATCH padding for one scheme; this prices
  // the SEQUENCE-length choice itself.
  private val SeqLens = Seq(128L, 512L, 2048L)
  def q267SeqlenSweep(s: SparkSession, dir: String): DataFrame = {
    val m = graft.llm.Caches.persistTracked(
      graft.Tables.documents(s, dir)
        .select(tokenCount(col("text")).cast("bigint").as("n")))
    SeqLens.map { l =>
      m.agg(
        count(lit(1)).as("n_docs"),
        sum(col("n")).cast("bigint").as("n_tokens"),
        sum(expr(s"(n + ${l - 1}) div $l")).cast("bigint").as("n_chunks"),
        sum(expr(s"greatest(n - $l, 0L)")).cast("bigint").as("tokens_truncated"))
        .select(lit(l).as("seq_len"), col("n_docs"), col("n_tokens"),
          col("n_chunks"),
          expr(s"cast((cast(n_chunks as decimal(38,0)) * $l - n_tokens) " +
            s"* 1000000 div greatest(n_chunks * $l, 1L) as bigint)")
            .as("pad_waste_ppm"),
          expr("cast(cast(tokens_truncated as decimal(38,0)) * 1000000 " +
            "div greatest(n_tokens, 1L) as bigint)").as("trunc_loss_ppm"))
    }.reduce(_ unionByName _)
  }

  // ---- q266: novelty saturation curve (when to stop crawling) ----
  // q181 grades novelty per DOCUMENT; this grades it per ARRIVAL
  // EPOCH: the corpus split into four id-ordered quarters, and for
  // each epoch the distinct 13-grams it touches, how many are
  // first-seen there, the cumulative distinct count, and the
  // marginal-novelty ppm — the diminishing-returns curve a crawl
  // operator reads to decide whether the next 25 TB is worth
  // ingesting. Scale: rides the SAME persisted md5-gram frame as
  // q179/q181; the only new work is one (gram, epoch) distinct, one
  // gram-keyed min, and 4-row arithmetic. Epoch bounds come from an
  // in-plan min/max broadcast — no driver scalar.
  def q266NoveltyCurve(s: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.documents(s, dir)
    // persisted: the id-bounds scan feeds BOTH epoch assignments
    // (gram frame and doc counts) — one column-pruned pass, not two
    val bounds = graft.llm.Caches.persistTracked(
      docs.agg(min(col("doc_id")).as("__lo"),
        max(col("doc_id")).as("__hi")))
    def withEpoch(d: DataFrame) = d.crossJoin(broadcast(bounds))
      .withColumn("epoch",
        expr("least(3L, (doc_id - __lo) * 4 div (__hi - __lo + 1))"))
    val ge = graft.llm.Caches.persistTracked(
      withEpoch(md5GramFrame(s, dir))
        .select(col("epoch"), explode(col("gs")).as("gk"))
        .distinct())
    val dE = ge.groupBy(col("epoch")).agg(count(lit(1)).as("d_e"))
    val newE = ge.groupBy(col("gk")).agg(min(col("epoch")).as("epoch"))
      .groupBy(col("epoch")).agg(count(lit(1)).as("new_e"))
    val nDocs = withEpoch(docs.select(col("doc_id")))
      .groupBy(col("epoch")).agg(count(lit(1)).as("n_docs"))
    nDocs
      .join(dE, Seq("epoch"), "left")
      .join(newE, Seq("epoch"), "left")
      .select(col("epoch"), col("n_docs"),
        coalesce(col("d_e"), lit(0L)).as("d_e"),
        coalesce(col("new_e"), lit(0L)).as("new_e"))
      .withColumn("cum_distinct", sum(col("new_e")).over(
        org.apache.spark.sql.expressions.Window.orderBy(col("epoch"))))
      .withColumn("novelty_ppm",
        expr("new_e * 1000000 div greatest(d_e, 1L)"))
  }

  // ---- q264: sample-fidelity card (what the reservoir's estimates cost) ----
  // q262 proves the deterministic bottom-k sample's MECHANISM; this
  // prices its USE: per-source corpus statistics (mean tokens/doc,
  // short-doc rate) estimated from a k=100 hash-priority sample next
  // to the exact full-corpus numbers, signed error in ppm. The sample
  // rides the same bounded aggregator (k-sized state, |sources|·k
  // shuffle); only the k sampled ids join back to the corpus for
  // their measures. Integer fixed-point throughout (ppm via integer
  // div), so both engines agree bit-for-bit — the card's point is
  // that the ERROR is measured, not assumed.
  private val FidelityK = 100
  private val ShortDocTok = 20
  def q264SampleFidelity(s: SparkSession, dir: String): DataFrame = {
    val bottomk = udaf(new graft.llm.TopKAgg(FidelityK))
    val docs = graft.Tables.documents(s, dir)
    val m = graft.llm.Caches.persistTracked(
      docs.select(col("doc_id"),
        coalesce(col("source"), lit("(null)")).as("source"),
        tokenCount(col("text")).cast("bigint").as("n_tok")))
    val sampleIds = m
      .select(col("source"),
        graft.llm.Sketches.md5Hash32(col("doc_id").cast("string")).as("h"),
        col("doc_id"))
      .groupBy(col("source"))
      .agg(bottomk((-col("h")).cast("long"), col("doc_id")).as("top"))
      .select(col("source"), explode(col("top")).as("e"))
      .select(col("source"), col("e._2").cast("bigint").as("doc_id"))
    def stats(d: DataFrame, prefix: String) = d
      .groupBy(col("source"))
      .agg(count(lit(1)).as(s"${prefix}_n"),
        expr("cast(cast(sum(n_tok) as decimal(38,0)) * 1000000 " +
          "div count(1) as bigint)").as(s"${prefix}_mean_tok_fp"),
        expr(s"cast(sum(case when n_tok < $ShortDocTok then 1 else 0 end) " +
          s"* 1000000 div count(1) as bigint)").as(s"${prefix}_short_ppm"))
    stats(m, "full")
      .join(stats(sampleIds.join(m, Seq("source", "doc_id")), "smp"),
        Seq("source"))
      .select(col("source"), col("full_n"), col("smp_n"),
        col("full_mean_tok_fp"), col("smp_mean_tok_fp"),
        (col("smp_mean_tok_fp") - col("full_mean_tok_fp"))
          .as("mean_err_fp"),
        col("full_short_ppm"), col("smp_short_ppm"),
        (col("smp_short_ppm") - col("full_short_ppm")).as("short_err_ppm"))
  }

  // ---- q265: hierarchical histogram rollup (grids sum up forever) ----
  // The q128-for-histograms card: per-source log2 grids (the q261
  // artifact shape) BUCKET-SUM into the corpus grid without touching
  // raw rows — rolled-up == built-direct per cell, and the corpus
  // p50/p90 read off the merged grid equals the one read off the
  // direct grid, both next to the exact corpus rank statistic. This
  // is why a 100 TB lake keeps per-source/per-day grids: any ancestor
  // in the rollup tree is one 64-row sum away. The exact arm is the
  // affordable-at-oracle-scale truth (a corpus rank); the grids are
  // what survives at scale.
  def q265HistRollup(s: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.documents(s, dir)
    val m = graft.llm.Caches.persistTracked(
      docs.select(col("doc_id"),
        coalesce(col("source"), lit("(null)")).as("g"),
        tokenCount(col("text")).cast("bigint").as("n")))
    val perSource = graft.llm.Sketches.log2Histogram(m, col("g"), col("n"))
    val rolled = graft.llm.Caches.persistTracked(
      perSource.groupBy(col("bucket"))
        .agg(sum(col("cnt")).as("cnt")).withColumn("g", lit("corpus")))
    val direct = graft.llm.Caches.persistTracked(
      graft.llm.Sketches.log2Histogram(
        m.withColumn("g", lit("corpus")), col("g"), col("n")))
    val cells = rolled.select(col("bucket"), col("cnt").as("cnt_rolled"))
      .join(direct.select(col("bucket"), col("cnt").as("cnt_direct")),
        Seq("bucket"), "full")
      .agg(count(lit(1)).cast("bigint").as("n_buckets"),
        expr("bool_and(coalesce(cnt_rolled = cnt_direct, false))")
          .as("cells_match"))
    val totals = m.agg(count(lit(1)).as("n_docs"))
      .withColumn("g", lit("corpus"))
    def est(h: DataFrame, name: String) =
      graft.llm.Sketches.histQuantile(h, totals, 50)
        .select(col("est_p50").as(s"${name}_p50"))
        .crossJoin(graft.llm.Sketches.histQuantile(h, totals, 90)
          .select(col("est_p90").as(s"${name}_p90")))
    // Exact corpus rank via the [[graft.llm.Robust.cutoffsFp]]
    // spelling: aggregate to per-value counts FIRST (frame bounded by
    // DISTINCT token counts, never corpus rows), then one cumulative
    // window over the skinny aggregate. The value at rank r under an
    // (n, doc_id) total order is exactly the smallest n whose
    // cumulative count reaches r — no corpus-sized single-task sort.
    val wCum = org.apache.spark.sql.expressions.Window
      .orderBy(col("n"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val cumByValue = graft.llm.Caches.persistTracked(
      m.groupBy(col("n")).agg(count(lit(1)).as("c"))
        .withColumn("cum", sum(col("c")).over(wCum)))
    def exact(p: Int) = cumByValue
      .crossJoin(broadcast(totals.select(col("n_docs"))))
      .filter(col("cum") >= expr(s"(n_docs * $p + 99) div 100"))
      .agg(min(col("n")).as(s"exact_p$p"))
    // every arm is ONE row; broadcast them so the plan reads as
    // BroadcastNestedLoopJoin, never a CartesianProduct
    cells
      .crossJoin(broadcast(est(rolled, "rolled")))
      .crossJoin(broadcast(est(direct, "direct")))
      .crossJoin(broadcast(exact(50)))
      .crossJoin(broadcast(exact(90)))
      .select(col("n_buckets"), col("cells_match"),
        col("rolled_p50"), col("direct_p50"), col("exact_p50"),
        col("rolled_p90"), col("direct_p90"), col("exact_p90"))
  }

  // ---- q263: incremental frequency counters off the SHIPPED grid ----
  // The q246 store-boundary discipline for the OTHER sketch monoid:
  // count-min counters for the historical corpus live as a parquet
  // artifact (depth×width rows, written once); an arrival slice
  // (doc_id%7, the q246 coprime split) builds its own grid and folds
  // in by CELL SUM ([[graft.llm.Sketches.mergeCounters]]) — no raw
  // history tokens anywhere. The card probes the full-corpus top-K
  // tokens against all four grids: history-only, delta-only, merged,
  // direct — merged == direct bit-for-bit (sum associativity survives
  // the parquet round trip), and the merged estimate keeps the CM
  // one-sided guarantee vs exact. Probes LEFT-join the grids (an
  // absent cell is a ZERO counter — dropping it would overestimate).
  private val CmArrivalMod = 7
  def q263CmIncremental(s: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.documents(s, dir)
    def toks(d: DataFrame) = d
      .select(explode(TextAnalysis.tokens(col("text"))).as("w"))
    val root = graft.llm.Artifacts.ensure(dir, "cm-counters-v1") { p =>
      graft.llm.Artifacts.saveIndexFrame(s"$p/ctr",
        graft.llm.Sketches.cmCounters(
          toks(docs.filter(pmod(col("doc_id"), lit(CmArrivalMod)) =!= 0)),
          CmWidth))
    }
    val hist = graft.llm.Artifacts.loadIndexFrame(s, s"$root/ctr")
    val delta = graft.llm.Caches.persistTracked(
      graft.llm.Sketches.cmCounters(
        toks(docs.filter(pmod(col("doc_id"), lit(CmArrivalMod)) === 0)),
        CmWidth))
    // ONE full-corpus tokenize: the per-token freq aggregate feeds
    // the exact arm, the top-K probe set AND the direct grid (a
    // counter cell is just sum(n_exact) over the tokens hashing
    // there — the q218 share-the-aggregate discipline)
    val freq = graft.llm.Caches.persistTracked(
      toks(docs).groupBy(col("w")).agg(count(lit(1)).as("n_exact")))
    val direct = graft.llm.Sketches.cmSalted(freq, CmWidth)
      .groupBy(col("j"), col("b")).agg(sum(col("n_exact")).as("tot"))
    val top = freq.orderBy(col("n_exact").desc, col("w").asc).limit(CmTopK)
    val probes = graft.llm.Caches.persistTracked(
      graft.llm.Sketches.cmSalted(top, CmWidth))
    def est(ctr: DataFrame, name: String) =
      probes.join(broadcast(ctr), Seq("j", "b"), "left")
        .groupBy(col("w"), col("n_exact"))
        .agg(min(coalesce(col("tot"), lit(0L))).as(name))
    est(hist, "est_history")
      .join(est(delta, "est_delta"), Seq("w", "n_exact"))
      .join(est(graft.llm.Sketches.mergeCounters(hist, delta), "est_merged"),
        Seq("w", "n_exact"))
      .join(est(direct, "est_direct"), Seq("w", "n_exact"))
      .select(col("w"), col("n_exact"), col("est_history"), col("est_delta"),
        col("est_merged"), col("est_direct"),
        (col("est_merged") === col("est_direct")).as("merge_exact"),
        (col("est_merged") - col("n_exact")).as("overcount"))
  }

  // ---- q247: perceptual image near-dup (dHash stability card) ----
  // q65's content key is BYTE-level: one changed pixel re-keys the
  // image and the dup group dissolves. The perceptual axis hashes
  // DECODED structure instead: [[graft.llm.Multimodal.dHashBits]]
  // NN-samples a 9×8 gray grid and keeps only gradient SIGNS, so
  // small edits move sums but not the hash. The card measures that
  // claim on planted evidence (the mojibake/q93 discipline): every
  // image gets a deterministically noised copy (+1 to every 37th
  // pixel byte — [[Multimodal.perturbBmp]]), which changes BYTES on
  // every image (data index 0 always perturbs) while the dHash
  // survives on most — byte-dedup finds zero pairs, perceptual
  // dedup keeps its clusters. Also pins distinct-dHash vs
  // distinct-content bucket counts (how much the coarser identity
  // collapses). One typed row-local decode pass (mapPartitions, the
  // q65 shape) + one aggregate; at 100 TB the decode rides the scan
  // and only the 5-counter card shuffles.
  private val PerturbStep = 37
  private val HeavyStep = 4
  private val HeavyDelta = 128
  def q247PerceptualDups(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rows = graft.llm.Multimodal.documentsAsRealMedia(s, dir)
      .filter(_.mediaType == "image/bmp")
      .map { p =>
        val dims = graft.llm.Multimodal.decodeBmp(p.content)
          .map { case (w, h) => s"$w:$h" }.getOrElse("invalid")
        val h0 = graft.llm.Multimodal.dHashBits(p.content).getOrElse("")
        val pert = graft.llm.Multimodal.perturbBmp(p.content, PerturbStep)
        val h1 = pert.flatMap(graft.llm.Multimodal.dHashBits).getOrElse("")
        val h2 = graft.llm.Multimodal.perturbBmp(p.content, HeavyStep, HeavyDelta)
          .flatMap(graft.llm.Multimodal.dHashBits).getOrElse("")
        val bytesChanged =
          pert.exists(q => !java.util.Arrays.equals(q, p.content))
        (p.id, dims, h0, h1, h2, bytesChanged)
      }.toDF("doc_id", "dims", "hs", "hp", "hv", "byte_changed")
    rows.agg(
        count(lit(1)).cast("bigint").as("n_images"),
        countDistinct(col("dims")).as("n_distinct_content"),
        countDistinct(col("hs")).as("n_distinct_dhash"),
        sum(when(col("byte_changed"), 1L).otherwise(0L)).cast("bigint")
          .as("n_byte_changed"),
        sum(when(col("hs") === col("hp"), 1L).otherwise(0L)).cast("bigint")
          .as("n_dhash_stable"),
        sum(when(col("hs") === col("hv"), 1L).otherwise(0L)).cast("bigint")
          .as("n_heavy_stable"))
      .withColumn("stable_ppm",
        expr("n_dhash_stable * 1000000L div greatest(n_images, 1L)"))
      .withColumn("heavy_stable_ppm",
        expr("n_heavy_stable * 1000000L div greatest(n_images, 1L)"))
  }

  // ---- q248: CDC divisor sweep (chunk-size knob pricing) ----
  // The FastCDC tuning question: a smaller divisor cuts smaller
  // chunks — better dedup savings, more index entries. One row per
  // divisor (32/64/128) prices the tradeoff: chunk counts, byte
  // totals, distinct-chunk store size, and the dedup savings the
  // store realizes. Each arm is ONE grouped pass over its chunk
  // frame — per distinct chunk key the occurrence count and length
  // land in the same aggregate, so totals, store size, and savings
  // all come from a single ck-keyed shuffle. The sweep also PINS
  // the power-of-two nesting law (hash % 128 = 0 ⇒ % 64 = 0 ⇒
  // % 32 = 0): every coarser boundary exists at the finer level
  // (n_unnested = 0) — which is why a store can RE-CHUNK
  // incrementally to a finer divisor by only splitting existing
  // chunks, never moving a boundary.
  private val CdcSweepDivisors = Seq(32L, 64L, 128L)
  def q248CdcSweep(s: SparkSession, dir: String): DataFrame = {
    graft.llm.Fingerprint.register(s)
    val docs = graft.Tables.documents(s, dir)
    val frames = CdcSweepDivisors.map { d =>
      d -> graft.llm.Caches.persistTracked(
        graft.llm.Fingerprint.cdcChunkFrame(docs, "doc_id", "text", d)
          .select(col("doc_id"), col("st"), col("len"), col("ck")))
    }.toMap
    def arm(d: Long): DataFrame = {
      val stats = frames(d)
        .groupBy(col("ck"))
        .agg(count(lit(1)).as("cnt"), min(col("len")).as("l"))
        .agg(sum(col("cnt")).cast("bigint").as("n_chunks"),
          sum(col("cnt") * col("l")).cast("bigint").as("total_bytes"),
          count(lit(1)).cast("bigint").as("n_distinct_chunks"),
          sum(col("l")).cast("bigint").as("store_bytes"))
      val unnested =
        if (d == CdcSweepDivisors.min) {
          import s.implicits._
          Seq(0L).toDF("n_unnested")
        } else frames(d).select(col("doc_id"), col("st"))
          .join(frames(d / 2).select(col("doc_id"), col("st")),
            Seq("doc_id", "st"), "left_anti")
          .agg(count(lit(1)).cast("bigint").as("n_unnested"))
      stats.crossJoin(broadcast(unnested))
        .select(lit(d).as("divisor"), col("n_chunks"), col("total_bytes"),
          expr("total_bytes div greatest(n_chunks, 1L)").as("avg_chunk_bytes"),
          col("n_distinct_chunks"),
          (col("total_bytes") - col("store_bytes")).as("dup_bytes_saved"),
          expr("cast(cast(total_bytes - store_bytes as decimal(38,0)) * 1000000 " +
            "div greatest(total_bytes, 1L) as bigint)").as("savings_ppm"),
          col("n_unnested"))
    }
    CdcSweepDivisors.map(arm).reduce(_ unionByName _)
  }

  // ---- q250/q251: perceptual store admission (dHash novelty) ----
  // q235's admission question for IMAGES, contrasting the two
  // identities on realistic upload traffic. The store (doc_id % 10
  // != 0 images) knows its distinct byte-level content keys (q65's
  // decoded spelling) and its distinct dHashes (q247's perceptual
  // kernel). Arrivals (doc_id % 10 = 0) come as a 50/50 mix the
  // crawl actually sees: UNEDITED re-uploads (doc_id % 20 = 0) and
  // EDITED copies (the q247 light perturbation — every 37th pixel
  // byte +1, so the byte key is guaranteed new while the perceptual
  // hash survives). The per-kind card measures the gap: byte dedup
  // admits every edited copy as "novel" storage; the dHash probe
  // catches them. One decode pass per side (row-local), two
  // identity-sized left joins, two rows out. q251 serves the SAME
  // card from the SHIPPED identity indexes (saveIndexFrame —
  // identity-sized, never driver-sized), byte-identical to q250:
  // one shared oracle.
  private def imageIdentity(content: Array[Byte]): (String, String) = {
    val ck = (for {
      wh <- graft.llm.Multimodal.decodeBmp(content)
      sums <- graft.llm.Multimodal.bmpBandSums(content, 1)
    } yield s"image/bmp:${wh._1}:${wh._2}:${content.length}:${sums(0)}")
      .getOrElse("invalid")
    (ck, graft.llm.Multimodal.dHashBits(content).getOrElse(""))
  }

  private def imageStoreFrame(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.llm.Multimodal.documentsAsRealMedia(s, dir)
      .filter(p => p.mediaType == "image/bmp" && p.id % 10 != 0)
      .map { p =>
        val (ck, hs) = imageIdentity(p.content)
        (ck, hs)
      }.toDF("ck", "hs")
  }

  private def imageArrivalFrame(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.llm.Multimodal.documentsAsRealMedia(s, dir)
      .filter(p => p.mediaType == "image/bmp" && p.id % 10 == 0)
      .map { p =>
        val edited = p.id % 20 != 0
        val c = if (edited)
          graft.llm.Multimodal.perturbBmp(p.content, PerturbStep).get
        else p.content
        val (ck, hs) = imageIdentity(c)
        (if (edited) "edited" else "original", ck, hs)
      }.toDF("kind", "ck", "hs")
  }

  private def perceptualAdmissionCard(arrivals: DataFrame,
      knownCk: DataFrame, knownHs: DataFrame): DataFrame =
    arrivals
      .join(knownHs.select(col("hs")).distinct()
        .withColumn("__pk", lit(true)), Seq("hs"), "left")
      .join(knownCk.select(col("ck")).distinct()
        .withColumn("__bk", lit(true)), Seq("ck"), "left")
      .groupBy(col("kind"))
      .agg(count(lit(1)).cast("bigint").as("n_arrivals"),
        sum(when(col("hs") =!= "", 1L).otherwise(0L)).cast("bigint")
          .as("n_decoded"),
        sum(when(col("__bk"), 1L).otherwise(0L)).cast("bigint")
          .as("n_byte_known"),
        sum(when(col("__pk"), 1L).otherwise(0L)).cast("bigint")
          .as("n_perceptual_known"))
      .withColumn("n_perceptual_extra",
        col("n_perceptual_known") - col("n_byte_known"))
      .withColumn("perceptual_ppm",
        expr("n_perceptual_known * 1000000L div greatest(n_arrivals, 1L)"))

  def q250PerceptualAdmission(s: SparkSession, dir: String): DataFrame = {
    val store = graft.llm.Caches.persistTracked(imageStoreFrame(s, dir))
    perceptualAdmissionCard(imageArrivalFrame(s, dir), store, store)
  }

  def q251PerceptualAdmissionLoaded(s: SparkSession, dir: String): DataFrame = {
    val root = graft.llm.Artifacts.ensure(dir, "dhash-index-v2") { p =>
      val store = graft.llm.Caches.persistTracked(imageStoreFrame(s, dir))
      graft.llm.Artifacts.saveIndexFrame(s"$p/ck",
        store.select(col("ck")).distinct())
      graft.llm.Artifacts.saveIndexFrame(s"$p/hs",
        store.select(col("hs")).distinct())
    }
    perceptualAdmissionCard(imageArrivalFrame(s, dir),
      graft.llm.Artifacts.loadIndexFrame(s, s"$root/ck"),
      graft.llm.Artifacts.loadIndexFrame(s, s"$root/hs"))
  }

  // ---- q252: bounded top-k AGGREGATOR (per-source best docs) ----
  // The custom-typed-aggregation extension point (`Aggregator` +
  // `functions.udaf`) the engine had not yet exercised — and the
  // 100 TB spelling of "top k per group": the window formulation
  // shuffles and sorts EVERY row per group before discarding all
  // but k; [[graft.llm.TopKAgg]] keeps k-sized state, combines
  // map-side like any aggregate, and ships |groups|·k rows through
  // the exchange (plan-asserted in TopKAggSpec: ObjectHashAggregate
  // with partial_topkagg, no Window, no corpus Sort). Total
  // deterministic order (quality desc, doc_id asc) makes the result
  // exact; the oracle replays it as a row_number window — DuckDB
  // can afford the sort at oracle scale, which is the point.
  def q252TopkAgg(s: SparkSession, dir: String): DataFrame = {
    val topk = udaf(new graft.llm.TopKAgg(3))
    TextAnalysis.ruleFilter(graft.Tables.documents(s, dir),
        "doc_id", "text", carryCols = Seq("source"), withQuality = true)
      .select(coalesce(col("source"), lit("(null)")).as("source"),
        col("quality_fp"), col("doc_id"))
      .groupBy(col("source"))
      .agg(topk(col("quality_fp"), col("doc_id")).as("top"))
      .select(col("source"), posexplode(col("top")).as(Seq("i", "e")))
      .select(col("source"), (col("i") + 1).cast("bigint").as("rank"),
        col("e._1").cast("bigint").as("quality_fp"),
        col("e._2").cast("bigint").as("doc_id"))
  }

  // ---- q261: log2-histogram quantile sketch vs exact truth ----
  // Per-source token-length quantiles (p50/p90) read off a 64-bucket
  // log2 histogram ([[graft.llm.Sketches.log2Histogram]]) next to the
  // exact rank statistic. The histogram is the 100 TB instrument:
  // fixed ≤64-row state per source, merges by bucket-sum across
  // partitions/days/stores, never sorts anything; the exact arm
  // (row_number per source — a corpus sort) is the truth this card
  // affordably buys at oracle scale to MEASURE the sketch's error.
  // Integer throughout — bucket = binary digit count, estimate = the
  // bucket midpoint, rank = ceil(p%·n) — so DuckDB replays every
  // cell bit-for-bit (the q246 discipline, no floats anywhere).
  def q261QuantileSketch(s: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.documents(s, dir)
    val m = graft.llm.Caches.persistTracked(
      docs.select(col("doc_id"),
        coalesce(col("source"), lit("(null)")).as("g"),
        tokenCount(col("text")).cast("bigint").as("n")))
    val totals = graft.llm.Caches.persistTracked(
      m.groupBy(col("g")).agg(count(lit(1)).as("n_docs")))
    val hist = graft.llm.Sketches.log2Histogram(m, col("g"), col("n"))
    val rn = m.withColumn("rn", row_number().over(
      org.apache.spark.sql.expressions.Window
        .partitionBy(col("g")).orderBy(col("n"), col("doc_id"))))
    def exact(p: Int) = rn.join(totals, Seq("g"))
      .filter(col("rn") === expr(s"(n_docs * $p + 99) div 100"))
      .select(col("g"), col("n").as(s"exact_p$p"))
    totals
      .join(graft.llm.Sketches.histQuantile(hist, totals, 50), Seq("g"))
      .join(exact(50), Seq("g"))
      .join(graft.llm.Sketches.histQuantile(hist, totals, 90), Seq("g"))
      .join(exact(90), Seq("g"))
      .select(col("g").as("source"), col("n_docs"),
        col("est_p50"), col("exact_p50"),
        (col("est_p50") - col("exact_p50")).as("err_p50"),
        col("est_p90"), col("exact_p90"),
        (col("est_p90") - col("exact_p90")).as("err_p90"))
  }

  // ---- q262: deterministic bottom-k sample (the reservoir at scale) ----
  // A k-per-source uniform sample drawn WITHOUT randomness or a
  // global sort: priority = md5 hash of the doc id, keep the k
  // smallest via [[graft.llm.TopKAgg]] (score = −h, so the bounded
  // aggregator's descending order is ascending-priority). This is how
  // a 100 TB pipeline samples: k-sized map-side state per source, one
  // aggregate shuffle of |sources|·k rows, reproducible across runs
  // AND consistent across stores (two sites sampling the same corpus
  // pick the same docs — no seed exchange). The same k smallest
  // hashes double as a bottom-k distinct sketch. Oracle replays it as
  // the window rank the aggregator avoids.
  private val BottomkSampleK = 5
  def q262BottomkSample(s: SparkSession, dir: String): DataFrame = {
    val bottomk = udaf(new graft.llm.TopKAgg(BottomkSampleK))
    graft.Tables.documents(s, dir)
      .select(coalesce(col("source"), lit("(null)")).as("source"),
        graft.llm.Sketches.md5Hash32(col("doc_id").cast("string")).as("h"),
        col("doc_id"))
      .groupBy(col("source"))
      .agg(bottomk((-col("h")).cast("long"), col("doc_id")).as("top"))
      .select(col("source"), posexplode(col("top")).as(Seq("i", "e")))
      .select(col("source"), (col("i") + 1).cast("bigint").as("rank"),
        (-col("e._1")).cast("bigint").as("h"),
        col("e._2").cast("bigint").as("doc_id"))
  }

  // ---- q233: rendezvous reshard card (minimal-disruption proof) ----
  // q167's shardPlan is `hash % N` — add a shard and ~everything
  // moves; this card prices the alternative: rendezvous/HRW
  // assignment ([[graft.llm.Sampling.rendezvousShard]]) under N=8 and
  // N=9 shards, per old shard: how many docs move at all (theory:
  // ~1/9) and — the HRW theorem, measured not assumed — how many
  // move anywhere EXCEPT the new shard (must be exactly 0: a key's
  // argmax over a superset changes only if the new candidate wins).
  // Assignment is a row-local md5 fold, zero shuffle; the only
  // exchange is the per-shard rollup.
  private val ReshardFrom = 8
  def q233ReshardCard(s: SparkSession, dir: String): DataFrame =
    graft.Tables.documents(s, dir)
      .select(col("doc_id"),
        graft.llm.Sampling.rendezvousShard("doc_id", ReshardFrom)
          .cast("bigint").as("s_old"),
        graft.llm.Sampling.rendezvousShard("doc_id", ReshardFrom + 1)
          .cast("bigint").as("s_new"))
      .groupBy(col("s_old"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("s_new") =!= col("s_old"), 1L).otherwise(0L))
          .cast("bigint").as("n_moved"),
        sum(when(col("s_new") =!= col("s_old") &&
            col("s_new") =!= lit(ReshardFrom.toLong), 1L).otherwise(0L))
          .cast("bigint").as("n_moved_elsewhere"))
      .withColumn("moved_ppm",
        expr("n_moved * 1000000L div greatest(n_docs, 1L)"))

  // ---- q275: shard mixture preservation (HRW keeps the data mix) ----
  // q233 proved rendezvous sharding moves minimal data on resize;
  // this card proves the property that makes sharded TRAINING sound:
  // every HRW shard sees (near-)the global source mixture. Per
  // shard: document count, sources present, Simpson diversity
  // (1 − Σ pᵢ², the rational diversity index — Shannon needs a log
  // and would not replay) and the L1 distance between the shard's
  // ppm-floor source shares and the global shares. Small L1 across
  // all shards = shard-parallel consumers may treat any shard as an
  // unbiased sample of the corpus mix. Everything is exact integer/
  // decimal arithmetic over a shards×sources cell aggregate — the
  // corpus contributes one row-local HRW assignment + one rollup.
  private val MixShards = 8
  def q275ShardMixture(s: SparkSession, dir: String): DataFrame = {
    val cell = graft.llm.Caches.persistTracked(
      graft.Tables.documents(s, dir)
        .select(graft.llm.Sampling.rendezvousShard("doc_id", MixShards)
            .cast("bigint").as("shard"),
          coalesce(col("source"), lit("(null)")).as("source"))
        .groupBy(col("shard"), col("source"))
        .agg(count(lit(1)).cast("bigint").as("c"))
        .coalesce(1))
    val st = cell.groupBy(col("shard"))
      .agg(sum(col("c")).cast("bigint").as("n"))
    val g = cell.groupBy(col("source"))
      .agg(sum(col("c")).cast("bigint").as("gc"))
    val t = cell.agg(sum(col("c")).cast("bigint").as("n_tot"))
    // the FULL shards×sources grid: a source absent from a shard
    // still owes its global share to the L1 distance
    val grid = st.crossJoin(broadcast(g))
      .join(cell, Seq("shard", "source"), "left")
      .withColumn("c", coalesce(col("c"), lit(0L)))
      .crossJoin(broadcast(t))
    val l1 = grid.groupBy(col("shard"))
      .agg(sum(abs(expr("cast(c as decimal(38,0)) * 1000000 div n") -
          expr("cast(gc as decimal(38,0)) * 1000000 div n_tot")))
          .cast("bigint").as("l1_vs_global_ppm"),
        sum(when(col("c") > 0L, 1L).otherwise(0L)).cast("bigint")
          .as("n_sources"))
    val sp = cell.join(st, Seq("shard"))
      .groupBy(col("shard"), col("n"))
      .agg(expr("cast(1000000 - (sum(cast(c as decimal(38,0)) * c) " +
        "* 1000000) div (cast(n as decimal(38,0)) * n) as bigint)")
        .as("simpson_ppm"))
    st.join(l1, Seq("shard"))
      .join(sp.select(col("shard"), col("simpson_ppm")), Seq("shard"))
      .select(col("shard"), col("n").as("n_docs"), col("n_sources"),
        col("simpson_ppm"), col("l1_vs_global_ppm"))
  }

  // ---- q306: mixture-preserving batch schedule (stride interleave) ----
  // q275 grades mixture across SHARDS (where docs live); this grades
  // it across BATCHES (the order a loader reads them): hash order
  // alone lets a training step go all-one-source by chance, so
  // [[graft.llm.Sampling.mixtureSchedule]] places doc r of a source
  // at stride slot ⌊(2r−1)·N/(2nS)⌋ within its shard (the Bresenham
  // rule — every source lands evenly) and orders by (slot, source,
  // key). The card: per (shard, batch) of the schedule, size, source
  // count, and the q275 L1 distance to the GLOBAL mix — read next to
  // q275's shard card, it prices the same invariant one level down.
  // Scale: every schedule window is shard-partitioned (the shardPlan
  // contract); the grid frames are (shards × batches × sources)-sized.
  // The oracle replays hash, ranks, stride slots, the (slot, source,
  // key) order, and the L1 grid.
  private val SchedShards = 4
  private val SchedBatch = 64
  def q306MixtureSchedule(s: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.documents(s, dir)
      .select(col("doc_id"), col("source"))
    val stride = graft.llm.Sampling.mixtureSchedule(
        docs, "source", "doc_id", SchedShards, SchedBatch)
      .select(lit("stride").as("scheme"), col("shard"), col("batch"),
        col("source"))
    // the contrast arm: the SAME shards read in bare hash order (the
    // q-shardPlan loader without the interleave) — what mixture
    // jitter costs when nobody schedules
    val hashArm = graft.llm.Sampling.shardPlan(docs, "doc_id", SchedShards)
      .select(lit("hash_order").as("scheme"), col("shard"),
        expr(s"(pos - 1) div $SchedBatch").as("batch"),
        coalesce(col("source"), lit("(null)")).as("source"))
    val cell = graft.llm.Caches.persistTracked(
      stride.unionByName(hashArm)
        .groupBy(col("scheme"), col("shard"), col("batch"), col("source"))
        .agg(count(lit(1)).cast("bigint").as("c"))
        .coalesce(1))
    val st = cell.groupBy(col("scheme"), col("shard"), col("batch"))
      .agg(sum(col("c")).cast("bigint").as("n"))
    val g = cell.groupBy(col("scheme"), col("source"))
      .agg(sum(col("c")).cast("bigint").as("gc"))
    val t = cell.groupBy(col("scheme"))
      .agg(sum(col("c")).cast("bigint").as("n_tot"))
    val grid = st.join(broadcast(g), Seq("scheme"))
      .join(cell, Seq("scheme", "shard", "batch", "source"), "left")
      .withColumn("c", coalesce(col("c"), lit(0L)))
      .join(broadcast(t), Seq("scheme"))
    grid.groupBy(col("scheme"), col("shard"), col("batch"), col("n"))
      .agg(
        sum(when(col("c") > 0L, 1L).otherwise(0L)).cast("bigint")
          .as("n_sources"),
        sum(abs(expr("cast(c as decimal(38,0)) * 1000000 div n") -
          expr("cast(gc as decimal(38,0)) * 1000000 div n_tot")))
          .cast("bigint").as("l1_vs_global_ppm"))
      .select(col("scheme"), col("shard"), col("batch"),
        col("n").as("n_docs"), col("n_sources"), col("l1_vs_global_ppm"))
  }

  // ---- q307: Neyman allocation (variance-optimal eval budget) ----
  // The survey-sampling rule an eval-labeling budget should follow
  // instead of proportional (Neyman 1934): sample stratum h ∝
  // N_h·σ_h, so variable sources get the labels and homogeneous ones
  // stop wasting them. [[graft.llm.Sampling.neymanAllocation]] over
  // per-doc token counts by source, budget 100: the weight is the
  // EXACT integer √(n·Σt² − (Σt)²) via corrected isqrt (no IEEE
  // composition), both arms round by largest remainder so each sums
  // to the budget exactly, and the card carries the achieved
  // variance-of-the-mean ratio (Σw)²/(N·Σ⌊varnum/n⌋) in floor ppm —
  // ≤ 10⁶ by Cauchy–Schwarz, and the measured gap IS the benefit of
  // scheduling the budget. Scale: one corpus aggregate; everything
  // else walks the #sources-row frame (the cappedAllocation
  // contract). The oracle replays sums, the isqrt correction, both
  // apportionments, and the ratio in HUGEINT.
  private val NeymanBudget = 100L
  def q307NeymanAllocation(s: SparkSession, dir: String): DataFrame =
    graft.llm.Sampling.neymanAllocation(
      graft.Tables.documents(s, dir)
        .select(coalesce(col("source"), lit("(null)")).as("source"),
          tokenCount(col("text")).cast("bigint").as("n_tok")),
      "source", "n_tok", NeymanBudget)
      .orderBy(col("stratum"))

  // ---- q219: sampling-temperature sweep (the mixing knob priced) ----
  // q161 prices T=2; this prices the knob: per temperature T ∈
  // {1, 2, 4}, every source's mixing share under weight ∝
  // tokens^(1/T) — T=1 is proportional (head-dominated), T=4 is
  // near-uniform (small sources up-weighted hard). Weights stay
  // exact: T=1 uses raw token counts (scale cancels in the share),
  // T=2 the IEEE-exact floor(√n·10⁶), T=4 the composition of two
  // correctly-rounded sqrts — no pow(), nothing unreplayable. One
  // corpus aggregate (persisted), then a 3×|sources| frame with a
  // per-T window total.
  private val TempSweep = Seq(1, 2, 4)
  def q219TemperatureSweep(s: SparkSession, dir: String): DataFrame = {
    val agg = graft.llm.Caches.persistTracked(
      graft.Tables.documents(s, dir)
        .filter(col("source").isNotNull)
        .select(col("source"),
          TextAnalysis.tokenCount(col("text")).cast("bigint").as("n_tok"))
        .groupBy(col("source"))
        .agg(sum(col("n_tok").cast("decimal(38,0)")).cast("bigint")
          .as("n_tokens")))
    def variant(t: Int): DataFrame = {
      val w = t match {
        case 1 => col("n_tokens")
        case 2 => floor(sqrt(col("n_tokens").cast("double")) * 1e6)
          .cast("bigint")
        case 4 => floor(sqrt(sqrt(col("n_tokens").cast("double"))) * 1e6)
          .cast("bigint")
        case other => throw new IllegalArgumentException(s"T=$other")
      }
      agg.select(lit(t.toLong).as("t"), col("source"), col("n_tokens"),
        w.as("weight_fp"))
    }
    TempSweep.map(variant).reduce(_ unionByName _)
      .withColumn("tw", sum(col("weight_fp").cast("decimal(38,0)")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("t"))))
      .select(col("t"), col("source"), col("n_tokens"), col("weight_fp"),
        expr("cast((cast(weight_fp as decimal(38,0)) * 1000000) " +
          "div greatest(tw, cast(1 as decimal(38,0))) as bigint)")
          .as("mixture_ppm"))
  }

  // ---- q220: sketch-estimated cross-source overlap vs exact ----
  // q51/q192 compute cross-source overlap EXACTLY (a gram equi-join
  // — fine until the gram sets are petabyte-scale); the 100 TB
  // instrument is inclusion-exclusion over mergeable HLL sketches:
  // |A∩B| ≈ est(A) + est(B) − est(A∪B), where the union sketch is a
  // register max-merge (no raw keys touched). This card computes
  // BOTH on the same md5-gram sets — every pair's exact
  // intersection, the sketch estimate, and the signed error — so the
  // estimator's fitness is measured, not assumed. Zero-overlap pairs
  // stay on the spine (their error is the interesting arm). All
  // integer: q97/q128's exact-replay estimator over the shared
  // register spelling; register frames persist for their two
  // consumers.
  def q220OverlapEstimate(s: SparkSession, dir: String): DataFrame = {
    import graft.llm.Sketches
    val sg = graft.llm.Caches.persistTracked(
      md5GramFrame(s, dir)
        .select(col("source"), explode(col("gs")).as("gk")).distinct())
    // Spread.byKey on the self-join key: AQE's byte-based coalescing
    // serialized the gram-compare stage (measured r19); the user
    // repartition both feeds the join's requirement and keeps the
    // CPU-heavy stage wide. No-op at production input sizes.
    val sgk = graft.llm.Spread.byKey(sg, col("gk"))
    val ex = sgk.select(col("source").as("sa"), col("gk"))
      .join(sgk.select(col("source").as("sb"), col("gk")), Seq("gk"))
      .filter(col("sa") < col("sb"))
      .groupBy(col("sa"), col("sb"))
      .agg(count(lit(1)).as("n_inter"))
    val regs = graft.llm.Caches.persistTracked(
      Sketches.hllRegisters(sg, col("source"), col("gk")))
    val single = graft.llm.Caches.persistTracked(Sketches.hllEstimate(regs))
    val pairsF = single.select(col("g").as("sa"))
      .crossJoin(single.select(col("g").as("sb")))
      .filter(col("sa") < col("sb"))
    val pregs = pairsF.join(regs.withColumnRenamed("g", "sa"), Seq("sa"))
        .select(col("sa"), col("sb"), col("b"), col("mr"))
      .unionByName(pairsF.join(regs.withColumnRenamed("g", "sb"), Seq("sb"))
        .select(col("sa"), col("sb"), col("b"), col("mr")))
      .groupBy(col("sa"), col("sb"), col("b"))
      .agg(max(col("mr")).as("mr"))
    val uest = Sketches.hllEstimate(
        pregs.select(struct(col("sa"), col("sb")).as("g"), col("b"), col("mr")))
      .select(col("g.sa").as("sa"), col("g.sb").as("sb"),
        col("hll_est").as("u_est"))
    pairsF
      .join(ex, Seq("sa", "sb"), "left")
      .join(single.select(col("g").as("sa"), col("hll_est").as("a_est")),
        Seq("sa"))
      .join(single.select(col("g").as("sb"), col("hll_est").as("b_est")),
        Seq("sb"))
      .join(uest, Seq("sa", "sb"))
      .select(col("sa").as("source_a"), col("sb").as("source_b"),
        coalesce(col("n_inter"), lit(0L)).as("n_inter_exact"),
        (col("a_est") + col("b_est") - col("u_est")).as("inter_est"))
      .withColumn("err", col("inter_est") - col("n_inter_exact"))
  }

  // ---- q224: per-source rule-drop breakdown (which rule, where) ----
  // q69 says WHICH docs failed and q73 HOW MANY per language; this
  // says WHICH RULE fires WHERE — per (source, rule bit): failure
  // count and ppm, zero rows kept on the spine so a silent rule is
  // visible. A rule that fires only in one source is usually a
  // SOURCE defect (template, encoding), not a content signal — the
  // routing decision this card feeds. One rule scan (persisted for
  // the totals + bit-explode consumers); the bit test is integer
  // div/mod, identical in both engines.
  def q224RuleBreakdown(s: SparkSession, dir: String): DataFrame = {
    val rf = graft.llm.Caches.persistTracked(
      TextAnalysis.ruleFilter(graft.Tables.documents(s, dir),
          "doc_id", "text", carryCols = Seq("source"))
        .select(col("doc_id"),
          coalesce(col("source"), lit("(null)")).as("source"),
          col("reasons")))
    val fl = rf
      .select(col("source"), col("reasons"),
        explode(expr("sequence(0, 5)")).as("rule_id"))
      .filter(expr("(reasons div shiftleft(1L, rule_id)) % 2 = 1"))
      .groupBy(col("source"), col("rule_id"))
      .agg(count(lit(1)).as("n_failed"))
    rf.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      .select(col("source"), col("n_docs"),
        explode(expr("sequence(0, 5)")).as("rule_id"))
      .join(fl, Seq("source", "rule_id"), "left")
      .select(col("source"), col("rule_id").cast("bigint").as("rule_id"),
        coalesce(col("n_failed"), lit(0L)).as("n_failed"),
        expr("cast(cast(coalesce(n_failed, 0L) as decimal(38,0)) * 1000000 " +
          "div greatest(n_docs, 1L) as bigint)").as("fail_ppm"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q224_rule_breakdown" -> q224RuleBreakdown _,
    "q220_overlap_estimate" -> q220OverlapEstimate _,
    "q219_temperature_sweep" -> q219TemperatureSweep _,
    "q218_more_data" -> q218MoreDataCard _,
    "q226_rule_distill" -> q226RuleDistill _,
    "q270_rule_distill_loaded" -> q270RuleDistillLoaded _,
    "q227_bpe_roundtrip" -> q227BpeRoundtrip _,
    "q230_compute_optimal" -> q230ComputeOptimal _,
    "q231_pii_scan" -> q231PiiScan _,
    "q233_reshard_card" -> q233ReshardCard _,
    "q275_shard_mixture" -> q275ShardMixture _,
    "q306_mixture_schedule" -> q306MixtureSchedule _,
    "q307_neyman_allocation" -> q307NeymanAllocation _,
    "q234_cdc_dedup" -> q234CdcDedup _,
    "q235_cdc_admission" -> q235CdcAdmission _,
    "q236_cdc_admission_loaded" -> q236CdcAdmissionLoaded _,
    "q237_artifact_erasure" -> q237ArtifactErasure _,
    "q295_erase_apply" -> q295EraseApply _,
    "q319_chunkstore_compact" -> q319ChunkStoreCompact _,
    "q238_rank_auc" -> q238RankAuc _,
    "q239_mojibake" -> q239Mojibake _,
    "q274_unicode_dedup" -> q274UnicodeDedup _,
    "q281_importance_select" -> q281ImportanceSelect _,
    "q282_importance_serve" -> q282ImportanceServe _,
    "q283_bootstrap_ci" -> q283BootstrapCi _,
    "q285_mixture_drift" -> q285MixtureDrift _,
    "q286_review_queue" -> q286ReviewQueue _,
    "q287_char_collision" -> q287CharCollision _,
    "q288_paired_bootstrap" -> q288PairedBootstrap _,
    "q289_drift_monitor" -> q289DriftMonitor _,
    "q290_sentence_stats" -> q290SentenceStats _,
    "q291_proximity_search" -> q291ProximitySearch _,
    "q292_gate_disparity" -> q292GateDisparity _,
    "q293_watermark_screen" -> q293WatermarkScreen _,
    "q246_hll_incremental" -> q246HllIncremental _,
    "q247_perceptual_dups" -> q247PerceptualDups _,
    "q248_cdc_sweep" -> q248CdcSweep _,
    "q250_perceptual_admission" -> q250PerceptualAdmission _,
    "q251_perceptual_admission_loaded" -> q251PerceptualAdmissionLoaded _,
    "q252_topk_agg" -> q252TopkAgg _,
    "q261_quantile_sketch" -> q261QuantileSketch _,
    "q262_bottomk_sample" -> q262BottomkSample _,
    "q263_cm_incremental" -> q263CmIncremental _,
    "q264_sample_fidelity" -> q264SampleFidelity _,
    "q266_novelty_curve" -> q266NoveltyCurve _,
    "q267_seqlen_sweep" -> q267SeqlenSweep _,
    "q271_store_audit" -> q271StoreAudit _,
    "q265_hist_rollup" -> q265HistRollup _,
    "q216_keywords" -> q216Keywords _,
    "q210_batch_waste" -> q210BatchWaste _,
    "q213_manifest_loaded" -> q213ManifestLoaded _,
    "q209_nb_calibration" -> q209NbCalibration _,
    "q207_audio_vad" -> q207AudioVad _,
    "q202_vocab_sweep" -> q202VocabSweep _,
    "q201_boilerplate_strip" -> q201BoilerplateStrip _,
    "q200_epoch_plan" -> q200EpochPlan _,
    "q199_token_allocation" -> q199TokenAllocation _,
    "q195_nb_classifier" -> q195NbClassifier _,
    "q196_nb_loaded"   -> q196NbLoaded _,
    "q302_annotator_kappa" -> q302AnnotatorKappa _,
    "q303_kappa_monitor" -> q303KappaMonitor _,
    "q308_fleiss_kappa" -> q308FleissKappa _,
    "q309_kappa_matrix" -> q309KappaMatrix _,
    "q310_span_sweep" -> q310SpanSweep _,
    "q313_fleiss_monitor" -> q313FleissMonitor _,
    "q316_krippendorff_alpha" -> q316KrippendorffAlpha _,
    "q317_rater_accuracy" -> q317RaterAccuracy _,
    "q318_alpha_monitor" -> q318AlphaMonitor _,
    "q320_ordinal_alpha" -> q320OrdinalAlpha _,
    "q116_khop_seeds"  -> q116KhopSeeds _,
    "q122_vocab_growth" -> q122VocabGrowth _,
    "q123_scene_cuts"  -> q123SceneCuts _,
    "q126_dataset_split" -> q126DatasetSplit _,
    "q128_hll_union"   -> q128HllUnion _,
    "q131_quantile_sketch" -> q131QuantileSketch _,
    "q108_histogram_drift" -> q108HistogramDrift _,
    "q107_robust_outliers" -> q107RobustOutliers _,
    "q105_bigram_surprisal" -> q105BigramSurprisal _,
    "q104_quality_calibrated" -> q104QualityCalibrated _,
    "q103_weighted_sample" -> q103WeightedSample _,
    "q101_containment" -> q101Containment _,
    "q100_triangles"   -> q100Triangles _,
    "q99_bpe_vocab"    -> q99BpeVocab _,
    "q137_bpe_encode"  -> q137BpeEncode _,
    "q155_dataset_checksum" -> q155DatasetChecksum _,
    "q157_bpe_encode_loaded" -> q157BpeEncodeLoaded _,
    "q98_heavy_hitters" -> q98HeavyHitters _,
    "q97_hll_card"     -> q97HllCard _,
    "q96_sparse_cosine" -> q96SparseCosine _,
    "q91_collocations" -> q91Collocations _,
    "q89_fuzzy_join"   -> q89FuzzyJoin _,
    "q88_bpe_train"    -> q88BpeTrain _,
    "q87_pagerank"     -> q87PageRank _,
    "q83_bm25"         -> q83Bm25 _,
    "q16_dedup_exact"  -> q16DedupExact _,
    "q17_dedup_norm"   -> q17DedupNorm _,
    "q18_text_stats"   -> q18TextStats _,
    "q19_lang_id"      -> q19LangId _,
    "q20_quality"      -> q20Quality _,
    "q27_multimodal"   -> q27Multimodal _,
    "q47_media_decode" -> q47MediaDecode _,
    "q55_media_resize" -> q55MediaResize _,
    "q56_media_features" -> q56MediaFeatures _,
    "q28_fingerprints" -> q28Fingerprints _,
    "q31_simhash_pairs" -> q31SimhashPairs _,
    "q32_curation"     -> q32CurationPipeline _,
    "q36_distinctive_terms" -> q36DistinctiveTerms _,
    "q37_repetition"   -> q37Repetition _,
    "q39_stratified_sample" -> q39StratifiedSample _,
    "q57_token_mixture"     -> q57TokenMixture _,
    "q40_token_quantiles"   -> q40TokenQuantiles _,
    "q42_phrase_search"     -> q42PhraseSearch _,
    "q43_chunks"            -> q43Chunks _,
    "q44_sequence_packing"  -> q44SequencePacking _,
    "q140_bpe_packing"      -> q140BpePacking _,
    "q146_emerging_terms"   -> q146EmergingTerms _,
    "q152_source_drift"     -> q152SourceDrift _,
    "q161_temperature_mixture" -> q161TemperatureMixture _,
    "q167_shard_plan"          -> q167ShardPlan _,
    "q169_training_manifest"   -> q169TrainingManifest _,
    "q170_hits"                -> q170Hits _,
    "q172_seeded_pagerank"     -> q172SeededPagerank _,
    "q163_source_divergence"   -> q163SourceDivergence _,
    "q164_snm_pairs"           -> q164SnmPairs _,
    "q177_snm_multipass"       -> q177SnmMultipass _,
    "q178_url_dedup_key"       -> q178UrlDedupKey _,
    "q180_domain_mix"          -> q180DomainMix _,
    "q184_dedup_savings"       -> q184DedupSavings _,
    "q185_url_split_leakage"   -> q185UrlSplitLeakage _,
    "q186_content_split"       -> q186ContentSplit _,
    "q187_boilerplate"         -> q187Boilerplate _,
    "q188_padding_waste"       -> q188PaddingWaste _,
    "q192_contamination_matrix" -> q192ContaminationMatrix _,
    "q193_quality_sweep"       -> q193QualitySweep _,
    "q179_memorization_probe"  -> q179MemorizationProbe _,
    "q181_novelty_profile"     -> q181NoveltyProfile _,
    "q153_tokenizer_equity" -> q153TokenizerEquity _,
    "q45_decontamination"   -> q45Decontamination _,
    "q68_decontam_bloom"    -> q68DecontamBloom _,
    "q158_decontam_bloom_loaded" -> q158DecontamBloomLoaded _,
    "q69_filter_rules"      -> q69FilterRules _,
    "q70_incremental_dedup" -> q70IncrementalDedup _,
    "q175_incremental_loaded" -> q175IncrementalLoaded _,
    "q71_surprisal"         -> q71Surprisal _,
    "q73_data_card"         -> q73DataCard _,
    "q74_dynamic_filter"    -> q74DynamicFilter _,
    "q76_curation_funnel"   -> q76CurationFunnel _,
    "q50_dup_spans"         -> q50DupSpans _,
    "q300_span_removal"     -> q300SpanRemoval _,
    "q301_span_strip_loaded" -> q301SpanStripLoaded _,
    "q52_group_sample"      -> q52GroupSample _,
    "q53_oov_rate"          -> q53OovRate _,
    "q59_pii_redact"        -> q59PiiRedact _,
    "q60_video_frames"      -> q60VideoFrames _,
    "q61_segment_dedup"     -> q61SegmentDedup _,
    "q63_video_frame_dups"  -> q63VideoFrameDups _,
    "q64_pii_sequential"    -> q64PiiSequential _,
    "q65_media_dups"        -> q65MediaDups _,
  )

  /** Shared URL-normalization oracle CTE chain (`u` → `n4`, carrying
    * doc_id, source, url and the canonical `uk`) — one spelling under
    * q178's key card and q185's split-leakage card, mirroring
    * [[graft.llm.Dedup.normalizeUrl]] step for step. */
  private def urlKeyCtes: String =
    s"""u AS (SELECT doc_id, source, $urlSynthSql AS url FROM documents),
       |n1 AS (SELECT doc_id, source, url,
       |    regexp_replace(url, '#.*$$', '') AS nf FROM u),
       |n2 AS (SELECT doc_id, source, url,
       |    lower(regexp_extract(nf, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
       |    regexp_replace(nf, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest
       |  FROM n1),
       |n3 AS (SELECT doc_id, source, url, scheme,
       |    regexp_replace(CASE
       |      WHEN scheme = 'http' THEN regexp_replace(hostraw, ':80$$', '')
       |      WHEN scheme = 'https' THEN regexp_replace(hostraw, ':443$$', '')
       |      ELSE hostraw END, '^www[.]', '') AS host,
       |    regexp_replace(rest, '^[^/?]*', '') AS pathq
       |  FROM (SELECT n2.*,
       |      lower(regexp_extract(rest, '^([^/?]*)', 1)) AS hostraw FROM n2) h),
       |n4 AS (SELECT doc_id, source, url, scheme || '://' || host ||
       |    regexp_replace(regexp_extract(pathq, '^([^?]*)', 1), '/+$$', '') ||
       |    CASE WHEN qn = '' THEN '' ELSE '?' || qn END AS uk
       |  FROM (SELECT n3.*, coalesce(array_to_string(list_sort(list_filter(
       |      string_split(regexp_extract(pathq, '[?](.*)$$', 1), '&'),
       |      p -> p <> '' AND NOT regexp_matches(p, '^(utm_|fbclid=|gclid=)'))),
       |      '&'), '') AS qn FROM n3) x)""".stripMargin

  /** Shared md5-13-gram oracle CTE chain (`t` → `g`) mirroring
    * [[md5GramFrame]] — one spelling under both the q179 overlap and
    * q181 novelty oracles. */
  private def gramCtes: String =
    s"""t AS (SELECT doc_id, source, $toksSql AS toks FROM documents),
       |g AS (SELECT doc_id, source, CASE WHEN len(toks) >= $ProbeGramN
       |    THEN list_distinct(list_transform(range(1, len(toks) - ${ProbeGramN - 2}),
       |      i -> md5(array_to_string(toks[i:i+${ProbeGramN - 1}], ' '))))
       |    ELSE [] END AS gs FROM t)""".stripMargin

  /** The q226 rule-distillation oracle — also bound to q270, whose
    * loaded-counts replay must stay byte-identical to q226. */
  private def q226Sql: String =
    s"""WITH $rulesCtes,
       |lbl AS (SELECT doc_id, CASE WHEN ($reasonsSql) = 0
       |    THEN 'keep' ELSE 'drop' END AS label FROM rr),
       |${nbCtesFor("spl.split = 'train'", "JOIN lbl USING (doc_id)",
           "lbl.label")},
       |pred AS (SELECT doc_id, lab AS label_pred FROM (
       |    SELECT doc_id, lab, row_number() OVER (PARTITION BY doc_id
       |      ORDER BY votes DESC, lab ASC) AS rn FROM votes) t2
       |  WHERE rn = 1)
       |SELECT lbl.label AS label_true,
       |  coalesce(p.label_pred,
       |    '${graft.llm.NbClassifier.NoEvidenceLabel}') AS label_pred,
       |  CAST(count(*) AS BIGINT) AS n_docs
       |FROM lbl JOIN spl USING (doc_id)
       |LEFT JOIN pred p USING (doc_id)
       |WHERE spl.split = 'test'
       |GROUP BY 1, 2""".stripMargin

  /** The q70 incremental-dedup oracle — also bound to q175, whose
    * loaded-index replay must stay byte-identical to q70. */
  private def q70Sql: String =
    """WITH nf AS (SELECT doc_id,
      |    md5(trim(regexp_replace(lower(nfc_normalize(coalesce(text, ''))), '\s+', ' ', 'g'))) AS fp
      |  FROM documents),
      |c AS (SELECT DISTINCT fp FROM nf WHERE doc_id % 10 != 0),
      |b0 AS (SELECT doc_id, fp FROM nf WHERE doc_id % 10 = 0
      |  UNION ALL
      |  SELECT doc_id + 1000000, fp FROM nf WHERE doc_id % 7 = 0 AND doc_id % 10 != 0
      |  UNION ALL
      |  SELECT doc_id + 2000000, fp FROM nf WHERE doc_id % 13 = 0 AND doc_id % 10 = 0),
      |b AS (SELECT doc_id, fp,
      |    row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn FROM b0)
      |SELECT b.doc_id, b.fp,
      |  CASE WHEN c.fp IS NOT NULL THEN 'dup_of_corpus'
      |       WHEN rn = 1 THEN 'new' ELSE 'dup_in_batch' END AS status
      |FROM b LEFT JOIN c ON b.fp = c.fp""".stripMargin

  /** The full q83 BM25 oracle — also composed into the q111 hybrid-
    * retrieval oracle (SimilarityQueries) so the fused ranking can
    * never drift from the BM25 it claims to fuse. */
  private[queries] def bm25Sql: String = {
    val vals = Bm25Queries.flatMap { case (l, ts) =>
      ts.distinct.map(w => s"('$l', '$w')")
    }.mkString(", ")
    s"""WITH q(query_id, w) AS (VALUES $vals),
       |dl AS (SELECT doc_id, CAST(len($toksSql) AS BIGINT) AS dl FROM documents),
       |st AS (SELECT greatest(CAST(count(*) AS BIGINT), 1) AS d,
       |    greatest(CAST(coalesce(sum(dl), 0) AS BIGINT), 1) AS tl FROM dl),
       |e AS (SELECT doc_id, unnest($toksSql) AS w FROM documents),
       |tf AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf FROM e
       |  WHERE w IN (SELECT w FROM q) GROUP BY doc_id, w),
       |dfs AS (SELECT w, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY w),
       |idf AS (SELECT w, CAST(length(bin(
       |    (st.d::HUGEINT * st.d * st.d * st.d)
       |    // (df::HUGEINT * df * df * df))) - 1 AS BIGINT) AS idf_q4
       |  FROM dfs, st),
       |nrm AS (SELECT doc_id, (dl * st.d * 10000) // st.tl AS norm_s FROM dl, st),
       |ts AS (SELECT tf.doc_id, tf.w, idf.idf_q4 *
       |    ((1000000 * 22 * tf.tf * 10000)
       |     // (10 * tf.tf * 10000 + 3 * 10000 + 9 * nrm.norm_s)) AS term_fp
       |  FROM tf JOIN idf USING (w) JOIN nrm USING (doc_id)),
       |sc AS (SELECT q.query_id, ts.doc_id, CAST(sum(ts.term_fp) AS BIGINT) AS score_fp
       |  FROM q JOIN ts USING (w) GROUP BY q.query_id, ts.doc_id),
       |r AS (SELECT query_id, doc_id, score_fp, row_number() OVER (
       |    PARTITION BY query_id ORDER BY score_fp DESC, doc_id ASC) AS rn FROM sc)
       |SELECT query_id, doc_id, score_fp, CAST(rn AS INTEGER) AS rn
       |FROM r WHERE rn <= $Bm25K""".stripMargin
  }

  /** DuckDB token expression mirroring TextAnalysis.tokens. */
  private[queries] val toksSql =
    "CASE WHEN length(trim(text)) = 0 THEN [] " +
      "ELSE string_split_regex(trim(text), '\\s+') END"

  /** The BPE training replay shared by the q88 and q99 oracles: word
    * frequencies, bracket-wrapped symbol strings, then one
    * (pair-count, argmax, corpus-wide replace) round per merge,
    * ending in `w$BpeMerges`. */
  private def bpeChainSql: String = bpeChainSqlFrom("documents")

  /** The unrolled BPE training rounds over `src`'s words — `src` is
    * any FROM-able relation carrying (doc_id, text); the q227
    * round-trip card trains on the split's train slice only. */
  private def bpeChainSqlFrom(src: String): String = {
    val rounds = (0 until BpeMerges).map { t =>
      s"""p${t + 1} AS (SELECT y[i] AS l, y[i + 1] AS r, sum(freq) AS c
         |  FROM (SELECT freq, string_split(s[2:len(s) - 1], '][') AS y FROM w$t) t$t,
         |    unnest(range(1, len(y))) AS u(i)
         |  GROUP BY 1, 2),
         |b${t + 1} AS (SELECT l, r FROM p${t + 1}
         |  ORDER BY c DESC, l ASC, r ASC LIMIT 1),
         |w${t + 1} AS (SELECT w, freq,
         |    CASE WHEN (SELECT count(*) FROM b${t + 1}) = 0 THEN s
         |      ELSE replace(s,
         |        '[' || (SELECT l FROM b${t + 1}) || '][' || (SELECT r FROM b${t + 1}) || ']',
         |        '[' || (SELECT l FROM b${t + 1}) || (SELECT r FROM b${t + 1}) || ']')
         |    END AS s FROM w$t)""".stripMargin
    }.mkString(",\n")
    s"""e AS (SELECT doc_id, unnest($toksSql) AS w FROM $src),
       |wf AS (SELECT w, CAST(count(*) AS BIGINT) AS freq FROM e GROUP BY w),
       |w0 AS (SELECT w, freq, array_to_string(
       |    list_transform(string_split(w, ''), c -> '[' || c || ']'), '') AS s
       |  FROM wf),
       |$rounds""".stripMargin
  }

  /** q227's oracle: the train-slice merge rounds ([[bpeChainSqlFrom]]),
    * the vocabulary-id CTE (the q137 spelling), the SAME unrolled
    * replace chain applied to every distinct held-out word, and the
    * id→symbol decode with its unknown accounting. */
  private def q227Sql: String = {
    val applyRounds = (0 until BpeMerges).map { t =>
      s"""x${t + 1} AS (SELECT source, w,
         |  CASE WHEN (SELECT count(*) FROM b${t + 1}) = 0 THEN s
         |    ELSE replace(s,
         |      '[' || (SELECT l FROM b${t + 1}) || '][' || (SELECT r FROM b${t + 1}) || ']',
         |      '[' || (SELECT l FROM b${t + 1}) || (SELECT r FROM b${t + 1}) || ']')
         |  END AS s FROM x$t)""".stripMargin
    }.mkString(",\n")
    s"""WITH spl AS (SELECT doc_id,
       |    CASE WHEN r < $ClsTrainPct THEN 'train'
       |         WHEN r < ${ClsTrainPct + ClsValPct} THEN 'val'
       |         ELSE 'test' END AS split
       |  FROM (SELECT doc_id,
       |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS r
       |    FROM documents) t),
       |${bpeChainSqlFrom("(SELECT d2.* FROM documents d2 " +
          "JOIN spl USING (doc_id) WHERE spl.split = 'train') trd")},
       |vx AS (SELECT unnest(string_split(s[2:len(s) - 1], '][')) AS sym, freq
       |  FROM w$BpeMerges),
       |vc AS (SELECT sym, CAST(sum(freq) AS BIGINT) AS n_occ FROM vx GROUP BY sym),
       |ids AS (SELECT sym, CAST(row_number() OVER (
       |  ORDER BY n_occ DESC, sym ASC) AS BIGINT) AS sym_id FROM vc),
       |tw AS (SELECT DISTINCT coalesce(d3.source, '(null)') AS source, w
       |  FROM (SELECT doc_id, source, unnest($toksSql) AS w FROM documents) d3
       |  JOIN spl USING (doc_id) WHERE spl.split = 'test'),
       |x0 AS (SELECT source, w, array_to_string(
       |    list_transform(string_split(w, ''), c -> '[' || c || ']'), '') AS s
       |  FROM tw),
       |$applyRounds,
       |sy AS (SELECT source, w, j, y[j::INT] AS sym FROM
       |  (SELECT source, w, string_split(s[2:len(s) - 1], '][') AS y
       |   FROM x$BpeMerges) z,
       |  unnest(range(1, len(y) + 1)) AS u(j)),
       |dj AS (SELECT sy.source, sy.w, sy.j, sy.sym, ids.sym_id
       |  FROM sy LEFT JOIN ids USING (sym)),
       |wd AS (SELECT source, w,
       |    CAST(count(*) FILTER (sym_id IS NULL) AS BIGINT) AS n_unknown,
       |    string_agg(CASE WHEN sym_id IS NOT NULL THEN sym END, ''
       |      ORDER BY j) AS dec
       |  FROM dj GROUP BY source, w)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum(CASE WHEN n_unknown = 0 AND dec = w THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_roundtrip_ok,
       |  CAST(sum(CASE WHEN n_unknown > 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_lossy,
       |  CAST(sum(CASE WHEN n_unknown > 0 THEN 1 ELSE 0 END) * 1000000
       |    // greatest(count(*), 1) AS BIGINT) AS loss_ppm
       |FROM wd GROUP BY source""".stripMargin
  }

  private def hitsSql(vocab: Seq[String]): String = {
    val lst = vocab.map(w => s"'$w'").mkString("[", ", ", "]")
    s"len(list_filter(toks, x -> list_contains($lst, x)))"
  }

  private val stopHitsSql = hitsSql(DefaultStopwords)

  /** floor(1e6 * hits/tokens) mirroring stopwordRatioFp. */
  private val stopFpSql =
    s"CASE WHEN len(toks) = 0 THEN 0 ELSE CAST(floor(CAST($stopHitsSql AS DOUBLE) " +
      "* 1000000.0 / CAST(len(toks) AS DOUBLE)) AS BIGINT) END"

  private val meanTokLenFpSql =
    "CASE WHEN len(toks) = 0 THEN 0 ELSE CAST(floor(CAST(" +
      "list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) * 100.0 " +
      "/ CAST(len(toks) AS DOUBLE)) AS BIGINT) END"

  private[queries] val qualityFpSql =
    "(CASE WHEN len(toks) BETWEEN 20 AND 1000 THEN 400000 " +
      "WHEN len(toks) >= 5 THEN 200000 ELSE 0 END " +
      s"+ CASE WHEN ($stopFpSql) BETWEEN 20000 AND 400000 THEN 400000 ELSE 100000 END " +
      "+ CASE WHEN length(text) >= 100 THEN 200000 ELSE 50000 END)"

  /** DuckDB replay of Fingerprint.{rollingHashes,winnow}: the 16-term
    * polynomial hash with embedded Base^k mod M literals (HUGEINT
    * intermediate — terms reach 2^69), then the rightmost-min
    * winnowing scan. Winnowing's selected positions are monotonically
    * non-decreasing, so deduping consecutive equal positions is
    * exactly the reference's lastPos check. */
  /** The winnowing CTE chain ending in `f(doc_id, fps)` — shared by
    * the fingerprint dump (q28) and decontamination (q45) oracles. */
  /** Byte stream + rolling-hash CTEs (`by` → `hsx`) shared by the
    * winnowing fingerprints (q28) and the CDC chunker (q234) — one
    * replay of the polynomial rolling hash, two consumers. */
  private val rollingCtes: String = {
    val W = graft.llm.Fingerprint.DefaultWindow
    val M = (1L << 61) - 1
    val Base = 1000003L
    def powMod(e: Int): Long = {
      var r = 1L; var i = 0
      while (i < e) { r = (BigInt(r) * Base % M).toLong; i += 1 }
      r
    }
    val terms = (0 until W)
      .map(j => s"CAST(${powMod(W - 1 - j)} AS HUGEINT) * b[i + ${j + 1}]")
      .mkString(" + ")
    s"""by AS (SELECT doc_id, hex(encode(coalesce(text, ''))) AS hx,
       |  octet_length(encode(coalesce(text, ''))) AS nb FROM documents),
       |bl AS (SELECT doc_id, nb,
       |  list_transform(range(0, nb), i -> ('0x' || substr(hx, 2*i::INT + 1, 2))::BIGINT) AS b
       |  FROM by),
       |hsx AS (SELECT doc_id, CASE WHEN nb < $W THEN CAST([] AS BIGINT[])
       |  ELSE list_transform(range(0, nb - ${W - 1}),
       |    i -> CAST(($terms) % $M AS BIGINT)) END AS hs FROM bl)""".stripMargin
  }

  private val fpsCtes: String = {
    val G = graft.llm.Fingerprint.DefaultGuarantee
    val psExpr =
      s"""list_transform(range(0, n - ${G - 1}),
         |  i -> i::BIGINT + $G - list_position(list_reverse(hs[i+1:i+$G]),
         |    list_min(hs[i+1:i+$G])) + 1)""".stripMargin
    s"""$rollingCtes,
       |nn AS (SELECT doc_id, hs, len(hs) AS n FROM hsx),
       |p AS (SELECT doc_id, hs, n,
       |  CASE WHEN n <= $G THEN CAST([] AS BIGINT[]) ELSE $psExpr END AS ps FROM nn),
       |f AS (SELECT doc_id,
       |  CASE WHEN n = 0 THEN CAST([] AS BIGINT[])
       |       WHEN n <= $G THEN [list_min(hs)]
       |       ELSE list_transform(
       |         list_filter(range(1, len(ps)::BIGINT + 1), k -> k = 1 OR ps[k::INT] != ps[k::INT - 1]),
       |         k -> hs[ps[k::INT]::INT]) END AS fps FROM p)""".stripMargin
  }

  /** CDC chunk CTEs (`c` → `ck`, over the shared [[rollingCtes]]):
    * cut predicate, span assembly, and the lowercased-hex md5 chunk
    * identity — ONE spelling under the q234 dedup card and the
    * q235/q236 admission oracles. */
  /** The divisor-parameterized tail of the CDC chunk replay (cut
    * filter → chunk assembly → md5 identity), CTE names suffixed so
    * the q248 sweep can instantiate several divisors over ONE shared
    * `$rollingCtes` hash frame. */
  private def cdcChainFor(divisor: Long, sfx: String): String = {
    val W = graft.llm.Fingerprint.DefaultWindow
    s"""c$sfx AS (SELECT h.doc_id, by.nb, by.hx,
       |    list_filter(list_transform(
       |      list_filter(range(1, len(hs)::BIGINT + 1),
       |        i -> hs[i::INT] % $divisor = 0),
       |      i -> i + ${W - 1}), e -> e < nb) AS cuts
       |  FROM hsx h JOIN by USING (doc_id) WHERE nb > 0),
       |e$sfx AS (SELECT doc_id, nb, hx,
       |    list_concat([CAST(1 AS BIGINT)],
       |      list_transform(cuts, c -> c + 1)) AS starts,
       |    list_concat(cuts, [CAST(nb AS BIGINT)]) AS ends
       |  FROM c$sfx),
       |ch$sfx AS (SELECT doc_id, hx, starts[i::INT] AS st, ends[i::INT] AS en
       |  FROM e$sfx, unnest(range(1, len(starts)::BIGINT + 1)) AS u(i)),
       |ck$sfx AS (SELECT doc_id, st, CAST(en - st + 1 AS BIGINT) AS len,
       |    md5(lower(substr(hx, (st::INT - 1) * 2 + 1,
       |      (en::INT - st::INT + 1) * 2))) AS ck
       |  FROM ch$sfx)""".stripMargin
  }

  /** q250/q251: q247's clean and perturbed dHash arms, q65's decoded
    * content-key spelling (and its perturbed pixel sum: clean sum +
    * the count of pixel-byte data indexes ≡ 0 mod PerturbStep — +1
    * never wraps, values ≤ 250), the store/arrival split and the two
    * identity probes per arrival kind. */
  private def q250Sql: String =
    s"""WITH imgs AS (SELECT doc_id, (doc_id % 64) + 1 AS w,
       |    ((doc_id * 7) % 48) + 1 AS h FROM documents WHERE doc_id % 2 = 0),
       |i2 AS (SELECT doc_id, w, h, ((w * 3 + 3) // 4) * 4 AS stride FROM imgs),
       |dd AS (SELECT DISTINCT w, h, stride FROM i2),
       |bpix AS (SELECT w, h,
       |    CAST(sum((r.v * stride + j.v) % 251) AS BIGINT) AS pix,
       |    CAST(sum(CASE WHEN (r.v * stride + j.v) % $PerturbStep = 0
       |      THEN 1 ELSE 0 END) AS BIGINT) AS ec
       |  FROM dd, unnest(range(0, h)) AS r(v), unnest(range(0, w * 3)) AS j(v)
       |  GROUP BY w, h),
       |grid AS (SELECT doc_id, w, h, stride, ty.v AS ty, tx.v AS tx
       |  FROM i2, unnest(range(0, 8)) ty(v), unnest(range(0, 9)) tx(v)),
       |smp AS (SELECT doc_id, ty, tx,
       |    (h - 1 - (ty * h // 8)) * stride + (tx * w // 9) * 3 AS o
       |  FROM grid),
       |g AS (SELECT doc_id, ty, tx,
       |    (o % 251) + ((o + 1) % 251) + ((o + 2) % 251) AS gray,
       |    (o % 251) + ((o + 1) % 251) + ((o + 2) % 251)
       |      + (CASE WHEN o % $PerturbStep = 0 THEN 1 ELSE 0 END)
       |      + (CASE WHEN (o + 1) % $PerturbStep = 0 THEN 1 ELSE 0 END)
       |      + (CASE WHEN (o + 2) % $PerturbStep = 0 THEN 1 ELSE 0 END)
       |      AS gray_p
       |  FROM smp),
       |b AS (SELECT a.doc_id, a.ty, a.tx,
       |    CASE WHEN a.gray > c.gray THEN '1' ELSE '0' END AS bit,
       |    CASE WHEN a.gray_p > c.gray_p THEN '1' ELSE '0' END AS bit_p
       |  FROM g a JOIN g c ON a.doc_id = c.doc_id AND a.ty = c.ty
       |    AND c.tx = a.tx + 1
       |  WHERE a.tx < 8),
       |hh AS (SELECT b.doc_id,
       |    string_agg(bit, '' ORDER BY ty, tx) AS hs,
       |    string_agg(bit_p, '' ORDER BY ty, tx) AS hp
       |  FROM b GROUP BY b.doc_id),
       |j AS (SELECT i2.doc_id, hs, hp,
       |    'image/bmp:' || i2.w || ':' || i2.h || ':' || (54 + stride * i2.h)
       |      || ':' || pix AS ck,
       |    'image/bmp:' || i2.w || ':' || i2.h || ':' || (54 + stride * i2.h)
       |      || ':' || (pix + ec) AS ck_p
       |  FROM i2 JOIN bpix USING (w, h) JOIN hh ON i2.doc_id = hh.doc_id),
       |kck AS (SELECT DISTINCT ck FROM j WHERE doc_id % 10 != 0),
       |khs AS (SELECT DISTINCT hs FROM j WHERE doc_id % 10 != 0),
       |arr AS (SELECT CASE WHEN doc_id % 20 = 0 THEN 'original'
       |      ELSE 'edited' END AS kind,
       |    CASE WHEN doc_id % 20 = 0 THEN ck ELSE ck_p END AS ck,
       |    CASE WHEN doc_id % 20 = 0 THEN hs ELSE hp END AS hs
       |  FROM j WHERE doc_id % 10 = 0),
       |pr AS (SELECT kind, arr.hs,
       |    kck.ck IS NOT NULL AS bk, khs.hs IS NOT NULL AS pk
       |  FROM arr LEFT JOIN kck ON arr.ck = kck.ck
       |  LEFT JOIN khs ON arr.hs = khs.hs)
       |SELECT kind, CAST(count(*) AS BIGINT) AS n_arrivals,
       |  CAST(sum(CASE WHEN hs != '' THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_decoded,
       |  CAST(sum(CASE WHEN bk THEN 1 ELSE 0 END) AS BIGINT) AS n_byte_known,
       |  CAST(sum(CASE WHEN pk THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_perceptual_known,
       |  CAST(sum(CASE WHEN pk THEN 1 ELSE 0 END)
       |    - sum(CASE WHEN bk THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_perceptual_extra,
       |  CAST(sum(CASE WHEN pk THEN 1 ELSE 0 END) * 1000000
       |    // greatest(count(*), 1) AS BIGINT) AS perceptual_ppm
       |FROM pr GROUP BY kind""".stripMargin

  /** q300/q301 replay: token + 1-based gram-start streams through the
    * shared md5 gram chain, the ≥2-occurrence blocklist over
    * `idxWhere`'s slice, [p, p+N) coverage windows, and the ordered
    * rejoin; `spineWhere` restricts the stripped/emitted docs. */
  private def spanStripSql(idxWhere: String, spineWhere: String): String = {
    val n = SpanStripGramN
    val p = graft.llm.MinHashLSH.P
    s"""WITH tk AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |sh AS (SELECT doc_id, CASE WHEN len(toks) >= $n
       |    THEN list_transform(range(1, len(toks) - ${n - 2}),
       |      i -> array_to_string(toks[i:i+${n - 1}], ' '))
       |    ELSE [] END AS sh FROM tk),
       |bs AS (SELECT doc_id, list_transform(sh,
       |    s -> ('0x' || substr(md5(s), 1, 15))::BIGINT % $p) AS bases
       |  FROM sh),
       |occ AS (SELECT doc_id, CAST(i AS BIGINT) AS p, bases[i] AS g
       |  FROM bs, unnest(range(1, len(bases) + 1)) AS u(i)),
       |dg AS (SELECT g FROM occ $idxWhere GROUP BY g
       |  HAVING count(*) >= ${graft.llm.Knobs.SpanMinOcc}),
       |cov AS (SELECT DISTINCT occ.doc_id, ux.x AS idx
       |  FROM occ JOIN dg USING (g), unnest(range(occ.p, occ.p + $n)) AS ux(x)),
       |ti AS (SELECT doc_id, CAST(i AS BIGINT) AS idx, toks[i] AS tok
       |  FROM tk, unnest(range(1, len(toks) + 1)) AS u(i) $spineWhere),
       |kept AS (SELECT ti.doc_id, ti.idx, ti.tok FROM ti
       |  LEFT JOIN cov ON ti.doc_id = cov.doc_id AND ti.idx = cov.idx
       |  WHERE cov.idx IS NULL),
       |rb AS (SELECT doc_id, count(*) AS n_kept,
       |    array_to_string(list(tok ORDER BY idx), ' ') AS clean_text
       |  FROM kept GROUP BY doc_id)
       |SELECT tk.doc_id, CAST(len(tk.toks) AS BIGINT) AS n_tok,
       |  CAST(len(tk.toks) - coalesce(rb.n_kept, 0) AS BIGINT) AS n_removed,
       |  coalesce(rb.clean_text, '') AS clean_text
       |FROM tk LEFT JOIN rb USING (doc_id) $spineWhere""".stripMargin
  }

  private def cdcCkCtes: String =
    s"""$rollingCtes,
       |${cdcChainFor(graft.llm.Fingerprint.CdcDivisor, "")}""".stripMargin

  /** q235/q236: the chunk CTEs split on the arrival convention, the
    * admission left join, and the every-arrival spine. */
  private def q235Sql: String =
    s"""WITH $cdcCkCtes,
       |ix AS (SELECT DISTINCT ck FROM ck WHERE doc_id % 10 != 0),
       |b AS (SELECT ck.doc_id, ck.len, ix.ck IS NOT NULL AS known
       |  FROM ck LEFT JOIN ix USING (ck) WHERE ck.doc_id % 10 = 0),
       |per AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nc,
       |    CAST(sum(CASE WHEN known THEN 0 ELSE 1 END) AS BIGINT) AS nn,
       |    CAST(sum(len) AS BIGINT) AS tb,
       |    CAST(sum(CASE WHEN known THEN 0 ELSE len END) AS BIGINT) AS nvb
       |  FROM b GROUP BY doc_id)
       |SELECT d.doc_id,
       |  CAST(coalesce(per.nc, 0) AS BIGINT) AS n_chunks,
       |  CAST(coalesce(per.nn, 0) AS BIGINT) AS n_novel_chunks,
       |  CAST(coalesce(per.tb, 0) AS BIGINT) AS total_bytes,
       |  CAST(coalesce(per.nvb, 0) AS BIGINT) AS novel_bytes,
       |  CAST(CAST(coalesce(per.nvb, 0) AS HUGEINT) * 1000000
       |    // greatest(coalesce(per.tb, 0), 1) AS BIGINT) AS novel_ppm
       |FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 0) d
       |LEFT JOIN per USING (doc_id)""".stripMargin

  private val q28Sql: String =
    s"""WITH $fpsCtes
       |SELECT doc_id, CAST(len(fps) AS BIGINT) AS n_fps,
       |  CAST(coalesce(list_aggregate(fps, 'bit_xor'), 0) AS BIGINT) AS fp_xor,
       |  CAST(CASE WHEN len(fps) = 0 THEN 0 ELSE 1000000 END AS BIGINT) AS self_containment_fp
       |FROM f""".stripMargin

  /** DuckDB replay of SimHash.{fnv1a64,simhash64} + the band/bucket
    * pair generation. FNV-1a is a per-byte fold — expressed with
    * list_reduce over HUGEINT state (h < 2^64, prime 0x100000001b3 is
    * 40 bits, so h·prime < 2^104 fits int128); the xor touches only
    * the low 32 bits (bytes < 256), so it runs on a BIGINT-cast slice
    * of the state. Bit 63 of the final simhash maps to the sign bit of
    * the BIGINT Spark produces. */
  private[queries] val q31Sql: String = {
    val fnvSql =
      """list_reduce(
        |  list_concat([CAST('14695981039346656037' AS HUGEINT)],
        |    list_transform(range(0, octet_length(encode(w))),
        |      i -> ('0x' || substr(hex(encode(w)), 2*i::INT + 1, 2))::BIGINT::HUGEINT)),
        |  (h, b) -> ((h // 4294967296) * 4294967296
        |    + CAST(xor(CAST(h % 4294967296 AS BIGINT), CAST(b AS BIGINT)) AS HUGEINT))
        |    * 1099511628211 % CAST('18446744073709551616' AS HUGEINT))""".stripMargin
    // BigInt: bit 63's divisor is 2^63, which overflows a Long literal
    val sums = (0 until 64).map { j =>
      s"sum(CASE WHEN (h // CAST('${BigInt(1) << j}' AS HUGEINT) % 2) = 1 THEN 1 ELSE -1 END) AS s$j"
    }.mkString(", ")
    val valLo = (0 until 63)
      .map(j => s"(CASE WHEN s$j > 0 THEN CAST('${1L << j}' AS BIGINT) ELSE 0 END)")
      .mkString(" + ")
    val value =
      s"($valLo) + (CASE WHEN s63 > 0 THEN CAST('-9223372036854775808' AS BIGINT) ELSE 0 END)"
    // unsigned view of the signed fingerprint, for band extraction
    val uh = "CASE WHEN sh < 0 THEN sh::HUGEINT + CAST('18446744073709551616' AS HUGEINT) " +
      "ELSE sh::HUGEINT END"
    s"""WITH tk AS (SELECT doc_id, unnest($toksSql) AS w FROM documents),
       |h AS (SELECT doc_id, $fnvSql AS h FROM tk),
       |agg AS (SELECT doc_id, $sums FROM h GROUP BY doc_id),
       |sh AS (SELECT d.doc_id, coalesce($value, 0) AS sh
       |  FROM documents d LEFT JOIN agg USING (doc_id)),
       |bands AS (SELECT doc_id, sh, b AS band_id,
       |  CAST(($uh // CAST(2**(16*b) AS HUGEINT)) % 65536 AS BIGINT) AS band_val
       |  FROM sh, unnest(range(0, 4)) AS u(b))
       |SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b,
       |  CAST(bit_count(xor(a.sh, c.sh)) AS INTEGER) AS hamming
       |FROM bands a JOIN bands c
       |  ON a.band_id = c.band_id AND a.band_val = c.band_val AND a.doc_id < c.doc_id
       |WHERE bit_count(xor(a.sh, c.sh)) <= 12""".stripMargin
  }

  private val langCaseSql = {
    val hits = TextAnalysis.LangProfiles.map { case (l, ws) => l -> hitsSql(ws) }
    // cascade: profile k fires iff its hits >= every later profile's
    // and > 0 — equivalent to first-profile-with-max (see q19 spec)
    val branches = hits.zipWithIndex.map { case ((l, h), i) =>
      val laterGe = hits.drop(i + 1).map { case (_, h2) => s"$h >= $h2" }
      val conds = laterGe :+ s"$h > 0"
      s"WHEN ${conds.mkString(" AND ")} THEN '$l'"
    }
    s"CASE ${branches.mkString(" ")} ELSE 'und' END"
  }

  // Rule-filter CTE chain shared by q69 and the data card (q73): null
  // text coalesced to empty, every per-doc signal (tokens, mean token
  // length, stopword ratio, 3-gram repetition, digit share, quality,
  // normalized fingerprint) computed once, ending in per-doc frame
  // `rr` carrying lang for downstream aggregation.
  private[queries] val rulesCtes: String =
    s"""d AS (SELECT doc_id, lang, coalesce(text, '') AS text FROM documents),
       |t AS (SELECT doc_id, lang, text, $toksSql AS toks FROM d),
       |s AS (SELECT doc_id, lang,
       |  CAST(len(toks) AS BIGINT) AS n_tok,
       |  $meanTokLenFpSql AS mean_fp,
       |  $stopFpSql AS stop_fp,
       |  CASE WHEN len(toks) >= 3
       |    THEN list_transform(range(1, len(toks) - 1),
       |      i -> array_to_string(toks[i:i+2], ' '))
       |    ELSE [] END AS g3,
       |  CASE WHEN length(text) = 0 THEN 0
       |    ELSE CAST(floor(1000000.0 *
       |      CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
       |      / CAST(length(text) AS DOUBLE)) AS BIGINT) END AS digit_fp,
       |  $qualityFpSql AS quality_fp,
       |  md5(trim(regexp_replace(lower(nfc_normalize(text)), '\\s+', ' ', 'g'))) AS fp
       | FROM t),
       |rr AS (SELECT doc_id, lang, n_tok, mean_fp, stop_fp, digit_fp, quality_fp, fp,
       |  CASE WHEN len(g3) = 0 THEN 0
       |    ELSE CAST(floor(1000000.0 *
       |      CAST(len(g3) - len(list_distinct(g3)) AS DOUBLE)
       |      / CAST(len(g3) AS DOUBLE)) AS BIGINT) END AS dup3_fp FROM s)""".stripMargin

  /** The reasons bitmask over `rr`'s columns — spelled once so q69's
    * two uses (mask + kept) and q73's keep-count cannot drift. */
  private[queries] val reasonsSql: String =
    s"""(CASE WHEN n_tok < $RuleMinTokens THEN 1 ELSE 0 END)
       |    + (CASE WHEN n_tok > $RuleMaxTokens THEN 2 ELSE 0 END)
       |    + (CASE WHEN mean_fp < $RuleMinMeanTokLenFp
       |         OR mean_fp > $RuleMaxMeanTokLenFp THEN 4 ELSE 0 END)
       |    + (CASE WHEN stop_fp < $RuleMinStopFp THEN 8 ELSE 0 END)
       |    + (CASE WHEN dup3_fp > $RuleMaxDup3gramFp THEN 16 ELSE 0 END)
       |    + (CASE WHEN digit_fp > $RuleMaxDigitFp THEN 32 ELSE 0 END)""".stripMargin

  private val q69Sql: String =
    s"""WITH $rulesCtes
       |SELECT doc_id, n_tok,
       |  CAST($reasonsSql AS BIGINT) AS reasons,
       |  $reasonsSql = 0 AS kept
       |FROM rr""".stripMargin

  private val q73Sql: String =
    s"""WITH $rulesCtes
       |SELECT lang,
       |  count(*) AS n_docs,
       |  CAST(sum(CASE WHEN $reasonsSql = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  CAST(count(DISTINCT fp) AS BIGINT) AS n_norm_unique,
       |  CAST(sum(n_tok) AS BIGINT) AS sum_tokens,
       |  CAST(sum(quality_fp) // count(*) AS BIGINT) AS mean_quality_fp
       |FROM rr GROUP BY lang""".stripMargin

  // The funnel composes three proven fragments: the rule CTE chain
  // (rr carries lang, fp, and every mask input), q45's contamination
  // set, and the lowest-id fingerprint survivor window — with the
  // verdict priority spelled once in a CASE.
  private def q76Sql: String =
    s"""WITH $rulesCtes,
       |cont AS (SELECT doc_id FROM ($q45Sql) z),
       |sv AS (SELECT doc_id,
       |    row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn FROM rr),
       |v AS (SELECT rr.lang,
       |  CASE WHEN cont.doc_id IS NOT NULL THEN 'contaminated'
       |       WHEN sv.rn > 1 THEN 'duplicate'
       |       WHEN ($reasonsSql) != 0 THEN 'rule_dropped'
       |       ELSE 'kept' END AS verdict
       |  FROM rr JOIN sv ON rr.doc_id = sv.doc_id
       |  LEFT JOIN cont ON rr.doc_id = cont.doc_id)
       |SELECT lang, count(*) AS n_docs,
       |  CAST(sum(CASE WHEN verdict = 'contaminated' THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_contaminated,
       |  CAST(sum(CASE WHEN verdict = 'duplicate' THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_duplicate,
       |  CAST(sum(CASE WHEN verdict = 'rule_dropped' THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_rule_dropped,
       |  CAST(sum(CASE WHEN verdict = 'kept' THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
       |FROM v GROUP BY lang""".stripMargin

  // q45's containment replay, shared verbatim by q68 (whose Bloom
  // prefilter must not change a single byte of output).
  private val q45Sql: String =
    s"""WITH $fpsCtes,
       |fd AS (SELECT doc_id, list_distinct(fps) AS fps FROM f),
       |ev AS (SELECT DISTINCT unnest(fps) AS fp FROM fd WHERE doc_id % 50 = 0),
       |tr AS (SELECT doc_id, CAST(len(fps) AS BIGINT) AS n_fps, unnest(fps) AS fp
       |  FROM fd WHERE doc_id % 50 != 0),
       |sh AS (SELECT tr.doc_id, max(tr.n_fps) AS n_fps, count(*) AS n_shared
       |  FROM tr JOIN ev ON tr.fp = ev.fp GROUP BY tr.doc_id)
       |SELECT doc_id, n_fps, CAST(n_shared AS BIGINT) AS n_shared,
       |  CAST(floor(1000000.0 * CAST(n_shared AS DOUBLE) / CAST(n_fps AS DOUBLE)) AS BIGINT)
       |    AS contamination_fp
       |FROM sh""".stripMargin

  /** The q137 encode oracle — training replayed through the chain
    * CTE, then each word looked up in the final training table and
    * reassembled in reading order. Shared verbatim by q157 (encode
    * through the saved-then-loaded artifact): persistence must not
    * change one byte of the result. */
  private def bpeEncodeSql: String =
    s"""WITH $bpeChainSql,
       |vx AS (SELECT unnest(string_split(s[2:len(s) - 1], '][')) AS sym, freq
       |  FROM w$BpeMerges),
       |vc AS (SELECT sym, CAST(sum(freq) AS BIGINT) AS n_occ FROM vx GROUP BY sym),
       |ids AS (SELECT sym, CAST(row_number() OVER (
       |  ORDER BY n_occ DESC, sym ASC) AS BIGINT) AS sym_id FROM vc),
       |tk AS (SELECT doc_id, i, toks[i::INT] AS w FROM
       |  (SELECT doc_id, $toksSql AS toks FROM documents) x,
       |  unnest(range(1, len(toks) + 1)) AS u(i)),
       |sy AS (SELECT doc_id, i, j, y[j::INT] AS sym FROM
       |  (SELECT tk.doc_id, tk.i, string_split(s[2:len(s) - 1], '][') AS y
       |   FROM tk JOIN w$BpeMerges USING (w)) z,
       |  unnest(range(1, len(y) + 1)) AS u(j)),
       |agg AS (SELECT doc_id,
       |    string_agg(CAST(sym_id AS VARCHAR), ' ' ORDER BY i, j) AS token_ids,
       |    CAST(count(*) AS BIGINT) AS n_bpe_tokens
       |  FROM sy JOIN ids USING (sym) GROUP BY doc_id)
       |SELECT d.doc_id, coalesce(agg.token_ids, '') AS token_ids,
       |  coalesce(agg.n_bpe_tokens, 0) AS n_bpe_tokens
       |FROM documents d LEFT JOIN agg USING (doc_id)""".stripMargin

  // q195/q196 (identical semantics — q196 serves the SAME counts from
  // the artifact catalog): train counts, smoothed fixed-point winner
  // per token type (HUGEINT product, floor division), smoothing
  // default for unseen types, per-doc majority vote, confusion matrix
  // everything through the per-(doc, class) vote rollup — ONE
  // spelling shared by the confusion (q195/q196) and calibration
  // (q209) oracles
  private def nbCtesFor(trainCond: String,
      labelJoin: String = "JOIN documents d USING (doc_id)",
      labelExpr: String = "d.lang"): String = {
    val scale = graft.llm.NbClassifier.ScaleFp
    s"""spl AS (SELECT doc_id,
       |    CASE WHEN r < $ClsTrainPct THEN 'train'
       |         WHEN r < ${ClsTrainPct + ClsValPct} THEN 'val'
       |         ELSE 'test' END AS split
       |  FROM (SELECT doc_id,
       |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS r
       |    FROM documents) t),
       |e AS (SELECT doc_id, unnest($toksSql) AS w FROM documents),
       |tr AS (SELECT $labelExpr AS label, e.w
       |  FROM e $labelJoin JOIN spl USING (doc_id)
       |  WHERE $trainCond),
       |cnt AS (SELECT label, w, CAST(count(*) AS BIGINT) AS cnt
       |  FROM tr GROUP BY 1, 2),
       |tot AS (SELECT label, CAST(sum(cnt) AS BIGINT) AS tot FROM cnt GROUP BY 1),
       |voc AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS v FROM cnt),
       |cells AS (SELECT dw.w, tot.label,
       |    CAST((CAST(coalesce(c.cnt, 0) + 1 AS HUGEINT) * $scale)
       |      // (tot.tot + (SELECT v FROM voc)) AS BIGINT) AS score_fp
       |  FROM (SELECT DISTINCT w FROM cnt) dw CROSS JOIN tot
       |  LEFT JOIN cnt c ON c.w = dw.w AND c.label = tot.label),
       |win AS (SELECT w, label AS label_pred FROM (
       |    SELECT w, label, row_number() OVER (PARTITION BY w
       |      ORDER BY score_fp DESC, label ASC) AS rn FROM cells) t
       |  WHERE rn = 1),
       |dflt AS (SELECT label AS label_dflt FROM (
       |    SELECT label, row_number() OVER (ORDER BY
       |      CAST((CAST(1 AS HUGEINT) * $scale)
       |        // (tot + (SELECT v FROM voc)) AS BIGINT) DESC,
       |      label ASC) AS rn FROM tot) t
       |  WHERE rn = 1),
       |tf AS (SELECT e.doc_id, e.w, CAST(count(*) AS BIGINT) AS tf
       |  FROM e JOIN spl USING (doc_id) WHERE spl.split = 'test'
       |  GROUP BY 1, 2),
       |votes AS (SELECT tf.doc_id,
       |    coalesce(win.label_pred, (SELECT label_dflt FROM dflt)) AS lab,
       |    CAST(sum(tf.tf) AS BIGINT) AS votes
       |  FROM tf LEFT JOIN win ON tf.w = win.w GROUP BY 1, 2)""".stripMargin
  }

  private val nbCtes = nbCtesFor("spl.split = 'train'")

  /** The q302/q303 oracle: both labelers replayed (q19's CASE chain,
    * q195's vote CTEs) into a (lab_a, lab_b) pair frame — lumped into
    * the pinned [[KappaClasses]]+(other) for the monitor spelling —
    * then the exact kappa arithmetic: cells → null-safe marginal
    * join → HUGEINT chance product → signed floor-ppm ratio with the
    * same symmetric-truncation CASE as the Spark side. */
  private def kappaOracleSql(lump: Boolean): String = {
    val inList = KappaClasses.map(c => s"'$c'").mkString(", ")
    val other = graft.llm.LabelQa.OtherLabel
    val pairSrc =
      if (!lump) "kpair"
      else s"""(SELECT
         |    CASE WHEN lab_a IN ($inList) THEN lab_a
         |      ELSE '$other' END AS lab_a,
         |    CASE WHEN lab_b IN ($inList) THEN lab_b
         |      ELSE '$other' END AS lab_b
         |  FROM kpair)""".stripMargin
    s"""WITH $nbCtes,
       |pred AS (SELECT doc_id, lab AS label_pred FROM (
       |    SELECT doc_id, lab, row_number() OVER (PARTITION BY doc_id
       |      ORDER BY votes DESC, lab ASC) AS rn FROM votes) t
       |  WHERE rn = 1),
       |kpair AS (SELECT d.doc_id, $langCaseSql AS lab_a,
       |    coalesce(p.label_pred,
       |      '${graft.llm.NbClassifier.NoEvidenceLabel}') AS lab_b
       |  FROM (SELECT doc_id, $toksSql AS toks FROM documents) d
       |  JOIN spl USING (doc_id) LEFT JOIN pred p USING (doc_id)
       |  WHERE spl.split = 'test'),
       |kc AS (SELECT lab_a, lab_b, CAST(count(*) AS BIGINT) AS n
       |  FROM $pairSrc GROUP BY 1, 2),
       |kna AS (SELECT lab_a AS lab, CAST(sum(n) AS BIGINT) AS na
       |  FROM kc GROUP BY 1),
       |knb AS (SELECT lab_b AS lab, CAST(sum(n) AS BIGINT) AS nb
       |  FROM kc GROUP BY 1),
       |kmarg AS (SELECT
       |    CAST(coalesce(sum(CAST(coalesce(na, 0) AS HUGEINT)
       |      * coalesce(nb, 0)), 0) AS HUGEINT) AS pe_sum,
       |    CAST(count(na) AS BIGINT) AS n_classes_a,
       |    CAST(count(nb) AS BIGINT) AS n_classes_b
       |  FROM kna FULL OUTER JOIN knb
       |    ON kna.lab IS NOT DISTINCT FROM knb.lab),
       |ktot AS (SELECT CAST(sum(n) AS BIGINT) AS n_items,
       |    CAST(coalesce(sum(CASE WHEN lab_a = lab_b THEN n ELSE 0 END),
       |      0) AS BIGINT) AS n_agree
       |  FROM kc)
       |SELECT n_items, n_agree,
       |  CAST(CAST(n_agree AS HUGEINT) * 1000000
       |    // greatest(n_items, 1) AS BIGINT) AS po_ppm,
       |  CAST(pe_sum AS BIGINT) AS pe_sum,
       |  CAST(pe_sum * 1000000 // greatest(CAST(n_items AS HUGEINT)
       |    * n_items, 1) AS BIGINT) AS pe_ppm,
       |  CAST(CASE
       |    WHEN CAST(n_agree AS HUGEINT) * n_items - pe_sum >= 0
       |    THEN (CAST(n_agree AS HUGEINT) * n_items - pe_sum) * 1000000
       |      // greatest(CAST(n_items AS HUGEINT) * n_items - pe_sum, 1)
       |    ELSE -((pe_sum - CAST(n_agree AS HUGEINT) * n_items) * 1000000
       |      // greatest(CAST(n_items AS HUGEINT) * n_items - pe_sum, 1))
       |    END AS BIGINT) AS kappa_ppm,
       |  n_classes_a, n_classes_b
       |FROM ktot, kmarg""".stripMargin
  }

  /** The q308/q309 three-rater long frame: corpus tag + langId +
    * NB prediction over the test slice (replays labelerRatings). */
  private val ratingsCtes =
    s"""$nbCtes,
       |pred AS (SELECT doc_id, lab AS label_pred FROM (
       |    SELECT doc_id, lab, row_number() OVER (PARTITION BY doc_id
       |      ORDER BY votes DESC, lab ASC) AS rn FROM votes) t
       |  WHERE rn = 1),
       |rat AS (
       |  SELECT d.doc_id, 'lang' AS rater, d.lang AS lab
       |  FROM documents d JOIN spl USING (doc_id)
       |  WHERE spl.split = 'test'
       |  UNION ALL
       |  SELECT d.doc_id, 'langid' AS rater, $langCaseSql AS lab
       |  FROM (SELECT doc_id, $toksSql AS toks FROM documents) d
       |  JOIN spl USING (doc_id) WHERE spl.split = 'test'
       |  UNION ALL
       |  SELECT d.doc_id, 'nb' AS rater, coalesce(p.label_pred,
       |      '${graft.llm.NbClassifier.NoEvidenceLabel}') AS lab
       |  FROM documents d JOIN spl USING (doc_id)
       |  LEFT JOIN pred p USING (doc_id) WHERE spl.split = 'test')"""
      .stripMargin

  private val fleissOracleSql =
    s"""WITH $ratingsCtes,
       |fnic AS (SELECT doc_id, lab, CAST(count(*) AS BIGINT) AS c
       |  FROM rat GROUP BY 1, 2),
       |fper AS (SELECT doc_id, sum(c) AS ki, sum(c * c) AS ai
       |  FROM fnic GROUP BY 1),
       |fglob AS (SELECT CAST(count(*) AS BIGINT) AS n_items,
       |    CAST(coalesce(max(ki), 0) AS BIGINT) AS n_raters,
       |    CAST(coalesce(sum(CASE WHEN ki <> (SELECT max(ki) FROM fper)
       |      THEN 1 ELSE 0 END), 0) AS BIGINT) AS unbalanced_items,
       |    CAST(coalesce(sum(ki), 0) AS HUGEINT) AS t,
       |    CAST(coalesce(sum(ai), 0) AS HUGEINT) AS a,
       |    CAST(coalesce(sum(ki * (ki - 1)), 0) AS HUGEINT) AS p
       |  FROM fper),
       |fm AS (SELECT CAST(coalesce(sum(m * m), 0) AS HUGEINT) AS m2,
       |    CAST(count(*) AS BIGINT) AS n_classes
       |  FROM (SELECT lab, CAST(sum(c) AS HUGEINT) AS m
       |    FROM fnic GROUP BY 1) x)
       |SELECT n_items, n_raters, n_classes, unbalanced_items,
       |  CAST((a - t) * 1000000 // greatest(p, 1) AS BIGINT) AS po_ppm,
       |  CAST(m2 * 1000000 // greatest(t * t, 1) AS BIGINT) AS pe_ppm,
       |  CAST(CASE WHEN (a - t) * t * t - m2 * p >= 0
       |    THEN ((a - t) * t * t - m2 * p) * 1000000
       |      // greatest(p * (t * t - m2), 1)
       |    ELSE -((m2 * p - (a - t) * t * t) * 1000000
       |      // greatest(p * (t * t - m2), 1))
       |    END AS BIGINT) AS kappa_ppm
       |FROM fglob, fm""".stripMargin

  /** The q316/q318 alpha arithmetic over an `arat(doc_id, lab)`
    * relation — ONE spelling of the lcm-scaled coincidence tail, so
    * the card and the monitor oracles cannot drift. */
  private def alphaSqlOver(aratCte: String): String = {
    // lcm(1 .. AlphaMaxRaters - 1) — the card's integer weight scale
    val l = (1 until AlphaMaxRaters).map(BigInt(_))
      .reduce((a, b) => a * b / a.gcd(b))
    s"""WITH $ratingsCtes,
       |arat AS ($aratCte),
       |anic AS (SELECT doc_id, lab, CAST(count(*) AS BIGINT) AS c
       |  FROM arat GROUP BY 1, 2),
       |aper AS (SELECT doc_id, sum(c) AS ki, sum(c * c) AS ai
       |  FROM anic GROUP BY 1),
       |apair AS (SELECT * FROM aper WHERE ki >= 2),
       |aglob AS (SELECT
       |    (SELECT CAST(count(*) AS BIGINT) FROM aper) AS n_items,
       |    CAST(count(*) AS BIGINT) AS n_pairable,
       |    CAST(coalesce(sum(ki), 0) AS HUGEINT) AS t,
       |    CAST(coalesce(sum((ki * ki - ai) * ($l // (ki - 1))), 0)
       |      AS HUGEINT) AS don
       |  FROM apair),
       |amarg AS (SELECT CAST(coalesce(sum(m * m), 0) AS HUGEINT) AS m2,
       |    CAST(count(*) AS BIGINT) AS n_classes
       |  FROM (SELECT lab, CAST(sum(c) AS HUGEINT) AS m FROM anic
       |    JOIN apair USING (doc_id) GROUP BY lab) x)
       |SELECT n_items, n_pairable, n_classes,
       |  CAST(don * 1000000 // greatest($l * t, 1) AS BIGINT) AS do_ppm,
       |  CAST((t * t - m2) * 1000000 // greatest(t * (t - 1), 1)
       |    AS BIGINT) AS de_ppm,
       |  CAST(CASE WHEN $l * (t * t - m2) - don * (t - 1) >= 0
       |    THEN ($l * (t * t - m2) - don * (t - 1)) * 1000000
       |      // greatest($l * (t * t - m2), 1)
       |    ELSE -((don * (t - 1) - $l * (t * t - m2)) * 1000000
       |      // greatest($l * (t * t - m2), 1))
       |    END AS BIGINT) AS alpha_ppm
       |FROM aglob, amarg""".stripMargin
  }

  private val alphaOracleSql = alphaSqlOver(
    s"""SELECT doc_id, lab FROM rat
       |  WHERE NOT (rater = 'nb' AND doc_id % $AlphaMissingMod = 1)"""
      .stripMargin)

  private val alphaMonitorOracleSql = {
    val inList = KappaClasses.map(c => s"'$c'").mkString(", ")
    alphaSqlOver(
      s"""SELECT doc_id, CASE WHEN lab IN ($inList) THEN lab
         |    ELSE '${graft.llm.LabelQa.OtherLabel}' END AS lab
         |  FROM rat
         |  WHERE NOT (rater = 'nb' AND doc_id % $AlphaMissingMod = 1)"""
        .stripMargin)
  }

  private val raterAccuracyOracleSql =
    s"""WITH $ratingsCtes,
       |tru AS (SELECT d.doc_id, d.lang AS tru FROM documents d
       |  JOIN spl USING (doc_id) WHERE spl.split = 'test'),
       |pc AS (SELECT r.rater, r.lab, t.tru, CAST(count(*) AS BIGINT) AS n
       |  FROM rat r JOIN tru t USING (doc_id) GROUP BY 1, 2, 3),
       |ana AS (SELECT rater, lab AS l, CAST(sum(n) AS BIGINT) AS na
       |  FROM pc GROUP BY 1, 2),
       |anb AS (SELECT rater, tru AS l, CAST(sum(n) AS BIGINT) AS nb
       |  FROM pc GROUP BY 1, 2),
       |am AS (SELECT coalesce(x.rater, y.rater) AS rater,
       |    CAST(coalesce(sum(CAST(coalesce(na, 0) AS HUGEINT)
       |      * coalesce(nb, 0)), 0) AS HUGEINT) AS pe_sum
       |  FROM ana x FULL OUTER JOIN anb y
       |    ON x.rater = y.rater AND x.l IS NOT DISTINCT FROM y.l
       |  GROUP BY 1),
       |at AS (SELECT rater, CAST(sum(n) AS BIGINT) AS n_items,
       |    CAST(coalesce(sum(CASE WHEN lab IS NOT DISTINCT FROM tru
       |      THEN n ELSE 0 END), 0) AS BIGINT) AS n_correct
       |  FROM pc GROUP BY 1)
       |SELECT at.rater, at.n_items, at.n_correct,
       |  CAST(CAST(n_correct AS HUGEINT) * 1000000
       |    // greatest(n_items, 1) AS BIGINT) AS accuracy_ppm,
       |  CAST(pe_sum AS BIGINT) AS pe_sum,
       |  CAST(pe_sum * 1000000 // greatest(CAST(n_items AS HUGEINT)
       |    * n_items, 1) AS BIGINT) AS pe_ppm,
       |  CAST(CASE
       |    WHEN CAST(n_correct AS HUGEINT) * n_items - pe_sum >= 0
       |    THEN (CAST(n_correct AS HUGEINT) * n_items - pe_sum) * 1000000
       |      // greatest(CAST(n_items AS HUGEINT) * n_items - pe_sum, 1)
       |    ELSE -((pe_sum - CAST(n_correct AS HUGEINT) * n_items) * 1000000
       |      // greatest(CAST(n_items AS HUGEINT) * n_items - pe_sum, 1))
       |    END AS BIGINT) AS kappa_vs_truth_ppm
       |FROM at JOIN am USING (rater)""".stripMargin

  private val kappaMatrixOracleSql =
    s"""WITH $ratingsCtes,
       |mc AS (SELECT a.rater AS rater_a, b.rater AS rater_b,
       |    a.lab AS la, b.lab AS lb, CAST(count(*) AS BIGINT) AS n
       |  FROM rat a JOIN rat b
       |    ON a.doc_id = b.doc_id AND a.rater < b.rater
       |  GROUP BY 1, 2, 3, 4),
       |mna AS (SELECT rater_a, rater_b, la AS lab,
       |    CAST(sum(n) AS BIGINT) AS na FROM mc GROUP BY 1, 2, 3),
       |mnb AS (SELECT rater_a, rater_b, lb AS lab,
       |    CAST(sum(n) AS BIGINT) AS nb FROM mc GROUP BY 1, 2, 3),
       |mmarg AS (SELECT coalesce(x.rater_a, y.rater_a) AS rater_a,
       |    coalesce(x.rater_b, y.rater_b) AS rater_b,
       |    CAST(coalesce(sum(CAST(coalesce(na, 0) AS HUGEINT)
       |      * coalesce(nb, 0)), 0) AS HUGEINT) AS pe_sum
       |  FROM mna x FULL OUTER JOIN mnb y
       |    ON x.rater_a = y.rater_a AND x.rater_b = y.rater_b
       |      AND x.lab IS NOT DISTINCT FROM y.lab
       |  GROUP BY 1, 2),
       |mtot AS (SELECT rater_a, rater_b,
       |    CAST(sum(n) AS BIGINT) AS n_items,
       |    CAST(coalesce(sum(CASE WHEN la IS NOT DISTINCT FROM lb
       |      THEN n ELSE 0 END), 0) AS BIGINT) AS n_agree
       |  FROM mc GROUP BY 1, 2)
       |SELECT t.rater_a, t.rater_b, t.n_items, t.n_agree,
       |  CAST(CAST(n_agree AS HUGEINT) * 1000000
       |    // greatest(n_items, 1) AS BIGINT) AS po_ppm,
       |  CAST(pe_sum AS BIGINT) AS pe_sum,
       |  CAST(pe_sum * 1000000 // greatest(CAST(n_items AS HUGEINT)
       |    * n_items, 1) AS BIGINT) AS pe_ppm,
       |  CAST(CASE
       |    WHEN CAST(n_agree AS HUGEINT) * n_items - pe_sum >= 0
       |    THEN (CAST(n_agree AS HUGEINT) * n_items - pe_sum) * 1000000
       |      // greatest(CAST(n_items AS HUGEINT) * n_items - pe_sum, 1)
       |    ELSE -((pe_sum - CAST(n_agree AS HUGEINT) * n_items) * 1000000
       |      // greatest(CAST(n_items AS HUGEINT) * n_items - pe_sum, 1))
       |    END AS BIGINT) AS kappa_ppm
       |FROM mtot t JOIN mmarg m
       |  ON t.rater_a = m.rater_a AND t.rater_b = m.rater_b"""
      .stripMargin

  private val spanSweepOracleSql = {
    val p = graft.llm.MinHashLSH.P
    val minOccList = SpanSweepMinOccs.mkString(", ")
    def block(n: Int): String =
      s"""sh$n AS (SELECT doc_id, CASE WHEN len(toks) >= $n
         |    THEN list_transform(range(1, len(toks) - ${n - 2}),
         |      i -> array_to_string(toks[i:i+${n - 1}], ' '))
         |    ELSE [] END AS sh FROM tk),
         |bs$n AS (SELECT doc_id, list_transform(sh,
         |    s -> ('0x' || substr(md5(s), 1, 15))::BIGINT % $p) AS bases
         |  FROM sh$n),
         |occ$n AS (SELECT doc_id, CAST(i AS BIGINT) AS p, bases[i] AS g
         |  FROM bs$n, unnest(range(1, len(bases) + 1)) AS u(i)),
         |cnt$n AS (SELECT g, CAST(count(*) AS BIGINT) AS n
         |  FROM occ$n GROUP BY g),
         |blk$n AS (SELECT min_occ, CAST(count(*) AS BIGINT) AS nb
         |  FROM cnt$n, grid WHERE n >= min_occ GROUP BY 1),
         |cov$n AS (SELECT DISTINCT grid.min_occ, o.doc_id, ux.x
         |  FROM occ$n o JOIN cnt$n c USING (g), grid,
         |    unnest(range(o.p, o.p + $n)) AS ux(x)
         |  WHERE c.n >= grid.min_occ),
         |agg$n AS (SELECT min_occ,
         |    CAST(count(DISTINCT doc_id) AS BIGINT) AS nd,
         |    CAST(count(*) AS BIGINT) AS removed
         |  FROM cov$n GROUP BY 1),
         |cell$n AS (SELECT CAST($n AS BIGINT) AS gram_n, grid.min_occ,
         |    coalesce(blk$n.nb, 0) AS n_blocklist_grams,
         |    coalesce(agg$n.nd, 0) AS n_docs_touched,
         |    coalesce(agg$n.removed, 0) AS tokens_removed
         |  FROM grid LEFT JOIN blk$n USING (min_occ)
         |  LEFT JOIN agg$n USING (min_occ))""".stripMargin
    val blocks = SpanSweepGramNs.map(block).mkString(",\n")
    val union = SpanSweepGramNs.map(n => s"SELECT * FROM cell$n")
      .mkString(" UNION ALL ")
    s"""WITH tk AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |tot AS (SELECT CAST(coalesce(sum(len(toks)), 0) AS BIGINT)
       |    AS total_tokens FROM tk),
       |grid AS (SELECT CAST(unnest([$minOccList]) AS BIGINT) AS min_occ),
       |$blocks
       |SELECT gram_n, min_occ,
       |  CAST(n_blocklist_grams AS BIGINT) AS n_blocklist_grams,
       |  CAST(n_docs_touched AS BIGINT) AS n_docs_touched,
       |  CAST(tokens_removed AS BIGINT) AS tokens_removed,
       |  tot.total_tokens,
       |  CAST(tokens_removed * 1000000 // greatest(total_tokens, 1)
       |    AS BIGINT) AS strip_ppm
       |FROM ($union) c, tot""".stripMargin
  }

  private val fleissMonitorOracleSql = {
    val inList = KappaClasses.map(c => s"'$c'").mkString(", ")
    s"""WITH $ratingsCtes,
       |lum AS (SELECT doc_id, CASE WHEN lab IN ($inList) THEN lab
       |    ELSE '${graft.llm.LabelQa.OtherLabel}' END AS lab FROM rat),
       |fnic AS (SELECT doc_id, lab, CAST(count(*) AS BIGINT) AS c
       |  FROM lum GROUP BY 1, 2),
       |fper AS (SELECT doc_id, sum(c) AS ki, sum(c * c) AS ai
       |  FROM fnic GROUP BY 1),
       |fglob AS (SELECT CAST(count(*) AS BIGINT) AS n_items,
       |    CAST(coalesce(sum(CASE WHEN ki <> 3 THEN 1 ELSE 0 END), 0)
       |      AS BIGINT) AS unbalanced_items,
       |    CAST(coalesce(sum(ki), 0) AS HUGEINT) AS t,
       |    CAST(coalesce(sum(ai), 0) AS HUGEINT) AS a,
       |    CAST(coalesce(sum(ki * (ki - 1)), 0) AS HUGEINT) AS p
       |  FROM fper),
       |fm AS (SELECT CAST(coalesce(sum(m * m), 0) AS HUGEINT) AS m2,
       |    CAST(count(*) AS BIGINT) AS n_classes
       |  FROM (SELECT lab, CAST(sum(c) AS HUGEINT) AS m
       |    FROM fnic GROUP BY 1) x)
       |SELECT n_items, CAST(3 AS BIGINT) AS n_raters, n_classes,
       |  unbalanced_items,
       |  CAST((a - t) * 1000000 // greatest(p, 1) AS BIGINT) AS po_ppm,
       |  CAST(m2 * 1000000 // greatest(t * t, 1) AS BIGINT) AS pe_ppm,
       |  CAST(CASE WHEN (a - t) * t * t - m2 * p >= 0
       |    THEN ((a - t) * t * t - m2 * p) * 1000000
       |      // greatest(p * (t * t - m2), 1)
       |    ELSE -((m2 * p - (a - t) * t * t) * 1000000
       |      // greatest(p * (t * t - m2), 1))
       |    END AS BIGINT) AS kappa_ppm
       |FROM fglob, fm""".stripMargin
  }

  private val nbClsSql =
    s"""WITH $nbCtes,
       |pred AS (SELECT doc_id, lab AS label_pred FROM (
       |    SELECT doc_id, lab, row_number() OVER (PARTITION BY doc_id
       |      ORDER BY votes DESC, lab ASC) AS rn FROM votes) t
       |  WHERE rn = 1)
       |SELECT d.lang AS label_true,
       |  coalesce(p.label_pred, '${graft.llm.NbClassifier.NoEvidenceLabel}') AS label_pred,
       |  CAST(count(*) AS BIGINT) AS n_docs
       |FROM documents d JOIN spl USING (doc_id)
       |LEFT JOIN pred p USING (doc_id)
       |WHERE spl.split = 'test'
       |GROUP BY 1, 2""".stripMargin

  // the vote rollup extended with the winner's vote share: per-doc
  // totals and ranks in one window pass, floor-ppm share, decile
  // buckets vs held-back truth
  private val nbCalSql =
    s"""WITH $nbCtes,
       |vt2 AS (SELECT doc_id, lab, votes,
       |    sum(votes) OVER (PARTITION BY doc_id) AS nt,
       |    row_number() OVER (PARTITION BY doc_id
       |      ORDER BY votes DESC, lab ASC) AS rn FROM votes),
       |pr AS (SELECT doc_id, lab AS label_pred,
       |    CAST(CAST(votes AS HUGEINT) * 1000000 // greatest(nt, 1)
       |      AS BIGINT) AS share_ppm
       |  FROM vt2 WHERE rn = 1),
       |base AS (SELECT d.doc_id, d.lang AS label_true,
       |    coalesce(pr.label_pred,
       |      '${graft.llm.NbClassifier.NoEvidenceLabel}') AS label_pred,
       |    CAST(coalesce(pr.share_ppm, 0) AS BIGINT) AS share_ppm
       |  FROM documents d JOIN spl USING (doc_id)
       |  LEFT JOIN pr USING (doc_id)
       |  WHERE spl.split = 'test')
       |SELECT share_ppm // 100000 AS bucket,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(CASE WHEN label_pred = label_true THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_correct,
       |  CAST(CAST(sum(CASE WHEN label_pred = label_true THEN 1 ELSE 0 END)
       |      AS HUGEINT) * 1000000 // greatest(count(*), 1) AS BIGINT)
       |    AS accuracy_ppm
       |FROM base GROUP BY 1""".stripMargin

  // the water-fill replayed: sorted caps, prefix sums, the cut
  // condition, floor level, and +1-to-first-rem remainder rule.
  // ONE spelling, embedded by every allocation oracle (q199, q200) —
  // expects CTEs `caps(source, cap)` and `bud(b)` upstream, ends in
  // `wf(source, cap, alloc, saturated)`.
  private val waterfillCtes =
    """ord AS (SELECT source, cap,
      |    CAST(row_number() OVER (ORDER BY cap ASC, source ASC) AS BIGINT) AS i,
      |    CAST(sum(cap) OVER (ORDER BY cap ASC, source ASC) AS BIGINT) AS pfx,
      |    CAST(count(*) OVER () AS BIGINT) AS n
      |  FROM caps),
      |st AS (SELECT *,
      |    (cap * (n - i) + pfx <= (SELECT b FROM bud)) AS sat FROM ord),
      |cu AS (SELECT *,
      |    max(CASE WHEN sat THEN i ELSE 0 END) OVER () AS cutv,
      |    max(CASE WHEN sat THEN pfx ELSE 0 END) OVER () AS pcut FROM st),
      |lv AS (SELECT *,
      |    ((SELECT b FROM bud) - pcut) // greatest(n - cutv, 1) AS lvl,
      |    ((SELECT b FROM bud) - pcut)
      |      - (((SELECT b FROM bud) - pcut) // greatest(n - cutv, 1))
      |        * greatest(n - cutv, 1) AS rem
      |  FROM cu),
      |wf AS (SELECT source, cap,
      |  CAST(CASE WHEN i <= cutv THEN cap
      |    ELSE least(cap, lvl + CASE WHEN i - cutv <= rem THEN 1 ELSE 0 END)
      |    END AS BIGINT) AS alloc,
      |  (i <= cutv) AS saturated
      |FROM lv)""".stripMargin

  // q187's boilerplate mining — ONE spelling shared by the mining
  // card (q187) and the strip-savings card (q201): t(doc_id, source,
  // toks) → per-doc-distinct grams → df filter → rank
  private val boilerCtes =
    s"""t AS (SELECT doc_id, source, $toksSql AS toks FROM documents),
       |g AS (SELECT doc_id, unnest(list_distinct(
       |    CASE WHEN len(toks) >= $ProbeGramN
       |      THEN list_transform(range(1, len(toks) - ${ProbeGramN - 2}),
       |        i -> array_to_string(toks[i:i+${ProbeGramN - 1}], ' '))
       |      ELSE [] END)) AS gram FROM t),
       |f AS (SELECT gram, CAST(count(*) AS BIGINT) AS df FROM g
       |  GROUP BY gram HAVING count(*) >= $BoilerMinDf),
       |r AS (SELECT gram, df,
       |    row_number() OVER (ORDER BY df DESC, gram) AS rn FROM f)""".stripMargin

  private val allocSql =
    s"""WITH caps AS (SELECT coalesce(source, '(null)') AS source,
       |    CAST(sum(len($toksSql)) AS BIGINT) AS cap
       |  FROM documents GROUP BY 1),
       |bud AS (SELECT CAST(CAST(sum(cap) AS HUGEINT) * $AllocPpm
       |    // 1000000 AS BIGINT) AS b FROM caps),
       |$waterfillCtes
       |SELECT source, cap AS cap_tokens, alloc AS alloc_tokens, saturated
       |FROM wf""".stripMargin

  // q184's first-occurrence unique-token rule + the shared water-fill
  // chain + clamp-per-epoch decayed value, all in one replay
  private val epochPlanSql = {
    val effTerms = EpochValuePpm.zipWithIndex.map { case (v, k) =>
      s"""CAST(greatest(least(wf.alloc - $k * u.unique_tokens,
         |      u.unique_tokens), 0) AS HUGEINT) * $v""".stripMargin
    }.mkString("\n    + ")
    s"""WITH d AS (SELECT doc_id, source,
       |    md5(trim(regexp_replace(lower(nfc_normalize(coalesce(text, ''))), '\\s+', ' ', 'g'))) AS fp,
       |    CAST(len($toksSql) AS BIGINT) AS n_tok
       |  FROM documents),
       |r AS (SELECT source, n_tok,
       |    row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn FROM d),
       |u AS (SELECT source,
       |    CAST(sum(CASE WHEN rn = 1 THEN n_tok ELSE 0 END) AS BIGINT)
       |      AS unique_tokens
       |  FROM r GROUP BY 1),
       |bud AS (SELECT CAST(CAST(sum(unique_tokens) AS HUGEINT) * $RepeatPpm
       |    // 1000000 AS BIGINT) AS b FROM u),
       |caps AS (SELECT source, unique_tokens * $EpochCap AS cap FROM u),
       |$waterfillCtes
       |SELECT u.source, u.unique_tokens, wf.alloc AS alloc_tokens,
       |  CAST(CASE WHEN u.unique_tokens = 0 THEN 0
       |    ELSE CAST(wf.alloc AS HUGEINT) * 1000000 // u.unique_tokens
       |    END AS BIGINT) AS epochs_fp,
       |  CAST(($effTerms) // 1000000 AS BIGINT) AS effective_tokens
       |FROM u JOIN wf ON u.source = wf.source""".stripMargin
  }

  // both scheme chains over one shard assignment; per-shard rank →
  // fixed batches → per-batch max/sum → the two one-row rollups
  private val batchWasteSql = {
    def chain(tag: String, order: String): String =
      s"""h$tag AS (SELECT shard,
         |    (row_number() OVER (PARTITION BY shard ORDER BY $order) - 1)
         |      // $BatchSize AS batch, ln FROM sh),
         |a$tag AS (SELECT shard, batch, CAST(count(*) AS BIGINT) AS bb,
         |    CAST(max(ln) AS BIGINT) AS mx, CAST(sum(ln) AS BIGINT) AS tt
         |  FROM h$tag GROUP BY 1, 2),
         |g$tag AS (SELECT CAST(count(*) AS BIGINT) AS n_batches,
         |    CAST(sum(tt) AS BIGINT) AS total_tokens,
         |    CAST(sum(bb * mx - tt) AS BIGINT) AS padded_tokens
         |  FROM a$tag)""".stripMargin
    def row(name: String, tag: String): String =
      s"""SELECT '$name' AS scheme, n_batches, total_tokens, padded_tokens,
         |  CAST(CAST(padded_tokens AS HUGEINT) * 1000000
         |    // greatest(total_tokens + padded_tokens, 1) AS BIGINT)
         |    AS waste_ppm
         |FROM g$tag""".stripMargin
    s"""WITH b AS (SELECT
       |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS h,
       |    doc_id AS k, CAST(len($toksSql) AS BIGINT) AS ln FROM documents),
       |sh AS (SELECT h, k, ln, h % $BatchShards AS shard FROM b),
       |${chain("1", "h, k")},
       |${chain("2", "ln DESC, k")}
       |${row("hash_order", "1")}
       |UNION ALL
       |${row("length_sorted", "2")}""".stripMargin
  }

  private val manifestSql =
    s"""WITH $rulesCtes,
       |cont AS (SELECT doc_id FROM ($q45Sql) z),
       |tr2 AS (SELECT * FROM rr WHERE doc_id % 50 != 0),
       |sv AS (SELECT doc_id,
       |    row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn FROM tr2),
       |kept AS (SELECT tr2.doc_id, tr2.lang, tr2.n_tok
       |  FROM tr2 JOIN sv ON tr2.doc_id = sv.doc_id
       |  LEFT JOIN cont ON tr2.doc_id = cont.doc_id
       |  WHERE cont.doc_id IS NULL AND sv.rn = 1
       |    AND ($reasonsSql) = 0),
       |hh AS (SELECT doc_id, lang, n_tok,
       |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS h
       |  FROM kept)
       |SELECT doc_id, lang, n_tok,
       |  CAST(h % $PlanShards AS BIGINT) AS shard,
       |  CAST(row_number() OVER (PARTITION BY h % $PlanShards
       |    ORDER BY h, doc_id) AS BIGINT) AS pos
       |FROM hh""".stripMargin

  // one accuracy row per training set; the delta merge equals a full
  // retrain on train∪val (the monoid property NbClassifierProps
  // pins), so the oracle trains each variant directly
  private val moreDataSql = {
    def variant(name: String, cond: String): String =
      s"""SELECT '$name' AS variant, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN lt = lp THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_correct,
         |  CAST(CAST(sum(CASE WHEN lt = lp THEN 1 ELSE 0 END) AS HUGEINT)
         |    * 1000000 // greatest(count(*), 1) AS BIGINT) AS accuracy_ppm
         |FROM (WITH ${nbCtesFor(cond)},
         |  pred AS (SELECT doc_id, lab AS label_pred FROM (
         |      SELECT doc_id, lab, row_number() OVER (PARTITION BY doc_id
         |        ORDER BY votes DESC, lab ASC) AS rn FROM votes) t
         |    WHERE rn = 1)
         |  SELECT d.lang AS lt,
         |    coalesce(p.label_pred,
         |      '${graft.llm.NbClassifier.NoEvidenceLabel}') AS lp
         |  FROM documents d JOIN spl USING (doc_id)
         |  LEFT JOIN pred p USING (doc_id)
         |  WHERE spl.split = 'test') x""".stripMargin
    s"""${variant("train_only", "spl.split = 'train'")}
       |UNION ALL
       |${variant("with_val", "spl.split IN ('train', 'val')")}""".stripMargin
  }

  private val mixtureDriftSql: String = {
      val critList = graft.llm.Drift.Chi2Crit95Ppm.mkString("[", ", ", "]")
    s"""WITH o AS (SELECT source AS g,
       |    coalesce(CAST(lang AS VARCHAR), '(null)') AS cell,
       |    count(*) AS o
       |  FROM documents WHERE doc_id % 7 = 0 GROUP BY 1, 2),
       |c AS (SELECT source AS g,
       |    coalesce(CAST(lang AS VARCHAR), '(null)') AS cell,
       |    count(*) AS c
       |  FROM documents WHERE doc_id % 7 != 0 GROUP BY 1, 2),
       |cells AS (SELECT coalesce(o.g, c.g) AS g,
       |    coalesce(o.o, 0) AS o, coalesce(c.c, 0) AS c
       |  FROM o FULL OUTER JOIN c ON o.g = c.g AND o.cell = c.cell),
       |tot AS (SELECT g, sum(o) AS a_tot, sum(c) AS c_tot,
       |    count(*) AS k FROM cells GROUP BY 1),
       |t AS (SELECT cells.g, a_tot, c_tot, k,
       |    CAST(1000000::HUGEINT
       |      * (o::HUGEINT * (c_tot + k) - a_tot::HUGEINT * (c + 1))
       |      * (o::HUGEINT * (c_tot + k) - a_tot::HUGEINT * (c + 1))
       |      // (greatest(a_tot, 1)::HUGEINT * (c + 1) * (c_tot + k))
       |      AS BIGINT) AS term
       |  FROM cells JOIN tot USING (g)),
       |agg AS (SELECT g AS source, CAST(max(a_tot) AS BIGINT) AS n_arr,
       |    CAST(max(c_tot) AS BIGINT) AS n_corpus,
       |    CAST(max(k) AS BIGINT) AS k_cells,
       |    CAST(greatest(max(k) - 1, 1) AS BIGINT) AS df,
       |    CAST(sum(term) AS BIGINT) AS chi2_ppm
       |  FROM t GROUP BY 1)
       |SELECT source, n_arr, n_corpus, k_cells, df, chi2_ppm,
       |  CAST(($critList)[CAST(least(df, 10) AS INT)] AS BIGINT) AS crit_ppm,
       |  chi2_ppm > ($critList)[CAST(least(df, 10) AS INT)] AS drifted
       |FROM agg""".stripMargin
  }

  val oracleSql: Map[String, String] = Map(
    // the shared rule CTEs + reasons mask; bit test by div/mod; the
    // (source × rule) spine keeps silent rules visible
    "q224_rule_breakdown" ->
      s"""WITH $rulesCtes,
         |rb AS (SELECT rr.doc_id, coalesce(d2.source, '(null)') AS source,
         |    CAST($reasonsSql AS BIGINT) AS reasons
         |  FROM rr JOIN documents d2 ON rr.doc_id = d2.doc_id),
         |tt AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
         |  FROM rb GROUP BY 1),
         |fl AS (SELECT source, u.b AS rule_id,
         |    CAST(count(*) AS BIGINT) AS n_failed
         |  FROM rb, unnest(range(0, 6)) AS u(b)
         |  WHERE (reasons // (1::BIGINT << b)) % 2 = 1
         |  GROUP BY 1, 2),
         |sp AS (SELECT tt.source, u.b AS rule_id, tt.n_docs
         |  FROM tt, unnest(range(0, 6)) AS u(b))
         |SELECT sp.source, CAST(sp.rule_id AS BIGINT) AS rule_id,
         |  CAST(coalesce(fl.n_failed, 0) AS BIGINT) AS n_failed,
         |  CAST(CAST(coalesce(fl.n_failed, 0) AS HUGEINT) * 1000000
         |    // greatest(sp.n_docs, 1) AS BIGINT) AS fail_ppm
         |FROM sp LEFT JOIN fl
         |  ON sp.source = fl.source AND sp.rule_id = fl.rule_id""".stripMargin,
    // the shared gram CTEs; exact pair intersections; q97/q128's
    // register + estimator spellings for singles, and the pair
    // max-merge for unions; inclusion–exclusion with signed error
    "q220_overlap_estimate" ->
      s"""WITH $gramCtes,
         |sg AS (SELECT DISTINCT source, u.gk FROM g, unnest(gs) AS u(gk)),
         |px AS (SELECT a.source AS sa, b.source AS sb,
         |    CAST(count(*) AS BIGINT) AS n_inter
         |  FROM sg a JOIN sg b ON a.gk = b.gk AND a.source < b.source
         |  GROUP BY 1, 2),
         |h AS (SELECT source, ('0x' || substr(md5(gk), 1, 8))::BIGINT AS h
         |  FROM sg),
         |r AS (SELECT source, h % 64 AS b,
         |    CASE WHEN h // 64 = 0 THEN 27
         |      ELSE 27 - length(bin(h // 64)) END AS rho FROM h),
         |reg AS (SELECT source, b, max(rho) AS mr FROM r GROUP BY 1, 2),
         |est AS (SELECT source, (709 * 64 * 64 * (1::BIGINT << 27))
         |    // (1000 * (s + (64 - nb) * (1::BIGINT << 27))) AS e
         |  FROM (SELECT source, sum(1::BIGINT << (27 - mr)) AS s,
         |      count(*) AS nb FROM reg GROUP BY source) x),
         |sp AS (SELECT a.source AS sa, b.source AS sb
         |  FROM est a JOIN est b ON a.source < b.source),
         |pr AS (SELECT sp.sa, sp.sb, reg.b, max(reg.mr) AS mr
         |  FROM sp JOIN reg ON reg.source = sp.sa OR reg.source = sp.sb
         |  GROUP BY 1, 2, 3),
         |uest AS (SELECT sa, sb, (709 * 64 * 64 * (1::BIGINT << 27))
         |    // (1000 * (s + (64 - nb) * (1::BIGINT << 27))) AS u
         |  FROM (SELECT sa, sb, sum(1::BIGINT << (27 - mr)) AS s,
         |      count(*) AS nb FROM pr GROUP BY 1, 2) x)
         |SELECT sp.sa AS source_a, sp.sb AS source_b,
         |  CAST(coalesce(px.n_inter, 0) AS BIGINT) AS n_inter_exact,
         |  CAST(ea.e + eb.e - uest.u AS BIGINT) AS inter_est,
         |  CAST(ea.e + eb.e - uest.u - coalesce(px.n_inter, 0) AS BIGINT)
         |    AS err
         |FROM sp
         |LEFT JOIN px ON sp.sa = px.sa AND sp.sb = px.sb
         |JOIN est ea ON ea.source = sp.sa
         |JOIN est eb ON eb.source = sp.sb
         |JOIN uest ON uest.sa = sp.sa AND uest.sb = sp.sb""".stripMargin,
    // q161's strata CTE; per-T weight spellings unioned; per-T window
    // total normalizes (HUGEINT floor division)
    "q219_temperature_sweep" ->
      s"""WITH d AS (SELECT source, CAST(len(toks) AS BIGINT) AS n_tok
         |  FROM (SELECT source, $toksSql AS toks FROM documents
         |        WHERE source IS NOT NULL) t),
         |a AS (SELECT source, CAST(sum(n_tok) AS BIGINT) AS n_tokens
         |  FROM d GROUP BY source),
         |v AS (SELECT CAST(1 AS BIGINT) AS t, source, n_tokens,
         |    n_tokens AS weight_fp FROM a
         |  UNION ALL SELECT 2, source, n_tokens,
         |    CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000.0) AS BIGINT)
         |  FROM a
         |  UNION ALL SELECT 4, source, n_tokens,
         |    CAST(floor(sqrt(sqrt(CAST(n_tokens AS DOUBLE))) * 1000000.0)
         |      AS BIGINT) FROM a)
         |SELECT t, source, n_tokens, weight_fp,
         |  CAST((CAST(weight_fp AS HUGEINT) * 1000000)
         |    // greatest(sum(weight_fp) OVER (PARTITION BY t), 1)
         |    AS BIGINT) AS mixture_ppm
         |FROM v""".stripMargin,
    "q218_more_data" -> moreDataSql,
    // the rulesCtes verdict becomes the label CTE; the nb chain and
    // the confusion tail are the q195 spelling with the label source
    // swapped — the distillation shares every other line
    "q226_rule_distill" -> q226Sql,
    // loaded ≡ trained byte-for-byte (deterministic counts frame
    // through the durable catalog) ⇒ shares the oracle verbatim
    "q270_rule_distill_loaded" -> q226Sql,
    // tf, df, the digit-length idf, and the per-doc rank replayed
    "q216_keywords" ->
      s"""WITH e AS (SELECT doc_id, unnest($toksSql) AS w FROM documents),
         |tf AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf
         |  FROM e GROUP BY 1, 2),
         |dfq AS (SELECT w, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
         |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
         |sc AS (SELECT tf.doc_id, tf.w,
         |    tf.tf * CAST(length(bin((SELECT n FROM n) // dfq.df)) - 1
         |      AS BIGINT) AS score
         |  FROM tf JOIN dfq USING (w)),
         |r AS (SELECT doc_id, w, score, row_number() OVER (
         |    PARTITION BY doc_id ORDER BY score DESC, w ASC) AS rnk FROM sc)
         |SELECT doc_id, CAST(rnk AS BIGINT) AS rnk, w AS term,
         |  CAST(score AS BIGINT) AS score
         |FROM r WHERE rnk <= $KwTopK""".stripMargin,
    "q210_batch_waste" -> batchWasteSql,
    // the coverage curve replayed: freq table, TakeOrdered prefix
    // rank with q53's tie-break, literal candidates, prefix masses
    "q202_vocab_sweep" ->
      s"""WITH e AS (SELECT unnest($toksSql) AS w FROM documents),
         |fq AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM e GROUP BY w),
         |tt AS (SELECT CAST(sum(c) AS BIGINT) AS total_occ,
         |    CAST(count(*) AS BIGINT) AS n_types FROM fq),
         |tp AS (SELECT w, c,
         |    CAST(row_number() OVER (ORDER BY c DESC, w ASC) AS BIGINT) AS rnk
         |  FROM (SELECT w, c FROM fq ORDER BY c DESC, w ASC
         |    LIMIT ${VocabSweep.max}) s),
         |cd AS (SELECT CAST(unnest([${VocabSweep.mkString(", ")}]) AS BIGINT)
         |    AS vocab_size),
         |cv AS (SELECT cd.vocab_size, CAST(count(w) AS BIGINT) AS covered_types,
         |    CAST(sum(coalesce(c, 0)) AS BIGINT) AS covered_occ
         |  FROM cd LEFT JOIN tp ON tp.rnk <= cd.vocab_size GROUP BY 1)
         |SELECT cv.vocab_size, tt.n_types, cv.covered_types, cv.covered_occ,
         |  tt.total_occ - cv.covered_occ AS oov_occ,
         |  CAST(CAST(tt.total_occ - cv.covered_occ AS HUGEINT) * 1000000
         |    // greatest(tt.total_occ, 1) AS BIGINT) AS oov_ppm
         |FROM cv CROSS JOIN tt""".stripMargin,
    "q200_epoch_plan" -> epochPlanSql,
    "q199_token_allocation" -> allocSql,
    "q195_nb_classifier" -> nbClsSql,
    "q196_nb_loaded" -> nbClsSql,
    "q209_nb_calibration" -> nbCalSql,
    // both labelers replayed (q19's CASE chain, q195's vote CTEs),
    // then the exact kappa arithmetic: cells → marginals → the
    // HUGEINT chance product → signed floor-ppm ratio with the same
    // symmetric-truncation CASE as the Spark side
    "q302_annotator_kappa" -> kappaOracleSql(lump = false),
    // three-rater chain replayed (split, NB, langId), then Fleiss'
    // pooled-marginal arithmetic aggregate-for-aggregate
    "q308_fleiss_kappa" -> fleissOracleSql,
    "q316_krippendorff_alpha" -> alphaOracleSql,
    "q317_rater_accuracy" -> raterAccuracyOracleSql,
    "q318_alpha_monitor" -> alphaMonitorOracleSql,
    // the ordinal-metric replay: banding (the q20 quality spelling,
    // char length, token count), pairable marginals on the pinned
    // 4-point spine, segment-sum weights, DoN/DeN/Wmax, and the
    // floor-ppm rules — all in HUGEINT, L = lcm(1..2) = 2
    "q320_ordinal_alpha" ->
      s"""WITH base AS (SELECT doc_id, text, $toksSql AS toks
         |  FROM documents),
         |r AS (
         |  SELECT doc_id, CAST(CASE WHEN q < 400000 THEN 0
         |      WHEN q < 650000 THEN 1 WHEN q < 900000 THEN 2
         |      ELSE 3 END AS BIGINT) AS ix
         |    FROM (SELECT doc_id, $qualityFpSql AS q FROM base) t
         |  UNION ALL
         |  SELECT doc_id, CAST(CASE WHEN length(text) < 170 THEN 0
         |      WHEN length(text) < 300 THEN 1
         |      WHEN length(text) < 440 THEN 2 ELSE 3 END AS BIGINT)
         |    FROM base
         |  UNION ALL
         |  SELECT doc_id, CAST(CASE WHEN len(toks) < 30 THEN 0
         |      WHEN len(toks) < 55 THEN 1 WHEN len(toks) < 80 THEN 2
         |      ELSE 3 END AS BIGINT)
         |    FROM base WHERE doc_id % $AlphaMissingMod != 1),
         |nic AS (SELECT doc_id, ix, CAST(count(*) AS BIGINT) AS c
         |  FROM r GROUP BY 1, 2),
         |per AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS ki
         |  FROM nic GROUP BY 1),
         |pair AS (SELECT doc_id, ki FROM per WHERE ki >= 2),
         |mg AS (SELECT s.ix, CAST(coalesce(mm.m, 0) AS BIGINT) AS m
         |  FROM (SELECT u.x AS ix FROM unnest(range(0, 4)) AS u(x)) s
         |  LEFT JOIN (SELECT nic.ix, CAST(sum(nic.c) AS BIGINT) AS m
         |    FROM nic JOIN pair USING (doc_id) GROUP BY 1) mm
         |  USING (ix)),
         |cum AS (SELECT ix, m,
         |    CAST(sum(m) OVER (ORDER BY ix) AS BIGINT) AS cm FROM mg),
         |w0 AS (SELECT a.ix AS ia, b.ix AS ib, a.m AS ma, b.m AS mb,
         |    2 * (CASE WHEN a.ix <= b.ix THEN b.cm - a.cm + a.m
         |      ELSE a.cm - b.cm + b.m END) - a.m - b.m AS wv
         |  FROM cum a CROSS JOIN cum b),
         |w AS (SELECT ia, ib, ma, mb,
         |    CAST(CAST(wv AS HUGEINT) * wv AS HUGEINT) AS ww FROM w0),
         |gt AS (SELECT CAST(coalesce(sum(ki), 0) AS HUGEINT) AS t
         |  FROM pair),
         |don AS (SELECT CAST(coalesce(sum(CAST(x.c AS HUGEINT) * y.c
         |      * w.ww * (2 // (p.ki - 1))), 0) AS HUGEINT) AS don
         |  FROM nic x JOIN pair p USING (doc_id)
         |  JOIN nic y ON y.doc_id = x.doc_id AND y.ix != x.ix
         |  JOIN w ON w.ia = x.ix AND w.ib = y.ix),
         |den AS (SELECT CAST(coalesce(sum(CAST(ma AS HUGEINT) * mb * ww),
         |      0) AS HUGEINT) AS den
         |  FROM w WHERE ia != ib),
         |wmx AS (SELECT ww AS wmax FROM w WHERE ia = 0 AND ib = 3),
         |cnt AS (SELECT
         |  (SELECT CAST(count(*) AS BIGINT) FROM per) AS n_items,
         |  (SELECT CAST(count(*) AS BIGINT) FROM pair) AS n_pairable,
         |  (SELECT CAST(count(*) AS BIGINT) FROM mg WHERE m > 0)
         |    AS n_classes)
         |SELECT cnt.n_items, cnt.n_pairable, cnt.n_classes,
         |  CAST(don.don * 1000000
         |    // greatest(2 * gt.t * wmx.wmax, 1) AS BIGINT) AS do_ppm,
         |  CAST(den.den * 1000000
         |    // greatest(gt.t * (gt.t - 1) * wmx.wmax, 1) AS BIGINT)
         |    AS de_ppm,
         |  CAST(CASE WHEN 2 * den.den - don.don * (gt.t - 1) >= 0
         |    THEN (2 * den.den - don.don * (gt.t - 1)) * 1000000
         |      // greatest(2 * den.den, 1)
         |    ELSE -((don.don * (gt.t - 1) - 2 * den.den) * 1000000
         |      // greatest(2 * den.den, 1))
         |    END AS BIGINT) AS alpha_ppm
         |FROM cnt CROSS JOIN gt CROSS JOIN don CROSS JOIN den
         |CROSS JOIN wmx""".stripMargin,
    // the same chain self-joined into unordered pairs, q302's kappa
    // arithmetic per pair
    "q309_kappa_matrix" -> kappaMatrixOracleSql,
    // one gram-position CTE per gramN, the minOcc grid applied after
    // the counts — blocklist sizes and interval-union coverage
    // replayed exactly
    "q310_span_sweep" -> spanSweepOracleSql,
    // the monitor spelling: 3-rater chain + the pinned-class lump
    // BEFORE the identical pooled-marginal Fleiss arithmetic; rater
    // count pinned as config
    "q313_fleiss_monitor" -> fleissMonitorOracleSql,
    // the monitor spelling shares the labeler chain; the pinned
    // class list lumps everything else (incl. the no-evidence label)
    // into (other) BEFORE the identical kappa arithmetic — kappa
    // over lumped labels == the one-aggregation pivot by definition
    "q303_kappa_monitor" -> kappaOracleSql(lump = true),
    // the commutative row-hash card replayed literally: same
    // \x01-delimited field concat, same md5-prefix hash, same mod
    "q155_dataset_checksum" ->
      """WITH h AS (SELECT source,
        |    ('0x' || substr(md5(concat_ws(chr(1),
        |      CAST(doc_id AS VARCHAR), coalesce(text, ''),
        |      coalesce(lang, ''), coalesce(source, ''),
        |      CAST(n_chars AS VARCHAR))), 1, 8))::BIGINT AS h
        |  FROM documents)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(DISTINCT h) AS BIGINT) AS n_distinct_rows,
        |  CAST(sum(h) % 2305843009213693951 AS BIGINT) AS sum_hash,
        |  min(h) AS min_hash, max(h) AS max_hash
        |FROM h GROUP BY source""".stripMargin,
    // BFS layers unrolled one CTE per round over the regenerated q87
    // edge rule; min() keeps the first (shortest) layer a vertex joins
    "q116_khop_seeds" -> {
      val rounds = (0 until KhopDepth).map { t =>
        s"""d${t + 1} AS (SELECT v, min(dist) AS dist FROM (
           |  SELECT v, dist FROM d$t
           |  UNION ALL
           |  SELECT e.dst AS v, d$t.dist + 1 AS dist
           |  FROM e JOIN d$t ON e.src = d$t.v) u GROUP BY v)""".stripMargin
      }.mkString(",\n")
      s"""WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
         |e AS (SELECT doc_id AS src, (doc_id * 7 + k * 13) % (SELECT n FROM nn) AS dst
         |  FROM documents, unnest([1, 2, 3]) AS t(k)
         |  WHERE (doc_id * 7 + k * 13) % (SELECT n FROM nn) <> doc_id),
         |d0 AS (SELECT doc_id AS v, CAST(0 AS BIGINT) AS dist FROM documents
         |  WHERE doc_id % $SeedMod = 0),
         |$rounds
         |SELECT d.doc_id, CAST(coalesce(r.dist, -1) AS BIGINT) AS dist
         |FROM documents d LEFT JOIN d$KhopDepth r ON d.doc_id = r.v""".stripMargin
    },
    // same tokenize, same ceil-divided checkpoint grid, conditional
    // counts against token first-seen / per-doc length aggregates
    "q122_vocab_growth" ->
      s"""WITH d0 AS (SELECT doc_id, coalesce(text, '') AS text FROM documents),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d0),
         |chk AS (SELECT DISTINCT
         |    CAST(((SELECT n FROM nn) * k.v + $GrowthCheckpoints - 1)
         |      // $GrowthCheckpoints AS BIGINT) AS chk
         |  FROM unnest(range(1, ${GrowthCheckpoints + 1})) AS k(v)),
         |tl AS (SELECT doc_id, $toksSql AS toks FROM d0),
         |t AS (SELECT doc_id, unnest(toks) AS w FROM tl),
         |fs AS (SELECT w, min(doc_id) AS fd FROM t GROUP BY w),
         |v AS (SELECT chk.chk,
         |    CAST(sum(CASE WHEN fs.fd < chk.chk THEN 1 ELSE 0 END) AS BIGINT) AS vocab
         |  FROM fs, chk GROUP BY chk.chk),
         |pd AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS nt FROM tl),
         |tk AS (SELECT chk.chk,
         |    CAST(sum(CASE WHEN pd.doc_id < chk.chk THEN pd.nt ELSE 0 END) AS BIGINT)
         |      AS total_tokens,
         |    CAST(sum(CASE WHEN pd.doc_id < chk.chk THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_docs
         |  FROM pd, chk GROUP BY chk.chk)
         |SELECT v.chk, tk.n_docs, v.vocab, tk.total_tokens
         |FROM v JOIN tk ON v.chk = tk.chk""".stripMargin,
    // same counting-aggregate ceil-rank picks on both axes
    "q131_quantile_sketch" -> {
      val pctRows = SketchPcts.map(p => s"($p)").mkString(", ")
      s"""WITH d AS (SELECT lang, CAST(n_chars AS BIGINT) AS v FROM documents),
         |pct(pct) AS (VALUES $pctRows),
         |ec AS (SELECT lang, v AS x, CAST(count(*) AS BIGINT) AS c
         |  FROM d GROUP BY 1, 2),
         |ecum AS (SELECT lang, x, sum(c) OVER w AS cum, sum(c) OVER p AS tot
         |  FROM ec WINDOW w AS (PARTITION BY lang ORDER BY x
         |    ROWS UNBOUNDED PRECEDING), p AS (PARTITION BY lang)),
         |exact AS (SELECT lang, pct, min(x) AS exact_v FROM ecum, pct
         |  WHERE cum >= (pct * tot + 99) // 100 GROUP BY 1, 2),
         |hc AS (SELECT lang, v // $SketchW AS x, CAST(count(*) AS BIGINT) AS c
         |  FROM d GROUP BY 1, 2),
         |hcum AS (SELECT lang, x, sum(c) OVER w AS cum, sum(c) OVER p AS tot
         |  FROM hc WINDOW w AS (PARTITION BY lang ORDER BY x
         |    ROWS UNBOUNDED PRECEDING), p AS (PARTITION BY lang)),
         |est AS (SELECT lang, pct,
         |    min(x) * $SketchW + ${SketchW / 2} AS est_v FROM hcum, pct
         |  WHERE cum >= (pct * tot + 99) // 100 GROUP BY 1, 2)
         |SELECT exact.lang, CAST(exact.pct AS BIGINT) AS pct,
         |  CAST(exact_v AS BIGINT) AS exact_v, CAST(est_v AS BIGINT) AS est_v,
         |  CAST(abs(est_v - exact_v) * 1000000 // greatest(exact_v, 1) AS BIGINT)
         |    AS err_ppm
         |FROM exact JOIN est USING (lang, pct)""".stripMargin
    },
    // identical md5-prefix hash (the q52 portability trick), same fences
    "q126_dataset_split" ->
      s"""SELECT doc_id, lang,
         |  CASE WHEN r < $TrainPct THEN 'train'
         |       WHEN r < ${TrainPct + ValPct} THEN 'val'
         |       ELSE 'test' END AS split
         |FROM (SELECT doc_id, lang,
         |  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS r
         |  FROM documents) t""".stripMargin,
    // q63's frame/pixel replay reduced to mean pixel, then the lag
    // walk and the threshold rule
    "q123_scene_cuts" ->
      s"""WITH v AS (SELECT doc_id, (doc_id % 5) + 2 AS nf FROM documents),
         |fr AS (SELECT doc_id, j.v AS f,
         |    ((doc_id + 3*j.v) % 24) + 1 AS w,
         |    ((doc_id*7 + 5*j.v) % 20) + 1 AS h
         |  FROM v, unnest(range(0, nf)) AS j(v)),
         |fr2 AS (SELECT *, ((w*3 + 3) // 4) * 4 AS stride FROM fr),
         |dims AS (SELECT DISTINCT w, h, stride FROM fr2),
         |pix AS (SELECT w, h, CAST(sum((r.v * stride + j.v) % 251) AS BIGINT) AS s
         |  FROM dims, unnest(range(0, h)) AS r(v), unnest(range(0, w*3)) AS j(v)
         |  GROUP BY w, h),
         |mp AS (SELECT doc_id, f, s * 1000 // (fr2.w * fr2.h * 3) AS mp
         |  FROM fr2 JOIN pix USING (w, h)),
         |lg AS (SELECT doc_id, f, mp,
         |    lag(mp) OVER (PARTITION BY doc_id ORDER BY f) AS prev FROM mp),
         |pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_frames,
         |    CAST(sum(CASE WHEN prev IS NOT NULL
         |      AND abs(mp - prev) >= $SceneCutThrMp THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_cuts
         |  FROM lg GROUP BY doc_id)
         |SELECT d.doc_id AS id,
         |  CAST(coalesce(n_frames, 0) AS BIGINT) AS n_frames,
         |  CAST(coalesce(n_cuts, 0) AS BIGINT) AS n_cuts,
         |  CAST(CASE WHEN n_frames IS NOT NULL THEN n_cuts + 1 ELSE 0 END AS BIGINT)
         |    AS n_scenes
         |FROM documents d LEFT JOIN pd USING (doc_id)""".stripMargin,
    "q70_incremental_dedup" -> q70Sql,
    // the shipped-index replay is byte-identical ⇒ shares q70's oracle
    "q175_incremental_loaded" -> q70Sql,
    "q16_dedup_exact" ->
      """SELECT doc_id, lang, source, n_chars FROM (
        |  SELECT doc_id, lang, source, n_chars,
        |    row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        |  FROM documents) t
        |WHERE rn = 1""".stripMargin,
    "q17_dedup_norm" ->
      """SELECT doc_id, fp FROM (
        |  SELECT doc_id, md5(trim(regexp_replace(lower(nfc_normalize(text)), '\s+', ' ', 'g'))) AS fp,
        |    row_number() OVER (
        |      PARTITION BY md5(trim(regexp_replace(lower(nfc_normalize(text)), '\s+', ' ', 'g')))
        |      ORDER BY doc_id) AS rn
        |  FROM documents) t
        |WHERE rn = 1""".stripMargin,
    "q18_text_stats" ->
      s"""SELECT lang, count(*) AS n_docs,
         | CAST(sum(len(toks)) AS BIGINT) AS sum_tokens,
         | CAST(sum(length(text)) AS BIGINT) AS sum_chars,
         | CAST(max(len(toks)) AS BIGINT) AS max_tokens,
         | CAST(min(len(toks)) AS BIGINT) AS min_tokens,
         | CAST(sum($stopHitsSql) AS BIGINT) AS sum_stop_hits,
         | CAST(sum(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]'))) AS BIGINT) AS sum_bpe_tokens
         |FROM (SELECT lang, text, $toksSql AS toks FROM documents) t
         |GROUP BY lang ORDER BY lang""".stripMargin,
    "q19_lang_id" ->
      s"""SELECT lang, predicted, count(*) AS n FROM (
         |  SELECT lang, $langCaseSql AS predicted
         |  FROM (SELECT lang, $toksSql AS toks FROM documents) x) t
         |GROUP BY lang, predicted ORDER BY lang, predicted""".stripMargin,
    "q20_quality" ->
      s"""SELECT doc_id,
         | CAST($qualityFpSql AS BIGINT) AS quality_fp,
         | $stopFpSql AS stop_fp,
         | $meanTokLenFpSql AS mean_tok_len_fp,
         | CAST(len(toks) AS BIGINT) AS n_tokens
         |FROM (SELECT doc_id, text, $toksSql AS toks FROM documents) t""".stripMargin,
    "q28_fingerprints" -> q28Sql,
    "q31_simhash_pairs" -> q31Sql,
    "q45_decontamination" -> q45Sql,
    // Bloom prefilter is exactness-preserving ⇒ q68 shares q45's oracle
    "q68_decontam_bloom" -> q45Sql,
    // round-tripped prefilter artifact is also exactness-preserving
    "q158_decontam_bloom_loaded" -> q45Sql,
    "q69_filter_rules" -> q69Sql,
    "q73_data_card" -> q73Sql,
    "q76_curation_funnel" -> q76Sql,
    "q43_chunks" ->
      s"""WITH t AS (SELECT doc_id, toks, len(toks) AS n FROM
         |  (SELECT doc_id, $toksSql AS toks FROM documents) x WHERE len(toks) > 0),
         |c AS (SELECT doc_id, i AS chunk_id,
         |    toks[i * $ChunkStride + 1 : i * $ChunkStride + $ChunkSize] AS chunk
         |  FROM t, unnest(range(0,
         |    CAST(ceil(greatest(n - $ChunkSize, 0) / $ChunkStride.0) AS BIGINT) + 1)) AS u(i))
         |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
         |  CAST(len(chunk) AS BIGINT) AS n_tokens, chunk[1] AS first_token
         |FROM c""".stripMargin,
    "q44_sequence_packing" ->
      s"""WITH d AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tok
         |  FROM (SELECT doc_id, $toksSql AS toks FROM documents) x),
         |p AS (SELECT doc_id, n_tok,
         |    CAST((sum(n_tok) OVER (ORDER BY doc_id
         |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok)
         |      // $PackBudget AS BIGINT) AS bin
         |  FROM d)
         |SELECT bin, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS bin_tokens,
         |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
         |FROM p GROUP BY bin""".stripMargin,
    // q88's training chain composed with q44's prefix-sum replay —
    // the packing bins must agree when the unit is BPE tokens
    "q140_bpe_packing" ->
      s"""WITH $bpeChainSql,
         |ns AS (SELECT w,
         |    CAST(len(string_split(s[2:len(s) - 1], '][')) AS BIGINT) AS n_sym
         |  FROM w$BpeMerges),
         |tk AS (SELECT doc_id, toks[i::INT] AS w FROM
         |  (SELECT doc_id, $toksSql AS toks FROM documents) x,
         |  unnest(range(1, len(toks) + 1)) AS u(i)),
         |d0 AS (SELECT tk.doc_id, CAST(sum(ns.n_sym) AS BIGINT) AS n_tok
         |  FROM tk JOIN ns USING (w) GROUP BY tk.doc_id),
         |d AS (SELECT documents.doc_id, coalesce(d0.n_tok, 0) AS n_tok
         |  FROM documents LEFT JOIN d0 USING (doc_id)),
         |p AS (SELECT doc_id, n_tok,
         |    CAST((sum(n_tok) OVER (ORDER BY doc_id
         |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok)
         |      // $PackBudget AS BIGINT) AS bin
         |  FROM d)
         |SELECT bin, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS bin_tokens,
         |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
         |FROM p GROUP BY bin""".stripMargin,
    "q42_phrase_search" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |e AS (SELECT doc_id, toks[i] AS w, i - 1 AS pos
         |  FROM t, unnest(range(1, len(toks) + 1)) AS u(i)),
         |p AS (SELECT w, doc_id, list_sort(list(pos)) AS ps FROM e GROUP BY w, doc_id),
         |j AS (SELECT a.doc_id,
         |    CAST(len(list_intersect(list_transform(a.ps, x -> x + 1), b.ps)) AS BIGINT)
         |      AS n_phrase
         |  FROM p a JOIN p b ON a.doc_id = b.doc_id
         |  WHERE a.w = '$PhraseW1' AND b.w = '$PhraseW2')
         |SELECT doc_id, n_phrase FROM j WHERE n_phrase > 0""".stripMargin,
    // mixture sampling: counts → rates → selection replayed end-to-end;
    // the rate expression tree matches Sampling.tokenBudgetMixture
    // verbatim (IEEE doubles are bit-identical when the ops are)
    "q57_token_mixture" ->
      s"""WITH d AS (SELECT doc_id, source, CAST(len(toks) AS BIGINT) AS n_tok
         |  FROM (SELECT doc_id, source, $toksSql AS toks FROM documents
         |        WHERE doc_id IS NOT NULL AND source IS NOT NULL) t),
         |counts AS (SELECT source, sum(n_tok) AS n,
         |    CAST(substr(source, 4) AS INTEGER) + 1 AS w
         |  FROM d GROUP BY source),
         |tot AS (SELECT sum(n) AS tn, sum(w) AS tw FROM counts),
         |rates AS (SELECT source,
         |    CAST(floor(least(CAST(1.0 AS DOUBLE),
         |      (CAST(w AS DOUBLE) / CAST(tw AS DOUBLE))
         |        * (CAST($MixBudgetFraction AS DOUBLE) * CAST(tn AS DOUBLE))
         |        / CAST(n AS DOUBLE)) * 4294967296.0) AS BIGINT) AS thresh
         |  FROM counts, tot)
         |SELECT doc_id, source, n_tok
         |FROM d JOIN rates USING (source)
         |WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT < thresh""".stripMargin,
    "q39_stratified_sample" -> {
      val rateCase = SampleRates
        .map { case (l, r) => s"WHEN '$l' THEN $r" }.mkString(" ")
      s"""SELECT lang, count(*) AS n_sampled, min(doc_id) AS first_doc,
         |  max(doc_id) AS last_doc
         |FROM (SELECT lang, doc_id,
         |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS bucket
         |  FROM documents) t
         |WHERE bucket < CASE lang $rateCase ELSE 10 END
         |GROUP BY lang ORDER BY lang""".stripMargin
    },
    // the q146 half split aggregated per source, shares in exact ppm
    // q76's verdict chain filtered to the kept class, then q167's
    // hash-shard/rank-position replay over the survivors
    "q169_training_manifest" -> manifestSql,
    // the loaded replica is byte-identical by the artifact contract —
    // the oracle is the SAME manifest replay
    "q213_manifest_loaded" -> manifestSql,
    "q167_shard_plan" ->
      s"""SELECT doc_id, CAST(h % $PlanShards AS BIGINT) AS shard,
         |  CAST(row_number() OVER (PARTITION BY h % $PlanShards
         |    ORDER BY h, doc_id) AS BIGINT) AS pos
         |FROM (SELECT doc_id,
         |  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS h
         |  FROM documents WHERE doc_id IS NOT NULL) t""".stripMargin,
    "q161_temperature_mixture" ->
      s"""WITH d AS (SELECT source, CAST(len(toks) AS BIGINT) AS n_tok
         |  FROM (SELECT source, $toksSql AS toks FROM documents
         |        WHERE source IS NOT NULL) t),
         |a AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(n_tok) AS BIGINT) AS n_tokens FROM d GROUP BY source),
         |w AS (SELECT source, n_docs, n_tokens,
         |    CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000.0) AS BIGINT)
         |      AS weight_fp FROM a),
         |t AS (SELECT CAST(sum(weight_fp) AS BIGINT) AS tw,
         |    CAST(sum(n_tokens) AS BIGINT) AS tn FROM w),
         |m AS (SELECT source, n_docs, n_tokens, weight_fp,
         |    CAST(CAST(weight_fp AS HUGEINT) * 1000000 // greatest(tw, 1)
         |      AS BIGINT) AS mixture_ppm FROM w, t)
         |SELECT source, n_docs, n_tokens, weight_fp, mixture_ppm,
         |  CAST(CAST((SELECT tn FROM t) AS HUGEINT) * mixture_ppm
         |    // greatest(n_tokens, 1) AS BIGINT) AS epochs_fp
         |FROM m ORDER BY source""".stripMargin,
    "q163_source_divergence" ->
      s"""WITH tk AS (SELECT source, unnest($toksSql) AS tok FROM documents
         |  WHERE source IS NOT NULL),
         |cc AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS cnt
         |  FROM tk GROUP BY source, tok),
         |ct AS (SELECT tok, CAST(sum(cnt) AS BIGINT) AS ct FROM cc GROUP BY tok),
         |rs AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS rs FROM cc
         |  GROUP BY source),
         |nn AS (SELECT CAST(sum(rs) AS BIGINT) AS n FROM rs),
         |j AS (SELECT cc.source, rs.rs, nn.n,
         |    abs(CAST(cc.cnt AS HUGEINT) * nn.n - CAST(rs.rs AS HUGEINT) * ct.ct)
         |      - CAST(rs.rs AS HUGEINT) * ct.ct AS term
         |  FROM cc JOIN ct ON cc.tok = ct.tok
         |  JOIN rs ON cc.source = rs.source, nn)
         |SELECT source, rs AS n_tokens,
         |  CAST((CAST(rs AS HUGEINT) * n + sum(term)) * 1000000
         |    // (2 * CAST(rs AS HUGEINT) * n) AS BIGINT) AS tvd_ppm
         |FROM j GROUP BY source, rs, n ORDER BY source""".stripMargin,
    "q164_snm_pairs" ->
      """WITH b AS (SELECT doc_id,
        |    trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS k
        |  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL),
        |r AS (SELECT doc_id, k, substr(k, 1, 4) AS block,
        |    row_number() OVER (PARTITION BY substr(k, 1, 4)
        |      ORDER BY k, doc_id) AS rn FROM b)
        |SELECT a.block AS block,
        |  CAST(least(a.doc_id, c.doc_id) AS BIGINT) AS doc_lo,
        |  CAST(greatest(a.doc_id, c.doc_id) AS BIGINT) AS doc_hi,
        |  CAST(c.rn - a.rn AS BIGINT) AS pos_dist,
        |  CAST(abs(length(a.k) - length(c.k)) AS BIGINT) AS len_diff_chars,
        |  (a.k = c.k) AS same_norm
        |FROM r a JOIN r c
        |  ON a.block = c.block AND c.rn - a.rn BETWEEN 1 AND 2""".stripMargin,
    // q164's forward window + the same window over reverse(k), pairs
    // unioned and rolled up per unordered pair with pass flags
    "q177_snm_multipass" ->
      """WITH b AS (SELECT doc_id,
        |    trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS k
        |  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL),
        |rf AS (SELECT doc_id, k, substr(k, 1, 4) AS block,
        |    row_number() OVER (PARTITION BY substr(k, 1, 4)
        |      ORDER BY k, doc_id) AS rn FROM b),
        |rv AS (SELECT doc_id, reverse(k) AS k FROM b),
        |rr AS (SELECT doc_id, k, substr(k, 1, 4) AS block,
        |    row_number() OVER (PARTITION BY substr(k, 1, 4)
        |      ORDER BY k, doc_id) AS rn FROM rv),
        |pf AS (SELECT least(a.doc_id, c.doc_id) AS doc_lo,
        |    greatest(a.doc_id, c.doc_id) AS doc_hi,
        |    abs(length(a.k) - length(c.k)) AS ld, (a.k = c.k) AS sn
        |  FROM rf a JOIN rf c
        |    ON a.block = c.block AND c.rn - a.rn BETWEEN 1 AND 2),
        |pr AS (SELECT least(a.doc_id, c.doc_id) AS doc_lo,
        |    greatest(a.doc_id, c.doc_id) AS doc_hi,
        |    abs(length(a.k) - length(c.k)) AS ld, (a.k = c.k) AS sn
        |  FROM rr a JOIN rr c
        |    ON a.block = c.block AND c.rn - a.rn BETWEEN 1 AND 2),
        |u AS (SELECT doc_lo, doc_hi, ld, sn, true AS f, false AS r FROM pf
        |  UNION ALL
        |  SELECT doc_lo, doc_hi, ld, sn, false AS f, true AS r FROM pr)
        |SELECT CAST(doc_lo AS BIGINT) AS doc_lo,
        |  CAST(doc_hi AS BIGINT) AS doc_hi,
        |  bool_or(f) AS in_fwd, bool_or(r) AS in_rev,
        |  CAST(min(ld) AS BIGINT) AS len_diff_chars,
        |  bool_or(sn) AS same_norm
        |FROM u GROUP BY doc_lo, doc_hi""".stripMargin,
    // the synthesized URL fixture (one spelling with the Spark side)
    // + every normalization step of Dedup.normalizeUrl replayed
    "q178_url_dedup_key" ->
      s"""WITH $urlKeyCtes
         |SELECT uk AS url_key,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(count(DISTINCT url) AS BIGINT) AS n_variants,
         |  CAST(min(doc_id) AS BIGINT) AS keep_doc_id
         |FROM n4 GROUP BY uk HAVING count(*) >= 2""".stripMargin,
    // the shared URL-key chain, eval keys (the % 7 demo split) joined
    // back against the train side
    "q185_url_split_leakage" ->
      s"""WITH $urlKeyCtes,
         |ev AS (SELECT DISTINCT uk FROM n4 WHERE doc_id % 7 = 0),
         |tr AS (SELECT n4.source, n4.uk, ev.uk IS NOT NULL AS hit
         |  FROM n4 LEFT JOIN ev ON n4.uk = ev.uk
         |  WHERE n4.doc_id % 7 != 0)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_train_docs,
         |  CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS n_leaked_docs,
         |  CAST(count(DISTINCT CASE WHEN hit THEN uk END) AS BIGINT) AS n_leaked_keys,
         |  CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) * 1000000
         |    // greatest(count(*), 1) AS BIGINT) AS leak_ppm
         |FROM tr GROUP BY source""".stripMargin,
    // the shared gram chain, eval/train gram sets tagged by source,
    // distinct shared grams per pair
    "q192_contamination_matrix" ->
      s"""WITH $gramCtes,
         |ev AS (SELECT DISTINCT source AS eval_source, unnest(gs) AS gk
         |  FROM g WHERE doc_id % 50 = 0),
         |tr AS (SELECT DISTINCT source AS train_source, unnest(gs) AS gk
         |  FROM g WHERE doc_id % 50 != 0)
         |SELECT train_source, eval_source,
         |  CAST(count(DISTINCT gk) AS BIGINT) AS n_shared_grams
         |FROM tr JOIN ev USING (gk)
         |GROUP BY train_source, eval_source""".stripMargin,
    // q20's score crossed with every threshold in one pass
    "q193_quality_sweep" -> {
      val thrRows = QualitySweepThresholds.map(t => s"($t)").mkString(", ")
      s"""WITH d AS (SELECT CAST($qualityFpSql AS BIGINT) AS q,
         |    CAST(len(toks) AS BIGINT) AS n_tok
         |  FROM (SELECT text, $toksSql AS toks FROM documents) x),
         |t(thr_fp) AS (VALUES $thrRows),
         |a AS (SELECT CAST(count(*) AS BIGINT) AS nd,
         |    CAST(sum(n_tok) AS BIGINT) AS nt FROM d)
         |SELECT CAST(t.thr_fp AS BIGINT) AS thr_fp,
         |  CAST(sum(CASE WHEN d.q >= t.thr_fp THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_docs_kept,
         |  CAST(sum(CASE WHEN d.q >= t.thr_fp THEN d.n_tok ELSE 0 END) AS BIGINT)
         |    AS n_tokens_kept,
         |  CAST(sum(CASE WHEN d.q >= t.thr_fp THEN 1 ELSE 0 END) * 1000000
         |    // greatest(a.nd, 1) AS BIGINT) AS docs_kept_ppm,
         |  CAST(CAST(sum(CASE WHEN d.q >= t.thr_fp THEN d.n_tok ELSE 0 END)
         |    AS HUGEINT) * 1000000 // greatest(a.nt, 1) AS BIGINT)
         |    AS tokens_kept_ppm
         |FROM t CROSS JOIN d, a GROUP BY t.thr_fp, a.nd, a.nt""".stripMargin
    },
    // the shared bucket CASE chain + per-bucket padding arithmetic
    "q188_padding_waste" ->
      s"""WITH d AS (SELECT CAST(len($toksSql) AS BIGINT) AS n_tok FROM documents),
         |b AS (SELECT n_tok, $padBucketSql AS bucket FROM d)
         |SELECT CAST(bucket AS BIGINT) AS bucket,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
         |  CAST(count(*) * bucket AS BIGINT) AS padded_tokens,
         |  CAST(CAST(count(*) * bucket - sum(n_tok) AS HUGEINT) * 1000000
         |    // greatest(count(*) * bucket, 1) AS BIGINT) AS waste_ppm
         |FROM b GROUP BY bucket""".stripMargin,
    // per-doc distinct 13-gram strings → doc frequency → ranked slice
    "q187_boilerplate" ->
      s"""WITH $boilerCtes
         |SELECT gram, df, CAST(rn AS BIGINT) AS rn FROM r
         |WHERE rn <= $BoilerTopK""".stripMargin,
    // q187's mining CTEs verbatim, then positional hits, the
    // fixed-interval island walk, and the per-source rollups
    "q201_boilerplate_strip" ->
      s"""WITH $boilerCtes,
         |b AS (SELECT gram FROM r WHERE rn <= $BoilerTopK),
         |p AS (SELECT doc_id, source, i.i AS i,
         |    array_to_string(toks[i.i:i.i+${ProbeGramN - 1}], ' ') AS gram
         |  FROM t, unnest(range(1, greatest(len(toks) - ${ProbeGramN - 2}, 1))) i(i)),
         |h AS (SELECT p.doc_id, p.source, p.i FROM p JOIN b USING (gram)),
         |cv AS (SELECT doc_id, coalesce(source, '(null)') AS source,
         |    CAST(sum(least($ProbeGramN, coalesce(i - prev, $ProbeGramN)))
         |      AS BIGINT) AS covered
         |  FROM (SELECT doc_id, source, i,
         |      lag(i) OVER (PARTITION BY doc_id ORDER BY i) AS prev FROM h) x
         |  GROUP BY 1, 2),
         |tt AS (SELECT coalesce(source, '(null)') AS source,
         |    CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(len(toks)) AS BIGINT) AS total_tokens FROM t GROUP BY 1),
         |sp AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs_hit,
         |    CAST(sum(covered) AS BIGINT) AS covered_tokens FROM cv GROUP BY 1)
         |SELECT tt.source, tt.n_docs,
         |  CAST(coalesce(sp.n_docs_hit, 0) AS BIGINT) AS n_docs_hit,
         |  tt.total_tokens,
         |  CAST(coalesce(sp.covered_tokens, 0) AS BIGINT) AS covered_tokens,
         |  tt.total_tokens - CAST(coalesce(sp.covered_tokens, 0) AS BIGINT)
         |    AS cleaned_tokens,
         |  CAST(CAST(coalesce(sp.covered_tokens, 0) AS HUGEINT) * 1000000
         |    // greatest(tt.total_tokens, 1) AS BIGINT) AS strip_ppm
         |FROM tt LEFT JOIN sp USING (source)""".stripMargin,
    // both split keyings replayed over one fingerprint CTE; the
    // by_content row's zero straddling is re-proven, not assumed
    "q186_content_split" -> {
      def schemeSql(keyExpr: String, label: String): String =
        s"""SELECT '$label' AS scheme, CAST(count(*) AS BIGINT) AS n_fps,
           |  CAST(sum(nd) AS BIGINT) AS n_docs,
           |  CAST(sum(CASE WHEN nsp > 1 THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_straddling_fps,
           |  CAST(sum(CASE WHEN nsp > 1 THEN nd ELSE 0 END) AS BIGINT)
           |    AS n_straddling_docs
           |FROM (SELECT fp, CAST(count(DISTINCT split) AS BIGINT) AS nsp,
           |    CAST(count(*) AS BIGINT) AS nd
           |  FROM (SELECT fp, CASE
           |      WHEN ('0x' || substr(md5($keyExpr), 1, 8))::BIGINT % 100
           |        < $TrainPct THEN 'train'
           |      WHEN ('0x' || substr(md5($keyExpr), 1, 8))::BIGINT % 100
           |        < ${TrainPct + ValPct} THEN 'val'
           |      ELSE 'test' END AS split FROM d) y
           |  GROUP BY fp) z""".stripMargin
      s"""WITH d AS (SELECT doc_id,
         |    md5(trim(regexp_replace(lower(nfc_normalize(coalesce(text, ''))), '\\s+', ' ', 'g'))) AS fp
         |  FROM documents)
         |${schemeSql("CAST(doc_id AS VARCHAR)", "by_doc_id")}
         |UNION ALL
         |${schemeSql("fp", "by_content")}""".stripMargin
    },
    // q17's fingerprint rank window + token counts → per-source
    // savings arithmetic (HUGEINT numerator)
    "q184_dedup_savings" ->
      s"""WITH d AS (SELECT doc_id, source,
         |    md5(trim(regexp_replace(lower(nfc_normalize(coalesce(text, ''))), '\\s+', ' ', 'g'))) AS fp,
         |    CAST(len($toksSql) AS BIGINT) AS n_tok
         |  FROM documents),
         |r AS (SELECT source, n_tok,
         |    row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn FROM d)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
         |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
         |  CAST(sum(CASE WHEN rn > 1 THEN n_tok ELSE 0 END) AS BIGINT) AS dup_tokens,
         |  CAST(CAST(sum(CASE WHEN rn > 1 THEN n_tok ELSE 0 END) AS HUGEINT)
         |    * 1000000 // greatest(sum(n_tok), 1) AS BIGINT) AS savings_ppm
         |FROM r GROUP BY source""".stripMargin,
    // the same synthesized URLs keyed by canonical DOMAIN only (the
    // host steps of the q178 normalizer), shares replayed off totals
    "q180_domain_mix" ->
      s"""WITH u AS (SELECT doc_id, $toksSql AS toks, $urlSynthSql AS url
         |  FROM documents),
         |d AS (SELECT doc_id, n_tok,
         |    regexp_replace(CASE
         |      WHEN scheme = 'http' THEN regexp_replace(hostraw, ':80$$', '')
         |      WHEN scheme = 'https' THEN regexp_replace(hostraw, ':443$$', '')
         |      ELSE hostraw END, '^www[.]', '') AS domain
         |  FROM (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tok,
         |      lower(regexp_extract(nf, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
         |        AS scheme,
         |      lower(regexp_extract(regexp_replace(nf,
         |        '^[A-Za-z][A-Za-z0-9+.-]*://', ''), '^([^/?]*)', 1)) AS hostraw
         |    FROM (SELECT u.*, regexp_replace(url, '#.*$$', '') AS nf FROM u) f) h),
         |a AS (SELECT domain, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(n_tok) AS BIGINT) AS n_tokens FROM d GROUP BY domain),
         |t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS td,
         |    CAST(sum(n_tokens) AS BIGINT) AS tt FROM a)
         |SELECT domain, n_docs, n_tokens,
         |  CAST(n_docs * 1000000 // greatest(td, 1) AS BIGINT) AS doc_share_ppm,
         |  CAST(CAST(n_tokens AS HUGEINT) * 1000000 // greatest(tt, 1) AS BIGINT)
         |    AS token_share_ppm
         |FROM a, t""".stripMargin,
    // md5-keyed 13-gram overlap of the train slice against the eval
    // slice (q45's % 50 split), rolled up per source
    "q179_memorization_probe" ->
      s"""WITH $gramCtes,
         |ev AS (SELECT DISTINCT unnest(gs) AS gk FROM g WHERE doc_id % 50 = 0),
         |tr AS (SELECT doc_id, source, CAST(len(gs) AS BIGINT) AS n_grams, gs
         |  FROM g WHERE doc_id % 50 != 0),
         |tg AS (SELECT doc_id, unnest(gs) AS gk FROM tr),
         |h AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hit
         |  FROM tg JOIN ev USING (gk) GROUP BY doc_id),
         |d AS (SELECT tr.source, tr.n_grams, coalesce(h.n_hit, 0) AS n_hit
         |  FROM tr LEFT JOIN h USING (doc_id))
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_grams) AS BIGINT) AS n_grams,
         |  CAST(sum(n_hit) AS BIGINT) AS n_overlap,
         |  CAST(CASE WHEN sum(n_grams) > 0
         |    THEN sum(n_hit) * 1000000 // sum(n_grams) ELSE 0 END AS BIGINT)
         |    AS overlap_ppm,
         |  CAST(sum(CASE WHEN n_hit > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_hit,
         |  CAST(max(CASE WHEN n_grams > 0
         |    THEN n_hit * 1000000 // n_grams ELSE 0 END) AS BIGINT) AS max_doc_ppm
         |FROM d GROUP BY source""".stripMargin,
    // the same gram chain, graded against FIRST corpus occurrence
    // (min doc_id per gram) instead of the eval slice
    "q181_novelty_profile" ->
      s"""WITH $gramCtes,
         |ex AS (SELECT doc_id, unnest(gs) AS gk FROM g),
         |f AS (SELECT gk, min(doc_id) AS first_doc FROM ex GROUP BY gk),
         |nv AS (SELECT ex.doc_id, CAST(count(*) AS BIGINT) AS n_novel
         |  FROM ex JOIN f USING (gk) WHERE f.first_doc = ex.doc_id
         |  GROUP BY ex.doc_id),
         |d AS (SELECT g.source, CAST(len(gs) AS BIGINT) AS n_grams,
         |    coalesce(nv.n_novel, 0) AS n_novel
         |  FROM g LEFT JOIN nv USING (doc_id))
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_grams) AS BIGINT) AS n_grams,
         |  CAST(sum(n_novel) AS BIGINT) AS n_novel,
         |  CAST(CASE WHEN sum(n_grams) > 0
         |    THEN sum(n_novel) * 1000000 // sum(n_grams) ELSE 0 END AS BIGINT)
         |    AS novelty_ppm,
         |  CAST(sum(CASE WHEN n_grams > 0 AND n_novel = n_grams THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_fully_novel,
         |  CAST(sum(CASE WHEN n_grams > 0 AND n_novel = 0 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_stale
         |FROM d GROUP BY source""".stripMargin,
    "q152_source_drift" ->
      s"""WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
         |a AS (SELECT source,
         |    CAST(sum(CASE WHEN doc_id >= (SELECT n FROM nn) // 2
         |      THEN 1 ELSE 0 END) AS BIGINT) AS n_recent,
         |    CAST(sum(CASE WHEN doc_id >= (SELECT n FROM nn) // 2
         |      THEN 0 ELSE 1 END) AS BIGINT) AS n_old
         |  FROM documents GROUP BY source),
         |t AS (SELECT CAST(sum(n_recent) AS BIGINT) AS tr,
         |    CAST(sum(n_old) AS BIGINT) AS tt FROM a)
         |SELECT source, n_recent, n_old,
         |  CAST(n_recent * 1000000 // greatest(tr, 1) AS BIGINT)
         |    AS share_recent_ppm,
         |  CAST(n_old * 1000000 // greatest(tt, 1) AS BIGINT) AS share_old_ppm,
         |  CAST(abs(n_recent * 1000000 // greatest(tr, 1)
         |    - n_old * 1000000 // greatest(tt, 1)) AS BIGINT) AS drift_ppm
         |FROM a, t""".stripMargin,
    // q88's training chain → per-doc symbol counts → per-language
    // character/token ratio
    "q153_tokenizer_equity" ->
      s"""WITH $bpeChainSql,
         |ns AS (SELECT w,
         |    CAST(len(string_split(s[2:len(s) - 1], '][')) AS BIGINT) AS n_sym
         |  FROM w$BpeMerges),
         |tk AS (SELECT doc_id, toks[i::INT] AS w FROM
         |  (SELECT doc_id, $toksSql AS toks FROM documents) x,
         |  unnest(range(1, len(toks) + 1)) AS u(i)),
         |d0 AS (SELECT tk.doc_id, CAST(sum(ns.n_sym) AS BIGINT) AS n_sym
         |  FROM tk JOIN ns USING (w) GROUP BY tk.doc_id),
         |dd AS (SELECT documents.doc_id, documents.lang,
         |    CAST(length(text) AS BIGINT) AS n_chars,
         |    coalesce(d0.n_sym, 0) AS n_sym
         |  FROM documents LEFT JOIN d0 USING (doc_id))
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_chars) AS BIGINT) AS chars,
         |  CAST(sum(n_sym) AS BIGINT) AS bpe_tokens,
         |  CAST(sum(n_chars) * 1000000 // greatest(sum(n_sym), 1) AS BIGINT)
         |    AS chars_per_token_ppm
         |FROM dd GROUP BY lang""".stripMargin,
    // the deterministic doc_id-half split + smoothed ratio + rank
    "q146_emerging_terms" ->
      s"""WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
         |e AS (SELECT doc_id >= (SELECT n FROM nn) // 2 AS recent,
         |    unnest($toksSql) AS w FROM documents),
         |tf AS (SELECT w,
         |    CAST(sum(CASE WHEN recent THEN 1 ELSE 0 END) AS BIGINT) AS tf_recent,
         |    CAST(sum(CASE WHEN recent THEN 0 ELSE 1 END) AS BIGINT) AS tf_old
         |  FROM e GROUP BY w),
         |f AS (SELECT w, tf_recent, tf_old,
         |    CAST(floor(1000000.0 * CAST(tf_recent + 1 AS DOUBLE)
         |      / CAST(tf_old + 1 AS DOUBLE)) AS BIGINT) AS score
         |  FROM tf WHERE tf_recent >= $EmergeMinRecent),
         |r AS (SELECT w, tf_recent, tf_old, score, row_number() OVER (
         |    ORDER BY score DESC, tf_recent DESC, w ASC) AS rn FROM f)
         |SELECT w, tf_recent, tf_old, score, CAST(rn AS BIGINT) AS rn
         |FROM r WHERE rn <= $EmergeTopK""".stripMargin,
    "q40_token_quantiles" ->
      s"""WITH d AS (SELECT lang, CAST(len(toks) AS BIGINT) AS n_tok
         |  FROM (SELECT lang, $toksSql AS toks FROM documents) x),
         |r AS (SELECT lang, n_tok,
         |    row_number() OVER (PARTITION BY lang ORDER BY n_tok) AS rn,
         |    count(*) OVER (PARTITION BY lang) AS n FROM d)
         |SELECT lang, max(n) AS n_docs, min(n_tok) AS min_tok,
         |  max(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT) THEN n_tok END) AS p50_tok,
         |  max(CASE WHEN rn = CAST(ceil(0.9 * n) AS BIGINT) THEN n_tok END) AS p90_tok,
         |  max(n_tok) AS max_tok
         |FROM r GROUP BY lang ORDER BY lang""".stripMargin,
    "q37_repetition" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |g AS (SELECT doc_id,
         |    CASE WHEN len(toks) >= 3
         |      THEN list_transform(range(1, len(toks) - 1),
         |        i -> array_to_string(toks[i:i+2], ' '))
         |      ELSE [] END AS g3 FROM t),
         |gs AS (SELECT doc_id, CAST(len(g3) AS BIGINT) AS n_3grams,
         |    CASE WHEN len(g3) = 0 THEN 0
         |      ELSE CAST(floor(1000000.0 *
         |        CAST(len(g3) - len(list_distinct(g3)) AS DOUBLE)
         |        / CAST(len(g3) AS DOUBLE)) AS BIGINT) END AS dup_3gram_fp FROM g),
         |tk AS (SELECT doc_id, unnest(toks) AS w FROM t),
         |c AS (SELECT doc_id, w, count(*) AS c FROM tk GROUP BY doc_id, w),
         |m AS (SELECT doc_id,
         |    CAST(floor(1000000.0 * CAST(max(c) AS DOUBLE)
         |      / CAST(sum(c) AS DOUBLE)) AS BIGINT) AS top_tok_fp
         |  FROM c GROUP BY doc_id)
         |SELECT gs.doc_id, gs.n_3grams, gs.dup_3gram_fp,
         |  coalesce(m.top_tok_fp, 0) AS top_tok_fp
         |FROM gs LEFT JOIN m ON gs.doc_id = m.doc_id""".stripMargin,
    "q36_distinctive_terms" ->
      s"""WITH tf AS (SELECT lang, w, count(*) AS tf FROM (
         |    SELECT lang, unnest($toksSql) AS w FROM documents) t
         |  GROUP BY lang, w),
         |scored AS (SELECT lang, w, tf,
         |    CAST(floor(1000000.0 * CAST(tf AS DOUBLE)
         |      / CAST(sum(tf) OVER (PARTITION BY w) AS DOUBLE)) AS BIGINT) AS score
         |  FROM tf),
         |ranked AS (SELECT lang, w, tf, score,
         |    row_number() OVER (PARTITION BY lang
         |      ORDER BY score DESC, tf DESC, w ASC) AS rn
         |  FROM scored)
         |SELECT lang, w, tf, score, CAST(rn AS INTEGER) AS rn
         |FROM ranked WHERE rn <= 10""".stripMargin,
    "q53_oov_rate" ->
      s"""WITH e AS (SELECT doc_id, unnest($toksSql) AS w FROM documents),
         |v AS (SELECT w FROM (SELECT w, count(*) AS c FROM e GROUP BY w
         |    ORDER BY c DESC, w ASC LIMIT $VocabSize) t),
         |sc AS (SELECT e.doc_id, count(*) AS n_tokens,
         |    sum(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS n_oov
         |  FROM e LEFT JOIN v ON e.w = v.w GROUP BY e.doc_id)
         |SELECT d.doc_id,
         |  CAST(coalesce(sc.n_tokens, 0) AS BIGINT) AS n_tokens,
         |  CAST(coalesce(sc.n_oov, 0) AS BIGINT) AS n_oov,
         |  CAST(CASE WHEN coalesce(sc.n_tokens, 0) = 0 THEN 0
         |    ELSE floor(1000000.0 * CAST(sc.n_oov AS DOUBLE)
         |      / CAST(sc.n_tokens AS DOUBLE)) END AS BIGINT) AS oov_fp
         |FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id""".stripMargin,
    "q71_surprisal" ->
      s"""WITH e AS (SELECT doc_id, unnest($toksSql) AS w FROM documents),
         |n AS (SELECT greatest(count(*), 1) AS n FROM e),
         |vb AS (SELECT w, CAST(length(bin((SELECT n FROM n) // c)) - 1 AS BIGINT) AS bits
         |  FROM (SELECT w, count(*) AS c FROM e GROUP BY w
         |    ORDER BY c DESC, w ASC LIMIT $VocabSize) t),
         |sc AS (SELECT e.doc_id, count(*) AS n_tokens,
         |    sum(coalesce(vb.bits,
         |      CAST(length(bin((SELECT n FROM n))) - 1 AS BIGINT))) AS sum_bits
         |  FROM e LEFT JOIN vb ON e.w = vb.w GROUP BY e.doc_id)
         |SELECT d.doc_id,
         |  CAST(coalesce(sc.n_tokens, 0) AS BIGINT) AS n_tokens,
         |  CAST(coalesce(sc.sum_bits, 0) AS BIGINT) AS sum_bits,
         |  CAST(CASE WHEN coalesce(sc.n_tokens, 0) = 0 THEN 0
         |    ELSE floor(1000000.0 * CAST(sc.sum_bits AS DOUBLE)
         |      / CAST(sc.n_tokens AS DOUBLE)) END AS BIGINT) AS surprisal_fp
         |FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id""".stripMargin,
    "q83_bm25" -> bm25Sql,
    // lower median both passes: smallest value whose cumulative count
    // reaches (n+1)//2; flag |x−med| > 3·mad
    "q107_robust_outliers" ->
      """WITH b AS (SELECT doc_id, lang, n_chars FROM documents),
        |n AS (SELECT lang, CAST(count(*) AS BIGINT) AS n FROM b GROUP BY 1),
        |c AS (SELECT lang, n_chars, count(*) AS c FROM b GROUP BY 1, 2),
        |cm AS (SELECT lang, n_chars,
        |    sum(c) OVER (PARTITION BY lang ORDER BY n_chars) AS cum FROM c),
        |med AS (SELECT cm.lang, min(n_chars) AS med FROM cm JOIN n USING (lang)
        |  WHERE cum >= (n.n + 1) // 2 GROUP BY 1),
        |d AS (SELECT b.doc_id, b.lang, b.n_chars, med.med,
        |    abs(b.n_chars - med.med) AS dev FROM b JOIN med USING (lang)),
        |dc AS (SELECT lang, dev, count(*) AS c FROM d GROUP BY 1, 2),
        |dm AS (SELECT lang, dev,
        |    sum(c) OVER (PARTITION BY lang ORDER BY dev) AS cum FROM dc),
        |mad AS (SELECT dm.lang, min(dev) AS mad FROM dm JOIN n USING (lang)
        |  WHERE cum >= (n.n + 1) // 2 GROUP BY 1)
        |SELECT d.doc_id, d.lang, d.n_chars, d.med, mad.mad,
        |  abs(d.n_chars - d.med) > 3 * mad.mad AS is_outlier
        |FROM d JOIN mad USING (lang)""".stripMargin,
    // ppm shares per source vs global, L2 over the capped bucket grid;
    // buckets a source never hit still contribute (0 − g_b)²
    "q108_histogram_drift" ->
      s"""WITH b AS (SELECT source,
         |    least(n_chars // $DriftBucketWidth, $DriftMaxBucket) AS bk
         |  FROM documents),
         |pg AS (SELECT source, bk, CAST(count(*) AS BIGINT) AS o
         |  FROM b GROUP BY 1, 2),
         |t AS (SELECT source, CAST(sum(o) AS BIGINT) AS n_rows FROM pg GROUP BY 1),
         |g AS (SELECT bk, CAST(sum(o) AS BIGINT) AS cb FROM pg GROUP BY 1),
         |nt AS (SELECT CAST(sum(o) AS BIGINT) AS nt FROM pg),
         |grid AS (SELECT t.source, t.n_rows,
         |    (coalesce(pg.o, 0) * 1000000) // t.n_rows AS s,
         |    (g.cb * 1000000) // greatest(nt.nt, 1) AS gs
         |  FROM t CROSS JOIN g CROSS JOIN nt
         |  LEFT JOIN pg ON pg.source = t.source AND pg.bk = g.bk)
         |SELECT source, n_rows,
         |  CAST(sum((s - gs) * (s - gs)) AS BIGINT) AS drift_l2
         |FROM grid GROUP BY 1, 2""".stripMargin,
    "q104_quality_calibrated" ->
      s"""WITH t AS (SELECT doc_id, source, text, $toksSql AS toks FROM documents),
         |sc AS (SELECT doc_id, source, CAST($qualityFpSql AS BIGINT) AS quality_fp
         |  FROM t),
         |cnt AS (SELECT source, quality_fp, CAST(count(*) AS BIGINT) AS c
         |  FROM sc GROUP BY 1, 2),
         |cum AS (SELECT source, quality_fp,
         |    coalesce(sum(c) OVER (PARTITION BY source ORDER BY quality_fp
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS lt FROM cnt),
         |n AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM sc GROUP BY source)
         |SELECT sc.doc_id, sc.source, sc.quality_fp,
         |  CAST((cum.lt * 1000000) // greatest(n.n - 1, 1) AS BIGINT) AS pct_ppm
         |FROM sc JOIN cum ON sc.source = cum.source
         |  AND sc.quality_fp = cum.quality_fp
         |JOIN n ON sc.source = n.source""".stripMargin,
    "q105_bigram_surprisal" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |e AS (SELECT doc_id, unnest(toks) AS w FROM t),
         |uni AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM e GROUP BY w),
         |vv AS (SELECT greatest(CAST(count(*) AS BIGINT), 1) AS v FROM uni),
         |pr AS (SELECT doc_id, y[i] AS a, y[i + 1] AS b
         |  FROM (SELECT doc_id, toks AS y FROM t) s,
         |    unnest(range(1, len(y))) AS u(i)),
         |big AS (SELECT a, b, CAST(count(*) AS BIGINT) AS c_ab FROM pr GROUP BY a, b),
         |bits AS (SELECT big.a, big.b,
         |    CAST(length(bin((uni.c + (SELECT v FROM vv)) // (big.c_ab + 1))) - 1
         |      AS BIGINT) AS bits
         |  FROM big JOIN uni ON big.a = uni.w),
         |sc AS (SELECT pr.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |    CAST(sum(bits.bits) AS BIGINT) AS sum_bits
         |  FROM pr JOIN bits ON pr.a = bits.a AND pr.b = bits.b
         |  GROUP BY pr.doc_id)
         |SELECT d.doc_id, coalesce(sc.n_bigrams, 0) AS n_bigrams,
         |  coalesce(sc.sum_bits, 0) AS sum_bits,
         |  CAST(CASE WHEN coalesce(sc.n_bigrams, 0) = 0 THEN 0
         |    ELSE floor(1000000.0 * CAST(sc.sum_bits AS DOUBLE)
         |      / CAST(sc.n_bigrams AS DOUBLE)) END AS BIGINT) AS surprisal2_fp
         |FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id""".stripMargin,
    "q101_containment" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |g0 AS (SELECT doc_id, unnest(CASE WHEN len(toks) >= 3
         |    THEN list_transform(range(1, len(toks) - 1),
         |      i -> array_to_string(toks[i:i+2], ' '))
         |    ELSE [] END) AS g FROM t),
         |g AS (SELECT DISTINCT doc_id, g FROM g0),
         |dfs AS (SELECT g, count(*) AS df FROM g GROUP BY g),
         |kept AS (SELECT g.doc_id, g.g FROM g JOIN dfs USING (g)
         |  WHERE dfs.df <= $ContainMaxDf),
         |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
         |  FROM kept GROUP BY doc_id),
         |p AS (SELECT a.doc_id AS da, b.doc_id AS db,
         |    CAST(count(*) AS BIGINT) AS shared
         |  FROM kept a JOIN kept b ON a.g = b.g AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |j AS (SELECT da, db, shared, sa.n AS na, sb.n AS nb FROM p
         |  JOIN sz sa ON p.da = sa.doc_id JOIN sz sb ON p.db = sb.doc_id),
         |d AS (
         |  SELECT da AS contained_id, db AS container_id, shared,
         |    na AS n_contained FROM j WHERE shared * 1000000 >= $ContainThrPpm * na
         |  UNION ALL
         |  SELECT db, da, shared, nb FROM j
         |  WHERE shared * 1000000 >= $ContainThrPpm * nb)
         |SELECT contained_id, container_id, shared, n_contained,
         |  CAST((shared * 1000000) // n_contained AS BIGINT) AS cont_ppm
         |FROM d""".stripMargin,
    "q103_weighted_sample" ->
      s"""WITH h AS (SELECT lang, doc_id,
         |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS h,
         |    greatest(n_chars, 1) AS w FROM documents),
         |p AS (SELECT lang, doc_id, (h * 1000000) // w AS pri FROM h),
         |r AS (SELECT lang, doc_id, pri, row_number() OVER (
         |    PARTITION BY lang ORDER BY pri, doc_id) AS rn FROM p)
         |SELECT lang, doc_id, CAST(pri AS BIGINT) AS pri
         |FROM r WHERE rn <= $WSampleK""".stripMargin,
    "q99_bpe_vocab" ->
      s"""WITH $bpeChainSql,
         |v AS (SELECT unnest(string_split(s[2:len(s) - 1], '][')) AS sym, freq
         |  FROM w$BpeMerges),
         |vc AS (SELECT sym, CAST(sum(freq) AS BIGINT) AS n_occ FROM v GROUP BY sym)
         |SELECT sym, n_occ, CAST(row_number() OVER (
         |  ORDER BY n_occ DESC, sym ASC) AS BIGINT) AS sym_id FROM vc""".stripMargin,
    "q137_bpe_encode" -> bpeEncodeSql,
    // train-slice rounds + the same chain applied to held-out words +
    // the id→symbol decode with unknown accounting
    "q227_bpe_roundtrip" -> q227Sql,
    // the sparse fixture + the audited q59 detector/redaction
    // spellings, rolled up per source
    "q231_pii_scan" -> {
      val em = graft.llm.Pii.EmailPattern
      val ip = graft.llm.Pii.Ipv4Pattern
      val ph = graft.llm.Pii.PhonePattern
      s"""WITH d AS (SELECT doc_id, coalesce(source, '(null)') AS source,
         |    coalesce(text, '') || $piiSynthSql AS t FROM documents),
         |p AS (SELECT doc_id, source, t,
         |    CAST(len(regexp_extract_all(t, '$em')) AS BIGINT) AS n_emails,
         |    CAST(len(regexp_extract_all(t, '$ip')) AS BIGINT) AS n_ips,
         |    CAST(len(regexp_extract_all(t, '$ph')) AS BIGINT) AS n_phones,
         |    regexp_replace(regexp_replace(regexp_replace(t,
         |      '$em', '${graft.llm.Pii.EmailToken}', 'g'),
         |      '$ip', '${graft.llm.Pii.Ipv4Token}', 'g'),
         |      '$ph', '${graft.llm.Pii.PhoneToken}', 'g') AS clean
         |  FROM d)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN n_emails + n_ips + n_phones > 0
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_pii_docs,
         |  CAST(sum(n_emails) AS BIGINT) AS n_emails,
         |  CAST(sum(n_ips) AS BIGINT) AS n_ips,
         |  CAST(sum(n_phones) AS BIGINT) AS n_phones,
         |  CAST(sum(length(t)) AS BIGINT) AS raw_chars,
         |  CAST(sum(length(clean)) AS BIGINT) AS clean_chars,
         |  CAST(sum(CASE WHEN n_emails + n_ips + n_phones > 0
         |      THEN 1 ELSE 0 END) * 1000000
         |    // greatest(count(*), 1) AS BIGINT) AS pii_doc_ppm
         |FROM p GROUP BY source""".stripMargin
    },
    // three artifact families replayed off their audited spellings:
    // per-doc rows, refcounted chunk keys, (label, token) cells
    "q237_artifact_erasure" ->
      s"""WITH $cdcCkCtes,
         |spl AS (SELECT doc_id,
         |    CASE WHEN r < $ClsTrainPct THEN 'train'
         |         WHEN r < ${ClsTrainPct + ClsValPct} THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM (SELECT doc_id,
         |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS r
         |    FROM documents) t),
         |fpx AS (SELECT CAST(count(*) AS BIGINT) AS n_entries,
         |    CAST(sum(CASE WHEN doc_id % $EraseMod = 0 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_affected,
         |    CAST(sum(CASE WHEN doc_id % $EraseMod = 0 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_removable
         |  FROM documents),
         |cg AS (SELECT ck, bool_or(doc_id % $EraseMod = 0) AS he,
         |    NOT bool_or(doc_id % $EraseMod != 0) AS rm
         |  FROM ck GROUP BY ck),
         |cx AS (SELECT CAST(count(*) AS BIGINT) AS n_entries,
         |    CAST(sum(CASE WHEN he THEN 1 ELSE 0 END) AS BIGINT) AS n_affected,
         |    CAST(sum(CASE WHEN rm THEN 1 ELSE 0 END) AS BIGINT) AS n_removable
         |  FROM cg),
         |tr2 AS (SELECT d.lang AS label, unnest($toksSql) AS w,
         |    (d.doc_id % $EraseMod = 0) AS er
         |  FROM documents d JOIN spl USING (doc_id)
         |  WHERE spl.split = 'train' AND d.lang IS NOT NULL),
         |cells AS (SELECT label, w, CAST(count(*) AS BIGINT) AS cnt,
         |    CAST(sum(CASE WHEN er THEN 1 ELSE 0 END) AS BIGINT) AS ec
         |  FROM tr2 GROUP BY 1, 2),
         |nx AS (SELECT CAST(count(*) AS BIGINT) AS n_entries,
         |    CAST(sum(CASE WHEN ec > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_affected,
         |    CAST(sum(CASE WHEN ec = cnt THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_removable
         |  FROM cells),
         |u AS (SELECT 'fp_index' AS artifact, * FROM fpx
         |  UNION ALL SELECT 'cdc_chunk_index', * FROM cx
         |  UNION ALL SELECT 'nb_counts', * FROM nx)
         |SELECT artifact, n_entries, n_affected, n_removable,
         |  CAST(n_affected * 1000000 // greatest(n_entries, 1) AS BIGINT)
         |    AS affected_ppm
         |FROM u""".stripMargin,
    // the rebuild counts are the ONE truth per family (erased docs
    // excluded from the contributor base, refcounts > 0, cells with
    // surviving count > 0); the fold's n_after must equal them and
    // agree pins to literal true — a missed decrement, an
    // under-deleted key, or a leaked row hash-fails
    "q295_erase_apply" ->
      s"""WITH $cdcCkCtes,
         |spl AS (SELECT doc_id,
         |    CASE WHEN r < $ClsTrainPct THEN 'train'
         |         WHEN r < ${ClsTrainPct + ClsValPct} THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM (SELECT doc_id,
         |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS r
         |    FROM documents) t),
         |fpa AS (SELECT CAST(count(*) AS BIGINT) AS n_before,
         |    CAST(sum(CASE WHEN doc_id % $EraseMod != 0 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_after
         |  FROM documents),
         |cga AS (SELECT ck,
         |    CAST(sum(CASE WHEN doc_id % $EraseMod != 0 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n2
         |  FROM ck GROUP BY ck),
         |cxa AS (SELECT CAST(count(*) AS BIGINT) AS n_before,
         |    CAST(sum(CASE WHEN n2 > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_after
         |  FROM cga),
         |tr2 AS (SELECT d.lang AS label, unnest($toksSql) AS w,
         |    (d.doc_id % $EraseMod = 0) AS er
         |  FROM documents d JOIN spl USING (doc_id)
         |  WHERE spl.split = 'train' AND d.lang IS NOT NULL),
         |cells AS (SELECT label, w, CAST(count(*) AS BIGINT) AS cnt,
         |    CAST(sum(CASE WHEN er THEN 1 ELSE 0 END) AS BIGINT) AS ec
         |  FROM tr2 GROUP BY 1, 2),
         |nxa AS (SELECT CAST(count(*) AS BIGINT) AS n_before,
         |    CAST(sum(CASE WHEN cnt > ec THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_after
         |  FROM cells)
         |SELECT 'fp_index' AS artifact, n_before, n_after,
         |  n_after AS n_rebuild, true AS agree FROM fpa
         |UNION ALL SELECT 'cdc_chunk_index', n_before, n_after, n_after,
         |  true FROM cxa
         |UNION ALL SELECT 'nb_counts', n_before, n_after, n_after,
         |  true FROM nxa""".stripMargin,
    // the ONE truth is the chunk-count rebuild over the surviving
    // corpus (base ∪ arrivals = every doc; erased = doc_id %
    // ChunkEraseMod == 5) via the shared CDC chunk CTEs — BOTH the
    // chain-served and the compacted refcounts must equal it per
    // chunk key, and agree pins to literal true
    "q319_chunkstore_compact" ->
      s"""WITH $cdcCkCtes,
         |g AS (SELECT ck, CAST(count(*) AS BIGINT) AS n FROM ck
         |  WHERE doc_id % $ChunkEraseMod != 5 GROUP BY ck)
         |SELECT ck, n AS n_served, n AS n_compact, true AS agree
         |FROM g""".stripMargin,
    // the rule CTEs label each doc; each ranker collapses to a
    // (score → pos/neg count) frame and AUC2 = Σ p·(2C + q) replays
    // the exact midrank Mann-Whitney statistic in integers
    "q238_rank_auc" -> {
      def aucArm(tag: String, scoreCol: String): String =
        s"""s_$tag AS (SELECT $scoreCol AS sc,
           |    CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS p,
           |    CAST(sum(CASE WHEN kept THEN 0 ELSE 1 END) AS BIGINT) AS q
           |  FROM lb GROUP BY 1),
           |c_$tag AS (SELECT p, q, coalesce(sum(q) OVER (ORDER BY sc
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS c
           |  FROM s_$tag),
           |a_$tag AS (SELECT '$scoreCol' AS ranker,
           |    CAST(sum(p) AS BIGINT) AS n_pos,
           |    CAST(sum(q) AS BIGINT) AS n_neg,
           |    CAST(CAST(sum(p * (2 * c + q)) AS HUGEINT) * 1000000
           |      // greatest(2 * sum(p) * sum(q), 1) AS BIGINT) AS auc_ppm
           |  FROM c_$tag)""".stripMargin
      s"""WITH $rulesCtes,
         |lb AS (SELECT ($reasonsSql = 0) AS kept, quality_fp, n_tok FROM rr),
         |${aucArm("qf", "quality_fp")},
         |${aucArm("nt", "n_tok")}
         |SELECT * FROM a_qf UNION ALL SELECT * FROM a_nt""".stripMargin
    },
    // the q128 register replay split on the arrival convention: the
    // history/delta/merged/direct arms share one rho frame, and the
    // estimator arm is spelled once
    "q246_hll_incremental" -> {
      def estArm(tag: String, regs: String): String =
        s"""s_$tag AS (SELECT src, sum(1::BIGINT << (27 - mr)) AS s,
           |    count(*) AS nb FROM $regs GROUP BY src),
           |e_$tag AS (SELECT src, (709 * 64 * 64 * (1::BIGINT << 27))
           |    // (1000 * (s + (64 - nb) * (1::BIGINT << 27))) AS est
           |  FROM s_$tag)""".stripMargin
      s"""WITH e AS (SELECT src, arr, unnest(CASE WHEN len(toks) >= 3
         |    THEN list_transform(range(1, len(toks) - 1),
         |      i -> array_to_string(toks[i:i+2], ' '))
         |    ELSE [] END) AS w
         |  FROM (SELECT coalesce(source, '(null)') AS src,
         |    doc_id % $HllArrivalMod = 0 AS arr, $toksSql AS toks
         |    FROM documents)),
         |h AS (SELECT src, arr, ('0x' || substr(md5(w), 1, 8))::BIGINT AS h FROM e),
         |r AS (SELECT src, arr, h % 64 AS b,
         |    CASE WHEN h // 64 = 0 THEN 27
         |      ELSE 27 - length(bin(h // 64)) END AS rho FROM h),
         |hreg AS (SELECT src, b, max(rho) AS mr FROM r WHERE NOT arr GROUP BY 1, 2),
         |dreg AS (SELECT src, b, max(rho) AS mr FROM r WHERE arr GROUP BY 1, 2),
         |mreg AS (SELECT src, b, max(mr) AS mr FROM
         |  (SELECT * FROM hreg UNION ALL SELECT * FROM dreg) GROUP BY 1, 2),
         |freg AS (SELECT src, b, max(rho) AS mr FROM r GROUP BY 1, 2),
         |${estArm("h", "hreg")},
         |${estArm("d", "dreg")},
         |${estArm("m", "mreg")},
         |${estArm("f", "freg")},
         |ex AS (SELECT src, CAST(count(DISTINCT w) AS BIGINT) AS n_exact
         |  FROM e GROUP BY src)
         |SELECT ex.src AS source, n_exact,
         |  CAST(e_h.est AS BIGINT) AS history_est,
         |  CAST(e_d.est AS BIGINT) AS delta_est,
         |  CAST(e_m.est AS BIGINT) AS merged_est,
         |  CAST(e_f.est AS BIGINT) AS direct_est,
         |  e_m.est = e_f.est AS merge_exact,
         |  CAST((1000000 * abs(e_m.est - n_exact)) // greatest(n_exact, 1)
         |    AS BIGINT) AS err_ppm
         |FROM ex JOIN e_h USING (src) JOIN e_d USING (src)
         |JOIN e_m USING (src) JOIN e_f USING (src)""".stripMargin
    },
    // both sides of each family replayed from the corpus (a healthy
    // store's loaded arm IS the rebuild); q70's fp spelling, the cdc
    // ck chain, and the q155 checksum verbatim
    "q271_store_audit" ->
      s"""WITH $cdcCkCtes,
         |fpb AS (SELECT doc_id,
         |    md5(trim(regexp_replace(lower(nfc_normalize(coalesce(text, ''))), '\\s+', ' ', 'g'))) AS fp
         |  FROM documents WHERE doc_id % 10 != 0),
         |fph AS (SELECT ('0x' || substr(md5(concat_ws(chr(1),
         |    CAST(doc_id AS VARCHAR), fp)), 1, 8))::BIGINT AS h FROM fpb),
         |fpa AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(h) % ${graft.llm.Sketches.ChecksumMod} AS BIGINT) AS c
         |  FROM fph),
         |cix AS (SELECT DISTINCT ck FROM ck WHERE doc_id % 10 != 0),
         |cih AS (SELECT ('0x' || substr(md5(ck), 1, 8))::BIGINT AS h FROM cix),
         |cia AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(h) % ${graft.llm.Sketches.ChecksumMod} AS BIGINT) AS c
         |  FROM cih)
         |SELECT 'fp-index' AS family, n AS n_loaded, n AS n_rebuilt,
         |  c AS checksum_loaded, c AS checksum_rebuilt, true AS consistent
         |FROM fpa
         |UNION ALL
         |SELECT 'cdc-index', n, n, c, c, true FROM cia""".stripMargin,
    // the same ceil-division + HUGEINT ppm arithmetic per candidate
    // length, three arms over one token-count CTE
    "q267_seqlen_sweep" -> {
      def arm(l: Long) =
        s"""SELECT CAST($l AS BIGINT) AS seq_len,
           |  CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(sum(n) AS BIGINT) AS n_tokens,
           |  CAST(sum((n + ${l - 1}) // $l) AS BIGINT) AS n_chunks,
           |  CAST((CAST(sum((n + ${l - 1}) // $l) AS HUGEINT) * $l - sum(n))
           |    * 1000000 // greatest(sum((n + ${l - 1}) // $l) * $l, 1)
           |    AS BIGINT) AS pad_waste_ppm,
           |  CAST(CAST(sum(greatest(n - $l, 0)) AS HUGEINT) * 1000000
           |    // greatest(sum(n), 1) AS BIGINT) AS trunc_loss_ppm
           |FROM m""".stripMargin
      s"""WITH m AS (SELECT CAST(len($toksSql) AS BIGINT) AS n FROM documents)
         |${SeqLens.map(arm).mkString("\nUNION ALL\n")}""".stripMargin
    },
    // the shared gram chain bucketed into id-ordered quarters; first
    // occurrence as a gram-keyed min, the curve as 4-row arithmetic
    "q266_novelty_curve" ->
      s"""WITH $gramCtes,
         |b AS (SELECT min(doc_id) AS lo, max(doc_id) AS hi FROM documents),
         |de AS (SELECT d.doc_id,
         |    least(3, (d.doc_id - b.lo) * 4 // (b.hi - b.lo + 1)) AS epoch
         |  FROM documents d, b),
         |ge AS (SELECT DISTINCT de.epoch, u.gk
         |  FROM g JOIN de ON g.doc_id = de.doc_id, unnest(g.gs) AS u(gk)),
         |dcnt AS (SELECT epoch, CAST(count(*) AS BIGINT) AS d_e
         |  FROM ge GROUP BY 1),
         |ne AS (SELECT fe AS epoch, CAST(count(*) AS BIGINT) AS new_e
         |  FROM (SELECT gk, min(epoch) AS fe FROM ge GROUP BY 1) GROUP BY 1),
         |nd AS (SELECT epoch, CAST(count(*) AS BIGINT) AS n_docs
         |  FROM de GROUP BY 1)
         |SELECT CAST(nd.epoch AS BIGINT) AS epoch, n_docs,
         |  coalesce(d_e, 0) AS d_e, coalesce(new_e, 0) AS new_e,
         |  CAST(sum(coalesce(new_e, 0)) OVER (ORDER BY nd.epoch) AS BIGINT)
         |    AS cum_distinct,
         |  CAST(coalesce(new_e, 0) * 1000000
         |    // greatest(coalesce(d_e, 0), 1) AS BIGINT) AS novelty_ppm
         |FROM nd LEFT JOIN dcnt ON nd.epoch = dcnt.epoch
         |LEFT JOIN ne ON nd.epoch = ne.epoch""".stripMargin,
    // the sample replayed as the hash-priority window rank; stats in
    // HUGEINT/decimal fixed point with the same integer divisions
    "q264_sample_fidelity" ->
      s"""WITH m AS (SELECT doc_id, coalesce(source, '(null)') AS source,
         |    CAST(len($toksSql) AS BIGINT) AS n_tok FROM documents),
         |r AS (SELECT source, doc_id, row_number() OVER (PARTITION BY source
         |    ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
         |      ASC, doc_id ASC) AS rk FROM m),
         |smp AS (SELECT m.source, m.doc_id, m.n_tok FROM r
         |  JOIN m ON r.source = m.source AND r.doc_id = m.doc_id
         |  WHERE rk <= $FidelityK),
         |fs AS (SELECT source, CAST(count(*) AS BIGINT) AS full_n,
         |    CAST(CAST(sum(n_tok) AS HUGEINT) * 1000000 // count(*) AS BIGINT)
         |      AS full_mean_tok_fp,
         |    CAST(CAST(sum(CASE WHEN n_tok < $ShortDocTok THEN 1 ELSE 0 END)
         |      AS HUGEINT) * 1000000 // count(*) AS BIGINT) AS full_short_ppm
         |  FROM m GROUP BY 1),
         |ss AS (SELECT source, CAST(count(*) AS BIGINT) AS smp_n,
         |    CAST(CAST(sum(n_tok) AS HUGEINT) * 1000000 // count(*) AS BIGINT)
         |      AS smp_mean_tok_fp,
         |    CAST(CAST(sum(CASE WHEN n_tok < $ShortDocTok THEN 1 ELSE 0 END)
         |      AS HUGEINT) * 1000000 // count(*) AS BIGINT) AS smp_short_ppm
         |  FROM smp GROUP BY 1)
         |SELECT source, full_n, smp_n, full_mean_tok_fp, smp_mean_tok_fp,
         |  smp_mean_tok_fp - full_mean_tok_fp AS mean_err_fp,
         |  full_short_ppm, smp_short_ppm,
         |  smp_short_ppm - full_short_ppm AS short_err_ppm
         |FROM fs JOIN ss USING (source)""".stripMargin,
    // per-source grids bucket-summed; both quantile reads + the exact
    // corpus rank replayed with the shared integer algebra
    "q265_hist_rollup" ->
      s"""WITH m AS (SELECT doc_id, coalesce(source, '(null)') AS g,
         |    CAST(len($toksSql) AS BIGINT) AS n FROM documents),
         |hs AS (SELECT g, CAST(length(bin(n)) AS INTEGER) AS bucket,
         |    count(*) AS cnt FROM m GROUP BY 1, 2),
         |rolled AS (SELECT bucket, CAST(sum(cnt) AS BIGINT) AS cnt
         |  FROM hs GROUP BY 1),
         |direct AS (SELECT CAST(length(bin(n)) AS INTEGER) AS bucket,
         |    CAST(count(*) AS BIGINT) AS cnt FROM m GROUP BY 1),
         |cells AS (SELECT CAST(count(*) AS BIGINT) AS n_buckets,
         |    bool_and(coalesce(r.cnt = d.cnt, FALSE)) AS cells_match
         |  FROM rolled r FULL JOIN direct d USING (bucket)),
         |t AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM m),
         |cr AS (SELECT bucket, sum(cnt) OVER (ORDER BY bucket) AS cum FROM rolled),
         |cd AS (SELECT bucket, sum(cnt) OVER (ORDER BY bucket) AS cum FROM direct),
         |er50 AS (SELECT ((1::BIGINT << (b - 1)) + (1::BIGINT << b) - 1) // 2
         |    AS rolled_p50 FROM (SELECT min(bucket) AS b FROM cr, t
         |    WHERE cum >= (n_docs * 50 + 99) // 100)),
         |er90 AS (SELECT ((1::BIGINT << (b - 1)) + (1::BIGINT << b) - 1) // 2
         |    AS rolled_p90 FROM (SELECT min(bucket) AS b FROM cr, t
         |    WHERE cum >= (n_docs * 90 + 99) // 100)),
         |ed50 AS (SELECT ((1::BIGINT << (b - 1)) + (1::BIGINT << b) - 1) // 2
         |    AS direct_p50 FROM (SELECT min(bucket) AS b FROM cd, t
         |    WHERE cum >= (n_docs * 50 + 99) // 100)),
         |ed90 AS (SELECT ((1::BIGINT << (b - 1)) + (1::BIGINT << b) - 1) // 2
         |    AS direct_p90 FROM (SELECT min(bucket) AS b FROM cd, t
         |    WHERE cum >= (n_docs * 90 + 99) // 100)),
         |rk AS (SELECT n, doc_id, row_number() OVER (ORDER BY n, doc_id)
         |    AS rn FROM m),
         |x50 AS (SELECT n AS exact_p50 FROM rk, t
         |  WHERE rn = (n_docs * 50 + 99) // 100),
         |x90 AS (SELECT n AS exact_p90 FROM rk, t
         |  WHERE rn = (n_docs * 90 + 99) // 100)
         |SELECT n_buckets, cells_match, rolled_p50, direct_p50, exact_p50,
         |  rolled_p90, direct_p90, exact_p90
         |FROM cells, er50, ed50, x50, er90, ed90, x90""".stripMargin,
    // slice counters replayed from per-token slice counts; merge =
    // cell sum; probes LEFT-join with zero for absent cells
    "q263_cm_incremental" ->
      s"""WITH e AS (SELECT doc_id, unnest($toksSql) AS w FROM documents),
         |cnt AS (SELECT w, CAST(count(*) AS BIGINT) AS n_exact FROM e GROUP BY w),
         |hcnt AS (SELECT w, CAST(count(*) AS BIGINT) AS n FROM e
         |  WHERE doc_id % $CmArrivalMod != 0 GROUP BY w),
         |dcnt AS (SELECT w, CAST(count(*) AS BIGINT) AS n FROM e
         |  WHERE doc_id % $CmArrivalMod = 0 GROUP BY w),
         |hb AS (SELECT w, j,
         |    ('0x' || substr(md5(w), j * 8 + 1, 8))::BIGINT % $CmWidth AS b
         |  FROM cnt, unnest([0, 1, 2, 3]) t(j)),
         |hctr AS (SELECT j, b, CAST(sum(hcnt.n) AS BIGINT) AS tot
         |  FROM hb JOIN hcnt USING (w) GROUP BY j, b),
         |dctr AS (SELECT j, b, CAST(sum(dcnt.n) AS BIGINT) AS tot
         |  FROM hb JOIN dcnt USING (w) GROUP BY j, b),
         |mctr AS (SELECT j, b, CAST(sum(tot) AS BIGINT) AS tot
         |  FROM (SELECT * FROM hctr UNION ALL SELECT * FROM dctr)
         |  GROUP BY j, b),
         |ctr AS (SELECT j, b, CAST(sum(cnt.n_exact) AS BIGINT) AS tot
         |  FROM hb JOIN cnt USING (w) GROUP BY j, b),
         |top AS (SELECT w, n_exact FROM cnt
         |  ORDER BY n_exact DESC, w ASC LIMIT $CmTopK),
         |probe AS (SELECT top.w, top.n_exact, hb.j, hb.b
         |  FROM top JOIN hb USING (w)),
         |eh AS (SELECT w, n_exact, CAST(min(coalesce(hctr.tot, 0)) AS BIGINT)
         |    AS est_history FROM probe LEFT JOIN hctr
         |    ON probe.j = hctr.j AND probe.b = hctr.b GROUP BY 1, 2),
         |ed AS (SELECT w, n_exact, CAST(min(coalesce(dctr.tot, 0)) AS BIGINT)
         |    AS est_delta FROM probe LEFT JOIN dctr
         |    ON probe.j = dctr.j AND probe.b = dctr.b GROUP BY 1, 2),
         |em AS (SELECT w, n_exact, CAST(min(coalesce(mctr.tot, 0)) AS BIGINT)
         |    AS est_merged FROM probe LEFT JOIN mctr
         |    ON probe.j = mctr.j AND probe.b = mctr.b GROUP BY 1, 2),
         |eg AS (SELECT w, n_exact, CAST(min(coalesce(ctr.tot, 0)) AS BIGINT)
         |    AS est_direct FROM probe LEFT JOIN ctr
         |    ON probe.j = ctr.j AND probe.b = ctr.b GROUP BY 1, 2)
         |SELECT eh.w, eh.n_exact, est_history, est_delta, est_merged,
         |  est_direct, (est_merged = est_direct) AS merge_exact,
         |  est_merged - eh.n_exact AS overcount
         |FROM eh JOIN ed ON eh.w = ed.w JOIN em ON eh.w = em.w
         |JOIN eg ON eh.w = eg.w""".stripMargin,
    // the hash-priority rank the bounded aggregator avoids sorting for
    "q262_bottomk_sample" ->
      s"""WITH p AS (SELECT coalesce(source, '(null)') AS source, doc_id,
         |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS h
         |  FROM documents),
         |r AS (SELECT source, doc_id, h, row_number() OVER (PARTITION BY source
         |    ORDER BY h ASC, doc_id ASC) AS rank FROM p)
         |SELECT source, CAST(rank AS BIGINT) AS rank, h, doc_id
         |FROM r WHERE rank <= $BottomkSampleK""".stripMargin,
    // the same integer histogram/rank algebra: binary digit count as
    // the bucket, bit-shift midpoints, ceil-rank via integer div
    "q261_quantile_sketch" ->
      s"""WITH m AS (SELECT doc_id, coalesce(source, '(null)') AS g,
         |    CAST(len($toksSql) AS BIGINT) AS n FROM documents),
         |t AS (SELECT g, CAST(count(*) AS BIGINT) AS n_docs FROM m GROUP BY 1),
         |h AS (SELECT g, CAST(length(bin(n)) AS INTEGER) AS bucket,
         |    count(*) AS cnt FROM m GROUP BY 1, 2),
         |c AS (SELECT g, bucket,
         |    sum(cnt) OVER (PARTITION BY g ORDER BY bucket) AS cum FROM h),
         |r AS (SELECT g, n, row_number()
         |    OVER (PARTITION BY g ORDER BY n, doc_id) AS rn FROM m),
         |b50 AS (SELECT c.g, min(bucket) AS b FROM c JOIN t ON c.g = t.g
         |  WHERE cum >= (n_docs * 50 + 99) // 100 GROUP BY 1),
         |e50 AS (SELECT g, ((1::BIGINT << (b - 1)) + (1::BIGINT << b) - 1)
         |    // 2 AS est_p50 FROM b50),
         |x50 AS (SELECT r.g, n AS exact_p50 FROM r JOIN t ON r.g = t.g
         |  AND rn = (n_docs * 50 + 99) // 100),
         |b90 AS (SELECT c.g, min(bucket) AS b FROM c JOIN t ON c.g = t.g
         |  WHERE cum >= (n_docs * 90 + 99) // 100 GROUP BY 1),
         |e90 AS (SELECT g, ((1::BIGINT << (b - 1)) + (1::BIGINT << b) - 1)
         |    // 2 AS est_p90 FROM b90),
         |x90 AS (SELECT r.g, n AS exact_p90 FROM r JOIN t ON r.g = t.g
         |  AND rn = (n_docs * 90 + 99) // 100)
         |SELECT t.g AS source, n_docs, est_p50, exact_p50,
         |  est_p50 - exact_p50 AS err_p50,
         |  est_p90, exact_p90, est_p90 - exact_p90 AS err_p90
         |FROM t JOIN e50 ON t.g = e50.g JOIN x50 ON t.g = x50.g
         |JOIN e90 ON t.g = e90.g JOIN x90 ON t.g = x90.g""".stripMargin,
    // the aggregator's total order replayed as a row_number window —
    // the oracle can afford the sort the 100 TB side avoids
    "q252_topk_agg" ->
      s"""WITH $rulesCtes,
         |q AS (SELECT rr.doc_id, coalesce(d.source, '(null)') AS source,
         |    rr.quality_fp
         |  FROM rr JOIN documents d USING (doc_id)),
         |r AS (SELECT source, doc_id, quality_fp,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY quality_fp DESC, doc_id ASC) AS rank
         |  FROM q)
         |SELECT source, CAST(rank AS BIGINT) AS rank,
         |  CAST(quality_fp AS BIGINT) AS quality_fp, doc_id
         |FROM r WHERE rank <= 3""".stripMargin,
    // q247's clean-arm hash replay split on the arrival convention;
    // loaded variant is byte-identical ⇒ shares the oracle
    "q250_perceptual_admission" -> q250Sql,
    "q251_perceptual_admission_loaded" -> q250Sql,
    // the synthetic BMP's pixel function (data byte i = i % 251,
    // bottom-up rows) replayed arithmetically: NN 9×8 sample, gray
    // and its +1-noise twin (every 37th data byte; values ≤ 250 so
    // +1 never wraps), gradient bits string_agg'd in grid order.
    // n_byte_changed = count(*): data index 0 always perturbs.
    "q247_perceptual_dups" ->
      s"""WITH imgs AS (SELECT doc_id, (doc_id % 64) + 1 AS w,
         |    ((doc_id * 7) % 48) + 1 AS h FROM documents WHERE doc_id % 2 = 0),
         |i2 AS (SELECT doc_id, w, h, ((w * 3 + 3) // 4) * 4 AS stride FROM imgs),
         |grid AS (SELECT doc_id, w, h, stride, ty.v AS ty, tx.v AS tx
         |  FROM i2, unnest(range(0, 8)) ty(v), unnest(range(0, 9)) tx(v)),
         |smp AS (SELECT doc_id, ty, tx,
         |    (h - 1 - (ty * h // 8)) * stride + (tx * w // 9) * 3 AS o
         |  FROM grid),
         |g AS (SELECT doc_id, ty, tx,
         |    (o % 251) + ((o + 1) % 251) + ((o + 2) % 251) AS gray,
         |    (o % 251) + ((o + 1) % 251) + ((o + 2) % 251)
         |      + (CASE WHEN o % $PerturbStep = 0 THEN 1 ELSE 0 END)
         |      + (CASE WHEN (o + 1) % $PerturbStep = 0 THEN 1 ELSE 0 END)
         |      + (CASE WHEN (o + 2) % $PerturbStep = 0 THEN 1 ELSE 0 END)
         |      AS gray_p,
         |    ((o % 251) + (CASE WHEN o % $HeavyStep = 0
         |        THEN $HeavyDelta ELSE 0 END)) % 256
         |      + (((o + 1) % 251) + (CASE WHEN (o + 1) % $HeavyStep = 0
         |        THEN $HeavyDelta ELSE 0 END)) % 256
         |      + (((o + 2) % 251) + (CASE WHEN (o + 2) % $HeavyStep = 0
         |        THEN $HeavyDelta ELSE 0 END)) % 256 AS gray_v
         |  FROM smp),
         |b AS (SELECT a.doc_id, a.ty, a.tx,
         |    CASE WHEN a.gray > c.gray THEN '1' ELSE '0' END AS bit,
         |    CASE WHEN a.gray_p > c.gray_p THEN '1' ELSE '0' END AS bit_p,
         |    CASE WHEN a.gray_v > c.gray_v THEN '1' ELSE '0' END AS bit_v
         |  FROM g a JOIN g c ON a.doc_id = c.doc_id AND a.ty = c.ty
         |    AND c.tx = a.tx + 1
         |  WHERE a.tx < 8),
         |hh AS (SELECT b.doc_id,
         |    string_agg(bit, '' ORDER BY ty, tx) AS hs,
         |    string_agg(bit_p, '' ORDER BY ty, tx) AS hp,
         |    string_agg(bit_v, '' ORDER BY ty, tx) AS hv
         |  FROM b GROUP BY b.doc_id),
         |j AS (SELECT hh.doc_id, i2.w || ':' || i2.h AS dims, hs, hp, hv
         |  FROM hh JOIN i2 ON hh.doc_id = i2.doc_id)
         |SELECT CAST(count(*) AS BIGINT) AS n_images,
         |  CAST(count(DISTINCT dims) AS BIGINT) AS n_distinct_content,
         |  CAST(count(DISTINCT hs) AS BIGINT) AS n_distinct_dhash,
         |  CAST(count(*) AS BIGINT) AS n_byte_changed,
         |  CAST(sum(CASE WHEN hs = hp THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_dhash_stable,
         |  CAST(sum(CASE WHEN hs = hv THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_heavy_stable,
         |  CAST(sum(CASE WHEN hs = hp THEN 1 ELSE 0 END) * 1000000
         |    // greatest(count(*), 1) AS BIGINT) AS stable_ppm,
         |  CAST(sum(CASE WHEN hs = hv THEN 1 ELSE 0 END) * 1000000
         |    // greatest(count(*), 1) AS BIGINT) AS heavy_stable_ppm
         |FROM j""".stripMargin,
    // the full estimator replayed: same md5-mod-P bases (n=1
    // shingles, blank docs carry the '' shingle), same bucket fold,
    // same add-one-smoothed HUGEINT ratio arithmetic, same top-K
    // tie-break on doc_id
    "q281_importance_select" ->
      s"""WITH base AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |sh AS (SELECT doc_id, CASE WHEN len(toks) = 0 THEN ['']
         |    ELSE toks END AS shingles FROM base),
         |bc AS (SELECT doc_id,
         |    (('0x' || substr(md5(t), 1, 15))::BIGINT
         |      % ${graft.llm.MinHashLSH.P}) % $ImpBuckets AS b,
         |    count(*) AS c
         |  FROM sh, unnest(shingles) AS u(t) GROUP BY 1, 2),
         |tb AS (SELECT b, sum(c) AS tc FROM bc JOIN documents USING (doc_id)
         |  WHERE lang = '$ImpTargetLang' GROUP BY 1),
         |rb AS (SELECT b, sum(c) AS rc FROM bc GROUP BY 1),
         |tt AS (SELECT sum(c) AS v FROM bc JOIN documents USING (doc_id)
         |  WHERE lang = '$ImpTargetLang'),
         |rt AS (SELECT sum(c) AS v FROM bc),
         |w AS (SELECT rb.b,
         |    CAST((1000000::HUGEINT * (coalesce(tb.tc, 0) + 1)
         |        * ((SELECT v FROM rt) + $ImpBuckets))
         |      // ((rb.rc + 1) * ((SELECT v FROM tt) + $ImpBuckets))
         |      AS BIGINT) AS w_ppm
         |  FROM rb LEFT JOIN tb USING (b)),
         |sc AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tok,
         |    CAST(sum(c::HUGEINT * w_ppm) // CAST(sum(c) AS HUGEINT)
         |      AS BIGINT) AS score_ppm
         |  FROM bc JOIN w USING (b) GROUP BY 1)
         |SELECT d.doc_id, d.lang, d.source, sc.n_tok, sc.score_ppm
         |FROM sc JOIN documents d USING (doc_id)
         |ORDER BY sc.score_ppm DESC, d.doc_id LIMIT $ImpSelectK""".stripMargin,
    // same bigram spelling as q37, same md5-mod-2 green predicate,
    // same floor/threshold arithmetic
    "q293_watermark_screen" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |g AS (SELECT doc_id,
         |    CASE WHEN len(toks) >= 2
         |      THEN list_transform(range(1, len(toks)),
         |        i -> array_to_string(toks[i:i+1], ' '))
         |      ELSE [] END AS g2 FROM t),
         |c AS (SELECT doc_id, CAST(len(g2) AS BIGINT) AS n_pairs,
         |    CAST(len(list_filter(g2, x ->
         |      ('0x' || substr(md5(x), 1, 15))::BIGINT % 2 = 0))
         |      AS BIGINT) AS n_green FROM g)
         |SELECT doc_id, n_pairs, n_green,
         |  CASE WHEN n_pairs = 0 THEN 0
         |    ELSE (n_green * 1000000) // n_pairs END AS green_ppm,
         |  (n_pairs >= $WmMinPairs AND 2 * n_green > n_pairs AND
         |   (2 * n_green - n_pairs) * (2 * n_green - n_pairs)
         |     >= 9 * n_pairs) AS flagged
         |FROM c""".stripMargin,
    // the shared rule CTEs; pass = zero reasons; the impact ratio
    // and four-fifths flag in HUGEINT against the best language
    "q292_gate_disparity" ->
      s"""WITH $rulesCtes,
         |v AS (SELECT rr.doc_id, coalesce(d.lang, '(null)') AS lang,
         |    CASE WHEN ($reasonsSql) = 0 THEN 1 ELSE 0 END AS pass
         |  FROM rr JOIN documents d ON rr.doc_id = d.doc_id),
         |bl AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(pass) AS BIGINT) AS n_pass FROM v GROUP BY 1),
         |pp AS (SELECT lang, n_docs, n_pass,
         |    CAST(n_pass::HUGEINT * 1000000 // greatest(n_docs, 1)
         |      AS BIGINT) AS pass_ppm FROM bl),
         |mx AS (SELECT max(pass_ppm) AS best FROM pp)
         |SELECT lang, n_docs, n_pass, pass_ppm,
         |  CAST(pass_ppm::HUGEINT * 1000000
         |    // greatest((SELECT best FROM mx), 1) AS BIGINT)
         |    AS impact_ppm,
         |  CAST(pass_ppm::HUGEINT * 1000000
         |    // greatest((SELECT best FROM mx), 1) AS BIGINT)
         |    < ${TextAnalysis.AdverseImpactPpm} AS adverse
         |FROM pp""".stripMargin,
    // the q42 postings CTEs + the same window predicate and min
    // distance over the joined lists
    "q291_proximity_search" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |e AS (SELECT doc_id, toks[i] AS w, i - 1 AS pos
         |  FROM t, unnest(range(1, len(toks) + 1)) AS u(i)),
         |p AS (SELECT w, doc_id, list_sort(list(pos)) AS ps
         |  FROM e GROUP BY w, doc_id),
         |j AS (SELECT a.doc_id,
         |    CAST(len(list_filter(a.ps, x ->
         |      len(list_filter(b.ps, y -> abs(x - y) <= $ProxWindow)) > 0))
         |      AS BIGINT) AS n_near,
         |    CAST(list_min(flatten(list_transform(a.ps, x ->
         |      list_transform(b.ps, y -> abs(x - y))))) AS BIGINT)
         |      AS min_dist
         |  FROM p a JOIN p b ON a.doc_id = b.doc_id
         |  WHERE a.w = '$PhraseW1' AND b.w = '$PhraseW2')
         |SELECT doc_id, n_near, min_dist FROM j WHERE n_near > 0"""
        .stripMargin,
    // same portable [.!?]+ split, same blank-segment drop, same
    // per-sentence token counts and centi-token floor
    "q290_sentence_stats" ->
      s"""WITH sen AS (SELECT doc_id,
         |    list_transform(
         |      list_filter(string_split_regex(coalesce(text, ''), '[.!?]+'),
         |        x -> length(trim(x)) > 0),
         |      x -> CAST(len(string_split_regex(trim(x), '\\s+'))
         |        AS BIGINT)) AS tl
         |  FROM documents),
         |st AS (SELECT doc_id, CAST(len(tl) AS BIGINT) AS n_sent,
         |    CAST(coalesce(list_sum(tl), 0) AS BIGINT) AS sent_tokens,
         |    CAST(coalesce(list_max(tl), 0) AS BIGINT) AS max_sent_tok
         |  FROM sen)
         |SELECT doc_id, n_sent, sent_tokens,
         |  CASE WHEN n_sent = 0 THEN 0
         |    ELSE (sent_tokens * 100) // n_sent END AS mean_ctok_per_sent,
         |  max_sent_tok,
         |  n_sent < $MinSentences AS few_sentences,
         |  max_sent_tok >= $RunOnTokens AS run_on
         |FROM st""".stripMargin,
    // both NB arms replayed through the shared CTE chain, per-doc
    // correctness paired, then the q283 resampler verbatim (same
    // uniform, same thresholds); +1 shift keeps integer division
    // non-negative on both engines
    "q288_paired_bootstrap" -> {
      val wSql = graft.llm.Bootstrap.PoissonCumPpb
        .map(t => s"(CASE WHEN u9 >= $t THEN 1 ELSE 0 END)").mkString(" + ")
      def arm(cond: String): String =
        s"""(WITH ${nbCtesFor(cond)},
           |  pred AS (SELECT doc_id, lab AS label_pred FROM (
           |      SELECT doc_id, lab, row_number() OVER (PARTITION BY doc_id
           |        ORDER BY votes DESC, lab ASC) AS rn FROM votes) t
           |    WHERE rn = 1)
           |  SELECT d.doc_id,
           |    CASE WHEN d.lang = coalesce(p.label_pred,
           |      '${graft.llm.NbClassifier.NoEvidenceLabel}')
           |      THEN 1 ELSE 0 END AS c
           |  FROM documents d JOIN spl USING (doc_id)
           |  LEFT JOIN pred p USING (doc_id)
           |  WHERE spl.split = 'test')""".stripMargin
      s"""WITH a AS ${arm("spl.split = 'train'")},
         |b AS ${arm("spl.split IN ('train', 'val')")},
         |dd AS (SELECT a.doc_id, 1 + b.c - a.c AS ds
         |  FROM a JOIN b USING (doc_id)),
         |e AS (SELECT doc_id, ds, rep FROM dd,
         |  unnest(range(0, $BootReps)) AS t(rep)),
         |u AS (SELECT rep, ds,
         |    ('0x' || substr(md5(doc_id || '|' || rep), 1, 15))::BIGINT
         |      % 1000000000 AS u9 FROM e),
         |w AS (SELECT rep, ds, $wSql AS w FROM u)
         |SELECT CAST(rep AS BIGINT) AS rep,
         |  CAST(sum(w) AS BIGINT) AS n_eff,
         |  CAST(sum(w * ds) * 1000 // greatest(sum(w), 1) AS BIGINT)
         |    - 1000 AS delta_macc
         |FROM w GROUP BY 1""".stripMargin
    },
    // independent spelling: per-char GROUP COUNTS (the Spark side is
    // a sorted-run fold) — same Σc(c−1)/(n(n−1)) rational
    "q287_char_collision" ->
      s"""WITH cs AS (SELECT doc_id,
         |    string_split(coalesce(text, ''), '') AS a FROM documents),
         |ct AS (SELECT doc_id, c, count(*) AS k
         |  FROM cs, unnest(a) AS u(c) GROUP BY 1, 2),
         |agg AS (SELECT doc_id, sum(k * (k - 1)) AS coll, sum(k) AS n
         |  FROM ct GROUP BY 1)
         |SELECT doc_id, CAST(n AS BIGINT) AS n_chars,
         |  CASE WHEN n < 2 THEN 0
         |    ELSE CAST(1000000::HUGEINT * coll
         |      // (n::HUGEINT * (n - 1)) AS BIGINT) END AS collision_ppm,
         |  (CASE WHEN n < 2 THEN 0
         |    ELSE CAST(1000000::HUGEINT * coll
         |      // (n::HUGEINT * (n - 1)) AS BIGINT) END)
         |    >= $SpamCollisionPpm AS flagged
         |FROM agg""".stripMargin,
    // ranks replayed with RANGE windows (all ties included = the
    // value-grid cumulative); same signal spellings, same floor/div
    "q286_review_queue" -> {
      def rankSql(c: String) =
        s"""CAST(1000000::HUGEINT * (count(*) OVER (ORDER BY $c
           |  RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
           |  // (count(*) OVER ()) AS BIGINT) AS rank_$c""".stripMargin
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |g AS (SELECT doc_id, toks,
         |    CASE WHEN len(toks) >= 3
         |      THEN list_transform(range(1, len(toks) - 1),
         |        i -> array_to_string(toks[i:i+2], ' '))
         |      ELSE [] END AS g3 FROM t),
         |sig AS (SELECT doc_id,
         |    coalesce(CAST(len(toks) AS BIGINT), 0) AS s_tok,
         |    coalesce($stopFpSql, 0) AS s_stop,
         |    1000000 - coalesce(CASE WHEN len(g3) = 0 THEN 0
         |      ELSE CAST(floor(1000000.0 *
         |        CAST(len(g3) - len(list_distinct(g3)) AS DOUBLE)
         |        / CAST(len(g3) AS DOUBLE)) AS BIGINT) END, 0) AS s_rep
         |  FROM g),
         |r AS (SELECT doc_id, ${rankSql("s_tok")}, ${rankSql("s_stop")},
         |    ${rankSql("s_rep")} FROM sig)
         |SELECT doc_id, rank_s_tok, rank_s_stop, rank_s_rep,
         |  CAST((rank_s_tok + rank_s_stop + rank_s_rep) // 3 AS BIGINT)
         |    AS fused_ppm
         |FROM r ORDER BY fused_ppm, doc_id LIMIT $ReviewK""".stripMargin
    },
    // same smoothed rational terms, same literal critical row —
    // the whole test replayed in HUGEINT
    // the pivot spelling equals the card wherever arrivals exist
    // (observed values stay inside the configured cell list), so the
    // monitor shares the card's oracle minus the zero-arrival rows
    "q289_drift_monitor" ->
      s"SELECT * FROM ($mixtureDriftSql) WHERE n_arr > 0",
    "q285_mixture_drift" -> mixtureDriftSql,
    // same md5-derived uniform, same eight literal CDF thresholds,
    // HUGEINT sums — the whole resampler replayed
    "q283_bootstrap_ci" -> {
      val wSql = graft.llm.Bootstrap.PoissonCumPpb
        .map(t => s"(CASE WHEN u9 >= $t THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH dl AS (SELECT doc_id, coalesce(len($toksSql), 0) AS x
         |  FROM documents),
         |e AS (SELECT doc_id, x, rep FROM dl,
         |  unnest(range(0, $BootReps)) AS t(rep)),
         |u AS (SELECT rep, x,
         |    ('0x' || substr(md5(doc_id || '|' || rep), 1, 15))::BIGINT
         |      % 1000000000 AS u9 FROM e),
         |w AS (SELECT rep, x, $wSql AS w FROM u)
         |SELECT CAST(rep AS BIGINT) AS rep, CAST(sum(w) AS BIGINT) AS n_eff,
         |  CAST(sum(w * x) * 1000 // greatest(sum(w), 1) AS BIGINT)
         |    AS mean_mtok
         |FROM w GROUP BY 1""".stripMargin
    },
    // weights trained on the corpus slice only (doc_id % 10 != 0,
    // target = its en sub-slice); arrivals score with the smoothing
    // constant standing in for training-unseen buckets
    "q282_importance_serve" ->
      s"""WITH base AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |sh AS (SELECT doc_id, CASE WHEN len(toks) = 0 THEN ['']
         |    ELSE toks END AS shingles FROM base),
         |bc AS (SELECT doc_id,
         |    (('0x' || substr(md5(t), 1, 15))::BIGINT
         |      % ${graft.llm.MinHashLSH.P}) % $ImpBuckets AS b,
         |    count(*) AS c
         |  FROM sh, unnest(shingles) AS u(t) GROUP BY 1, 2),
         |tb AS (SELECT b, sum(c) AS tc FROM bc JOIN documents USING (doc_id)
         |  WHERE doc_id % 10 != 0 AND lang = '$ImpTargetLang' GROUP BY 1),
         |rb AS (SELECT b, sum(c) AS rc FROM bc JOIN documents USING (doc_id)
         |  WHERE doc_id % 10 != 0 GROUP BY 1),
         |tt AS (SELECT sum(c) AS v FROM bc JOIN documents USING (doc_id)
         |  WHERE doc_id % 10 != 0 AND lang = '$ImpTargetLang'),
         |rt AS (SELECT sum(c) AS v FROM bc JOIN documents USING (doc_id)
         |  WHERE doc_id % 10 != 0),
         |w AS (SELECT rb.b,
         |    CAST((1000000::HUGEINT * (coalesce(tb.tc, 0) + 1)
         |        * ((SELECT v FROM rt) + $ImpBuckets))
         |      // ((rb.rc + 1) * ((SELECT v FROM tt) + $ImpBuckets))
         |      AS BIGINT) AS w_ppm
         |  FROM rb LEFT JOIN tb USING (b)),
         |w0 AS (SELECT CAST((1000000::HUGEINT
         |      * ((SELECT v FROM rt) + $ImpBuckets))
         |    // ((SELECT v FROM tt) + $ImpBuckets) AS BIGINT) AS v)
         |SELECT bc.doc_id, CAST(sum(c) AS BIGINT) AS n_tok,
         |  CAST(sum(c::HUGEINT * coalesce(w.w_ppm, (SELECT v FROM w0)))
         |    // CAST(sum(c) AS HUGEINT) AS BIGINT) AS score_ppm
         |FROM bc LEFT JOIN w USING (b)
         |WHERE bc.doc_id % 10 = 0 GROUP BY 1""".stripMargin,
    // variants planted by chr() arithmetic (233 = é composed, 769 =
    // combining acute, 201 = É); raw key = the established fp
    // spelling, normalized key adds nfc_normalize in front
    "q274_unicode_dedup" ->
      s"""WITH b AS (SELECT doc_id, text FROM documents
         |  WHERE doc_id % $UnicodeSliceMod = 0),
         |arr AS (
         |  SELECT doc_id AS orig_doc,
         |    text || ' caf' || chr(233) || ' menu' AS text FROM b
         |  UNION ALL SELECT doc_id,
         |    text || ' cafe' || chr(769) || ' menu' FROM b
         |  UNION ALL SELECT doc_id,
         |    text || ' CAF' || chr(201) || ' MENU' FROM b),
         |k AS (SELECT orig_doc,
         |  md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS raw_fp,
         |  md5(trim(regexp_replace(lower(nfc_normalize(text)),
         |    '\\s+', ' ', 'g'))) AS norm_fp FROM arr)
         |SELECT orig_doc, CAST(count(*) AS BIGINT) AS n_variants,
         |  CAST(count(DISTINCT raw_fp) AS BIGINT) AS n_raw_fps,
         |  CAST(count(DISTINCT norm_fp) AS BIGINT) AS n_norm_fps,
         |  (count(DISTINCT norm_fp) = 1) AS norm_collapsed
         |FROM k GROUP BY 1""".stripMargin,
    // plant (key arithmetic), corrupt, detect, repair — the replace
    // chains mirror MojibakePairs in order on both engines
    "q239_mojibake" ->
      s"""WITH d0 AS (SELECT coalesce(source, '(null)') AS source,
         |    doc_id % $MojiPlantMod = 0 AS planted,
         |    coalesce(text, '') AS t0 FROM documents),
         |d1 AS (SELECT source, planted,
         |    CASE WHEN planted THEN replace(replace(t0, 'e', 'é'), 'u', 'ü')
         |         ELSE t0 END AS pre FROM d0),
         |d2 AS (SELECT source, planted, pre,
         |    CASE WHEN planted
         |      THEN replace(replace(pre, 'é', 'Ã©'), 'ü', 'Ã¼')
         |      ELSE pre END AS cur FROM d1),
         |d3 AS (SELECT source, planted,
         |    CAST(length(cur) - length(replace(cur, 'Ã', '')) AS BIGINT) AS art,
         |    replace(replace(cur, 'Ã¼', 'ü'), 'Ã©', 'é') = pre AS rt_ok
         |  FROM d2)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN planted THEN 1 ELSE 0 END) AS BIGINT) AS n_planted,
         |  CAST(sum(CASE WHEN art > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_detected,
         |  CAST(sum(art) AS BIGINT) AS artifact_chars,
         |  CAST(sum(CASE WHEN rt_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_roundtrip_ok,
         |  CAST(sum(CASE WHEN art > 0 THEN 1 ELSE 0 END) * 1000000
         |    // greatest(count(*), 1) AS BIGINT) AS detected_ppm
         |FROM d3 GROUP BY source""".stripMargin,
    // ONE shared rolling-hash frame, three suffixed chunk chains; per
    // arm a grouped ck pass and the EXCEPT-emptiness nesting proof
    "q248_cdc_sweep" -> {
      def armSql(d: Long, sfx: String, finer: Option[String]): String = {
        val un = finer match {
          case Some(f) =>
            s"""un$sfx AS (SELECT CAST(count(*) AS BIGINT) AS n_unnested FROM
               |  (SELECT doc_id, st FROM ck$sfx
               |   EXCEPT SELECT doc_id, st FROM ck$f))""".stripMargin
          case None =>
            s"un$sfx AS (SELECT CAST(0 AS BIGINT) AS n_unnested)"
        }
        s"""g$sfx AS (SELECT ck, CAST(count(*) AS BIGINT) AS cnt,
           |    min(len) AS l FROM ck$sfx GROUP BY ck),
           |st$sfx AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_chunks,
           |    CAST(sum(cnt * l) AS BIGINT) AS total_bytes,
           |    CAST(count(*) AS BIGINT) AS n_distinct_chunks,
           |    CAST(sum(l) AS BIGINT) AS store_bytes FROM g$sfx),
           |$un""".stripMargin
      }
      def rowSql(d: Long, sfx: String): String =
        s"""SELECT CAST($d AS BIGINT) AS divisor, n_chunks, total_bytes,
           |  CAST(total_bytes // greatest(n_chunks, 1) AS BIGINT)
           |    AS avg_chunk_bytes,
           |  n_distinct_chunks,
           |  CAST(total_bytes - store_bytes AS BIGINT) AS dup_bytes_saved,
           |  CAST(CAST(total_bytes - store_bytes AS HUGEINT) * 1000000
           |    // greatest(total_bytes, 1) AS BIGINT) AS savings_ppm,
           |  n_unnested
           |FROM st$sfx CROSS JOIN un$sfx""".stripMargin
      s"""WITH $rollingCtes,
         |${cdcChainFor(32, "_32")},
         |${cdcChainFor(64, "_64")},
         |${cdcChainFor(128, "_128")},
         |${armSql(32, "_32", None)},
         |${armSql(64, "_64", Some("_32"))},
         |${armSql(128, "_128", Some("_64"))}
         |${rowSql(32, "_32")}
         |UNION ALL ${rowSql(64, "_64")}
         |UNION ALL ${rowSql(128, "_128")}""".stripMargin
    },
    // the shared chunk CTEs split on the q194 arrival convention; the
    // admission left join replayed per arriving doc
    "q235_cdc_admission" -> q235Sql,
    // loaded-index replay is byte-identical ⇒ shares the oracle
    "q236_cdc_admission_loaded" -> q235Sql,
    // the shared rolling-hash CTEs (the q28 spelling), cut predicate,
    // chunk assembly, and the lowercased-hex md5 chunk identity
    "q234_cdc_dedup" -> {
      s"""WITH $cdcCkCtes,
         |r AS (SELECT d.source, ck.len,
         |    row_number() OVER (PARTITION BY ck.ck
         |      ORDER BY ck.doc_id, ck.st) AS rn
         |  FROM ck JOIN (SELECT doc_id, coalesce(source, '(null)') AS source
         |    FROM documents) d USING (doc_id))
         |SELECT source, CAST(count(*) AS BIGINT) AS n_chunks,
         |  CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_dup_chunks,
         |  CAST(sum(len) AS BIGINT) AS total_bytes,
         |  CAST(sum(CASE WHEN rn > 1 THEN len ELSE 0 END) AS BIGINT)
         |    AS dup_bytes,
         |  CAST(sum(len) // greatest(count(*), 1) AS BIGINT)
         |    AS mean_chunk_bytes,
         |  CAST(CAST(sum(CASE WHEN rn > 1 THEN len ELSE 0 END) AS HUGEINT)
         |    * 1000000 // greatest(sum(len), 1) AS BIGINT) AS savings_ppm
         |FROM r GROUP BY source""".stripMargin
    },
    // the same md5 argmax per (doc, shard) under both shard counts —
    // arg_max over the unnested shard list replays the row-local fold
    // HRW replayed via the q233 chain; Simpson + L1 in exact
    // HUGEINT/decimal arithmetic over the shards×sources grid
    "q275_shard_mixture" -> {
      val chain =
        s"""e AS (SELECT doc_id, x,
           |    md5(CAST(doc_id AS VARCHAR) || ':' || CAST(x AS VARCHAR)) AS h
           |  FROM documents, unnest(range(0, $MixShards)) AS u(x)),
           |o AS (SELECT doc_id, CAST(arg_max(x, h) AS BIGINT) AS shard
           |  FROM e GROUP BY doc_id)""".stripMargin
      s"""WITH $chain,
         |d AS (SELECT o.shard, coalesce(dd.source, '(null)') AS source
         |  FROM documents dd JOIN o USING (doc_id)),
         |cell AS (SELECT shard, source, CAST(count(*) AS BIGINT) AS c
         |  FROM d GROUP BY 1, 2),
         |st AS (SELECT shard, CAST(sum(c) AS BIGINT) AS n
         |  FROM cell GROUP BY 1),
         |g AS (SELECT source, CAST(sum(c) AS BIGINT) AS gc
         |  FROM cell GROUP BY 1),
         |t AS (SELECT CAST(sum(c) AS BIGINT) AS n_tot FROM cell),
         |grid AS (SELECT st.shard, st.n, g.source, g.gc,
         |    coalesce(cell.c, 0) AS c, t.n_tot
         |  FROM st CROSS JOIN g CROSS JOIN t
         |  LEFT JOIN cell ON cell.shard = st.shard
         |    AND cell.source = g.source),
         |l1 AS (SELECT shard,
         |    CAST(sum(abs(CAST(c AS HUGEINT) * 1000000 // n
         |      - CAST(gc AS HUGEINT) * 1000000 // n_tot)) AS BIGINT)
         |      AS l1_vs_global_ppm,
         |    CAST(sum(CASE WHEN c > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_sources
         |  FROM grid GROUP BY 1),
         |sp AS (SELECT shard,
         |    CAST(1000000 - (sum(CAST(c AS HUGEINT) * c) * 1000000)
         |      // (CAST(n AS HUGEINT) * n) AS BIGINT) AS simpson_ppm
         |  FROM cell JOIN st USING (shard) GROUP BY shard, n)
         |SELECT st.shard, st.n AS n_docs, l1.n_sources, sp.simpson_ppm,
         |  l1.l1_vs_global_ppm
         |FROM st JOIN l1 USING (shard) JOIN sp USING (shard)""".stripMargin
    },
    // sums, the corrected-isqrt weight, BOTH largest-remainder
    // apportionments, and the Cauchy–Schwarz ratio in HUGEINT
    "q307_neyman_allocation" -> {
      def apportion(wcol: String, name: String) =
        s"""${name}_base AS (SELECT stratum,
           |    CAST(CAST($wcol AS HUGEINT) * $NeymanBudget
           |      // greatest((SELECT sum($wcol) FROM w), 1) AS BIGINT) AS fl,
           |    CAST($wcol AS HUGEINT) * $NeymanBudget
           |      % greatest((SELECT sum($wcol) FROM w), 1) AS remv
           |  FROM w),
           |$name AS (SELECT stratum, CAST(fl + CASE WHEN
           |    row_number() OVER (ORDER BY remv DESC, stratum)
           |      <= $NeymanBudget - (SELECT sum(fl) FROM ${name}_base)
           |    THEN 1 ELSE 0 END AS BIGINT) AS $name
           |  FROM ${name}_base)""".stripMargin
      s"""WITH d AS (SELECT coalesce(source, '(null)') AS stratum,
         |    CAST(len($toksSql) AS BIGINT) AS m FROM documents),
         |a AS (SELECT stratum, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(m) AS BIGINT) AS st,
         |    CAST(sum(CAST(m AS HUGEINT) * m) AS HUGEINT) AS st2
         |  FROM d GROUP BY 1),
         |v AS (SELECT *, CAST(CAST(n_docs AS HUGEINT) * st2
         |    - CAST(st AS HUGEINT) * st AS BIGINT) AS varnum FROM a),
         |sq AS (SELECT *, CAST(floor(sqrt(CAST(varnum AS DOUBLE)))
         |    AS BIGINT) AS s0 FROM v),
         |dn AS (SELECT *, CASE WHEN s0 * s0 > varnum THEN s0 - 1
         |    ELSE s0 END AS d0 FROM sq),
         |w AS (SELECT stratum, n_docs, varnum,
         |    CASE WHEN (d0 + 1) * (d0 + 1) <= varnum THEN d0 + 1
         |      ELSE d0 END AS w FROM dn),
         |${apportion("w", "alloc_neyman")},
         |${apportion("n_docs", "alloc_prop")},
         |vr AS (SELECT CAST(CASE WHEN nn * tv > 0
         |    THEN sw * sw * 1000000 // (nn * tv) ELSE 1000000 END
         |    AS BIGINT) AS neyman_vs_prop_ppm
         |  FROM (SELECT CAST(sum(w) AS HUGEINT) AS sw,
         |      CAST(sum(n_docs) AS HUGEINT) AS nn,
         |      CAST(sum(varnum // n_docs) AS HUGEINT) AS tv FROM w))
         |SELECT w.stratum, w.n_docs, w.w, alloc_neyman, alloc_prop,
         |  neyman_vs_prop_ppm
         |FROM w JOIN alloc_neyman USING (stratum)
         |JOIN alloc_prop USING (stratum), vr
         |ORDER BY w.stratum""".stripMargin
    },
    // the schedule replayed end to end: hash32, per-(shard, source)
    // ranks, the stride slot, the (slot, source, key) total order,
    // batching, and the q275 L1 grid
    "q306_mixture_schedule" ->
      s"""WITH b AS (SELECT doc_id, coalesce(source, '(null)') AS source,
         |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS h
         |  FROM documents WHERE doc_id IS NOT NULL),
         |s1 AS (SELECT *, h % $SchedShards AS shard FROM b),
         |s2 AS (SELECT *,
         |    CAST(row_number() OVER (PARTITION BY shard, source
         |      ORDER BY h, doc_id) AS BIGINT) AS r,
         |    CAST(count(*) OVER (PARTITION BY shard, source) AS BIGINT) AS ns,
         |    CAST(count(*) OVER (PARTITION BY shard) AS BIGINT) AS n
         |  FROM s1),
         |s3 AS (SELECT *, (2 * r - 1) * n // (2 * ns) AS slot FROM s2),
         |sched AS (
         |  SELECT 'stride' AS scheme, shard, source,
         |    CAST(row_number() OVER (PARTITION BY shard
         |      ORDER BY slot, source, doc_id) AS BIGINT) AS pos
         |  FROM s3
         |  UNION ALL
         |  SELECT 'hash_order' AS scheme, shard, source,
         |    CAST(row_number() OVER (PARTITION BY shard
         |      ORDER BY h, doc_id) AS BIGINT) AS pos
         |  FROM s1),
         |cell AS (SELECT scheme, shard, (pos - 1) // $SchedBatch AS batch,
         |    source, CAST(count(*) AS BIGINT) AS c
         |  FROM sched GROUP BY 1, 2, 3, 4),
         |st AS (SELECT scheme, shard, batch, CAST(sum(c) AS BIGINT) AS n
         |  FROM cell GROUP BY 1, 2, 3),
         |g AS (SELECT scheme, source, CAST(sum(c) AS BIGINT) AS gc
         |  FROM cell GROUP BY 1, 2),
         |t AS (SELECT scheme, CAST(sum(c) AS BIGINT) AS n_tot
         |  FROM cell GROUP BY 1),
         |grid AS (SELECT st.scheme, st.shard, st.batch, st.n, g.source,
         |    g.gc, coalesce(cell.c, 0) AS c, t.n_tot
         |  FROM st JOIN g ON g.scheme = st.scheme
         |  JOIN t ON t.scheme = st.scheme
         |  LEFT JOIN cell ON cell.scheme = st.scheme
         |    AND cell.shard = st.shard
         |    AND cell.batch = st.batch AND cell.source = g.source)
         |SELECT scheme, shard, batch, n AS n_docs,
         |  CAST(sum(CASE WHEN c > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_sources,
         |  CAST(sum(abs(CAST(c AS HUGEINT) * 1000000 // n
         |    - CAST(gc AS HUGEINT) * 1000000 // n_tot)) AS BIGINT)
         |    AS l1_vs_global_ppm
         |FROM grid GROUP BY scheme, shard, batch, n""".stripMargin,
    "q233_reshard_card" -> {
      def chain(n: Int, tag: String) =
        s"""e$tag AS (SELECT doc_id, x,
           |    md5(CAST(doc_id AS VARCHAR) || ':' || CAST(x AS VARCHAR)) AS h
           |  FROM documents, unnest(range(0, $n)) AS u(x)),
           |o$tag AS (SELECT doc_id, arg_max(x, h) AS s_$tag
           |  FROM e$tag GROUP BY doc_id)""".stripMargin
      s"""WITH ${chain(ReshardFrom, "old")},
         |${chain(ReshardFrom + 1, "new")},
         |j AS (SELECT s_old, s_new FROM oold JOIN onew USING (doc_id))
         |SELECT CAST(s_old AS BIGINT) AS s_old,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN s_new <> s_old THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_moved,
         |  CAST(sum(CASE WHEN s_new <> s_old AND s_new <> $ReshardFrom
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_moved_elsewhere,
         |  CAST(sum(CASE WHEN s_new <> s_old THEN 1 ELSE 0 END) * 1000000
         |    // greatest(count(*), 1) AS BIGINT) AS moved_ppm
         |FROM j GROUP BY s_old""".stripMargin
    },
    // q184's fingerprint/unique-token spelling feeding the constant
    // model frame; every derived number is integer arithmetic
    "q230_compute_optimal" -> {
      val values = ModelSizesM.map(m => s"($m)").mkString(", ")
      s"""WITH d AS (SELECT doc_id,
         |    md5(trim(regexp_replace(lower(nfc_normalize(coalesce(text, ''))), '\\s+', ' ', 'g'))) AS fp,
         |    CAST(len($toksSql) AS BIGINT) AS n_tok
         |  FROM documents),
         |r AS (SELECT n_tok,
         |    row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn FROM d),
         |u AS (SELECT CAST(sum(n_tok) AS BIGINT) AS total_tokens,
         |    CAST(sum(CASE WHEN rn = 1 THEN n_tok ELSE 0 END) AS BIGINT)
         |      AS unique_tokens FROM r),
         |m(m_params_m) AS (SELECT CAST(v AS BIGINT) FROM (VALUES $values) t0(v))
         |SELECT CAST(m_params_m AS BIGINT) AS m_params_m,
         |  total_tokens, unique_tokens,
         |  CAST(m_params_m * 1000000 * $ChinchillaTokensPerParam AS BIGINT)
         |    AS required_tokens,
         |  CAST(CAST(m_params_m * 1000000 * $ChinchillaTokensPerParam AS HUGEINT)
         |    * 1000000 // greatest(unique_tokens, 1) AS BIGINT)
         |    AS epochs_needed_ppm,
         |  (m_params_m * 1000000 * $ChinchillaTokensPerParam)
         |    <= $EpochCap * unique_tokens AS feasible
         |FROM m, u""".stripMargin
    },
    // same corpus result through the SAVED artifact — the oracle is
    // identical by contract: persistence must not change one byte
    "q157_bpe_encode_loaded" -> bpeEncodeSql,
    "q100_triangles" ->
      """WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
        |ed AS (SELECT doc_id AS src, (doc_id * 7 + k * 13) % (SELECT n FROM nn) AS dst
        |  FROM documents, unnest([1, 2, 3]) t(k)
        |  WHERE (doc_id * 7 + k * 13) % (SELECT n FROM nn) <> doc_id),
        |und AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
        |  FROM ed WHERE src <> dst),
        |deg AS (SELECT x, CAST(count(*) AS BIGINT) AS d FROM
        |  (SELECT u AS x FROM und UNION ALL SELECT v AS x FROM und) GROUP BY x),
        |o AS (SELECT
        |    CASE WHEN du.d < dv.d OR (du.d = dv.d AND u < v) THEN u ELSE v END AS a,
        |    CASE WHEN du.d < dv.d OR (du.d = dv.d AND u < v) THEN v ELSE u END AS b,
        |    CASE WHEN du.d < dv.d OR (du.d = dv.d AND u < v) THEN dv.d ELSE du.d END AS db
        |  FROM und JOIN deg du ON und.u = du.x JOIN deg dv ON und.v = dv.x),
        |w AS (SELECT e1.a, e1.b AS y, e2.b AS z
        |  FROM o e1 JOIN o e2 ON e1.a = e2.a
        |  WHERE e1.db < e2.db OR (e1.db = e2.db AND e1.b < e2.b)),
        |tri AS (SELECT w.a, w.y, w.z FROM w JOIN o ON o.a = w.y AND o.b = w.z),
        |pv AS (SELECT v, CAST(count(*) AS BIGINT) AS n_tri FROM
        |  (SELECT a AS v FROM tri UNION ALL SELECT y AS v FROM tri
        |   UNION ALL SELECT z AS v FROM tri) GROUP BY v),
        |nodes AS (SELECT u AS v FROM und UNION SELECT v FROM und)
        |SELECT nodes.v AS doc_id, coalesce(pv.n_tri, 0) AS n_tri
        |FROM nodes LEFT JOIN pv ON nodes.v = pv.v""".stripMargin,
    // q97's register replay, evaluated twice: max-merged across langs
    // vs built directly — the associativity certificate
    "q128_hll_union" ->
      s"""WITH e AS (SELECT lang, unnest($toksSql) AS w FROM documents),
         |h AS (SELECT lang, ('0x' || substr(md5(w), 1, 8))::BIGINT AS h FROM e),
         |r AS (SELECT lang, h % 64 AS b,
         |    CASE WHEN h // 64 = 0 THEN 27
         |      ELSE 27 - length(bin(h // 64)) END AS rho FROM h),
         |reg AS (SELECT lang, b, max(rho) AS mr FROM r GROUP BY 1, 2),
         |mreg AS (SELECT b, max(mr) AS mr FROM reg GROUP BY b),
         |us AS (SELECT sum(1::BIGINT << (27 - mr)) AS s, count(*) AS nb FROM mreg),
         |ue AS (SELECT (709 * 64 * 64 * (1::BIGINT << 27))
         |    // (1000 * (s + (64 - nb) * (1::BIGINT << 27))) AS union_est FROM us),
         |dreg AS (SELECT b, max(rho) AS mr FROM r GROUP BY b),
         |ds AS (SELECT sum(1::BIGINT << (27 - mr)) AS s, count(*) AS nb FROM dreg),
         |de AS (SELECT (709 * 64 * 64 * (1::BIGINT << 27))
         |    // (1000 * (s + (64 - nb) * (1::BIGINT << 27))) AS direct_est FROM ds),
         |ex AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS n_exact FROM e)
         |SELECT n_exact, CAST(union_est AS BIGINT) AS union_est,
         |  CAST(direct_est AS BIGINT) AS direct_est,
         |  union_est = direct_est AS merge_exact
         |FROM ex CROSS JOIN ue CROSS JOIN de""".stripMargin,
    "q97_hll_card" ->
      s"""WITH e AS (SELECT lang, unnest($toksSql) AS w FROM documents),
         |h AS (SELECT lang, ('0x' || substr(md5(w), 1, 8))::BIGINT AS h FROM e),
         |r AS (SELECT lang, h % 64 AS b,
         |    CASE WHEN h // 64 = 0 THEN 27
         |      ELSE 27 - length(bin(h // 64)) END AS rho FROM h),
         |reg AS (SELECT lang, b, max(rho) AS mr FROM r GROUP BY 1, 2),
         |s AS (SELECT lang, sum(1::BIGINT << (27 - mr)) AS s, count(*) AS nb
         |  FROM reg GROUP BY lang),
         |est AS (SELECT lang, (709 * 64 * 64 * (1::BIGINT << 27))
         |    // (1000 * (s + (64 - nb) * (1::BIGINT << 27))) AS hll_est FROM s),
         |ex AS (SELECT lang, CAST(count(DISTINCT w) AS BIGINT) AS n_exact
         |  FROM e GROUP BY lang)
         |SELECT ex.lang, n_exact, CAST(hll_est AS BIGINT) AS hll_est,
         |  CAST((1000000 * abs(hll_est - n_exact)) // greatest(n_exact, 1)
         |    AS BIGINT) AS err_ppm
         |FROM ex JOIN est USING (lang)""".stripMargin,
    "q98_heavy_hitters" ->
      s"""WITH e AS (SELECT unnest($toksSql) AS w FROM documents),
         |cnt AS (SELECT w, CAST(count(*) AS BIGINT) AS n_exact FROM e GROUP BY w),
         |hb AS (SELECT w, j,
         |    ('0x' || substr(md5(w), j * 8 + 1, 8))::BIGINT % $CmWidth AS b
         |  FROM cnt, unnest([0, 1, 2, 3]) t(j)),
         |ctr AS (SELECT j, b, CAST(sum(cnt.n_exact) AS BIGINT) AS tot
         |  FROM hb JOIN cnt USING (w) GROUP BY j, b),
         |top AS (SELECT w, n_exact FROM cnt ORDER BY n_exact DESC, w ASC LIMIT $CmTopK),
         |est AS (SELECT top.w, top.n_exact, min(ctr.tot) AS n_est
         |  FROM top JOIN hb USING (w) JOIN ctr ON hb.j = ctr.j AND hb.b = ctr.b
         |  GROUP BY top.w, top.n_exact)
         |SELECT w, n_exact, CAST(n_est AS BIGINT) AS n_est,
         |  CAST(n_est - n_exact AS BIGINT) AS overcount FROM est""".stripMargin,
    "q96_sparse_cosine" ->
      s"""WITH e AS (SELECT doc_id, unnest($toksSql) AS w FROM documents),
         |tf AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf FROM e GROUP BY 1, 2),
         |dfs AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
         |kept AS (SELECT tf.doc_id, tf.w, tf.tf FROM tf JOIN dfs USING (w)
         |  WHERE dfs.df <= $SparseMaxDf),
         |n2 AS (SELECT doc_id, CAST(sum(tf * tf) AS BIGINT) AS n2
         |  FROM kept GROUP BY doc_id),
         |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    CAST(sum(a.tf * b.tf) AS BIGINT) AS dot
         |  FROM kept a JOIN kept b ON a.w = b.w AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |j AS (SELECT doc_a, doc_b, dot, na.n2 AS n2_a, nb.n2 AS n2_b
         |  FROM p JOIN n2 na ON p.doc_a = na.doc_id
         |  JOIN n2 nb ON p.doc_b = nb.doc_id)
         |SELECT doc_a, doc_b, dot, n2_a, n2_b,
         |  CAST((dot::HUGEINT * dot * 1000000)
         |    // (n2_a::HUGEINT * n2_b) AS BIGINT) AS cos2_ppm
         |FROM j WHERE dot::HUGEINT * dot * 1000000 * 1000000
         |  >= $SparseThrPpm::HUGEINT * $SparseThrPpm * n2_a * n2_b""".stripMargin,
    "q91_collocations" ->
      s"""WITH e AS (SELECT doc_id, unnest($toksSql) AS w FROM documents),
         |uni AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM e GROUP BY w),
         |nn AS (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS n FROM uni),
         |pr AS (SELECT y[i] AS w_a, y[i + 1] AS w_b, CAST(count(*) AS BIGINT) AS c_ab
         |  FROM (SELECT $toksSql AS y FROM documents) t,
         |    unnest(range(1, len(y))) AS u(i)
         |  GROUP BY 1, 2 HAVING count(*) >= $CollocMinCount),
         |sc AS (SELECT pr.w_a, pr.w_b, pr.c_ab,
         |    (SELECT n FROM nn)::HUGEINT * pr.c_ab AS x,
         |    ua.c::HUGEINT * ub.c AS y
         |  FROM pr JOIN uni ua ON pr.w_a = ua.w JOIN uni ub ON pr.w_b = ub.w)
         |SELECT w_a, w_b, c_ab,
         |  CAST(length(bin((x * x) // (y * y))) - 1 AS BIGINT) AS pmi_q2
         |FROM sc WHERE x >= y
         |ORDER BY c_ab DESC, w_a ASC, w_b ASC LIMIT $CollocTopK""".stripMargin,
    "q89_fuzzy_join" ->
      s"""WITH m AS (SELECT min(p_partkey) AS id, p_name AS name
         |  FROM part GROUP BY p_name),
         |d AS (SELECT id + 100000 AS id,
         |    CASE CAST(id % 3 AS INTEGER) WHEN 0 THEN substr(name, 2)
         |      WHEN 1 THEN replace(name, 'e', '3') ELSE name END AS name
         |  FROM m)
         |SELECT m.id AS id_a, d.id AS id_b,
         |  CAST(levenshtein(m.name, d.name) AS BIGINT) AS lev
         |FROM m, d WHERE levenshtein(m.name, d.name) <= $FuzzyMaxDist""".stripMargin,
    "q88_bpe_train" ->
      s"""WITH $bpeChainSql,
         |ns AS (SELECT w, CAST(len(string_split(s[2:len(s) - 1], '][')) AS BIGINT) AS n_sym
         |  FROM w$BpeMerges),
         |sc AS (SELECT e.doc_id, CAST(count(*) AS BIGINT) AS n_tok,
         |    CAST(sum(ns.n_sym) AS BIGINT) AS n_sym
         |  FROM e JOIN ns ON e.w = ns.w GROUP BY e.doc_id)
         |SELECT d.doc_id, coalesce(sc.n_tok, 0) AS n_tok,
         |  coalesce(sc.n_sym, 0) AS n_sym
         |FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id""".stripMargin,
    // q87's rounds with seed-only init and base term; |S| from the
    // seeds CTE, floor division throughout
    "q172_seeded_pagerank" -> {
      val scale = 1000000000000L
      val iters = (0 until PrIter).map { t =>
        s"""c${t + 1} AS (SELECT e.dst AS v, sum(p$t.pr // d.outdeg) AS c
           |  FROM p$t JOIN deg d ON p$t.v = d.src JOIN e ON e.src = p$t.v
           |  GROUP BY e.dst),
           |p${t + 1} AS (SELECT nodes.v,
           |    (CASE WHEN seeds.v IS NOT NULL
           |      THEN ($scale * 15) // (100 * (SELECT ns FROM sn)) ELSE 0 END)
           |    + (85 * coalesce(c${t + 1}.c, 0)) // 100 AS pr
           |  FROM nodes LEFT JOIN c${t + 1} ON nodes.v = c${t + 1}.v
           |  LEFT JOIN seeds ON nodes.v = seeds.v)""".stripMargin
      }.mkString(",\n")
      s"""WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
         |e AS (SELECT doc_id AS src, (doc_id * 7 + k * 13) % (SELECT n FROM nn) AS dst
         |  FROM documents, unnest([1, 2, 3]) AS t(k)
         |  WHERE (doc_id * 7 + k * 13) % (SELECT n FROM nn) <> doc_id),
         |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg FROM e GROUP BY src),
         |nodes AS (SELECT DISTINCT src AS v FROM e
         |  UNION SELECT DISTINCT dst AS v FROM e),
         |seeds AS (SELECT DISTINCT doc_id AS v FROM documents WHERE doc_id % 97 = 0),
         |sn AS (SELECT greatest(CAST(count(*) AS BIGINT), 1) AS ns FROM seeds),
         |p0 AS (SELECT nodes.v,
         |    CASE WHEN seeds.v IS NOT NULL
         |      THEN $scale // (SELECT ns FROM sn) ELSE 0 END AS pr
         |  FROM nodes LEFT JOIN seeds ON nodes.v = seeds.v),
         |$iters
         |SELECT p$PrIter.v AS doc_id, CAST(p$PrIter.pr AS BIGINT) AS ppr_fp
         |FROM p$PrIter""".stripMargin
    },
    // q87's graph; each HITS round = hub sum + max-normalize, then
    // auth sum + max-normalize, all in HUGEINT floor division
    "q170_hits" -> {
      val scale = 1000000000000L
      val rounds = (0 until HitsIter).map { t =>
        s"""h${t + 1}r AS (SELECT e.src AS v, sum(a$t.a) AS hr
           |  FROM e JOIN a$t ON e.dst = a$t.v GROUP BY e.src),
           |h${t + 1} AS (SELECT nodes.v,
           |    CAST(coalesce(h${t + 1}r.hr, 0) * $scale
           |      // greatest((SELECT max(hr) FROM h${t + 1}r), 1) AS HUGEINT) AS h
           |  FROM nodes LEFT JOIN h${t + 1}r ON nodes.v = h${t + 1}r.v),
           |a${t + 1}r AS (SELECT e.dst AS v, sum(h${t + 1}.h) AS ar
           |  FROM e JOIN h${t + 1} ON e.src = h${t + 1}.v GROUP BY e.dst),
           |a${t + 1} AS (SELECT nodes.v,
           |    CAST(coalesce(a${t + 1}r.ar, 0) * $scale
           |      // greatest((SELECT max(ar) FROM a${t + 1}r), 1) AS HUGEINT) AS a
           |  FROM nodes LEFT JOIN a${t + 1}r ON nodes.v = a${t + 1}r.v)""".stripMargin
      }.mkString(",\n")
      s"""WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
         |e AS (SELECT doc_id AS src, (doc_id * 7 + k * 13) % (SELECT n FROM nn) AS dst
         |  FROM documents, unnest([1, 2, 3]) AS t(k)
         |  WHERE (doc_id * 7 + k * 13) % (SELECT n FROM nn) <> doc_id),
         |nodes AS (SELECT DISTINCT src AS v FROM e
         |  UNION SELECT DISTINCT dst AS v FROM e),
         |a0 AS (SELECT v, CAST($scale AS HUGEINT) AS a FROM nodes),
         |$rounds
         |SELECT h$HitsIter.v AS doc_id, CAST(h$HitsIter.h AS BIGINT) AS hub_fp,
         |  CAST(a$HitsIter.a AS BIGINT) AS auth_fp
         |FROM h$HitsIter JOIN a$HitsIter ON h$HitsIter.v = a$HitsIter.v""".stripMargin
    },
    "q87_pagerank" -> {
      val scale = 1000000000000L
      val iters = (0 until PrIter).map { t =>
        s"""c${t + 1} AS (SELECT e.dst AS v, sum(p$t.pr // d.outdeg) AS c
           |  FROM p$t JOIN deg d ON p$t.v = d.src JOIN e ON e.src = p$t.v
           |  GROUP BY e.dst),
           |p${t + 1} AS (SELECT nodes.v,
           |    ($scale * 15) // (100 * (SELECT n FROM nn))
           |    + (85 * coalesce(c${t + 1}.c, 0)) // 100 AS pr
           |  FROM nodes LEFT JOIN c${t + 1} ON nodes.v = c${t + 1}.v)""".stripMargin
      }.mkString(",\n")
      s"""WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
         |e AS (SELECT doc_id AS src, (doc_id * 7 + k * 13) % (SELECT n FROM nn) AS dst
         |  FROM documents, unnest([1, 2, 3]) AS t(k)
         |  WHERE (doc_id * 7 + k * 13) % (SELECT n FROM nn) <> doc_id),
         |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg FROM e GROUP BY src),
         |nodes AS (SELECT DISTINCT src AS v FROM e
         |  UNION SELECT DISTINCT dst AS v FROM e),
         |p0 AS (SELECT v, $scale // (SELECT n FROM nn) AS pr FROM nodes),
         |$iters
         |SELECT p$PrIter.v AS doc_id, deg.outdeg AS out_deg,
         |  CAST(p$PrIter.pr AS BIGINT) AS pr_fp
         |FROM p$PrIter JOIN deg ON p$PrIter.v = deg.src""".stripMargin
    },
    "q74_dynamic_filter" ->
      s"""WITH t AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tok
         |  FROM (SELECT doc_id, $toksSql AS toks FROM
         |    (SELECT doc_id, coalesce(text, '') AS text FROM documents) d0) x),
         |c AS (SELECT n_tok, count(*) AS c FROM t GROUP BY n_tok),
         |cum AS (SELECT n_tok, sum(c) OVER (ORDER BY n_tok) AS cum FROM c),
         |n AS (SELECT count(*) AS n FROM t),
         |th AS (SELECT
         |  min(CASE WHEN cum >= greatest((5 * (SELECT n FROM n) + 99) // 100, 1)
         |    THEN n_tok END) AS lo_tok,
         |  min(CASE WHEN cum >= greatest((95 * (SELECT n FROM n) + 99) // 100, 1)
         |    THEN n_tok END) AS hi_tok FROM cum)
         |SELECT t.doc_id, t.n_tok, th.lo_tok, th.hi_tok,
         |  t.n_tok BETWEEN th.lo_tok AND th.hi_tok AS kept
         |FROM t, th""".stripMargin,
    "q52_group_sample" ->
      s"""SELECT doc_id, lang FROM (
         |  SELECT doc_id, lang, row_number() OVER (PARTITION BY lang
         |    ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT, doc_id) AS rn
         |  FROM documents) t
         |WHERE rn <= $SampleK""".stripMargin,
    // hashing, blocklisting (≥2 occurrences, in-doc repeats counted),
    // 1-based coverage windows, and the ordered rejoin — clean_text
    // replayed verbatim, so any span off-by-one hash-fails
    "q300_span_removal" -> spanStripSql("", ""),
    // blocklist over the corpus slice, strip applied to arrivals only
    "q301_span_strip_loaded" -> spanStripSql(
      "WHERE doc_id % 10 != 0", "WHERE doc_id % 10 = 0"),
    "q50_dup_spans" -> {
      val n = DupSpanGramN
      val p = graft.llm.MinHashLSH.P
      s"""WITH base AS (SELECT doc_id, $toksSql AS toks FROM documents
         |  WHERE length(trim(text)) > 0),
         |sh AS (SELECT doc_id, CASE WHEN len(toks) >= $n
         |    THEN list_transform(range(1, len(toks) - ${n - 2}),
         |      i -> array_to_string(toks[i:i+${n - 1}], ' '))
         |    ELSE [array_to_string(toks, ' ')] END AS sh FROM base),
         |bs AS (SELECT doc_id, list_distinct(list_transform(sh,
         |    s -> ('0x' || substr(md5(s), 1, 15))::BIGINT % $p)) AS gs FROM sh),
         |e AS (SELECT doc_id, unnest(gs) AS g FROM bs),
         |gd AS (SELECT g, count(*) AS n_docs_with FROM e GROUP BY g),
         |pd AS (SELECT doc_id, count(*) AS n_grams,
         |    sum(CASE WHEN n_docs_with >= 2 THEN 1 ELSE 0 END) AS n_shared
         |  FROM e JOIN gd USING (g) GROUP BY doc_id)
         |SELECT d.doc_id,
         |  CAST(coalesce(pd.n_grams, 0) AS BIGINT) AS n_grams,
         |  CAST(coalesce(pd.n_shared, 0) AS BIGINT) AS n_shared,
         |  CAST(CASE WHEN coalesce(pd.n_grams, 0) = 0 THEN 0
         |    ELSE floor(1000000.0 * CAST(pd.n_shared AS DOUBLE)
         |      / CAST(pd.n_grams AS DOUBLE)) END AS BIGINT) AS dup_fp
         |FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc_id""".stripMargin
    },
    // real-format decode: expected metadata and exact file sizes are
    // derived from the BMP/WAV specs (row padding, chunk layout), not
    // from the encoder — see q47MediaDecode
    "q47_media_decode" ->
      """SELECT doc_id AS id,
        | CASE WHEN doc_id % 2 = 0 THEN 'image/bmp' ELSE 'audio/wav' END AS media_type,
        | CAST(CASE WHEN doc_id % 2 = 0 THEN (doc_id % 64) + 1
        |      ELSE 8000 + (doc_id % 8) * 500 END AS INTEGER) AS width,
        | CAST(CASE WHEN doc_id % 2 = 0 THEN ((doc_id * 7) % 48) + 1
        |      ELSE 1 + ((doc_id // 2) % 2) END AS INTEGER) AS height,
        | CAST(CASE WHEN doc_id % 2 = 0 THEN 1
        |      ELSE (doc_id % 200) + 1 END AS INTEGER) AS n_frames,
        | CAST(CASE WHEN doc_id % 2 = 0
        |      THEN 54 + ((((doc_id % 64) + 1) * 3 + 3) // 4) * 4 * (((doc_id * 7) % 48) + 1)
        |      ELSE 44 + ((doc_id % 200) + 1) * (1 + ((doc_id // 2) % 2)) * 2 END AS BIGINT)
        |   AS n_bytes
        |FROM documents""".stripMargin,
    // frame sampling over REAL container files: byte lengths derived
    // from the BMP/WAV specs, slice boundaries replay sampleFrames'
    // trunc(i·len/frames) arithmetic (IEEE double division and
    // multiply are bit-identical across engines; trunc == Scala .toInt)
    "q27_multimodal" ->
      s"""WITH files AS (SELECT doc_id AS id,
         |    CASE WHEN doc_id % 2 = 0 THEN 'image/bmp' ELSE 'audio/wav' END AS media_type,
         |    CAST(CASE WHEN doc_id % 2 = 0
         |      THEN 54 + ((((doc_id % 64) + 1) * 3 + 3) // 4) * 4 * (((doc_id * 7) % 48) + 1)
         |      ELSE 44 + ((doc_id % 200) + 1) * (1 + ((doc_id // 2) % 2)) * 2 END AS BIGINT) AS n_bytes
         |  FROM documents),
         |f2 AS (SELECT *, least($FramesRequested, n_bytes // 1000 + 1) AS nf,
         |    CAST(n_bytes AS DOUBLE) / least($FramesRequested, n_bytes // 1000 + 1) AS span
         |  FROM files)
         |SELECT id, media_type, n_bytes, CAST(nf AS INTEGER) AS n_frames,
         |  CAST(u.i AS INTEGER) AS frame_idx,
         |  CAST(least(n_bytes, greatest(CAST(trunc((u.i + 1) * span) AS BIGINT),
         |    CAST(trunc(u.i * span) AS BIGINT) + 1)) - CAST(trunc(u.i * span) AS BIGINT) AS BIGINT) AS frame_len
         |FROM f2, unnest(range(0, nf)) AS u(i)""".stripMargin,
    // real resize: the oracle recomputes every target pixel from first
    // principles — source bytes are (index % 251) by fixture
    // construction, nearest-neighbor index math replayed in SQL
    "q55_media_resize" ->
      s"""WITH src AS (SELECT doc_id, (doc_id % 64) + 1 AS w, ((doc_id * 7) % 48) + 1 AS h,
         |  ((((doc_id % 64) + 1) * 3 + 3) // 4) * 4 AS stride
         |  FROM documents WHERE doc_id % 2 = 0)
         |SELECT s.doc_id AS id, CAST($ResizeW AS INTEGER) AS width,
         |  CAST($ResizeH AS INTEGER) AS height,
         |  CAST(54 + (($ResizeW*3+3)//4)*4*$ResizeH AS BIGINT) AS n_bytes,
         |  CAST(sum(((s.h - 1 - ((ty.v * s.h) // $ResizeH)) * s.stride
         |    + ((tx.v * s.w) // $ResizeW) * 3 + c.v) % 251) AS BIGINT) AS pix_sum
         |FROM src s, unnest(range(0, $ResizeH)) AS ty(v),
         |  unnest(range(0, $ResizeW)) AS tx(v), unnest(range(0, 3)) AS c(v)
         |GROUP BY s.doc_id""".stripMargin,
    // decoded-sample band energies: LEFT JOIN against the (id, band)
    // spine so bands whose slice is empty (n < bands) report 0 instead
    // of vanishing from the group-by
    // q56's WAV synthesis formula, windowed: per-window abs sums vs
    // the scaled threshold, run starts via lag — every boundary exact
    "q207_audio_vad" ->
      s"""WITH wavsrc AS (SELECT doc_id, 1 + ((doc_id // 2) % 2) AS ch,
         |    (doc_id % 200) + 1 AS frames
         |  FROM documents WHERE doc_id % 2 = 1),
         |wsp AS (SELECT doc_id, ch * frames AS n, u.w
         |  FROM wavsrc, unnest(range(0, (ch * frames + ${VadWin - 1}) // $VadWin)) AS u(w)),
         |we AS (SELECT doc_id, w,
         |    sum(abs((ui.i * 257) % 65536 - 32768)) AS e,
         |    count(*) AS cnt
         |  FROM wsp, unnest(range(w * $VadWin, least((w + 1) * $VadWin, n))) AS ui(i)
         |  GROUP BY doc_id, w),
         |fl AS (SELECT doc_id, w, (e > $VadThrPerSample * cnt) AS act FROM we),
         |sg AS (SELECT doc_id, w, act,
         |    lag(act) OVER (PARTITION BY doc_id ORDER BY w) AS pa FROM fl),
         |ag AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_windows,
         |    CAST(sum(CASE WHEN act THEN 1 ELSE 0 END) AS BIGINT) AS n_active,
         |    CAST(sum(CASE WHEN act AND NOT coalesce(pa, false) THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_segments
         |  FROM sg GROUP BY 1)
         |SELECT doc_id AS id, n_windows, n_active, n_segments,
         |  CAST(CAST(n_active AS HUGEINT) * 1000000
         |    // greatest(n_windows, 1) AS BIGINT) AS active_ppm
         |FROM ag""".stripMargin,
    "q56_media_features" ->
      s"""WITH bmpsrc AS (SELECT doc_id, (doc_id % 64) + 1 AS w, ((doc_id * 7) % 48) + 1 AS h,
         |    ((((doc_id % 64) + 1) * 3 + 3) // 4) * 4 AS stride
         |  FROM documents WHERE doc_id % 2 = 0),
         |wavsrc AS (SELECT doc_id, 1 + ((doc_id // 2) % 2) AS ch, (doc_id % 200) + 1 AS frames
         |  FROM documents WHERE doc_id % 2 = 1),
         |bspine AS (SELECT doc_id, w, h, stride, w*h*3 AS n, u.b
         |  FROM bmpsrc, unnest(range(0, $FeatureBands)) AS u(b)),
         |bvals AS (SELECT doc_id, b,
         |    sum(((h - 1 - (ui.i // (w*3))) * stride + (ui.i % (w*3))) % 251) AS energy
         |  FROM bspine, unnest(range(b*n//$FeatureBands, (b+1)*n//$FeatureBands)) AS ui(i)
         |  GROUP BY doc_id, b),
         |wspine AS (SELECT doc_id, ch*frames AS n, u.b
         |  FROM wavsrc, unnest(range(0, $FeatureBands)) AS u(b)),
         |wvals AS (SELECT doc_id, b, sum(abs((ui.i*257) % 65536 - 32768)) AS energy
         |  FROM wspine, unnest(range(b*n//$FeatureBands, (b+1)*n//$FeatureBands)) AS ui(i)
         |  GROUP BY doc_id, b)
         |SELECT doc_id AS id, 'image/bmp' AS media_type, CAST(b AS INTEGER) AS band,
         |  CAST(coalesce(v.energy, 0) AS BIGINT) AS energy
         |FROM bspine LEFT JOIN bvals v USING (doc_id, b)
         |UNION ALL
         |SELECT doc_id AS id, 'audio/wav' AS media_type, CAST(b AS INTEGER) AS band,
         |  CAST(coalesce(v.energy, 0) AS BIGINT) AS energy
         |FROM wspine LEFT JOIN wvals v USING (doc_id, b)""".stripMargin,
    "q32_curation" ->
      s"""SELECT lang, count(*) AS n_docs, min(doc_id) AS first_doc FROM (
         |  SELECT doc_id, lang,
         |    row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
         |  FROM (
         |    SELECT doc_id, lang,
         |      md5(trim(regexp_replace(lower(nfc_normalize(text)), '\\s+', ' ', 'g'))) AS fp
         |    FROM (SELECT doc_id, lang, text, $toksSql AS toks FROM documents) x
         |    WHERE ($qualityFpSql) >= 600000) scored) survivors
         |WHERE rn = 1 GROUP BY lang ORDER BY lang""".stripMargin,
    // PII scrub: the patterns live in the Java-regex/RE2 common subset,
    // so DuckDB (RE2) replays the exact Pii.* constants with the 'g'
    // flag; md5 over the redacted text certifies the replacement bytes
    "q59_pii_redact" ->
      s"""WITH inj AS (SELECT doc_id,
         |    text || ' contact user' || CAST(doc_id AS VARCHAR) || '@geo.example.org'
         |      || ' from 10.' || CAST(doc_id % 200 AS VARCHAR)
         |      || '.0.' || CAST(doc_id % 250 AS VARCHAR)
         |      || ' tel +47 555 ' || CAST(doc_id % 90000 + 10000 AS VARCHAR) AS t
         |  FROM documents),
         |red AS (SELECT doc_id, t,
         |    regexp_replace(regexp_replace(regexp_replace(t,
         |      '${graft.llm.Pii.EmailPattern}', '${graft.llm.Pii.EmailToken}', 'g'),
         |      '${graft.llm.Pii.Ipv4Pattern}', '${graft.llm.Pii.Ipv4Token}', 'g'),
         |      '${graft.llm.Pii.PhonePattern}', '${graft.llm.Pii.PhoneToken}', 'g') AS clean
         |  FROM inj)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(t, '${graft.llm.Pii.EmailPattern}')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(t, '${graft.llm.Pii.Ipv4Pattern}')) AS BIGINT) AS n_ips,
         |  CAST(len(regexp_extract_all(t, '${graft.llm.Pii.PhonePattern}')) AS BIGINT) AS n_phones,
         |  CAST(length(clean) AS BIGINT) AS clean_len,
         |  md5(clean) AS clean_md5
         |FROM red""".stripMargin,
    // sequential PII scrub: each pattern counted on the text as the
    // redaction sequence sees it — emails on the original, IPv4s after
    // email redaction, phones after both — so counts == clean_text
    // token occurrences even on the overlapping email-over-quad the
    // injection plants; both are emitted and hash-compared
    "q64_pii_sequential" ->
      s"""WITH inj AS (SELECT doc_id,
         |    text || ' contact user' || CAST(doc_id AS VARCHAR) || '@10.'
         |      || CAST(doc_id % 200 AS VARCHAR) || '.3.4.com'
         |      || ' from 10.' || CAST(doc_id % 200 AS VARCHAR)
         |      || '.0.' || CAST(doc_id % 250 AS VARCHAR)
         |      || ' tel +47 555 ' || CAST(doc_id % 90000 + 10000 AS VARCHAR) AS t
         |  FROM documents),
         |st AS (SELECT doc_id, t,
         |    regexp_replace(t, '${graft.llm.Pii.EmailPattern}',
         |      '${graft.llm.Pii.EmailToken}', 'g') AS ae
         |  FROM inj),
         |st2 AS (SELECT doc_id, t, ae,
         |    regexp_replace(ae, '${graft.llm.Pii.Ipv4Pattern}',
         |      '${graft.llm.Pii.Ipv4Token}', 'g') AS ai
         |  FROM st),
         |st3 AS (SELECT doc_id, t, ae, ai,
         |    regexp_replace(ai, '${graft.llm.Pii.PhonePattern}',
         |      '${graft.llm.Pii.PhoneToken}', 'g') AS clean
         |  FROM st2)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(t, '${graft.llm.Pii.EmailPattern}')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(ae, '${graft.llm.Pii.Ipv4Pattern}')) AS BIGINT) AS n_ips,
         |  CAST(len(regexp_extract_all(ai, '${graft.llm.Pii.PhonePattern}')) AS BIGINT) AS n_phones,
         |  CAST(len(regexp_extract_all(clean, '${graft.llm.Pii.EmailToken}')) AS BIGINT) AS tok_emails,
         |  CAST(len(regexp_extract_all(clean, '${graft.llm.Pii.Ipv4Token}')) AS BIGINT) AS tok_ips,
         |  CAST(len(regexp_extract_all(clean, '${graft.llm.Pii.PhoneToken}')) AS BIGINT) AS tok_phones,
         |  md5(clean) AS clean_md5
         |FROM st3""".stripMargin,
    // video-frame sampling over GVID containers: frame dims are pure
    // functions of (doc_id, frame), so sizes (54 + padded stride * h)
    // AND decoded pixel sums ((dataIdx % 251) over the non-padding
    // bytes) are recomputed from the BMP spec; the sampling index
    // replays sampleVideoFrames' j*nf/take integer arithmetic
    "q60_video_frames" ->
      s"""WITH v AS (SELECT doc_id, (doc_id % 5) + 2 AS nf FROM documents),
         |sel AS (SELECT doc_id, nf, (j.v * nf) // least($VideoFramesTake, nf) AS f
         |  FROM v, unnest(range(0, least($VideoFramesTake, nf))) AS j(v)),
         |fr AS (SELECT doc_id, nf, f,
         |    ((doc_id + 3*f) % 24) + 1 AS w,
         |    ((doc_id*7 + 5*f) % 20) + 1 AS h
         |  FROM sel),
         |fr2 AS (SELECT *, ((w*3 + 3) // 4) * 4 AS stride FROM fr),
         |pix AS (SELECT doc_id, f, sum((r.v * stride + j.v) % 251) AS s
         |  FROM fr2, unnest(range(0, h)) AS r(v), unnest(range(0, w*3)) AS j(v)
         |  GROUP BY doc_id, f)
         |SELECT fr2.doc_id AS id, CAST(nf AS INTEGER) AS n_frames,
         |  CAST(f AS INTEGER) AS frame_idx,
         |  CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
         |  CAST(54 + stride * h AS BIGINT) AS n_bytes,
         |  CAST(pix.s AS BIGINT) AS pix_sum
         |FROM fr2 JOIN pix USING (doc_id, f)""".stripMargin,
    // segment dedup: non-overlapping $SegmentLen-token windows, 60-bit
    // md5-prefix hashes, occurrence counts — the whole pipeline replayed
    // with list functions; list_slice's inclusive end == slice's length
    "q61_segment_dedup" ->
      s"""WITH toks AS (SELECT doc_id, $toksSql AS tk FROM documents),
         |ne AS (SELECT doc_id, tk FROM toks WHERE len(tk) > 0),
         |segs AS (SELECT doc_id,
         |    array_to_string(list_slice(tk, i.v*$SegmentLen + 1, i.v*$SegmentLen + $SegmentLen), ' ') AS seg
         |  FROM ne, unnest(range(0, CAST(ceil(len(tk) / ${SegmentLen}.0) AS BIGINT))) AS i(v)),
         |hashed AS (SELECT doc_id,
         |    CAST(('0x' || substr(md5(seg), 1, 15)) AS BIGINT) AS h FROM segs),
         |occ AS (SELECT h, count(*) AS n_occ FROM hashed GROUP BY h),
         |pd AS (SELECT doc_id, count(*) AS n_segs,
         |    sum(CASE WHEN n_occ >= 2 THEN 1 ELSE 0 END) AS n_dup_segs
         |  FROM hashed JOIN occ USING (h) GROUP BY doc_id)
         |SELECT d.doc_id, CAST(coalesce(n_segs, 0) AS BIGINT) AS n_segs,
         |  CAST(coalesce(n_dup_segs, 0) AS BIGINT) AS n_dup_segs,
         |  CAST(CASE WHEN coalesce(n_segs, 0) = 0 THEN 0
         |    ELSE floor(1000000.0 * CAST(n_dup_segs AS DOUBLE) / CAST(n_segs AS DOUBLE))
         |    END AS BIGINT) AS seg_dup_fp
         |FROM documents d LEFT JOIN pd USING (doc_id)""".stripMargin,
    // whole-payload media dedup: every content key recomputed from the
    // generation rules + codec specs — BMP keys via the padded-stride
    // pixel checksum, WAV keys via the |(i*257) % 65536 - 32768| PCM
    // energy — then the same count-per-key the Spark side performs on
    // its DECODED payloads
    "q65_media_dups" ->
      s"""WITH bmp AS (SELECT doc_id, (doc_id % 64) + 1 AS w,
         |    ((doc_id * 7) % 48) + 1 AS h
         |  FROM documents WHERE doc_id % 2 = 0),
         |bmp2 AS (SELECT doc_id, w, h, ((w*3 + 3) // 4) * 4 AS stride FROM bmp),
         |bpix AS (SELECT w, h, CAST(sum((r.v * stride + j.v) % 251) AS BIGINT) AS pix
         |  FROM (SELECT DISTINCT w, h, stride FROM bmp2) d,
         |       unnest(range(0, h)) AS r(v), unnest(range(0, w*3)) AS j(v)
         |  GROUP BY w, h),
         |bkey AS (SELECT doc_id, 'image/bmp' AS media_type,
         |    'image/bmp:' || w || ':' || h || ':' || (54 + stride*h) || ':' || pix AS ckey
         |  FROM bmp2 JOIN bpix USING (w, h)),
         |wav AS (SELECT doc_id, 8000 + (doc_id % 8) * 500 AS rate,
         |    1 + ((doc_id // 2) % 2) AS ch, (doc_id % 200) + 1 AS nf
         |  FROM documents WHERE doc_id % 2 = 1),
         |wen AS (SELECT ch, nf,
         |    CAST(sum(abs((i.v * 257) % 65536 - 32768)) AS BIGINT) AS energy
         |  FROM (SELECT DISTINCT ch, nf FROM wav) d, unnest(range(0, nf * ch)) AS i(v)
         |  GROUP BY ch, nf),
         |wkey AS (SELECT doc_id, 'audio/wav' AS media_type,
         |    'audio/wav:' || rate || ':' || ch || ':' || (44 + nf*ch*2) || ':' || energy AS ckey
         |  FROM wav JOIN wen USING (ch, nf)),
         |keys AS (SELECT * FROM bkey UNION ALL SELECT * FROM wkey),
         |occ AS (SELECT ckey, count(*) AS n FROM keys GROUP BY ckey)
         |SELECT k.doc_id AS id, k.media_type, CAST(occ.n AS BIGINT) AS n_copies
         |FROM keys k JOIN occ USING (ckey)""".stripMargin,
    // frame-level video dedup: every frame hash recomputed from the
    // deterministic (doc_id, frame) dims rule + the BMP spec (size =
    // 54 + padded stride * h; pixel byte = dataIdx % 251), folded
    // through the same concat_ws/md5 the Spark side applies to its
    // DECODED frames — then the q61-shaped occurrence counting
    "q63_video_frame_dups" ->
      s"""WITH v AS (SELECT doc_id, (doc_id % 5) + 2 AS nf FROM documents),
         |fr AS (SELECT doc_id, j.v AS f,
         |    ((doc_id + 3*j.v) % 24) + 1 AS w,
         |    ((doc_id*7 + 5*j.v) % 20) + 1 AS h
         |  FROM v, unnest(range(0, nf)) AS j(v)),
         |fr2 AS (SELECT *, ((w*3 + 3) // 4) * 4 AS stride FROM fr),
         |dims AS (SELECT DISTINCT w, h, stride FROM fr2),
         |pix AS (SELECT w, h, CAST(sum((r.v * stride + j.v) % 251) AS BIGINT) AS s
         |  FROM dims, unnest(range(0, h)) AS r(v), unnest(range(0, w*3)) AS j(v)
         |  GROUP BY w, h),
         |keyed AS (SELECT doc_id,
         |    md5(concat_ws(':', fr2.w, fr2.h, 54 + stride * fr2.h, s)) AS fhash
         |  FROM fr2 JOIN pix USING (w, h)),
         |occ AS (SELECT fhash, count(DISTINCT doc_id) AS nc FROM keyed GROUP BY fhash),
         |pd AS (SELECT doc_id, count(*) AS n_frames,
         |    sum(CASE WHEN nc >= 2 THEN 1 ELSE 0 END) AS n_dup,
         |    count(DISTINCT fhash) AS n_dist
         |  FROM keyed JOIN occ USING (fhash)
         |  GROUP BY doc_id)
         |SELECT d.doc_id AS id,
         |  CAST(coalesce(n_frames, 0) AS BIGINT) AS n_frames,
         |  CAST(coalesce(n_dup, 0) AS BIGINT) AS n_dup_frames,
         |  CAST(coalesce(n_dist, 0) AS BIGINT) AS n_distinct_frames
         |FROM documents d LEFT JOIN pd USING (doc_id)""".stripMargin,
  )
}
