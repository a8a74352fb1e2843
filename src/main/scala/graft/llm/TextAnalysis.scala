package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline: tokenization,
  * quality scoring, stopword/punctuation ratios, and a lightweight
  * language-ID heuristic. Everything is built from codegen'd built-in
  * expressions (split / filter / size / length — no UDFs), so at 100 TB
  * the cost is the scan plus whole-stage-codegen'd per-row work, with
  * no shuffle until the caller aggregates.
  *
  * Determinism contract: ratio-valued scores are emitted as
  * `floor(ratio * 10^k)` fixed-point BIGINTs so DuckDB-oracle hash
  * compares are exact (same pattern as `graft.queries.Relational`).
  */
object TextAnalysis {

  /** Whitespace tokens of trimmed text; empty/blank → empty array. */
  def tokens(text: Column): Column =
    when(length(trim(text)) === 0, array().cast("array<string>"))
      .otherwise(split(trim(text), "\\s+"))

  def tokenCount(text: Column): Column = size(tokens(text))

  /** Count of tokens that appear in `vocab` (small literal list —
    * becomes an array_contains chain, not a join). */
  def vocabHits(text: Column, vocab: Seq[String]): Column =
    size(filter(tokens(text), t => array_contains(lit(vocab.toArray), t)))

  /** floor(1e6 * hits / tokens) — 0 for empty docs. */
  def stopwordRatioFp(text: Column, stopwords: Seq[String]): Column = {
    val n = tokenCount(text)
    when(n === 0, lit(0L))
      .otherwise(floor(vocabHits(text, stopwords).cast("double") * 1e6 /
        n.cast("double")).cast("bigint"))
  }

  /** English-ish stopword list used by the default quality score. */
  val DefaultStopwords: Seq[String] =
    Seq("the", "a", "of", "and", "in", "is", "to", "it")

  /** Mean token length as fixed-point (floor(100 * chars/tokens)). */
  def meanTokenLenFp(text: Column): Column = {
    val n = tokenCount(text)
    val totalLen = aggregate(tokens(text), lit(0L), (acc, t) => acc + length(t))
    when(n === 0, lit(0L))
      .otherwise(floor(totalLen.cast("double") * 100.0 / n.cast("double")).cast("bigint"))
  }

  /** Composite quality score in fixed-point millionths: rewards docs in
    * a sane length band with a plausible stopword ratio. The exact
    * formula matters less than being deterministic, monotonic in its
    * inputs, and cheap; callers threshold it to filter corpora.
    *
    * Single traversal like [[langId]]: one aggregate fold produces
    * `[tokenCount, stopwordHits]` and a transform lambda binds it —
    * vital specifically under Filter, where Spark does not apply
    * subexpression elimination and a naive composite would re-derive
    * the token array once per sub-score. */
  def qualityScoreFp(textCol: String): Column = {
    val toksSql =
      s"case when length(trim($textCol)) = 0 then array() " +
        s"else split(trim($textCol), '\\\\s+') end"
    val stopList = DefaultStopwords.map(w => s"'$w'").mkString(", ")
    val foldExpr =
      s"aggregate($toksSql, array(0L, 0L), (acc, w) -> " +
        s"array(acc[0] + 1L, acc[1] + (case when w in ($stopList) then 1L else 0L end)))"
    val stopFp = "(case when h[0] = 0 then 0L else " +
      "cast(floor(cast(h[1] as double) * 1000000.0 / cast(h[0] as double)) as bigint) end)"
    val score =
      s"""(case when h[0] between 20 and 1000 then 400000L
         |  when h[0] >= 5 then 200000L else 0L end)
         |+ (case when $stopFp between 20000L and 400000L then 400000L else 100000L end)
         |+ (case when length($textCol) >= 100 then 200000L else 50000L end)""".stripMargin
    expr(s"element_at(transform(array($foldExpr), h -> $score), 1)")
  }

  /** BPE-ish subword proxy: runs of letters, runs of digits, and
    * single other non-space characters — the shape a byte-pair
    * tokenizer's pre-tokenization pass produces. Portable regex (same
    * semantics in Java regex and RE2). */
  val BpeishPattern = "[a-z]+|[0-9]+|[^a-z0-9\\s]"

  /** Count of BPE-ish tokens (over lowercased text). */
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(lower(text), lit(BpeishPattern), lit(0)))

  /** Stopword profiles for the language-ID heuristic. Order matters:
    * ties resolve to the earliest profile. */
  val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is", "in", "to"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "zu"),
    "es" -> Seq("el", "la", "de", "y", "es", "un", "que"),
    "fr" -> Seq("le", "la", "de", "et", "est", "un", "que"),
  )

  /** Predicted language of column `textCol`: argmax of profile hit
    * counts, 'und' (undetermined) when no profile matches at all. Ties
    * resolve to the earliest profile.
    *
    * Single traversal: one `aggregate` fold accumulates every
    * profile's counter at once, and a `transform` lambda binds the
    * counter array so the argmax cascade reads it without
    * re-evaluating — one token-array scan total, versus one scan per
    * profile per use. The cascade (profile k wins iff its count ≥ all
    * later profiles' and > 0) is equivalent to first-profile-with-max
    * and is mirrored verbatim by the DuckDB oracle. */
  def langId(textCol: String): Column = {
    val toksSql =
      s"case when length(trim($textCol)) = 0 then array() " +
        s"else split(trim($textCol), '\\\\s+') end"
    val zero = s"array(${LangProfiles.map(_ => "0L").mkString(", ")})"
    val accUpdates = LangProfiles.zipWithIndex.map { case ((_, words), i) =>
      val lst = words.map(w => s"'$w'").mkString(", ")
      s"acc[$i] + (case when w in ($lst) then 1L else 0L end)"
    }.mkString(", ")
    val hitsExpr = s"aggregate($toksSql, $zero, (acc, w) -> array($accUpdates))"
    val n = LangProfiles.size
    val branches = LangProfiles.zipWithIndex.map { case ((lang, _), i) =>
      val laterGe = ((i + 1) until n).map(j => s"h[$i] >= h[$j]")
      val conds = laterGe :+ s"h[$i] > 0"
      s"when ${conds.mkString(" and ")} then '$lang'"
    }.mkString(" ")
    expr(s"element_at(transform(array($hitsExpr), h -> case $branches else 'und' end), 1)")
  }

  /** Word 3-grams of a token array — strict (no collapse below 3
    * tokens, unlike the LSH shingles): repetition statistics want
    * "no 3-grams" for short docs, not a degenerate one. */
  def word3grams(toksCol: String): Column = wordNgrams(toksCol, 3)

  /** Word n-grams of a token array, strict like [[word3grams]] (a doc
    * shorter than n tokens has NO n-grams). Row-local list
    * arithmetic — no shuffle. */
  def wordNgrams(toksCol: String, n: Int): Column = {
    require(n >= 1, "n must be positive")
    expr(
      s"""CASE WHEN size($toksCol) >= $n
         | THEN transform(sequence(0, size($toksCol) - $n),
         |   i -> concat_ws(' ', slice($toksCol, i + 1, $n)))
         | ELSE array() END""".stripMargin)
  }

  /** Cross-document boilerplate spans: n-gram strings occurring in at
    * least `minDf` DISTINCT documents (per-doc distinct, so a doc
    * repeating its own span is repetition — [[dup3gramFp]]'s axis —
    * not boilerplate), ranked by doc frequency with the gram as the
    * deterministic tiebreak, top `topK` kept. ONE spelling under the
    * q187 card and the streaming filter twin
    * ([[graft.streaming.Streams.boilerplateIngest]]). Scale: one
    * gram-keyed partial-aggregating count; the rank window runs over
    * the df-filtered sliver only, never the full gram stream. */
  def boilerplateGrams(docs: DataFrame, idCol: String, textCol: String,
      n: Int, minDf: Long, topK: Int): DataFrame = {
    require(minDf >= 2, "a boilerplate span must recur across documents")
    require(topK > 0, "topK must be positive")
    val qi = graft.Names.quoted(idCol)
    val qt = graft.Names.quoted(textCol)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("df").desc, col("gram").asc)
    docs.select(col(qi).as("doc_id"), tokens(col(qt)).as("__toks"))
      .select(col("doc_id"), wordNgrams("__toks", n).as("__gs"))
      .select(col("doc_id"), explode(expr("array_distinct(__gs)")).as("gram"))
      .groupBy(col("gram")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
      .withColumn("rn", row_number().over(w).cast("bigint"))
      .filter(col("rn") <= topK)
  }

  /** What stripping the mined boilerplate would SAVE: per group, the
    * token mass covered by at least one occurrence of a
    * [[boilerplateGrams]] span — q187 mines the spans, this prices
    * their removal. A token is covered if any boilerplate n-gram
    * starting within the previous n positions hits; overlapping and
    * chained occurrences are merged EXACTLY (never double-counted) by
    * the classic island walk: occurrences sorted by start position
    * contribute `min(n, gap-to-previous-start)` each — correct for
    * fixed-length intervals because end positions are monotone in
    * start positions.
    *
    * Scale shape: the mined span set is ≤ topK rows (broadcast); the
    * positional gram stream is row-local (explode, no shuffle) and
    * collapses to per-(doc, hit) rows at the broadcast join — only
    * HITS reach the per-doc window, not the corpus gram stream.
    * Group totals come from a second column-pruned scan rather than
    * persisting the tokenized corpus (cheaper than caching text at
    * 100 TB). */
  def boilerplateStripCard(docs: DataFrame, idCol: String, textCol: String,
      groupCol: String, n: Int, minDf: Long, topK: Int): DataFrame = {
    val qi = graft.Names.quoted(idCol)
    val qt = graft.Names.quoted(textCol)
    val qg = graft.Names.quoted(groupCol)
    val boiler = boilerplateGrams(docs, idCol, textCol, n, minDf, topK)
      .select(col("gram"))
    val hits = docs
      .select(col(qi).as("doc_id"),
        coalesce(col(qg), lit("(null)")).as("grp"),
        tokens(col(qt)).as("__toks"))
      .select(col("doc_id"), col("grp"),
        posexplode(wordNgrams("__toks", n)))
      .join(broadcast(boiler), col("col") === col("gram"))
      .select(col("doc_id"), col("grp"), (col("pos") + 1).cast("bigint").as("i"))
    val wd = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("i"))
    val perDoc = hits
      .withColumn("__prev", lag(col("i"), 1).over(wd))
      .withColumn("__cov", least(lit(n.toLong),
        coalesce(col("i") - col("__prev"), lit(n.toLong))))
      .groupBy(col("doc_id"), col("grp"))
      .agg(sum(col("__cov")).cast("bigint").as("covered"))
    val totals = docs
      .select(coalesce(col(qg), lit("(null)")).as("grp"),
        tokenCount(col(qt)).cast("bigint").as("__m"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__m")).cast("bigint").as("total_tokens"))
    val strip = perDoc.groupBy(col("grp"))
      .agg(count(lit(1)).as("n_docs_hit"),
        sum(col("covered")).cast("bigint").as("covered_tokens"))
    totals.join(strip, Seq("grp"), "left")
      .select(col("grp").as(groupCol), col("n_docs"),
        coalesce(col("n_docs_hit"), lit(0L)).as("n_docs_hit"),
        col("total_tokens"),
        coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"))
      .withColumn("cleaned_tokens",
        col("total_tokens") - col("covered_tokens"))
      .withColumn("strip_ppm", expr(
        "cast(cast(covered_tokens as decimal(38,0)) * 1000000 " +
          "div greatest(total_tokens, 1L) as bigint)"))
  }

  /** Fraction (millionths) of word 3-grams that are repeats of an
    * earlier 3-gram in the same doc — the Gopher-style repetition
    * signal. Row-local list arithmetic, no shuffle. */
  def dup3gramFp(gramsCol: String): Column =
    expr(
      s"""CASE WHEN size($gramsCol) = 0 THEN 0L
         | ELSE cast(floor(1000000.0 *
         |   cast(size($gramsCol) - size(array_distinct($gramsCol)) as double)
         |   / cast(size($gramsCol) as double)) as bigint) END""".stripMargin)

  /** Count of word bigrams whose md5 lands in the "green" half of
    * hash space — the detection side of green-list text watermarking
    * (Kirchenbauer et al. 2023, "A Watermark for Large Language
    * Models"): a watermarking generator biases each next-token choice
    * toward the hash-defined green list of its context, so
    * watermarked text shows a green fraction far above the natural
    * γ = 1/2, and DETECTION needs no model and no key beyond the hash
    * convention — one row-local filter over the bigram list. The
    * screen a pretraining pipeline runs to keep synthetic
    * (watermarked) text out of a human-text corpus. */
  def greenCount(gramsCol: String): Column = expr(
    s"""cast(size(filter($gramsCol,
       |  x -> cast(conv(substring(md5(x), 1, 15), 16, 10) as bigint)
       |    % 2 = 0)) as bigint)""".stripMargin)

  /** The full q293 watermark screen as ONE spelling shared by the
    * batch card and a streaming frame of arrivals (the
    * q272 discipline — batch and stream can never disagree): per doc,
    * bigram count, green count, green ppm, and the exact-integer
    * one-sided 3σ binomial flag (2g > n AND (2g−n)² ≥ 9n — no square
    * root, no doubles, self-scaling with doc length). A stateless
    * codegen projection: no aggregate, no state, streaming-legal in
    * any output mode. */
  def watermarkScreen(docs: DataFrame, idCol: String, textCol: String,
      minPairs: Long): DataFrame =
    docs
      .withColumn("__toks", tokens(col(graft.Names.quoted(textCol))))
      .withColumn("__g2", wordNgrams("__toks", 2))
      .select(col(graft.Names.quoted(idCol)).as("doc_id"),
        size(col("__g2")).cast("bigint").as("n_pairs"),
        greenCount("__g2").as("n_green"))
      .withColumn("green_ppm", when(col("n_pairs") === 0L, lit(0L))
        .otherwise(expr("(n_green * 1000000) div n_pairs")))
      .withColumn("flagged", col("n_pairs") >= minPairs &&
        col("n_green") * 2L > col("n_pairs") &&
        (col("n_green") * 2L - col("n_pairs")) *
          (col("n_green") * 2L - col("n_pairs")) >= col("n_pairs") * 9L)

  /** Four-fifths adverse-impact threshold (ppm) for [[gateDisparity]]. */
  val AdverseImpactPpm = 800000L

  /** Disparate-impact audit of the [[ruleFilter]] gate per group
    * (language, source, …): pass rate per group, each group's impact
    * ratio against the BEST-passing group, and the classic
    * four-fifths adverse flag (impact < 0.8) — the audit that catches
    * an English-tuned heuristic gate quietly halving another
    * language's representation. The group column rides ruleFilter's
    * OWN scan (carryCols — no second corpus read); the best-rate arm
    * is a broadcast one-row crossJoin; frames are bounded by the
    * group cardinality. The verdict is RELATIVE, so it stays
    * meaningful wherever the absolute pass rates sit. */
  def gateDisparity(docs: DataFrame, idCol: String, textCol: String,
      groupCol: String): DataFrame = {
    val byGroup = ruleFilter(docs, idCol, textCol,
        carryCols = Seq(groupCol))
      .select(coalesce(col(graft.Names.quoted(groupCol)).cast("string"),
        lit("(null)")).as("__g"),
        (col("reasons") === 0L).as("pass"))
      .groupBy(col("__g"))
      .agg(count(lit(1)).cast("bigint").as("n_docs"),
        sum(when(col("pass"), 1L).otherwise(0L)).cast("bigint")
          .as("n_pass"))
      .withColumn("pass_ppm", expr(
        "cast(cast(n_pass as decimal(38,0)) * 1000000 " +
          "div greatest(n_docs, 1L) as bigint)"))
    byGroup
      .crossJoin(broadcast(byGroup.agg(max(col("pass_ppm")).as("best_ppm"))))
      .select(col("__g").as(groupCol), col("n_docs"), col("n_pass"),
        col("pass_ppm"),
        expr("cast(cast(pass_ppm as decimal(38,0)) * 1000000 " +
          "div greatest(best_ppm, 1L) as bigint)").as("impact_ppm"))
      .withColumn("adverse", col("impact_ppm") < AdverseImpactPpm)
  }

  /** Per-doc sentence statistics — the Gopher-style
    * structure-of-prose signals the token-level filters can't see:
    * sentence count (too few = a fragment or a list), mean tokens
    * per sentence in centi-tokens (absurdly high = run-on boilerplate
    * or markup), and the longest sentence. Sentences split on runs of
    * `[.!?]` — a PORTABLE regex (identical semantics in Java regex
    * and DuckDB's RE2) — and blank segments are dropped on BOTH
    * engines, because the engines disagree about trailing empties and
    * neither side may keep any. One row-local traversal: filter →
    * per-sentence token counts → fold; no explode, no shuffle.
    * Output: `(doc_id, n_sent, sent_tokens, mean_ctok_per_sent,
    * max_sent_tok)`; null/blank docs read all zeros. */
  def sentenceStats(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val qt = graft.Names.quoted(textCol)
    docs
      .select(col(graft.Names.quoted(idCol)).as("doc_id"), expr(
        s"""transform(
           |  filter(split(coalesce($qt, ''), '[.!?]+'),
           |    x -> length(trim(x)) > 0),
           |  x -> cast(size(split(trim(x), '\\\\s+')) as bigint))"""
          .stripMargin).as("tl"))
      .select(col("doc_id"),
        size(col("tl")).cast("bigint").as("n_sent"),
        coalesce(expr("aggregate(tl, 0L, (a, x) -> a + x)"), lit(0L))
          .as("sent_tokens"),
        coalesce(expr("array_max(tl)"), lit(0L)).as("max_sent_tok"))
      .select(col("doc_id"), col("n_sent"), col("sent_tokens"),
        when(col("n_sent") === 0L, lit(0L))
          .otherwise(expr("(sent_tokens * 100) div n_sent"))
          .as("mean_ctok_per_sent"),
        col("max_sent_tok"))
  }

  /** Sorted character array of a text column — the input shape of
    * [[charCollisionFp]] (sorted so equal chars are adjacent and the
    * collision fold is one row-local pass). Null → the empty text's
    * single "" element (both engines split "" that way). */
  def sortedChars(text: Column): Column =
    sort_array(split(coalesce(text, lit("")), ""))

  /** Collision (Rényi-2) index of a doc's character distribution in
    * ppm: ⌊10⁶·Σc(c−1)/(n(n−1))⌋ — the probability two random char
    * draws collide. Natural text sits near a language's letter-
    * frequency collision (~6–8%); keyboard-mash / run-on spam
    * ("aaaa…") reads far higher, which makes this the gibberish
    * filter that needs NO logarithm (the Simpson-over-Shannon
    * discipline — exact rational, oracle-replayable). `csCol` is a
    * SORTED char array ([[sortedChars]]); the fold is one row-local
    * pass over runs of equal chars — no explode, no shuffle. Docs
    * under 2 chars read 0. */
  def charCollisionFp(csCol: String): Column = expr(
    // the numerator parens are LOAD-BEARING: `a * b div c` inside a
    // CASE arm is a Spark 4 parse error (div binds looser than the
    // grammar admits there)
    s"""CASE WHEN size($csCol) < 2 THEN 0L
       | ELSE (cast(aggregate($csCol,
       |     named_struct('p', '', 'r', 0L, 'a', 0L),
       |     (s, c) -> CASE WHEN c = s.p
       |       THEN named_struct('p', c, 'r', s.r + 1L, 'a', s.a)
       |       ELSE named_struct('p', c, 'r', 1L,
       |         'a', s.a + s.r * (s.r - 1L)) END,
       |     s -> s.a + s.r * (s.r - 1L)) as decimal(38,0)) * 1000000)
       |   div (cast(size($csCol) as decimal(38,0))
       |     * (size($csCol) - 1)) END""".stripMargin)

  /** Exploded (doc_id, w) whitespace-token stream — the input shape
    * every vocabulary-driven scorer starts from. */
  def explodedTokens(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val q = graft.Names.quoted _
    docs.select(col(q(idCol)).as("doc_id"),
      explode(tokens(col(q(textCol)))).as("w"))
  }

  /** Full token-frequency table `(w, c)` of an exploded token stream —
    * bounded by DISTINCT tokens, not corpus tokens, so it is the one
    * corpus-derived artifact cheap enough to materialize at 100 TB. */
  def tokenFreq(toks: DataFrame): DataFrame =
    toks.groupBy(col("w")).agg(count(lit(1)).as("c"))

  /** Corpus top-`vocabSize` vocabulary `(w, c)` by (count desc, token
    * asc) — orderBy+limit plans as TakeOrdered (never a global sort),
    * and the deterministic tie-break keeps the vocab identical across
    * partitionings. Shared by the OOV (q53) and surprisal (q71)
    * scorers so the tie-break cannot drift between them. */
  def topVocab(toks: DataFrame, vocabSize: Int): DataFrame =
    topVocabOfFreq(tokenFreq(toks), vocabSize)

  /** [[topVocab]] starting from an already-computed `(w, c)` frequency
    * table — same TakeOrdered plan shape and tie-break. */
  def topVocabOfFreq(freq: DataFrame, vocabSize: Int): DataFrame =
    freq.orderBy(col("c").desc, col("w").asc).limit(vocabSize)

  /** Mean unigram surprisal per document (fixed-point bits) against a
    * corpus-derived top-`vocabSize` vocabulary — the deterministic
    * stand-in for a CCNet-style perplexity filter: low mean surprisal
    * = boilerplate/common text, high = rare-token or gibberish text,
    * and either tail is a curation signal. Surprisal of a vocab word
    * with count c in an N-token corpus is `floor(log2(N/c))`, computed
    * INTEGER-EXACTLY as the binary digit length of `N div c` minus one
    * (float log2 would drift in the last ulp across engines; digit
    * length cannot). Out-of-vocab words charge the maximum
    * `floor(log2(N))` — add-one smoothing's c=1 shape.
    *
    * Returns every input id: (doc_id, n_tokens, sum_bits,
    * surprisal_fp) with surprisal_fp = floor(10⁶·sum_bits/n_tokens).
    *
    * 100 TB shape: q53's vocabulary machinery, with only the SKINNY
    * artifact materialized — the `(w, c)` token-frequency aggregate
    * (bounded by distinct tokens) is cached once and feeds BOTH the
    * corpus total `N = sum(c)` and the vocab TakeOrdered; the raw
    * exploded token stream (~1.5× the corpus text) is never persisted.
    * The scoring join recomputes the codegen'd tokenize, which at
    * 100 TB is strictly cheaper than a corpus-sized cache write.
    * The corpus total N reaching the driver is ONE scalar, the same
    * bounded-collect shape as the IVF seed read. */
  def unigramSurprisalFp(docs: DataFrame, idCol: String, textCol: String,
      vocabSize: Int = 20): DataFrame = {
    require(vocabSize > 0, "vocabSize must be positive")
    val q = graft.Names.quoted _
    val toks = explodedTokens(docs, idCol, textCol)
    val freq = Caches.persistTracked(tokenFreq(toks))
    val n = math.max(freq.agg(coalesce(sum(col("c")), lit(0L))).head.getLong(0), 1L)
    val vocab = topVocabOfFreq(freq, vocabSize)
      .select(col("w"), expr(s"cast(length(bin($n div c)) - 1 as bigint)").as("bits"))
    val oovBits = lit(java.lang.Long.toBinaryString(n).length - 1L).cast("bigint")
    val scored = toks.join(broadcast(vocab), Seq("w"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(coalesce(col("bits"), oovBits)).as("sum_bits"))
    docs.select(col(q(idCol)).as("doc_id")).join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("sum_bits"), lit(0L)).as("sum_bits"),
        when(coalesce(col("n_tokens"), lit(0L)) === 0L, lit(0L))
          .otherwise(expr(
            "cast(floor(1000000.0 * cast(sum_bits as double) / cast(n_tokens as double)) as bigint)"))
          .as("surprisal_fp"))
  }

  /** Corpus-relative length filter: flag documents whose token count
    * lies outside the corpus's [loPct, hiPct] percentile band — the
    * dynamic-threshold cousin of [[ruleFilter]]'s fixed bounds (real
    * curation derives its cutoffs from the corpus at hand; a fixed
    * 20-token floor is wrong for both tweets and books). Thresholds
    * are EXACT order statistics: the smallest token count whose
    * cumulative frequency reaches `ceil(pct·N/100)`, with the rank
    * computed in integer arithmetic (`(pct·N + 99) div 100`) so no
    * engine's float rounding can shift a cutoff.
    *
    * Returns every doc: (doc_id, n_tok, lo_tok, hi_tok, kept).
    *
    * 100 TB shape: one counting aggregation on n_tok, a cumulative
    * window over the DISTINCT-count rows only (bounded by distinct
    * lengths — the q40-audited shape, never a corpus-wide sort), a
    * one-row threshold aggregate broadcast back over the skinny
    * cached (doc_id, n_tok) projection. N reaching the driver is one
    * scalar (the q71 pattern). */
  def tokenBandFilter(docs: DataFrame, idCol: String, textCol: String,
      loPct: Int = 5, hiPct: Int = 95): DataFrame = {
    require(0 <= loPct && loPct <= hiPct && hiPct <= 100,
      s"percentile band [$loPct, $hiPct] must satisfy 0 <= lo <= hi <= 100")
    val q = graft.Names.quoted _
    // null text ≡ empty (the ruleFilter/fingerprintOrEmpty contract):
    // without it a NULL n_tok sorts FIRST in Spark's cumulative window
    // but LAST in the oracle's, silently shifting both thresholds
    val toks = Caches.persistTracked(docs.select(col(q(idCol)).as("doc_id"),
      tokenCount(coalesce(col(q(textCol)), lit(""))).cast("bigint").as("n_tok")))
    val n = toks.count()
    def rank(pct: Int): Long = math.max((pct * n + 99L) / 100L, 1L)
    val counts = toks.groupBy(col("n_tok")).agg(count(lit(1)).as("c"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("n_tok")).rowsBetween(Long.MinValue, 0)
    val cum = counts.withColumn("cum", sum(col("c")).over(w))
    val thresholds = cum.agg(
      min(when(col("cum") >= rank(loPct), col("n_tok"))).as("lo_tok"),
      min(when(col("cum") >= rank(hiPct), col("n_tok"))).as("hi_tok"))
    toks.crossJoin(broadcast(thresholds))
      .select(col("doc_id"), col("n_tok"), col("lo_tok"), col("hi_tok"),
        col("n_tok").between(col("lo_tok"), col("hi_tok")).as("kept"))
  }

  // ---- Gopher/C4-style rule filter ----------------------------------

  /** Rule thresholds for [[ruleFilter]] — fixed-point scales match the
    * signal each rule reads (token counts raw; mean token length ×100;
    * ratios ×10⁶). One bit per rule in the `reasons` mask, so a
    * downstream audit can count WHY documents were dropped, not just
    * how many. */
  val RuleMinTokens = 20L          // bit 0: too short
  val RuleMaxTokens = 1000L        // bit 1: too long
  val RuleMinMeanTokLenFp = 300L   // bit 2: mean token length < 3 chars
  val RuleMaxMeanTokLenFp = 1000L  // bit 2: ... or > 10 chars
  val RuleMinStopFp = 20000L       // bit 3: stopword ratio < 2%
  val RuleMaxDup3gramFp = 180000L  // bit 4: >18% repeated 3-grams
  val RuleMaxDigitFp = 200000L     // bit 5: >20% digit characters

  /** Per-document rule-based quality filter (the Gopher/C4 shape):
    * evaluates every rule on every document and returns
    * `(doc_id, n_tok, reasons, kept)` where `reasons` is a bitmask of
    * violated rules and `kept = reasons == 0`. Unlike a boolean
    * filter, the mask preserves the drop ACCOUNTING a curation
    * pipeline needs (how much mass each rule removes — the first
    * question asked of any filtered corpus).
    *
    * Null text normalizes to empty (flagged too-short, bit 0) — a
    * filter must never silently pass what it could not score.
    *
    * 100 TB shape: the token array is projected ONCE and every rule
    * reads it — all row-local codegen'd built-ins (split / aggregate /
    * regexp), zero shuffle, zero UDFs; the scan's cost IS the
    * operator's cost. Thresholds are compile-time literals, so the
    * whole mask folds into one whole-stage-codegen'd projection.
    *
    * `carryCols` pass through to the output unchanged, so a downstream
    * aggregation (per-language drop accounting, the corpus data card)
    * rides the SAME scan instead of joining a second one.
    * `withQuality` appends `quality_fp` computed from the staged parts
    * (token count, stopword ratio, text length) — byte-identical to
    * [[qualityScoreFp]] without re-folding the token array, and gated
    * by q73's oracle (which replays the q20 formula). */
  def ruleFilter(df: DataFrame, idCol: String, textCol: String,
      carryCols: Seq[String] = Nil, withQuality: Boolean = false): DataFrame = {
    val t = coalesce(col(graft.Names.quoted(textCol)), lit(""))
    val carried = carryCols.map(c => col(graft.Names.quoted(c)))
    val staged = graft.llm.Spread(df
        .select(col(graft.Names.quoted(idCol)).as("doc_id") +: t.as("__text") +: carried: _*))
      .withColumn("__toks", tokens(col("__text")))
      .withColumn("n_tok", size(col("__toks")).cast("bigint"))
      .withColumn("__mean_fp",
        when(col("n_tok") === 0L, lit(0L)).otherwise(
          floor(aggregate(col("__toks"), lit(0L), (acc, w) => acc + length(w))
            .cast("double") * 100.0 / col("n_tok").cast("double")).cast("bigint")))
      .withColumn("__stop_fp",
        when(col("n_tok") === 0L, lit(0L)).otherwise(
          floor(size(filter(col("__toks"),
            w => array_contains(lit(DefaultStopwords.toArray), w))).cast("double")
            * 1e6 / col("n_tok").cast("double")).cast("bigint")))
      .withColumn("__g3", word3grams("__toks"))
      .withColumn("__dup3_fp", dup3gramFp("__g3"))
      .withColumn("__digit_fp",
        when(length(col("__text")) === 0, lit(0L)).otherwise(
          floor(length(regexp_replace(col("__text"), "[^0-9]", "")).cast("double")
            * 1e6 / length(col("__text")).cast("double")).cast("bigint")))
    def bit(cond: Column, b: Int): Column =
      when(cond, lit(1L << b)).otherwise(lit(0L))
    staged
      .withColumn("reasons",
        (bit(col("n_tok") < RuleMinTokens, 0) +
          bit(col("n_tok") > RuleMaxTokens, 1) +
          bit(col("__mean_fp") < RuleMinMeanTokLenFp ||
            col("__mean_fp") > RuleMaxMeanTokLenFp, 2) +
          bit(col("__stop_fp") < RuleMinStopFp, 3) +
          bit(col("__dup3_fp") > RuleMaxDup3gramFp, 4) +
          bit(col("__digit_fp") > RuleMaxDigitFp, 5)).cast("bigint"))
      .withColumn("kept", col("reasons") === 0L)
      .withColumn("quality_fp",
        // qualityScoreFp's three terms over the parts the mask already
        // derived — keep in lockstep with that fold (and qualityFpSql)
        (when(col("n_tok").between(20L, 1000L), lit(400000L))
          .when(col("n_tok") >= 5L, lit(200000L)).otherwise(lit(0L)) +
          when(col("__stop_fp").between(20000L, 400000L), lit(400000L))
            .otherwise(lit(100000L)) +
          when(length(col("__text")) >= 100, lit(200000L)).otherwise(lit(50000L)))
          .cast("bigint"))
      .select(Seq(col("doc_id"), col("n_tok"), col("reasons"), col("kept")) ++
        (if (withQuality) Seq(col("quality_fp")) else Nil) ++ carried: _*)
  }

  /** `floor(2·log2(x/y))` for positive x ≥ y, integer-exactly as the
    * binary digit length of `x² div y²` minus one — the q71/BM25
    * digit-length trick at HALF-bit resolution (squaring, not
    * fourth-powering, keeps the oracle's HUGEINT within range at
    * test scale; BigInt here is exact at any scale). */
  private[llm] def log2Q2(x: BigInt, y: BigInt): Long = {
    require(x >= y && y > 0, "log2Q2 requires x >= y > 0")
    ((x * x) / (y * y)).bitLength - 1L
  }

  /** Collocation extraction: the top-`topK` adjacent token pairs by
    * count, scored with pointwise mutual information in half-bits —
    * `pmi_q2 = floor(2·log2(N·c_ab / (c_a·c_b)))` — the classic
    * find-the-multiword-terms pass ("new york", "machine learning")
    * a corpus pipeline runs before vocabulary decisions. Only
    * POSITIVE-PMI pairs survive (`N·c_ab ≥ c_a·c_b`): a pair seen
    * less often than independence predicts is not a collocation.
    * Integer arithmetic throughout (BigInt squaring for the log), so
    * DuckDB replays count, filter, score and ranking exactly.
    *
    * Returns `(w_a, w_b, c_ab, pmi_q2)`, ranked `c_ab` desc with the
    * (w_a, w_b) lexicographic tie-break.
    *
    * 100 TB shape: adjacent pairs explode scan-locally from each
    * doc's token array (never a self-join); the pair aggregate is
    * bounded by observed bigrams; unigram counts and the corpus
    * total ride broadcast; the final ranking is TakeOrdered over the
    * `minCount`-filtered aggregate, never a global sort. */
  def collocations(docs: DataFrame, idCol: String, textCol: String,
      minCount: Long = 2L, topK: Int = 20): DataFrame = {
    require(minCount >= 1L, "minCount must be at least 1")
    require(topK > 0, "topK must be positive")
    val q = graft.Names.quoted _
    // the token stream has ONE consumer here (the unigram aggregate) —
    // no persist; the pair path re-runs the codegen'd tokenize, which
    // at 100 TB is cheaper than a corpus-sized cache write (the q71
    // lesson). The skinny freq aggregate is what both joins reuse.
    val freq = Caches.persistTracked(
      tokenFreq(explodedTokens(docs, idCol, textCol)))
    val total = freq.agg(coalesce(sum(col("c")), lit(0L)).as("n"))
    val pairs = docs.select(tokens(col(q(textCol))).as("y"))
      .filter(size(col("y")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(y) - 1), " +
          "i -> struct(element_at(y, i) AS a, element_at(y, i + 1) AS b))")).as("p"))
      .groupBy(col("p.a").as("w_a"), col("p.b").as("w_b"))
      .agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= minCount)
    val pmiUdf = udf { (n: Long, cab: Long, ca: Long, cb: Long) =>
      val x = BigInt(n) * BigInt(cab)
      val y = BigInt(ca) * BigInt(cb)
      if (x >= y) Some(log2Q2(x, y)) else None
    }
    // unigram joins stay plain equi-joins: the full frequency table is
    // vocabulary-sized, not guaranteed broadcastable — AQE promotes
    // them when it is; only the 1-row total is broadcast by fiat
    pairs
      .join(freq.select(col("w").as("w_a"), col("c").as("__ca")), Seq("w_a"))
      .join(freq.select(col("w").as("w_b"), col("c").as("__cb")), Seq("w_b"))
      .crossJoin(broadcast(total))
      .select(col("w_a"), col("w_b"), col("c_ab"),
        pmiUdf(col("n"), col("c_ab"), col("__ca"), col("__cb")).as("pmi_q2"))
      .filter(col("pmi_q2").isNotNull)
      .orderBy(col("c_ab").desc, col("w_a").asc, col("w_b").asc)
      .limit(topK)
  }

  /** Bigram-conditional surprisal — the language-model upgrade of
    * [[unigramSurprisalFp]]: each adjacent pair (a, b) costs
    * `⌊log₂((c(a)+V) / (c(ab)+1))⌋` bits, i.e. −log₂ of the add-one-
    * smoothed conditional P(b|a) = (c(ab)+1)/(c(a)+V), computed
    * integer-exactly via binary digit length. A doc full of common
    * words in UNCOMMON order now scores high where the unigram model
    * is blind — the fluency signal perplexity filters actually use.
    * Docs with fewer than 2 tokens report 0/0/0.
    *
    * 100 TB shape: pairs explode scan-locally per doc (never a
    * self-join); the bigram-type table aggregates once on (a, b) and
    * the scoring join shuffles the pair stream by the same key — the
    * one corpus-sized exchange; unigram context counts join the
    * bigram TYPE table (vocabulary-sized, AQE promotes to broadcast
    * when it fits); V reaches the driver as one scalar. The token
    * stream is recomputed, never persisted (the q71 lesson). */
  def bigramSurprisalFp(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val q = graft.Names.quoted _
    def pairsByDoc = docs
      .select(col(q(idCol)).as("doc_id"), tokens(col(q(textCol))).as("y"))
      .filter(size(col("y")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(y) - 1), " +
          "i -> struct(element_at(y, i) AS a, element_at(y, i + 1) AS b))")).as("p"))
      .select(col("doc_id"), col("p.a").as("a"), col("p.b").as("b"))
    val freq = Caches.persistTracked(tokenFreq(explodedTokens(docs, idCol, textCol)))
    val v = math.max(freq.count(), 1L)
    val bits = pairsByDoc.groupBy(col("a"), col("b")).agg(count(lit(1)).as("c_ab"))
      .join(freq.select(col("w").as("a"), col("c").as("c_a")), Seq("a"))
      .select(col("a"), col("b"),
        expr(s"cast(length(bin((c_a + ${v}L) div (c_ab + 1L))) - 1 as bigint)")
          .as("bits"))
    val scored = pairsByDoc.join(bits, Seq("a", "b"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("bits")).as("sum_bits"))
    docs.select(col(q(idCol)).as("doc_id")).join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("sum_bits"), lit(0L)).as("sum_bits"),
        when(coalesce(col("n_bigrams"), lit(0L)) === 0L, lit(0L))
          .otherwise(expr(
            "cast(floor(1000000.0 * cast(sum_bits as double) / cast(n_bigrams as double)) as bigint)"))
          .as("surprisal2_fp"))
  }

  /** Robust per-group outlier card: median / MAD (median absolute
    * deviation) flagging — the outlier detector that a handful of
    * million-token documents cannot drag, unlike mean/stddev, and
    * that needs no float (so no engine drift). Conventions: the LOWER
    * median — the smallest value whose cumulative count reaches
    * `(n+1) div 2` — for both passes; `is_outlier = |x−med| > 3·mad`.
    * A singleton group has mad 0 and flags nothing.
    *
    * 100 TB shape: each pass is the q74 machinery — ONE counting
    * aggregate on (group, value), persisted at distinct-value size,
    * from which both the cumulative window (over the distinct-value
    * rows only) and the group sizes derive; a group-row-sized median
    * table broadcasts back. The corpus is scanned once per pass,
    * never sorted. Returns the input columns plus `med`, `mad`,
    * `is_outlier`. */
  def robustOutliers(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val qg = graft.Names.quoted(groupCol)
    val qv = graft.Names.quoted(valueCol)
    def medianOf(frame: DataFrame, vCol: String, outName: String): DataFrame = {
      val qc = graft.Names.quoted(vCol)
      val c = graft.Names.fresh("_c", frame.columns)
      val cum = graft.Names.fresh("_cum", frame.columns)
      val n = graft.Names.fresh("_n", frame.columns)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col(qg)).orderBy(col(qc))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      val cells = Caches.persistTracked(
        frame.groupBy(col(qg), col(qc)).agg(count(lit(1)).as(c)))
      cells
        .withColumn(cum, sum(col(c)).over(w))
        .join(cells.groupBy(col(qg)).agg(sum(col(c)).as(n)), Seq(groupCol))
        .filter(col(cum) >= expr(s"(`$n` + 1L) div 2L"))
        .groupBy(col(qg)).agg(min(col(qc)).as(outName))
    }
    val med = medianOf(df.select(col(qg), col(qv)), valueCol, "med")
    val withMed = df.join(broadcast(med), Seq(groupCol))
    val dev = graft.Names.fresh("_dev", df.columns :+ "med")
    val devFrame = withMed.withColumn(dev, abs(col(qv) - col("med")))
    val mad = medianOf(devFrame.select(col(qg), col(dev)), dev, "mad")
    withMed.join(broadcast(mad), Seq(groupCol))
      .withColumn("is_outlier", abs(col(qv) - col("med")) > lit(3L) * col("mad"))
  }

  /** Per-group distribution drift vs the whole corpus: bucket an
    * integer feature (`bucket = min(v div bucketWidth, maxBucket)`),
    * convert each group's histogram and the global histogram to ppm
    * SHARES, and report the L2 distance `Σ_b (s_b − g_b)²` — the
    * corpus-monitoring number ("did source X's length profile move
    * away from the corpus?") that stays integer-exact at ANY corpus
    * size, where a χ² on raw counts would overflow fixed-width
    * integers at 10¹¹ rows. Shares are ≤ 10⁶, the bucket axis is
    * capped, so the statistic is bounded by 51·10¹² regardless of
    * scale. Buckets a group never hit still contribute (0 − g_b)².
    *
    * 100 TB shape: ONE counting aggregation over the corpus — the
    * (group × bucket) cell counts, persisted at its tiny aggregate
    * size — from which the per-group totals, the global histogram,
    * and the corpus total all derive by re-aggregating cells; no
    * second scan, no driver-side action. All arithmetic then runs on
    * the bucket-grid cross of broadcast-sized aggregates. Returns
    * `(group, n_rows, drift_l2)`. */
  def histogramDrift(df: DataFrame, groupCol: String, valueCol: String,
      bucketWidth: Long = 10L, maxBucket: Long = 50L): DataFrame = {
    require(bucketWidth > 0 && maxBucket >= 0, "bad bucket geometry")
    val qg = graft.Names.quoted(groupCol)
    val qv = graft.Names.quoted(valueCol)
    val b = graft.Names.fresh("_b", df.columns)
    val bucketed = df.select(col(qg),
      least(expr(s"$qv div ${bucketWidth}L"), lit(maxBucket)).as(b))
    val perGroup = Caches.persistTracked(
      bucketed.groupBy(col(qg), col(b)).agg(count(lit(1)).as("o")))
    val totals = perGroup.groupBy(col(qg)).agg(sum(col("o")).as("n_rows"))
    val global = perGroup.groupBy(col(b)).agg(sum(col("o")).as("cb"))
    val nTotal = perGroup.agg(sum(col("o")).as("nt"))
    val grid = totals.crossJoin(broadcast(global))
      .crossJoin(broadcast(nTotal))
      .join(perGroup, Seq(groupCol, b), "left")
      .select(col(qg), col("n_rows"),
        expr("(coalesce(o, 0L) * 1000000L) div n_rows").as("s"),
        expr("(cb * 1000000L) div greatest(nt, 1L)").as("gs"))
    grid.groupBy(col(qg), col("n_rows"))
      .agg(sum((col("s") - col("gs")) * (col("s") - col("gs"))).as("drift_l2"))
      .select(col(qg), col("n_rows"), col("drift_l2"))
  }

  /** Cross-group score calibration: percentile-normalize an integer
    * score within each group — `pct_ppm = ⌊10⁶·|{s' < s}| /
    * max(n−1, 1)⌋`, so each group's minimum maps to 0 and maximum to
    * 10⁶ and a "good" score means the same thing in every group. The
    * curation use: quality thresholds tuned on one source silently
    * misfire on another whose score DISTRIBUTION differs; calibrating
    * first makes one threshold portable across sources.
    *
    * 100 TB shape: the rank walk runs over the (group, score)
    * COUNTING aggregate only — bounded by distinct scores (quantized
    * by construction for every score in this library), never a
    * corpus sort — and the percentile table broadcasts back onto the
    * corpus, so the corpus itself never shuffles. Returns the input
    * columns plus `pct_ppm`. */
  def scoreCalibration(df: DataFrame, groupCol: String, scoreCol: String): DataFrame = {
    require(!df.columns.contains("pct_ppm"), "input already has pct_ppm")
    val qg = graft.Names.quoted(groupCol)
    val qs = graft.Names.quoted(scoreCol)
    val c = graft.Names.fresh("_c", df.columns)
    val lt = graft.Names.fresh("_lt", df.columns)
    val n = graft.Names.fresh("_n", df.columns)
    val cnt = df.groupBy(col(qg), col(qs)).agg(count(lit(1)).as(c))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(qg)).orderBy(col(qs))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val totals = df.groupBy(col(qg)).agg(count(lit(1)).as(n))
    val pct = cnt.withColumn(lt, coalesce(sum(col(c)).over(w), lit(0L)))
      .join(totals, Seq(groupCol))
      .select(col(qg), col(qs),
        expr(s"(`$lt` * 1000000L) div greatest(`$n` - 1L, 1L)").as("pct_ppm"))
    df.join(broadcast(pct), Seq(groupCol, scoreCol))
  }

  /** Vocabulary-growth (Heaps' law) card: distinct-token and total-
    * token counts at `nCheckpoints` evenly-spaced corpus prefixes in
    * `idCol` order — the sizing evidence for tokenizer vocab and
    * dedup-sketch capacity planning ("how fast does vocabulary still
    * grow at the corpus tail?"). Checkpoint k covers ids
    * `< ⌈n·k/nCheckpoints⌉`; output is one row per checkpoint:
    * (chk, n_docs, vocab, total_tokens).
    *
    * 100 TB shape: the corpus-sized work is two aggregations — per
    * token `min(doc_id)` (bounded by DISTINCT tokens, the
    * [[tokenFreq]] precedent) and per doc a token count — after which
    * every prefix question is a conditional count against the tiny
    * broadcast checkpoint list. The naive alternative (re-scanning
    * the prefix per checkpoint) would cost nCheckpoints corpus scans;
    * this costs one. The driver holds one scalar (the doc count —
    * the bounded-collect precedent). */
  def vocabGrowth(docs: DataFrame, idCol: String, textCol: String,
      nCheckpoints: Int): DataFrame = {
    require(nCheckpoints > 0, "nCheckpoints must be positive")
    val q = graft.Names.quoted _
    val n = docs.count()
    val chks = (1 to nCheckpoints)
      .map(k => (n * k + nCheckpoints - 1) / nCheckpoints).distinct
    val spark = docs.sparkSession
    import spark.implicits._
    val chkDf = chks.toDF("chk")
    // null text reads as empty (the corpus-wide null-text contract)
    val d0 = docs.select(col(q(idCol)).as("doc_id"),
      coalesce(col(q(textCol)), lit("")).as("text"))
    val toks = explodedTokens(d0, "doc_id", "text")
    val firstSeen = toks.groupBy(col("w")).agg(min(col("doc_id")).as("fd"))
    val vocabAt = firstSeen.crossJoin(broadcast(chkDf))
      .groupBy(col("chk"))
      .agg(sum(when(col("fd") < col("chk"), 1L).otherwise(0L)).as("vocab"))
    val perDoc = d0.select(col("doc_id"),
      size(tokens(col("text"))).cast("bigint").as("nt"))
    val tokAt = perDoc.crossJoin(broadcast(chkDf))
      .groupBy(col("chk"))
      .agg(sum(when(col("doc_id") < col("chk"), col("nt")).otherwise(0L))
        .as("total_tokens"),
        sum(when(col("doc_id") < col("chk"), 1L).otherwise(0L)).as("n_docs"))
    vocabAt.join(tokAt, "chk")
      .select(col("chk"), col("n_docs"), col("vocab"), col("total_tokens"))
  }

  /** Per-group total-variation distance between the group's unigram
    * token distribution and the whole corpus's, as exact parts-per-
    * million: `TVD = ½·Σ_t |c_gt/r_g − c_t/N|`. Unlike a KL/χ² card,
    * TVD needs NO per-term division or logarithm — over the common
    * denominator `r_g·N` it is one integer numerator sum and ONE final
    * division, so it replays bit-for-bit in any engine and never
    * meets a float. Tokens the group lacks still contribute
    * (`r_g·c_t/N` mass); rather than materializing the group×vocab
    * grid, the identity
    * `Σ_all |c·N − r·c_t| = r·N + Σ_{t∈g}(|c·N − r·c_t| − r·c_t)`
    * folds every absent token into one closed-form term, so only rows
    * that EXIST are summed. Arithmetic runs in decimal(38,0):
    * `c·N ≤ N² ≤ 10³⁰` at a 10¹⁵-token corpus, and the final
    * `numerator·10⁶ ≤ 2·r·N·10⁶` stays under 10³⁸ — 100 TB-safe where
    * a BIGINT product overflows at ~10⁹ tokens.
    *
    * Scale shape: explode → one (group, token) aggregation, a
    * vocab-sized shuffle for per-token totals joined back on token,
    * an auto-broadcast per-group totals join, and a broadcast
    * one-row corpus total — no corpus-sized join anywhere. Groups
    * with zero tokens have no distribution and are absent. */
  def tokenDivergenceFp(df: DataFrame, groupCol: String,
      textCol: String): DataFrame = {
    val qg = graft.Names.quoted(groupCol)
    val toks = graft.llm.Spread(df.filter(col(qg).isNotNull)
        .select(col(qg).as("g"), col(graft.Names.quoted(textCol)).as("__t")))
      .select(col("g"), explode(tokens(col("__t"))).as("tok"))
    // persisted (Caches-tracked): the (group, token) counts feed the
    // pair join AND both marginal aggregations — unpersisted, each
    // consumer re-runs the corpus explode, the expensive pass
    val c = graft.llm.Caches.persistTracked(
      toks.groupBy(col("g"), col("tok")).agg(count(lit(1)).as("c")))
    val ct = c.groupBy(col("tok")).agg(sum(col("c")).cast("bigint").as("ct"))
    val rs = c.groupBy(col("g")).agg(sum(col("c")).cast("bigint").as("rs"))
    val n = rs.agg(sum(col("rs").cast("decimal(38,0)")).cast("bigint").as("n"))
    c.join(ct, "tok").join(rs, "g").crossJoin(broadcast(n))
      .groupBy(col("g"), col("rs"), col("n"))
      .agg(sum(expr(
        "abs(cast(c as decimal(38,0)) * n - cast(rs as decimal(38,0)) * ct)" +
          " - cast(rs as decimal(38,0)) * ct")).as("adj"))
      .select(col("g").as(groupCol), col("rs").as("n_tokens"),
        expr("cast(((cast(rs as decimal(38,0)) * n + adj) * 1000000)" +
          " div (2 * cast(rs as decimal(38,0)) * n) as bigint)").as("tvd_ppm"))
  }

  /** Mojibake pairs for the UTF-8-read-as-Latin-1 failure: each
    * well-formed character maps to the two Latin-1 characters its
    * UTF-8 bytes decode to (é = C3 A9 → "Ã©", ü = C3 BC → "Ã¼") —
    * the ftfy-style fix-text axis. Pair domains are disjoint and no
    * replacement output contains another pair's input, so the
    * replace chains below are order-insensitive and exact. */
  val MojibakePairs: Seq[(String, String)] = Seq("é" -> "Ã©", "ü" -> "Ã¼")

  /** The artifact LEAD character every 2-byte pair shares ('Ã' =
    * U+00C3, the misdecoded UTF-8 lead byte). */
  val MojibakeLead = "Ã"

  /** The double-encoding failure applied to `text` (each pair's
    * well-formed character → its artifact sequence). Used to plant
    * deterministic corruption for the q239 card; [[mojibakeRepair]]
    * is its exact inverse on detector-clean input. */
  def mojibakeCorrupt(text: Column): Column =
    MojibakePairs.foldLeft(text) { case (acc, (good, bad)) =>
      replace(acc, lit(good), lit(bad))
    }

  /** Reverses [[mojibakeCorrupt]]: every artifact sequence maps back
    * to its well-formed character. Exact inverse — and a no-op on
    * clean text — PROVIDED the input contained no artifact sequence
    * before corruption (the detector-clean precondition pinned by
    * MojibakeProps); row-local codegen'd replaces, zero shuffle. */
  def mojibakeRepair(text: Column): Column =
    MojibakePairs.reverse.foldLeft(text) { case (acc, (good, bad)) =>
      replace(acc, lit(bad), lit(good))
    }

  /** Count of artifact lead characters in `text` — the detector
    * (0 on clean text; ≥1 wherever a double-encoded sequence, or a
    * stray misdecoded lead byte, survives). */
  def mojibakeArtifactCount(text: Column): Column =
    (length(text) - length(replace(text, lit(MojibakeLead), lit(""))))
      .cast("bigint")

}
