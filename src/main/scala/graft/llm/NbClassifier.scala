package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Trained token-vote text classifier (multinomial naive Bayes reduced
  * to a per-token argmax vote), in the exact integer arithmetic every
  * trained artifact here uses so train → ship → score replays
  * byte-for-byte in a second engine.
  *
  * WHY a vote, not a log-likelihood sum: the NB decision rule needs
  * `Σ_tokens log p(w|c)` — floating-point logs are not replayable
  * across engines (see q163's ppm contract), and exact rational sums
  * of products overflow any fixed width. Per-token argmax with
  * add-one smoothing keeps every comparison a single exact integer
  * floor-division `(cnt+1)·10⁹ div (total_c + |V|)` — decimal(38,0)
  * on the Spark side, HUGEINT in the oracle — and the document
  * decision a majority over those votes: deterministic, orderable,
  * and exactly the quality/language router a curation pipeline wants
  * (reference scope: the platform validates `tableclassification`
  * metadata, `governance/checks/table.py`; this supplies the
  * content-derived classification signal itself).
  *
  * Scale shape: training is ONE (label, token) aggregate — bounded by
  * classes × token types (Heaps' law), not corpus tokens. Scoring
  * precomputes the winner PER TOKEN TYPE over that vocab-sized frame
  * (window over `w`), so the corpus-sized eval side pays one tf
  * aggregate (map-side combinable), one vocab join on `w`, and one
  * doc-keyed aggregate — no per-class expansion of the corpus and no
  * corpus-sized window. The counts frame is the shippable artifact
  * ([[Artifacts.saveIndexFrame]]); totals, vocabulary size, and the
  * winner table all re-derive from it, so a loaded replica scores
  * byte-identically to the session that trained it. */
object NbClassifier {

  /** Fixed-point scale for the smoothed per-class token score. 10⁹
    * keeps three more decimal digits than the repo's ppm convention
    * (class totals at 100 TB make neighboring scores close); the
    * product runs in decimal(38,0)/HUGEINT so the scale never
    * overflows int64 mid-expression. */
  val ScaleFp = 1000000000L

  /** Label assigned to documents with no tokens at all — no evidence,
    * no vote; kept distinct from the smoothing-prior default a doc of
    * only-unseen tokens gets. */
  val NoEvidenceLabel = "(none)"

  /** Train: the `(label, w, cnt)` token-count table from a labeled
    * corpus slice — the classifier's entire trained state. Null
    * labels are excluded (no class to credit). */
  def train(docs: DataFrame, textCol: String, labelCol: String): DataFrame = {
    val qt = graft.Names.quoted(textCol)
    val ql = graft.Names.quoted(labelCol)
    // no Spread here: the train slices this sees are small and the
    // explode feeds a partial aggregate — measured +0.9 s per
    // agreement card from the extra exchange (r19), net loss
    docs.filter(col(ql).isNotNull)
      .select(col(ql).cast("string").as("label"),
        explode(TextAnalysis.tokens(col(qt))).as("w"))
      .groupBy(col("label"), col("w"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** [[train]] over a PRE-EXPLODED `(label, w)` token frame — the
    * share-one-explode entry point: a multi-slice card (q218)
    * tokenizes the corpus ONCE and counts every slice in ONE
    * aggregate by riding the slice tag through `extraKeys`, instead
    * of re-tokenizing (or re-aggregating) per variant. Per slice the
    * counts are spec-pinned equal to [[train]]. */
  def trainFromTokens(tokens: DataFrame,
      extraKeys: Seq[String] = Nil): DataFrame =
    tokens.filter(col("label").isNotNull)
      .groupBy((extraKeys.map(col) :+ col("label")) :+ col("w"): _*)
      .agg(count(lit(1)).as("cnt"))

  /** Delta-training: counts are a commutative monoid under per-cell
    * addition, so a shipped artifact extends with a new labeled batch
    * WITHOUT re-reading the old corpus — `merge(train(A), train(B))`
    * equals `train(A ∪ B)` exactly (pinned in NbClassifierSpec),
    * which makes incremental retrains byte-honest, not approximate.
    * One (label, w) aggregate over the concatenated count frames. */
  def mergeCounts(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b)
      .groupBy(col("label"), col("w"))
      .agg(sum(col("cnt")).cast("bigint").as("cnt"))

  /** Erasure-APPLY on the shipped counts artifact — [[mergeCounts]]
    * run backwards: subtract the erased slice's OWN count table from
    * the loaded artifact and drop cells that hit zero. Counts form a
    * commutative monoid, so `eraseCounts(train(A ∪ B), train(B)) ==
    * train(A)` exactly (pinned in NbClassifierSpec and on-corpus by
    * q295) — the right-to-be-forgotten fold for the classifier
    * family: work is bounded by the erased docs' tokens plus one
    * cell-keyed join, never a retrain over history. PRECONDITION:
    * `erased` must be the counts of docs actually inside the
    * artifact's train slice (erasing counts never contributed would
    * corrupt shared cells downward). */
  def eraseCounts(counts: DataFrame, erased: DataFrame): DataFrame =
    counts
      .join(erased.select(col("label"), col("w"), col("cnt").as("__ec")),
        Seq("label", "w"), "left")
      .select(col("label"), col("w"),
        (col("cnt") - coalesce(col("__ec"), lit(0L))).cast("bigint")
          .as("cnt"))
      .filter(col("cnt") > 0L)

  /** The (variant, w) token-presence aggregate every verdict derives
    * from: each token type's present (label, cnt) pairs. Built ONCE
    * per predict and shared by [[verdictsFromPresent]] AND the vocab
    * size in [[labelConsts]] — its row count per variant IS
    * |vocabulary|, so the old separate `countDistinct(w)` pass over
    * the counts frame (a second vocab-sized aggregate, two exchanges)
    * is redundant (r20, guide §2.4: two consumers, one exchange). */
  private def presentAgg(countsAll: DataFrame): DataFrame =
    countsAll.groupBy(col("variant"), col("w"))
      .agg(collect_list(struct(col("label"), col("cnt"))).as("present"))

  /** Per-variant class constants folded to ONE array row per variant:
    * `(variant, labs: array<struct<label, tot, v>>)` — |classes| is
    * dozens at most, so the whole thing broadcasts by construction.
    * `sort_array` makes the collected order deterministic. `present`
    * is [[presentAgg]] of the SAME frame: one distinct-(variant, w)
    * row per vocab entry, so `count(w)` over it equals the old
    * `countDistinct(w)` over the raw counts (both skip nulls). */
  private def labelConsts(countsAll: DataFrame,
      present: DataFrame): DataFrame =
    countsAll.groupBy(col("variant"), col("label"))
      .agg(sum(col("cnt")).cast("bigint").as("tot"))
      .join(present.groupBy(col("variant"))
        .agg(count(col("w")).as("v")), Seq("variant"))
      .groupBy(col("variant"))
      .agg(sort_array(collect_list(
        struct(col("label"), col("tot"), col("v")))).as("labs"))

  /** Row-local argmax of the smoothed fixed-point score over the
    * broadcast `labs` constants, given this row's PRESENT (label,
    * cnt) pairs: each label's score is
    * `(cnt+1)·10⁹ div (tot+v)` in decimal(38,0), absent labels score
    * with cnt = 0, ties break label-ascending. One fold per row over
    * ≤ |classes| elements — no zero-cell grid, no join-back, no
    * per-class expansion of the vocab frame. */
  private def argmaxOverLabs(presentSql: String): Column =
    expr(s"""aggregate(
      transform(labs, x -> named_struct(
        's', cast((cast(aggregate(filter($presentSql,
                p -> p.label = x.label),
              cast(0 as bigint), (a, p) -> a + p.cnt) + 1
            as decimal(38,0)) * $ScaleFp)
          div (x.tot + x.v) as bigint),
        'l', x.label)),
      named_struct('s', cast(null as bigint), 'l', cast(null as string)),
      (acc, e) -> CASE WHEN acc.l IS NULL OR e.s > acc.s
        OR (e.s = acc.s AND e.l < acc.l) THEN e ELSE acc END).l""")

  /** The winner tables for a TAGGED union of trained counts frames:
    * `(variant, w, label_pred)` — the shared [[presentAgg]] joined to
    * one broadcast of the class constants, one row-local argmax. This
    * is the whole verdict pipeline: no distinct-grid, no join-back, k
    * variants in the same shuffles as one. Both inputs are built once
    * by the caller and shared with the defaults/consts path. */
  private def verdictsFromPresent(present: DataFrame,
      consts: DataFrame): DataFrame =
    present
      .join(broadcast(consts), Seq("variant"))
      .select(col("variant"), col("w"),
        argmaxOverLabs("present").as("label_pred"))

  /** The unseen-token default per variant: the same argmax with NO
    * present labels — `1·10⁹ div (tot_c + |V|)`, i.e. the class with
    * the smallest training mass, ties → smallest label. One row per
    * variant WITH trained counts (empty counts → no row). */
  private def defaultsForVariants(consts: DataFrame): DataFrame =
    consts.select(col("variant"),
      argmaxOverLabs(
        "cast(array() as array<struct<label: string, cnt: bigint>>)")
        .as("label_dflt"))

  private def tagged(counts: DataFrame): DataFrame =
    counts.select(lit("").as("variant"), col("label"), col("w"),
      col("cnt").cast("bigint").as("cnt"))

  /** The winner table: for every token TYPE in the train vocabulary,
    * the class maximizing the smoothed score (ties → smallest label).
    * Vocab-sized — this is what makes corpus scoring one join. */
  def tokenVerdicts(counts: DataFrame): DataFrame = {
    val t = tagged(counts)
    val present = presentAgg(t)
    verdictsFromPresent(present, labelConsts(t, present)).drop("variant")
  }

  /** The class an UNSEEN token votes for: argmax of the pure
    * smoothing score `1·10⁹ div (tot_c + |V|)` — i.e. the class with
    * the smallest training mass, ties → smallest label. One row. */
  def defaultVerdict(counts: DataFrame): DataFrame = {
    val t = tagged(counts)
    defaultsForVariants(labelConsts(t, presentAgg(t))).drop("variant")
  }

  /** The corpus-side term-frequency frame `(doc_id, w, tf)` predict
    * scores against — public so a card comparing several trained
    * variants on the SAME eval slice (q218) tokenizes that slice
    * once, persists this frame, and shares it across variants instead
    * of re-exploding the corpus per variant. */
  def termFrequencies(docs: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val qid = graft.Names.quoted(idCol)
    val qt = graft.Names.quoted(textCol)
    // Pre-partition the eval slice by doc_id (scale-guarded, r20):
    // every aggregate in the verdict pipeline above this frame is
    // doc-keyed — tf (doc_id, w), the vote sum (doc_id, lab), the
    // majority (doc_id) — and HashPartitioning(doc_id) satisfies the
    // clustered distribution of ALL of them, so the ONE keyed
    // exchange here replaces three stacked exchanges (guide §2.4:
    // operations keyed the same way share one exchange). The saving
    // relies on the winner table joining in as a broadcast, which
    // preserves partitioning; that is the planner's auto-broadcast
    // choice for a vocab-sized table, not a hint, so a vocab above
    // the threshold shuffle-joins on w and re-exchanges tf.
    // Spread.byKey no-ops on multi-file production scans, where the
    // w-join may be a shuffle join and AQE keeps byte-based sizing.
    Spread.byKey(docs.select(col(qid).as("doc_id"), col(qt).as("__t")),
        col("doc_id"))
      .select(col("doc_id"),
        explode(TextAnalysis.tokens(col("__t"))).as("w"))
      .groupBy(col("doc_id"), col("w"))
      .agg(count(lit(1)).as("tf"))
  }

  /** Score a corpus against a trained counts frame: every token
    * occurrence votes for its type's winner class (unseen types vote
    * the smoothing default), the document takes the majority (ties →
    * smallest label), token-free documents get [[NoEvidenceLabel]].
    * Output: `(doc_id, label_pred, n_tokens, share_ppm)` for every
    * input doc — `share_ppm` is the winning class's share of all
    * votes (floor ppm; 0 with no evidence), the confidence signal
    * the calibration card (q209) buckets. */
  def predict(docs: DataFrame, counts: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val qid = graft.Names.quoted(idCol)
    predictFromTf(docs.select(col(qid).as("doc_id")),
      termFrequencies(docs, idCol, textCol), counts)
  }

  /** [[predict]] over a PRECOMPUTED (doc_id, w, tf) frame — the
    * share-one-tokenize entry point for multi-variant cards. `docIds`
    * supplies the full eval universe (one `doc_id` column) so
    * token-free documents still land in the output. */
  def predictFromTf(docIds: DataFrame, tf: DataFrame,
      counts: DataFrame): DataFrame = {
    // The smoothing default must stay a ONE-row frame even when the
    // counts frame is empty: a bare crossJoin with an empty
    // defaultVerdict would collapse the votes frame to zero rows and
    // silently mark every doc no-evidence (ADVICE r13). A left join
    // from a literal single row instead carries a NULL default, so
    // with no trained counts every token votes NULL, each doc groups
    // into one NULL-label majority, and the output matches the
    // oracle's NULL-scalar-subquery spelling exactly: label_pred
    // coalesces to (none) but n_tokens stays real and share_ppm is
    // 1000000 — the trap the advisor flagged, closed in-plan with no
    // eager driver action.
    // ONE consts/present build feeds BOTH the winner table and the
    // unseen-token default (r20 — the old spelling built labelConsts
    // twice, once under tokenVerdicts and once under defaultVerdict,
    // re-running the vocab-sized aggregates per consumer unless
    // exchange reuse happened to fire)
    val t = tagged(counts)
    val present = presentAgg(t)
    val consts = labelConsts(t, present)
    val dflt = docIds.sparkSession.range(1).toDF("__one")
      .join(broadcast(defaultsForVariants(consts).drop("variant")
        .withColumn("__one", lit(0L))),
        Seq("__one"), "left")
      .select(col("label_dflt"))
    val votes = tf.join(verdictsFromPresent(present, consts)
        .drop("variant"), Seq("w"), "left")
      .crossJoin(broadcast(dflt))
      .withColumn("lab", coalesce(col("label_pred"), col("label_dflt")))
      .groupBy(col("doc_id"), col("lab"))
      .agg(sum(col("tf")).as("votes"))
    // the doc total AND the majority come out of one doc_id hash
    // aggregate (min_by over the (-votes, lab) struct = exactly the
    // (votes desc, lab asc) tie-break) — no sort, no window stage
    val pred = votes
      .groupBy(col("doc_id"))
      .agg(sum(col("votes")).cast("bigint").as("__nt"),
        min_by(struct(col("lab").as("l"), col("votes").as("v")),
          struct((col("votes") * -1L).as("nv"), col("lab"))).as("__w"))
      .select(col("doc_id"), col("__w.l").as("__lab"),
        col("__nt"), col("__w.v").cast("bigint").as("__tv"))
    docIds.select(col("doc_id"))
      .join(pred, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("__lab"), lit(NoEvidenceLabel)).as("label_pred"),
        coalesce(col("__nt"), lit(0L)).as("n_tokens"),
        coalesce(expr("cast(cast(__tv as decimal(38,0)) * 1000000 " +
          "div greatest(__nt, 1L) as bigint)"), lit(0L)).as("share_ppm"))
  }

  /** [[predictFromTf]] for SEVERAL trained variants in ONE corpus-side
    * pass — the multi-variant-card shape (q218), where scoring k
    * variants must cost one tf join, not k: the per-variant winner
    * tables are tagged and unioned (a vocab-sized frame), each tf row
    * fans out over the tiny broadcast (variant, default) frame, the
    * union is joined ONCE on (variant, w), and every majority comes
    * out of one (variant, doc_id) shuffle. Per variant the output is
    * row-for-row [[predictFromTf]] (spec-pinned): same votes, same
    * tie-break, same no-evidence handling — `variant` is just a tag
    * column riding every key. */
  def predictVariantsFromTf(docIds: DataFrame, tf: DataFrame,
      variants: Seq[(String, DataFrame)]): DataFrame = {
    require(variants.nonEmpty, "need at least one trained variant")
    val s = docIds.sparkSession
    // tag + union the trained counts, then run the verdict pipeline
    // ONCE over the tagged frame ([[presentAgg]] feeding
    // [[verdictsFromPresent]]) — k
    // variants in one totals aggregate, one winner aggregate, zero
    // extra stages. No persist here: callers hand in already-persisted
    // counts, and a union over cached vocab-sized frames is cheaper to
    // recompute than to materialize again
    val countsAll =
      variants.map { case (name, counts) =>
        counts.select(lit(name).as("variant"), col("label"), col("w"),
          col("cnt").cast("bigint").as("cnt"))
      }.reduce(_.unionByName(_))
    val presentAll = presentAgg(countsAll)
    val consts = labelConsts(countsAll, presentAll)
    val verdictsAll = verdictsFromPresent(presentAll, consts)
    // one row per variant, NULL default when its counts are empty —
    // the same NULL-carrying left join predictFromTf's literal row
    // provides, spelled over the variant-name local relation
    import s.implicits._
    val names = variants.map(_._1).toDF("variant")
    val dflts = names.join(defaultsForVariants(consts),
      Seq("variant"), "left")
    val votes = tf.crossJoin(broadcast(dflts))
      .join(verdictsAll, Seq("variant", "w"), "left")
      .withColumn("lab", coalesce(col("label_pred"), col("label_dflt")))
      .groupBy(col("variant"), col("doc_id"), col("lab"))
      .agg(sum(col("tf")).as("votes"))
    val pred = votes
      .groupBy(col("variant"), col("doc_id"))
      .agg(sum(col("votes")).cast("bigint").as("__nt"),
        min_by(struct(col("lab").as("l"), col("votes").as("v")),
          struct((col("votes") * -1L).as("nv"), col("lab"))).as("__w"))
      .select(col("variant"), col("doc_id"), col("__w.l").as("__lab"),
        col("__nt"), col("__w.v").cast("bigint").as("__tv"))
    docIds.select(col("doc_id"))
      .crossJoin(broadcast(names))
      .join(pred, Seq("variant", "doc_id"), "left")
      .select(col("variant"), col("doc_id"),
        coalesce(col("__lab"), lit(NoEvidenceLabel)).as("label_pred"),
        coalesce(col("__nt"), lit(0L)).as("n_tokens"),
        coalesce(expr("cast(cast(__tv as decimal(38,0)) * 1000000 " +
          "div greatest(__nt, 1L) as bigint)"), lit(0L)).as("share_ppm"))
  }

  /** The evaluation card: confusion matrix of a labeled eval slice
    * against the trained counts — `(label_true, label_pred, n_docs)`.
    * Every doc in `docs` lands in exactly one cell. */
  def confusionCard(docs: DataFrame, counts: DataFrame,
      idCol: String, textCol: String, labelCol: String): DataFrame = {
    val qid = graft.Names.quoted(idCol)
    val ql = graft.Names.quoted(labelCol)
    predict(docs, counts, idCol, textCol)
      .join(docs.select(col(qid).as("doc_id"),
        col(ql).cast("string").as("label_true")), Seq("doc_id"))
      .groupBy(col("label_true"), col("label_pred"))
      .agg(count(lit(1)).as("n_docs"))
  }
}
