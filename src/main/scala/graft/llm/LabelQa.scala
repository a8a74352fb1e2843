package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Label-quality instruments for weak supervision: when two cheap
  * automatic labelers (a heuristic, a distilled classifier, a second
  * crawl's tags) vote on the same corpus, RAW agreement overstates
  * consensus whenever the label marginals are skewed — two labelers
  * that both say "en" 80% of the time agree 68% by luck alone. The
  * chance-corrected number an auto-accept rule ("admit when both
  * agree") must clear is Cohen's kappa (Cohen 1960):
  * `kappa = (po − pe) / (1 − pe)` with `pe` the marginal-product
  * chance-agreement rate.
  *
  * Reference scope: the reference pipeline (kartverket/
  * dask-felleskomponenter) carries per-column quality checks but no
  * labeler-agreement instrument; this is part of the training-data
  * extension surface, same discipline as [[TextAnalysis]].
  */
object LabelQa {

  /** One-row Cohen's-kappa card over a `(… aCol, bCol …)` frame of
    * paired label assignments (one row per item).
    *
    * Exact integer spelling: ONE (a, b) cell aggregate over the
    * corpus — everything downstream (marginals, the chance product,
    * the kappa ratio) is class-count-sized. With counts
    * `n`, `agree`, `na_c`, `nb_c`:
    *
    *   po_ppm    = ⌊10⁶·agree / n⌋
    *   pe_sum    = Σ_c na_c·nb_c          (exact, decimal(38,0))
    *   pe_ppm    = ⌊10⁶·pe_sum / n²⌋
    *   kappa_ppm = ±⌊10⁶·|agree·n − pe_sum| / (n² − pe_sum)⌋
    *
    * kappa is SIGNED (systematic disagreement reads negative), and
    * floor-of-|·| with the sign reapplied is spelled identically on
    * both engines — Spark's decimal `div` truncates toward zero while
    * DuckDB's `//` floors, so a bare quotient of a negative numerator
    * would differ by one ulp between engines. The degenerate
    * single-class-both-sides corpus (n² = pe_sum) reads kappa 0 via
    * the greatest(…, 1) guard, not an engine-dependent null.
    *
    * Output: `(n_items, n_agree, po_ppm, pe_sum, pe_ppm, kappa_ppm,
    * n_classes_a, n_classes_b)`. Null labels are real categories
    * (grouped as their own class) — a labeler that abstains disagrees
    * with one that commits. */
  def kappaCard(pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    val qa = graft.Names.quoted(aCol)
    val qb = graft.Names.quoted(bCol)
    val cells = Caches.persistTracked(
      pairs.groupBy(col(qa).as("__la"), col(qb).as("__lb"))
        .agg(count(lit(1)).as("__n")))
    val na = cells.groupBy(col("__la").as("__lab_a"))
      .agg(sum(col("__n")).as("__na"))
    val nb = cells.groupBy(col("__lb").as("__lab_b"))
      .agg(sum(col("__n")).as("__nb"))
    // null-safe marginal join: a null label is a real category (an
    // abstaining labeler), and a plain equi-join would drop its
    // marginal product from the chance term on both engines
    val marg = na.join(nb, col("__lab_a") <=> col("__lab_b"), "full_outer")
      .agg(
        coalesce(sum(coalesce(col("__na"), lit(0L)).cast("decimal(38,0)") *
          coalesce(col("__nb"), lit(0L)).cast("decimal(38,0)")),
          lit(0L).cast("decimal(38,0)")).as("__pe_sum"),
        count(col("__na")).as("n_classes_a"),
        count(col("__nb")).as("n_classes_b"))
    // coalesce matches kappaPivot's empty-corpus discipline: sum over
    // zero cells is null, and a null n_items would propagate into
    // every ppm column while the pivot spelling reads zeros
    val tot = cells.agg(
      coalesce(sum(col("__n")), lit(0L)).as("n_items"),
      coalesce(sum(when(col("__la") <=> col("__lb"), col("__n"))
        .otherwise(0L)), lit(0L)).as("n_agree"))
    tot.crossJoin(marg).select(
      col("n_items"), col("n_agree"),
      expr("cast(cast(n_agree as decimal(38,0)) * 1000000 " +
        "div greatest(n_items, 1L) as bigint)").as("po_ppm"),
      col("__pe_sum").cast("bigint").as("pe_sum"),
      expr("cast(__pe_sum * 1000000 div greatest(" +
        "cast(n_items as decimal(38,0)) * n_items, 1L) as bigint)")
        .as("pe_ppm"),
      expr("""cast(case
        | when cast(n_agree as decimal(38,0)) * n_items - __pe_sum >= 0
        | then (cast(n_agree as decimal(38,0)) * n_items - __pe_sum) * 1000000
        |   div greatest(cast(n_items as decimal(38,0)) * n_items - __pe_sum, 1L)
        | else -((__pe_sum - cast(n_agree as decimal(38,0)) * n_items) * 1000000
        |   div greatest(cast(n_items as decimal(38,0)) * n_items - __pe_sum, 1L))
        | end as bigint)""".stripMargin).as("kappa_ppm"),
      col("n_classes_a").cast("bigint").as("n_classes_a"),
      col("n_classes_b").cast("bigint").as("n_classes_b"))
  }

  /** Lumped-label sentinel for [[kappaPivot]] — labels outside the
    * pinned class list (including null/abstain) fold into one
    * category, the [[Drift.chiSquarePivot]] OTHER-bucket discipline. */
  val OtherLabel = "(other)"

  /** [[kappaCard]] in the ingest spelling: the class list is the
    * monitor's PINNED config, so the whole card is ONE global
    * aggregate (per class, conditional-sum marginals + the agree
    * count) followed by row-local kappa arithmetic on the single
    * aggregated row — streaming-legal as-is (a live feed cannot run
    * [[kappaCard]]'s aggregate-of-aggregate marginal join), which is
    * why [[graft.streaming.Streams.kappaIngest]] IS this function.
    * Labels outside `classes` (and nulls — an abstaining labeler)
    * lump into [[OtherLabel]]; over a corpus whose labels the list
    * covers, the result row equals [[kappaCard]]'s exactly, and under
    * lumping it equals [[kappaCard]] over the pre-lumped labels
    * (both pinned in LabelQaSpec). State at scale: 2·(K+1)+2 longs
    * total, whatever the stream length. */
  def kappaPivot(pairs: DataFrame, aCol: String, bCol: String,
      classes: Seq[String]): DataFrame = {
    require(classes.nonEmpty, "need at least one pinned class")
    require(classes.distinct == classes, "pinned classes must be distinct")
    require(!classes.contains(OtherLabel),
      s"'$OtherLabel' is reserved for the lump bucket")
    val qa = col(graft.Names.quoted(aCol))
    val qb = col(graft.Names.quoted(bCol))
    val la = when(qa.isin(classes.map(x => x: Any): _*), qa)
      .otherwise(lit(OtherLabel))
    val lb = when(qb.isin(classes.map(x => x: Any): _*), qb)
      .otherwise(lit(OtherLabel))
    val cs = classes :+ OtherLabel
    val marginalAggs = cs.zipWithIndex.flatMap { case (c, i) =>
      // coalesce: sum over the empty corpus is null, and a null
      // marginal would null pe_sum/kappa while n_items reads 0
      Seq(coalesce(sum(when(la === lit(c), 1L).otherwise(0L)), lit(0L))
          .as(s"__na_$i"),
        coalesce(sum(when(lb === lit(c), 1L).otherwise(0L)), lit(0L))
          .as(s"__nb_$i"))
    }
    val aggs =
      Seq(coalesce(count(lit(1)), lit(0L)).as("n_items"),
        coalesce(sum(when(la === lb, 1L).otherwise(0L)), lit(0L))
          .as("n_agree")) ++ marginalAggs
    val one = pairs.agg(aggs.head, aggs.tail: _*)
    val peSum = cs.indices
      .map(i => col(s"__na_$i").cast("decimal(38,0)") * col(s"__nb_$i"))
      .reduce(_ + _)
    val nClasses = (pfx: String) => cs.indices
      .map(i => when(col(s"__${pfx}_$i") > 0L, 1L).otherwise(0L))
      .reduce(_ + _)
    one.withColumn("__pe_sum", peSum).select(
      col("n_items"), col("n_agree"),
      expr("cast(cast(n_agree as decimal(38,0)) * 1000000 " +
        "div greatest(n_items, 1L) as bigint)").as("po_ppm"),
      col("__pe_sum").cast("bigint").as("pe_sum"),
      expr("cast(__pe_sum * 1000000 div greatest(" +
        "cast(n_items as decimal(38,0)) * n_items, 1L) as bigint)")
        .as("pe_ppm"),
      expr("""cast(case
        | when cast(n_agree as decimal(38,0)) * n_items - __pe_sum >= 0
        | then (cast(n_agree as decimal(38,0)) * n_items - __pe_sum) * 1000000
        |   div greatest(cast(n_items as decimal(38,0)) * n_items - __pe_sum, 1L)
        | else -((__pe_sum - cast(n_agree as decimal(38,0)) * n_items) * 1000000
        |   div greatest(cast(n_items as decimal(38,0)) * n_items - __pe_sum, 1L))
        | end as bigint)""".stripMargin).as("kappa_ppm"),
      nClasses("na").cast("bigint").as("n_classes_a"),
      nClasses("nb").cast("bigint").as("n_classes_b"))
  }

  /** Fleiss' kappa (Fleiss 1971) over a LONG-format ratings frame
    * `(itemCol, raterCol, labelCol)` — the k-labeler generalization a
    * weak-supervision stack needs once rules, a distilled classifier
    * and a language-ID heuristic all vote ([[kappaCard]] grades
    * exactly two). Chance agreement pools the marginals across
    * raters (Fleiss ≠ averaged pairwise Cohen; at k = 2 it is
    * Scott's pi, not Cohen's kappa — the pairwise view lives in
    * [[kappaMatrix]]).
    *
    * Exact integer spelling, all floor-ppm: with per-item-category
    * counts n_ic, T = Σ k_i (total ratings), A = Σ n_ic²,
    * P = Σ k_i·(k_i−1) (rating pairs per item, the po denominator —
    * generalizes the balanced N·k·(k−1)), and category marginal
    * squares M2 = Σ_c (Σ_i n_ic)²:
    *
    *   po_ppm    = ⌊10⁶·(A − T) / max(P, 1)⌋
    *   pe_ppm    = ⌊10⁶·M2 / max(T², 1)⌋
    *   kappa_ppm = ±⌊10⁶·|(A−T)·T² − M2·P| / max(P·(T² − M2), 1)⌋
    *
    * (signed, the [[kappaCard]] truncation-direction CASE). Null
    * labels are a real category (abstain). Fleiss assumes every item
    * carries the SAME rating count; instead of assuming it the card
    * REPORTS `unbalanced_items` (items whose k_i differs from the
    * modal... from the max k) — a nonzero value means the po
    * denominator P is the honest per-item-pairs sum, and the reader
    * decides whether the design drifted. Empty corpus reads zeros
    * (the [[kappaCard]] coalesce discipline).
    *
    * Scale shape, three aggregates and no join (LMFAO's shared-pass
    * idea, PAPERS.md): one per-item aggregate (k_i and A_i through
    * the (item, label) counts; input keyed on the item runs both
    * levels without an exchange), one small aggregate that holds both
    * the k_i histogram (items per k_i, with their A_i sum) and the
    * label marginals, and one global row over that table. The
    * histogram turns `unbalanced_items` into the items whose k_i is
    * not the largest k_i — `max_by` over distinct k_i rows — instead
    * of a broadcast max joined back onto every item. Nothing
    * driver-side, nothing keyed wider than the item id. */
  def fleissCard(ratings: DataFrame, itemCol: String, raterCol: String,
      labelCol: String): DataFrame = {
    val qi = graft.Names.quoted(itemCol)
    val ql = graft.Names.quoted(labelCol)
    val labType = ratings.select(col(ql)).schema.head.dataType
    val items = ratings.groupBy(col(qi).as("__it"), col(ql).as("__lab"))
      .agg(count(lit(1)).as("__c"))
      .groupBy(col("__it"))
      .agg(sum(col("__c")).as("__k"), sum(col("__c") * col("__c")).as("__ai"))
    // kind 0: one row per distinct k_i (n = items, a = their A_i sum);
    // kind 1: one row per label (n = its marginal m_c)
    val cells = items.select(lit(0).as("__kind"), col("__k"),
        lit(null).cast(labType).as("__lab"), col("__ai"))
      .unionByName(ratings.select(lit(1).as("__kind"),
        lit(null).cast("bigint").as("__k"), col(ql).as("__lab"),
        lit(0L).as("__ai")))
      .groupBy(col("__kind"), col("__k"), col("__lab"))
      .agg(count(lit(1)).as("__n"), sum(col("__ai")).as("__a"))
    val item = col("__kind") === 0
    def dec(c: Column): Column = coalesce(sum(c).cast("decimal(38,0)"),
      lit(0L).cast("decimal(38,0)"))
    cells.agg(
      coalesce(sum(when(item, col("__n"))), lit(0L)).as("n_items"),
      coalesce(max(when(item, col("__k"))), lit(0L)).as("n_raters"),
      coalesce(sum(when(item, col("__n"))) -
        max_by(when(item, col("__n")), when(item, col("__k"))), lit(0L))
        .as("unbalanced_items"),
      dec(when(item, col("__n") * col("__k"))).as("__t"),
      dec(when(item, col("__a"))).as("__a"),
      dec(when(item, col("__n").cast("decimal(38,0)") * col("__k") *
        (col("__k") - 1L))).as("__p"),
      dec(when(!item, col("__n").cast("decimal(38,0)") * col("__n")))
        .as("__m2"),
      count(when(!item, lit(1))).as("n_classes"))
      .select(
      col("n_items"), col("n_raters").cast("bigint").as("n_raters"),
      col("n_classes"), col("unbalanced_items"),
      expr("cast((__a - __t) * 1000000 div greatest(__p, 1) as bigint)")
        .as("po_ppm"),
      expr("cast(__m2 * 1000000 div greatest(__t * __t, 1) as bigint)")
        .as("pe_ppm"),
      expr("""cast(case
        | when (__a - __t) * __t * __t - __m2 * __p >= 0
        | then ((__a - __t) * __t * __t - __m2 * __p) * 1000000
        |   div greatest(__p * (__t * __t - __m2), 1)
        | else -((__m2 * __p - (__a - __t) * __t * __t) * 1000000
        |   div greatest(__p * (__t * __t - __m2), 1))
        | end as bigint)""".stripMargin).as("kappa_ppm"))
  }

  /** Streaming-legal Fleiss spelling — [[fleissCard]]'s k-rater card
    * as ONE global aggregate (the [[kappaPivot]] discipline,
    * generalized): the input arrives one row PER ITEM carrying the
    * item's label ARRAY (the natural consensus-record shape at
    * ingest — all raters' votes on an item land together), so every
    * per-item quantity Fleiss needs (k_i, Σ_c n_ic², per-class
    * counts) is ROW-LOCAL array arithmetic over the pinned class
    * list, and the card reduces to one aggregate row —
    * `Streams.fleissIngest` IS this function.
    *
    * Config replaces the card's data-derived fields: the class list
    * is pinned (unpinned labels and null lump to [[OtherLabel]], the
    * driftIngest bucket discipline — an aggregate-derived vocabulary
    * is streaming-illegal), and `expectedRaters` is pinned
    * (`unbalanced_items` counts items whose k_i differs from the
    * CONFIG, where the batch card compares against the observed max —
    * another aggregate-of-aggregate). On a covering class list and a
    * balanced design the pivot equals [[fleissCard]] column for
    * column; under lumping it equals the card over pre-lumped labels
    * (both pinned in LabelQaSpec). Empty input reads zeros.
    *
    * Scale shape: state is 2·(K+1)+4 longs total whatever the feed
    * length; nothing keyed wider than the single aggregate row. */
  def fleissPivot(items: DataFrame, labelsCol: String,
      classes: Seq[String], expectedRaters: Int): DataFrame = {
    require(classes.nonEmpty, "need at least one pinned class")
    require(classes.distinct == classes, "pinned classes must be distinct")
    require(!classes.contains(OtherLabel),
      s"'$OtherLabel' is reserved for the lump bucket")
    require(expectedRaters >= 2, "a consensus needs at least two raters")
    val cs = classes :+ OtherLabel
    val ql = graft.Names.quoted(labelsCol)
    // Column-API lambdas, not string-built SQL: a pinned class
    // containing a quote or backslash must lump/count correctly (the
    // kappaPivot isin/when discipline), never re-parse as SQL syntax.
    // A NULL labels array is an item with zero ratings (k_i = 0: it
    // counts as an item and as unbalanced, contributes no pairs) —
    // not a null row that would silently drop out of the sums.
    val lumped = transform(
      coalesce(col(ql), typedLit(Seq.empty[String])),
      x => when(x.isin(classes.map(c => c: Any): _*), x)
        .otherwise(lit(OtherLabel)))
    val cnt = cs.zipWithIndex.map { case (c, i) =>
      size(filter(col("__labs"), x => x === lit(c))).cast("bigint")
        .as(s"__c_$i")
    }
    val wide = items.select(lumped.as("__labs"))
      .select(Seq(size(col("__labs")).cast("bigint").as("__ki")) ++
        cnt: _*)
    val ai = cs.indices.map(i => col(s"__c_$i") * col(s"__c_$i"))
      .reduce(_ + _)
    val zeroDec = lit(0L).cast("decimal(38,0)")
    val aggs = Seq(
      coalesce(count(lit(1)), lit(0L)).as("n_items"),
      coalesce(sum(when(col("__ki") =!= lit(expectedRaters.toLong), 1L)
        .otherwise(0L)), lit(0L)).as("unbalanced_items"),
      coalesce(sum(col("__ki")).cast("decimal(38,0)"), zeroDec).as("__t"),
      coalesce(sum(ai).cast("decimal(38,0)"), zeroDec).as("__a"),
      coalesce(sum((col("__ki") * (col("__ki") - 1L))
        .cast("decimal(38,0)")), zeroDec).as("__p")) ++
      cs.indices.map(i =>
        coalesce(sum(col(s"__c_$i")), lit(0L)).as(s"__m_$i"))
    val one = wide.agg(aggs.head, aggs.tail: _*)
    val m2 = cs.indices
      .map(i => col(s"__m_$i").cast("decimal(38,0)") * col(s"__m_$i"))
      .reduce(_ + _)
    val nClasses = cs.indices
      .map(i => when(col(s"__m_$i") > 0L, 1L).otherwise(0L))
      .reduce(_ + _)
    one.withColumn("__m2", m2).select(
      col("n_items"), lit(expectedRaters.toLong).as("n_raters"),
      nClasses.cast("bigint").as("n_classes"), col("unbalanced_items"),
      expr("cast((__a - __t) * 1000000 div greatest(__p, 1) as bigint)")
        .as("po_ppm"),
      expr("cast(__m2 * 1000000 div greatest(__t * __t, 1) as bigint)")
        .as("pe_ppm"),
      expr("""cast(case
        | when (__a - __t) * __t * __t - __m2 * __p >= 0
        | then ((__a - __t) * __t * __t - __m2 * __p) * 1000000
        |   div greatest(__p * (__t * __t - __m2), 1)
        | else -((__m2 * __p - (__a - __t) * __t * __t) * 1000000
        |   div greatest(__p * (__t * __t - __m2), 1))
        | end as bigint)""".stripMargin).as("kappa_ppm"))
  }

  /** Krippendorff's alpha (nominal metric) over the same long-format
    * ratings frame — the agreement estimator that handles MISSING
    * ratings principledly (r17 verdict ask #6): [[fleissCard]]'s po
    * denominator honestly sums per-item pairs but its pe still pools
    * marginals over ALL ratings as if the design were complete;
    * alpha's coincidence-matrix form weights every item by its own
    * 1/(k_i − 1) and computes chance from the PAIRABLE ratings only
    * (Krippendorff 2004), so a rater who skips half the corpus
    * perturbs nothing but the items they actually rated.
    *
    * Exact integer spelling: the per-item weights 1/(k_i − 1) are the
    * one non-integer ingredient, so the card pins `maxRaters` as
    * config (the [[fleissPivot]] discipline — a feed with more raters
    * than configured fails loudly) and scales every disagreement by
    * `L = lcm(1 .. maxRaters − 1)`, which every (k_i − 1) divides.
    * With per-item-category counts n_ic over PAIRABLE items
    * (k_i ≥ 2): A_i = Σ_c n_ic², d_i = k_i² − A_i, T = Σ k_i,
    * coincidence marginals m_c = Σ_i n_ic (pure integers —
    * Σ_{c'} n_ic·(n_ic'−δ)/(k_i−1) telescopes to n_ic), M2 = Σ m_c²:
    *
    *   DoN       = Σ_i d_i · (L div (k_i − 1))          (exact)
    *   do_ppm    = ⌊10⁶·DoN / max(L·T, 1)⌋
    *   de_ppm    = ⌊10⁶·(T² − M2) / max(T·(T−1), 1)⌋
    *   alpha_ppm = ±⌊10⁶·|L·(T² − M2) − DoN·(T − 1)|
    *                 / max(L·(T² − M2), 1)⌋
    *
    * (signed, the [[kappaCard]] truncation CASE; alpha = 1 −
    * DoN·(T−1)/(L·(T²−M2)) cleared of fractions). Null labels stay a
    * real category (abstain-with-commitment); a MISSING row is the
    * absent-rating case alpha exists for. Items with k_i < 2 are
    * unpairable: counted in `n_items`, excluded from every sum (the
    * textbook treatment). Degenerate corpora (no pairable items, or
    * one class) read alpha 0 via the greatest guard, matching the
    * kappa conventions. On a COMPLETE design alpha reduces to
    * Fleiss' kappa via the exact identity
    * `1 − alpha = (1 − kappa)·(T − 1)/T` (alpha is kappa with the
    * small-sample chance correction) — pinned universally in
    * AlphaProps against a BigInt-fraction reference.
    *
    * Output: `(n_items, n_pairable, n_classes, do_ppm, de_ppm,
    * alpha_ppm)`. Scale shape: the [[fleissCard]] shape exactly — one
    * (item, label) aggregate, one item-sized rollup, one label-sized
    * marginal; nothing keyed wider than the item id. */
  def alphaCard(ratings: DataFrame, itemCol: String, raterCol: String,
      labelCol: String, maxRaters: Int): DataFrame = {
    require(maxRaters >= 2, "alpha needs at least two raters")
    val lcm = (1 until maxRaters).map(BigInt(_))
      .reduce((a, b) => a * b / a.gcd(b))
    require(lcm <= BigInt(Long.MaxValue) / 1000000L,
      s"maxRaters $maxRaters overflows the lcm scale")
    val l = lcm.toLong
    val qi = graft.Names.quoted(itemCol)
    val ql = graft.Names.quoted(labelCol)
    val nic = Caches.persistTracked(
      ratings.groupBy(col(qi).as("__it"), col(ql).as("__lab"))
        .agg(count(lit(1)).as("__c")))
    val per = Caches.persistTracked(nic.groupBy(col("__it"))
      .agg(sum(col("__c")).as("__ki"),
        sum(col("__c") * col("__c")).as("__ai"))
      // a feed with more raters than configured must kill the card,
      // not silently mis-scale the lcm weights
      .withColumn("__ki",
        when(col("__ki") > maxRaters.toLong,
          raise_error(concat(lit(s"alphaCard: item "), col("__it"),
            lit(s" carries more than $maxRaters ratings")))
            .cast("bigint"))
        .otherwise(col("__ki"))))
    val pairable = per.filter(col("__ki") >= 2L)
    val zeroDec = lit(0L).cast("decimal(38,0)")
    val glob = per.agg(
      coalesce(count(lit(1)), lit(0L)).as("n_items")).crossJoin(
      pairable.agg(
        coalesce(count(lit(1)), lit(0L)).as("n_pairable"),
        coalesce(sum(col("__ki")).cast("decimal(38,0)"), zeroDec)
          .as("__t"),
        coalesce(sum(((col("__ki") * col("__ki") - col("__ai")) *
          expr(s"${l}L div (__ki - 1L)"))
          .cast("decimal(38,0)")), zeroDec).as("__don")))
    val marg = nic.join(pairable.select(col("__it")), Seq("__it"),
        "left_semi")
      .groupBy(col("__lab"))
      .agg(sum(col("__c")).cast("decimal(38,0)").as("__m"))
      .agg(coalesce(sum(col("__m") * col("__m")), zeroDec).as("__m2"),
        coalesce(count(lit(1)), lit(0L)).as("n_classes"))
    glob.crossJoin(broadcast(marg)).select(
      col("n_items"), col("n_pairable"), col("n_classes"),
      expr(s"cast(__don * 1000000 div greatest(${l}L * __t, 1) " +
        "as bigint)").as("do_ppm"),
      expr("cast((__t * __t - __m2) * 1000000 " +
        "div greatest(__t * (__t - 1), 1) as bigint)").as("de_ppm"),
      expr(s"""cast(case
        | when ${l}L * (__t * __t - __m2) - __don * (__t - 1) >= 0
        | then (${l}L * (__t * __t - __m2) - __don * (__t - 1)) * 1000000
        |   div greatest(${l}L * (__t * __t - __m2), 1)
        | else -((__don * (__t - 1) - ${l}L * (__t * __t - __m2)) * 1000000
        |   div greatest(${l}L * (__t * __t - __m2), 1))
        | end as bigint)""".stripMargin).as("alpha_ppm"))
  }

  /** [[alphaCard]] in the ingest spelling — the [[fleissPivot]]
    * discipline applied to the MISSING-rating estimator: input
    * arrives one row PER ITEM carrying the item's label ARRAY (which
    * may be SHORTER than the rater roster — absent ratings are
    * exactly what alpha prices), the class list and `maxRaters` are
    * pinned monitor config, and every per-item quantity alpha needs
    * (k_i, Σ_c n_ic², the lcm-scaled disagreement, per-class counts
    * over pairable items) is ROW-LOCAL array arithmetic feeding ONE
    * global aggregate — streaming-legal as-is;
    * `Streams.alphaIngest` IS this function. Labels outside
    * `classes` (and null elements — abstain-with-commitment) lump to
    * [[OtherLabel]]; unpairable items (k_i < 2) count in `n_items`
    * and contribute nothing (the [[alphaCard]] treatment). On a
    * covering class list the pivot equals [[alphaCard]] column for
    * column; under lumping it equals the card over pre-lumped labels
    * (both pinned in AlphaSpec). A row with more labels than
    * `maxRaters` kills the query loudly. Empty input reads zeros.
    *
    * State at scale: 2·K + 5 longs total, whatever the feed
    * length. */
  def alphaPivot(items: DataFrame, labelsCol: String,
      classes: Seq[String], maxRaters: Int): DataFrame = {
    require(classes.nonEmpty, "need at least one pinned class")
    require(classes.distinct == classes, "pinned classes must be distinct")
    require(!classes.contains(OtherLabel),
      s"'$OtherLabel' is reserved for the lump bucket")
    require(maxRaters >= 2, "alpha needs at least two raters")
    val lcm = (1 until maxRaters).map(BigInt(_))
      .reduce((a, b) => a * b / a.gcd(b))
    require(lcm <= BigInt(Long.MaxValue) / 1000000L,
      s"maxRaters $maxRaters overflows the lcm scale")
    val l = lcm.toLong
    val cs = classes :+ OtherLabel
    val ql = graft.Names.quoted(labelsCol)
    // Column-API lambdas (the fleissPivot injection-safety rationale);
    // a NULL array is an item with zero ratings — unpairable, counted
    val lumped = transform(
      coalesce(col(ql), typedLit(Seq.empty[String])),
      x => when(x.isin(classes.map(c => c: Any): _*), x)
        .otherwise(lit(OtherLabel)))
    val cnt = cs.zipWithIndex.map { case (c, i) =>
      size(filter(col("__labs"), x => x === lit(c))).cast("bigint")
        .as(s"__c_$i")
    }
    val wide = items.select(lumped.as("__labs"))
      .select(Seq(size(col("__labs")).cast("bigint").as("__ki")) ++
        cnt: _*)
      .withColumn("__ki",
        when(col("__ki") > maxRaters.toLong,
          raise_error(lit(s"alphaPivot: an item carries more than " +
            s"$maxRaters ratings")).cast("bigint"))
        .otherwise(col("__ki")))
    val ai = cs.indices.map(i => col(s"__c_$i") * col(s"__c_$i"))
      .reduce(_ + _)
    val pairable = col("__ki") >= 2L
    // greatest guard: CaseWhen short-circuits, but keep the div
    // total regardless of evaluation order
    val dScaled = when(pairable,
      (col("__ki") * col("__ki") - ai) *
        expr(s"${l}L div greatest(__ki - 1L, 1L)")).otherwise(0L)
    val zeroDec = lit(0L).cast("decimal(38,0)")
    val aggs = Seq(
      coalesce(count(lit(1)), lit(0L)).as("n_items"),
      coalesce(sum(when(pairable, 1L).otherwise(0L)), lit(0L))
        .as("n_pairable"),
      coalesce(sum(when(pairable, col("__ki")).otherwise(0L))
        .cast("decimal(38,0)"), zeroDec).as("__t"),
      coalesce(sum(dScaled).cast("decimal(38,0)"), zeroDec)
        .as("__don")) ++
      cs.indices.map(i =>
        coalesce(sum(when(pairable, col(s"__c_$i")).otherwise(0L)),
          lit(0L)).as(s"__m_$i"))
    val one = wide.agg(aggs.head, aggs.tail: _*)
    val m2 = cs.indices
      .map(i => col(s"__m_$i").cast("decimal(38,0)") * col(s"__m_$i"))
      .reduce(_ + _)
    val nClasses = cs.indices
      .map(i => when(col(s"__m_$i") > 0L, 1L).otherwise(0L))
      .reduce(_ + _)
    one.withColumn("__m2", m2).select(
      col("n_items"), col("n_pairable"),
      nClasses.cast("bigint").as("n_classes"),
      expr(s"cast(__don * 1000000 div greatest(${l}L * __t, 1) " +
        "as bigint)").as("do_ppm"),
      expr("cast((__t * __t - __m2) * 1000000 " +
        "div greatest(__t * (__t - 1), 1) as bigint)").as("de_ppm"),
      expr(s"""cast(case
        | when ${l}L * (__t * __t - __m2) - __don * (__t - 1) >= 0
        | then (${l}L * (__t * __t - __m2) - __don * (__t - 1)) * 1000000
        |   div greatest(${l}L * (__t * __t - __m2), 1)
        | else -((__don * (__t - 1) - ${l}L * (__t * __t - __m2)) * 1000000
        |   div greatest(${l}L * (__t * __t - __m2), 1))
        | end as bigint)""".stripMargin).as("alpha_ppm"))
  }

  /** Krippendorff's alpha with a WEIGHTED difference metric over an
    * ORDERED class scale — the ordinal/interval companion to the
    * nominal [[alphaCard]] (r18 verdict ask #8): graded labels
    * (quality bands, Likert scores) disagree by DEGREE, and the
    * nominal metric prices "1 vs 2" the same as "0 vs 3".
    * Krippendorff 2004's general form with difference weights
    * δ²(c,c'):
    *
    *   D_o = (1/T)·Σ_i Σ_{c≠c'} n_ic·n_ic'·δ²(c,c') / (k_i − 1)
    *   D_e = (1/(T·(T−1)))·Σ_{c≠c'} m_c·m_c'·δ²(c,c')
    *   alpha = 1 − D_o/D_e
    *
    * `metric = "ordinal"`: δ²(c,c') = (Σ_{g=c..c'} m_g −
    * (m_c + m_c')/2)² — the weights are DATA-DERIVED from the
    * coincidence marginals, so the card is two aggregate passes
    * (marginals first, then the weighted sums). The halves clear
    * exactly by computing in W(c,c') = (2·Σ m_g − m_c − m_c')² =
    * 4·δ², a pure integer — the factor 4 cancels between D_o and
    * D_e, so alpha is unchanged and every sum stays integer.
    * `metric = "interval"`: δ²(c,c') = (pos_c − pos_c')² over the
    * class positions — already integer.
    *
    * Exact integer spelling: per-item 1/(k_i − 1) scales by
    * L = lcm(1 .. maxRaters − 1) (the [[alphaCard]] discipline);
    * everything else is products of counts and integer weights in
    * decimal(38,0). do_ppm/de_ppm are reported relative to the
    * metric's FULL-RANGE weight Wmax = W(first, last) so both stay
    * corpus-size-free; alpha_ppm = ±⌊10⁶·|L·DeN − DoN·(T−1)| /
    * max(L·DeN, 1)⌋ (signed, the [[kappaCard]] truncation CASE —
    * Wmax cancels in the ratio).
    *
    * `classes` pins the scale IN ORDER (monitor config, the
    * [[fleissPivot]] discipline). A label off the scale — or null —
    * kills the card loudly: an ordinal metric has no `(other)`
    * bucket to lump into; a rating off the scale is feed corruption.
    * Items with k_i < 2 are unpairable: counted in `n_items`,
    * excluded from every sum. Degenerate corpora (no pairable items,
    * one class) read alpha 0 via the greatest guards. On a binary
    * scale (K = 2) exactly ONE off-diagonal weight exists, so it
    * cancels and both metrics reduce EXACTLY to the nominal
    * [[alphaCard]] — pinned universally in AlphaProps, alongside a
    * BigInt-fraction reference for the general weighted forms.
    *
    * Output: `(n_items, n_pairable, n_classes, do_ppm, de_ppm,
    * alpha_ppm)` — the [[alphaCard]] frame. Scale shape: one
    * (item, class) aggregate, one item-sized rollup, one K-sized
    * marginal, one K²-sized broadcast weight frame (K = class count,
    * single digits), one ≤K²-rows-per-item pair join; nothing keyed
    * wider than the item id. */
  def alphaWeightedCard(ratings: DataFrame, itemCol: String,
      raterCol: String, labelCol: String, maxRaters: Int,
      classes: Seq[String], metric: String): DataFrame = {
    require(maxRaters >= 2, "alpha needs at least two raters")
    require(metric == "ordinal" || metric == "interval",
      s"unknown metric '$metric' (ordinal | interval)")
    require(classes.size >= 2, "an ordered scale needs >= 2 classes")
    require(classes.distinct == classes, "classes must be distinct")
    val lcm = (1 until maxRaters).map(BigInt(_))
      .reduce((a, b) => a * b / a.gcd(b))
    require(lcm <= BigInt(Long.MaxValue) / 1000000L,
      s"maxRaters $maxRaters overflows the lcm scale")
    val l = lcm.toLong
    val k = classes.size
    val qi = graft.Names.quoted(itemCol)
    val ql = graft.Names.quoted(labelCol)
    val spark = ratings.sparkSession
    // label → 0-based scale position; off-scale or null is feed
    // corruption on an ordered metric, never a lumpable bucket
    val classArr = array(classes.map(lit): _*)
    val pos = array_position(classArr, col(ql).cast("string"))
    val ix = when(col(ql).isNotNull && pos > 0L, pos - 1L)
      .otherwise(raise_error(concat(
        lit("alphaWeightedCard: label '"),
        coalesce(col(ql).cast("string"), lit("(null)")),
        lit("' is not on the pinned ordinal scale"))).cast("bigint"))
    val nic = Caches.persistTracked(
      ratings.select(col(qi).as("__it"), ix.as("__ix"))
        .groupBy(col("__it"), col("__ix"))
        .agg(count(lit(1)).as("__c")))
    val per = Caches.persistTracked(nic.groupBy(col("__it"))
      .agg(sum(col("__c")).as("__ki"))
      .withColumn("__ki",
        when(col("__ki") > maxRaters.toLong,
          raise_error(concat(lit(s"alphaWeightedCard: item "),
            col("__it"),
            lit(s" carries more than $maxRaters ratings")))
            .cast("bigint"))
        .otherwise(col("__ki"))))
    val pairable = Caches.persistTracked(per.filter(col("__ki") >= 2L))
    // coincidence marginals on the FULL pinned spine (absent classes
    // carry m = 0 — they still occupy scale positions, which is what
    // makes the ordinal segment sums well-defined), plus the
    // cumulative sum the segment arithmetic reads. K rows total — the
    // single-partition window is a K-row frame, never the corpus.
    val byIx = org.apache.spark.sql.expressions.Window.orderBy(col("__ix"))
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, org.apache.spark.sql.expressions.Window
        .currentRow)
    val spine = spark.range(k).select(col("id").as("__ix"))
    val marg = Caches.persistTracked(spine
      .join(nic.join(pairable.select(col("__it")), Seq("__it"),
          "left_semi")
        .groupBy(col("__ix")).agg(sum(col("__c")).as("__mr")),
        Seq("__ix"), "left")
      .select(col("__ix"), coalesce(col("__mr"), lit(0L)).as("__m"))
      .withColumn("__cm", sum(col("__m")).over(byIx)))
    // K² weight frame: W(c,c') per ordered position pair — carried
    // with both marginals so DeN reads off it directly
    val a = marg.select(col("__ix").as("__ia"), col("__m").as("__ma"),
      col("__cm").as("__ca"))
    val b = marg.select(col("__ix").as("__ib"), col("__m").as("__mb"),
      col("__cm").as("__cb"))
    val seg = when(col("__ia") <= col("__ib"),
      col("__cb") - col("__ca") + col("__ma"))
      .otherwise(col("__ca") - col("__cb") + col("__mb"))
    val wRaw =
      if (metric == "ordinal") seg * 2L - col("__ma") - col("__mb")
      else col("__ia") - col("__ib")
    val weights = Caches.persistTracked(a.crossJoin(b)
      .select(col("__ia"), col("__ib"), col("__ma"), col("__mb"),
        (wRaw.cast("decimal(38,0)") * wRaw.cast("decimal(38,0)"))
          .as("__w")))
    val zeroDec = lit(0L).cast("decimal(38,0)")
    // DoN = Σ_i (L div (k_i−1)) Σ_{c≠c'} n_ic·n_ic'·W — the per-item
    // class-pair join is ≤ K² rows per item, K single digits
    val nicP = nic.join(pairable, Seq("__it"))
    val don = nicP
      .join(nicP.select(col("__it"), col("__ix").as("__jx"),
        col("__c").as("__cj")), Seq("__it"))
      .filter(col("__ix") =!= col("__jx"))
      .join(broadcast(weights.select(col("__ia").as("__ix"),
        col("__ib").as("__jx"), col("__w"))), Seq("__ix", "__jx"))
      .agg(coalesce(sum(col("__c").cast("decimal(38,0)") *
        col("__cj") * col("__w") *
        expr(s"${l}L div (__ki - 1L)")), zeroDec).as("__don"))
    // DeN = Σ_{c≠c'} m_c·m_c'·W and the full-range weight Wmax —
    // both off the K²-row weight frame
    val den = weights.agg(
      coalesce(sum(when(col("__ia") =!= col("__ib"),
        col("__ma").cast("decimal(38,0)") * col("__mb") * col("__w"))),
        zeroDec).as("__den"),
      coalesce(max(when(col("__ia") === 0L &&
        col("__ib") === lit((k - 1).toLong), col("__w"))), zeroDec)
        .as("__wmax"))
    val glob = per.agg(coalesce(count(lit(1)), lit(0L)).as("n_items"))
      .crossJoin(pairable.agg(
        coalesce(count(lit(1)), lit(0L)).as("n_pairable"),
        coalesce(sum(col("__ki")).cast("decimal(38,0)"), zeroDec)
          .as("__t")))
      .crossJoin(marg.agg(coalesce(sum(when(col("__m") > 0L, 1L)),
        lit(0L)).as("n_classes")))
    glob.crossJoin(broadcast(don)).crossJoin(broadcast(den)).select(
      col("n_items"), col("n_pairable"), col("n_classes"),
      expr(s"cast(__don * 1000000 div " +
        s"greatest(${l}L * __t * __wmax, 1) as bigint)").as("do_ppm"),
      expr("cast(__den * 1000000 div " +
        "greatest(__t * (__t - 1) * __wmax, 1) as bigint)").as("de_ppm"),
      expr(s"""cast(case
        | when ${l}L * __den - __don * (__t - 1) >= 0
        | then (${l}L * __den - __don * (__t - 1)) * 1000000
        |   div greatest(${l}L * __den, 1)
        | else -((__don * (__t - 1) - ${l}L * __den) * 1000000
        |   div greatest(${l}L * __den, 1))
        | end as bigint)""".stripMargin).as("alpha_ppm"))
  }

  /** Agreement → ACCURACY composition (r17 verdict ask #7): the
    * kappa instruments name who DISAGREES; where held-out truth
    * exists, this card names who is WRONG — the decision a labeling
    * budget actually needs. One row per rater, graded against a
    * `(item, truth)` frame: raw accuracy plus truth-kappa (Cohen's
    * kappa between the rater and the truth column — chance-corrected
    * accuracy, so a rater who parrots the majority class cannot buy
    * a good score with marginal skew).
    *
    * Same exact floor-ppm arithmetic as [[kappaCard]], computed
    * group-wise per rater in ONE plan (the [[kappaMatrix]] shape with
    * truth as the fixed second rater): null-safe marginal join
    * (abstain is a category), the signed truncation CASE, degenerate
    * corpora read zero. Items without a truth row do not grade
    * (inner join — truth is the card's universe).
    *
    * Output: `(rater, n_items, n_correct, accuracy_ppm, pe_sum,
    * pe_ppm, kappa_vs_truth_ppm)`. For any one rater the row equals
    * [[kappaCard]] over that rater's (label, truth) pairs with
    * `n_correct = n_agree` — pinned in LabelQaSpec.
    *
    * Scale shape: one item-keyed join against the truth slice, then
    * everything is (raters × classes)-sized. */
  def accuracyCard(ratings: DataFrame, itemCol: String, raterCol: String,
      labelCol: String, truth: DataFrame, truthLabelCol: String): DataFrame = {
    val qi = graft.Names.quoted(itemCol)
    val qr = graft.Names.quoted(raterCol)
    val ql = graft.Names.quoted(labelCol)
    val qt = graft.Names.quoted(truthLabelCol)
    val paired = ratings.select(col(qi).as("__it"), col(qr).as("__r"),
        col(ql).as("__lab"))
      .join(truth.select(col(qi).as("__it"), col(qt).as("__tru")),
        Seq("__it"))
    val cells = Caches.persistTracked(
      paired.groupBy(col("__r"), col("__lab"), col("__tru"))
        .agg(count(lit(1)).as("__n")))
    val na = cells.groupBy(col("__r"), col("__lab").as("__lab_a"))
      .agg(sum(col("__n")).as("__na"))
    val nb = cells.groupBy(col("__r"), col("__tru").as("__lab_b"))
      .agg(sum(col("__n")).as("__nb"))
    val marg = na.as("x").join(nb.as("y"),
        col("x.__r") === col("y.__r") &&
          col("x.__lab_a") <=> col("y.__lab_b"), "full_outer")
      .groupBy(coalesce(col("x.__r"), col("y.__r")).as("__r"))
      .agg(coalesce(sum(
          coalesce(col("__na"), lit(0L)).cast("decimal(38,0)") *
            coalesce(col("__nb"), lit(0L))),
          lit(0L).cast("decimal(38,0)")).as("__pe_sum"))
    val tot = cells.groupBy(col("__r")).agg(
      coalesce(sum(col("__n")), lit(0L)).as("n_items"),
      coalesce(sum(when(col("__lab") <=> col("__tru"), col("__n"))
        .otherwise(0L)), lit(0L)).as("n_correct"))
    tot.join(marg, Seq("__r")).select(
      col("__r").as("rater"), col("n_items"), col("n_correct"),
      expr("cast(cast(n_correct as decimal(38,0)) * 1000000 " +
        "div greatest(n_items, 1L) as bigint)").as("accuracy_ppm"),
      col("__pe_sum").cast("bigint").as("pe_sum"),
      expr("cast(__pe_sum * 1000000 div greatest(" +
        "cast(n_items as decimal(38,0)) * n_items, 1L) as bigint)")
        .as("pe_ppm"),
      expr("""cast(case
        | when cast(n_correct as decimal(38,0)) * n_items - __pe_sum >= 0
        | then (cast(n_correct as decimal(38,0)) * n_items - __pe_sum) * 1000000
        |   div greatest(cast(n_items as decimal(38,0)) * n_items - __pe_sum, 1L)
        | else -((__pe_sum - cast(n_correct as decimal(38,0)) * n_items) * 1000000
        |   div greatest(cast(n_items as decimal(38,0)) * n_items - __pe_sum, 1L))
        | end as bigint)""".stripMargin).as("kappa_vs_truth_ppm"))
  }

  /** Pairwise Cohen's-kappa MATRIX over the same long-format ratings
    * frame — one [[kappaCard]] row per unordered rater pair, computed
    * group-wise in a single plan (no per-pair query loop): the drift
    * instrument that NAMES the bad labeler where [[fleissCard]] only
    * says "consensus dropped". A rater whose row-average kappa sits
    * far under the others' is the drifted one (planted in
    * LabelQaSpec).
    *
    * Same exact-ppm arithmetic as [[kappaCard]] — at two raters the
    * single matrix row IS kappaCard's row (pinned by LabelQaSpec) —
    * including the null-safe marginal join (abstain is a category)
    * and the signed truncation CASE.
    *
    * Scale shape: the self-join keys on the item id (k−1 rows per
    * rating row at k raters — k is 3-5, not corpus-sized); every
    * frame after the cell aggregate is (pairs × classes)-sized. */
  def kappaMatrix(ratings: DataFrame, itemCol: String, raterCol: String,
      labelCol: String): DataFrame = {
    val qi = graft.Names.quoted(itemCol)
    val qr = graft.Names.quoted(raterCol)
    val ql = graft.Names.quoted(labelCol)
    val base = ratings.select(col(qi).as("__it"), col(qr).as("__r"),
      col(ql).as("__lab"))
    val cells = Caches.persistTracked(base.as("a")
      .join(base.as("b"), col("a.__it") === col("b.__it") &&
        col("a.__r") < col("b.__r"))
      .groupBy(col("a.__r").as("rater_a"), col("b.__r").as("rater_b"),
        col("a.__lab").as("__la"), col("b.__lab").as("__lb"))
      .agg(count(lit(1)).as("__n")))
    val na = cells.groupBy(col("rater_a"), col("rater_b"),
      col("__la").as("__lab_a")).agg(sum(col("__n")).as("__na"))
    val nb = cells.groupBy(col("rater_a"), col("rater_b"),
      col("__lb").as("__lab_b")).agg(sum(col("__n")).as("__nb"))
    val marg = na.as("x").join(nb.as("y"),
        col("x.rater_a") === col("y.rater_a") &&
          col("x.rater_b") === col("y.rater_b") &&
          col("x.__lab_a") <=> col("y.__lab_b"), "full_outer")
      .groupBy(coalesce(col("x.rater_a"), col("y.rater_a")).as("rater_a"),
        coalesce(col("x.rater_b"), col("y.rater_b")).as("rater_b"))
      .agg(coalesce(sum(
          coalesce(col("__na"), lit(0L)).cast("decimal(38,0)") *
            coalesce(col("__nb"), lit(0L))),
          lit(0L).cast("decimal(38,0)")).as("__pe_sum"))
    val tot = cells.groupBy(col("rater_a"), col("rater_b")).agg(
      coalesce(sum(col("__n")), lit(0L)).as("n_items"),
      coalesce(sum(when(col("__la") <=> col("__lb"), col("__n"))
        .otherwise(0L)), lit(0L)).as("n_agree"))
    tot.join(marg, Seq("rater_a", "rater_b")).select(
      col("rater_a"), col("rater_b"), col("n_items"), col("n_agree"),
      expr("cast(cast(n_agree as decimal(38,0)) * 1000000 " +
        "div greatest(n_items, 1L) as bigint)").as("po_ppm"),
      col("__pe_sum").cast("bigint").as("pe_sum"),
      expr("cast(__pe_sum * 1000000 div greatest(" +
        "cast(n_items as decimal(38,0)) * n_items, 1L) as bigint)")
        .as("pe_ppm"),
      expr("""cast(case
        | when cast(n_agree as decimal(38,0)) * n_items - __pe_sum >= 0
        | then (cast(n_agree as decimal(38,0)) * n_items - __pe_sum) * 1000000
        |   div greatest(cast(n_items as decimal(38,0)) * n_items - __pe_sum, 1L)
        | else -((__pe_sum - cast(n_agree as decimal(38,0)) * n_items) * 1000000
        |   div greatest(cast(n_items as decimal(38,0)) * n_items - __pe_sum, 1L))
        | end as bigint)""".stripMargin).as("kappa_ppm"))
  }
}
