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
    * Exact integer spelling over the counts `n`, `agree`, `na_c`,
    * `nb_c` (the [[cohen]] core's two aggregates):
    *
    *   po_ppm    = ⌊10⁶·agree / n⌋
    *   pe_sum    = Σ_c na_c·nb_c          (exact, decimal(38,0))
    *   pe_ppm    = ⌊10⁶·pe_sum / n²⌋
    *   kappa_ppm = ±⌊10⁶·|agree·n − pe_sum| / (n² − pe_sum)⌋
    *
    * kappa is SIGNED (systematic disagreement reads negative; see
    * [[signedPpm]]). The degenerate single-class-both-sides corpus
    * (n² = pe_sum) reads kappa 0 via the greatest(…, 1) guard, not an
    * engine-dependent null; the empty corpus reads zeros.
    *
    * Output: `(n_items, n_agree, po_ppm, pe_sum, pe_ppm, kappa_ppm,
    * n_classes_a, n_classes_b)`. Null labels are real categories
    * (grouped as their own class) — a labeler that abstains disagrees
    * with one that commits. */
  def kappaCard(pairs: DataFrame, aCol: String, bCol: String): DataFrame =
    cohen(pairs.select(col(graft.Names.quoted(aCol)).as("__la"),
      col(graft.Names.quoted(bCol)).as("__lb")), Nil)

  /** Cohen's kappa per group over `(group…, __la, __lb)` rows — the one
    * implementation behind [[kappaCard]] (no groups), [[accuracyCard]]
    * (per rater, truth on side b) and [[kappaMatrix]] (per rater pair).
    * Two aggregates: every row becomes its two sides, one
    * `(group…, label)` aggregate counts side a, side b and the
    * agreements (credited to side a), and one per-group aggregate sums
    * those into `n_items`, `n_agree`, `pe_sum = Σ na·nb` and the class
    * counts. The label is a grouping key, so a null label (an
    * abstaining labeler) is its own class on both sides. */
  private def cohen(pairs: DataFrame, groups: Seq[String]): DataFrame = {
    val g = groups.map(col)
    val sideA = col("__side_a")
    val zeroDec = lit(0L).cast("decimal(38,0)")
    val cells = pairs
      .withColumn("__side_a", explode(array(lit(true), lit(false))))
      .groupBy(g :+ when(sideA, col("__la")).otherwise(col("__lb"))
        .as("__lab"): _*)
      .agg(count(when(sideA, 1)).as("__na"),
        count(when(!sideA, 1)).as("__nb"),
        count(when(sideA && (col("__la") <=> col("__lb")), 1)).as("__ag"))
    // coalesce: a global aggregate over the empty corpus sums to null,
    // and the card reads zeros there
    cohenRatios(cells.groupBy(g: _*).agg(
      coalesce(sum(col("__na")), lit(0L)).as("n_items"),
      coalesce(sum(col("__ag")), lit(0L)).as("n_agree"),
      coalesce(sum(col("__na").cast("decimal(38,0)") * col("__nb")),
        zeroDec).as("__pe_sum"),
      count(when(col("__na") > 0L, 1)).as("n_classes_a"),
      count(when(col("__nb") > 0L, 1)).as("n_classes_b")), groups)
  }

  /** The Cohen card's columns from `(group…, n_items, n_agree,
    * __pe_sum, n_classes_a, n_classes_b)` — shared by [[cohen]] and
    * [[kappaPivot]]. */
  private def cohenRatios(counts: DataFrame, groups: Seq[String]): DataFrame = {
    val n2 = "cast(n_items as decimal(38,0)) * n_items"
    val agreeN = "cast(n_agree as decimal(38,0)) * n_items"
    counts.select(groups.map(col) ++ Seq(
      col("n_items"), col("n_agree"),
      ppm("cast(n_agree as decimal(38,0))", "n_items").as("po_ppm"),
      col("__pe_sum").cast("bigint").as("pe_sum"),
      ppm("__pe_sum", n2).as("pe_ppm"),
      signedPpm(s"$agreeN - __pe_sum", s"$n2 - __pe_sum").as("kappa_ppm"),
      col("n_classes_a").cast("bigint").as("n_classes_a"),
      col("n_classes_b").cast("bigint").as("n_classes_b")): _*)
  }

  /** `⌊10⁶·num / max(den, 1)⌋` as bigint, for SQL operands with
    * `num ≥ 0`. */
  private def ppm(num: String, den: String): Column =
    expr(s"cast(($num) * 1000000 div greatest($den, 1) as bigint)")

  /** `±⌊10⁶·|num| / max(den, 1)⌋` as bigint: the floor of the magnitude
    * with the sign put back. Spark's decimal `div` truncates toward
    * zero while DuckDB's `//` floors, so a bare quotient of a negative
    * numerator would differ by one ulp between engines; this spelling
    * reads the same on both. */
  private def signedPpm(num: String, den: String): Column =
    expr(s"""cast(case when ($num) >= 0
      | then ($num) * 1000000 div greatest($den, 1)
      | else -(-($num) * 1000000 div greatest($den, 1))
      | end as bigint)""".stripMargin)

  /** Checks a pinned class list (nonempty, distinct, without the
    * [[OtherLabel]] sentinel) and returns the lump: a pinned label
    * stays, anything else (null included) becomes [[OtherLabel]]. */
  private def lumper(classes: Seq[String]): Column => Column = {
    require(classes.nonEmpty, "need at least one pinned class")
    require(classes.distinct == classes, "pinned classes must be distinct")
    require(!classes.contains(OtherLabel),
      s"'$OtherLabel' is reserved for the lump bucket")
    c => when(c.isin(classes.map(x => x: Any): _*), c)
      .otherwise(lit(OtherLabel))
  }

  /** `Σ_{i < n} f(i)` over per-class columns. */
  private def sumOver(n: Int)(f: Int => Column): Column =
    (0 until n).map(f).reduce(_ + _)

  /** `L = lcm(1 .. maxRaters − 1)`, the integer scale every per-item
    * alpha weight 1/(k_i − 1) divides. */
  private def lcmScale(maxRaters: Int): Long = {
    require(maxRaters >= 2, "alpha needs at least two raters")
    val lcm = (1 until maxRaters).map(BigInt(_))
      .reduce((a, b) => a * b / a.gcd(b))
    require(lcm <= BigInt(Long.MaxValue) / 1000000L,
      s"maxRaters $maxRaters overflows the lcm scale")
    lcm.toLong
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
    * [[kappaCard]]'s aggregate of an aggregate), so a streaming frame
    * runs this function unchanged.
    * Labels outside `classes` (and nulls — an abstaining labeler)
    * lump into [[OtherLabel]]; over a corpus whose labels the list
    * covers, the result row equals [[kappaCard]]'s exactly, and under
    * lumping it equals [[kappaCard]] over the pre-lumped labels
    * (both pinned in LabelQaSpec). State at scale: 2·(K+1)+2 longs
    * total, whatever the stream length. */
  def kappaPivot(pairs: DataFrame, aCol: String, bCol: String,
      classes: Seq[String]): DataFrame = {
    val lump = lumper(classes)
    val la = lump(col(graft.Names.quoted(aCol)))
    val lb = lump(col(graft.Names.quoted(bCol)))
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
    val nClasses = (pfx: String) =>
      sumOver(cs.size)(i => when(col(s"__${pfx}_$i") > 0L, 1L).otherwise(0L))
    cohenRatios(pairs.agg(aggs.head, aggs.tail: _*)
      .withColumn("__pe_sum", sumOver(cs.size)(i =>
        col(s"__na_$i").cast("decimal(38,0)") * col(s"__nb_$i")))
      .withColumn("n_classes_a", nClasses("na"))
      .withColumn("n_classes_b", nClasses("nb")), Nil)
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
    * (signed, [[signedPpm]]). Null labels are a real category
    * (abstain). Fleiss assumes every item
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
    fleissRatios(cells.agg(
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
      count(when(!item, lit(1))).as("n_classes")))
  }

  /** The Fleiss card's columns from `(n_items, n_raters, n_classes,
    * unbalanced_items, __t, __a, __p, __m2)` — shared by [[fleissCard]]
    * and [[fleissPivot]]. */
  private def fleissRatios(counts: DataFrame): DataFrame =
    counts.select(
      col("n_items"), col("n_raters").cast("bigint").as("n_raters"),
      col("n_classes").cast("bigint").as("n_classes"),
      col("unbalanced_items"),
      ppm("__a - __t", "__p").as("po_ppm"),
      ppm("__m2", "__t * __t").as("pe_ppm"),
      signedPpm("(__a - __t) * __t * __t - __m2 * __p",
        "__p * (__t * __t - __m2)").as("kappa_ppm"))

  /** Streaming-legal Fleiss spelling — [[fleissCard]]'s k-rater card
    * as ONE global aggregate (the [[kappaPivot]] discipline,
    * generalized): the input arrives one row PER ITEM carrying the
    * item's label ARRAY (the natural consensus-record shape at
    * ingest — all raters' votes on an item land together), so every
    * per-item quantity Fleiss needs (k_i, Σ_c n_ic², per-class
    * counts) is ROW-LOCAL array arithmetic over the pinned class
    * list, and the card reduces to one aggregate row — a streaming
    * frame runs this function unchanged.
    *
    * Config replaces the card's data-derived fields: the class list
    * is pinned (unpinned labels and null lump to [[OtherLabel]], the
    * [[Drift.chiSquarePivot]] bucket discipline — an aggregate-derived
    * vocabulary is streaming-illegal), and `expectedRaters` is pinned
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
    val wide = classCounts(items, labelsCol, classes)
    require(expectedRaters >= 2, "a consensus needs at least two raters")
    val k = classes.size + 1
    val ai = sumOver(k)(i => col(s"__c_$i") * col(s"__c_$i"))
    val zeroDec = lit(0L).cast("decimal(38,0)")
    val aggs = Seq(
      coalesce(count(lit(1)), lit(0L)).as("n_items"),
      coalesce(sum(when(col("__ki") =!= lit(expectedRaters.toLong), 1L)
        .otherwise(0L)), lit(0L)).as("unbalanced_items"),
      coalesce(sum(col("__ki")).cast("decimal(38,0)"), zeroDec).as("__t"),
      coalesce(sum(ai).cast("decimal(38,0)"), zeroDec).as("__a"),
      coalesce(sum((col("__ki") * (col("__ki") - 1L))
        .cast("decimal(38,0)")), zeroDec).as("__p")) ++
      (0 until k).map(i =>
        coalesce(sum(col(s"__c_$i")), lit(0L)).as(s"__m_$i"))
    fleissRatios(classMarginals(wide.agg(aggs.head, aggs.tail: _*), k)
      .withColumn("n_raters", lit(expectedRaters.toLong)))
  }

  /** One row per item of a label-ARRAY frame: `__ki`, its rating
    * count, and `__c_i`, its count of pinned class i after the
    * [[lumper]] (index `classes.size` is [[OtherLabel]]). Column-API
    * lambdas, not string-built SQL: a pinned class containing a quote
    * or backslash lumps and counts correctly, never re-parsing as SQL
    * syntax. A NULL labels array is an item with zero ratings
    * (k_i = 0), not a null row that would silently drop out of the
    * sums. */
  private def classCounts(items: DataFrame, labelsCol: String,
      classes: Seq[String]): DataFrame = {
    val labs = transform(coalesce(col(graft.Names.quoted(labelsCol)),
      typedLit(Seq.empty[String])), lumper(classes))
    items.select(labs.as("__labs")).select(
      size(col("__labs")).cast("bigint").as("__ki") +:
        (classes :+ OtherLabel).zipWithIndex.map { case (c, i) =>
          size(filter(col("__labs"), x => x === lit(c))).cast("bigint")
            .as(s"__c_$i")
        }: _*)
  }

  /** Adds `__m2 = Σ_i m_i²` and `n_classes` (classes with m_i > 0)
    * over the `k` per-class marginal columns `__m_i` of a pivot's
    * aggregate row. */
  private def classMarginals(one: DataFrame, k: Int): DataFrame =
    one.withColumn("__m2",
        sumOver(k)(i => col(s"__m_$i").cast("decimal(38,0)") * col(s"__m_$i")))
      .withColumn("n_classes",
        sumOver(k)(i => when(col(s"__m_$i") > 0L, 1L).otherwise(0L)))

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
    * (signed, [[signedPpm]]; alpha = 1 −
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
    val l = lcmScale(maxRaters)
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
    alphaRatios(glob.crossJoin(broadcast(marg)), l)
  }

  /** The nominal alpha card's columns from `(n_items, n_pairable,
    * n_classes, __t, __don, __m2)` at lcm scale `l` — shared by
    * [[alphaCard]] and [[alphaPivot]]. */
  private def alphaRatios(counts: DataFrame, l: Long): DataFrame =
    counts.select(
      col("n_items"), col("n_pairable"),
      col("n_classes").cast("bigint").as("n_classes"),
      ppm("__don", s"${l}L * __t").as("do_ppm"),
      ppm("__t * __t - __m2", "__t * (__t - 1)").as("de_ppm"),
      signedPpm(s"${l}L * (__t * __t - __m2) - __don * (__t - 1)",
        s"${l}L * (__t * __t - __m2)").as("alpha_ppm"))

  /** [[alphaCard]] in the ingest spelling — the [[fleissPivot]]
    * discipline applied to the MISSING-rating estimator: input
    * arrives one row PER ITEM carrying the item's label ARRAY (which
    * may be SHORTER than the rater roster — absent ratings are
    * exactly what alpha prices), the class list and `maxRaters` are
    * pinned monitor config, and every per-item quantity alpha needs
    * (k_i, Σ_c n_ic², the lcm-scaled disagreement, per-class counts
    * over pairable items) is ROW-LOCAL array arithmetic feeding ONE
    * global aggregate — streaming-legal as-is, so a streaming frame
    * runs this function unchanged. Labels outside
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
    val wide = classCounts(items, labelsCol, classes).withColumn("__ki",
      when(col("__ki") > maxRaters.toLong,
        raise_error(lit(s"alphaPivot: an item carries more than " +
          s"$maxRaters ratings")).cast("bigint"))
        .otherwise(col("__ki")))
    val l = lcmScale(maxRaters)
    val k = classes.size + 1
    val ai = sumOver(k)(i => col(s"__c_$i") * col(s"__c_$i"))
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
      (0 until k).map(i =>
        coalesce(sum(when(pairable, col(s"__c_$i")).otherwise(0L)),
          lit(0L)).as(s"__m_$i"))
    alphaRatios(classMarginals(wide.agg(aggs.head, aggs.tail: _*), k), l)
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
    * max(L·DeN, 1)⌋ (signed, [[signedPpm]] — Wmax cancels in the
    * ratio).
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
    val l = lcmScale(maxRaters)
    require(metric == "ordinal" || metric == "interval",
      s"unknown metric '$metric' (ordinal | interval)")
    require(classes.size >= 2, "an ordered scale needs >= 2 classes")
    require(classes.distinct == classes, "classes must be distinct")
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
      ppm("__don", s"${l}L * __t * __wmax").as("do_ppm"),
      ppm("__den", "__t * (__t - 1) * __wmax").as("de_ppm"),
      signedPpm(s"${l}L * __den - __don * (__t - 1)", s"${l}L * __den")
        .as("alpha_ppm"))
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
    * The [[cohen]] core grouped on the rater, with truth as side b:
    * abstain is a category, the kappa is signed, degenerate corpora
    * read zero. Items without a truth row do not grade (inner join —
    * truth is the card's universe), and neither does a null rater.
    *
    * Output: `(rater, n_items, n_correct, accuracy_ppm, pe_sum,
    * pe_ppm, kappa_vs_truth_ppm)`. For any one rater the row equals
    * [[kappaCard]] over that rater's (label, truth) pairs with
    * `n_correct = n_agree` — pinned in LabelQaSpec and LabelQaProps.
    *
    * Scale shape: one item-keyed join against the truth slice, then
    * two aggregates, (raters × classes)- and raters-sized. */
  def accuracyCard(ratings: DataFrame, itemCol: String, raterCol: String,
      labelCol: String, truth: DataFrame, truthLabelCol: String): DataFrame = {
    val qi = graft.Names.quoted(itemCol)
    val paired = ratings.select(col(qi).as("__it"),
        col(graft.Names.quoted(raterCol)).as("rater"),
        col(graft.Names.quoted(labelCol)).as("__la"))
      .filter(col("rater").isNotNull)
      .join(truth.select(col(qi).as("__it"),
        col(graft.Names.quoted(truthLabelCol)).as("__lb")), Seq("__it"))
    cohen(paired, Seq("rater")).select(
      col("rater"), col("n_items"), col("n_agree").as("n_correct"),
      col("po_ppm").as("accuracy_ppm"), col("pe_sum"), col("pe_ppm"),
      col("kappa_ppm").as("kappa_vs_truth_ppm"))
  }

  /** Pairwise Cohen's-kappa MATRIX over the same long-format ratings
    * frame — one [[kappaCard]] row per unordered rater pair, computed
    * group-wise in a single plan (no per-pair query loop): the drift
    * instrument that NAMES the bad labeler where [[fleissCard]] only
    * says "consensus dropped". A rater whose row-average kappa sits
    * far under the others' is the drifted one (planted in
    * LabelQaSpec).
    *
    * The [[cohen]] core grouped on the rater pair — each row IS
    * [[kappaCard]] over that pair's joined labels (pinned in
    * LabelQaSpec and LabelQaProps).
    *
    * Scale shape: the self-join keys on the item id (k−1 rows per
    * rating row at k raters — k is 3-5, not corpus-sized); every
    * frame after the first aggregate is (pairs × classes)-sized. */
  def kappaMatrix(ratings: DataFrame, itemCol: String, raterCol: String,
      labelCol: String): DataFrame = {
    val base = ratings.select(col(graft.Names.quoted(itemCol)).as("__it"),
      col(graft.Names.quoted(raterCol)).as("__r"),
      col(graft.Names.quoted(labelCol)).as("__lab"))
    val pairs = base.as("a")
      .join(base.as("b"), col("a.__it") === col("b.__it") &&
        col("a.__r") < col("b.__r"))
      .select(col("a.__r").as("rater_a"), col("b.__r").as("rater_b"),
        col("a.__lab").as("__la"), col("b.__lab").as("__lb"))
    cohen(pairs, Seq("rater_a", "rater_b"))
      .drop("n_classes_a", "n_classes_b")
  }
}
