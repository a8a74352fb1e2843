package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Categorical drift detection: Pearson's chi-square goodness-of-fit
  * of an arrival batch's cell mix against the corpus's, per group —
  * the monitor a crawl pipeline runs per source to catch a feed whose
  * language/type mixture silently shifted (encoder swap, upstream
  * re-crawl, a spam wave).
  *
  * Exact rational arithmetic end-to-end (the Simpson-over-Shannon
  * discipline): with o/c the arrival/corpus counts of a cell, A/C the
  * group totals and K the group's cell count, the expected share is
  * add-one smoothed on the corpus side (e = A·(c+1)/(C+K), so cells
  * the corpus never saw stay finite) and each cell contributes
  *
  *   term_ppm = ⌊10⁶ · (o(C+K) − A(c+1))² / (A(c+1)(C+K))⌋
  *
  * — the statistic is DEFINED as the sum of per-cell floored terms,
  * so both engines replay it bit-for-bit. The group's χ²_ppm then
  * compares against the literal 95% critical value at df = K−1
  * (capped at 10 — beyond that, bucketize).
  *
  * Validity envelope (documented, not silent): the FULL numerator is
  * 10⁶·(o(C+K) − A(c+1))², so decimal(38,0) exactness requires
  * |o(C+K) − A(c+1)| ≤ 10¹⁶ — per-group counts to ~10⁸ worst-case
  * (the divergence term is ≤ max(o·(C+K), A·(c+1)) ≈ N² at counts N;
  * the ppm multiplier spends 6 of the 38 digits). Past that, non-ANSI
  * Spark nulls the overflowed decimal instead of failing loudly —
  * ~10⁸ per group is still the regime a significance TEST means
  * anything in at all (at 10¹³ observations any epsilon "drifts
  * significantly"); for bigger frames, test a deterministic sample
  * ([[Sampling]] q103/q262) — the statistic is batch-sized by design.
  *
  * Scale shape: two (group, cell)-keyed aggregates, one group-keyed
  * rollup — frames bounded by groups × cells, never corpus rows.
  */
object Drift {

  /** ⌊10⁶ · χ²₀.₉₅(df)⌋ for df = 1..10 — literal critical values
    * (re-derived within ±2 by DriftSpec via the regularized
    * incomplete gamma). */
  val Chi2Crit95Ppm: Seq[Long] = Seq(3841458L, 5991464L, 7814727L,
    9487729L, 11070497L, 12591587L, 14067140L, 15507313L, 16918977L,
    18307038L)

  /** The smoothed per-cell term as a SQL fragment over column NAMES —
    * one spelling shared by the per-cell card ([[chiSquareCard]]) and
    * the pivoted ingest form ([[chiSquarePivot]]), so the two can
    * never disagree about the arithmetic. */
  private def termSql(o: String, c: String, a: String, cT: String,
      k: String): String =
    s"""cast(cast(1000000 as decimal(38,0))
       |    * (cast($o as decimal(38,0)) * ($cT + $k)
       |       - cast($a as decimal(38,0)) * ($c + 1))
       |    * (cast($o as decimal(38,0)) * ($cT + $k)
       |       - cast($a as decimal(38,0)) * ($c + 1))
       |  div (cast(greatest($a, 1L) as decimal(38,0))
       |    * ($c + 1) * ($cT + $k)) as bigint)""".stripMargin

  /** Per-group drift card: `(group, n_arr, n_corpus, k_cells, df,
    * chi2_ppm, crit_ppm, drifted)`. Groups present on either side
    * appear; a group with no arrivals reads χ² = 0 (nothing arrived,
    * nothing drifted); cells unseen in the corpus are handled by the
    * smoothing. Null cells count as their own "(null)" cell. */
  def chiSquareCard(arrivals: DataFrame, corpus: DataFrame,
      groupCol: String, cellCol: String): DataFrame = {
    def cellsOf(df: DataFrame, n: String) = df
      .select(col(graft.Names.quoted(groupCol)).as("g"),
        coalesce(col(graft.Names.quoted(cellCol)).cast("string"),
          lit("(null)")).as("cell"))
      .groupBy(col("g"), col("cell")).agg(count(lit(1)).as(n))
    val cells = cellsOf(arrivals, "o")
      .join(cellsOf(corpus, "c"), Seq("g", "cell"), "full_outer")
      .select(col("g"), col("cell"),
        coalesce(col("o"), lit(0L)).as("o"),
        coalesce(col("c"), lit(0L)).as("c"))
    val totals = cells.groupBy(col("g"))
      .agg(sum(col("o")).as("a_tot"), sum(col("c")).as("c_tot"),
        count(lit(1)).as("k"))
    cells.join(totals, Seq("g"))
      .withColumn("term_ppm",
        expr(termSql("o", "c", "a_tot", "c_tot", "k")))
      .groupBy(col("g"))
      .agg(max(col("a_tot")).cast("bigint").as("n_arr"),
        max(col("c_tot")).cast("bigint").as("n_corpus"),
        max(col("k")).cast("bigint").as("k_cells"),
        sum(col("term_ppm")).cast("bigint").as("chi2_ppm"))
      .withColumn("df", greatest(col("k_cells") - 1L, lit(1L)))
      .withColumn("crit_ppm", element_at(
        array(Chi2Crit95Ppm.map(lit): _*),
        least(col("df"), lit(10L)).cast("int")))
      .select(col("g").as(groupCol), col("n_arr"), col("n_corpus"),
        col("k_cells"), col("df"), col("chi2_ppm"), col("crit_ppm"),
        (col("chi2_ppm") > col("crit_ppm")).as("drifted"))
  }

  /** The INGEST-shaped spelling of [[chiSquareCard]] — what a
    * standing monitor runs: the cell set is a FIXED config list (a
    * production monitor pins its schema up front), each arrival row
    * joins the broadcast baseline pivot FIRST, and everything
    * aggregates in exactly ONE group-keyed pass — join-before-
    * aggregate, single aggregation, so the function is
    * streaming-legal as-is and a streaming frame runs it verbatim
    * (stream == batch pinned in StreamingSpec).
    *
    * Semantics vs the card: values outside `cells` lump into one
    * OTHER bucket (an unseen language still alarms — it lands in a
    * cell whose baseline is zero); a configured cell with neither
    * arrivals nor baseline does not count toward df, so K_eff equals
    * the card's observed-cell union and the two spellings are EQUAL
    * whenever the observed values stay within `cells` plus at most
    * one unseen value (DriftSpec pins it; q289 shares q285's oracle
    * outright). One deliberate difference: groups with zero arrivals
    * are silent here (a monitor alerts on arrivals), where the card
    * surfaces them with χ² = 0. */
  def chiSquarePivot(arrivals: DataFrame, baseline: DataFrame,
      groupCol: String, cellCol: String, cells: Seq[String]): DataFrame = {
    require(cells.nonEmpty, "the monitor needs a configured cell list")
    val idx = cells.indices.map(_.toString) :+ "x"
    def cellOf(df: DataFrame) = df.select(
      col(graft.Names.quoted(groupCol)).as("g"),
      coalesce(col(graft.Names.quoted(cellCol)).cast("string"),
        lit("(null)")).as("cell"))
    val basePivotAggs = cells.zipWithIndex.map { case (l, i) =>
      sum(when(col("cell") === l, 1L).otherwise(0L)).as(s"c_$i") } ++ Seq(
      sum(when(!col("cell").isin(cells: _*), 1L).otherwise(0L)).as("c_x"),
      count(lit(1)).as("c_tot"))
    val b = broadcast(cellOf(baseline).groupBy(col("g"))
      .agg(basePivotAggs.head, basePivotAggs.tail: _*))
    val arrivalAggs = cells.zipWithIndex.map { case (l, i) =>
      sum(when(col("cell") === l, 1L).otherwise(0L)).as(s"o_$i") } ++ Seq(
      sum(when(!col("cell").isin(cells: _*), 1L).otherwise(0L)).as("o_x"),
      count(lit(1)).as("a_tot")) ++
      idx.map(i => coalesce(max(col(s"c_$i")), lit(0L)).as(s"c_$i")) :+
      coalesce(max(col("c_tot")), lit(0L)).as("c_tot")
    val joined = cellOf(arrivals).join(b, Seq("g"), "left")
      .groupBy(col("g")).agg(arrivalAggs.head, arrivalAggs.tail: _*)
    val kEff = idx.map(i =>
      s"(CASE WHEN o_$i > 0 OR c_$i > 0 THEN 1L ELSE 0L END)")
      .mkString(" + ")
    val chi = idx.map(i =>
      s"(CASE WHEN o_$i > 0 OR c_$i > 0 THEN " +
        termSql(s"o_$i", s"c_$i", "a_tot", "c_tot", "k_cells") +
        " ELSE 0L END)").mkString(" + ")
    joined.withColumn("k_cells", expr(kEff))
      .withColumn("chi2_ppm", expr(chi))
      .withColumn("df", greatest(col("k_cells") - 1L, lit(1L)))
      .withColumn("crit_ppm", element_at(
        array(Chi2Crit95Ppm.map(lit): _*),
        least(col("df"), lit(10L)).cast("int")))
      .select(col("g").as(groupCol),
        col("a_tot").cast("bigint").as("n_arr"),
        col("c_tot").cast("bigint").as("n_corpus"),
        col("k_cells"), col("df"), col("chi2_ppm"), col("crit_ppm"),
        (col("chi2_ppm") > col("crit_ppm")).as("drifted"))
  }
}
