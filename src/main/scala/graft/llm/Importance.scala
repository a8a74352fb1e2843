package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** DSIR-style data selection: score every raw document by how much its
  * hashed-unigram distribution resembles a TARGET corpus relative to
  * the raw pool, and keep the top scorers (Xie et al. 2023, "Data
  * Selection for Language Models via Importance Resampling" — the
  * production recipe for "give me the web docs that look like my
  * high-quality corpus").
  *
  * This is the RATIONAL-ARITHMETIC spelling of the estimator (the
  * Simpson-over-Shannon discipline): instead of the paper's
  * log-likelihood-ratio sum — whose `ln` would never replay
  * bit-for-bit across engines — each feature carries its smoothed
  * importance RATIO in ppm,
  *
  *   w(b) = ⌊10⁶ · (t_b+1)(R+B) / ((r_b+1)(T+B))⌋
  *
  * (t_b/r_b the target/raw counts of hash bucket b, T/R the corpora's
  * total counts, B the bucket count — add-one smoothing), and a doc
  * scores the count-weighted MEAN ratio of its tokens, exact in
  * decimal(38,0)/HUGEINT end-to-end. >10⁶ means "more target-like
  * than the average raw token". Monotone agreement with the paper's
  * estimator is not claimed (arithmetic vs geometric mean); what is
  * claimed is determinism, exact oracle replay, and the same
  * selection PRESSURE — target-overrepresented features pull a doc's
  * score up.
  *
  * Features are hashed unigrams via the native `shingle_bases(text,1)`
  * md5 chain folded into `buckets` buckets, so the whole feature
  * extraction is one codegen'd expression + one explode. Scale shape:
  * two bucket-keyed aggregates bounded by B (never the corpus), one
  * broadcast of the ≤B-row weight table, one per-doc aggregate.
  */
object Importance {

  /** Per-(doc, bucket) hashed-unigram counts — one explode + one
    * aggregate. Null-text docs drop out (no features); blank docs
    * carry the single "" shingle (the shingle_bases contract). */
  def bucketCounts(docs: DataFrame, idCol: String, textCol: String,
      buckets: Int): DataFrame = {
    require(buckets > 0, "buckets must be positive")
    graft.GraftExtensions.ensure(docs.sparkSession)
    docs.select(col(graft.Names.quoted(idCol)).as("doc_id"),
      explode(expr(s"shingle_bases(${graft.Names.quoted(textCol)}, 1)"))
        .as("base"))
      .groupBy(col("doc_id"), pmod(col("base"), lit(buckets.toLong)).as("b"))
      .agg(count(lit(1)).as("c"))
  }

  /** Lifecycle folds of the shipped bucket-count state — the frame is
    * row-per-(contributing doc, bucket), so an arrival batch appends
    * its OWN counts (the disjoint-id contract; a re-crawl is
    * erase-then-fold) and an erase is an id anti-join — both exact by
    * construction, and the weight table plus smoothing constant
    * RE-DERIVE from the folded counts ([[bucketWeights]] and
    * [[unseenWeight]] are pure aggregates of them), pinned in
    * ImportanceSpec. This closes the DSIR family's lifecycle: a
    * target-corpus curation decision (add or forget documents) folds
    * into the serving weights without re-tokenizing history. */
  def countsDelta(counts: DataFrame, arrivals: DataFrame, idCol: String,
      textCol: String, buckets: Int): DataFrame =
    counts.unionByName(bucketCounts(arrivals, idCol, textCol, buckets))

  def countsErase(counts: DataFrame, eraseIds: DataFrame): DataFrame =
    counts.join(eraseIds.select(col("doc_id")), Seq("doc_id"), "left_anti")

  /** The ≤`buckets`-row importance-weight table over two
    * [[bucketCounts]] frames. Buckets absent from the raw pool cannot
    * appear in any raw doc, so the raw-present buckets are the full
    * domain any scoring ever probes; buckets absent from the target
    * get pure-smoothing weights. The two corpus totals ride as
    * broadcast one-row arms. */
  def bucketWeights(targetCounts: DataFrame, rawCounts: DataFrame,
      buckets: Int): DataFrame = {
    val t = targetCounts.groupBy(col("b")).agg(sum(col("c")).as("tc"))
    val r = rawCounts.groupBy(col("b")).agg(sum(col("c")).as("rc"))
    val tTot = targetCounts.agg(sum(col("c")).as("tt"))
    val rTot = rawCounts.agg(sum(col("c")).as("rt"))
    r.join(t, Seq("b"), "left")
      .crossJoin(broadcast(tTot)).crossJoin(broadcast(rTot))
      .select(col("b"), expr(
        s"""cast((cast(1000000 as decimal(38,0))
           |    * cast(coalesce(tc, 0) + 1 as decimal(38,0))
           |    * cast(rt + $buckets as decimal(38,0)))
           |  div (cast(rc + 1 as decimal(38,0))
           |    * cast(tt + $buckets as decimal(38,0))) as bigint)"""
          .stripMargin).as("w_ppm"))
  }

  /** The pure-smoothing weight an arrival bucket UNSEEN in the raw
    * pool scores at — ⌊10⁶·(R+B)/(T+B)⌋, the t_b = r_b = 0 case of
    * the [[bucketWeights]] formula. One row `(w0_ppm)`; ships with
    * the weight table so the serve side can score vocabulary the
    * training pool never saw. */
  def unseenWeight(targetCounts: DataFrame, rawCounts: DataFrame,
      buckets: Int): DataFrame = {
    val tTot = targetCounts.agg(sum(col("c")).as("tt"))
    val rTot = rawCounts.agg(sum(col("c")).as("rt"))
    rTot.crossJoin(broadcast(tTot)).select(expr(
      s"""cast((cast(1000000 as decimal(38,0))
         |    * cast(rt + $buckets as decimal(38,0)))
         |  div cast(tt + $buckets as decimal(38,0)) as bigint)"""
        .stripMargin).as("w0_ppm"))
  }

  /** Score an ARRIVAL batch from a trained weight table — the serve
    * half of the train-once/serve-many contract, and STREAMING-SAFE
    * BY CONSTRUCTION: token-level scoring (no intermediate
    * per-(doc, bucket) aggregate) means exactly ONE aggregation, so
    * [[graft.streaming.Streams.importanceIngest]] runs this very
    * function on a streaming frame. Arithmetic is identical to
    * [[docScores]] (Σ over tokens of w ≡ Σ_b c·w). Buckets the
    * training pool never saw score at `unseenWppm`
    * ([[unseenWeight]]); null-text arrivals drop out (no features,
    * the [[bucketCounts]] contract). */
  def scoreArrivals(arrivals: DataFrame, idCol: String, textCol: String,
      weights: DataFrame, unseenWppm: Long, buckets: Int): DataFrame = {
    require(buckets > 0, "buckets must be positive")
    graft.GraftExtensions.ensure(arrivals.sparkSession)
    arrivals.select(col(graft.Names.quoted(idCol)).as("doc_id"),
      explode(expr(s"shingle_bases(${graft.Names.quoted(textCol)}, 1)"))
        .as("base"))
      .select(col("doc_id"), pmod(col("base"), lit(buckets.toLong)).as("b"))
      .join(broadcast(weights), Seq("b"), "left")
      .select(col("doc_id"),
        coalesce(col("w_ppm"), lit(unseenWppm)).as("w"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("bigint").as("n_tok"),
        expr("""cast(sum(cast(w as decimal(38,0)))
          |  div cast(count(1) as decimal(38,0)) as bigint)""".stripMargin)
          .as("score_ppm"))
  }

  /** Per-doc importance: token count and the count-weighted mean
    * feature ratio in ppm. `weights` (≤B rows) broadcasts. */
  def docScores(counts: DataFrame, weights: DataFrame): DataFrame =
    counts.join(broadcast(weights), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).cast("bigint").as("n_tok"),
        expr("""cast(sum(cast(c as decimal(38,0))
          |    * cast(w_ppm as decimal(38,0)))
          |  div cast(sum(c) as decimal(38,0)) as bigint)""".stripMargin)
          .as("score_ppm"))
}
