package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Positional inverted index over a text corpus, and phrase matching
  * on top of it — the retrieval-side primitive of a corpus pipeline
  * (near-dup finds copies; postings find content).
  *
  * Build is one shuffle keyed on (term, doc_id) — exploded token
  * positions, never text — producing sorted position lists. Phrase
  * queries are then an equi-join of two terms' postings on doc_id
  * plus a merge-walk adjacency count (`inter_count` over `P₁+1` and
  * `P₂`, both sorted): no re-scan of the corpus per query, which is
  * the point of an index. Posting lists of stopword-grade terms are
  * the skew risk — cap or drop top-df terms upstream at corpus scale.
  */
object Postings {

  /** (w, doc_id, ps) — sorted 0-based token positions per (term, doc). */
  def build(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      posexplode(TextAnalysis.tokens(col(textCol))).as(Seq("pos", "w")))
      .groupBy(col("w"), col("doc_id"))
      .agg(sort_array(collect_list(col("pos").cast("bigint"))).as("ps"))

  /** Lifecycle folds of the shipped index — row-per-(term,
    * contributing doc), so both are exact BY CONSTRUCTION (no cap
    * arbitration, no cross-row state): an arrival batch builds only
    * its OWN postings and unions in (the disjoint-arrival contract;
    * a re-crawled doc is erase-then-fold), and an erase is an id
    * anti-join. Pinned against rebuilds in PostingsLifecycleSpec so
    * a future structural change (e.g. df-capped lists) cannot
    * silently break the equivalence. */
  def delta(postings: DataFrame, arrivals: DataFrame, idCol: String,
      textCol: String): DataFrame =
    postings.unionByName(build(arrivals, idCol, textCol))

  def erase(postings: DataFrame, eraseIds: DataFrame): DataFrame =
    postings.join(eraseIds.select(col("doc_id")), Seq("doc_id"),
        "left_anti")
      .select(col("w"), col("doc_id"), col("ps"))

  /** Docs where `w1` and `w2` occur within `window` tokens of each
    * other — the proximity operator between phrase match (ordered,
    * distance 1: [[phraseCounts]]) and bag-of-words AND (distance ∞):
    * `(doc_id, n_near, min_dist)` with `n_near` the count of w1
    * occurrences having a w2 within reach and `min_dist` the closest
    * approach. Row-local O(|P1|·|P2|) per joined posting row — fine
    * for content terms; stopword-grade lists are the documented
    * upstream cap risk (object doc), exactly as for phrase queries. */
  def proximityCounts(postings: DataFrame, w1: String, w2: String,
      window: Int): DataFrame = {
    require(window >= 0, "window must be non-negative")
    val a = postings.filter(col("w") === w1)
      .select(col("doc_id"), col("ps").as("pa"))
    val b = postings.filter(col("w") === w2)
      .select(col("doc_id"), col("ps").as("pb"))
    a.join(b, "doc_id")
      .select(col("doc_id"),
        expr(s"""cast(size(filter(pa,
          |  x -> exists(pb, y -> abs(x - y) <= $window)))
          |  as bigint)""".stripMargin).as("n_near"),
        expr("""array_min(flatten(transform(pa,
          |  x -> transform(pb, y -> abs(x - y)))))""".stripMargin)
          .as("min_dist"))
      .filter(col("n_near") > 0)
  }

  /** Docs containing the exact phrase "w1 w2", with occurrence counts:
    * adjacency = |{p ∈ P(w1) : p+1 ∈ P(w2)}| via the sorted merge
    * walk. */
  def phraseCounts(postings: DataFrame, w1: String, w2: String): DataFrame = {
    graft.GraftExtensions.ensure(postings.sparkSession)
    val a = postings.filter(col("w") === w1).select(col("doc_id"), col("ps").as("pa"))
    val b = postings.filter(col("w") === w2).select(col("doc_id"), col("ps").as("pb"))
    a.join(b, "doc_id")
      .select(col("doc_id"),
        expr("cast(inter_count(transform(pa, x -> x + 1L), pb) as bigint)").as("n_phrase"))
      .filter(col("n_phrase") > 0)
  }
}
