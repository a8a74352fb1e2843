package graft

import org.scalatest.funsuite.AnyFunSuite

/** Driver-contract drift guards: the shapes `graft.Verify`/`Bench`
  * and the external driver rely on. */
class SparkEntrySpec extends AnyFunSuite {

  test("every oracle key has a query") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracle entries without queries: $orphans")
  }

  test("query names are unique across suites (map merge loses collisions)") {
    val all = Seq(
      queries.Relational.queries.keySet,
      queries.GeoQueries.queries.keySet,
      queries.LlmQueries.queries.keySet,
      queries.SimilarityQueries.queries.keySet,
      queries.TemporalQueries.queries.keySet,
      queries.GovernanceQueries.queries.keySet)
    val total = all.map(_.size).sum
    assert(total == all.reduce(_ ++ _).size, "duplicate query name across suites")
    assert(SparkEntry.queries.size == total)
  }

  test("oracle SQL never smuggles characters the driver's JSON dump escapes wrong") {
    SparkEntry.oracleSql.foreach { case (name, sql) =>
      assert(!sql.contains('\u0000'), s"$name contains NUL")
    }
  }

  test("every query has a DuckDB oracle (no weaker rows-only checks)") {
    val rowsOnly = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(rowsOnly.isEmpty,
      s"unexpected rows-only queries: $rowsOnly — add an oracle or document why not")
  }
}
