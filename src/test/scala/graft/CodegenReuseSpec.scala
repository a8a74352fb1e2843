package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** A warm card run reuses every class whole-stage codegen compiled for
  * it (DESIGN.md §6). Three session settings carry this, and dropping
  * any one fails this spec:
  *  - artifact isolation off: `CacheManager` fills a persisted frame in
  *    a cloned session, and with isolation on each clone's fresh UUID
  *    gets its own executor class loader — the codegen cache is keyed
  *    on (class loader, code), so every fill compiles again;
  *  - a codegen cache larger than a card's working set: q172 and q308
  *    need more entries than Spark's default of 100, and an LRU cycling
  *    through more than its capacity never hits;
  *  - no stage id in generated class names: AQE numbers q310's codegen
  *    stages differently from run to run, and with the id in the name
  *    the same code compiles again under a new name.
  *
  * Same warm-then-count pattern as `StageBudgetSpec`: caches are
  * dropped before every run, so each run refills them. Janino compiles
  * are counted by the JVM-wide `CodegenMetrics` histogram, which gets
  * one sample per compile on the driver and in every task. The cache is
  * sized once per JVM when `CodeGenerator` is first touched; every
  * suite reaches codegen only through `SparkTestSession.session`,
  * which is built through `Sessions.builder`.
  */
class CodegenReuseSpec extends AnyFunSuite with SparkTestSession {

  private val Dir = "/root/testdata/sf0.001"

  /** Classes compiled while `body` runs. */
  private def compiles(body: => Unit): Long = {
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
  }

  /** One full card run from dropped caches, as the bench times it. */
  private def run(name: String): Unit = {
    graft.llm.Caches.unpersistAll(blocking = true)
    SparkEntry.queries(name)(spark, Dir).queryExecution.toRdd.count(): Unit
  }

  test("a warm second pass of q172 and q308 compiles no class") {
    val cards = Seq("q172_seeded_pagerank", "q308_fleiss_kappa")
    // the first pass fills the cache with both cards' classes: the
    // second pass then needs the whole working set of both
    val cold = cards.map(n => n -> compiles(run(n)))
    val warm = cards.map(n => n -> compiles(run(n)))
    info(s"compiles cold=$cold warm=$warm")
    assert(warm.forall(_._2 == 0),
      s"a warm pass recompiled generated code: $warm (cold pass: $cold)")
    graft.llm.Caches.unpersistAll(blocking = true)
  }

  test("a q310 pass that repeats an earlier pass's plan compiles no class") {
    // q310's plan varies from run to run (35 or 36 jobs at sf0.001),
    // and the first run of each plan compiles its classes. A pass with
    // a job count an earlier pass had runs a plan seen before, so it
    // must reuse every class.
    val name = "q310_span_sweep"
    val passes = (1 to 6).map { _ =>
      var jobs = 0
      val n = compiles { jobs = SparkJobs.jobs(spark)(run(name)) }
      (jobs, n)
    }
    info(s"$name (jobs, compiles) per pass: ${passes.mkString(" ")}")
    val repeats = passes.indices.filter(i =>
      passes.take(i).exists(_._1 == passes(i)._1)).map(passes)
    assert(repeats.nonEmpty && repeats.forall(_._2 == 0),
      s"a pass repeating an earlier plan of $name recompiled: $passes")
    graft.llm.Caches.unpersistAll(blocking = true)
  }

  test("a persisted frame's second fill compiles no class") {
    def once(): Unit = {
      graft.llm.Caches.unpersistAll(blocking = true)
      val agg = graft.llm.Caches.persistTracked(
        spark.range(1000).select((col("id") % 7).as("k"), col("id"))
          .groupBy(col("k")).agg(sum(col("id")).as("s")))
      agg.filter(col("s") > 0).queryExecution.toRdd.count(): Unit
    }
    val first = compiles(once())
    val second = compiles(once())
    info(s"compiles first=$first second=$second")
    assert(second == 0,
      s"refilling the cache compiled $second classes (first fill: $first)")
    graft.llm.Caches.unpersistAll(blocking = true)
  }
}
