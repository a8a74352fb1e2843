package graft

import org.apache.spark.sql.SparkSession

/** Shared local session for specs — one per JVM (sbt forks one test
  * JVM), built through `Sessions.builder` so tests run with exactly the
  * semantics of the Verify/Bench entry points.
  */
trait SparkTestSession {
  lazy val spark: SparkSession = SparkTestSession.session
}

object SparkTestSession {
  lazy val session: SparkSession = {
    val s = Sessions.builder("local[4]", 4)
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** Jobs and stages a session's context submits while `body` runs,
  * from the engine's [[JobCounter]]. */
object SparkJobs {
  def counted(spark: SparkSession)(body: => Unit): (Int, Int) = {
    val c = JobCounter.counted(spark.sparkContext)(body)._2
    (c.jobs.toInt, c.stages.toInt)
  }

  /** Jobs submitted while `body` runs. */
  def jobs(spark: SparkSession)(body: => Unit): Int = counted(spark)(body)._1
}

/** Shared plan-shape helper: flatten an executed plan, recursing into
  * AQE wrappers so asserts see the real operators. */
object PlanNodes {
  import org.apache.spark.sql.execution.SparkPlan
  import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
  def all(p: SparkPlan): Seq[SparkPlan] =
    p.collect { case n => n }.flatMap {
      case a: AdaptiveSparkPlanExec => all(a.executedPlan)
      case n => Seq(n)
    }
}

/** Exchanges a finished AQE plan ran more than once. AQE reuses an
  * exchange only when its canonical form matches one it already
  * built, and the canonical form above a persisted frame carries the
  * id of the fresh `TableCacheQueryStageExec` each cache scan gets —
  * so two consumers of one frame derived from a cache run its
  * exchange chain twice and print no `ReusedExchange`. This walks the
  * final plan through query stages, subqueries and the cached
  * sub-plans, rewrites every query stage back to the exchange or scan
  * it wraps (a cache stage becomes its scan), and groups exchanges by
  * the canonical form of that rewrite. Call it after the frame has
  * run: before execution AQE has built no stages. */
object DuplicateExchanges {
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.execution.SparkPlan
  import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec,
    AdaptiveSparkPlanExec, QueryStageExec}
  import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
  import org.apache.spark.sql.execution.exchange.Exchange

  /** Every exchange the plan ran, inside cached sub-plans too. A
    * cached sub-plan is walked once however many scans read it: it
    * runs once, when the cache fills. */
  def exchanges(p: SparkPlan): Seq[Exchange] = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[AnyRef, java.lang.Boolean])
    def walk(n: SparkPlan): Seq[Exchange] = {
      val inner = n match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case s: QueryStageExec => Seq(s.plan)
        case m: InMemoryTableScanExec =>
          if (seen.add(m.relation.cacheBuilder)) Seq(m.relation.cachedPlan)
          else Nil
        case o => o.children ++ o.subqueries
      }
      (n match {
        case e: Exchange => Seq(e)
        case _ => Nil
      }) ++ inner.flatMap(walk)
    }
    walk(p)
  }

  /** The exchange subtree with every stage, AQE wrapper and shuffle
    * read replaced by what it wraps — what the exchange would compare
    * as if AQE had not cut the plan into stages. */
  private def unstaged(p: SparkPlan): SparkPlan = p.transformUp {
    case s: QueryStageExec => unstaged(s.plan)
    case a: AdaptiveSparkPlanExec => unstaged(a.executedPlan)
    case r: AQEShuffleReadExec => r.child
  }

  /** Groups of two or more exchanges with equal canonical forms, as
    * (count, the top of the exchange's unstaged plan). Empty when
    * nothing ran twice. */
  def apply(df: DataFrame): Seq[(Int, String)] =
    exchanges(df.queryExecution.executedPlan)
      .groupBy(e => unstaged(e).canonicalized)
      .values.filter(_.size > 1).toSeq
      .map(g => (g.size,
        unstaged(g.head).treeString.linesIterator.take(8).mkString("\n")))
      .sortBy(-_._1)
}
