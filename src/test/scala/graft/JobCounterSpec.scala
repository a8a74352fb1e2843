package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import JobCounter.Counts

/** [[JobCounter]] reads exact counts on plans whose scheduling is
  * known, only once the counted body has returned, and never counts
  * the sentinel job it drains the listener bus with. */
class JobCounterSpec extends AnyFunSuite with SparkTestSession {

  private def sc = spark.sparkContext

  /** The counts with task time left out: it is measured, not known. */
  private def shape(c: Counts): (Long, Long, Long) = (c.jobs, c.stages, c.tasks)

  test("an RDD shuffle is one job of two stages: 4 map and 2 reduce tasks") {
    val (n, c) = JobCounter.counted(sc) {
      sc.parallelize(1 to 100, 4).map(x => (x % 3, 1))
        .reduceByKey(_ + _, 2).count()
    }
    assert(n === 3L)
    assert(shape(c) === ((1L, 2L, 6L)))
    assert(c.taskSec >= 0.0)
  }

  test("an AQE aggregate runs its map stage and its result stage as two jobs") {
    // AQE submits the shuffle map stage as a job of its own; the result
    // job then skips that stage, and the tiny shuffle output coalesces
    // into one reduce task
    val df = spark.range(0, 100, 1, 4).groupBy(col("id") % 3).count()
    val (n, c) = JobCounter.counted(sc)(df.queryExecution.toRdd.count())
    assert(n === 3L)
    assert(shape(c) === ((2L, 2L, 5L)))
  }

  test("the sentinel job is never counted, by its own counter or another") {
    assert(JobCounter.counted(sc)(())._2 === Counts(0, 0, 0, 0.0))
    val ((_, inner), outer) = JobCounter.counted(sc) {
      JobCounter.counted(sc)(sc.parallelize(1 to 9, 3).count())
    }
    assert(shape(inner) === ((1L, 1L, 3L)))
    assert(shape(outer) === shape(inner))
  }

  test("Bench.layers splits the wall it times into construct, plan and run") {
    val (l, c) = JobCounter.counted(sc)(Bench.layers {
      sc.parallelize(1 to 8, 2).count() // an eager job while constructing
      spark.range(0, 10, 1, 2).toDF("id")
    })
    assert(Seq(l.construct, l.plan, l.run).forall(_ >= 0.0))
    assert(l.wall === l.construct + l.plan + l.run)
    assert(shape(c) === ((2L, 2L, 4L)))
  }
}
