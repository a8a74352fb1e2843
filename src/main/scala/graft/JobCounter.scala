package graft

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageSubmitted, SparkListenerTaskEnd}

/** The jobs, stages and tasks a context starts while the counter is
  * attached, and their summed executor run time: the one scheduling
  * counter `Bench`, `ScalingSweep` and the tests read. A job counts at
  * `onJobStart`, a stage at `onStageSubmitted` (a stage skipped because
  * its shuffle output exists is never submitted), a task at
  * `onTaskEnd`. Events stamped before the counter was attached, left on
  * the bus by an earlier action, are not counted.
  *
  * The listener bus is asynchronous, so `counted` drains it before
  * reading: it runs a one-task sentinel job tagged with a local
  * property and waits for that job's end, which the bus delivers after
  * every event posted before it. No counter counts a sentinel job, its
  * stage or its task. */
final class JobCounter private (sc: SparkContext) extends SparkListener {
  import JobCounter._

  private val t0 = System.currentTimeMillis()
  private val tag = java.util.UUID.randomUUID.toString
  private val jobs, stages, tasks, runMs = new AtomicLong
  private val sentinelStages = ConcurrentHashMap.newKeySet[Int]()
  private val drained = new CountDownLatch(1)
  @volatile private var sentinelJob = -1

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(SentinelProp))) match {
      case Some(t) =>
        e.stageIds.foreach(sentinelStages.add)
        if (t == tag) sentinelJob = e.jobId
      case None => if (e.time >= t0) jobs.incrementAndGet(): Unit
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (e.jobId == sentinelJob) drained.countDown()

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val s = e.stageInfo
    if (!sentinelStages.contains(s.stageId) && s.submissionTime.forall(_ >= t0))
      stages.incrementAndGet(): Unit
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (!sentinelStages.contains(e.stageId) && e.taskInfo.launchTime >= t0) {
      tasks.incrementAndGet()
      Option(e.taskMetrics).foreach(m => runMs.addAndGet(m.executorRunTime))
    }

  /** Drains the bus, detaches and returns what was counted. */
  private def stop(): Counts = {
    val prev = sc.getLocalProperty(SentinelProp)
    sc.setLocalProperty(SentinelProp, tag)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(SentinelProp, prev)
    val ok = drained.await(DrainSec, TimeUnit.SECONDS)
    sc.removeSparkListener(this)
    if (!ok) throw new IllegalStateException(
      s"listener bus did not deliver the sentinel job's end within $DrainSec s")
    Counts(jobs.get, stages.get, tasks.get, runMs.get / 1000.0)
  }
}

object JobCounter {
  final case class Counts(jobs: Long, stages: Long, tasks: Long, taskSec: Double)

  private val SentinelProp = "graft.counter.sentinel"
  private val DrainSec = 60L

  /** `body`'s result and what it started, read once `body` has
    * returned. */
  def counted[T](sc: SparkContext)(body: => T): (T, Counts) = {
    val c = new JobCounter(sc)
    sc.addSparkListener(c)
    val r = try body catch { case e: Throwable => sc.removeSparkListener(c); throw e }
    (r, c.stop())
  }
}
