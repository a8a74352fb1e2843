package graft

/** Pure pieces of the bench record protocol, factored out so BenchSpec
  * can pin them without a SparkSession. */
object BenchProtocol {
  /** The recorded per-query number: min over ALL iterations (r18 verdict
    * finding #2). Hypervisor steal only ever INFLATES wall, so any
    * iteration's wall — clean or dirty — is a valid upper bound on the
    * clean value, and the global min is the tightest such bound. The
    * r18 clean-preferred min demonstrably over-reported q192 by 59%
    * (recorded 2.37 s while a dirty iteration ran 1.49 s). Cleanliness
    * stays in the record as `steal_flagged` + per-iteration steal_ppm;
    * it no longer discards measurements. */
  def recordedMin(walls: Seq[Double]): Double = walls.min

  /** Wall-clock deadline predicate, measured from JVM start so that an
    * un-forked sbt run counts sbt launch + compile against the budget —
    * exactly the share of the driver's kill-cap the process can't
    * otherwise see. deadlineSec <= 0 disables. */
  def expired(jvmStartMs: Long, nowMs: Long, deadlineSec: Long): Boolean =
    deadlineSec > 0 && (nowMs - jvmStartMs) / 1000L >= deadlineSec

  /** [[expired]] for this JVM, now. */
  def pastDeadline(deadlineSec: Long): Boolean = expired(
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime,
    System.currentTimeMillis(), deadlineSec)

  /** One run's wall split at the perfbench harness's boundaries:
    * construct (`SparkEntry.queries(name)(spark, dir)`, eager jobs an
    * operator runs while building its frame included), plan
    * (`queryExecution.executedPlan`) and run (`toRdd.count()`). */
  final case class Layers(construct: Double, plan: Double, run: Double) {
    def wall: Double = construct + plan + run
  }

  /** One recorded iteration of one query: its wall's layers, process
    * CPU, GC and 1-min load (None/-1 where the JVM or box cannot tell),
    * hypervisor steal in ppm of the run's jiffies, steal retries spent,
    * the classes codegen compiled in this JVM during the run (driver
    * and, on a local master, executor compiles), the parquet reads that
    * missed [[Tables]]' schema memo and ran Spark's inference job, and
    * the jobs, stages and tasks the run started. */
  final case class Iter(layers: Layers, cpu: Option[Double], gc: Long,
      compiles: Long, inferences: Long, load: Option[Double],
      steal: Option[Long], retries: Int, counts: JobCounter.Counts) {
    def wall: Double = layers.wall
    // unknown steal (no procfs) counts as clean: it cannot be
    // adjudicated and must not burn the retry budget
    def clean(stealMaxPpm: Long): Boolean = steal.forall(_ <= stealMaxPpm)
  }

  // locale-pinned decimal rendering: the f"" interpolator formats
  // with the JVM default locale, and a comma-decimal locale would
  // turn 4.123 into "4,123" — structurally-valid, semantically
  // garbled JSON in the committed bench record
  def dec(v: Double, places: Int): String =
    String.format(java.util.Locale.ROOT, s"%.${places}f", Double.box(v))

  /** The recorded per-query time: the min over ALL iterations. */
  def minWall(v: Seq[Iter]): Double = recordedMin(v.map(_.wall))

  /** The detail record for `results` (query -> its iterations, in run
    * order). `flagged` names the queries that never saw a clean steal
    * window; `env` is the rendered env object. Per-query maps hold one
    * entry per iteration; `queries`/`value` hold the recorded min. */
  def record(results: Seq[(String, Seq[Iter])], flagged: Seq[String],
      env: String, sf: String): String = {
    def fmtMap(f: Iter => String): String = results.map { case (k, v) =>
      s"\"" + k + "\":" + v.map(f).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + minWall(v) }
      .mkString("{", ",", "}")
    // every iteration's time, not just the min: a one-off slow
    // iteration (GC pause, box noise) then shows up as [4.1, 0.4]
    // instead of masquerading as — or hiding — a plan regression
    val iters = fmtMap(i => dec(i.wall, 3))
    val cpus = fmtMap(_.cpu.map(dec(_, 3)).getOrElse("null"))
    val gcs = fmtMap(_.gc.toString)
    // a warm iteration should compile nothing; a non-zero entry after
    // the first means codegen work rode the timed wall
    val compiles = fmtMap(_.compiles.toString)
    // likewise for schema inference: a warm iteration reads every
    // table's schema from the memo
    val inferences = fmtMap(_.inferences.toString)
    // where the wall went, and the scheduling it cost
    val construct = fmtMap(i => dec(i.layers.construct, 3))
    val plan = fmtMap(i => dec(i.layers.plan, 3))
    val run = fmtMap(i => dec(i.layers.run, 3))
    val jobs = fmtMap(_.counts.jobs.toString)
    val stages = fmtMap(_.counts.stages.toString)
    val tasks = fmtMap(_.counts.tasks.toString)
    val taskSec = fmtMap(i => dec(i.counts.taskSec, 3))
    val loads = fmtMap(_.load.map(dec(_, 2)).getOrElse("null"))
    val steals = fmtMap(_.steal.map(_.toString).getOrElse("null"))
    val retries = fmtMap(_.retries.toString)
    val flaggedJson = flagged.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = if (results.nonEmpty) results.map(r => minWall(r._2)).sum
                else 0.0
    s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"times":$iters,"cpu_sec":$cpus,"gc_ms":$gcs,"codegen_compiles":$compiles,"schema_inferences":$inferences,"construct_sec":$construct,"plan_sec":$plan,"run_sec":$run,"jobs":$jobs,"stages":$stages,"tasks":$tasks,"task_sec":$taskSec,"load1m":$loads,"steal_ppm":$steals,"steal_retries":$retries,"steal_flagged":$flaggedJson,"env":$env,"sf":"$sf"}"""
  }
}

object Bench {
  import BenchProtocol.{Iter, Layers, dec, minWall}

  /** Builds, plans and runs `frame`, timing each layer. The run is the
    * timed action: it materializes EVERY output row through the
    * unmodified physical plan (queryExecution.toRdd). A plain .count()
    * plans a count-aggregate over the query, and Catalyst then prunes
    * every column the count doesn't need — for map-only queries
    * (quality scoring, fingerprints, chunking) that collapses the
    * benchmark to little more than a parquet metadata read, and even
    * aggregations skip computing the un-counted sum columns (measured
    * 3-4x under-reporting at sf0.1). */
  def layers(frame: => org.apache.spark.sql.DataFrame): Layers = {
    val t0 = System.nanoTime()
    val df = frame
    val t1 = System.nanoTime()
    df.queryExecution.executedPlan
    val t2 = System.nanoTime()
    df.queryExecution.toRdd.count()
    Layers((t1 - t0) / 1e9, (t2 - t1) / 1e9, (System.nanoTime() - t2) / 1e9)
  }

  /** Runs every query, or only the ones named in `args`. A named run
    * prints its record and writes no detail file, so it never replaces
    * the committed full record. */
  def main(args: Array[String]): Unit = {
    val selected = SparkEntry.named(args.toSeq)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // three iterations: r7's recorded bench landed on a noisy box and
    // the 2-sample min still carried 4-6x phantom regressions; a third
    // sample makes the min robust to a single slow execution while the
    // per-iteration times array keeps the noise itself visible
    val iterations = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "3").toInt
    // ---- steal-proof record protocol (r17 verdict ask #1) ----
    // Three consecutive rounds produced a contaminated number of
    // record (hypervisor steal inflating wall AND process-CPU on the
    // same plans that read clean on a quiet box), and per-iteration
    // telemetry only adjudicated it AFTER the fact. /proc/stat's steal
    // column is read around every timed run; an iteration whose steal
    // share exceeds `stealMaxPpm` is re-run (bounded per-iteration
    // retries plus one global budget), and a query that never saw a
    // clean window is FLAGGED in `steal_flagged`.
    val stealMaxPpm =
      sys.env.getOrElse("SPARK_GRAFT_STEAL_MAX_PPM", "20000").toLong
    val stealRetries =
      sys.env.getOrElse("SPARK_GRAFT_STEAL_RETRIES", "2").toInt
    // Retry budget denominated in SECONDS of extra wall, not iterations
    // (r18 verdict ask #2): 300 iteration-count retries of multi-second
    // queries could add ~15 min on a permanently-dirty box — precisely
    // the headroom the driver's 60-min cap no longer has. Each retry
    // subtracts its own measured wall; once spent, the protocol
    // degrades to the r17 behavior (record + flag, no retry), so the
    // worst-case bench wall is computable from the record itself:
    // iterations × sum(min) + budget + revisit budget.
    var stealBudgetSec =
      sys.env.getOrElse("SPARK_GRAFT_STEAL_BUDGET_SEC", "240").toDouble
    // ---- global wall deadline (r18 verdict ask #1b) ----
    // Measured from JVM start (covers sbt startup + compile when run
    // un-forked). When it trips, every remaining query runs exactly ONE
    // iteration with no steal retries — a complete, degraded record
    // beats a SIGKILLed empty one — and the record says so.
    val deadlineSec =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_DEADLINE_SEC", "2700").toLong
    def deadlineTripped: Boolean = BenchProtocol.pastDeadline(deadlineSec)
    // first "cpu " aggregate line of /proc/stat:
    // user nice system idle iowait irq softirq steal guest guest_nice
    // (jiffies). steal is field 8; total is the sum of the first 8
    // (guest time is already folded into user/nice). None on any
    // parse/read failure (non-Linux, container without procfs) — the
    // protocol then degrades to the r17 behavior (record, no retry).
    def procStat(): Option[(Long, Long)] =
      try {
        val src = scala.io.Source.fromFile("/proc/stat")
        try src.getLines().find(_.startsWith("cpu ")).flatMap { line =>
          val f = line.trim.split("\\s+").drop(1).flatMap(_.toLongOption)
          if (f.length >= 8) Some((f(7), f.take(8).sum)) else None
        } finally src.close()
      } catch { case _: Throwable => None }
    val spark = Sessions.local()
    spark.sparkContext.setLogLevel("WARN")
    // Warmup: run one cheap query so JVM/codegen/session startup cost
    // isn't attributed to whichever query happens to execute first.
    try SparkEntry.queries("q6_filtered_revenue")(spark, sfDir).count()
    catch { case _: Throwable => () }
    // min over iterations: the first execution of each query pays its
    // whole-stage-codegen compilation (~1s for the larger plans),
    // which at real scale amortizes to nothing — the steady-state
    // number is the meaningful one.
    // Environment telemetry (r16 verdict ask #1): per-iteration
    // process CPU seconds, GC ms, and 1-min box load make "busy box"
    // vs "plan regression" a file read. The MXBean cast is guarded
    // (ADVICE r17): a non-HotSpot JVM reads absent telemetry, never a
    // ClassCastException, and -1 sentinels record as null.
    val osBean: Option[com.sun.management.OperatingSystemMXBean] =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
        case b: com.sun.management.OperatingSystemMXBean => Some(b)
        case _ => None
      }
    def procCpuNanos: Option[Long] =
      osBean.map(_.getProcessCpuTime).filter(_ >= 0L)
    def load1m: Option[Double] =
      Option(java.lang.management.ManagementFactory.getOperatingSystemMXBean
        .getSystemLoadAverage).filter(_ >= 0.0)
    def gcMs: Long = {
      val it = java.lang.management.ManagementFactory
        .getGarbageCollectorMXBeans.iterator()
      var s = 0L
      while (it.hasNext) { val t = it.next().getCollectionTime; if (t > 0) s += t }
      s
    }
    def compilesSoFar: Long =
      org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME.getCount
    /** One recorded iteration of `fn`: timed runs repeat while the
      * steal window is dirty (bounded in retries AND in seconds),
      * keeping the least-stolen attempt. Past the global deadline the
      * retry loop is disabled entirely. */
    def timedIter(name: String, fn: (org.apache.spark.sql.SparkSession,
        String) => org.apache.spark.sql.DataFrame): Iter = {
        var attempt = 0
        var best: Option[Iter] = None
        var done = false
        while (!done) {
          // drop the LSH/gram caches BEFORE each timed run: operators
          // persist skinny projections that a second iteration (or a
          // later query sharing the projection) would read back warm —
          // min-over-iterations must price the full compute every time
          graft.llm.Caches.unpersistAll(blocking = true)
          val load0 = load1m
          val st0 = procStat()
          val gc0 = gcMs
          val cpu0 = procCpuNanos
          val cc0 = compilesSoFar
          val si0 = Tables.schemaInferences
          // the counters are read once the wall and every other
          // reading are taken: draining the listener bus rides none
          val (iter, counts) = JobCounter.counted(spark.sparkContext) {
            // a failing query must fail the BENCH, not score as the
            // run's fastest entry — swallowing into a -1 sentinel once
            // masked breakage behind a plausible-looking number
            val l =
              try layers(fn(spark, sfDir))
              catch {
                case e: Throwable =>
                  throw new RuntimeException(s"bench query $name failed", e)
              }
            val stealPpm = for ((s0, t0s) <- st0; (s1, t1s) <- procStat())
              yield (s1 - s0) * 1000000L / math.max(t1s - t0s, 1L)
            Iter(l,
              for (c0 <- cpu0; c1 <- procCpuNanos) yield (c1 - c0) / 1e9,
              gcMs - gc0, compilesSoFar - cc0, Tables.schemaInferences - si0,
              load0, stealPpm, attempt, _: JobCounter.Counts)
          }
          val it = iter(counts)
          // keep the least-stolen attempt so an always-dirty box still
          // records its best-available measurement (flagged below)
          if (best.forall(b => it.steal.getOrElse(0L) < b.steal.getOrElse(0L)))
            best = Some(it)
          if (it.clean(stealMaxPpm) || attempt >= stealRetries ||
              stealBudgetSec <= 0 || deadlineTripped)
            done = true
          else { attempt += 1; stealBudgetSec -= it.wall }
        }
        best.get
    }
    val detailPath = sys.env.getOrElse(
      "SPARK_GRAFT_BENCH_DETAIL", "/root/repo/BENCH_DETAIL.json")
    /** Render the full record for whatever has completed so far and
      * REWRITE the detail file (r18 verdict ask #1c): a run killed at
      * the driver's cap then leaves a complete per-query record of
      * everything that ran, instead of `parsed: null`. The write is
      * atomic-enough (tmp + move) so a kill mid-write can't leave a
      * truncated JSON behind. */
    def writeRecord(results: Seq[(String, Seq[Iter])],
        degraded: Seq[String], complete: Boolean): String = {
      val flagged = results.collect {
        case (k, v) if !v.exists(_.clean(stealMaxPpm)) => k
      }
      val degradedJson =
        degraded.map("\"" + _ + "\"").mkString("[", ",", "]")
      val env = s"""{"processors":${Runtime.getRuntime.availableProcessors}""" +
        s""","load1m_end":${load1m.map(dec(_, 2)).getOrElse("null")}""" +
        s""","jvm":"${System.getProperty("java.version")}"""" +
        s""","steal_max_ppm":$stealMaxPpm""" +
        s""","steal_budget_sec_left":${dec(math.max(stealBudgetSec, 0), 1)}""" +
        s""","deadline_sec":$deadlineSec""" +
        s""","deadline_degraded":$degradedJson""" +
        s""","complete":$complete}"""
      val full = BenchProtocol.record(results, flagged, env, sfDir)
      // a named run only prints: the detail file holds the full board
      if (args.isEmpty) try {
        val tmp = java.nio.file.Paths.get(detailPath + ".tmp")
        java.nio.file.Files.write(tmp, (full + "\n").getBytes("UTF-8"))
        java.nio.file.Files.move(tmp, java.nio.file.Paths.get(detailPath),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      } catch { case e: Throwable =>
        System.err.println(s"bench detail write failed ($detailPath): $e")
      }
      full
    }
    var degraded = List.empty[String]
    var acc = Vector.empty[(String, Seq[Iter])]
    selected.foreach { case (name, fn) =>
      val n = if (deadlineTripped) { degraded ::= name; 1 } else iterations
      acc :+= name -> (1 to n).map(_ => timedIter(name, fn))
      writeRecord(acc, degraded.reverse, complete = false)
    }
    // second pass over never-clean queries: steal bursts ROVE (the
    // r17 adjudication's core finding), so a query whose whole first
    // visit was dirty is often clean when revisited at the end of the
    // run — give each one more recorded iteration while the budget and
    // deadline last, BEFORE flagging it
    acc = acc.map { case (name, iters) =>
      if (iters.exists(_.clean(stealMaxPpm)) || stealBudgetSec <= 0 ||
          deadlineTripped)
        name -> iters
      else name -> {
        val extra = timedIter(name, SparkEntry.queries(name))
        stealBudgetSec -= extra.wall
        iters :+ extra
      }
    }
    val full = writeRecord(acc, degraded.reverse, complete = true)
    // ALSO print the complete record: stdout rides the harness's
    // bounded tail capture (2 KB), which has twice manufactured phantom
    // regressions — cross-round per-query claims come from the detail
    // file, but the stdout copy keeps the one-line contract intact
    println(full)
    // LAST line is a compact summary: the full JSON above exceeds the
    // harness's bounded tail capture (r8 lost the total and 47 of 80
    // query times to the 2000-char window), so the headline number
    // must ride a line short enough to always survive truncation
    val total = acc.map(r => minWall(r._2)).sum
    println(s"""{"n":${acc.size},"total_min_sec":$total,"sf":"$sfDir"}""")
    spark.stop()
  }
}
