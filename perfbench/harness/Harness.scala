package perfbench

import java.io.{File, PrintWriter}

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.llm.{Caches, MinHashLSH, SigStore}

/** The benchmark's JVM side: executes the op plan `run.py` generated
  * from the seed, one op at a time (a closed loop with one client),
  * and writes every measurement as JSON lines for `run.py` to reduce.
  *
  * Usage: `perfbench.Harness <plan file> <output dir>`.
  *
  * Layers are timed only from here, around public entry points:
  * `SparkEntry.queries(name)(spark, dir)` is construct,
  * `queryExecution.executedPlan` is plan, `queryExecution.toRdd.count()`
  * is exec (the timed action `graft.Bench` uses), and the
  * `graft.llm.SigStore` API is store. On traced passes a
  * [[Tracer]] listener records every Spark job and stage; each job is
  * tagged with the span that was open when it started through the
  * `perfbench.span` local property. */
object Harness {

  // ---------- clock and output ----------

  private val epoch0 = System.currentTimeMillis() / 1000.0
  private val nano0 = System.nanoTime()
  /** Epoch seconds with nanosecond resolution. */
  def now(): Double = epoch0 + (System.nanoTime() - nano0) / 1e9

  /** Events are kept in memory and written when the run ends, so the
    * timed region does no file I/O for them. */
  final class Out(path: String) {
    private val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    def apply(kind: String, fields: (String, Any)*): Unit = {
      val line = Json.obj(("k" -> kind) +: fields)
      synchronized { lines += line }
    }
    def close(): Unit = synchronized {
      val w = new PrintWriter(path, "UTF-8")
      try lines.foreach(w.println) finally w.close()
    }
  }

  // ---------- plan ----------

  /** The op plan: `key value` lines; `pass` and `epoch` repeat. */
  final case class Plan(kv: Map[String, String], passes: Vector[Seq[String]],
      epochs: Vector[Epoch]) {
    def apply(k: String): String =
      kv.getOrElse(k, throw new IllegalArgumentException(s"plan lacks '$k'"))
    def int(k: String): Int = apply(k).toInt
    def dbl(k: String): Double = apply(k).toDouble
    def ids(k: String): Seq[Long] = Plan.idList(apply(k))
  }
  final case class Epoch(arrive: Seq[Long], erase: Seq[Long])

  object Plan {
    def idList(s: String): Seq[Long] =
      s.split(',').iterator.map(_.trim).filter(_.nonEmpty).map(_.toLong).toSeq

    def read(path: String): Plan = {
      val src = scala.io.Source.fromFile(path, "UTF-8")
      try {
        var kv = Map.empty[String, String]
        val passes = Vector.newBuilder[Seq[String]]
        val epochs = Vector.newBuilder[Epoch]
        src.getLines().map(_.trim).filter(_.nonEmpty).foreach { line =>
          val (k, v) = line.span(_ != ' ') match { case (a, b) => (a, b.trim) }
          k match {
            case "pass" => passes += v.split(',').toSeq
            case "epoch" =>
              val f = v.split(';').padTo(2, "")
              epochs += Epoch(idList(f(0)), idList(f(1)))
            case _ => kv += k -> v
          }
        }
        Plan(kv, passes.result(), epochs.result())
      } finally src.close()
    }
  }

  // ---------- tracing ----------

  /** Records Spark jobs and stages. Jobs carry the `perfbench.span`
    * local property of the thread that submitted them; a job started
    * from a thread without it is attributed by time in `run.py`. */
  final class Tracer(out: Out) extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p =>
        Option(p.getProperty(SpanProp))).orNull
      if (span != null && span.startsWith("sentinel")) return
      out("job", "id" -> e.jobId, "parent" -> span, "t0" -> e.time / 1000.0,
        "stages" -> e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      out("job_end", "id" -> e.jobId, "t1" -> e.time / 1000.0,
        "ok" -> (e.jobResult == JobSucceeded))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      val m = s.taskMetrics
      val sr = m.shuffleReadMetrics
      out("stage", "id" -> s.stageId, "attempt" -> s.attemptNumber(),
        "t0" -> s.submissionTime.map(_ / 1000.0).getOrElse(0.0),
        "t1" -> s.completionTime.map(_ / 1000.0).getOrElse(0.0),
        "tasks" -> s.numTasks,
        "run_s" -> m.executorRunTime / 1000.0,
        "cpu_s" -> m.executorCpuTime / 1e9,
        "gc_s" -> m.jvmGCTime / 1000.0,
        "input_b" -> m.inputMetrics.bytesRead,
        "shuffle_r_b" -> (sr.remoteBytesRead + sr.localBytesRead),
        "shuffle_w_b" -> m.shuffleWriteMetrics.bytesWritten,
        "spill_b" -> (m.memoryBytesSpilled + m.diskBytesSpilled))
    }
  }

  val SpanProp = "perfbench.span"

  // ---------- main ----------

  def main(args: Array[String]): Unit = {
    val plan = Plan.read(args(0))
    val outDir = new File(args(1))
    outDir.mkdirs()
    val out = new Out(new File(outDir, "events.jsonl").toString)
    val code =
      try { run(plan, outDir, out); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
      finally out.close()
    // exit now: idle non-daemon pools some operators start would
    // otherwise hold the JVM open until their keep-alive lapses
    sys.exit(code)
  }

  private def run(plan: Plan, outDir: File, out: Out): Unit = {
    val tSessionStart = now()
    val spark = graft.Sessions.local()
    spark.sparkContext.setLogLevel("WARN")
    val tSessionReady = now()
    out("session", "t0" -> tSessionStart, "t1" -> tSessionReady,
      "cores" -> spark.sparkContext.defaultParallelism)
    val ctx = new Ctx(spark, plan, outDir, out)
    try {
      plan("workload") match {
        case "lifecycle" => new Lifecycle(ctx).run()
        case _ => new Cards(ctx).run()
      }
    } finally spark.stop()
  }

  /** State shared by both workload kinds. */
  final class Ctx(val spark: SparkSession, val plan: Plan, val outDir: File,
      val out: Out) {
    val sc: SparkContext = spark.sparkContext
    val dir: String = plan("data")
    val traced: Boolean = plan.int("trace") == 1
    val seconds: Double = plan.dbl("seconds")
    val tracer = new Tracer(out)
    private var tracing = false
    private var sentinelN = 0

    /** Time `body` as a span; on traced passes jobs it starts are
      * tagged with the span id. */
    def span[T](id: String, parent: String, op: String, name: String)(body: => T): T = {
      val prev = sc.getLocalProperty(SpanProp)
      if (tracing) sc.setLocalProperty(SpanProp, id)
      val t0 = now()
      try body
      finally {
        val t1 = now()
        if (tracing) {
          sc.setLocalProperty(SpanProp, prev)
          out("span", "id" -> id, "parent" -> parent, "op" -> op,
            "name" -> name, "t0" -> t0, "t1" -> t1)
        }
      }
    }

    def startTracing(): Unit = if (!tracing) {
      sc.addSparkListener(tracer)
      tracing = true
    }

    /** Drain the listener bus (a sentinel job's end proves every
      * earlier event was delivered), then detach the listener. */
    def stopTracing(): Unit = if (tracing) {
      sentinelN += 1
      val tag = s"sentinel$sentinelN"
      sc.setLocalProperty(SpanProp, tag)
      val probe = new SparkListener {
        @volatile var job = -1
        @volatile var done = false
        override def onJobStart(e: SparkListenerJobStart): Unit =
          if (Option(e.properties).exists(_.getProperty(SpanProp) == tag))
            job = e.jobId
        override def onJobEnd(e: SparkListenerJobEnd): Unit =
          if (e.jobId == job) done = true
      }
      sc.addSparkListener(probe)
      sc.parallelize(Seq(1), 1).count()
      sc.setLocalProperty(SpanProp, null)
      val deadline = System.nanoTime() + 20L * 1000000000L
      while (!probe.done && System.nanoTime() < deadline) Thread.sleep(5)
      sc.removeSparkListener(probe)
      sc.removeSparkListener(tracer)
      tracing = false
    }

    /** Cached RDDs and their memory, from the public storage info. */
    def cacheState(op: String): Unit = if (tracing) {
      val infos = sc.getRDDStorageInfo.filter(_.numCachedPartitions > 0)
      out("caches", "op" -> op, "n" -> infos.length,
        "mem_b" -> infos.map(_.memSize).sum)
    }

    /** The aggregate `cpu` line of /proc/stat: (steal, total) jiffies,
      * or None where there is no such file. */
    def cpuStat(): Option[(Long, Long)] =
      try {
        val src = scala.io.Source.fromFile("/proc/stat")
        try src.getLines().find(_.startsWith("cpu ")).map { l =>
          // user nice system idle iowait irq softirq steal
          val f = l.trim.split("\\s+").slice(1, 9).map(_.toLong)
          (f.lift(7).getOrElse(0L), f.sum)
        } finally src.close()
      } catch { case _: java.io.IOException => None }

    /** Steal's share of the CPU time between two readings; 0 when
      * unknown. */
    def stealShare(a: Option[(Long, Long)], b: Option[(Long, Long)]): Double =
      (a, b) match {
        case (Some((s0, t0)), Some((s1, t1))) if t1 > t0 =>
          (s1 - s0).toDouble / (t1 - t0)
        case _ => 0.0
      }

    def rssPeakKb(): Long = {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toLong).getOrElse(0L)
      finally src.close()
    }

    /** Record an op and whether it threw. */
    def op(id: String, name: String, kind: String, phase: String,
        pass: Int)(body: => Unit): Boolean = {
      val t0 = now()
      val err = try { span(id, null, id, name)(body); None }
        catch { case e: Throwable => Some(e) }
      val t1 = now()
      err.foreach { e =>
        System.err.println(s"op $name failed: $e")
        e.printStackTrace()
      }
      out("op", "id" -> id, "name" -> name, "kind" -> kind,
        "phase" -> phase, "pass" -> pass, "t0" -> t0, "t1" -> t1,
        "ok" -> err.isEmpty, "err" -> err.map(_.toString).orNull)
      err.isEmpty
    }

    /** Warm-up, then the timed passes. Pass 0 is cold. Warm-up runs at
      * least `warm_min` passes, then more until the last two are within
      * `warm_tol` of each other, at most `warm_max`. Timed passes follow
      * until they span `seconds`, or until `more` says the plan is used
      * up. Every pass records the hypervisor's steal share of the CPU
      * time it took; an untraced run goes on past `seconds`, while
      * another pass would end within `deadline` seconds of JVM start,
      * until its passes with a steal share of at most `steal_max` span
      * `seconds` (run.py then keeps the passes with the least steal).
      * A traced run times at least four passes and traces them in the
      * order untraced, traced, traced, untraced (repeating), so its
      * traced and untraced passes sit side by side and a steady drift
      * in pass time cancels out of the tracing overhead; warm-up passes
      * are never traced. */
    def loop(more: => Boolean)(pass: Int => Unit): Unit = {
      val tol = plan.dbl("warm_tol")
      val (wmin, wmax) = (plan.int("warm_min"), plan.int("warm_max"))
      val (stealMax, deadline) = (plan.dbl("steal_max"), plan.dbl("deadline"))
      val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean
        .getStartTime / 1000.0
      val starts = scala.collection.mutable.ArrayBuffer.empty[Double]
      val times = scala.collection.mutable.ArrayBuffer.empty[Double]
      val steals = scala.collection.mutable.ArrayBuffer.empty[Double]
      def run(k: Int, tracedPass: Boolean): Unit = {
        if (tracedPass) startTracing()
        val st0 = cpuStat()
        val t0 = now()
        pass(k)
        starts += t0
        times += now() - t0
        steals += stealShare(st0, cpuStat())
        if (tracedPass) stopTracing()
      }
      def converged = times.length >= 3 && {
        val (a, b) = (times(times.length - 2), times.last)
        math.abs(b - a) <= tol * a
      }
      while (more && (times.length < wmin || (!converged && times.length < wmax)))
        run(times.length, tracedPass = false)
      val steady = times.length
      out("warmup", "t0" -> starts(0), "t1" -> now(), "passes" -> steady,
        "pass_s" -> times.toSeq, "converged" -> converged)
      val t0 = now()
      def timedPasses = times.length - steady
      def cleanTime = (steady until times.length)
        .filter(steals(_) <= stealMax).map(times).sum
      def goOn = {
        val elapsed = now() - t0
        if (traced) elapsed < seconds || timedPasses % 4 != 0
        else elapsed < seconds ||
          (cleanTime < seconds && now() - jvmStart + times.last <= deadline)
      }
      while (more && goOn)
        run(times.length, tracedPass = traced && Set(1, 2)(timedPasses % 4))
      out("timed", "t0" -> t0, "t1" -> now(), "first_pass" -> steady,
        "passes" -> timedPasses, "pass_s" -> times.drop(steady).toSeq,
        "steal" -> steals.drop(steady).toSeq, "rss_peak_kb" -> rssPeakKb())
    }
  }

  // ---------- card workloads ----------

  final class Cards(ctx: Ctx) {
    import ctx._
    private val cards: Seq[String] = plan("cards").split(',').toSeq
    private val all = graft.SparkEntry.queries
    private var opN = 0

    /** One card: construct, plan, exec — each its own span. */
    private def card(name: String, phase: String, pass: Int,
        action: DataFrame => Unit): Boolean = {
      Caches.unpersistAll(blocking = true)
      opN += 1
      val id = s"o$opN"
      val ok = op(id, name, "card", phase, pass) {
        val df = span(s"$id.c", id, id, "construct")(all(name)(spark, dir))
        span(s"$id.p", id, id, "plan")(df.queryExecution.executedPlan)
        span(s"$id.e", id, id, "exec")(action(df))
      }
      cacheState(id) // what the op left cached, before the next release
      ok
    }

    private val count: DataFrame => Unit = df => df.queryExecution.toRdd.count(): Unit

    def run(): Unit = {
      val missing = cards.filterNot(all.contains)
      require(missing.isEmpty, s"unknown cards: ${missing.mkString(", ")}")
      val noOracle = cards.filterNot(graft.SparkEntry.oracleSql.contains)
      require(noOracle.isEmpty, s"cards without oracle SQL: ${noOracle.mkString(", ")}")
      loop(more = true) { k =>
        if (k == 0) {
          // the cold pass doubles as the correctness pass: every
          // card's full result is written once for run.py to check
          cards.foreach { c =>
            card(c, "check", k, df =>
              df.write.mode("overwrite").parquet(
                new File(outDir, s"results/$c").toString))
          }
          // any artifact a card trained is trained by now
          out("artifacts", "disk_b" -> Fs.size(Fs.artifacts))
        } else plan.passes((k - 1) % plan.passes.length).foreach(card(_, "run", k, count))
      }
    }
  }

  // ---------- lifecycle workload ----------

  final class Lifecycle(ctx: Ctx) {
    import ctx._
    private val Array(shingleN, numHashes, rowsPerBand, cap) =
      plan("store").split("\\s+").map(_.toInt)
    private val k = plan.int("cycle_epochs")
    private val docs = graft.Tables.documents(spark, dir)
    private var root: String = _
    private var live: Set[Long] = Set.empty
    private var files: Map[String, Long] = Map.empty
    private var opN = 0
    private var epochIx = 0

    private def byIds(ids: Seq[Long]): DataFrame =
      docs.filter(col("doc_id").isin(ids: _*))

    /** Bytes of files that appeared or changed under the store root
      * since the last call. */
    private def newBytes(): Long = {
      val now = Fs.files(new File(root))
      val written = now.iterator.collect {
        case (p, n) if !files.get(p).contains(n) => n
      }.sum
      files = now
      written
    }

    private def storeOp(name: String, pass: Int, epoch: Int = -1)(
        body: String => Unit): String = {
      Caches.unpersistAll(blocking = true)
      opN += 1
      val id = s"o$opN"
      val depth = chainDepth()
      val ok = op(id, name, name, "run", pass)(body(id))
      cacheState(id)
      out("store_op", "op" -> id, "written_b" -> newBytes(),
        "epoch" -> epoch, "depth" -> depth, "ok" -> ok)
      id
    }

    private def chainDepth(): Int = {
      val wm = SigStore.readPointer(root).watermark
      SigStore.epochs(root).count(_ > wm)
    }

    /** One epoch: erases, then q194's screen of the arriving batch
      * against the served store (read through the erase fold), then
      * the batch is folded in. */
    private def epoch(e: Epoch, pass: Int): Unit = {
      storeOp("erase", pass) { _ =>
        SigStore.appendErases(byIds(e.erase).select(col("doc_id")), root): Unit
      }
      live --= e.erase
      var counts = Array.empty[(Long, Long)]
      val id = storeOp("probe", pass) { id => counts = probe(id, e.arrive) }
      // checked in run.py against candidate counts computed outside Spark
      out("probe_check", "op" -> id, "epoch" -> epochIx,
        "counts" -> counts.map { case (d, n) => Seq(d, n) }.toSeq)
      storeOp("append", pass, epochIx) { _ =>
        SigStore.appendArrivals(byIds(e.arrive), "doc_id", "text", root): Unit
      }
      live ++= e.arrive
    }

    /** The q194 read path: shingle and band the arriving documents,
      * join on (band_id, band_key) against the served bands, and count
      * each arrival's distinct candidates (zero for a clean arrival). */
    private def probe(id: String, ids: Seq[Long]): Array[(Long, Long)] = {
      val df = span(s"$id.c", id, id, "construct") {
        val arrivals = byIds(ids)
        val bands = MinHashLSH.bandIndexFromSets(
          MinHashLSH.shingleSets(arrivals, "doc_id", "text", shingleN),
          numHashes, rowsPerBand)
        val served = SigStore.serve(spark, root).bands
          .select(col("doc_id").as("corpus_doc"), col("band_id"), col("band_key"))
        val counts = bands.join(served, Seq("band_id", "band_key"))
          .groupBy(col("doc_id"))
          .agg(countDistinct(col("corpus_doc")).as("n_candidates"))
        arrivals.select(col("doc_id")).join(counts, Seq("doc_id"), "left")
          .select(col("doc_id"), coalesce(col("n_candidates"), lit(0L)))
      }
      span(s"$id.p", id, id, "plan")(df.queryExecution.executedPlan)
      span(s"$id.e", id, id, "exec")(df.collect()).map(r => (r.getLong(0), r.getLong(1)))
    }

    /** One pass: `cycle_epochs` epochs, then compact and vacuum. */
    private def cycle(pass: Int): Unit = {
      var n = 0
      while (n < k && epochIx < plan.epochs.length) {
        epoch(plan.epochs(epochIx), pass)
        epochIx += 1
        n += 1
      }
      storeOp("compact", pass) { _ => SigStore.compact(spark, root): Unit }
      storeOp("vacuum", pass) { _ => SigStore.vacuum(root) }
    }

    def run(): Unit = {
      val base = plan.ids("base")
      // the base store is a trained artifact, published the way the
      // q315 card publishes its chain: through Artifacts.ensure
      val t0 = now()
      root = graft.llm.Artifacts.ensure(dir,
          s"perfbench-store-$shingleN-$numHashes-$rowsPerBand-$cap") { p =>
        SigStore.init(byIds(base), "doc_id", "text", p + "/store", shingleN,
          numHashes, rowsPerBand, cap)
      } + "/store"
      val t1 = now()
      live = base.toSet
      out("store_init", "t0" -> t0, "t1" -> t1, "written_b" -> newBytes())
      out("artifacts", "disk_b" -> Fs.size(Fs.artifacts))
      loop(more = epochIx < plan.epochs.length)(cycle)
      // the state the run leaves: compacted and vacuumed, its on-disk
      // size against the live text it serves
      SigStore.compact(spark, root)
      SigStore.vacuum(root)
      out("store_final", "disk_b" -> Fs.size(new File(root)),
        "live_docs" -> live.size, "epochs" -> epochIx)
      check()
    }

    /** fold ≡ rebuild (the q315 check): the served index equals a
      * signature index rebuilt over the live documents. */
    private def check(): Unit = {
      val served = SigStore.serve(spark, root)
      val rebuilt = MinHashLSH.signatureIndex(byIds(live.toSeq), "doc_id",
        "text", shingleN, numHashes, rowsPerBand, cap)
      // rows whose multiplicity differs between the two sides
      def diff(a: DataFrame, b: DataFrame): Long = {
        val cols = a.columns.sorted.map(col).toSeq
        a.select(cols :+ lit(1).as("__side"): _*)
          .unionByName(b.select(cols :+ lit(-1).as("__side"): _*))
          .groupBy(cols: _*).agg(sum(col("__side")).as("__n"))
          .filter(col("__n") =!= 0).count()
      }
      val frames = Seq("bands" -> diff(served.bands, rebuilt.bands),
        "counts" -> diff(served.counts, rebuilt.counts),
        "sets" -> diff(served.sets, rebuilt.sets)) ++
        (for (a <- served.evicted; b <- rebuilt.evicted)
          yield "evicted" -> diff(a, b))
      out("store_check", "diff_rows" -> frames.map(_._2).sum,
        "frames" -> frames.map(_._1), "ok" -> frames.forall(_._2 == 0L))
    }
  }

  // ---------- small helpers ----------

  object Fs {
    /** The artifact catalog `Artifacts.ensure` trains into. */
    def artifacts: File = new File(sys.props("java.io.tmpdir"), "graft-artifacts")
    def files(root: File): Map[String, Long] = {
      val b = Map.newBuilder[String, Long]
      def walk(f: File): Unit =
        if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(walk)
        else if (f.isFile) b += f.getPath -> f.length()
      walk(root)
      b.result()
    }
    def size(root: File): Long = files(root).valuesIterator.sum
  }

  object Json {
    def str(s: String): String = {
      val b = new StringBuilder("\"")
      s.foreach {
        case '"' => b ++= "\\\""
        case '\\' => b ++= "\\\\"
        case '\n' => b ++= "\\n"
        case '\r' => b ++= "\\r"
        case '\t' => b ++= "\\t"
        case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
        case c => b += c
      }
      (b += '"').toString
    }
    def value(v: Any): String = v match {
      case null | None => "null"
      case Some(x) => value(x)
      case s: String => str(s)
      case b: Boolean => b.toString
      case d: Double =>
        if (d.isNaN || d.isInfinite) "null"
        else java.math.BigDecimal.valueOf(d).toPlainString
      case n: Int => n.toString
      case n: Long => n.toString
      case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
      case other => str(other.toString)
    }
    def obj(fields: Seq[(String, Any)]): String =
      fields.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
  }
}

/** Prints the DuckDB oracle SQL of the named cards as one JSON object:
  * `perfbench.OracleSql q3_nation_revenue,q14_geom_type`. */
object OracleSql {
  def main(args: Array[String]): Unit = {
    val sql = graft.SparkEntry.oracleSql
    val names = args.headOption.map(_.split(',').toSeq).getOrElse(sql.keys.toSeq.sorted)
    println(Harness.Json.obj(names.map(n => n -> sql.get(n).orNull)))
  }
}
