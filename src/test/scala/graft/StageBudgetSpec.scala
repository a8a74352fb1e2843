package graft

import org.scalatest.funsuite.AnyFunSuite

/** Stage-count budgets for the iterative/multi-stage query class
  * (r15 ask #6): the driver-box vs builder-box bench spread
  * concentrates in queries whose cost is SCHEDULING (many small jobs/
  * stages), so a silent plan change that adds rounds or breaks a
  * broadcast shows up as wall-clock noise instead of a diff. Pinning
  * each query's job/stage counts turns scheduler-overhead drift into
  * a test failure with a number attached.
  *
  * Budgets are measured at sf0.001 with ~30% headroom — they are
  * UPPER bounds on scheduling volume, not exact pins (AQE may merge a
  * stage), so a pass after legitimate optimization is expected and a
  * breach means rounds/exchanges grew. Caches and the training memo
  * are dropped before each query so every run prices the full
  * pipeline.
  */
class StageBudgetSpec extends AnyFunSuite with SparkTestSession {

  private val Dir = "/root/testdata/sf0.001"

  /** Budgets: (maxJobs, maxStages) at ceil(1.3 × the count) a warm
    * iteration of one `graft.Bench` run at sf0.001 recorded (counted by
    * `JobCounter` as this spec counts). AQE submits each shuffle stage
    * as its own job, so jobs ≈ stages here. Measured jobs/stages: q134
    * 12, q87 18, q100 23, q170 45, q172 22, q283 2, q124 12, q125 8,
    * q209 13, q220 29, q295 29, q302 15, q308 19, q309 20, q310 36 (35
    * on some runs), q311 12, q312 3, q313 17, q314 20, q269 23/33, q288
    * 22, q315 4, q316 27, q317 19, q318 17. The budget lives in the
    * failure message, not the test name, so moving it renames nothing.
    * Budgets only go down. */
  private val budgets = Seq(
    "q134_assoc_rules" -> (16, 16),
    "q87_pagerank" -> (24, 24),
    "q100_triangles" -> (30, 30),
    "q170_hits" -> (59, 59),
    "q172_seeded_pagerank" -> (29, 29),
    "q283_bootstrap_ci" -> (3, 3),
    // the cards whose bench times spread most between boxes
    "q124_itemsets" -> (16, 16),
    "q125_ivf_balance" -> (11, 11),
    "q209_nb_calibration" -> (17, 17),
    "q220_overlap_estimate" -> (38, 38),
    "q295_erase_apply" -> (38, 38),
    // the labeler and sweep cards (q310 runs one scan + count +
    // coverage chain per gramN of its three-gramN grid)
    "q302_annotator_kappa" -> (20, 20),
    "q308_fleiss_kappa" -> (25, 25),
    "q309_kappa_matrix" -> (26, 26),
    "q310_span_sweep" -> (47, 47),
    "q311_bbit_screen_sweep" -> (16, 16),
    "q312_fold_debt" -> (4, 4),
    // q313 and q318 include the labelerRatings cache-fill jobs: the
    // persist saves the NB-chain replay per consumer
    "q313_fleiss_monitor" -> (23, 23),
    "q314_cap_sweep" -> (26, 26),
    // q269's first iteration reads artifacts; the budget keeps
    // scheduling growth from hiding there
    "q269_mutual_knn_loaded" -> (30, 43),
    "q288_paired_bootstrap" -> (29, 29),
    "q315_compact_serve" -> (6, 6),
    "q316_krippendorff_alpha" -> (36, 36),
    "q317_rater_accuracy" -> (25, 25),
    "q318_alpha_monitor" -> (23, 23))

  budgets.foreach { case (name, (maxJobs, maxStages)) =>
    test(s"$name stays inside its scheduling budget") {
      graft.llm.Caches.unpersistAll(blocking = true)
      // warm pass OUTSIDE the counters: artifact-backed queries
      // (q295) build their parquet artifacts on first touch — the
      // budget pins the SERVE path's scheduling, not the one-time
      // build
      SparkEntry.queries(name)(spark, Dir).queryExecution.toRdd.count(): Unit
      graft.llm.Caches.unpersistAll(blocking = true)
      val (jobs, stages) = SparkJobs.counted(spark) {
        SparkEntry.queries(name)(spark, Dir).queryExecution.toRdd.count(): Unit
      }
      info(s"$name: jobs=$jobs stages=$stages")
      assert(jobs <= maxJobs,
        s"$name submitted $jobs jobs (budget $maxJobs) — an iteration " +
          "or driver action crept into the plan")
      assert(stages <= maxStages,
        s"$name submitted $stages stages (budget $maxStages) — an " +
          "exchange or lost broadcast crept into the plan")
    }
  }

  // No exchange runs twice in the cards whose chains were rebuilt
  // around AQE's blind spot: it reuses no exchange above a persisted
  // frame's scan (DESIGN.md §6), so a second consumer of a frame built
  // on a cache re-runs its whole exchange chain and the plan shows no
  // ReusedExchange. q308's labeler stack (verdict table, class
  // constants, unseen-token default) and q172's PageRank rounds
  // (out-degree, seed flag, edge side) give every such frame one
  // consumer; DuplicateExchanges names any exchange that ran twice.
  // The Cohen cards (q302, q309, q317) read each pair frame once.
  Seq("q308_fleiss_kappa", "q172_seeded_pagerank", "q302_annotator_kappa",
    "q309_kappa_matrix", "q317_rater_accuracy").foreach { name =>
    test(s"$name runs no exchange twice") {
      graft.llm.Caches.unpersistAll(blocking = true)
      val df = SparkEntry.queries(name)(spark, Dir)
      df.queryExecution.toRdd.count(): Unit
      val dups = DuplicateExchanges(df)
      assert(dups.isEmpty, dups.map { case (n, plan) => s"x$n\n$plan" }
        .mkString("exchanges that ran more than once:\n", "\n", ""))
    }
  }

  test("DuplicateExchanges sees an exchange repeated above a persisted frame") {
    import org.apache.spark.sql.functions._
    graft.llm.Caches.unpersistAll(blocking = true)
    val cached = graft.llm.Caches.persistTracked(
      spark.range(1000).select((col("id") % 7).as("k"), col("id")))
    val agg = cached.groupBy(col("k")).agg(count(lit(1)).as("n"))
    // two consumers of one aggregate over the cache: its exchange runs
    // twice and no ReusedExchange appears
    val df = agg.as("a").join(agg.as("b"), Seq("k"))
    df.queryExecution.toRdd.count(): Unit
    assert(DuplicateExchanges(df).exists(_._1 >= 2))
    graft.llm.Caches.unpersistAll(blocking = true)
  }
}
