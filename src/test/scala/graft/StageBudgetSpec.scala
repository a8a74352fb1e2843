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

  /** Budgets: (maxJobs, maxStages), meant as ceil(1.3 × the count) a
    * warm iteration of one `graft.Bench` run at sf0.001 recorded (320
    * queries, 2 iterations, counted by `JobCounter` as this spec
    * counts). AQE submits each shuffle stage as its own job, so jobs ≈
    * stages here. Measured jobs/stages: q134 12, q87 18, q100 23,
    * q170 45, q172 22, q283 2, q124 12, q125 8, q209 13, q220 29,
    * q295 29, q308 19, q309 29, q310 36 (35 on some runs), q311 12,
    * q312 3, q313 17, q314 20, q269 23/33, q288 22, q315 4, q316 27,
    * q317 28, q318 17. A budget is part of its test's name, so
    * lowering one renames the test: the five with the most slack
    * (q283, q125, q311, q312, q315) were lowered to ceil(1.3 ×); the
    * others still carry looser budgets set before schema inference
    * stopped running jobs (ROADMAP lists their ceil(1.3 ×) values).
    * Budgets only go down. */
  private val budgets = Seq(
    "q134_assoc_rules" -> (20, 20),
    "q87_pagerank" -> (25, 25),
    "q100_triangles" -> (32, 32),
    "q170_hits" -> (60, 60),
    "q172_seeded_pagerank" -> (30, 30),
    "q283_bootstrap_ci" -> (3, 3),
    // the cards whose bench times spread most between boxes
    "q124_itemsets" -> (17, 17),
    "q125_ivf_balance" -> (11, 11),
    "q209_nb_calibration" -> (19, 19),
    "q220_overlap_estimate" -> (38, 38),
    "q295_erase_apply" -> (39, 40),
    // the labeler and sweep cards (q310 runs one scan + count +
    // coverage chain per gramN of its three-gramN grid)
    "q308_fleiss_kappa" -> (26, 26),
    "q309_kappa_matrix" -> (39, 39),
    "q310_span_sweep" -> (47, 47),
    "q311_bbit_screen_sweep" -> (16, 16),
    "q312_fold_debt" -> (4, 4),
    // q313 and q318 include the labelerRatings cache-fill jobs: the
    // persist saves the NB-chain replay per consumer
    "q313_fleiss_monitor" -> (24, 24),
    "q314_cap_sweep" -> (26, 26),
    // q269's first iteration reads artifacts; the budget keeps
    // scheduling growth from hiding there
    "q269_mutual_knn_loaded" -> (33, 46),
    "q288_paired_bootstrap" -> (30, 30),
    "q315_compact_serve" -> (6, 6),
    "q316_krippendorff_alpha" -> (37, 37),
    "q317_rater_accuracy" -> (39, 39),
    "q318_alpha_monitor" -> (24, 24))

  budgets.foreach { case (name, (maxJobs, maxStages)) =>
    test(s"$name stays inside its scheduling budget " +
        s"(jobs <= $maxJobs, stages <= $maxStages)") {
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
  Seq("q308_fleiss_kappa", "q172_seeded_pagerank").foreach { name =>
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
