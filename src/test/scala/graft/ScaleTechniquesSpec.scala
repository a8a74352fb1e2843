package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.Skew

/** Scale techniques: salted skew joins and bucketed co-located joins —
  * correctness plus the plan-shape property each exists for. */
class ScaleTechniquesSpec extends AnyFunSuite with SparkTestSession {

  test("saltedEquiJoin: same result as the plain join, any salt factor") {
    import spark.implicits._
    // heavy hitter: 90% of big rows share key 1
    val big = (1 to 1000).map(i => (if (i <= 900) 1L else i.toLong, i)).toDF("k", "v")
    val small = Seq((1L, "hot"), (950L, "cold"), (2000L, "miss")).toDF("k", "name")
    val plain = big.join(small, Seq("k")).agg(count(lit(1)), sum("v")).collect()(0)
    Seq(1, 4, 16).foreach { factor =>
      val salted = Skew.saltedEquiJoin(big, small, Seq("k"), factor)
        .agg(count(lit(1)), sum("v")).collect()(0)
      assert(salted == plain, s"saltFactor $factor")
    }
    // left join: unmatched big rows survive exactly once
    val left = Skew.saltedEquiJoin(big, small, Seq("k"), 8, joinType = "left")
    assert(left.count() == 1000)
    // small-side-preserving joins are rejected (rows would duplicate)
    intercept[IllegalArgumentException] {
      Skew.saltedEquiJoin(big, small, Seq("k"), 8, joinType = "right")
    }
  }

  test("saltedEquiJoin distributes a hot key across partitions") {
    import spark.implicits._
    val big = (1 to 1000).map(i => (1L, i)).toDF("k", "v") // one key only
    val small = Seq((1L, "hot")).toDF("k", "name")
    val salted = Skew.saltedEquiJoin(big, small, Seq("k"), saltFactor = 8)
    // the join key now includes the salt: rows of key 1 hash to
    // multiple shuffle partitions instead of one
    val parts = big.withColumn("__salt",
        pmod(xxhash64(big.columns.map(big(_)): _*), lit(8)))
      .select(countDistinct("__salt")).collect()(0).getLong(0)
    assert(parts > 1)
    assert(salted.count() == 1000)
  }

  test("bucketed tables join without an exchange (co-located join)") {
    import spark.implicits._
    spark.sql("CREATE SCHEMA IF NOT EXISTS graft_buckets")
    val left = (1 to 500).map(i => (i.toLong, s"l$i")).toDF("id", "lv")
    val right = (1 to 500).map(i => (i.toLong, s"r$i")).toDF("id", "rv")
    left.write.mode("overwrite").bucketBy(4, "id").sortBy("id")
      .saveAsTable("graft_buckets.left_b")
    right.write.mode("overwrite").bucketBy(4, "id").sortBy("id")
      .saveAsTable("graft_buckets.right_b")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false") // stable plan text
      try {
        val joined = spark.table("graft_buckets.left_b")
          .join(spark.table("graft_buckets.right_b"), "id")
        val plan = joined.queryExecution.executedPlan.toString
        assert(plan.contains("SortMergeJoin"))
        assert(!plan.contains("Exchange hashpartitioning"),
          s"bucketed join must not shuffle:\n$plan")
        assert(joined.count() == 500)
      } finally {
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.unset("spark.sql.adaptive.enabled")
      }
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_buckets.left_b")
      spark.sql("DROP TABLE IF EXISTS graft_buckets.right_b")
      spark.sql("DROP SCHEMA IF EXISTS graft_buckets")
    }
  }

  test("partitioned parquet write enables partition pruning on read") {
    val dir = java.nio.file.Files.createTempDirectory("graft-part").toString
    graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .write.mode("overwrite").partitionBy("lang").parquet(dir)
    // hive-style layout: one directory per language
    val langDirs = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("lang=")).map(_.getName).toSet
    assert(langDirs.size >= 2, s"expected lang= partition dirs, got $langDirs")
    val q = spark.read.parquet(dir).filter(col("lang") === "en")
      .select(col("doc_id"))
    val plan = q.queryExecution.executedPlan.toString
    // the lang filter must prune DIRECTORIES (PartitionFilters), not
    // run as a data filter over all rows
    assert("PartitionFilters: \\[[^\\]]*lang[^\\]]*\\]".r.findFirstIn(plan).isDefined,
      s"lang filter did not reach PartitionFilters:\n${plan.take(1500)}")
    val full = spark.read.parquet(dir).count()
    val en = q.count()
    assert(en > 0 && en < full)
  }

  test("dynamic partition pruning: a filtered dim prunes the fact's " +
      "partitions at RUNTIME") {
    // the static test above prunes on a literal; DPP is the 100 TB
    // star-join workhorse — the dim filter's surviving keys prune the
    // fact scan through a runtime subquery, so a partitioned fact
    // joined to a selective dim reads 2 directories, not 20
    val dir = java.nio.file.Files.createTempDirectory("graft-dpp").toString
    import spark.implicits._
    (0 until 20).flatMap(k => (0 until 50).map(i =>
      (k, k.toLong * 1000 + i)))
      .toDF("k", "v").write.mode("overwrite").partitionBy("k")
      .parquet(dir + "/fact")
    // the filtering side must itself be a SCAN with a selective
    // predicate — a LocalRelation never triggers the rule, which is
    // exactly the production shape anyway (dims live in files)
    (0 until 20).map(k => (k, if (k < 2) "keep" else "drop"))
      .toDF("k", "tag").write.mode("overwrite").parquet(dir + "/dim")
    val q = spark.read.parquet(dir + "/fact")
      .join(spark.read.parquet(dir + "/dim")
        .filter(col("tag") === "keep"), "k")
      .groupBy(col("k")).agg(count(lit(1)).as("n"))
    val plan = q.queryExecution.executedPlan.toString.toLowerCase
    assert(plan.contains("dynamicpruning"),
      s"no DynamicPruningExpression in the fact scan:\n${plan.take(1500)}")
    val got = q.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(got === Map(0 -> 50L, 1 -> 50L))
  }

  test("filters and projection pushdown reach the parquet scan") {
    val plan = SparkEntry.queries("q6_filtered_revenue")(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [") && !plan.contains("PushedFilters: []"),
      s"no pushed filters in q6 scan:\n${plan.take(2000)}")
    // column pruning: the lineitem scan must not read all 11 columns
    val readSchema = "ReadSchema: struct<([^>]*)>".r
      .findFirstMatchIn(plan).map(_.group(1)).getOrElse("")
    assert(readSchema.nonEmpty && readSchema.split(",").length <= 5,
      s"scan reads more columns than the query needs: $readSchema")
  }

  test("q178's URL canonicalization is pure codegen — no UDF in the plan") {
    // the key derivation must run at scan speed: regexp + higher-order
    // array ops only, never a ScalaUDF (which would break whole-stage
    // codegen on the hottest projection of the web-dedup path)
    val plan = SparkEntry.queries("q178_url_dedup_key")(
      spark, "/root/testdata/sf0.001").queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF") && !plan.contains("BatchEvalPython"),
      s"UDF leaked into the URL-key plan:\n${plan.take(1500)}")
  }

  test("q183's label exclusion adds no exchange over q23's top-k plan") {
    def exchanges(name: String): Int =
      "Exchange".r.findAllIn(SparkEntry.queries(name)(
        spark, "/root/testdata/sf0.001").queryExecution.executedPlan.toString).length
    // hard negatives = q23's broadcast + two-level selection with a
    // filter INSIDE the scored stage — same shuffle budget exactly
    assert(exchanges("q183_hard_negatives") == exchanges("q23_embed_topk"),
      "the cross-label filter must ride the existing stages")
  }

  test("q201's mined-span join broadcasts the span set, never the corpus stream") {
    // the positional gram stream is corpus×positions — it must meet
    // the ≤ topK mined spans via a broadcast hash join, and no
    // cartesian/nested-loop join may appear anywhere in the card
    val plan = SparkEntry.queries("q201_boilerplate_strip")(
      spark, "/root/testdata/sf0.001").queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"mined spans must broadcast:\n${plan.take(1500)}")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "no unkeyed join may touch the positional stream")
  }

  test("q195's corpus-side scoring joins vocab once — no per-class corpus blowup") {
    // the winner table collapses the per-class dimension BEFORE the
    // corpus join: the eval token stream must never cross-join the
    // class list (the naive NB plan), and the classifier adds no
    // cartesian anywhere
    val plan = SparkEntry.queries("q195_nb_classifier")(
      spark, "/root/testdata/sf0.001").queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"corpus×classes cartesian leaked into the scoring plan:\n${plan.take(1500)}")
  }

  test("q203's impute path stays a bucket equi-join between the splits") {
    val plan = SparkEntry.queries("q203_knn_impute")(
      spark, "/root/testdata/sf0.001").queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"test×train must meet on the bucket key only:\n${plan.take(1500)}")
  }

  test("q228's Q20 shape: one lineitem scan, window threshold, true semi-joins") {
    // the classic rewrites Q20 into a correlated subquery (second
    // lineitem scan per row) or a fact self-join; the shape here must
    // stay: ONE lineitem scan feeding a window over the (part,
    // supplier) aggregate, the part screen and the supplier screen as
    // genuine LeftSemi joins, no cartesian anywhere
    val q = SparkEntry.queries("q228_dominant_supplier")(
      spark, "/root/testdata/sf0.001")
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"Q20 shape must carry only equi-joins:\n${plan.take(1500)}")
    assert(plan.contains("LeftSemi"),
      s"the part/supplier screens must stay semi-joins:\n${plan.take(1500)}")
    val scans = graft.PlanNodes.all(q.queryExecution.executedPlan)
      .count(n => n.nodeName.contains("Scan") && n.toString.contains("lineitem"))
    assert(scans === 1, s"exactly one lineitem scan, found $scans")
  }

  test("GraftExtensions installs native functions via spark.sql.extensions") {
    // newSession(): empty per-session function registry (no UDFs
    // registered by other specs) but the app-level extensions apply —
    // so resolving these names proves the extensions path works
    val fresh = spark.newSession()
    val r = fresh.sql(
      "SELECT dot_fp(array(CAST(1.0 AS FLOAT)), array(CAST(2.0 AS FLOAT)))")
    assert(r.collect()(0).getLong(0) == 2000000L)
    val t = fresh.sql(
      "SELECT get_wkb_geom_type(unhex('010100000000000000000024400000000000003440'))")
    assert(t.collect()(0).getString(0) == "Point")
    assert(fresh.sql("SELECT size(minhash_sigs(array(1L), 4))")
      .collect()(0).getInt(0) == 4)
    assert(fresh.sql("SELECT inter_count(array(1L, 2L), array(2L, 3L))")
      .collect()(0).getInt(0) == 1)
    assert(fresh.sql("SELECT size(shingle_bases('a b c d', 3))")
      .collect()(0).getInt(0) == 2)
    // zero vector projects to 0 on every plane → bucket 0; wrong dim → 0
    assert(fresh.sql("SELECT lsh_bucket(array(CAST(0.0 AS FLOAT)), 1)")
      .collect()(0).getLong(0) == 0L)
    // bit i set iff embedding[i] > 0
    assert(fresh.sql(
      "SELECT sign_word(array(CAST(1.0 AS FLOAT), CAST(-1.0 AS FLOAT), CAST(2.0 AS FLOAT)), 3)")
      .collect()(0).getLong(0) == 5L)
    // full-width A folds to ASCII under NFKC
    assert(fresh.sql("SELECT normalize_unicode('Ａ', 'NFKC')")
      .collect()(0).getString(0) == "A")
    // empty text has no cut points, with or without a divisor
    assert(fresh.sql("SELECT size(cdc_cuts('')), size(cdc_cuts('', 64L))")
      .collect()(0).toSeq == Seq(0, 0))
    // while a UDF-backed function is absent until registerAll is called
    intercept[Exception] {
      fresh.sql("SELECT curved_to_linear_wkb(unhex('01'), 5.0D)").collect()
    }
    // ...and the one-call facade brings the full surface in
    Graft.registerAll(fresh)
    val fns = fresh.catalog.listFunctions().collect().map(_.name).toSet
    Seq("get_wkb_geom_type", "curved_to_linear_wkb", "generate_contours_udf",
      "simhash64", "hamming64", "doc_fingerprints", "dot_fp", "minhash_sigs",
      "shingle_bases", "inter_count", "lsh_bucket", "sign_word",
      "normalize_unicode", "cdc_cuts").foreach { f =>
      assert(fns.contains(f), s"$f missing after Graft.registerAll")
    }
  }

  test("round-15 operators: no cartesian anywhere; q272's corpus side is never re-tokenized") {
    // q272 (fuzzy admission), q273 (ccDelta card), q275 (shard
    // mixture), q276 (graph expand), q277 (b-bit) — each must meet
    // its partners on real equi-join keys; one-row/k-row frames may
    // broadcast but nothing may degenerate to CartesianProduct
    Seq("q272_fuzzy_admission", "q275_shard_mixture",
        "q276_graph_expand", "q277_bbit_minhash",
        "q280_index_delta", "q281_importance_select",
        "q285_mixture_drift", "q286_review_queue",
        "q287_char_collision", "q288_paired_bootstrap",
        "q289_drift_monitor", "q290_sentence_stats",
        "q291_proximity_search", "q292_gate_disparity").foreach { q =>
      val plan = SparkEntry.queries(q)(spark, "/root/testdata/sf0.001")
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"$q plan degenerated to a cartesian:\n${plan.take(1200)}")
    }
    // the whole point of the shipped index: an admission batch scans
    // documents for the ARRIVAL side only (exactly the fixture's
    // three planted slices) — the corpus side reads the saved bands
    // and sets index frames, never documents.parquet
    val q272 = SparkEntry.queries("q272_fuzzy_admission")(
      spark, "/root/testdata/sf0.001")
    val scans = graft.PlanNodes.all(q272.queryExecution.executedPlan)
      .filter(_.nodeName.contains("Scan")).map(_.toString)
    val docScans = scans.count(_.contains("documents.parquet"))
    assert(docScans == 3,
      s"q272 must scan documents only for the 3 arrival slices, found $docScans")
    // scan-node toString truncates long artifact paths, so count the
    // non-documents parquet scans instead: exactly the two shipped
    // index frames (bands + sets)
    val artifactScans = scans.count(s =>
      s.contains("Scan parquet") && !s.contains("documents.parquet"))
    assert(artifactScans == 2,
      s"q272's corpus side must read exactly the bands+sets artifacts, " +
        s"found $artifactScans non-documents scans")
  }

  test("q280's fold side reads the shipped index — documents scans are " +
      "arrival-slice + rebuild-arm only") {
    val q280 = SparkEntry.queries("q280_index_delta")(
      spark, "/root/testdata/sf0.001")
    // distinct: AQE lists a reused exchange's scan once per subtree
    val scans = graft.PlanNodes.all(q280.queryExecution.executedPlan)
      .filter(_.nodeName.contains("Scan")).map(_.toString).distinct
    // every documents scan except the rebuild TRUTH arm must carry
    // the arrival-slice filter — the fold side never re-reads the
    // corpus rows (its corpus state is the shipped artifact)
    val docScans = scans.filter(_.contains("documents.parquet"))
    val unfiltered = docScans.count(!_.contains("pmod(doc_id"))
    assert(unfiltered == 1,
      s"q280 fold must not re-band the corpus: only the rebuild arm " +
        s"may scan documents unfiltered, found $unfiltered of " +
        s"${docScans.size}")
    // the fold's corpus side: exactly the shipped bands + counts
    // frames (the sets frame is maintained but not consumed by this
    // card's output, so column pruning drops its scan entirely)
    val artifactScans = scans.count(s =>
      s.contains("Scan parquet") && !s.contains("documents.parquet"))
    assert(artifactScans == 2,
      s"q280's corpus side must read exactly the bands+counts " +
        s"artifacts, found $artifactScans non-documents scans")
  }

  test("q281's top-K is TakeOrderedAndProject — no global sort, no window") {
    val plan = graft.PlanNodes.all(
      SparkEntry.queries("q281_importance_select")(
        spark, "/root/testdata/sf0.001").queryExecution.executedPlan)
    assert(plan.exists(_.nodeName.contains("TakeOrderedAndProject")),
      "selection must be a bounded top-K, not a global sort+limit")
    assert(!plan.exists(_.nodeName.contains("Window")),
      "no window anywhere in the selection path")
  }

  test("round-16 operators: no cartesian; the erase/bbit folds read " +
      "shipped artifacts, never re-tokenized corpus") {
    // q294 (index erase), q295 (family erases), q296/q297 (ANN
    // maintenance), q298 (bbit gate) — none may degenerate to a
    // cartesian (q278's truth arm stays the board's one deliberate
    // cross join, exempt by name as before)
    Seq("q294_index_erase", "q295_erase_apply", "q296_ivf_delta",
        "q297_graph_delta", "q298_bbit_admission").foreach { q =>
      val plan = SparkEntry.queries(q)(spark, "/root/testdata/sf0.001")
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"$q plan degenerated to a cartesian:\n${plan.take(1200)}")
    }
    // q294: the erase FOLD's corpus state is the shipped artifact —
    // every documents scan in the card is slice-filtered (the erase
    // ids and the rebuild TRUTH arm); zero unfiltered corpus reads,
    // and the fold consumes all three shipped frames (bands for the
    // survivors, counts for the cap arbitration, sets for the erase
    // re-band + resurrection)
    val q294 = SparkEntry.queries("q294_index_erase")(
      spark, "/root/testdata/sf0.001")
    val scans294 = graft.PlanNodes.all(q294.queryExecution.executedPlan)
      .filter(_.nodeName.contains("Scan")).map(_.toString).distinct
    val doc294 = scans294.filter(_.contains("documents.parquet"))
    assert(doc294.nonEmpty && doc294.forall(_.contains("pmod(doc_id")),
      s"q294 must never scan the corpus unfiltered — the fold's corpus " +
        s"state is the shipped artifact:\n${doc294.mkString("\n").take(800)}")
    // 4 scan NODES over the 3 shipped frames: sets is consumed by two
    // branches (the erase-side semi-join and the survivor anti-join),
    // whose differing pushed filters make two distinct scan nodes
    val art294 = scans294.count(s =>
      s.contains("Scan parquet") && !s.contains("documents.parquet"))
    assert(art294 == 4,
      s"q294's fold must read exactly the bands+counts+sets artifacts " +
        s"(sets twice), found $art294 non-documents scans")
    // q298: the q272 discipline with the packed words added — the
    // corpus side reads exactly the three shipped frames, documents
    // scans exist only for the three arrival slices
    val q298 = SparkEntry.queries("q298_bbit_admission")(
      spark, "/root/testdata/sf0.001")
    val scans298 = graft.PlanNodes.all(q298.queryExecution.executedPlan)
      .filter(_.nodeName.contains("Scan")).map(_.toString)
    assert(scans298.count(_.contains("documents.parquet")) == 3,
      "q298 must scan documents only for the 3 arrival slices")
    assert(scans298.count(s =>
        s.contains("Scan parquet") && !s.contains("documents.parquet")) == 3,
      "q298's corpus side must read exactly bands+words+sets")
  }

  test("q265's windows all run over pre-aggregated frames, never corpus rows") {
    // the exact-percentile arm must use the Robust.cutoffsFp spelling:
    // groupBy(value).count FIRST, then one cumulative window over the
    // distinct-value frame. A Window whose subtree has no aggregate
    // would be sorting corpus rows in one task — the exact plan shape
    // this repo's 100 TB rule forbids
    val q = SparkEntry.queries("q265_hist_rollup")(
      spark, "/root/testdata/sf0.001")
    val nodes = graft.PlanNodes.all(q.queryExecution.executedPlan)
    val windows = nodes.filter(_.nodeName.contains("Window"))
    assert(windows.nonEmpty, "q265 should still carry cumulative windows")
    // recurse through AQE wrappers AND cached frames: a persistTracked
    // aggregate shows up as an InMemoryTableScan leaf whose aggregate
    // lives in the relation's cachedPlan
    def descendants(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] = {
      val below = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          Seq(a.executedPlan)
        case im: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
          Seq(im.relation.cachedPlan)
        case other => other.children
      }
      below.flatMap(c => c +: descendants(c))
    }
    windows.foreach { w =>
      assert(descendants(w).exists(_.nodeName.contains("Aggregate")),
        s"Window over a non-aggregated (corpus-sized) frame:\n${w.toString.take(800)}")
    }
    // and the old single-task spelling is gone for good
    assert(!q.queryExecution.executedPlan.toString.contains("row_number"),
      "q265 must not rank corpus rows")
  }

  test("q305's prediction is the exact join cardinality, not an estimate") {
    val dir = "/root/testdata/sf0.001"
    val card = SparkEntry.queries("q305_join_preflight")(spark, dir)
      .collect().map(r => r.getString(0) -> r.getAs[Long]("predicted_rows"))
      .toMap
    val li = graft.Tables.lineitem(spark, dir)
    val actualLo = li.join(graft.Tables.orders(spark, dir),
      li("l_orderkey") === col("o_orderkey")).count()
    assert(card("lineitem_orders_on_orderkey") === actualLo,
      "Σ cA·cB must equal the materialized inner-join row count")
    val a = li.select(col("l_partkey").as("k"))
    val actualSelf = a.join(a.withColumnRenamed("k", "k2"),
      col("k") === col("k2")).count()
    assert(card("lineitem_self_on_partkey") === actualSelf,
      "the self-join blowup prediction must equal Σ c(k)² exactly")
  }

  test("q302/q303: no cartesian blowup; the kappa monitor is ONE " +
      "aggregation pass (its streaming-legality witness)") {
    // q302's kappa is two stacked aggregates with no join of its own;
    // any cross join left in either plan (the NB labeler's one-row
    // default verdict) must join bounded frames. The q278 exemption
    // does not apply here, so check row bounds instead: every
    // CartesianProduct/BroadcastNestedLoop in the plan must sit above
    // an Aggregate on BOTH sides, i.e. join inputs are aggregated
    // cards, never corpus rows
    def descendants(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] = {
      val below = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          Seq(a.executedPlan)
        case im: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
          Seq(im.relation.cachedPlan)
        case other => other.children
      }
      below.flatMap(c => c +: descendants(c))
    }
    Seq("q302_annotator_kappa", "q303_kappa_monitor").foreach { name =>
      val plan = SparkEntry.queries(name)(spark, "/root/testdata/sf0.001")
        .queryExecution.executedPlan
      graft.PlanNodes.all(plan)
        .filter(n => n.nodeName.contains("CartesianProduct") ||
          n.nodeName.contains("BroadcastNestedLoop"))
        .foreach { j =>
          j.children.foreach { side =>
            val sub = side +: descendants(side)
            // bounded = an aggregated card, or the literal one-row
            // Range the NB default-verdict spelling joins from
            val bounded = sub.exists(_.nodeName.contains("Aggregate")) ||
              sub.exists(_.toString.startsWith("Range (0, 1"))
            assert(bounded,
              s"$name: unbounded join side (corpus-sized cross join):\n" +
                j.toString.take(800))
          }
        }
    }
    // q303 (the ingest spelling): downstream of the labeler chain the
    // whole kappa card is ONE global aggregate — no Window, no second
    // grouped aggregation above it. The labeler chain itself carries
    // the NB vote aggregates; the witness is that the card adds
    // exactly one more (the global, grouping-key-free one), which is
    // what lets kappaPivot run on a live feed.
    val q303 = SparkEntry.queries("q303_kappa_monitor")(
      spark, "/root/testdata/sf0.001")
    val nodes303 = graft.PlanNodes.all(q303.queryExecution.executedPlan)
    assert(!nodes303.exists(_.nodeName.contains("Window")),
      "q303 must carry no window anywhere")
    // the same pivot function must pass Spark's own streaming planner:
    // UnsupportedOperationChecker rejects aggregate-of-aggregate, so
    // analyzing it over a streaming source IS the legality proof
    val streamIn = spark.readStream.format("rate").load()
      .selectExpr("cast(value % 3 as string) as lab_a",
        "cast(value % 5 as string) as lab_b")
    val q = graft.llm.LabelQa.kappaPivot(
        streamIn, "lab_a", "lab_b", Seq("0", "1", "2"))
      .writeStream.format("memory").queryName("kappa_legality")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
  }
}
