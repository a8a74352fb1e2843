package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synthetic scale-stress sweep (r15 ask #4): measure how the heavy
  * operator families actually scale when the corpus grows ~10×,
  * instead of arguing it from plan reads. Max local testdata is sf0.1
  * (17 MB), so the 10× corpus is SYNTHESIZED deterministically from
  * id-shifted replicas of sf0.1 — constructed so each replica keeps
  * the original's internal structure while replicas stay DISJOINT
  * where global collisions would change the workload's shape rather
  * than its size:
  *
  *  - documents: replica r > 0 suffixes every token with `zr`
  *    (vocabulary renaming) — per-replica shingle/gram/near-dup
  *    structure is preserved exactly, and cross-replica LSH buckets
  *    cannot collide (a bare 10-way text clone would make EVERY
  *    bucket 10× denser and measure quadratic pair blowup that says
  *    "the corpus is 90% duplicates", not "the operator scales");
  *  - embeddings: replica r rotates the vector by r dimensions —
  *    norms and intra-replica geometry are untouched, and rotations
  *    of high-dimensional vectors are near-orthogonal, so cells grow
  *    in count, not density;
  *  - events/lineitem: pure id shifts (per-user / per-order structure
  *    is already local to the key).
  *
  * Per family: min-of-2 wall seconds at 1× and 10× through the
  * Bench discipline (caches dropped before every timed run,
  * `toRdd.count()` so no column prunes away), and the fitted
  * exponent log10(t10/t1). Families at sf0.1-scale carry real
  * scheduler floor (~0.3-0.5 s), which biases exponents LOW — the
  * sweep's alarm threshold is exponents >1.5 (the r15 ask), not
  * precision below 1. Emits one JSON object (committed as
  * SCALING.json).
  */
object ScalingSweep {

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "SCALING.json"
    val spark = Sessions.local()
    spark.sparkContext.setLogLevel("WARN")
    val Shift = 10000000L

    def replicate(base: DataFrame, k: Int)(mk: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until k).map(r => mk(base, r)).reduce(_ unionByName _)

    def docsAt(k: Int): DataFrame =
      replicate(Tables.documents(spark, sfDir), k) { (d, r) =>
        d.select((col("doc_id") + lit(r * Shift)).as("doc_id"),
          (if (r == 0) col("text")
           else regexp_replace(col("text"), "(\\S+)", s"$$1z$r")).as("text"),
          col("lang"), col("source"), col("n_chars"))
      }

    def embAt(k: Int): DataFrame =
      replicate(Tables.embeddings(spark, sfDir), k) { (e, r) =>
        e.select((col("vec_id") + lit(r * Shift)).as("vec_id"),
          (if (r == 0) col("embedding")
           else expr(s"concat(slice(embedding, ${r + 1}, size(embedding) - $r), " +
             s"slice(embedding, 1, $r))")).as("embedding"),
          col("label"))
      }

    def eventsAt(k: Int): DataFrame =
      replicate(Tables.events(spark, sfDir), k) { (e, r) =>
        e.select((col("event_id") + lit(r * Shift)).as("event_id"),
          unix_micros(col("ts")).as("us"),
          (col("user_id") + lit(r * Shift)).as("user_id"),
          col("event_type"))
      }

    def itemsAt(k: Int): DataFrame =
      replicate(Tables.lineitem(spark, sfDir)
          .select(col("l_orderkey"), col("l_partkey")), k) { (li, r) =>
        li.select((col("l_orderkey") + lit(r * Shift)).as("ok"),
          col("l_partkey").as("pk"))
      }

    /** Deterministic synthetic graph with k× the vertices: two pseudo
      * random out-edges per vertex — the CC/PageRank instrument
      * (their cost is vertices + edges × rounds, not text). */
    def graphAt(k: Int): (DataFrame, DataFrame) = {
      val n = 20000L * k
      val v = spark.range(n).select(col("id").as("doc_id"))
      val e = spark.range(n).select(col("id").as("doc_a"),
          pmod(col("id") * 1103515245L + 12345L, lit(n)).as("doc_b"))
        .unionByName(spark.range(n).select(col("id").as("doc_a"),
          pmod(col("id") * 69069L + 7L, lit(n)).as("doc_b")))
      (v, e)
    }

    val families: Seq[(String, Int => DataFrame)] = Seq(
      "lsh_neardup" -> { k =>
        graft.llm.MinHashLSH.nearDupPairs(docsAt(k), "doc_id", "text",
          shingleN = 3, numHashes = 8, rowsPerBand = 1,
          minJaccardFp = 300000L, maxBucketSize = 64)
      },
      "ivf_graph_ann" -> { k =>
        val e = embAt(k)
        graft.llm.IvfIndex.knnGraphWithCodebook(e,
          graft.llm.IvfIndex.fitFixedPoint(e, 16, 3), 4, 64, nAssign = 2)
      },
      "connected_components" -> { k =>
        val (v, e) = graphAt(k)
        graft.llm.Dedup.connectedComponents(v, e)
      },
      "cc_delta" -> { k =>
        val (v, e) = graphAt(k)
        val n = 20000L * k
        val isOld = (c: org.apache.spark.sql.Column) => pmod(c, lit(10L)) =!= 0L
        val existing = graft.llm.Dedup.connectedComponents(
          v.filter(isOld(col("doc_id"))),
          e.filter(isOld(col("doc_a")) && isOld(col("doc_b"))))
          .localCheckpoint() // price the FOLD, not the base clustering
        graft.llm.Dedup.ccDelta(existing,
          v.filter(!isOld(col("doc_id"))),
          e.filter(!isOld(col("doc_a")) || !isOld(col("doc_b"))))
      },
      "bm25_topk" -> { k =>
        // one query per replica, in that replica's renamed vocabulary:
        // the query workload scales WITH the corpus
        val queries = (0 until k).map { r =>
          val sfx = if (r == 0) "" else s"z$r"
          s"q$r" -> Seq(s"the$sfx", s"data$sfx", s"spark$sfx")
        }
        graft.llm.Bm25.scoreTopK(docsAt(k), "doc_id", "text", queries, 10)
      },
      "pagerank" -> { k =>
        val (_, e) = graphAt(k)
        graft.llm.LinkRank.pageRankFp(
          e.select(col("doc_a").as("src"), col("doc_b").as("dst")), 5)
      },
      "assoc_rules" -> { k =>
        // q134's shape over replicated baskets (per-order pair
        // expansion + support filter + broadcast count joins)
        val items = graft.llm.Caches.persistTracked(itemsAt(k).distinct())
        val cnt = items.groupBy(col("pk")).agg(count(lit(1)).as("c"))
        val pairs = items.select(col("ok"), col("pk").as("a"))
          .join(items.select(col("ok"), col("pk").as("b")), "ok")
          .filter(col("a") < col("b"))
          .groupBy(col("a"), col("b"))
          .agg(count(lit(1)).as("support"))
          .filter(col("support") >= 2L)
        pairs.join(broadcast(cnt.select(col("pk").as("a"), col("c").as("ca"))), "a")
          .select(col("a"), col("b"), col("support"),
            expr("cast((cast(support as decimal(38,0)) * 1000000L) div ca as bigint)")
              .as("conf_ppm"))
      },
      "containment_join" -> { k =>
        graft.llm.SparseSim.containmentPairs(docsAt(k), "doc_id", "text",
          50L, 800000L)
      },
      "cdc_chunking" -> { k =>
        graft.llm.Fingerprint.register(spark)
        graft.llm.Fingerprint.chunkCountIndex(docsAt(k), "doc_id", "text")
      },
      "nb_train" -> { k =>
        graft.llm.NbClassifier.train(docsAt(k), "text", "lang")
      },
      "funnel" -> { k =>
        graft.temporal.Funnel.reach(eventsAt(k), "user_id", "event_type",
          "us", Seq("view" -> "view", "click" -> "click",
            "purchase" -> "purchase"))
      },
      "span_removal" -> { k =>
        graft.llm.Dedup.removeDupSpans(docsAt(k), "doc_id", "text", 8, 2L)
      })

    // warmup (session/codegen startup)
    families.head._2(1).queryExecution.toRdd.count(): Unit
    graft.llm.Caches.unpersistAll(blocking = true)

    val scales = Seq(1, 10)
    val iters = sys.env.getOrElse("SPARK_GRAFT_SCALING_ITERS", "2").toInt
    /** Min wall over `iters` runs of `frame`, caches dropped before
      * each (Bench's timed action); prints it with each run's jobs. */
    def minWall(label: String)(frame: => DataFrame): Double = {
      val runs = (1 to iters).map { _ =>
        graft.llm.Caches.unpersistAll(blocking = true)
        JobCounter.counted(spark.sparkContext)(Bench.layers(frame))
      }
      val t = runs.map(_._1.wall).min
      println(s"SCALING $label: $t s, jobs ${runs.map(_._2.jobs).mkString(",")}")
      t
    }
    val famTimes = scala.collection.mutable.LinkedHashMap[(String, Int), Double]()
    for ((name, mk) <- families; k <- scales)
      famTimes((name, k)) = minWall(s"$name x$k")(mk(k))

    // ---- lifecycle folds: FIXED batch, corpus at 1× and 10× ----
    // The maintenance claims ("a fold costs work bounded by the batch,
    // never a corpus recompute") measured instead of argued from plan
    // reads: the shipped artifact is built UNTIMED at each scale and
    // localCheckpoint-pinned (standing in for a loaded parquet
    // artifact — materialized, lineage-free), then each fold runs over
    // the SAME fixed arrival/erase batch at both scales. The timed
    // region still forces the full folded artifact image (bands +
    // counts + sets / the patched edge list), which scans the loaded
    // artifact once — so scan-shaped exponents up to ~1 are expected
    // and fine (a real store appends the delta instead of rewriting);
    // what the sweep must rule out is the quadratic signature of a
    // corpus recompute hiding in a fold, so the alarm bar stays 1.5.
    val BatchShift = 1000000000L
    // 500-doc arrival batch: 250 verbatim corpus copies (ids shifted
    // into a fresh range — stresses candidate verification and the
    // cap-eviction path) + 250 vocab-renamed fresh docs. Identical at
    // both scales, so measured growth is the corpus side only.
    def docBatch(): DataFrame =
      Tables.documents(spark, sfDir).filter(col("doc_id") < 500)
        .select((col("doc_id") + BatchShift).as("doc_id"),
          when(col("doc_id") < 250, col("text"))
            .otherwise(regexp_replace(col("text"), "(\\S+)", "$1zq"))
            .as("text"))
    // 500-vector arrival batch, rotated 7 dims (fresh geometry); the
    // +10⁹ shift keeps ids ABOVE every corpus id — graphDelta's
    // monotone-arrival precondition.
    def embBatch(): DataFrame =
      Tables.embeddings(spark, sfDir).filter(col("vec_id") < 500)
        .select((col("vec_id") + BatchShift).as("vec_id"),
          expr("concat(slice(embedding, 8, size(embedding) - 7), " +
            "slice(embedding, 1, 7))").as("embedding"))
    // fixed erase set: replica-0 ids, present in the corpus at both
    // scales (id % 37 — ~3% of the base slice), UNIONED with a
    // transition-forcing component (r16 verdict ask #3): half the
    // members (even ids) of replica-0 buckets sitting at n in
    // (cap, 2·cap] — erasing half pulls those buckets back under the
    // cap, so the timed erase fold exercises the cap-RESURRECTION
    // branch instead of measuring a transition-free erase. Replica-0
    // bucket structure is identical at both scales (vocab renaming
    // keeps replicas collision-free), so the erase batch stays fixed.
    def eraseDocIds(idx: graft.llm.MinHashLSH.SigIndex, cap: Long): DataFrame = {
      val base = Tables.documents(spark, sfDir)
        .filter(pmod(col("doc_id"), lit(37L)) === 0L)
        .select(col("doc_id"))
      val nearCap = idx.counts
        .filter(col("n") > cap && col("n") <= 2L * cap)
        .select(col("band_id"), col("band_key"))
      val forced = idx.evicted
        .getOrElse(sys.error(
          "lifecycle sweep requires a capped index (cap > 0) — the " +
            "forced-transition erase component reads the cold tier"))
        .join(nearCap, Seq("band_id", "band_key"), "left_semi")
        .filter(col("doc_id") < 10000000L &&
          pmod(col("doc_id"), lit(2L)) === 0L)
        .select(col("doc_id")).distinct()
      base.unionByName(forced).distinct()
    }
    def eraseVecIds(): DataFrame =
      Tables.embeddings(spark, sfDir)
        .filter(pmod(col("vec_id"), lit(37L)) === 0L)
        .select(col("vec_id"))
    // A bare lit(1) projection would re-enable column pruning and
    // drop the expensive folded columns (shingle sets, counts
    // arithmetic) out of the timed region; hashing EVERY column
    // forces the full artifact image through evaluation while still
    // collapsing to one long per row for toRdd.count().
    def forceAll(dfs: DataFrame*): DataFrame =
      dfs.map { df =>
        df.select(xxhash64(df.columns
          .map(c => col(graft.Names.quoted(c))): _*).as("one"))
      }.reduce(_ unionByName _)

    val lifeTimes = scala.collection.mutable.LinkedHashMap[(String, Int), Double]()
    for (k <- scales) {
      // untimed: build + pin the shipped artifacts at scale k
      val idx0 = graft.llm.MinHashLSH.signatureIndex(docsAt(k),
        "doc_id", "text", shingleN = 3, numHashes = 8, rowsPerBand = 1,
        cap = 64)
      // the cc_delta FOLD at fixed batch: the families section prices
      // base-clustering + fold together (lineage-truncated but inside
      // the timed window); here the base clustering over all vertices
      // id >= 2000 is built UNTIMED, and the same 2000-vertex arrival
      // slice (ids < 2000 exist at every scale) folds at 1× and 10×
      val (gv, ge) = graphAt(k)
      val FixedArrivals = 2000L
      val isOldV = (c: org.apache.spark.sql.Column) => c >= FixedArrivals
      val ccExisting = graft.llm.Dedup.connectedComponents(
        gv.filter(isOldV(col("doc_id"))),
        ge.filter(isOldV(col("doc_a")) && isOldV(col("doc_b"))))
        .localCheckpoint()
      val ccArrivals = gv.filter(!isOldV(col("doc_id"))).localCheckpoint()
      val ccNewEdges = ge.filter(!isOldV(col("doc_a")) ||
        !isOldV(col("doc_b"))).localCheckpoint()
      val idx = graft.llm.MinHashLSH.SigIndex(idx0.bands.localCheckpoint(),
        idx0.counts.localCheckpoint(), idx0.sets.localCheckpoint(),
        idx0.evicted.map(_.localCheckpoint()))
      // erase set pinned untimed (tombstone lists arrive as tiny
      // materialized frames in production; deriving the forced-
      // transition component from counts+tier is sweep scaffolding,
      // not part of the fold being priced)
      val eraseSet = eraseDocIds(idx, 64L).localCheckpoint()
      val nTransitions = idx.counts.filter(col("n") > 64L && col("n") <= 128L)
        .count()
      println(s"SCALING lifecycle x$k: ${eraseSet.count()} erase ids, " +
        s"$nTransitions near-cap buckets eligible to transition")
      // chained SigStore (4 arrival epochs on disk) — the compact
      // card's SCALING criterion: a fold onto the chain pays the
      // chain's read+fold lineage; after Artifacts.compact the same
      // fold must cost fresh-artifact level. Base = doc_id % 5 != 0;
      // epochs j = 0..3 carry doc_id % 20 == 5j (disjoint, and
      // together they restore the full corpus, so the served index
      // matches the `idx` family's corpus exactly).
      val storeRoot = java.nio.file.Files.createTempDirectory(
        s"graft-scaling-store-x$k-").toString + "/store"
      graft.llm.SigStore.init(
        docsAt(k).filter(pmod(col("doc_id"), lit(5L)) =!= 0L),
        "doc_id", "text", storeRoot, 3, 8, 1, 64)
      for (j <- 0 until 4)
        graft.llm.SigStore.appendArrivals(
          docsAt(k).filter(pmod(col("doc_id"), lit(20L)) === 5L * j),
          "doc_id", "text", storeRoot): Unit
      val emb = embAt(k).localCheckpoint()
      val cb = graft.llm.IvfIndex.fitFixedPoint(emb, 16, 3)
      val assigned = graft.llm.IvfIndex.multiAssignments(emb, cb, 2)
        .localCheckpoint()
      val edges = graft.llm.IvfIndex.knnGraphWithCodebook(emb, cb, 4, 64,
        nAssign = 2).localCheckpoint()
      graft.llm.Caches.unpersistAll(blocking = true)
      def image(f: graft.llm.MinHashLSH.SigIndex): DataFrame =
        forceAll((Seq(f.bands, f.counts, f.sets) ++ f.evicted): _*)
      def chainFold(): DataFrame = image(graft.llm.MinHashLSH.indexDelta(
        graft.llm.SigStore.serve(spark, storeRoot), docBatch(),
        "doc_id", "text", 3, 8, 1, 64))
      def time(name: String)(frame: => DataFrame): Unit =
        lifeTimes((name, k)) = minWall(s"lifecycle $name x$k")(frame)
      time("sig_index_fold")(image(graft.llm.MinHashLSH.indexDelta(idx,
        docBatch(), "doc_id", "text", 3, 8, 1, 64)))
      time("sig_index_erase")(image(
        graft.llm.MinHashLSH.indexErase(idx, eraseSet, 8, 1, 64)))
      time("fuzzy_admission")(graft.llm.MinHashLSH.fuzzyAdmission(docBatch(),
        "doc_id", "text", idx.bands, idx.sets, 3, 8, 1, 300000L))
      time("graph_delta")(graft.llm.IvfIndex.graphDelta(emb, embBatch(), cb,
        assigned, edges, 4, 64, nAssign = 2))
      time("graph_erase")(graft.llm.IvfIndex.graphErase(emb, eraseVecIds(),
        assigned, edges, 4, 64))
      time("cc_delta_fold")(
        graft.llm.Dedup.ccDelta(ccExisting, ccArrivals, ccNewEdges))
      time("sig_chain_fold_depth4")(chainFold())
      // compact UNTIMED, then time the identical fold again — the
      // post-compact cost must read fresh-artifact level (the
      // sig_index_fold row), proving the q312→compact cycle actually
      // buys back the chain debt it schedules against
      graft.llm.Artifacts.compact(spark, storeRoot): Unit
      time("sig_fold_postcompact")(chainFold())
    }
    // one row per name: both walls and the fitted exponent
    def rows(times: scala.collection.Map[(String, Int), Double]): String =
      times.keys.map(_._1).toSeq.distinct.map { n =>
        val t1 = times((n, 1)); val t10 = times((n, 10))
        val e = math.log(t10 / t1) / math.log(10.0)
        f"""  "$n": {"t1_sec": $t1%.3f, "t10_sec": $t10%.3f, "exponent": $e%.3f}"""
      }.mkString(",\n")
    val json =
      s"""{
         |"sf_base": "$sfDir",
         |"scales": [1, 10],
         |"method": "min of $iters runs, caches dropped per run, toRdd.count; replicas vocab-renamed/rotated so global duplication does not masquerade as operator cost; scheduler floor at 1x biases exponents LOW — alarm bar is exponent > 1.5",
         |"families": {
         |${rows(famTimes)}
         |},
         |"lifecycle_method": "fixed 500-row arrival batch / fixed replica-0 erase set at BOTH scales; shipped artifact built untimed and localCheckpoint-pinned per scale; timed region forces the full folded artifact image, so scan-shaped exponents up to ~1 are expected — the bar rules out corpus-recompute signatures (> 1.5). sig_chain_fold_depth4 folds the SAME batch onto a 4-epoch on-disk SigStore chain and sig_fold_postcompact onto its Artifacts.compact image: post-compact must read at sig_index_fold level, chain level strictly above it",
         |"lifecycle": {
         |${rows(lifeTimes)}
         |}
         |}""".stripMargin
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      json.getBytes("UTF-8"))
    println(json)
    spark.stop()
  }
}
