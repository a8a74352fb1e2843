package graft.llm

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** MinHash / SimHash / vector-similarity behavior on synthetic data
  * with known near-duplicates. */
class SimilaritySpec extends AnyFunSuite with SparkTestSession {

  private def docsDF = {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5
    Seq(
      (1L, base),
      (2L, base + "lambda"),                        // near-dup of 1
      (3L, base.replace("gamma", "mu")),            // near-dup of 1
      (4L, "totally different words entirely unique content here now " * 5),
      (5L, "short doc"),
    ).toDF("doc_id", "text")
  }

  test("minhash LSH finds the planted near-dup pairs, verified by Jaccard") {
    val pairs = MinHashLSH.nearDupPairs(docsDF, "doc_id", "text",
      shingleN = 3, numHashes = 8, rowsPerBand = 1, minJaccardFp = 500000L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 3L)))
    assert(!pairs.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("labelTransfer: planted clusters transfer perfectly; ties break " +
      "to the smaller label") {
    import spark.implicits._
    // three tight clusters on distinct axes; labels follow clusters
    def vec(axis: Int, eps: Float): Array[Float] = {
      val a = Array.fill(8)(0.0f); a(axis) = 1.0f; a((axis + 1) % 8) = eps; a
    }
    val rows = for {
      axis <- 0 until 3
      i <- 0 until 10
    } yield ((axis * 10 + i).toLong, vec(axis, 0.01f * i), axis)
    val df = rows.toDF("vec_id", "embedding", "label")
    val held = df.filter(col("vec_id") % 5 === 0)
    val seeds = df.filter(col("vec_id") % 5 =!= 0)
    val got = Similarity.labelTransfer(held, seeds, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(4)))
    assert(got.length === 6)
    assert(got.forall(_._4), s"clustered labels must transfer perfectly: " +
      got.filterNot(_._4).mkString(", "))
    // deterministic tie-break: 1 seed of label 0 vs 1 of label 1 at
    // equal distance → the smaller label wins
    val tied = Seq(
      (100L, Array(1.0f, 0.0f), 0), (101L, Array(0.0f, 1.0f), 1))
      .toDF("vec_id", "embedding", "label")
    val q = Seq((200L, Array(0.7071f, 0.7071f), 9))
      .toDF("vec_id", "embedding", "label")
    val pick = Similarity.labelTransfer(q, tied, 2).collect().head
    assert(pick.getLong(2) === 0L, "equal votes must break to label 0")
  }

  test("candidate generation never pairs a doc with itself") {
    val pairs = MinHashLSH.candidatePairs(docsDF, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.forall { case (a, b) => a < b })
  }

  test("simhash: near-dups are close in Hamming distance, unrelated far") {
    def toks(s: String) = s.trim.split("\\s+").toSeq
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5
    val h1 = SimHash.simhash64(toks(base))
    val h2 = SimHash.simhash64(toks(base + "lambda"))
    val h4 = SimHash.simhash64(toks("totally different words entirely unique content here now " * 5))
    assert(SimHash.hamming64(h1, h2) <= 8)
    assert(SimHash.hamming64(h1, h4) > 12)
    assert(SimHash.hamming64(h1, h1) == 0)
    // band decomposition reassembles the hash
    val reassembled = (0 until 4).map(b => SimHash.band16(h1, b).toLong << (16 * b)).reduce(_ | _)
    assert(reassembled == h1)
  }

  test("simhash64 SQL registration round-trips") {
    SimHash.register(spark)
    import spark.implicits._
    val r = Seq(Seq("a", "b", "c")).toDF("toks")
      .selectExpr("simhash64(toks) AS h").collect()(0).getLong(0)
    assert(r == SimHash.simhash64(Seq("a", "b", "c")))
  }

  test("brute-force top-k: self is always rank 1 on unit vectors") {
    import spark.implicits._
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f, 0.0f)),
      (2L, Array(0.0f, 0.0f, 1.0f)),
      (3L, Array(0.8f, 0.6f, 0.0f)),
    ).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(vecs.filter(col("vec_id") === 0), vecs, 2)
      .orderBy("rn").collect()
    assert(top(0).getAs[Long]("vec_id") == 0L) // self: dot = 1.0
    assert(top(1).getAs[Long]("vec_id") == 3L) // next closest: 0.8
  }

  test("embedding near-dup: planted duplicate pair found, noise excluded") {
    import spark.implicits._
    val v = Array.tabulate(64)(i => (math.cos(i * 0.7) / 8).toFloat)
    val nearDup = v.clone(); nearDup(0) = v(0) + 0.001f
    val noise = Array.tabulate(64)(i => (math.sin(i * 1.3 + 2) / 8).toFloat)
    val vecs = Seq((1L, v), (2L, nearDup), (3L, noise)).toDF("vec_id", "embedding")
    val pairs = Similarity.embeddingNearDupPairs(vecs, minDotFp = 500000L, dim = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("embedding near-dup bucket cap removes overfull buckets before pair expansion") {
    import spark.implicits._
    val v = Array.tabulate(64)(i => (math.cos(i * 0.7) / 8).toFloat)
    val nearDup = v.clone(); nearDup(0) = v(0) + 0.001f
    // 7 identical "boilerplate" vectors: one bucket of size 7, C(7,2)
    // high-dot pairs — exactly the m² skew the cap exists to stop
    val boiler = (10L to 16L).map(i => (i, Array.fill(64)(0.2f)))
    val vecs = (Seq((1L, v), (2L, nearDup)) ++ boiler).toDF("vec_id", "embedding")
    val uncapped = Similarity.embeddingNearDupPairs(vecs, 500000L, 64)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped.contains((1L, 2L)) && uncapped.size == 1 + 21) // pair + C(7,2)
    val capped = Similarity.embeddingNearDupPairs(vecs, 500000L, 64, maxBucketSize = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((1L, 2L))) // boilerplate gone, signal intact
  }

  test("labelAgreementCard: agreement, noisy flag, isolated vectors, bucket cap") {
    import spark.implicits._
    val v = Array.tabulate(64)(i => (math.cos(i * 0.7) / 8).toFloat)
    def near(eps: Float) = { val c = v.clone(); c(0) = v(0) + eps; c }
    val far = Array.tabulate(64)(i => (math.sin(i * 1.3 + 2) / 8).toFloat)
    // 1,2,3 co-bucketed: 1 and 2 labeled 0, 3 labeled 9 (the mislabel);
    // 7 sits alone in its bucket (isolated)
    val vecs = Seq(
      (1L, v, 0), (2L, near(0.001f), 0), (3L, near(0.002f), 9),
      (7L, far, 0)).toDF("vec_id", "embedding", "label")
    val card = Similarity.labelAgreementCard(vecs, "label", k = 2, dim = 64)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(5)))).toMap
    assert(card(1L) === ((2L, 1L, 500000L, false)), "1 sees {2 agree, 3 not}")
    assert(card(3L) === ((2L, 0L, 0L, true)), "the mislabel disagrees with both")
    assert(card(7L) === ((0L, 0L, 0L, false)),
      "isolated: no neighbors is not disagreement")
    // cap = 2 drops the 3-vector bucket entirely → everyone isolated
    val capped = Similarity.labelAgreementCard(vecs, "label", k = 2, dim = 64,
        maxBucketSize = 2)
      .collect().map(r => (r.getLong(2), r.getBoolean(5))).toSet
    assert(capped === Set((0L, false)), "capped bucket scores no one")
  }

  test("native sign_word == the composed aggregate spelling, incl. the sign bit") {
    import spark.implicits._
    graft.GraftExtensions.ensure(spark)
    // deterministic mix of positive/negative/zero values across 64
    // dims — zero must NOT set a bit; dim 63 exercises the Long sign
    val vecs = (0 until 16).map { v =>
      (v.toLong, Array.tabulate(64) { i =>
        val h = (v * 131 + i * 37) % 7 - 3
        (h * 0.25f)
      })
    }.toDF("vec_id", "embedding")
    val both = vecs.select(
        Similarity.signWordExpr("embedding", 64).as("nat"),
        Similarity.signWordComposed("embedding", 64).as("cmp"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(both.forall { case (n, c) => n == c },
      s"native/composed mismatch: ${both.find { case (n, c) => n != c }}")
    assert(both.exists(_._1 < 0L), "bit 63 (sign bit) must be exercised")
    assert(both.map(_._1).distinct.length > 1, "words must vary")
  }

  test("knnImputeCard: majority vote, vote tie → smallest label, no evidence → -1") {
    import spark.implicits._
    val v = Array.tabulate(64)(i => (math.cos(i * 0.7) / 8).toFloat)
    def near(eps: Float) = { val c = v.clone(); c(0) = v(0) + eps; c }
    val far = Array.tabulate(64)(i => (math.sin(i * 1.3 + 2) / 8).toFloat)
    val train = Seq(
      (1L, near(0.001f), 5), (2L, near(0.002f), 5), (3L, near(0.003f), 7))
      .toDF("vec_id", "embedding", "label")
    val test = Seq(
      (10L, v, 5),                    // 3 train neighbors: 5,5,7 → 5
      (11L, far, 7)).toDF("vec_id", "embedding", "label") // empty bucket → -1
    val got = Similarity.knnImputeCard(train, test, "label", k = 3, dim = 64)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
        r.getBoolean(3))).toSet
    assert(got === Set((10L, 5, 5, true), (11L, 7, -1, false)))
    // k = 2 keeps the two CLOSEST (1, 2 — both label 5); a vote tie
    // at k spanning labels breaks by smallest label: force it with
    // k = 4 over {5, 5, 7} → still 5; and a 1–1 tie via k = 2 on a
    // train set where ranks 1,2 carry labels 7 and 5 → 5 wins
    val tieTrain = Seq((1L, near(0.001f), 7), (2L, near(0.002f), 5))
      .toDF("vec_id", "embedding", "label")
    val tie = Similarity.knnImputeCard(tieTrain,
        Seq((10L, v, 9)).toDF("vec_id", "embedding", "label"),
        "label", k = 2, dim = 64)
      .collect().map(r => (r.getInt(2), r.getBoolean(3))).toSet
    assert(tie === Set((5, false)), "1-1 vote tie must pick the smallest label")
  }

  test("ann bucket: identical vectors land in the same bucket") {
    import spark.implicits._
    graft.GraftExtensions.ensure(spark)
    val v = Array.tabulate(64)(i => (math.sin(i + 1) / 8).toFloat)
    val vecs = Seq((0L, v), (1L, v), (2L, v.map(x => -x))).toDF("vec_id", "embedding")
    val buckets = vecs.select(col("vec_id"), Similarity.bucketExpr("embedding", 64).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(buckets(0L) == buckets(1L))
    assert(buckets(0L) != buckets(2L)) // negated vector flips every sign
  }

  test("crossCorpusPairs links near-dups across corpora, not within them") {
    import spark.implicits._
    val leftDocs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "completely unrelated text about spark physical planning"),
      (3L, "another left doc sharing nothing with the right side")).toDF("doc_id", "text")
    val rightDocs = Seq(
      (101L, "the quick brown fox jumps over the lazy dog today"),
      (102L, "spark planning text that is not quite the same words")).toDF("doc_id", "text")
    val pairs = MinHashLSH.crossCorpusPairs(leftDocs, rightDocs, "doc_id", "text",
      minJaccardFp = 300000L)
      .select(col("left_id"), col("right_id")).as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 101L))) // the planted cross-corpus near-dup only
  }

  test("crossCorpusPairs bucket cap drops cross-corpus boilerplate, keeps genuine links") {
    import spark.implicits._
    // boilerplate present in BOTH corpora: 5 left × 5 right identical
    // docs share every bucket — the m·n join degeneracy the cap stops
    val boiler = "standard footer boilerplate shared by every mirror site page"
    val leftDocs = ((1L to 5L).map(i => (i, boiler)) :+
      (6L, "the quick brown fox jumps over the lazy dog tonight")).toDF("doc_id", "text")
    val rightDocs = ((101L to 105L).map(i => (i, boiler)) :+
      (106L, "the quick brown fox jumps over the lazy dog today")).toDF("doc_id", "text")
    val uncapped = MinHashLSH.crossCorpusPairs(leftDocs, rightDocs, "doc_id", "text",
      minJaccardFp = 300000L)
      .select(col("left_id"), col("right_id")).as[(Long, Long)].collect().toSet
    assert(uncapped.contains((6L, 106L)) && uncapped.size == 1 + 25) // link + 5×5 boilerplate
    val capped = MinHashLSH.crossCorpusPairs(leftDocs, rightDocs, "doc_id", "text",
      minJaccardFp = 300000L, maxBucketSize = 4)
      .select(col("left_id"), col("right_id")).as[(Long, Long)].collect().toSet
    assert(capped == Set((6L, 106L))) // boilerplate bucket gone, signal intact
  }

  test("maxBucketSize drops pathological buckets from candidate generation") {
    import spark.implicits._
    // 6 identical docs share every bucket (bucket size 6); 2 other
    // identical docs form a size-2 bucket
    val docs = ((1L to 6L).map(i => (i, "the same boilerplate text repeated here")) ++
      Seq((10L, "another pair of documents"), (11L, "another pair of documents")))
      .toDF("doc_id", "text")
    val sets = MinHashLSH.shingleSets(docs, "doc_id", "text", 3)
    val uncapped = MinHashLSH.candidatePairsFromSets(sets, 8, 1).count()
    val capped = MinHashLSH.candidatePairsFromSets(sets, 8, 1, maxBucketSize = 4).count()
    assert(uncapped == 15L + 1L) // C(6,2) + the pair
    assert(capped == 1L)         // only the size-2 bucket survives
  }

  test("native lsh_bucket == composed form across dimensions") {
    import spark.implicits._
    graft.GraftExtensions.ensure(spark)
    val rnd = new scala.util.Random(29)
    for (d <- Seq(4, 16, 32)) {
      val rows: Seq[(Long, Seq[Float])] =
        (0 until 50).map(i => (i.toLong, Seq.fill(d)(rnd.nextFloat() * 2 - 1)))
      val bad = rows.toDF("vec_id", "embedding")
        .select(col("vec_id"),
          Similarity.bucketExpr("embedding", d).as("n"),
          Similarity.bucketExprComposed("embedding", d).as("c"))
        .filter(col("n") =!= col("c")).count()
      assert(bad == 0L, s"dim $d: native/composed disagree on $bad rows")
    }
  }

  test("native lsh_bucket == the composed 8x dot_fp formulation") {
    import spark.implicits._
    graft.GraftExtensions.ensure(spark)
    val rnd = new scala.util.Random(13)
    val dim = 64
    val rows: Seq[(Long, Seq[Float])] =
      (0 until 200).map(i => (i.toLong, Seq.fill(dim)(rnd.nextFloat() * 2 - 1))) ++
        Seq((500L, Seq.fill(dim)(0.0f)),              // all-zero → bucket 0
            (501L, Seq.fill(3)(1.0f)),                // wrong length → 0
            (502L, null))                             // null array → 0
    val df = rows.toDF("vec_id", "embedding")
    val got = df.select(col("vec_id"),
        Similarity.bucketExpr("embedding", dim).as("native"),
        Similarity.bucketExprComposed("embedding", dim).as("composed"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    got.foreach { case (id, n, c) =>
      assert(n == c, s"vec $id: native bucket $n != composed $c")
    }
    assert(got.find(_._1 == 501L).get._2 == 0L)
    assert(got.find(_._1 == 502L).get._2 == 0L)
    // the random vectors must spread across buckets (sanity: the
    // expression isn't degenerately returning 0)
    assert(got.filter(_._1 < 200).map(_._2).distinct.length > 10)
  }

  test("topKPerQuery matches the single-window formulation — ties, nulls, k > group") {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    // heavy score ties (10 distinct values over 400 rows) so the
    // vec_id tie-break is genuinely exercised; null scores; a query
    // whose scores are ALL null (desc NULLS LAST must keep them); null
    // query_id and vec_id rows (the window groups/orders them — the
    // heap must not NPE on getLong)
    val rows: Seq[(java.lang.Long, java.lang.Long, java.lang.Long)] =
      (0 until 400).map { i =>
        val dot: java.lang.Long =
          if (rnd.nextInt(20) == 0) null else java.lang.Long.valueOf(rnd.nextInt(10).toLong)
        (java.lang.Long.valueOf(rnd.nextInt(7).toLong), java.lang.Long.valueOf(i.toLong), dot)
      } ++ Seq(
        (java.lang.Long.valueOf(9L), java.lang.Long.valueOf(1000L), null),
        (java.lang.Long.valueOf(9L), java.lang.Long.valueOf(999L), null),
        (null, java.lang.Long.valueOf(7L), java.lang.Long.valueOf(5L)),
        (null, java.lang.Long.valueOf(8L), java.lang.Long.valueOf(5L)),
        (null, null, java.lang.Long.valueOf(5L)),
        (java.lang.Long.valueOf(2L), null, java.lang.Long.valueOf(9L)))
    val scored = rows.toDF("query_id", "vec_id", "dot_fp").repartition(13)
    val w = Window.partitionBy(col("query_id")).orderBy(col("dot_fp").desc, col("vec_id"))
    def box(r: org.apache.spark.sql.Row, i: Int): java.lang.Long =
      if (r.isNullAt(i)) null else java.lang.Long.valueOf(r.getLong(i))
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (box(r, 0), box(r, 1), box(r, 2), r.getInt(3))).toSet
    for (k <- Seq(1, 3, 50); maxHeld <- Seq(1 << 18, 7)) {
      val naive = asSet(scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= k))
      val got = asSet(Similarity.topKPerQuery(scored, k, maxHeldPerTask = maxHeld))
      assert(got == naive,
        s"k=$k maxHeld=$maxHeld: two-level top-k diverged from the global window")
    }
  }

  test("nearDupPairs caches are tracked and released by unpersistAll") {
    import spark.implicits._
    MinHashLSH.unpersistAll() // drain anything earlier specs cached
    val docs = Seq((1L, "a b c d e f"), (2L, "a b c d e g")).toDF("doc_id", "text")
    MinHashLSH.nearDupPairs(docs, "doc_id", "text").count()
    val released = MinHashLSH.unpersistAll(blocking = true)
    assert(released == 1, s"expected the shingle-set cache tracked, got $released")
    assert(MinHashLSH.unpersistAll() == 0) // idempotent, nothing left behind
    // same corpus on both sides → plan-identical projections share one
    // Spark cache entry, and the tracker dedupes by canonical plan
    MinHashLSH.crossCorpusPairs(docs, docs, "doc_id", "text").count()
    assert(MinHashLSH.unpersistAll(blocking = true) == 1)
    // genuinely different corpora → two tracked caches
    import spark.implicits._
    val other = Seq((10L, "x y z w v u")).toDF("doc_id", "text")
    MinHashLSH.crossCorpusPairs(docs, other, "doc_id", "text").count()
    assert(MinHashLSH.unpersistAll(blocking = true) == 2)
  }

  test("scalarQuantizeStats: hand-computed grid errors; constant vector lossless") {
    import spark.implicits._
    // [0, 0.5, 1] in micro-units: endpoints land on the grid (err 0);
    // 500000 → code (255·500000)//10⁶ = 127 → recon (127·10⁶)//255 =
    // 498039 → err 1961
    val vecs = Seq(
      (1L, Seq(0.0f, 0.5f, 1.0f)),
      (2L, Seq(0.25f, 0.25f, 0.25f))) // constant: hi == lo, lossless
      .toDF("vec_id", "embedding")
    val got = Similarity.scalarQuantizeStats(vecs)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got(1L) == ((0L, 1000000L, 1961L, 1961L)))
    assert(got(2L) == ((250000L, 250000L, 0L, 0L)))
    // zero shuffle: the quantization card is one projection
    val plan = Similarity.scalarQuantizeStats(vecs).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), "scalarQuantizeStats must not shuffle")
    // unscorable contract: null / empty / null-element embeddings yield
    // an all-null stats row (pinning Spark and DuckDB to one behavior)
    val dirty = Seq(
      (10L, null.asInstanceOf[Seq[java.lang.Float]]),
      (11L, Seq.empty[java.lang.Float]),
      (12L, Seq[java.lang.Float](1.0f, null, 2.0f)))
      .toDF("vec_id", "embedding")
    Similarity.scalarQuantizeStats(dirty).collect().foreach { r =>
      (1 to 4).foreach(i => assert(r.isNullAt(i),
        s"vec ${r.getLong(0)}: unscorable embedding must yield null stats"))
    }
  }

  test("q72 cluster-best: exactly one survivor per cluster, and it is the best") {
    val rows = graft.queries.SimilarityQueries
      .q72ClusterBest(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    val byCluster = rows.groupBy(_._2)
    assert(byCluster.values.forall(_.count(_._4) == 1),
      "every cluster must keep exactly one member")
    // the survivor dominates its cluster under (quality desc, id asc)
    assert(byCluster.values.forall { members =>
      val kept = members.find(_._4).get
      members.forall(m => m._4 ||
        m._3 < kept._3 || (m._3 == kept._3 && m._1 > kept._1))
    })
    assert(rows.length == 500, "every document carries a verdict")
  }

  test("recallAtK: hits, zero-hit queries kept, ppm floor, rn>k ignored") {
    import spark.implicits._
    // exact top-3 for queries 0 and 1
    val exact = Seq(
      (0L, 10L, 1L), (0L, 11L, 2L), (0L, 12L, 3L), (0L, 99L, 4L),
      (1L, 20L, 1L), (1L, 21L, 2L), (1L, 22L, 3L)).toDF("query_id", "vec_id", "rn")
    // method a: 2/3 on q0 (13 is a miss), 0/3 on q1; its rank-4 row
    // (vec 22, a would-be hit) must be ignored
    val a = Seq((0L, 10L, 1L), (0L, 13L, 2L), (0L, 11L, 3L),
      (1L, 30L, 1L), (1L, 31L, 2L), (1L, 32L, 3L), (1L, 22L, 4L))
      .toDF("query_id", "vec_id", "rn")
    // method b: perfect on both queries
    val b = exact.filter($"rn" <= 3)
    val out = Similarity.recallAtK(exact, Seq("a" -> a, "b" -> b), 3)
      .as[(String, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    assert(out.size === 4, "2 methods x 2 queries, zero-hit rows included")
    assert(out(("a", 0L)) === ((2L, 666666L)))
    assert(out(("a", 1L)) === ((0L, 0L)))
    assert(out(("b", 0L)) === ((3L, 1000000L)))
    assert(out(("b", 1L)) === ((3L, 1000000L)))
  }

  test("recallCard: planted identical pair found; counts and ppm exact") {
    import spark.implicits._
    val docs = Seq(
      (0L, "alpha beta gamma delta epsilon zeta"),
      (1L, "one two three four five six seven"),
      (2L, "alpha beta gamma delta epsilon zeta"), // exact dup of 0
      (3L, "red green blue yellow purple orange"),
      (4L, "north south east west up down"),
      (5L, "cat dog bird fish horse cow")).toDF("doc_id", "text")
    val card = MinHashLSH.recallCard(docs, "doc_id", "text",
      sampleLimit = 6L, thresholds = Seq(0L, 1000000L))
      .as[(Long, Long, Long, Long, Option[Long], Option[Long])]
      .collect().map(r => r._1 -> r).toMap
    val (_, t0, cand0, f0, _, p0) = card(0L)
    assert(t0 === 15L, "thr 0: every pair is truth (C(6,2))")
    assert(f0 === cand0, "thr 0: every candidate counts as found")
    assert(p0 === Some(1000000L), "thr 0 precision is vacuously 1")
    val (_, t1, _, f1, r1, _) = card(1000000L)
    assert(t1 === 1L && f1 === 1L, "the identical pair is truth and found")
    assert(r1 === Some(1000000L), "identical minhash ⇒ recall 1 at thr 1.0")
    // sampleLimit=3 keeps docs {0,1,2}: 3 truth pairs at thr 0, and
    // the planted dup pair (0,2) survives the slice
    val sliced = MinHashLSH.recallCard(docs, "doc_id", "text",
      sampleLimit = 3L, thresholds = Seq(0L, 1000000L))
      .as[(Long, Long, Long, Long, Option[Long], Option[Long])]
      .collect().map(r => r._1 -> r).toMap
    assert(sliced(0L)._2 === 3L, "id-range sample is docs {0,1,2}")
    assert(sliced(1000000L)._4 === 1L, "pair (0,2) survives the slice")
  }

  test("rrfFuse: both-lists doc outranks single-list; exact ppm; absent = 0") {
    import spark.implicits._
    // list A ranks docs 10,11,12; list B ranks 11,20 — doc 11 appears
    // in both and must win query 0 despite never being rank 1
    val a = Seq((0L, 10L, 1L), (0L, 11L, 2L), (0L, 12L, 3L)).toDF("qid", "doc_id", "rn")
    val b = Seq((0L, 11L, 1L), (0L, 20L, 2L)).toDF("qid", "doc_id", "rn")
    val out = Similarity.rrfFuse(Seq(a, b))
      .select("doc_id", "rrf_ppm", "rn").as[(Long, Long, Long)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(11L) === ((1000000L / 62 + 1000000L / 61, 1L)))
    assert(out(10L) === ((1000000L / 61, 2L)))       // lone rank-1 loses
    assert(out(20L)._1 === 1000000L / 62)            // absent from A adds 0
    assert(out(12L)._1 === 1000000L / 63)
    // ties (same rrf_ppm) break by doc_id ascending
    val t1 = Seq((0L, 5L, 1L)).toDF("qid", "doc_id", "rn")
    val t2 = Seq((0L, 3L, 1L)).toDF("qid", "doc_id", "rn")
    val tie = Similarity.rrfFuse(Seq(t1, t2))
      .select("doc_id", "rn").as[(Long, Long)].collect().toMap
    assert(tie(3L) === 1L && tie(5L) === 2L)
  }

  test("hardNegatives: nearest same-label neighbor (and self) never surface") {
    import spark.implicits._
    // query 0 (label a) is IDENTICAL to vec 1 (label a) — the top dot
    // overall — and close to vec 2 (label b); 3 (label b) is far
    val vecs = Seq(
      (0L, "a", Array(1.0f, 0.0f)),
      (1L, "a", Array(1.0f, 0.0f)),
      (2L, "b", Array(0.9f, 0.1f)),
      (3L, "b", Array(-1.0f, 0.0f))
    ).toDF("vec_id", "label", "embedding")
    val out = Similarity.hardNegatives(
        vecs.filter(col("vec_id") === 0L), vecs, 2)
      .orderBy("rn").collect()
      .map(r => (r.getLong(1), r.getInt(3)))
    assert(out.toSeq === Seq((2L, 1), (3L, 2)),
      "same-label top hit and self excluded; cross-label ranked by dot")
  }

  test("centroidOutlierCard: exact on a known frame, outlier beyond k×mean flagged") {
    import spark.implicits._
    // label a: nine inliers at (1,1) + one far outlier at (9,1) — the
    // inlier mass must dominate the mean for a 4×mean threshold to
    // bite; label b: two identical vectors (zero everything)
    val vecs = ((1L to 9L).map(i => (i, "a", Array(1.0f, 1.0f))) ++
      Seq((10L, "a", Array(9.0f, 1.0f)),
        (20L, "b", Array(2.0f, 2.0f)), (21L, "b", Array(2.0f, 2.0f))))
      .toDF("vec_id", "label", "embedding")
    // hand arithmetic at 1e6 fixed point: label a centroid dim0 =
    // floor(18e6/10) = 1800000, dim1 = 1000000
    val dIn = (1000000L - 1800000L) * (1000000L - 1800000L)
    val dOut = (9000000L - 1800000L) * (9000000L - 1800000L)
    val mean = (9L * dIn + dOut) / 10L
    assert(dOut > 4 * mean && dIn <= 4 * mean,
      "fixture sanity: exactly the planted outlier exceeds the threshold")
    val out = Similarity.centroidOutlierCard(vecs, "vec_id", "label", "embedding")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out("a") === ((10L, mean, dOut, 1L)))
    assert(out("b") === ((2L, 0L, 0L, 0L)))
  }
}
