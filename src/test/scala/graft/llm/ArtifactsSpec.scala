package graft.llm

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Top-level so Spark derives the Encoder. */
case class ArtDoc(doc_id: Long, text: String)
case class ArtVec(vec_id: Long, embedding: Array[Float])

/** Trained-artifact persistence: load∘save is identity for every
  * artifact, a query served from a LOADED artifact is byte-identical
  * to the in-session-trained run, and the streaming BPE ingest twin
  * equals the batch encoder. */
class ArtifactsSpec extends AnyFunSuite with SparkTestSession {

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def docs = {
    import spark.implicits._
    Seq(
      ArtDoc(1L, "the low lower lowest of the low"),
      ArtDoc(2L, "new newer newest wider wide"),
      ArtDoc(3L, "the wide river flows lower"),
      ArtDoc(4L, ""),
      ArtDoc(5L, "low low low wide wide new")).toDF()
  }

  private def vecs = {
    import spark.implicits._
    // 24 deterministic 8-dim vectors in 4 loose clusters
    (0 until 24).map { i =>
      val c = i % 4
      ArtVec(i.toLong, Array.tabulate(8)(d =>
        (c * 10 + ((i * 7 + d * 3) % 5) * 0.1 + d * 0.01).toFloat))
    }.toDF()
  }

  test("BPE merges + vocab round-trip and loaded-artifact encode is identical") {
    val nMerges = 12
    val merges = BpeTrainer.trainMerges(docs, "doc_id", "text", nMerges)
    val vocab = BpeTrainer.vocab(docs, "doc_id", "text", nMerges)
    val path = tmp("bpe-artifact")
    Artifacts.saveBpe(spark, path, merges, vocab)
    assert(Artifacts.loadBpeMerges(spark, path) === merges,
      "merges must reload in learn order, counts intact")
    val vocabBack = Artifacts.loadBpeVocab(spark, path)
    assert(vocabBack.columns.sorted.toSeq === vocab.columns.sorted.toSeq)
    assert(vocabBack.collect().map(_.toSeq).toSet ===
      vocab.collect().map(_.toSeq).toSet)
    // the q137 contract: encoding a held-out-style corpus from the
    // LOADED artifact reproduces the in-session-trained encode exactly
    val trained = BpeTrainer.encode(docs, "doc_id", "text", nMerges)
      .collect().map(_.toSeq).toSet
    val loaded = BpeTrainer.encode(docs, "doc_id", "text",
        Artifacts.loadBpeMerges(spark, path),
        vocabBack.select(col("sym"), col("sym_id")))
      .collect().map(_.toSeq).toSet
    assert(loaded === trained)
  }

  test("IVF coarse codebook round-trips exactly") {
    val cb = IvfIndex.fitFixedPoint(vecs, nLists = 4, nIter = 2)
    val path = tmp("ivf-codebook")
    Artifacts.saveCodebook(spark, path, cb)
    val back = Artifacts.loadCodebook(spark, path)
    assert(back.length === cb.length)
    cb.indices.foreach(i => assert(back(i).toSeq === cb(i).toSeq, s"cell $i"))
  }

  test("a small artifact save writes one part file in one job") {
    import spark.implicits._
    val cb = Array.tabulate(16)(i => Array(i.toLong, -i.toLong))
    val bloom = Decontaminate.evalBloom(docs, "doc_id", "text").get
    val merges = Seq.tabulate(9)(i => (s"l$i", s"r$i", i.toLong))
    val vocab = Seq((0L, "a")).toDF("sym_id", "sym")
    // (save, the directory holding the small frame, jobs: the bpe
    // save also writes its one-row vocab)
    Seq[(String => Unit, String, Int)](
      (Artifacts.saveCodebook(spark, _, cb), "", 1),
      (Artifacts.savePqCodebooks(spark, _, Array(cb, cb)), "", 1),
      (Artifacts.saveBloom(spark, _, bloom), "", 1),
      (Artifacts.saveBpe(spark, _, merges, vocab), "/merges", 2)
    ).zipWithIndex.foreach { case ((save, sub, want), i) =>
      val p = tmp(s"small-artifact-$i")
      assert(graft.SparkJobs.jobs(spark)(save(p)) === want,
        s"save $i: one job per frame, no funnel shuffle")
      assert(new java.io.File(p + sub).list().count(_.startsWith("part-")) === 1)
    }
  }

  test("IVF search from a loaded codebook is byte-identical to the training path") {
    // the q225 contract: searchWithCodebook over Artifacts-loaded
    // centroids runs no Lloyd rounds yet returns exactly what
    // fixedPointSearch (train-in-session) returns, at every nProbe
    val cb = IvfIndex.fitFixedPoint(vecs, nLists = 4, nIter = 2)
    val path = tmp("ivf-serve")
    Artifacts.saveCodebook(spark, path, cb)
    val back = Artifacts.loadCodebook(spark, path)
    val queries = vecs.filter(col("vec_id") < 3)
    for (p <- Seq(1, 2)) {
      val trained = IvfIndex.fixedPointSearch(vecs, queries, nLists = 4,
          k = 3, nProbe = p, nIter = 2)
        .collect().map(_.toSeq).toSet
      val served = IvfIndex.searchWithCodebook(vecs, queries, back,
          k = 3, nProbe = p)
        .collect().map(_.toSeq).toSet
      assert(served === trained, s"nProbe=$p")
    }
  }

  test("PQ codebooks round-trip and loaded-artifact IVF-ADC search is identical") {
    val coarse = IvfIndex.fitFixedPoint(vecs, nLists = 4, nIter = 2)
    val pq = PqIndex.fitSubspaces(vecs, m = 2, kSub = 4, nIter = 2)
    val cbPath = tmp("ivf-coarse")
    val pqPath = tmp("pq-codebooks")
    Artifacts.saveCodebook(spark, cbPath, coarse)
    Artifacts.savePqCodebooks(spark, pqPath, pq)
    val pqBack = Artifacts.loadPqCodebooks(spark, pqPath)
    assert(pqBack.length === pq.length)
    for (m <- pq.indices; c <- pq(m).indices)
      assert(pqBack(m)(c).toSeq === pq(m)(c).toSeq, s"subspace $m code $c")
    // the q92 contract: serving from loaded codebooks runs no training
    // and returns byte-identical results to the training overload
    import spark.implicits._
    val queries = vecs.filter(col("vec_id") < 3)
    val trained = PqIndex.ivfAdcSearch(vecs, queries, nLists = 4,
        coarseIter = 2, m = 2, kSub = 4, pqIter = 2,
        k = 3, nProbe = 2, rerank = 6)
      .collect().map(_.toSeq).toSet
    val served = PqIndex.ivfAdcSearch(vecs, queries,
        Artifacts.loadCodebook(spark, cbPath), pqBack,
        k = 3, nProbe = 2, rerank = 6)
      .collect().map(_.toSeq).toSet
    assert(served === trained)
  }

  test("streaming bpeIngest == batch bpeIngest == batch encode") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val nMerges = 12
    val merges = BpeTrainer.trainMerges(docs, "doc_id", "text", nMerges)
    val vocabIds = BpeTrainer.vocab(docs, "doc_id", "text", nMerges)
      .select(col("sym"), col("sym_id"))
    // held-out arrivals: unseen words must count and print null ids
    val arrivals = Seq(
      ArtDoc(10L, "the lowest new river"),
      ArtDoc(11L, "zzz unseen zzz"),
      ArtDoc(12L, ""))
    val input = MemoryStream[ArtDoc]
    val query = graft.streaming.Streams
      .bpeIngest(input.toDF(), "doc_id", "text", merges, vocabIds)
      .writeStream.format("memory").queryName("bpe_ingest_out")
      .outputMode("append").start()
    val got = try {
      input.addData(arrivals: _*)
      query.processAllAvailable()
      spark.table("bpe_ingest_out").collect().map(_.toSeq).toSet
    } finally query.stop()
    val batchTwin = graft.streaming.Streams
      .bpeIngest(arrivals.toDF(), "doc_id", "text", merges, vocabIds)
      .collect().map(_.toSeq).toSet
    val batchEncode = BpeTrainer.encode(arrivals.toDF(), "doc_id", "text",
        merges, vocabIds)
      .collect().map(_.toSeq).toSet
    assert(got === batchTwin, "stream must equal the batch twin")
    assert(got === batchEncode, "twin must equal the batch encoder")
    // and the unseen symbols really do surface as nulls, not drops
    val unseen = got.find(_.head == 11L).get
    assert(unseen(1).asInstanceOf[String].contains("null"))
    assert(unseen(2).asInstanceOf[Long] > 0L)
  }

  test("Bloom prefilter: load-after-save is byte-identical") {
    val bloom = Decontaminate.evalBloom(docs, "doc_id", "text").get
    val path = tmp("graft-bloom")
    Artifacts.saveBloom(spark, path, bloom)
    val loaded = Artifacts.loadBloom(spark, path)
    def bytes(b: org.apache.spark.util.sketch.BloomFilter) = {
      val bos = new java.io.ByteArrayOutputStream(); b.writeTo(bos)
      bos.toByteArray.toSeq
    }
    assert(bytes(loaded) === bytes(bloom))
  }

  test("decontamination from the loaded prefilter is byte-identical to exact") {
    import spark.implicits._
    // train/eval split with REAL overlap: doc 3 shares text shingles
    val corpus = Seq(
      ArtDoc(1L, "alpha beta gamma delta epsilon zeta eta theta iota"),
      ArtDoc(2L, "one two three four five six seven eight nine ten"),
      ArtDoc(3L, "alpha beta gamma delta epsilon zeta eta theta iota"),
      ArtDoc(4L, "totally unrelated content about rivers and stones here"),
      ArtDoc(50L, "alpha beta gamma delta epsilon zeta eta theta iota")).toDF()
    val train = corpus.filter(col("doc_id") % 50 =!= 0)
    val eval = corpus.filter(col("doc_id") % 50 === 0)
    val exact = Decontaminate.contaminated(train, eval, "doc_id", "text")
      .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
    assert(exact.nonEmpty, "fixture must actually contaminate")
    val path = tmp("graft-bloom-e2e")
    Artifacts.saveBloom(spark, path,
      Decontaminate.evalBloom(eval, "doc_id", "text").get)
    val viaLoaded = Decontaminate.contaminatedBloom(train, eval,
        "doc_id", "text", Artifacts.loadBloom(spark, path))
      .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
    assert(viaLoaded === exact)
  }

  test("evalBloom over a fingerprint-less eval set is None") {
    import spark.implicits._
    assert(Decontaminate.evalBloom(
      Seq(ArtDoc(7L, "")).toDF(), "doc_id", "text").isEmpty)
  }

  test("fingerprint index round-trips and drives incrementalByFp identically") {
    val index = docs.select(col("doc_id"),
      Dedup.fingerprintOrEmpty(col("text")).as("fp"))
    val path = tmp("fp-index") + "/index"
    Artifacts.saveFingerprintIndex(path, index)
    val back = Artifacts.loadFingerprintIndex(spark, path)
    assert(back.columns.toSeq === index.columns.toSeq)
    assert(back.collect().map(_.toSeq).toSet ===
      index.collect().map(_.toSeq).toSet)
    // the q175 contract: the loaded index classifies a batch exactly
    // as the in-session frame does
    import spark.implicits._
    val batch = Seq(ArtDoc(100L, "the low lower lowest of the low"),
      ArtDoc(101L, "entirely novel"), ArtDoc(102L, "entirely novel")).toDF()
      .select(col("doc_id"), Dedup.fingerprintOrEmpty(col("text")).as("fp"))
    val fromLoaded = Dedup.incrementalByFp(back, batch)
      .collect().map(_.toSeq).toSet
    val fromLive = Dedup.incrementalByFp(index, batch)
      .collect().map(_.toSeq).toSet
    assert(fromLoaded === fromLive)
    assert(fromLoaded.exists(_.contains("dup_of_corpus")) &&
      fromLoaded.exists(_.contains("dup_in_batch")) &&
      fromLoaded.exists(_.contains("new")))
  }

  test("ensure trains once, serves from the marker, and keys params into the name") {
    val corpusDir = tmp("ensure-corpus")
    java.nio.file.Files.writeString(
      java.nio.file.Path.of(corpusDir, "t.parquet"), "x")
    var trainings = 0
    def train(): String = Artifacts.ensure(corpusDir, "art-v1") { p =>
      trainings += 1
      new java.io.File(p).mkdirs()
      java.nio.file.Files.writeString(java.nio.file.Path.of(p, "data"), "d")
    }
    val d1 = train(); val d2 = train()
    assert(d1 === d2 && trainings === 1,
      "second call must serve the saved artifact, not retrain")
    assert(new java.io.File(d1, "_TRAINED").exists())
    // the publish is atomic-rename: no half-trained temp sibling may
    // survive next to the served artifact
    assert(Option(new java.io.File(d1).getParentFile.listFiles()).get
      .forall(!_.getName.startsWith(".art-v1-train-")),
      "train temp directory must be renamed away or deleted")
    // a train lambda that writes NOTHING must refuse to publish —
    // the r13 ADVICE trap was an empty directory wearing a marker
    val thrown = intercept[IllegalArgumentException] {
      Artifacts.ensure(corpusDir, "art-empty")(_ => ())
    }
    assert(thrown.getMessage.contains("wrote no files"))
    assert(!new java.io.File(new java.io.File(d1).getParent, "art-empty")
      .exists(), "a refused publish must leave nothing behind")
    // a different hyperparameter set must be a different artifact
    val other = Artifacts.ensure(corpusDir, "art-v2") { p =>
      new java.io.File(p).mkdirs()
      java.nio.file.Files.writeString(java.nio.file.Path.of(p, "data"), "d")
    }
    assert(other !== d1)
    // a regenerated corpus (changed file signature) keys a fresh root
    java.nio.file.Files.writeString(
      java.nio.file.Path.of(corpusDir, "t.parquet"), "different-bytes")
    assert(Artifacts.rootFor(corpusDir) !== new java.io.File(d1).getParent)
  }

  test("ensure clears a stale marker-less tree by move-aside, never touches a published one") {
    val corpusDir = tmp("ensure-stale-corpus")
    java.nio.file.Files.writeString(
      java.nio.file.Path.of(corpusDir, "t.parquet"), "x")
    val parent = new java.io.File(Artifacts.rootFor(corpusDir))
    parent.mkdirs()
    // a crashed publish: files present, NO marker — must be cleared
    // (moved aside, not deleted in place) and retrained
    val stale = new java.io.File(parent, "art-stale")
    stale.mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Path.of(stale.getPath, "half"), "crashed")
    var trainings = 0
    val d = Artifacts.ensure(corpusDir, "art-stale") { p =>
      trainings += 1
      new java.io.File(p).mkdirs()
      java.nio.file.Files.writeString(java.nio.file.Path.of(p, "data"), "d")
    }
    assert(trainings === 1, "a marker-less tree must retrain")
    assert(new java.io.File(d, "_TRAINED").exists())
    assert(!new java.io.File(d, "half").exists(),
      "the crashed tree's contents must not leak into the publish")
    assert(Option(parent.listFiles()).get
      .forall(!_.getName.startsWith(".art-stale-stale-")),
      "the move-aside temp must be cleaned up")
    // a COMPLETE published tree (marker present) is served untouched:
    // same path, no retrain, payload bytes intact
    val before = java.nio.file.Files.readString(
      java.nio.file.Path.of(d, "data"))
    val d2 = Artifacts.ensure(corpusDir, "art-stale") { _ =>
      fail("a published artifact must never retrain")
    }
    assert(d2 === d)
    assert(java.nio.file.Files.readString(
      java.nio.file.Path.of(d, "data")) === before)
  }
}
