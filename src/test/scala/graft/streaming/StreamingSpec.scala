package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Top-level so Spark can derive an Encoder (inner classes cannot). */
case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
    event_type: String, value: Double)

/** Structured Streaming behavior: micro-batch aggregation through a
  * MemoryStream source, watermark configuration, and exact batch ↔
  * stream equivalence (the batch path is the oracle). */
class StreamingSpec extends AnyFunSuite with SparkTestSession {

  private def ts(minutes: Long): Timestamp = new Timestamp(minutes * 60000L)

  test("hourlyCounts over a MemoryStream produces the batch result") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val rows = Seq(
      Ev(1, ts(10), 1, "view", 1.5), Ev(2, ts(20), 1, "view", 2.0),
      Ev(3, ts(70), 2, "click", 0.5), Ev(4, ts(80), 2, "view", 1.0),
    )
    val query = Streams.hourlyCounts(input.toDF())
      .writeStream.format("memory").queryName("hourly_out")
      .outputMode("complete").start()
    try {
      input.addData(rows: _*)
      query.processAllAvailable()
      val got = spark.table("hourly_out")
        .orderBy("hour_ts", "event_type")
        .collect().map(r => (r.getTimestamp(0).getTime / 60000, r.getString(1),
          r.getLong(2), r.getLong(3))).toSeq
      assert(got == Seq(
        (0L, "view", 2L, 35000L),   // 1.5+2.0 → 3.5 in 1e4 fixed point
        (60L, "click", 1L, 5000L),
        (60L, "view", 1L, 10000L)))
      // streaming result equals running the same transform in batch
      val batch = Streams.hourlyCounts(rows.toDF())
        .orderBy("hour_ts", "event_type")
        .collect().map(r => (r.getTimestamp(0).getTime / 60000, r.getString(1),
          r.getLong(2), r.getLong(3))).toSeq
      assert(got == batch)
    } finally query.stop()
  }

  test("dedupWithinWatermark keeps the first event per key; batch dedup agrees") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val rows = Seq(
      Ev(1, ts(10), 1, "view", 1.0), Ev(2, ts(12), 1, "view", 2.0), // dup (1,view)
      Ev(3, ts(15), 2, "view", 3.0),
      Ev(4, ts(20), 1, "click", 4.0),
      Ev(5, ts(25), 2, "view", 5.0),                                 // dup (2,view)
    )
    val query = Streams.dedupWithinWatermark(input.toDF(), Seq("user_id", "event_type"))
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      input.addData(rows: _*)
      query.processAllAvailable()
      val got = spark.table("dedup_out").select("event_id")
        .as[Long].collect().toSet
      assert(got == Set(1L, 3L, 4L)) // first arrival per key survives
      // batch twin: first-by-ts dedup over the same rows
      val batch = graft.llm.Dedup.exact(rows.toDF(), Seq("user_id", "event_type"), "ts")
        .select("event_id").as[Long].collect().toSet
      assert(got == batch)
    } finally query.stop()
  }

  test("intervalJoin: stream-stream time-range join equals the batch join") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val lin = MemoryStream[Ev]
    val rin = MemoryStream[Ev]
    val lrows = Seq(Ev(1, ts(10), 1, "error", 0), Ev(2, ts(30), 1, "error", 0),
      Ev(3, ts(20), 2, "error", 0))
    val rrows = Seq(Ev(10, ts(6), 1, "view", 0), Ev(11, ts(9), 1, "view", 0),
      Ev(12, ts(29), 1, "view", 0), Ev(13, ts(19), 3, "view", 0))
    def prep(df: org.apache.spark.sql.DataFrame, p: String) =
      df.select(col("event_id").as(s"${p}_id"), col("user_id").as(s"${p}_user"),
        col("ts").as(s"${p}_ts"))
    val query = Streams.intervalJoin(
      prep(lin.toDF(), "l"), prep(rin.toDF(), "r"),
      "l_user", "r_user", "l_ts", "r_ts")
      .select(col("l_id"), col("r_id"))
      .writeStream.format("memory").queryName("ij_out").outputMode("append").start()
    try {
      lin.addData(lrows: _*); rin.addData(rrows: _*)
      query.processAllAvailable()
      val got = spark.table("ij_out").as[(Long, Long)].collect().toSet
      val batch = Streams.intervalJoin(
        prep(lrows.toDF(), "l"), prep(rrows.toDF(), "r"),
        "l_user", "r_user", "l_ts", "r_ts")
        .select(col("l_id"), col("r_id")).as[(Long, Long)].collect().toSet
      // 5-minute window: error@10 pairs with views@6,9; error@30 with
      // view@29; user 2's error has no same-user views
      assert(got == Set((1L, 10L), (1L, 11L), (2L, 12L)))
      assert(got == batch)
    } finally query.stop()
  }

  test("sessionStats streaming == q11's lag-based batch sessionization") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // user 1: two sessions (gap > 30 min); user 2: one session
    val rows = Seq(
      Ev(1, ts(0), 1, "a", 0), Ev(2, ts(10), 1, "a", 0), // session 1
      Ev(3, ts(90), 1, "a", 0),                          // session 2
      Ev(4, ts(5), 2, "a", 0), Ev(5, ts(25), 2, "a", 0), // one session
    )
    val input = MemoryStream[Ev]
    val query = Streams.sessionStats(input.toDF())
      .writeStream.format("memory").queryName("sessions_out")
      .outputMode("complete").start()
    try {
      input.addData(rows: _*)
      query.processAllAvailable()
      val streaming = spark.table("sessions_out")
        .groupBy("user_id").agg(count(lit(1)).as("n_sessions"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(streaming == Map(1L -> 2L, 2L -> 1L))
      // q11's lag-window formulation over the same rows agrees
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val batch = rows.toDF()
        .withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .withColumn("new_sess", when(col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts")) > 30L * 60 * 1000000,
          lit(1L)).otherwise(lit(0L)))
        .groupBy("user_id").agg(sum("new_sess").as("n_sessions"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(streaming == batch)
    } finally query.stop()
  }

  // ---- file-source equivalence: the stream path over the SAME
  // parquet the DuckDB oracle checks in batch (q9 / q16 shapes) ----

  /** Replicate Tables.events' two-layout ts normalization (legacy
    * INT64 TIMESTAMP(NANOS) → floored micros; TIMESTAMP(MICROS) NTZ →
    * session-UTC cast) for the streaming reader. */
  private def nanosToTs(df: org.apache.spark.sql.DataFrame) =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("(ts - pmod(ts, 1000)) div 1000")))
      case _ => df.withColumn("ts", col("ts").cast("timestamp"))
    }

  /** The file stream source wants a DIRECTORY; expose the single
    * events.parquet file through a temp dir symlink. */
  private lazy val eventsStreamDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-events-stream")
    java.nio.file.Files.createSymbolicLink(
      dir.resolve("events.parquet"),
      java.nio.file.Paths.get("/root/testdata/sf0.001/events.parquet"))
    dir.toString
  }

  private val EventsDir = "/root/testdata/sf0.001"
  private lazy val eventsRawSchema =
    spark.read.parquet(s"$EventsDir/events.parquet").schema
  private def eventsStream: org.apache.spark.sql.DataFrame =
    nanosToTs(spark.readStream.schema(eventsRawSchema).parquet(eventsStreamDir))

  test("hourlyCounts: AvailableNow file stream over events.parquet == batch") {
    val query = Streams.hourlyCounts(eventsStream)
      .writeStream.format("memory").queryName("hc_parquet")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    try {
      assert(query.awaitTermination(120000), "AvailableNow stream did not finish")
      def key(r: org.apache.spark.sql.Row) =
        (r.getTimestamp(0).getTime, r.getString(1), r.getLong(2), r.getLong(3))
      val got = spark.table("hc_parquet").collect().map(key).sorted.toSeq
      val batch = Streams.hourlyCounts(graft.Tables.events(spark, EventsDir))
        .collect().map(key).sorted.toSeq
      assert(got.nonEmpty && got == batch)
    } finally query.stop()
  }

  test("dedupWithinWatermark: AvailableNow file stream == batch dedup keys") {
    val keys = Seq("user_id", "event_type")
    val query = Streams.dedupWithinWatermark(eventsStream, keys)
      .writeStream.format("memory").queryName("dedup_parquet")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    try {
      assert(query.awaitTermination(120000), "AvailableNow stream did not finish")
      def keyset(df: org.apache.spark.sql.DataFrame) =
        df.select(keys.map(col): _*).collect()
          .map(r => (r.getLong(0), r.getString(1))).toSet
      val got = spark.table("dedup_parquet")
      val batch = graft.Tables.events(spark, EventsDir).dropDuplicates(keys)
      // one survivor per key (which row survives is arrival-order-
      // dependent in a single micro-batch; the KEY SET is the contract)
      assert(got.count() == batch.count())
      assert(keyset(got) == keyset(batch))
    } finally query.stop()
  }

  test("sessionStats: AvailableNow file stream over events.parquet == batch") {
    val query = Streams.sessionStats(eventsStream)
      .writeStream.format("memory").queryName("sess_parquet")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    try {
      assert(query.awaitTermination(120000), "AvailableNow stream did not finish")
      def key(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getTimestamp(1).getTime, r.getTimestamp(2).getTime, r.getLong(3))
      val got = spark.table("sess_parquet").collect().map(key).sorted.toSeq
      val batch = Streams.sessionStats(graft.Tables.events(spark, EventsDir))
        .collect().map(key).sorted.toSeq
      assert(got.nonEmpty && got == batch)
    } finally query.stop()
  }

  test("dedupWithinWatermark honors a non-default timestamp column name") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val renamed = input.toDF().withColumnRenamed("ts", "event_time")
    val query = Streams.dedupWithinWatermark(renamed,
      Seq("user_id", "event_type"), tsCol = "event_time")
      .writeStream.format("memory").queryName("dedup_ts_out")
      .outputMode("append").start()
    try {
      input.addData(Ev(1, ts(10), 1, "view", 1.0), Ev(2, ts(12), 1, "view", 2.0))
      query.processAllAvailable()
      assert(spark.table("dedup_ts_out").count() == 1)
    } finally query.stop()
  }

  test("intervalJoin resolves column names that need backticks") {
    import spark.implicits._
    // hyphenated names break string-spliced conditions; the Column-
    // based condition must handle them (batch DFs exercise the same
    // condition builder as the stream path)
    val l = Seq((1L, 1L, ts(10))).toDF("l-id", "l-user", "l-ts")
    val r = Seq((10L, 1L, ts(9)), (11L, 1L, ts(1))).toDF("r-id", "r-user", "r-ts")
    val out = Streams.intervalJoin(l, r, "l-user", "r-user", "l-ts", "r-ts")
      .select(col("`l-id`"), col("`r-id`")).as[(Long, Long)].collect().toSet
    assert(out == Set((1L, 10L))) // r@1 is outside the 5-minute bound
  }

  test("boilerplateIngest: corpus-mined spans flag arrivals; stream == batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // a 13-word span shared by three corpus docs IS boilerplate; the
    // per-doc unique prefix grams stay below minDf
    val span = "this is the standard legal disclaimer footer text " +
      "for every document here now"
    val corpus = Seq((1L, s"aaa $span"), (2L, s"bbb $span"),
      (3L, s"ccc $span")).toDF("doc_id", "text")
    val rows = Seq(
      (100L, s"xxx $span"),
      (101L, "entirely fresh words that never appeared in the corpus " +
        "so nothing here can possibly be known boilerplate at all"))
    val input = MemoryStream[(Long, String)]
    val query = Streams.boilerplateIngest(
        input.toDF().toDF("doc_id", "text"), corpus, "doc_id", "text")
      .writeStream.format("memory").queryName("boiler_out")
      .outputMode("append").start()
    try {
      input.addData(rows: _*)
      query.processAllAvailable()
      def shape(df: org.apache.spark.sql.DataFrame) = df.orderBy("doc_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSeq
      val got = shape(spark.table("boiler_out"))
      assert(got.head._1 === 100L && got.head._3 === 1L,
        "the arrival embedding the span must count one boilerplate gram")
      assert(got.head._4 > 0L)
      assert(got(1)._3 === 0L && got(1)._4 === 0L,
        "fresh content must count zero")
      val batch = shape(Streams.boilerplateIngest(
        rows.toDF("doc_id", "text"), corpus, "doc_id", "text"))
      assert(got === batch, "stream must equal batch exactly")
    } finally query.stop()
  }

  test("decontamIngest: contaminated arrivals equal batch decontamination") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val evalDoc = "the quick brown fox jumps over the lazy dog and then " +
      "runs far away into the deep dark forest tonight"
    val eval = Seq((100L, evalDoc)).toDF("doc_id", "text")
    val rows = Seq(
      (1L, s"prefix text before the leak $evalDoc suffix text after"),
      (2L, "completely unrelated content about database systems and " +
        "distributed query processing at petabyte scale every day"))
    val input = MemoryStream[(Long, String)]
    val query = Streams.decontamIngest(
        input.toDF().toDF("doc_id", "text"), eval, "doc_id", "text")
      .writeStream.format("memory").queryName("decontam_out")
      .outputMode("append").start()
    try {
      input.addData(rows: _*)
      query.processAllAvailable()
      def shape(df: org.apache.spark.sql.DataFrame) = df.orderBy("doc_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
      val got = shape(spark.table("decontam_out"))
      val batch = shape(graft.llm.Decontaminate.contaminated(
        rows.toDF("doc_id", "text"), eval, "doc_id", "text"))
      assert(got === batch, "stream must equal the batch exact path")
      assert(got.map(_._1) === Seq(1L),
        "only the doc embedding the eval text surfaces")
      assert(got.head._4 > 0L)
    } finally query.stop()
  }

  test("urlKeyIngest: canonical keys on a stream equal batch; variants collapse") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val rows = Seq(
      (1L, "HTTPS://WWW.Example.COM:443/a/?b=2&utm_source=x&a=1#f"),
      (2L, "https://example.com/a?a=1&b=2"),
      (3L, "http://other.org/p"))
    val query = Streams.urlKeyIngest(
        input.toDF().toDF("doc_id", "url"), "doc_id", "url")
      .writeStream.format("memory").queryName("urlkey_out")
      .outputMode("append").start()
    try {
      input.addData(rows: _*)
      query.processAllAvailable()
      val got = spark.table("urlkey_out").orderBy("doc_id")
        .collect().map(r => (r.getLong(0), r.getString(2), r.getString(3)))
      assert(got(0)._2 === "https://example.com/a?a=1&b=2")
      assert(got(0)._2 === got(1)._2 && got(0)._3 === got(1)._3,
        "the two crawls of one page must share key AND key_fp")
      assert(got(2)._2 === "http://other.org/p")
      val batch = Streams.urlKeyIngest(
          rows.toDF("doc_id", "url"), "doc_id", "url")
        .orderBy("doc_id")
        .collect().map(r => (r.getLong(0), r.getString(2), r.getString(3)))
      assert(got.toSeq === batch.toSeq, "stream must equal batch exactly")
    } finally query.stop()
  }

  test("classifyIngest: streamed routing equals the join-window batch path") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val counts = graft.llm.NbClassifier.train(
      Seq((1L, "cat dog fish cat", "en"), (2L, "dog fish le", "en"),
        (3L, "chat chien le le", "fr"), (4L, "chien le chat", "fr"))
        .toDF("doc_id", "text", "lang"),
      "text", "lang")
    val rows = Seq(
      (10L, "cat dog chien"),  // majority en
      (11L, "zzz qqq"),        // unseen → smoothing default
      (12L, ""),               // no evidence
      (13L, "le le cat"))      // seen-token fr majority
    val input = MemoryStream[(Long, String)]
    val query = Streams.classifyIngest(
        input.toDF().toDF("doc_id", "text"), counts, "doc_id", "text")
      .writeStream.format("memory").queryName("classify_out")
      .outputMode("append").start()
    try {
      input.addData(rows: _*)
      query.processAllAvailable()
      def shape(df: org.apache.spark.sql.DataFrame) = df.orderBy("doc_id")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getLong(3))).toSeq
      val got = shape(spark.table("classify_out"))
      // the twin's collected-map vote vs predict's join-window vote:
      // two implementations, pinned equal
      val batch = shape(graft.llm.NbClassifier.predict(
        rows.toDF("doc_id", "text"), counts, "doc_id", "text"))
      assert(got === batch, "stream must equal the batch scorer exactly")
      assert(got.map(_._2) === Seq("en", "en", "(none)", "fr"))
    } finally query.stop()
  }

  test("classifyIngest: a vocab cap above the tail is exact; the map is bounded") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val counts = graft.llm.NbClassifier.train(
      Seq((1L, "cat dog fish cat", "en"), (2L, "dog fish le", "en"),
        (3L, "chat chien le le", "fr"), (4L, "chien le chat", "fr"))
        .toDF("doc_id", "text", "lang"),
      "text", "lang")
    val vocabSize = counts.select(col("w")).distinct().count().toInt
    val rows = Seq((10L, "cat dog chien"), (11L, "zzz qqq"),
      (13L, "le le cat"))
    def run(cap: Int, name: String) = {
      val input = MemoryStream[(Long, String)]
      val query = Streams.classifyIngest(
          input.toDF().toDF("doc_id", "text"), counts, "doc_id", "text",
          maxVocab = cap)
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        input.addData(rows: _*)
        query.processAllAvailable()
        spark.table(name).orderBy("doc_id").collect().map(_.toSeq).toSeq
      } finally query.stop()
    }
    // cap ≥ |V|: the bounded collect must be EXACTLY the full routing
    assert(run(vocabSize, "classify_cap_full") ===
      run(0, "classify_uncapped"),
      "a cap covering the whole train vocabulary must not move any vote")
    // the production DEFAULT is capped — the 10⁸-type bound is ON
    // unless a caller explicitly opts out with 0 — and, sitting above
    // this corpus's vocabulary, the default path routes batch-exact
    assert(Streams.DefaultMaxVocab > 0,
      "classifyIngest must default to a bounded vocabulary")
    assert(Streams.DefaultMaxVocab >= vocabSize)
    assert(run(Streams.DefaultMaxVocab, "classify_cap_default") ===
      run(0, "classify_uncapped2"),
      "the default cap must be exact on a corpus whose vocab fits it")
    // cap = 1: only the most-frequent type ('le', 5 occurrences) keeps
    // its winner; every other type votes the smoothing default — the
    // bound is real, not a no-op
    val tiny = run(1, "classify_cap_tiny")
    assert(tiny.nonEmpty && tiny.size === rows.size,
      "capped routing still scores every arrival")
  }

  test("piiIngest: streamed PII scrub equals batch exactly; text redacted") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      (1L, "mail me a@b.io"),
      (2L, "host 10.1.2.3 up"),
      (3L, "clean words only"))
    val input = MemoryStream[(Long, String)]
    val query = Streams.piiIngest(
        input.toDF().toDF("doc_id", "text"), "doc_id", "text")
      .writeStream.format("memory").queryName("pii_out")
      .outputMode("append").start()
    try {
      input.addData(rows: _*)
      query.processAllAvailable()
      def shape(df: org.apache.spark.sql.DataFrame) = df.orderBy("doc_id")
        .collect().map(_.toSeq).toSeq
      val got = shape(spark.table("pii_out"))
      val batch = shape(Streams.piiIngest(
        rows.toDF("doc_id", "text"), "doc_id", "text"))
      assert(got === batch, "stream must equal the batch scrub exactly")
      assert(got.map(_.last) === Seq(true, true, false))
      assert(got.map(_(4)) === Seq("mail me <EMAIL>", "host <IP> up",
        "clean words only"), "arrivals carry the redacted text")
    } finally query.stop()
  }

  test("shardIngest: streamed routing equals batch; movers target the new shard") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = (1L to 60L).map(Tuple1(_))
    val input = MemoryStream[Tuple1[Long]]
    val query = Streams.shardIngest(
        input.toDF().toDF("doc_id"), "doc_id", nShards = 8)
      .writeStream.format("memory").queryName("shard_out")
      .outputMode("append").start()
    try {
      input.addData(rows: _*)
      query.processAllAvailable()
      val got = spark.table("shard_out").orderBy("doc_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getBoolean(3))).toSeq
      val batch = Streams.shardIngest(
          rows.toDF("doc_id"), "doc_id", nShards = 8)
        .orderBy("doc_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getBoolean(3))).toSeq
      assert(got === batch, "stream must equal the batch router exactly")
      got.filter(_._4).foreach { case (k, _, next, _) =>
        assert(next === 8L, s"mover $k must target the NEW shard only")
      }
    } finally query.stop()
  }

  test("mojibakeIngest: streamed repair equals batch; artifacts detected and fixed") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq((1L, "prÃ©cis and mÃ¼nchen"), (2L, "clean ascii"),
      (3L, "tschÃ¼ss"))
    val input = MemoryStream[(Long, String)]
    val query = Streams.mojibakeIngest(
        input.toDF().toDF("doc_id", "text"), "doc_id", "text")
      .writeStream.format("memory").queryName("moji_out")
      .outputMode("append").start()
    try {
      input.addData(rows: _*)
      query.processAllAvailable()
      def shape(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("doc_id").collect()
          .map(r => (r.getLong(0), r.getLong(2), r.getString(3),
            r.getBoolean(4))).toSeq
      val got = shape(spark.table("moji_out"))
      val batch = shape(Streams.mojibakeIngest(
        rows.toDF("doc_id", "text"), "doc_id", "text"))
      assert(got === batch, "stream must equal the batch cleaner exactly")
      assert(got === Seq(
        (1L, 2L, "précis and münchen", true),
        (2L, 0L, "clean ascii", false),
        (3L, 1L, "tschüss", true)))
    } finally query.stop()
  }

  test("mediaIngest: streamed perceptual probe equals batch; edited re-upload reads known") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.llm.Multimodal
    val stored = Multimodal.encodeBmp(20, 14)
    val known = Set(Multimodal.dHashBits(stored).get)
    val rows = Seq(
      1L -> stored,                                  // exact re-upload
      2L -> Multimodal.perturbBmp(stored, 37).get,   // edited copy: bytes differ, hash doesn't
      3L -> Multimodal.encodeBmp(33, 9),             // genuinely new image
      4L -> "not an image".getBytes)                 // junk → quarantine as novel
    assert(!java.util.Arrays.equals(rows(1)._2, stored))
    val input = MemoryStream[(Long, Array[Byte])]
    val query = Streams.mediaIngest(
        input.toDF().toDF("doc_id", "content"), "doc_id", "content", known)
      .writeStream.format("memory").queryName("media_out")
      .outputMode("append").start()
    try {
      input.addData(rows: _*)
      query.processAllAvailable()
      def shape(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("doc_id").collect()
          .map(r => (r.getLong(0), r.getBoolean(2), r.getBoolean(3))).toSeq
      val got = shape(spark.table("media_out"))
      val batch = shape(Streams.mediaIngest(
        rows.toDF("doc_id", "content"), "doc_id", "content", known))
      assert(got === batch, "stream must equal the batch meter exactly")
      assert(got === Seq((1L, true, true), (2L, true, true),
        (3L, true, false), (4L, false, false)))
    } finally query.stop()
  }

  test("cdcIngest: streamed admission equals batch; known doc reads zero novel") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    graft.llm.Fingerprint.register(spark)
    val rnd = new scala.util.Random(3)
    def mk() = (1 to 300).map(_ => s"t${rnd.nextInt(9)}").mkString(" ")
    val stored = Seq(mk(), mk())
    val keys = stored.flatMap(t =>
      graft.llm.Fingerprint.cdcChunkKeys(t).map(_._2))
    val bloom = org.apache.spark.util.sketch.BloomFilter.create(
      keys.size.toLong.max(1L), 0.0001)
    keys.foreach(bloom.putString)
    val rows = Seq(
      (1L, stored.head),   // exact copy of a stored doc → zero novel
      (2L, mk()),          // brand-new content → ~all novel
      (3L, ""))            // empty → all zeros
    val input = MemoryStream[(Long, String)]
    val query = Streams.cdcIngest(
        input.toDF().toDF("doc_id", "text"), "doc_id", "text", bloom)
      .writeStream.format("memory").queryName("cdc_out")
      .outputMode("append").start()
    try {
      input.addData(rows: _*)
      query.processAllAvailable()
      def shape(df: org.apache.spark.sql.DataFrame) = df.orderBy("doc_id")
        .collect().map(_.toSeq).toSeq
      val got = shape(spark.table("cdc_out"))
      val batch = shape(Streams.cdcIngest(
        rows.toDF("doc_id", "text"), "doc_id", "text", bloom))
      assert(got === batch, "stream must equal the batch meter exactly")
      val byId = got.map(r => r.head -> r).toMap
      assert(byId(1L)(4) === 0L, "a fully-stored doc admits zero novel bytes")
      assert(byId(2L)(4) === byId(2L)(3),
        "brand-new content is fully novel (no Bloom FP at this fpp/size)")
      assert(byId(3L) === Seq(3L, 0L, 0L, 0L, 0L, 0L))
    } finally query.stop()
  }

  test("vadIngest: streamed VAD equals batch; non-WAV and junk dropped") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      (1L, "audio/wav", graft.llm.Multimodal.encodeWav(8000, 1, 40)),
      (2L, "image/bmp", graft.llm.Multimodal.encodeBmp(4, 4)),
      (3L, "audio/wav", Array[Byte](1, 2, 3)),
      (4L, "audio/wav", graft.llm.Multimodal.encodeWav(8000, 2, 33)))
    val input = MemoryStream[(Long, String, Array[Byte])]
    val query = Streams.vadIngest(
        input.toDF().toDF("id", "mt", "content"), "id", "mt", "content",
        win = 16, thrPerSample = 16384L)
      .writeStream.format("memory").queryName("vad_out")
      .outputMode("append").start()
    try {
      input.addData(rows: _*)
      query.processAllAvailable()
      def shape(df: org.apache.spark.sql.DataFrame) = df.orderBy("id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSeq
      val got = shape(spark.table("vad_out"))
      assert(got.map(_._1) === Seq(1L, 4L),
        "only structurally valid WAV payloads may surface")
      val batch = shape(Streams.vadIngest(
        rows.toDF("id", "mt", "content"), "id", "mt", "content", 16, 16384L))
      assert(got === batch, "stream must equal batch exactly")
      // and both must equal the direct decoder the q207 card uses
      val direct = rows.collect { case (id, "audio/wav", c) =>
        graft.llm.Multimodal.wavActivity(c, 16, 16384L).map {
          case (nw, na, ns) => (id, nw, na, ns) }
      }.flatten
      assert(got.map(t => (t._1, t._2, t._3, t._4)) === direct)
    } finally query.stop()
  }

  test("ruleGateIngest: the q69 gate runs unchanged on a stream, equals batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      (1L, "short"),  // under the token floor → dropped with a reason
      (2L, "the quick brown fox jumps over the lazy dog and then runs " +
        "far away into the deep dark forest tonight with many words " +
        "to speak of and the story continues on and on for a while"),
      (3L, "1 2 3 4 5 6 7 8 9 0 1 2 3 4 5 6 7 8 9 0 1 2 3 4 5"))
    val input = MemoryStream[(Long, String)]
    val query = graft.llm.TextAnalysis.ruleFilter(
        input.toDF().toDF("doc_id", "text"), "doc_id", "text")
      .writeStream.format("memory").queryName("rulegate_out")
      .outputMode("append").start()
    try {
      input.addData(rows: _*)
      query.processAllAvailable()
      def shape(df: org.apache.spark.sql.DataFrame) = df.orderBy("doc_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getBoolean(3))).toSeq
      val got = shape(spark.table("rulegate_out"))
      val batch = shape(graft.llm.TextAnalysis.ruleFilter(
        rows.toDF("doc_id", "text"), "doc_id", "text"))
      assert(got === batch, "stream must equal the batch gate exactly")
      assert(!got(0)._4 && got(0)._3 != 0L, "the short doc must carry a reason")
      assert(got(1)._4, "the normal doc passes")
    } finally query.stop()
  }

  test("Pii.scrub is stateless: runs unchanged on a stream, equals batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // codegen'd projections need no watermark/state — the same scrub()
    // call must plan on a streaming frame (a shuffle or an agg would
    // throw UnsupportedOperationChecker here, pinning the zero-shuffle
    // contract from the streaming side too)
    val input = MemoryStream[(Long, String)]
    val rows = Seq(
      (1L, "mail a@b.no from 1.2.3.4"),
      (2L, "call +47 555 12345 twice +47 555 67890"),
      (3L, "no pii here"))
    val query = graft.llm.Pii.scrub(input.toDF().toDF("id", "text"), "text")
      .writeStream.format("memory").queryName("pii_out")
      .outputMode("append").start()
    try {
      input.addData(rows: _*)
      query.processAllAvailable()
      val got = spark.table("pii_out").orderBy("id")
        .select("id", "n_emails", "n_ips", "n_phones", "clean_text")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getString(4))).toSeq
      val batch = graft.llm.Pii.scrub(rows.toDF("id", "text"), "text")
        .orderBy("id")
        .select("id", "n_emails", "n_ips", "n_phones", "clean_text")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getString(4))).toSeq
      assert(got == batch)
      assert(got(1) == ((2L, 0L, 0L, 2L, "call <PHONE> twice <PHONE>")))
    } finally query.stop()
  }

  test("ruleFilter is stateless: runs unchanged on a stream, equals batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // same contract as the Pii twin: a pure codegen'd projection must
    // plan on a streaming frame with no watermark — ingest-time corpus
    // filtering drops junk BEFORE it ever lands in the lake
    val input = MemoryStream[(Long, String)]
    val rows = Seq(
      (1L, ("the report is a summary of the work and it is clear that " +
        "the results of the study are good and the methods are fine").trim),
      (2L, "too short"),
      (3L, "1234567890 " * 25 + "the a of and in is to it " * 4))
    val query = graft.llm.TextAnalysis.ruleFilter(
        input.toDF().toDF("doc_id", "text"), "doc_id", "text")
      .writeStream.format("memory").queryName("rules_out")
      .outputMode("append").start()
    try {
      input.addData(rows: _*)
      query.processAllAvailable()
      def shape(df: org.apache.spark.sql.DataFrame) = df.orderBy("doc_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSeq
      val got = shape(spark.table("rules_out"))
      val batch = shape(graft.llm.TextAnalysis.ruleFilter(
        rows.toDF("doc_id", "text"), "doc_id", "text"))
      assert(got == batch)
      assert(got.head._4, "the clean doc must be kept")
      assert((got(1)._3 & 1L) != 0, "short doc must flag bit 0")
      assert((got(2)._3 & 32L) != 0, "digit-heavy doc must flag bit 5")
    } finally query.stop()
  }

  test("incrementalStatus: corpus index + cross-batch stream state classify arrivals") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpusFps = Seq(Tuple1("known corpus text"))
      .toDF("text")
      .select(graft.llm.Dedup.fingerprint(col("text")).as("fp"))
    val input = MemoryStream[(Long, Timestamp, String)]
    val query = Streams.incrementalStatus(
        input.toDF().toDF("doc_id", "ts", "text"), corpusFps)
      .writeStream.format("memory").queryName("incr_out")
      .outputMode("append").start()
    try {
      // batch 1: a corpus dup, a fresh doc, and its same-batch copy
      input.addData(
        (1L, ts(10), "known corpus text"),
        (2L, ts(11), "fresh document body"),
        (3L, ts(12), "fresh document body"))
      query.processAllAvailable()
      // batch 2: the fresh doc returns in a LATER micro-batch — only
      // cross-batch state can know it was already seen
      input.addData((4L, ts(20), "fresh document body"),
        (5L, ts(21), "another new one"))
      query.processAllAvailable()
      val got = spark.table("incr_out")
        .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
      assert(got == Map(
        1L -> "dup_of_corpus",
        2L -> "new",
        3L -> "dup_in_stream",
        4L -> "dup_in_stream",
        5L -> "new"))
      // in-order arrivals: stream verdicts == batch operator verdicts
      // (modulo the batch name for in-batch dups)
      val batchGot = graft.llm.Dedup.incremental(
        Seq(Tuple1("known corpus text")).toDF("text").withColumn("doc_id", lit(100L)),
        Seq((1L, "known corpus text"), (2L, "fresh document body"),
          (3L, "fresh document body"), (4L, "fresh document body"),
          (5L, "another new one")).toDF("doc_id", "text"),
        "doc_id", "text")
        .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
      assert(got.view.mapValues(_.replace("dup_in_stream", "dup_in_batch")).toMap == batchGot)
    } finally query.stop()
  }

  test("incrementalStatus refuses a TTL below the watermark delay") {
    import spark.implicits._
    val docs = Seq((1L, ts(0), "x")).toDF("doc_id", "ts", "text")
    val fps = Seq(Tuple1("y")).toDF("text")
      .select(graft.llm.Dedup.fingerprint(col("text")).as("fp"))
    // 2h watermark with a 1h TTL would evict state while
    // late-but-admissible duplicates can still arrive
    intercept[IllegalArgumentException] {
      Streams.incrementalStatus(docs, fps,
        watermark = "2 hours", stateTtlMs = 3600L * 1000)
    }
  }

  test("spatialIngest: streamed geometries against the static grid equal batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.geo.Wkb
    // the q77 corpus shape: one point per id from the same arithmetic
    def wkbOf(id: Long): Array[Byte] = Wkb.write(Wkb.GPoint(Array(
      (id * 37 % 1000).toDouble / 10.0 - 50.0,
      (id * 91 % 1000).toDouble / 10.0 - 50.0), hasZ = false, hasM = false))
    val corpus = (0L until 200L).map(i => (i, wkbOf(i))).toDF("doc_id", "wkb")
    val arrivals: Seq[(Long, Array[Byte])] =
      (1000L until 1030L).map(i => (i, wkbOf(i * 7))) :+
        ((2000L, Array[Byte](1, 2))) // unparsable → null cell, n_corpus 0
    val input = MemoryStream[(Long, Array[Byte])]
    val query = Streams.spatialIngest(input.toDF().toDF("id", "wkb"), "id", "wkb",
        corpus, "doc_id", "wkb", cellSize = 10.0)
      .writeStream.format("memory").queryName("spatial_out")
      .outputMode("append").start()
    try {
      input.addData(arrivals: _*)
      query.processAllAvailable()
      def shape(df: org.apache.spark.sql.DataFrame) = df.orderBy("id")
        .collect().map(r => (r.getLong(0),
          if (r.isNullAt(1)) None else Some((r.getLong(1), r.getLong(2))),
          r.getLong(3))).toSeq
      val got = shape(spark.table("spatial_out"))
      val batch = shape(Streams.spatialIngest(arrivals.toDF("id", "wkb"), "id", "wkb",
        corpus, "doc_id", "wkb", cellSize = 10.0))
      assert(got == batch)
      assert(got.length == 31)
      assert(got.exists(_._3 > 0), "some arrival must land in a populated cell")
      val junk = got.find(_._1 == 2000L).get
      assert(junk._2.isEmpty && junk._3 == 0L,
        "unparsable WKB must survive with a null cell and zero density")
    } finally query.stop()
  }

  test("fuzzyIngest: streamed dirty names against the static master equal batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val master = Seq((1L, "hammer"), (2L, "wrench"), (3L, "screwdriver"))
      .toDF("id", "name")
    val arrivals = Seq((100L, "hammer"), (101L, "hammr"), (102L, "wrencch"),
      (103L, "sprocket"), (104L, "xx"))
    val input = MemoryStream[(Long, String)]
    val query = graft.llm.Fuzzy.editDistanceJoin(
        input.toDF().toDF("id", "name"), master, maxDist = 2)
      .writeStream.format("memory").queryName("fuzzy_out")
      .outputMode("append").start()
    try {
      input.addData(arrivals: _*)
      query.processAllAvailable()
      def shape(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val got = shape(spark.table("fuzzy_out"))
      val batch = shape(graft.llm.Fuzzy.editDistanceJoin(
        arrivals.toDF("id", "name"), master, maxDist = 2))
      assert(got === batch)
      assert(got === Set((100L, 1L, 0L), (101L, 1L, 1L), (102L, 2L, 1L)))
    } finally query.stop()
  }

  test("annIngest: streamed embeddings against the static codebook equal batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // two well-separated directions so the 2-list codebook splits them
    def v(dir: Int, j: Int): Array[Float] = {
      val base = if (dir == 0) Array(1f, 0f, 0f, 0f) else Array(0f, 1f, 0f, 0f)
      base.map(x => x + j * 0.001f)
    }
    val corpus = (0 until 20).map(i => (i.toLong, v(i % 2, i / 2)))
      .toDF("vec_id", "embedding")
    val arrivals = Seq(
      (100L, v(0, 1)), // near-dup of the dir-0 cell members
      (101L, v(1, 3)), // near-dup of the dir-1 cell members
      (102L, Array(0f, 0f, 1f, 0f))) // orthogonal — admits clean
    val minDot = 900000L // cos ≈ 0.9 in dot_fp micro-units (Σ floor(aᵢbᵢ·10⁶))
    val input = MemoryStream[(Long, Array[Float])]
    val query = graft.llm.IvfIndex.annIngest(
        input.toDF().toDF("vec_id", "embedding"), corpus, nLists = 2,
        minDotFp = minDot, nIter = 2)
      .writeStream.format("memory").queryName("ann_out")
      .outputMode("append").start()
    try {
      input.addData(arrivals: _*)
      query.processAllAvailable()
      def shape(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getInt(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2)),
          if (r.isNullAt(3)) None else Some(r.getLong(3)))).toSet
      val got = shape(spark.table("ann_out"))
      val batch = shape(graft.llm.IvfIndex.annIngest(
        arrivals.toDF("vec_id", "embedding"), corpus, 2, minDot, 2))
      assert(got === batch)
      // dup arrivals carry match evidence; the clean one keeps a
      // single null-dup_of row (admission and evidence in one frame)
      assert(got.exists(t => t._1 == 100L && t._3.isDefined && t._4.exists(_ >= minDot)))
      assert(got.exists(t => t._1 == 101L && t._3.isDefined))
      val clean = got.filter(_._1 == 102L)
      assert(clean.size == 1 && clean.head._3.isEmpty && clean.head._4.isEmpty)
    } finally query.stop()
  }

  test("clipIngest: streamed values clip against static cutoffs, equal batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // corpus: type 'a' values 1..100 → p05 = 5, p95 = 95 (ceil-rank);
    // type 'b' constant → cutoffs collapse to the constant
    val corpus = ((1 to 100).map(i => ("a", i.toLong)) ++
      (1 to 10).map(_ => ("b", 7L))).toDF("grp", "v_fp")
    val arrivals = Seq((1L, "a", 3L), (2L, "a", 50L), (3L, "a", 99L),
      (4L, "b", 7L), (5L, "b", 100L), (6L, "zz", -5L)) // zz unseen
    val input = MemoryStream[(Long, String, Long)]
    val query = Streams.clipIngest(input.toDF().toDF("id", "grp", "v_fp"),
        corpus, "grp", "v_fp")
      .writeStream.format("memory").queryName("clip_out")
      .outputMode("append").start()
    try {
      input.addData(arrivals: _*)
      query.processAllAvailable()
      def shape(df: org.apache.spark.sql.DataFrame) =
        df.select("id", "clipped_fp", "was_clipped").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
      val got = shape(spark.table("clip_out"))
      val batch = shape(Streams.clipIngest(
        arrivals.toDF("id", "grp", "v_fp"), corpus, "grp", "v_fp"))
      assert(got === batch)
      assert(got === Set((1L, 5L, true), (2L, 50L, false), (3L, 95L, true),
        (4L, 7L, false), (5L, 7L, true), (6L, -5L, false)))
    } finally query.stop()
  }

  test("mixtureIngest: temperature-rate sampling at ingest equals batch; " +
      "up-weighted stratum keeps all, unseen stratum drops") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // big: 10000 tokens → epochs ≈ 0.92; small: 100 → epochs ≈ 9.2.
    // bf = 0.5 ⇒ small's rate saturates at 1 (kept in full), big ~0.46.
    val corpus = (Seq.fill(10)(("big", 1000L)) :+ ("small", 100L))
      .toDF("src", "n_tok")
    val arrivals = (1L to 40L).map(i => (i, if (i <= 30) "big" else "small")) :+
      (99L, "unseen")
    val input = MemoryStream[(Long, String)]
    val query = Streams.mixtureIngest(input.toDF().toDF("id", "src"),
        corpus, "src", "id", "n_tok", budgetFraction = 0.5)
      .writeStream.format("memory").queryName("mix_out")
      .outputMode("append").start()
    try {
      input.addData(arrivals: _*)
      query.processAllAvailable()
      def shape(df: org.apache.spark.sql.DataFrame) =
        df.select("id", "src").collect()
          .map(r => (r.getLong(0), r.getString(1))).toSet
      val got = shape(spark.table("mix_out"))
      val batch = shape(Streams.mixtureIngest(arrivals.toDF("id", "src"),
        corpus, "src", "id", "n_tok", budgetFraction = 0.5))
      assert(got === batch)
      assert(got.filter(_._2 == "small").map(_._1) ==
        arrivals.filter(_._2 == "small").map(_._1).toSet,
        "saturated rate must keep the whole up-weighted stratum")
      assert(!got.exists(_._2 == "unseen"), "untrained stratum must drop")
      val nBig = got.count(_._2 == "big")
      assert(nBig > 0 && nBig < 30, s"big stratum should thin (~46%), got $nBig/30")
    } finally query.stop()
  }

  test("anonymizeIngest: sub-k and unseen classes suppress quasi columns, " +
      "equal batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // class (n=7, "auto") passes k=5; (n=2, "bike") and unseen suppress
    val corpus = (Seq.fill(7)((7, "auto")) ++ Seq.fill(2)((2, "bike")))
      .toDF("nation", "segment")
    val arrivals = Seq((1L, 7, "auto", 10L), (2L, 2, "bike", 20L),
      (3L, 9, "boat", 30L))
    val input = MemoryStream[(Long, Int, String, Long)]
    val query = Streams.anonymizeIngest(
        input.toDF().toDF("id", "nation", "segment", "payload"),
        corpus, Seq("nation", "segment"), k = 5L)
      .writeStream.format("memory").queryName("anon_out")
      .outputMode("append").start()
    try {
      input.addData(arrivals: _*)
      query.processAllAvailable()
      def shape(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0),
          if (r.isNullAt(1)) None else Some(r.getInt(1)),
          Option(r.getString(2)), r.getLong(3), r.getBoolean(4))).toSet
      val got = shape(spark.table("anon_out"))
      val batch = shape(Streams.anonymizeIngest(
        arrivals.toDF("id", "nation", "segment", "payload"),
        corpus, Seq("nation", "segment"), k = 5L))
      assert(got === batch)
      assert(got === Set(
        (1L, Some(7), Some("auto"), 10L, false),
        (2L, None, None, 20L, true),
        (3L, None, None, 30L, true)))
    } finally query.stop()
  }

  test("sketch twins: HLL registers and CM counters accumulate across " +
      "micro-batches to the exact batch grids") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val batch1 = (1 to 30).map(i => (1L + i % 3, s"doc token$i shared"))
    val batch2 = (31 to 50).map(i => (1L + i % 3, s"doc token$i shared extra$i"))
    val all = batch1 ++ batch2

    val hin = MemoryStream[(Long, String)]
    val hllQ = graft.llm.Sketches.hllRegisters(hin.toDF().toDF("g", "k"),
        col("g"), col("k"))
      .writeStream.format("memory").queryName("hll_out")
      .outputMode("complete").start()
    val cin = MemoryStream[(Long, String)]
    val cmQ = Streams.cmCounters(cin.toDF().toDF("doc_id", "text"), width = 64)
      .writeStream.format("memory").queryName("cm_out")
      .outputMode("complete").start()
    try {
      // two separate micro-batches: the grids must MERGE, not reset
      hin.addData(batch1: _*); cin.addData(batch1: _*)
      hllQ.processAllAvailable(); cmQ.processAllAvailable()
      hin.addData(batch2: _*); cin.addData(batch2: _*)
      hllQ.processAllAvailable(); cmQ.processAllAvailable()

      val gotHll = spark.table("hll_out")
        .as[(Long, Long, Long)].collect().toSet
      val wantHll = graft.llm.Sketches.hllRegisters(
          all.toDF("g", "k"), col("g"), col("k"))
        .as[(Long, Long, Long)].collect().toSet
      assert(gotHll === wantHll)

      val gotCm = spark.table("cm_out")
        .as[(Int, Long, Long)].collect().toSet
      val wantCm = Streams.cmCounters(all.toDF("doc_id", "text"), width = 64)
        .as[(Int, Long, Long)].collect().toSet
      assert(gotCm === wantCm)
      // fixed-state contract: the grids never exceed their geometry
      assert(gotHll.size <= 3 * 64)
      assert(gotCm.size <= 4 * 64)
    } finally { hllQ.stop(); cmQ.stop() }
  }

  test("log2Histogram twin: bucket grid accumulates across micro-batches; " +
      "live quantile read equals the batch card") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val batch1 = (1 to 40).map(i => ("s" + i % 2, (i * 7 % 200).toLong))
    val batch2 = (41 to 90).map(i => ("s" + i % 2, (i * 13 % 1000).toLong))
    val all = batch1 ++ batch2
    val in = MemoryStream[(String, Long)]
    val q = graft.llm.Sketches.log2Histogram(in.toDF().toDF("g", "n"),
        col("g"), col("n"))
      .writeStream.format("memory").queryName("hist_out")
      .outputMode("complete").start()
    try {
      in.addData(batch1: _*)
      q.processAllAvailable()
      in.addData(batch2: _*)
      q.processAllAvailable()
      val got = spark.table("hist_out").as[(String, Int, Long)].collect().toSet
      val want = graft.llm.Sketches.log2Histogram(
        all.toDF("g", "n"), col("g"), col("n"))
        .as[(String, Int, Long)].collect().toSet
      assert(got === want)
      assert(got.size <= 2 * 64, "grid must stay within its geometry")
      // the live grid serves the running quantile, == the batch card's
      val totals = all.toDF("g", "n").groupBy(col("g"))
        .agg(count(lit(1)).as("n_docs"))
      val live = graft.llm.Sketches.histQuantile(
        spark.table("hist_out"), totals, 50).as[(String, Long)].collect().toSet
      val batchQ = graft.llm.Sketches.histQuantile(
        graft.llm.Sketches.log2Histogram(all.toDF("g", "n"), col("g"), col("n")),
        totals, 50).as[(String, Long)].collect().toSet
      assert(live === batchQ)
    } finally q.stop()
  }

  test("fuzzyIngest: streamed near-dup admission equals the batch gate; " +
      "edited copies verify, fresh docs pass") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // indexed corpus: two long-ish docs + one short one
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (2L, "spark engines shuffle partitions across executors for wide joins"),
      (3L, "tiny doc")).toDF("doc_id", "text")
    val sets = graft.llm.MinHashLSH.shingleSets(corpus, "doc_id", "text", 3)
    val bands = graft.llm.MinHashLSH.bandIndexFromSets(sets, 8, 1)
    val arrivals = Seq(
      // edited copy of doc 1 (one appended word — byte-dedup blind)
      (10L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (11L, "spark engines shuffle partitions across executors for wide joins"), // exact
      (12L, "completely unrelated sentence about marine biology and corals"),
      (13L, ""))                                                                 // empty
    val in = MemoryStream[(Long, String)]
    val q = graft.llm.MinHashLSH.fuzzyAdmission(
        in.toDF().toDF("doc_id", "text"), "doc_id", "text", bands, sets,
        shingleN = 3, numHashes = 8, rowsPerBand = 1, minJaccardFp = 500000L)
      .writeStream.format("memory").queryName("fuzzy_out")
      .outputMode("complete").start()
    try {
      in.addData(arrivals: _*)
      q.processAllAvailable()
      def shape(df: org.apache.spark.sql.DataFrame) = df
        .collect().map(_.toSeq).toSeq.sortBy(_.head.asInstanceOf[Long])
      val got = shape(spark.table("fuzzy_out"))
      val batch = shape(graft.llm.MinHashLSH.fuzzyAdmission(
        arrivals.toDF("doc_id", "text"), "doc_id", "text",
        bands, sets, 3, 8, 1, 500000L))
      assert(got === batch, "stream must equal the batch gate exactly")
      val byId = got.map(r => r.head -> r).toMap
      assert(byId(10L)(5) === "near_dup", "edited copy must verify")
      assert(byId(10L)(3) === 1L, "edited copy's best match is doc 1")
      assert(byId(11L)(4) === 1000000L, "exact copy verifies at Jaccard 1")
      assert(byId(12L)(5) === "unique", "fresh doc must pass")
      assert(byId(13L).size === 6, "empty-text arrival still gets a row")
    } finally q.stop()
  }

  test("spanStripIngest: streamed span removal equals the batch strip; " +
      "planted boilerplate leaves, fresh text survives") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val boiler = "all rights reserved contact us for details"
    val corpus = Seq(
      (1L, s"alpha beta gamma $boiler"),
      (2L, s"delta epsilon zeta $boiler"),
      (3L, "eta theta iota kappa")).toDF("doc_id", "text")
    val grams = graft.llm.Dedup.dupGramIndex(corpus, "doc_id", "text", 3, 2L)
    val arrivals = Seq(
      (10L, s"fresh words here $boiler and a tail"),
      (11L, "completely novel sentence with no repeats"),
      (12L, ""))
    val in = MemoryStream[(Long, String)]
    val q = graft.llm.Dedup.stripSpans(in.toDF().toDF("doc_id", "text"),
        "doc_id", "text", 3, grams)
      .writeStream.format("memory").queryName("strip_out")
      .outputMode("complete").start()
    try {
      in.addData(arrivals: _*)
      q.processAllAvailable()
      def shape(df: org.apache.spark.sql.DataFrame) = df
        .collect().map(_.toSeq).toSeq.sortBy(_.head.asInstanceOf[Long])
      val got = shape(spark.table("strip_out"))
      val batch = shape(graft.llm.Dedup.stripSpans(
        arrivals.toDF("doc_id", "text"), "doc_id", "text", 3, grams))
      assert(got === batch, "stream must equal the batch strip exactly")
      val byId = got.map(r => r.head -> r).toMap
      assert(byId(10L)(3) === "fresh words here and a tail",
        "the planted boilerplate span must strip, the rest survive")
      assert(byId(11L)(2) === 0L && byId(11L)(3) ===
        "completely novel sentence with no repeats")
      assert(byId(12L)(1) === 0L && byId(12L)(3) === "",
        "empty-text arrival still gets a row")
    } finally q.stop()
  }

  test("fuzzyIngestBbit: streamed screened admission equals the batch " +
      "gate; the screen passes true near-dups and fresh docs pass") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (2L, "spark engines shuffle partitions across executors for wide joins"),
      (3L, "tiny doc")).toDF("doc_id", "text")
    val sets = graft.llm.MinHashLSH.shingleSets(corpus, "doc_id", "text", 3)
    val bands = graft.llm.MinHashLSH.bandIndexFromSets(sets, 8, 1)
    val words = graft.llm.MinHashLSH.packedWords(sets)
    val arrivals = Seq(
      (10L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (11L, "spark engines shuffle partitions across executors for wide joins"),
      (12L, "completely unrelated sentence about marine biology and corals"),
      (13L, ""))
    val in = MemoryStream[(Long, String)]
    val q = graft.llm.MinHashLSH.fuzzyAdmissionBbit(
        in.toDF().toDF("doc_id", "text"), "doc_id", "text", bands, words,
        sets, shingleN = 3, numHashes = 8, rowsPerBand = 1,
        screenMinPpm = 250000L, minJaccardFp = 500000L)
      .writeStream.format("memory").queryName("fuzzybb_out")
      .outputMode("complete").start()
    try {
      in.addData(arrivals: _*)
      q.processAllAvailable()
      def shape(df: org.apache.spark.sql.DataFrame) = df
        .collect().map(_.toSeq).toSeq.sortBy(_.head.asInstanceOf[Long])
      val got = shape(spark.table("fuzzybb_out"))
      val batch = shape(graft.llm.MinHashLSH.fuzzyAdmissionBbit(
        arrivals.toDF("doc_id", "text"), "doc_id", "text",
        bands, words, sets, 3, 8, 1, 250000L, 500000L))
      assert(got === batch, "stream must equal the batch gate exactly")
      val byId = got.map(r => r.head -> r).toMap
      assert(byId(10L)(6) === "near_dup", "edited copy must survive the screen")
      assert(byId(11L)(5) === 1000000L, "exact copy verifies at Jaccard 1")
      assert(byId(12L)(6) === "unique", "fresh doc must pass")
      assert(byId(13L).size === 7, "empty-text arrival still gets a row")
    } finally q.stop()
  }

  test("tombstoneIngest: streamed erase impact equals the batch meter; " +
      "resurrections and unknown ids read correctly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val N = 4; val Cap = 2
    // bucket at cap+1 (docs 1-3 identical) → erasing any one is a
    // resurrection trigger on every band; doc 4 is under cap → live
    val corpus = Seq(
      (1L, "alpha beta gamma"), (2L, "alpha beta gamma"),
      (3L, "alpha beta gamma"), (4L, "delta epsilon zeta"))
      .toDF("doc_id", "text")
    val built = graft.llm.MinHashLSH.signatureIndex(corpus, "doc_id",
      "text", 2, N, 1, Cap)
    val tombstones = Seq(Tuple1(1L), Tuple1(4L), Tuple1(999L))
    val in = MemoryStream[Tuple1[Long]]
    val q = graft.llm.MinHashLSH.eraseImpact(in.toDF().toDF("doc_id"),
        "doc_id", built.sets, built.counts, N, 1, Cap)
      .writeStream.format("memory").queryName("tomb_out")
      .outputMode("complete").start()
    try {
      in.addData(tombstones: _*)
      q.processAllAvailable()
      def shape(df: org.apache.spark.sql.DataFrame) = df
        .collect().map(_.toSeq).toSeq.sortBy(_.head.asInstanceOf[Long])
      val got = shape(spark.table("tomb_out"))
      val batch = shape(graft.llm.MinHashLSH.eraseImpact(
        tombstones.toDF("doc_id"), "doc_id", built.sets, built.counts,
        N, 1, Cap))
      assert(got === batch, "stream must equal the batch meter exactly")
      val byId = got.map(r => r.head -> r).toMap
      assert(byId(1L)(1) === true && byId(1L)(4) === 0L &&
        byId(1L)(5) === N.toLong, "over-cap-by-one doc: all resurrections")
      assert(byId(4L)(4) === N.toLong && byId(4L)(5) === 0L,
        "under-cap doc: all rows live")
      assert(byId(999L)(1) === false && byId(999L)(3) === 0L,
        "unknown id keeps its row with zero bands")
    } finally q.stop()
  }

  test("importanceIngest: streamed scores equal the batch serve; " +
      "unseen vocab scores at the smoothing constant") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val B = 4096
    val corpus = Seq(
      (1L, "alpha beta gamma alpha"), (2L, "beta gamma delta"),
      (3L, "epsilon zeta eta")).toDF("doc_id", "text")
    val counts = graft.llm.Importance.bucketCounts(corpus, "doc_id",
      "text", B)
    val tCounts = counts.filter(col("doc_id") <= 2L) // target = docs 1, 2
    val weights = graft.llm.Importance.bucketWeights(tCounts, counts, B)
    val w0 = graft.llm.Importance.unseenWeight(tCounts, counts, B)
      .head().getLong(0)
    val arrivals = Seq((10L, "alpha beta"), (11L, "totallynew vocabulary"),
      (12L, ""), (13L, "epsilon zeta"))
    val in = MemoryStream[(Long, String)]
    val q = graft.llm.Importance.scoreArrivals(in.toDF().toDF("doc_id", "text"),
        "doc_id", "text", weights, w0, B)
      .writeStream.format("memory").queryName("imp_out")
      .outputMode("complete").start()
    try {
      in.addData(arrivals: _*)
      q.processAllAvailable()
      def shape(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val got = shape(spark.table("imp_out"))
      val batch = shape(graft.llm.Importance.scoreArrivals(
        arrivals.toDF("doc_id", "text"), "doc_id", "text", weights, w0, B))
      assert(got === batch, "stream must equal the batch serve exactly")
      val byId = got.map(r => r._1 -> r).toMap
      assert(byId(11L)._3 === w0,
        "an all-unseen arrival scores exactly the smoothing constant")
      assert(byId(10L)._3 > byId(13L)._3,
        "target vocab must outscore raw-only vocab")
      assert(byId(12L)._2 === 1L, "blank arrival carries the '' shingle")
    } finally q.stop()
  }

  test("watermarkIngest: the stateless screen equals the batch card " +
      "and runs in APPEND mode") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val arrivals = Seq(
      (1L, (0 until 80).map(i => s"tok${(i * 7) % 40}").mkString(" ")),
      (2L, "short doc"), (3L, ""))
    val in = MemoryStream[(Long, String)]
    // stateless projection => append mode is legal (no aggregate)
    val q = graft.llm.TextAnalysis.watermarkScreen(
        in.toDF().toDF("doc_id", "text"), "doc_id", "text", minPairs = 50L)
      .writeStream.format("memory").queryName("wm_out")
      .outputMode("append").start()
    try {
      in.addData(arrivals: _*)
      q.processAllAvailable()
      def shape(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getBoolean(4))).toSet
      assert(shape(spark.table("wm_out")) ===
        shape(graft.llm.TextAnalysis.watermarkScreen(
          arrivals.toDF("doc_id", "text"), "doc_id", "text", 50L)),
        "stream must equal the batch screen exactly")
    } finally q.stop()
  }

  test("bootstrapIngest: the live replicate grid equals the batch " +
      "resampler after every batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows1 = (0 until 150).map(i => (i.toLong, (i % 9).toLong))
    val rows2 = (150 until 260).map(i => (i.toLong, (i % 9).toLong))
    val in = MemoryStream[(Long, Long)]
    val q = graft.llm.Bootstrap.replicateMeans(in.toDF().toDF("id", "x"),
        col("id"), col("x"), 16)
      .writeStream.format("memory").queryName("boot_out")
      .outputMode("complete").start()
    try {
      def shape(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
        .toSeq
      in.addData(rows1: _*)
      q.processAllAvailable()
      assert(shape(spark.table("boot_out")) ===
        shape(graft.llm.Bootstrap.replicateMeans(rows1.toDF("id", "x"),
          col("id"), col("x"), 16)), "mid-stream grid must equal batch")
      in.addData(rows2: _*)
      q.processAllAvailable()
      assert(shape(spark.table("boot_out")) ===
        shape(graft.llm.Bootstrap.replicateMeans(
          (rows1 ++ rows2).toDF("id", "x"), col("id"), col("x"), 16)),
        "the grid after batch 2 must equal the batch resampler on the union")
    } finally q.stop()
  }

  test("kappaIngest: the live consensus card equals the batch pivot " +
      "after every batch; unpinned labels lump") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val pinned = Seq("en", "no")
    // batch 1: labelers mostly agree; batch 2: labeler B drifts to an
    // unpinned language (lumps to OTHER) — live kappa must fall
    val rows1 = (0 until 80).map { i =>
      val a = if (i % 4 == 0) "no" else "en"
      (i.toLong, a, if (i % 16 == 1) "no" else a)
    }
    val rows2 = (80 until 140).map { i =>
      (i.toLong, if (i % 4 == 0) "no" else "en", "xx")
    }
    val in = MemoryStream[(Long, String, String)]
    val q = graft.llm.LabelQa.kappaPivot(in.toDF().toDF("id", "lab_a", "lab_b"),
        "lab_a", "lab_b", pinned)
      .writeStream.format("memory").queryName("kappa_out")
      .outputMode("complete").start()
    try {
      def shape(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(_.toSeq).toSeq
      def batchOf(rows: Seq[(Long, String, String)]) =
        shape(graft.llm.LabelQa.kappaPivot(
          rows.toDF("id", "lab_a", "lab_b"), "lab_a", "lab_b", pinned))
      in.addData(rows1: _*)
      q.processAllAvailable()
      assert(shape(spark.table("kappa_out")) === batchOf(rows1),
        "mid-stream card must equal the batch pivot")
      val k1 = spark.table("kappa_out").collect().head
        .getAs[Long]("kappa_ppm")
      in.addData(rows2: _*)
      q.processAllAvailable()
      assert(shape(spark.table("kappa_out")) === batchOf(rows1 ++ rows2),
        "the card after batch 2 must equal the batch pivot on the union")
      val k2 = spark.table("kappa_out").collect().head
        .getAs[Long]("kappa_ppm")
      assert(k1 > 800000L, "the agreeing feed reads high kappa " +
        "(5/80 planted disagreements on 3:1 marginals = 0.846)")
      assert(k2 < k1 - 300000L, "the drifted labeler must crater live kappa")
    } finally q.stop()
  }

  test("fleissIngest: the live k-rater consensus equals the batch pivot " +
      "after every batch; a drifted rater craters it") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val pinned = Seq("en", "no")
    // batch 1: three raters near-unanimous; batch 2: rater 3 flips to
    // a constant unpinned label (lumps to OTHER) — live kappa must fall
    val rows1 = (0 until 60).map { i =>
      val t = if (i % 3 == 0) "no" else "en"
      (i.toLong, Seq(t, t, if (i % 12 == 1) "no" else t))
    }
    val rows2 = (60 until 120).map { i =>
      val t = if (i % 3 == 0) "no" else "en"
      (i.toLong, Seq(t, t, "xx"))
    }
    val in = MemoryStream[(Long, Seq[String])]
    val q = graft.llm.LabelQa.fleissPivot(in.toDF().toDF("id", "labs"),
        "labs", pinned, 3)
      .writeStream.format("memory").queryName("fleiss_out")
      .outputMode("complete").start()
    try {
      def shape(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(_.toSeq).toSeq
      def batchOf(rows: Seq[(Long, Seq[String])]) =
        shape(graft.llm.LabelQa.fleissPivot(
          rows.toDF("id", "labs"), "labs", pinned, 3))
      in.addData(rows1: _*)
      q.processAllAvailable()
      assert(shape(spark.table("fleiss_out")) === batchOf(rows1),
        "mid-stream card must equal the batch pivot")
      val k1 = spark.table("fleiss_out").collect().head
        .getAs[Long]("kappa_ppm")
      in.addData(rows2: _*)
      q.processAllAvailable()
      assert(shape(spark.table("fleiss_out")) === batchOf(rows1 ++ rows2),
        "the card after batch 2 must equal the batch pivot on the union")
      val k2 = spark.table("fleiss_out").collect().head
        .getAs[Long]("kappa_ppm")
      assert(k1 > 800000L, "the near-unanimous feed reads high kappa")
      assert(k2 < k1 - 300000L, "the drifted rater must crater live kappa")
    } finally q.stop()
  }

  test("debtIngest: the live fold-debt meter equals the batch schedule " +
      "per artifact, across a micro-batch boundary mid-generation") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // two maintained artifacts interleaved; the split lands epochs
    // 0-2 in batch 1 and 3-7 in batch 2, crossing sig's checkpoint
    val sig = Seq((0L, 1000L, 0L), (1L, 500L, 100L), (2L, 0L, 0L),
      (3L, 2000L, 400L), (4L, 100L, 300L), (5L, 0L, 150L),
      (6L, 800L, 0L), (7L, 50L, 10L))
    val ivf = Seq((0L, 400L, 0L), (1L, 0L, 0L), (2L, 100L, 90L),
      (3L, 0L, 0L), (4L, 50L, 45L), (5L, 600L, 0L))
    def rows(art: String, eps: Seq[(Long, Long, Long)]) =
      eps.map { case (e, a, r) => (art, e, a, r) }
    val all = rows("sig", sig) ++ rows("ivf", ivf)
    val (b1, b2) = all.partition(_._2 <= 2L)
    val in = MemoryStream[(String, Long, Long, Long)]
    val q = Streams.debtIngest(
        in.toDF().toDF("artifact", "epoch", "arrivals", "erases"),
        "artifact", "epoch", "arrivals", "erases")
      .writeStream.format("memory").queryName("debt_out")
      .outputMode("append").start()
    try {
      in.addData(b1: _*)
      q.processAllAvailable()
      in.addData(b2: _*)
      q.processAllAvailable()
      def got(art: String) = spark.table("debt_out")
        .filter(col("artifact") === art).drop("artifact")
        .orderBy("epoch").collect().map(_.toSeq).toSeq
      def want(eps: Seq[(Long, Long, Long)]) = graft.llm.FoldDebt
        .schedule(eps.toDF("epoch", "arrivals", "erases"), "epoch",
          "arrivals", "erases")
        .select("epoch", "batch_rows", "erase_rows", "live_rows",
          "debt_ppm", "cum_debt_ppm", "debt_gen", "cum_tomb_ppm",
          "tomb_gen", "action", "chain_depth")
        .orderBy("epoch").collect().map(_.toSeq).toSeq
      assert(got("sig") === want(sig),
        "sig meter must equal the batch schedule across the boundary")
      assert(got("ivf") === want(ivf),
        "ivf meter must equal the batch schedule across the boundary")
      assert(spark.table("debt_out").count() === (sig.size + ivf.size),
        "append mode: each epoch's verdict emits exactly once")
    } finally q.stop()
  }

  test("debtIngest: a regressed epoch kills the query loudly instead of " +
      "silently mis-pricing the fold chain") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, Long, Long, Long)]
    val q = Streams.debtIngest(
        in.toDF().toDF("artifact", "epoch", "arrivals", "erases"),
        "artifact", "epoch", "arrivals", "erases")
      .writeStream.format("memory").queryName("debt_regress")
      .outputMode("append").start()
    try {
      in.addData(("sig", 5L, 100L, 0L))
      q.processAllAvailable()
      assert(spark.table("debt_regress").count() === 1L)
      // epoch 3 arrives AFTER epoch 5 folded — a replayed crawl
      // summary must fail the stream, not rewrite history
      in.addData(("sig", 3L, 50L, 0L))
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
        q.awaitTermination()
      }
      def messages(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x =>
          Option(x.getMessage).toSeq ++ messages(x.getCause))
      assert(messages(e).exists(_.contains("arrived at or before")),
        s"the kernel's monotone-epoch require must surface: ${messages(e)}")
    } finally q.stop()
  }

  test("driftIngest: streamed chi-square verdicts equal the batch pivot; " +
      "an unseen language alarms against its zero baseline") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val cells = Seq("en", "de")
    val baseline = (0 until 200).map(i =>
      ("s" + i % 2, if (i % 8 < 2) "en" else "de")).toDF("src", "lang")
    // s0 drifts hard (all arrivals flip to en + an unseen language);
    // s1 stays on the baseline mix
    val arrivals = (0 until 60).map { i =>
      if (i % 2 == 0) ("s0", if (i % 6 == 0) "xx" else "en")
      else ("s1", if (i % 8 == 1) "en" else "de")
    }
    val in = MemoryStream[(String, String)]
    val q = graft.llm.Drift.chiSquarePivot(in.toDF().toDF("src", "lang"),
        baseline, "src", "lang", cells)
      .writeStream.format("memory").queryName("drift_out")
      .outputMode("complete").start()
    try {
      in.addData(arrivals: _*)
      q.processAllAvailable()
      def shape(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getString(0), r.getLong(5), r.getBoolean(7))).toSet
      val got = shape(spark.table("drift_out"))
      val batch = shape(graft.llm.Drift.chiSquarePivot(
        arrivals.toDF("src", "lang"), baseline, "src", "lang", cells))
      assert(got === batch, "stream must equal the batch pivot exactly")
      val byS = got.map(r => r._1 -> r._3).toMap
      assert(byS("s0"), "the flipped+unseen feed must alarm")
      assert(!byS("s1"), "the on-mix feed must not alarm")
    } finally q.stop()
  }

  test("sampleIngest: bounded bottom-k state; live sample equals the batch cut") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val batch1 = (1L to 60L).map(i => ("s" + i % 3, i))
    val batch2 = (61L to 140L).map(i => ("s" + i % 3, i))
    val all = batch1 ++ batch2
    val in = MemoryStream[(String, Long)]
    val q = Streams.sampleIngest(in.toDF().toDF("g", "id"), "g", "id", k = 4)
      .writeStream.format("memory").queryName("sample_out")
      .outputMode("complete").start()
    try {
      in.addData(batch1: _*)
      q.processAllAvailable()
      in.addData(batch2: _*)
      q.processAllAvailable()
      val got = spark.table("sample_out")
        .as[(String, Long, Long, Long)].collect().toSet
      val want = Streams.sampleIngest(
        all.toDF("g", "id"), "g", "id", k = 4)
        .as[(String, Long, Long, Long)].collect().toSet
      assert(got === want)
      assert(got.size === 3 * 4, "k rows per group, no more")
      // the sample is the k smallest hashes — recompute the cut in Scala
      def h(id: Long) = java.lang.Long.parseLong(
        org.apache.commons.codec.digest.DigestUtils.md5Hex(id.toString)
          .substring(0, 8), 16)
      val wantScala = all.groupBy(_._1).flatMap { case (g, rs) =>
        rs.map { case (_, id) => (h(id), id) }.sortBy(identity).take(4)
          .zipWithIndex.map { case ((hh, id), i) => (g, i + 1L, hh, id) }
      }.toSet
      assert(got === wantScala)
    } finally q.stop()
  }

  test("parseJsonStream: Json2Spark schema drives from_json; malformed rows flagged") {
    import spark.implicits._
    val schema = graft.schema.JsonSchemaToStruct.convert(
      """{"properties": {
        |  "id": {"type": "integer"}, "kind": {"type": "string"}}}""".stripMargin)
    val raw = Seq("""{"id": 1, "kind": "x"}""", "not json at all").toDF("value")
    val parsed = Streams.parseJsonStream(raw, schema).collect()
    assert(parsed.length == 2)
    val ok = parsed.find(_.getBoolean(2)).get
    assert(ok.getLong(0) == 1L && ok.getString(1) == "x")
    assert(parsed.count(!_.getBoolean(2)) == 1)
  }

  test("integrityIngest: running card across micro-batches equals batch card") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Long, String)]
    val fields = Seq(col("id").cast("string"), coalesce(col("txt"), lit("")))
    val query = Streams.integrityIngest(
        input.toDF().toDF("src", "id", "txt"), "src", fields)
      .writeStream.format("memory").queryName("integrity_out")
      .outputMode("complete").start()
    val b1 = Seq(("s1", 1L, "alpha"), ("s1", 2L, "beta"), ("s2", 9L, "x"))
    val b2 = Seq(("s1", 3L, "gamma"), ("s1", 1L, "alpha")) // exact dup row
    try {
      input.addData(b1: _*)
      query.processAllAvailable()
      input.addData(b2: _*)
      query.processAllAvailable()
      val got = spark.table("integrity_out")
        .select("g", "n_rows", "sum_hash", "min_hash", "max_hash")
        .as[(String, Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
      // the batch card over everything that flowed, commutative cols only
      val batch = graft.llm.Sketches.integrityCard(
          (b1 ++ b2).toDF("src", "id", "txt"), col("src"), fields)
        .select("g", "n_rows", "sum_hash", "min_hash", "max_hash")
        .as[(String, Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
      assert(got === batch)
      // and the dup contributed: s1 counted 4 rows across 2 batches
      assert(got.find(_._1 == "s1").get._2 === 4L)
    } finally query.stop()
  }
}
