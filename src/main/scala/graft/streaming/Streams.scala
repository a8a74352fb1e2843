package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.StructType

/** Top-level so Spark derives Encoders (inner classes cannot). */
private[streaming] case class FpDoc(doc_id: Long, ts: java.sql.Timestamp,
    fp: String, in_corpus: Boolean)
/** `maxTsMs` remembers the latest event time ever observed for the
  * key, so a late (within-watermark) duplicate cannot REWIND the
  * eviction timeout below what an earlier batch established. */
private[streaming] case class SeenState(seen: Boolean, maxTsMs: Long)

private[streaming] case class DebtEpoch(artifact: String, epoch: Long,
  arrivals: Long, erases: Long)

/** Structured Streaming operators over the `events` stream shape
  * (event_id, ts, user_id, event_type, value, props).
  *
  * The reference has no streaming surface (SURVEY.md §2.2), but the
  * engine's event analytics (q9 hourly buckets, q11 sessionization)
  * must also run continuously at scale, so the same aggregations are
  * provided as watermarked streaming transforms: `readStream` →
  * these → `writeStream`. Each works identically on a batch
  * DataFrame — the batch path doubles as the correctness oracle (see
  * StreamingSpec, which checks streaming output == q11's lag-based
  * batch sessionization).
  *
  * Scale notes: state size is bounded by the watermark (late data
  * beyond it is dropped and its state evicted); aggregations shuffle
  * on (window, key) exactly like their batch twins; session windows
  * use Spark's native session_window state merging rather than a
  * custom flatMapGroupsWithState, so state checkpointing and AQE-less
  * streaming planning stay on the built-in, well-tested path.
  */
object Streams {

  /** Production default for [[classifyIngest]]'s vocabulary cap: the
    * 2²⁰ highest-total-count token types. At ~100 B per map entry
    * that bounds the broadcast vote map near 100 MB — safe on any
    * driver — while sitting far above the train vocabulary of every
    * tested corpus, so default routing stays batch-exact there. A
    * 10⁸-type multilingual crawl hits the cap instead of the driver;
    * uncapped is an explicit `maxVocab = 0` opt-in. */
  val DefaultMaxVocab: Int = 1 << 20

  private def cents4(c: Column): Column =
    floor(c * lit(10000.0)).cast("bigint")

  /** `col` and `withWatermark` PARSE their argument as a (possibly
    * dotted) identifier, so a caller-supplied name like `l-ts` throws
    * unless quoted. Operator parameters are literal column names —
    * quote them. */
  private def qname(name: String): String =
    s"`${name.replace("`", "``")}`"

  private def qcol(name: String): Column = col(qname(name))

  /** Tumbling hourly counts per event type — streaming twin of q9. */
  def hourlyCounts(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(cents4(col("value")).cast("decimal(38,0)")).cast("bigint").as("sum_value_fp"))
      .select(col("w.start").as("hour_ts"), col("event_type"),
        col("n_events"), col("sum_value_fp"))

  /** Per-user session aggregation on an inactivity gap — streaming
    * twin of q11 (which derives sessions with a lag window in batch).
    * Runs on batch DataFrames too, enabling exact equivalence tests. */
  def sessionStats(events: DataFrame, gap: String = "30 minutes",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"))

  /** Streaming exact dedup: keeps the first-ARRIVED event per `keys`,
    * with state evicted once the watermark passes
    * (`dropDuplicatesWithinWatermark`), so the dedup-state store is
    * bounded by event-time skew instead of growing with the stream.
    * Note the semantics difference from the batch `Dedup.exact(_,
    * keys, "ts")`: streaming keeps the first row to ARRIVE, batch
    * keeps the minimum-`ts` row — they agree exactly when duplicates
    * arrive in event-time order (the common at-least-once-replay
    * case), and may keep a different-but-equivalent-key row when
    * late events arrive out of order. StreamingSpec pins the in-order
    * equivalence. */
  def dedupWithinWatermark(events: DataFrame, keys: Seq[String],
      watermark: String = "2 hours", tsCol: String = "ts"): DataFrame =
    events
      .withWatermark(qname(tsCol), watermark)
      .dropDuplicatesWithinWatermark(keys)

  /** Stream-stream interval join — the continuous twin of
    * [[graft.temporal.RangeJoin]]: each left event joins right events
    * of the same key whose time lies in `[leftTs − bound, leftTs]`.
    * Spark requires watermarks on both sides plus the time-range
    * condition, and then bounds join state to watermark + range —
    * neither side's state grows with the stream. Column names must be
    * disjoint between the two sides (rename before calling); the
    * condition is built from Column expressions, so names needing
    * backticks resolve correctly. */
  def intervalJoin(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String, leftTs: String, rightTs: String,
      bound: String = "5 minutes", watermark: String = "2 hours"): DataFrame =
    left.withWatermark(qname(leftTs), watermark)
      .join(right.withWatermark(qname(rightTs), watermark),
        qcol(leftKey) === qcol(rightKey) &&
          qcol(rightTs) >= qcol(leftTs) - expr(s"INTERVAL $bound") &&
          qcol(rightTs) <= qcol(leftTs))

  /** Streaming incremental-ingest dedup — the continuous twin of
    * [[graft.llm.Dedup.incremental]]: every arriving document (doc_id,
    * ts, text) classifies against a STATIC corpus fingerprint index
    * (stream-static left join — stateless) and against the stream's
    * own history (`flatMapGroupsWithState` keyed on the fingerprint:
    * first arrival → `new`, later arrivals → `dup_in_stream`; any
    * fingerprint present in the index → `dup_of_corpus`). This is the
    * one custom-state operator in the streaming surface — exact dedup
    * VERDICTS (every row kept, labeled) need per-key memory that
    * `dropDuplicatesWithinWatermark` (which drops rows) cannot
    * express.
    *
    * Within a micro-batch a group's rows classify in (ts, doc_id)
    * order — EVENT-time order, where the batch operator's window
    * orders by id alone — so stream and batch verdicts coincide
    * exactly when ids are assigned in event-time order (the common
    * monotonic-ingest case, which StreamingSpec pins); across batches,
    * arrival order decides, the same first-to-ARRIVE semantics as
    * [[dedupWithinWatermark]].
    *
    * Scale: state per distinct in-flight fingerprint is ONE boolean,
    * evicted by event-time timeout once the watermark passes its last
    * arrival; the corpus index joins as a static side (broadcast or
    * shuffled by size), never held in stream state. Null text
    * normalizes to empty exactly like the batch twin. */
  def incrementalStatus(docs: DataFrame, corpusFps: DataFrame,
      watermark: String = "2 hours",
      stateTtlMs: Long = 2L * 3600 * 1000): DataFrame = {
    // the eviction horizon must never undercut admissible lateness: a
    // caller raising the watermark without raising the TTL would evict
    // key state while late-but-within-watermark duplicates are still
    // admissible — silently reclassifying them as 'new'
    val wmIv = org.apache.spark.sql.catalyst.util.IntervalUtils.stringToInterval(
      org.apache.spark.unsafe.types.UTF8String.fromString(watermark))
    val wmMs = wmIv.months.toLong * 31L * 86400000L +
      wmIv.days.toLong * 86400000L + wmIv.microseconds / 1000L
    require(stateTtlMs >= wmMs,
      s"stateTtlMs ($stateTtlMs) must cover the watermark delay " +
        s"('$watermark' = ${wmMs}ms) or in-watermark duplicates evict early")
    val spark = docs.sparkSession
    import spark.implicits._
    val fps = docs
      .select(col("doc_id"), col("ts"),
        graft.llm.Dedup.fingerprintOrEmpty(col("text")).as("fp"))
      .withWatermark("ts", watermark)
      .join(corpusFps.select(col("fp")).distinct()
        .withColumn("in_corpus", lit(true)), Seq("fp"), "left")
      .select(col("doc_id"), col("ts"), col("fp"),
        coalesce(col("in_corpus"), lit(false)).as("in_corpus"))
      .as[FpDoc]
    fps.groupByKey(_.fp)
      .flatMapGroupsWithState[SeenState, (Long, String, String)](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (fp: String, rows: Iterator[FpDoc],
            state: org.apache.spark.sql.streaming.GroupState[SeenState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val sorted = rows.toSeq.sortBy(r => (r.ts.getTime, r.doc_id))
            var seen = state.exists && state.get.seen
            val out = sorted.map { r =>
              val status =
                if (r.in_corpus) "dup_of_corpus"
                else if (!seen) { seen = true; "new" }
                else "dup_in_stream"
              (r.doc_id, r.fp, status)
            }
            // corpus-dup groups never create state (nothing to forget);
            // setTimeoutTimestamp requires existing state, so the
            // timeout rides the same branch as the update. The timeout
            // derives from the MAX event time ever seen for the key —
            // a late duplicate must extend-or-keep the eviction point,
            // never rewind it below an earlier batch's horizon.
            if (seen && sorted.nonEmpty) {
              val prevMax = if (state.exists) state.get.maxTsMs else Long.MinValue
              val maxTs = math.max(prevMax, sorted.last.ts.getTime)
              state.update(SeenState(seen, maxTs))
              state.setTimeoutTimestamp(maxTs + stateTtlMs)
            }
            out.iterator
          }
      }.toDF("doc_id", "fp", "status")
  }

  /** Streaming spatial ingest — the geodata analog of
    * [[incrementalStatus]]: geometries arriving as a stream are
    * cell-keyed scan-locally ([[graft.geo.GeoGrid.gridCells]] — a
    * stateless projection, so it plans on a streaming frame) and
    * joined against a STATIC corpus grid index aggregated to one row
    * per cell. Each arrival comes back with its cell and the corpus
    * density there: `(id, cell_x, cell_y, n_corpus)`, with
    * `n_corpus = 0` both for empty cells and for unparsable/empty
    * geometries (null cells never match — the standard contract, and
    * a left join keeps the row).
    *
    * Stream-static joins are stateless — no watermark, no state
    * store: the static side is just a batch plan re-read per
    * micro-batch (cache `corpus`'s index upstream if re-reading
    * matters). The same call works identically on a batch frame,
    * which is the correctness oracle (StreamingSpec pins
    * stream == batch over the q77 corpus shape).
    *
    * 100 TB shape: the shuffle key is the grid cell on the static
    * side only (one aggregation, once per micro-batch at worst); the
    * stream side is a scan-local UDF projection plus a broadcastable
    * join against the skinny (cell, count) index — geometry bytes
    * never cross an exchange. */
  def spatialIngest(stream: DataFrame, sIdCol: String, sWkbCol: String,
      corpus: DataFrame, cIdCol: String, cWkbCol: String,
      cellSize: Double): DataFrame = {
    import graft.geo.GeoGrid
    val idx = GeoGrid.gridCells(
        corpus.select(qcol(cIdCol).as("__cid"), qcol(cWkbCol).as("__cwkb")),
        col("__cwkb"), cellSize)
      .filter(col("cell_x").isNotNull)
      .groupBy(col("cell_x"), col("cell_y"))
      .agg(count(lit(1)).as("__n_corpus"))
    GeoGrid.gridCells(
        stream.select(qcol(sIdCol).as("id"), qcol(sWkbCol).as("__swkb")),
        col("__swkb"), cellSize)
      .join(idx, Seq("cell_x", "cell_y"), "left")
      .select(col("id"), col("cell_x"), col("cell_y"),
        coalesce(col("__n_corpus"), lit(0L)).as("n_corpus"))
  }

  /** Streaming BPE encode — tokenize arriving documents against a
    * STATIC trained tokenizer (the [[graft.llm.Artifacts]] load-side:
    * `merges` in learn order + the `(sym, sym_id)` vocabulary). The
    * batch encoder's assembly (posexplode → vocab join → groupBy
    * collect) would be a stateful streaming aggregation; here the
    * whole encode is ONE scan-local projection per document — the
    * merge chain folds into a single SQL scalar inside a `transform`
    * over the token array ([[graft.llm.BpeTrainer.encodeWordSql]],
    * shared with batch so the two cannot drift), and symbol→id lookup
    * rides a broadcast of the vocabulary-sized map instead of a join.
    * No watermark, no state store, any output mode; same call runs on
    * a batch frame, which is the correctness oracle (stream == batch
    * == [[graft.llm.BpeTrainer.encode]], pinned in ArtifactsSpec).
    * Output matches the batch encoder exactly: `(doc_id, token_ids,
    * n_bpe_tokens)`, unseen symbols count and print as `null`. */
  def bpeIngest(stream: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String, Long)], vocabIds: DataFrame): DataFrame = {
    import graft.llm.{BpeTrainer, TextAnalysis}
    val spark = stream.sparkSession
    val vmap = vocabIds.select(col("sym"), col("sym_id")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val bc = spark.sparkContext.broadcast(vmap)
    val idsUdf = udf { (syms: Seq[String]) =>
      syms.map(s => bc.value.get(s).map(_.toString).getOrElse("null"))
        .mkString(" ")
    }
    val symsSql = "flatten(transform(__toks, w -> " +
      BpeTrainer.symsOfSql(BpeTrainer.encodeWordSql(merges, "w")) + "))"
    stream
      .select(qcol(idCol).as("doc_id"),
        TextAnalysis.tokens(qcol(textCol)).as("__toks"))
      // null text → null token array → coalesce to empty, matching
      // the batch encoder's token-less contract ("", 0)
      .select(col("doc_id"), coalesce(expr(symsSql),
        expr("cast(array() as array<string>)")).as("__syms"))
      .select(col("doc_id"),
        idsUdf(col("__syms")).as("token_ids"),
        size(col("__syms")).cast("bigint").as("n_bpe_tokens"))
  }

  /** Streaming boilerplate screen — q187 at ingest time: the top
    * boilerplate spans are mined ONCE from the STATIC corpus
    * ([[graft.llm.TextAnalysis.boilerplateGrams]], the same spelling
    * as the batch card), and each arriving document reports how many
    * of its distinct n-grams are known boilerplate plus the ppm
    * share. The trained list is ≤ topK gram strings — a kilobyte
    * broadcast — so the check is row-local: stateless, no watermark,
    * identical on a batch frame (StreamingSpec pins stream == batch).
    * The broadcast is tracked for [[graft.llm.Caches.unpersistAll]]. */
  def boilerplateIngest(stream: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String, n: Int = 13, minDf: Long = 3L,
      topK: Int = 50): DataFrame = {
    import graft.llm.TextAnalysis
    val spark = stream.sparkSession
    val boiler = TextAnalysis.boilerplateGrams(corpus, idCol, textCol,
        n, minDf, topK)
      .select(col("gram")).collect().map(_.getString(0)).toSet
    val bc = graft.llm.Caches.broadcastTracked(
      spark.sparkContext.broadcast(boiler))
    val hitsUdf = udf { (gs: Seq[String]) =>
      if (gs == null) 0L else gs.count(bc.value.contains).toLong
    }
    stream
      .select(qcol(idCol).as("doc_id"),
        TextAnalysis.tokens(qcol(textCol)).as("__toks"))
      .select(col("doc_id"),
        TextAnalysis.wordNgrams("__toks", n).as("__gs0"))
      .select(col("doc_id"), expr("array_distinct(__gs0)").as("__gs"))
      .select(col("doc_id"), size(col("__gs")).cast("bigint").as("n_grams"),
        hitsUdf(col("__gs")).as("n_boiler"))
      .withColumn("boiler_ppm", expr(
        "case when n_grams > 0 then n_boiler * 1000000L div n_grams else 0L end"))
  }

  /** Streaming decontamination ingest — q45/q68 at ingest time: every
    * arriving document's winnowed fingerprints are checked against the
    * STATIC eval set's fingerprints, and contaminated arrivals surface
    * with the same (doc_id, n_fps, n_shared, contamination_fp) rows
    * the batch path emits. The eval fingerprint set is bounded (it is
    * exactly what the Bloom artifact already compresses to driver
    * scale); here it broadcasts as the EXACT set, so containment is a
    * row-local lookup — stateless, no watermark, no state store, and
    * byte-identical to [[graft.llm.Decontaminate.contaminated]] on a
    * batch frame (StreamingSpec pins stream == batch). The broadcast
    * is tracked, so [[graft.llm.Caches.unpersistAll]] releases it. */
  def decontamIngest(stream: DataFrame, eval: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val spark = stream.sparkSession
    graft.llm.Fingerprint.register(spark)
    val evalFps = eval
      .select(expr(s"array_distinct(doc_fingerprints(${qname(textCol)}))").as("fps"))
      .select(explode(col("fps")).as("fp")).distinct()
      .collect().map(_.getLong(0)).toSet
    val bc = graft.llm.Caches.broadcastTracked(
      spark.sparkContext.broadcast(evalFps))
    val sharedUdf = udf { (fps: Seq[Long]) =>
      if (fps == null) 0L else fps.count(bc.value.contains).toLong
    }
    stream
      .select(qcol(idCol).as("doc_id"),
        expr(s"array_distinct(doc_fingerprints(${qname(textCol)}))").as("__fps"))
      .select(col("doc_id"), size(col("__fps")).cast("bigint").as("n_fps"),
        sharedUdf(col("__fps")).as("n_shared"))
      .filter(col("n_shared") > 0)
      .select(col("doc_id"), col("n_fps"), col("n_shared"),
        expr("cast(floor(1000000.0 * cast(n_shared as double) " +
          "/ cast(n_fps as double)) as bigint)").as("contamination_fp"))
  }

  /** Streaming URL-canonicalization ingest — q178's dedup key at
    * crawl time: every arriving document's URL collapses to its
    * canonical form ([[graft.llm.Dedup.normalizeUrl]], the SAME
    * expression as batch, so the two cannot drift) plus the key's
    * md5 — the narrow value a downstream exact-dup suppressor keys
    * its state on or a per-domain rate limiter groups by, 32 chars
    * instead of an unbounded URL. Pure row-local projection: no
    * watermark, no state store, any output mode; identical on a
    * batch frame (StreamingSpec pins stream == batch). */
  def urlKeyIngest(stream: DataFrame, idCol: String, urlCol: String): DataFrame =
    stream
      .select(qcol(idCol).as("doc_id"), qcol(urlCol).as("url"))
      .withColumn("url_key", graft.llm.Dedup.normalizeUrl("url"))
      .withColumn("key_fp", md5(col("url_key").cast("binary")))

  /** Streaming classifier scoring — q195's trained token-vote router
    * at ingest time: the winner table + unseen-token default derive
    * from the trained counts artifact ([[graft.llm.NbClassifier]]),
    * are collected (bounded by train-vocabulary token TYPES — the
    * same bound bpeIngest's vocab collect rides) and broadcast, and
    * each arriving document is scored by a row-local majority vote —
    * no watermark, no state store, any output mode. The map-vote
    * spelling here and the join-window batch spelling
    * ([[graft.llm.NbClassifier.predict]]) are pinned equal by
    * StreamingSpec, so stream and batch routing cannot drift.
    *
    * THE BOUND CONTRACT (r13 verdict's watch item): token TYPES obey
    * Heaps' law, but a 100 TB multilingual crawl can still reach 10⁸
    * types — a multi-GB driver map. `maxVocab > 0` caps the collect
    * to the `maxVocab` types with the largest total training count
    * (ties → smaller token, deterministic); every dropped-tail or
    * unseen type votes the smoothing default. Routing is EXACT
    * whenever the train vocabulary fits the cap (pinned in
    * StreamingSpec); above it, only rare-type votes can move — and
    * under add-one smoothing a rare type's winner is usually the
    * default class anyway. The DEFAULT is [[DefaultMaxVocab]] — the
    * bound is on unless a caller explicitly passes 0 (uncapped, the
    * batch-exact opt-in for corpora known to fit the driver). */
  def classifyIngest(stream: DataFrame, counts: DataFrame,
      idCol: String, textCol: String,
      maxVocab: Int = DefaultMaxVocab): DataFrame = {
    val spark = stream.sparkSession
    val verdictsDf = graft.llm.NbClassifier.tokenVerdicts(counts)
    val keep =
      if (maxVocab <= 0) verdictsDf
      else verdictsDf.join(
        counts.groupBy(col("w")).agg(sum(col("cnt")).as("__c"))
          .orderBy(col("__c").desc, col("w").asc).limit(maxVocab)
          .select(col("w")),
        Seq("w"))
    val verdicts = keep
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val dflt = graft.llm.NbClassifier.defaultVerdict(counts)
      .collect().head.getString(0)
    val bc = graft.llm.Caches.broadcastTracked(
      spark.sparkContext.broadcast((verdicts, dflt)))
    val voteUdf = udf { (toks: Seq[String]) =>
      if (toks == null || toks.isEmpty)
        (graft.llm.NbClassifier.NoEvidenceLabel, 0L)
      else {
        val (m, d) = bc.value
        val votes = scala.collection.mutable.Map.empty[String, Long]
        toks.foreach { w =>
          val lab = m.getOrElse(w, d)
          votes(lab) = votes.getOrElse(lab, 0L) + 1L
        }
        val (lab, tv) = votes.toSeq.minBy { case (l, v) => (-v, l) }
        (lab, tv * 1000000L / toks.size)
      }
    }
    stream
      .select(qcol(idCol).as("doc_id"),
        graft.llm.TextAnalysis.tokens(qcol(textCol)).as("__toks"))
      .select(col("doc_id"),
        voteUdf(col("__toks")).as("__v"),
        coalesce(size(col("__toks")), lit(0)).cast("bigint").as("n_tokens"))
      .select(col("doc_id"), col("__v._1").as("label_pred"),
        col("n_tokens"), col("__v._2").as("share_ppm"))
  }

  /** Streaming voice-activity screen — q207's VAD card at media-ingest
    * time: each arriving payload decodes (the REAL RIFF chunk walk)
    * and segments row-locally through the SAME
    * [[graft.llm.Multimodal.wavActivity]] as batch, so stream and
    * batch silence accounting cannot drift (StreamingSpec pins
    * stream == batch). Non-WAV and structurally invalid payloads are
    * dropped, mirroring the batch flatMap's None arm. No watermark,
    * no state store, any output mode. */
  def vadIngest(stream: DataFrame, idCol: String, typeCol: String,
      contentCol: String, win: Int, thrPerSample: Long): DataFrame = {
    val vadUdf = udf { (mt: String, content: Array[Byte]) =>
      if (mt != "audio/wav" || content == null) None
      else graft.llm.Multimodal.wavActivity(content, win, thrPerSample)
    }
    stream
      .select(qcol(idCol).as("id"),
        vadUdf(qcol(typeCol), qcol(contentCol)).as("__v"))
      .filter(col("__v").isNotNull)
      .select(col("id"), col("__v._1").as("n_windows"),
        col("__v._2").as("n_active"), col("__v._3").as("n_segments"))
      .withColumn("active_ppm", expr(
        "cast(cast(n_active as decimal(38,0)) * 1000000 " +
          "div greatest(n_windows, 1L) as bigint)"))
  }

  /** Streaming PII scrub — the q59/q231 detectors at crawl time,
    * where a redaction pipeline actually wants them: every arriving
    * document carries its per-detector match counts AND the redacted
    * text ([[graft.llm.Pii.scrub]] — the audited patterns,
    * unchanged) before anything lands in the lake. The whole screen
    * is ONE codegen'd regex projection, zero shuffle, so it runs
    * unchanged on a stream with no watermark and no state store, and
    * the batch call IS the correctness oracle (StreamingSpec pins
    * stream == batch). */
  def piiIngest(stream: DataFrame, idCol: String,
      textCol: String): DataFrame =
    graft.llm.Pii.scrub(stream, textCol)
      .select(qcol(idCol).as("doc_id"), col("n_emails"), col("n_ips"),
        col("n_phones"), col("clean_text"))
      .withColumn("has_pii",
        col("n_emails") + col("n_ips") + col("n_phones") > 0L)

  /** Streaming shard router — q233's rendezvous assignment at ingest
    * time, where a partitioned store actually routes: every arriving
    * document carries its HRW shard under the CURRENT shard count and
    * under count+1, so a rollout can dual-write movers during a
    * resize window and cut over with zero rehash storms (the movers
    * are exactly the rows with `shard != shard_next`, and the HRW
    * theorem — measured by q233 — guarantees they all target the new
    * shard). A row-local md5 fold ([[graft.llm.Sampling
    * .rendezvousShard]]): no shuffle, no state, no coordinator; the
    * batch call IS the correctness oracle (stream == batch pinned in
    * StreamingSpec). */
  def shardIngest(stream: DataFrame, idCol: String,
      nShards: Int): DataFrame =
    stream
      .select(qcol(idCol).as("doc_id"))
      .withColumn("shard",
        graft.llm.Sampling.rendezvousShard("doc_id", nShards)
          .cast("bigint"))
      .withColumn("shard_next",
        graft.llm.Sampling.rendezvousShard("doc_id", nShards + 1)
          .cast("bigint"))
      .withColumn("moves", col("shard") =!= col("shard_next"))

  /** Streaming mojibake cleaner — q239's detect-and-repair at ingest
    * time, where an encoding-artifact fix actually belongs (before
    * the text reaches tokenizers or dedup keys). Each arriving
    * document carries its artifact-lead count, the repaired text
    * ([[graft.llm.TextAnalysis.mojibakeRepair]] — the SAME column
    * expressions as the batch card, so stream and batch cannot
    * disagree), and a `changed` flag. Row-local codegen'd replace
    * chains: no shuffle, no state, no UDF. */
  def mojibakeIngest(stream: DataFrame, idCol: String,
      textCol: String): DataFrame =
    stream
      .select(qcol(idCol).as("doc_id"),
        coalesce(qcol(textCol), lit("")).as("text"))
      .withColumn("artifact_chars",
        graft.llm.TextAnalysis.mojibakeArtifactCount(col("text")))
      .withColumn("text_repaired",
        graft.llm.TextAnalysis.mojibakeRepair(col("text")))
      .withColumn("changed", col("text_repaired") =!= col("text"))

  /** Streaming CDC admission meter — q235's store-admission question
    * per upload, at upload time: each arriving document chunks
    * row-locally ([[graft.llm.Fingerprint.cdcChunkKeys]], the SAME
    * key spelling as the batch chunk frame) and counts its chunks
    * and bytes against a broadcast Bloom prefilter of the store's
    * chunk keys — no shuffle, no state store, bounded broadcast
    * however large the store (the [[decontamIngest]] discipline).
    * Bloom false positives UNDER-count novelty at the configured
    * fpp; a store that must bill exactly re-checks admitted chunks
    * against the exact index in batch (q235/q236). Output per
    * arrival: (doc_id, n_chunks, n_novel_chunks, total_bytes,
    * novel_bytes, novel_ppm) — stream == batch pinned. */
  def cdcIngest(stream: DataFrame, idCol: String, textCol: String,
      bloom: org.apache.spark.util.sketch.BloomFilter): DataFrame = {
    val bc = graft.llm.Caches.broadcastTracked(
      stream.sparkSession.sparkContext.broadcast(bloom))
    val meter = udf { (text: String) =>
      val cs = graft.llm.Fingerprint.cdcChunkKeys(text)
      var nc = 0L; var nn = 0L; var tb = 0L; var nb = 0L
      cs.foreach { case (len, key) =>
        nc += 1; tb += len
        if (!bc.value.mightContainString(key)) { nn += 1; nb += len }
      }
      (nc, nn, tb, nb)
    }
    stream
      .select(qcol(idCol).as("doc_id"), meter(qcol(textCol)).as("__m"))
      .select(col("doc_id"),
        col("__m._1").as("n_chunks"),
        col("__m._2").as("n_novel_chunks"),
        col("__m._3").as("total_bytes"),
        col("__m._4").as("novel_bytes"))
      .withColumn("novel_ppm", expr(
        "cast(cast(novel_bytes as decimal(38,0)) * 1000000 " +
          "div greatest(total_bytes, 1L) as bigint)"))
  }

  /** Streaming fold-debt meter — q312's compaction policy live at
    * crawl cadence: each arriving epoch summary `(artifact, epoch,
    * arrivals, erases)` folds through [[graft.llm.FoldDebt.step]] —
    * the SAME pure kernel [[graft.llm.FoldDebt.schedule]]'s windows
    * unroll to (fold ≡ window pinned in FoldDebtSpec, stream == batch
    * in StreamingSpec) — keyed by artifact via
    * `flatMapGroupsWithState`, so the pipeline learns `checkpoint` /
    * `rebuild` the moment the epoch lands, not at the next batch
    * audit. Thresholds are the library constants q312 prices.
    *
    * Preconditions enforced LOUDLY by the kernel: non-negative
    * counts, strictly increasing epochs per artifact (within a
    * micro-batch rows sort by epoch; across batches a regressed epoch
    * kills the query rather than silently mis-pricing the chain).
    * State per artifact is seven longs — artifact count is maintained-
    * artifact-sized (tens), never corpus-sized. Append output mode:
    * each epoch's verdict emits exactly once. */
  def debtIngest(stream: DataFrame, artifactCol: String,
      epochCol: String, arriveCol: String, eraseCol: String,
      depthUnitPpm: Long = graft.llm.FoldDebt.DefaultDepthUnitPpm,
      tombWeight: Long = graft.llm.FoldDebt.DefaultTombWeight,
      debtBudgetPpm: Long = graft.llm.FoldDebt.DefaultDebtBudgetPpm,
      tombBudgetPpm: Long = graft.llm.FoldDebt.DefaultTombBudgetPpm)
      : DataFrame = {
    import graft.llm.FoldDebt
    val spark = stream.sparkSession
    import spark.implicits._
    stream
      .select(qcol(artifactCol).cast("string").as("artifact"),
        qcol(epochCol).cast("bigint").as("epoch"),
        qcol(arriveCol).cast("bigint").as("arrivals"),
        qcol(eraseCol).cast("bigint").as("erases"))
      .as[DebtEpoch]
      .groupByKey(_.artifact)
      .flatMapGroupsWithState[FoldDebt.DebtState, FoldDebt.DebtRow](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (artifact: String, rows: Iterator[DebtEpoch],
            state: org.apache.spark.sql.streaming.GroupState[
              FoldDebt.DebtState]) =>
          var st = if (state.exists) state.get else FoldDebt.ZeroState
          val out = rows.toSeq.sortBy(_.epoch).map { e =>
            val (ns, row) = FoldDebt.step(st, artifact, e.epoch,
              e.arrivals, e.erases, depthUnitPpm, tombWeight,
              debtBudgetPpm, tombBudgetPpm)
            st = ns
            row
          }
          state.update(st)
          out.iterator
      }.toDF()
  }

  /** Streaming store maintenance — the q312 → q315 loop CLOSED live:
    * each micro-batch of arriving documents APPENDS to the chained
    * [[graft.llm.SigStore]] (one atomic delta epoch per batch, the
    * text shingled once at append), the q312 meter re-reads the
    * store's own un-compacted chain, and when the just-landed epoch's
    * verdict says `checkpoint` or `rebuild` the batch EXECUTES
    * [[graft.llm.Artifacts.compact]] — for this store compaction IS
    * the rewrite (tombstone mass drops physically), so both actions
    * run the same mechanism. q312 prices the policy, [[debtIngest]]
    * announces it, this runs it.
    *
    * `foreachBatch` is the honest shape: the store is a transactional
    * external sink (pointer files + atomic directory renames), not a
    * streaming-expressible aggregate. Batches must carry ids disjoint
    * from the store (the [[graft.llm.MinHashLSH.indexDelta]]
    * precondition — a re-crawl erases first via
    * [[storeEraseIngest]]). Per-batch driver work is two pointer
    * reads, one epoch-count-sized meter read, and at compaction one
    * fold-chain materialization — exactly the price the policy
    * schedules. Returns the writer; the caller picks trigger and
    * checkpoint location and starts it. Stream == batch (the served
    * index equals a full rebuild over everything fed) is pinned in
    * SigStoreStreamSpec, including a mid-stream compaction firing
    * and a replayed batch no-op'ing.
    *
    * `sinkId` names ONE checkpoint lineage (the Delta `txnAppId`
    * discipline): resuming the same checkpoint replays safely, but a
    * deployment that starts OVER from a fresh checkpoint must pick a
    * fresh sinkId — batch numbering restarts at 0, and the old
    * watermark would silently swallow the new stream's first
    * batches. */
  def storeIngest(arrivals: DataFrame, idCol: String, textCol: String,
      root: String,
      depthUnitPpm: Long = graft.llm.FoldDebt.DefaultDepthUnitPpm,
      tombWeight: Long = graft.llm.FoldDebt.DefaultTombWeight,
      debtBudgetPpm: Long = graft.llm.FoldDebt.DefaultDebtBudgetPpm,
      tombBudgetPpm: Long = graft.llm.FoldDebt.DefaultTombBudgetPpm,
      sinkId: String = "arrive")
      : org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] =
    arrivals.writeStream.foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        // exactly-once under Spark's replay-after-failure contract
        // (ADVICE r18): each epoch is stamped with (sinkId, batchId)
        // ATOMICALLY (same directory rename), so a batch replayed
        // after a crash between epoch publish and checkpoint commit
        // is a no-op instead of a double-append that would trip the
        // disjoint-arrival guard and wedge the restarted stream. Two
        // feeds sharing one root MUST carry distinct sinkIds (the
        // arrival/erase pair's defaults already do).
        if (!batch.isEmpty &&
            !graft.llm.ChainedStore.alreadyApplied(root, sinkId, batchId)) {
          graft.llm.SigStore.appendArrivals(batch, idCol, textCol,
            root, txn = Some(sinkId -> batchId)): Unit
          maybeCompact(batch.sparkSession, root, depthUnitPpm,
            tombWeight, debtBudgetPpm, tombBudgetPpm)
        }
    }

  /** The erase half of [[storeIngest]]: each micro-batch of
    * right-to-be-forgotten ids lands as an erase epoch (idempotent
    * per id at fold time; the stat row prices only ids actually IN
    * the index), and the same meter-read-then-compact verdict runs —
    * an erase-heavy feed crosses the tombstone budget and triggers
    * the rebuild arm, which physically reclaims the dead rows. */
  def storeEraseIngest(tombstones: DataFrame, root: String,
      depthUnitPpm: Long = graft.llm.FoldDebt.DefaultDepthUnitPpm,
      tombWeight: Long = graft.llm.FoldDebt.DefaultTombWeight,
      debtBudgetPpm: Long = graft.llm.FoldDebt.DefaultDebtBudgetPpm,
      tombBudgetPpm: Long = graft.llm.FoldDebt.DefaultTombBudgetPpm,
      sinkId: String = "erase")
      : org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] =
    tombstones.writeStream.foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        // the same (sinkId, batchId) replay guard as [[storeIngest]]:
        // erase epochs are idempotent per id at FOLD time, but a
        // replayed erase batch would still publish a second epoch and
        // double-count debt — skip it entirely
        if (!batch.isEmpty &&
            !graft.llm.ChainedStore.alreadyApplied(root, sinkId, batchId)) {
          graft.llm.SigStore.appendErases(
            batch.select(col("doc_id")), root,
            txn = Some(sinkId -> batchId)): Unit
          maybeCompact(batch.sparkSession, root, depthUnitPpm,
            tombWeight, debtBudgetPpm, tombBudgetPpm)
        }
    }

  /** Read the just-landed epoch's policy verdict off the store's own
    * chain and execute it — ONE spelling shared by the arrival and
    * erase ingests so they cannot disagree about when to compact. */
  private def maybeCompact(spark: SparkSession, root: String,
      depthUnitPpm: Long, tombWeight: Long, debtBudgetPpm: Long,
      tombBudgetPpm: Long): Unit = {
    val action = graft.llm.SigStore.debtCard(spark, root,
        depthUnitPpm, tombWeight, debtBudgetPpm, tombBudgetPpm)
      .orderBy(col("epoch").desc).select(col("action"))
      .limit(1).collect().headOption.map(_.getString(0))
    if (action.exists(a => a == "checkpoint" || a == "rebuild"))
      graft.llm.Artifacts.compact(spark, root): Unit
  }

  /** Streaming perceptual-dedup meter — q247's dHash at upload time:
    * each arriving image payload decodes row-locally
    * ([[graft.llm.Multimodal.dHashBits]], the SAME kernel as the
    * batch card) and probes its hash against a broadcast set of the
    * store's known dHashes, so a crawler drops perceptual re-uploads
    * — re-encoded or lightly edited copies byte-dedup can never
    * catch — before they cost storage. The known set is
    * dHash-valued, NOT image-valued: 64-bit-hash strings per
    * DISTINCT perceptual identity (bounded by content diversity, not
    * corpus size — the q247 measurement: 250 images → 67 hashes).
    * Payloads that fail to decode report an empty hash and count as
    * novel (quarantine, not silent drop). Zero state, no shuffle;
    * the batch spelling is the oracle (StreamingSpec). */
  def mediaIngest(stream: DataFrame, idCol: String, contentCol: String,
      knownHashes: Set[String]): DataFrame = {
    val bc = graft.llm.Caches.broadcastTracked(
      stream.sparkSession.sparkContext.broadcast(knownHashes))
    val hash = udf { (content: Array[Byte]) =>
      graft.llm.Multimodal.dHashBits(content).getOrElse("")
    }
    stream
      .select(qcol(idCol).as("doc_id"), hash(qcol(contentCol)).as("dhash"))
      .withColumn("decoded", col("dhash") =!= "")
      .withColumn("known",
        udf { (h: String) => h.nonEmpty && bc.value.contains(h) }
          .apply(col("dhash")))
  }

  /** Streaming winsorize-apply — q145's robust clipping at ingest
    * time: exact per-group p-quantile cutoffs train on the STATIC
    * corpus ([[graft.llm.Robust.cutoffsFp]]), and each arriving row is
    * clipped against its group's cutoffs by a stateless broadcast
    * join + projection ([[graft.llm.Robust.clipFp]]) — groups unseen
    * at training pass through unclipped. No watermark, no state
    * store; the same call runs on a batch frame, which is the
    * correctness oracle (StreamingSpec pins stream == batch). */
  def clipIngest(stream: DataFrame, corpus: DataFrame, groupCol: String,
      valueFpCol: String, loQ: Double = 0.05, hiQ: Double = 0.95): DataFrame = {
    val cuts = graft.llm.Robust.cutoffsFp(corpus,
      qcol(groupCol), qcol(valueFpCol), loQ, hiQ)
    graft.llm.Robust.clipFp(stream, qcol(groupCol), qcol(valueFpCol), cuts)
  }

  /** Streaming temperature-mixture sampling — q161's mixing weights
    * applied at ingest time: per-stratum sampling rates derive from
    * the STATIC corpus ([[graft.llm.Sampling.temperatureMixture]] —
    * `rate = min(1, budgetFraction · epochs_fp/10⁶)`, the epochs
    * column IS the per-stratum resampling factor), and each arriving
    * row keeps or drops by `hash32(key) < floor(rate·2³²)` — a pure
    * row-local decision, so the admitted set is deterministic under
    * replays and re-partitioning, and identical on a batch frame
    * (StreamingSpec pins stream == batch). Stateless: one broadcast
    * stream-static join + filter; no watermark, no state store, any
    * output mode. Strata absent from the training corpus have no
    * trained weight and are dropped (the [[graft.llm.Sampling
    * .tokenBudgetMixture]] contract). */
  def mixtureIngest(stream: DataFrame, corpus: DataFrame,
      stratumCol: String, keyCol: String, tokenCol: String,
      budgetFraction: Double): DataFrame = {
    require(budgetFraction > 0.0 && budgetFraction <= 1.0,
      "budgetFraction must be in (0, 1]")
    val th = graft.Names.fresh("__th", stream.columns)
    val h = graft.Names.fresh("__h", stream.columns :+ th)
    val rates = graft.llm.Sampling
      .temperatureMixture(corpus, stratumCol, tokenCol)
      .select(qcol(stratumCol),
        floor(least(lit(1.0),
          lit(budgetFraction) * col("epochs_fp").cast("double") / 1e6) *
          lit(4294967296.0)).cast("long").as(th))
    stream.join(broadcast(rates), Seq(stratumCol))
      .withColumn(h, graft.llm.Sampling.hash32(keyCol))
      .filter(col(qname(h)) < col(qname(th)))
      .drop(h, th)
  }

  /** Streaming k-anonymity suppression — q162's audit enforced at
    * ingest: equivalence-class sizes over the quasi-identifier tuple
    * train on the STATIC corpus, and every arriving row landing in a
    * class smaller than `k` — including classes the corpus has never
    * seen (count 0), the conservative default a privacy gate owes —
    * ships with its quasi-identifiers NULLED and `suppressed = true`.
    * Non-quasi payload columns always pass through. Stateless: one
    * broadcast stream-static LEFT join + projection; no watermark, no
    * state store, identical on a batch frame (StreamingSpec pins
    * stream == batch). A quasi tuple containing a SQL null never
    * equi-joins, so null-bearing rows fall in the unseen-class arm —
    * suppressed, not leaked. */
  def anonymizeIngest(stream: DataFrame, corpus: DataFrame,
      quasiCols: Seq[String], k: Long): DataFrame = {
    require(quasiCols.nonEmpty, "at least one quasi-identifier column")
    require(k > 0, "k must be positive")
    // `suppressed` is the operator's output contract — a stream that
    // already carries one would make the result ambiguous downstream;
    // fail loudly rather than emit duplicate column names
    require(!stream.columns.contains("suppressed"),
      "anonymizeIngest reserves the output column name 'suppressed'")
    val cn = graft.Names.fresh("__cls_n", stream.columns)
    val classes = corpus.groupBy(quasiCols.map(qcol): _*)
      .agg(count(lit(1)).as(cn))
    val joined = stream.join(broadcast(classes), quasiCols, "left")
    val suppressed = coalesce(col(qname(cn)), lit(0L)) < k
    val schema = stream.schema
    joined.select(stream.columns.map { c =>
      if (quasiCols.contains(c))
        when(suppressed, lit(null).cast(schema(c).dataType))
          .otherwise(qcol(c)).as(c)
      else qcol(c)
    } :+ suppressed.as("suppressed"): _*)
  }

  /** Continuous dataset-integrity monitoring — the streaming twin of
    * [[graft.llm.Sketches.integrityCard]]'s commutative columns. The
    * checksum is a per-group (count, modular sum, min, max) over the
    * shared row-content hash ([[graft.llm.Sketches.integrityHash]] —
    * the streaming and batch sides hash identical bytes by
    * construction), all unordered mergeable aggregates, so state is
    * ONE row per group no matter how much data flows through and the
    * live card can be read in update/complete mode at any moment —
    * e.g. to compare a replication stream's running card against the
    * source table's batch card. The batch card's exact
    * `n_distinct_rows` column is the one non-streamable aggregate
    * (countDistinct is unsupported in streaming); at ingest time its
    * estimator is the HLL register grid
    * ([[graft.llm.Sketches.hllRegisters]] keyed on
    * the same hash). The modulo is applied AFTER the decimal sum
    * (not per-batch), which is exact because `(a+b) mod m =
    * ((a mod m)+(b mod m)) mod m` and DECIMAL(38,0) holds any
    * pre-modulo partial. */
  def integrityIngest(rows: DataFrame, groupCol: String,
      fields: Seq[Column]): DataFrame =
    rows
      .select(qcol(groupCol).as("g"),
        graft.llm.Sketches.integrityHash(fields).as("h"))
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("h").cast("decimal(38,0)")).as("sum_raw"),
        min(col("h")).as("min_hash"), max(col("h")).as("max_hash"))
      .select(col("g"), col("n_rows"),
        expr(s"cast(sum_raw % ${graft.llm.Sketches.ChecksumMod}L as bigint)")
          .as("sum_hash"),
        col("min_hash"), col("max_hash"))

  /** Streaming deterministic bottom-k sample — the continuous twin of
    * the q262 batch card. The same bounded [[graft.llm.TopKAgg]]
    * aggregates md5-hash priorities per group, so streaming state is
    * k (priority, id) pairs per group no matter how much flows
    * through, the cut equals the batch sample over the same rows by
    * construction (hash-derived — no RNG, no seed coordination), and
    * the live sample reads in complete mode at any moment. The
    * explode back to one row per kept id is a stateless projection
    * AFTER the stateful aggregate. */
  def sampleIngest(rows: DataFrame, groupCol: String, idCol: String,
      k: Int): DataFrame = {
    val bottomk = udaf(new graft.llm.TopKAgg(k))
    rows
      .select(qcol(groupCol).as("g"),
        graft.llm.Sketches.md5Hash32(qcol(idCol).cast("string")).as("h"),
        qcol(idCol).cast("long").as("id"))
      .groupBy(col("g"))
      .agg(bottomk((-col("h")).cast("long"), col("id")).as("top"))
      .select(col("g"), posexplode(col("top")).as(Seq("i", "e")))
      .select(col("g"), (col("i") + 1).cast("bigint").as("rank"),
        (-col("e._1")).cast("bigint").as("h"),
        col("e._2").cast("bigint").as("id"))
  }

  /** Streaming count-min counter build — the continuous twin of
    * [[graft.llm.Sketches.cmCounters]]: the depth×width grid is a
    * pure sum per cell, so counters accumulate across micro-batches
    * with fixed state (depth·width rows) and merging is addition —
    * the CM mergeability property. Heavy-hitter probes join the live
    * grid downstream. */
  def cmCounters(docs: DataFrame, textCol: String = "text",
      width: Int = 512): DataFrame =
    graft.llm.Sketches.cmCounters(
      docs.select(explode(
        graft.llm.TextAnalysis.tokens(qcol(textCol))).as("w")), width)

  /** Parse a stream of JSON strings into typed rows with a schema
    * compiled by [[graft.schema.JsonSchemaToStruct]] — JSON Schema in,
    * streaming Dataset out. Malformed records survive (PERMISSIVE +
    * corrupt-record column) and are surfaced via the `_valid` flag
    * instead of killing the stream. */
  def parseJsonStream(raw: DataFrame, schema: StructType,
      jsonCol: String = "value"): DataFrame = {
    val withCorrupt = schema.add("_corrupt_record", org.apache.spark.sql.types.StringType)
    raw.select(from_json(col(jsonCol).cast("string"), withCorrupt,
        Map("columnNameOfCorruptRecord" -> "_corrupt_record")).as("rec"))
      .select(col("rec.*"))
      .withColumn("_valid", col("_corrupt_record").isNull)
      .drop("_corrupt_record")
  }
}
