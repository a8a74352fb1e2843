package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.llm.{MinHashLSH, Similarity, TextAnalysis}

/** Near-dup detection and vector-similarity queries (q21–q24, q29), each
  * with an exact DuckDB oracle. The oracles replicate the full
  * algorithm (same md5 signatures, same fixed-point score arithmetic),
  * so the hash compare certifies the algorithm end-to-end, not just
  * row counts.
  */
object SimilarityQueries {

  private val ShingleN = 3
  private val NumHashes = 8
  private val Dim = 64
  private val TopK = 5
  private val AnnK = 3
  private val NumQueryVecs = 8

  // ---- q21: MinHash LSH candidate pairs + exact Jaccard verify ----
  def q21MinhashPairs(s: SparkSession, dir: String): DataFrame =
    MinHashLSH.nearDupPairs(graft.Tables.documents(s, dir), "doc_id", "text",
      shingleN = ShingleN, numHashes = NumHashes, rowsPerBand = 1, minJaccardFp = 0L)

  // ---- q22: relational SimHash (16-bit, explode + bit sums) ----
  def q22Simhash16(s: SparkSession, dir: String): DataFrame = {
    val toks = graft.Tables.documents(s, dir)
      .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("w"))
      .select(col("doc_id"), expr("md5(cast(w as binary))").as("h"))
    val sums = (0 until 16).map { j =>
      val i = j / 4 + 1       // hex char (1-based)
      val k = 3 - (j % 4)     // bit within nibble, high→low
      expr(s"sum(2 * ((cast(floor((instr('0123456789abcdef', substr(h, $i, 1)) - 1) " +
        s"/ ${1 << k}) as bigint)) % 2) - 1)").as(s"s$j")
    }
    val value = (0 until 16)
      .map(j => s"(CASE WHEN s$j > 0 THEN ${1L << j} ELSE 0 END)").mkString(" + ")
    toks.groupBy(col("doc_id")).agg(sums.head, sums.tail: _*)
      .select(col("doc_id"), expr(s"cast($value as bigint)").as("simhash16"))
  }

  // ---- q23: exact brute-force top-k over embeddings ----
  def q23EmbedTopk(s: SparkSession, dir: String): DataFrame = {
    val emb = graft.Tables.embeddings(s, dir)
    Similarity.bruteForceTopK(emb.filter(col("vec_id") < NumQueryVecs), emb, TopK)
      .select(col("query_id"), col("vec_id"), col("dot_fp"), col("rn"))
  }

  // ---- q24: LSH-bucketed approximate top-k (the scale path) ----
  def q24EmbedAnn(s: SparkSession, dir: String): DataFrame = {
    val emb = graft.Tables.embeddings(s, dir)
    Similarity.annTopK(emb.filter(col("vec_id") < NumQueryVecs), emb, AnnK, Dim)
      .select(col("query_id"), col("vec_id"), col("dot_fp"), col("rn"))
  }

  // ---- q183: hard-negative mining (contrastive batch builder) ----
  // Per anchor, the TopK most-similar CROSS-label vectors — the
  // confusable negatives contrastive training wants next to each
  // anchor; q23's audited broadcast + two-level selection with the
  // null-safe label exclusion inside the scored stage.
  def q183HardNegatives(s: SparkSession, dir: String): DataFrame = {
    val emb = graft.Tables.embeddings(s, dir)
    Similarity.hardNegatives(emb.filter(col("vec_id") < NumQueryVecs), emb, TopK)
      .select(col("query_id"), col("vec_id"), col("dot_fp"), col("rn"))
  }

  private val NearDupMinDotFp = 350000L

  // ---- q29: embedding-cosine near-dup pairs (multi-probe LSH) ----
  def q29EmbedDedup(s: SparkSession, dir: String): DataFrame =
    Similarity.embeddingNearDupPairs(graft.Tables.embeddings(s, dir),
      NearDupMinDotFp, Dim)

  private val ClusterMinJaccardFp = 300000L

  // ---- q38: transitive dedup clusters (connected components) ----
  // Near-dup pairs alone cannot answer "keep one of {A,B,C}" when
  // A≈B and B≈C but A̸≈C; the cluster label (smallest reachable id
  // over the near-dup graph) can. Spark side: min-label propagation
  // to fixpoint; oracle: recursive transitive-closure CTE — both
  // converge to the same unique labels.
  def q38DedupClusters(s: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.documents(s, dir)
    val edges = MinHashLSH.nearDupPairs(docs, "doc_id", "text",
      shingleN = ShingleN, numHashes = NumHashes, rowsPerBand = 1,
      minJaccardFp = ClusterMinJaccardFp)
      .select(col("doc_a"), col("doc_b"))
    graft.llm.Dedup.connectedComponents(docs.select(col("doc_id")), edges)
  }

  // ---- q190: cluster-keyed split audit ----
  // q186 proves exact duplicates need a content-keyed split; this is
  // the stronger production guarantee: NEAR-dup clusters (q38's
  // audited transitive closure) must not straddle train/val/test
  // either, and keying the split by cluster_id makes that impossible
  // by construction. Both keyings measured over the same clusters;
  // the doc_id keying's straddle count IS the leakage a naive split
  // ships. Scale: the cluster frame is persisted for its two scheme
  // consumers; each scheme is one cluster-keyed aggregate.
  def q190ClusterSplit(s: SparkSession, dir: String): DataFrame = {
    val clusters = graft.llm.Caches.persistTracked(q38DedupClusters(s, dir))
    def card(keyCol: String, scheme: String): DataFrame =
      graft.llm.Sampling.hashSplit(clusters, keyCol, LeakTrainPct, LeakValPct)
        .groupBy(col("cluster_id"))
        .agg(countDistinct(col("split")).as("nsp"), count(lit(1)).as("nd"))
        .agg(count(lit(1)).as("n_clusters"), sum(col("nd")).as("n_docs"),
          sum(when(col("nsp") > 1, 1L).otherwise(0L))
            .as("n_straddling_clusters"),
          sum(when(col("nsp") > 1, col("nd")).otherwise(0L))
            .as("n_straddling_docs"))
        .select(lit(scheme).as("scheme"), col("n_clusters"),
          col("n_docs").cast("bigint").as("n_docs"),
          col("n_straddling_clusters"), col("n_straddling_docs"))
    card("doc_id", "by_doc_id").unionByName(card("cluster_id", "by_cluster"))
  }

  // ---- q194: incremental near-dup screen from the SHIPPED band index ----
  // q70's incremental contract lifted from exact to NEAR-dup: the
  // corpus's LSH band index is trained once and shipped as a
  // distributed parquet artifact (the fingerprint-index precedent);
  // an arriving batch signatures only ITSELF and one band equi-join
  // says which corpus docs each arrival may duplicate — the corpus is
  // never re-tokenized, re-hashed or re-banded per batch, which is
  // the entire point at 100 TB. Clean arrivals surface with zero
  // candidates (a screen must list what PASSED, not only what hit).
  def q194IncrementalNearDup(s: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.documents(s, dir)
    val root = graft.llm.Artifacts.ensure(dir,
      s"band-index-v1-n$NumHashes-r1-s$ShingleN") { p =>
      graft.llm.Artifacts.saveIndexFrame(p + "/bands",
        MinHashLSH.bandIndexFromSets(
          MinHashLSH.shingleSets(
            docs.filter(pmod(col("doc_id"), lit(10)) =!= 0),
            "doc_id", "text", ShingleN),
          NumHashes, 1))
    }
    val corpusBands = graft.llm.Artifacts.loadIndexFrame(s, root + "/bands")
      .select(col("doc_id").as("corpus_doc"), col("band_id"), col("band_key"))
    val batchBands = MinHashLSH.bandIndexFromSets(
      MinHashLSH.shingleSets(
        docs.filter(pmod(col("doc_id"), lit(10)) === 0),
        "doc_id", "text", ShingleN),
      NumHashes, 1)
    val counts = batchBands.join(corpusBands, Seq("band_id", "band_key"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("corpus_doc")).as("n_candidates"))
    docs.filter(pmod(col("doc_id"), lit(10)) === 0).select(col("doc_id"))
      .join(counts, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        (coalesce(col("n_candidates"), lit(0L)) > 0L).as("likely_dup"))
  }

  // ---- q272: fuzzy admission from the SHIPPED signature index ----
  // q194 told an arrival which corpus docs it MAY duplicate; this is
  // the full near-dup admission gate a crawler actually runs: the
  // corpus's band index AND shingle sets ship once through the
  // durable catalog (bands capped at build — the skew guard rides in
  // the artifact), and each arrival is banded fresh, probed by one
  // equi-join, and VERIFIED with the exact inter_count Jaccard
  // against the loaded sets — near-dups byte-dedup can never catch
  // (the ' graft'-suffixed plants) verify at ~0.9 Jaccard while the
  // exact re-uploads verify at 1.0, and clean arrivals pass with
  // zero candidates. The corpus is never re-tokenized per batch.
  // [[graft.streaming.Streams.fuzzyIngest]] runs the SAME function
  // at ingest time (stream == batch pinned in StreamingSpec).
  private val AdmitCap = 32
  private val AdmitMinJaccardFp = 500000L
  private def fuzzyArrivals(docs: DataFrame): DataFrame =
    docs.filter(pmod(col("doc_id"), lit(10)) === 0)
      .select(col("doc_id"), col("text"))
      .unionByName(docs.filter(pmod(col("doc_id"), lit(9)) === 0 &&
          pmod(col("doc_id"), lit(10)) =!= 0)
        .select((col("doc_id") + 3000000L).as("doc_id"),
          concat(col("text"), lit(" graft")).as("text")))
      .unionByName(docs.filter(pmod(col("doc_id"), lit(17)) === 0 &&
          pmod(col("doc_id"), lit(10)) =!= 0)
        .select((col("doc_id") + 4000000L).as("doc_id"), col("text")))

  def q272FuzzyAdmission(s: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.documents(s, dir)
    val root = graft.llm.Artifacts.ensure(dir,
        s"minhash-index-v1-n$NumHashes-r1-s$ShingleN-c$AdmitCap") { p =>
      val sets = MinHashLSH.shingleSets(
        docs.filter(pmod(col("doc_id"), lit(10)) =!= 0),
        "doc_id", "text", ShingleN)
      graft.llm.Artifacts.saveIndexFrame(p + "/sets", sets)
      graft.llm.Artifacts.saveIndexFrame(p + "/bands",
        MinHashLSH.capBuckets(
          MinHashLSH.bandIndexFromSets(sets, NumHashes, 1),
          Seq("band_id", "band_key"), AdmitCap))
    }
    MinHashLSH.fuzzyAdmission(fuzzyArrivals(docs), "doc_id", "text",
      graft.llm.Artifacts.loadIndexFrame(s, root + "/bands"),
      graft.llm.Artifacts.loadIndexFrame(s, root + "/sets"),
      ShingleN, NumHashes, 1, AdmitMinJaccardFp)
  }

  // ---- q278: admission-gate quality vs exhaustive truth ----
  // q272 is the gate a crawler RUNS; this is the gate's report card:
  // for every arrival, the truth "has a corpus near-dup" is computed
  // EXHAUSTIVELY (arrival sets × corpus sets, exact inter_count
  // Jaccard ≥ the admission threshold — the deliberately-priced
  // oracle-scale truth instrument, the q112 pattern) and BOTH gate
  // variants are scored against it: the full banded gate (q272) and
  // the 1-bit-screened gate (q298 — candidates Hamming-screen against
  // the 64×-smaller packed index before any exact verify, the
  // hot-storage trade q277 priced, now graded end to end). Either
  // variant can only MISS (every flag carries an exact-verified
  // witness ⇒ precision 1 by construction — measured, not assumed),
  // so the number that matters is each one's recall. One row per
  // variant.
  def q278AdmissionRecall(s: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.documents(s, dir)
    val corpusSets = graft.llm.Caches.persistTracked(
      MinHashLSH.shingleSets(
        docs.filter(pmod(col("doc_id"), lit(10)) =!= 0),
        "doc_id", "text", ShingleN))
    val arrSets = graft.llm.Caches.persistTracked(
      MinHashLSH.shingleSets(fuzzyArrivals(docs), "doc_id", "text", ShingleN))
    // exhaustive truth: any corpus doc at or above the threshold.
    // Two LOSSLESS prunes keep the deliberate cross join honest but
    // not wasteful: (1) J ≥ T needs i ≥ T·(a+b−i) and i ≤ min(a,b),
    // so any pair with T·max > min(a,b)·(1+T−T) — for T = 0.5,
    // max(a,b) > 2·min(a,b) — can never qualify and is filtered
    // BEFORE the per-pair merge walk; (2) the verdict only needs the
    // BOOLEAN floor(10⁶·i/u) ≥ T·10⁶ ⟺ 10⁶·i ≥ T·10⁶·u (integer k:
    // floor(x) ≥ k ⟺ x ≥ k), so no division runs at all. The oracle
    // computes the UNFILTERED truth with the division spelling — the
    // equivalence is exact integer math, so the independent oracle
    // still checks the theorem, not a mirrored shortcut.
    val tLo = AdmitMinJaccardFp
    // existence over DISTINCT corpus sets equals existence over all
    // of them — the planted dup families collapse before the
    // quadratic arm ever sees them
    // Spread the distinct-corpus stream side of the cross join: AQE
    // coalesces the distinct's output by BYTES to ~1 partition, which
    // serialized the whole inter_count verify into one 5 s task
    // (measured r19); the per-row cost here is CPU, not bytes. Spread
    // sizes its width from the input files' bytes, floored at the file
    // count, so it finds no files under `corpusSets`' persist and does
    // nothing here: the verify runs at AQE's byte-coalesced width
    // again.
    val truth = graft.llm.Caches.persistTracked(
      arrSets.select(col("doc_id"), col("s").as("sa"))
        .crossJoin(graft.llm.Spread(
          corpusSets.select(col("s").as("sb")).distinct()))
        .filter(expr(s"size(sa) * $tLo <= size(sb) * 1000000L and " +
          s"size(sb) * $tLo <= size(sa) * 1000000L"))
        .select(col("doc_id"),
          expr("inter_count(sa, sb)").as("i"), col("sa"), col("sb"))
        .groupBy(col("doc_id"))
        .agg(max(expr(s"cast(i as bigint) * 1000000L >= " +
          s"$tLo * cast(size(sa) + size(sb) - i as bigint)")).as("is_dup")))
    val corpusBands = MinHashLSH.capBuckets(
      MinHashLSH.bandIndexFromSets(corpusSets, NumHashes, 1),
      Seq("band_id", "band_key"), AdmitCap)
    val banded = MinHashLSH.fuzzyAdmission(fuzzyArrivals(docs), "doc_id",
        "text", corpusBands, corpusSets, ShingleN, NumHashes, 1,
        AdmitMinJaccardFp)
      .select(lit("banded").as("variant"), col("doc_id"),
        (col("status") === "near_dup").as("flagged"))
    val bbit = MinHashLSH.fuzzyAdmissionBbit(fuzzyArrivals(docs), "doc_id",
        "text", corpusBands, MinHashLSH.packedWords(corpusSets),
        corpusSets, ShingleN, NumHashes, 1, BbitScreenPpm,
        AdmitMinJaccardFp)
      .select(lit("bbit_screen").as("variant"), col("doc_id"),
        (col("status") === "near_dup").as("flagged"))
    // LEFT from the gate side: an arrival whose every truth pair was
    // size-band pruned has no truth row — it is a non-dup, not a
    // dropped arrival
    banded.unionByName(bbit).join(truth, Seq("doc_id"), "left")
      .withColumn("is_dup", coalesce(col("is_dup"), lit(false)))
      .groupBy(col("variant"))
      .agg(count(lit(1)).cast("bigint").as("n_arrivals"),
        sum(when(col("is_dup"), 1L).otherwise(0L)).cast("bigint")
          .as("n_true_dups"),
        sum(when(col("flagged"), 1L).otherwise(0L)).cast("bigint")
          .as("n_flagged"),
        sum(when(col("is_dup") && col("flagged"), 1L).otherwise(0L))
          .cast("bigint").as("true_pos"),
        sum(when(!col("is_dup") && col("flagged"), 1L).otherwise(0L))
          .cast("bigint").as("false_pos"))
      .select(col("variant"), col("n_arrivals"), col("n_true_dups"),
        col("n_flagged"), col("true_pos"), col("false_pos"),
        expr("true_pos * 1000000L div greatest(n_true_dups, 1L)")
          .as("recall_ppm"),
        expr("true_pos * 1000000L div greatest(n_flagged, 1L)")
          .as("precision_ppm"))
  }

  // ---- q298: 1-bit-screened fuzzy admission (the hot-storage gate) ----
  // q272's gate with q277's measured estimator put to WORK: the
  // shipped index's hot tier is the capped bands plus ONE 64-bit
  // packed word per doc ([[graft.llm.MinHashLSH.packedWords]] — 64×
  // smaller than raw signatures); every band candidate first scores
  // the b-bit Hamming estimate against the packed word, and only
  // candidates at or above the screen (0.25, ~2.3 sd below the 0.5
  // admission threshold's bit-match mean) touch the COLD shingle-set
  // artifact for the exact verify — the storage/IO trade a 100 TB
  // near-dup tier actually deploys. Output adds n_screened to the
  // q272 shape; the oracle replays banding, packing, the screen and
  // the conditional verify end to end, and q278 grades this variant's
  // recall against the exhaustive truth next to the full gate's.
  private val BbitScreenPpm = graft.llm.Knobs.BbitScreenPpm

  /** The ONE builder for the shared q298/q311 hot/cold index (capped
    * bands + packed words + cold sets). `Artifacts.ensure` keys on
    * the NAME, so the two consumers must build byte-identically —
    * sharing the closure makes an accidental divergence (one query's
    * params edited without a name bump, the other silently loading
    * the stale layout) structurally impossible. */
  private def bbitIndexRoot(docs: DataFrame, dir: String): String =
    graft.llm.Artifacts.ensure(dir,
        s"minhash-index-bbit-v1-n$NumHashes-r1-s$ShingleN-c$AdmitCap") { p =>
      val sets = MinHashLSH.shingleSets(
        docs.filter(pmod(col("doc_id"), lit(10)) =!= 0),
        "doc_id", "text", ShingleN)
      graft.llm.Artifacts.saveIndexFrame(p + "/sets", sets)
      graft.llm.Artifacts.saveIndexFrame(p + "/words",
        MinHashLSH.packedWords(sets))
      graft.llm.Artifacts.saveIndexFrame(p + "/bands",
        MinHashLSH.capBuckets(
          MinHashLSH.bandIndexFromSets(sets, NumHashes, 1),
          Seq("band_id", "band_key"), AdmitCap))
    }

  def q298BbitAdmission(s: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.documents(s, dir)
    val root = bbitIndexRoot(docs, dir)
    MinHashLSH.fuzzyAdmissionBbit(fuzzyArrivals(docs), "doc_id", "text",
      graft.llm.Artifacts.loadIndexFrame(s, root + "/bands"),
      graft.llm.Artifacts.loadIndexFrame(s, root + "/words"),
      graft.llm.Artifacts.loadIndexFrame(s, root + "/sets"),
      ShingleN, NumHashes, 1, BbitScreenPpm, AdmitMinJaccardFp)
  }

  // ---- q311: b-bit screen-threshold sweep (the hot-tier tuning card) ----
  // q298 grades the 1-bit screen at ONE operating point
  // (screenMinPpm = 0.25); [[graft.llm.MinHashLSH.bbitScreenSweep]]
  // prices the whole recall / verifies-saved curve off ONE truth pass
  // (every band candidate exact-verified once, the q173 sweep
  // discipline), so the hot-tier knob ships with a tuning card
  // instead of a default. Same shipped artifact as q298 (capped
  // bands + packed words + cold sets); the oracle replays banding,
  // packing, the per-candidate estimate and truth, then reads every
  // grid threshold off the same scored relation.
  private val BbitSweepThresholds =
    Seq(0L, 125000L, 250000L, 375000L, 500000L, 625000L)
  def q311BbitScreenSweep(s: SparkSession, dir: String): DataFrame = {
    require(BbitSweepThresholds.contains(graft.llm.Knobs.BbitScreenPpm),
      "screen sweep grid must contain the production threshold")
    val docs = graft.Tables.documents(s, dir)
    val root = bbitIndexRoot(docs, dir)
    MinHashLSH.bbitScreenSweep(fuzzyArrivals(docs), "doc_id", "text",
      graft.llm.Artifacts.loadIndexFrame(s, root + "/bands"),
      graft.llm.Artifacts.loadIndexFrame(s, root + "/words"),
      graft.llm.Artifacts.loadIndexFrame(s, root + "/sets"),
      ShingleN, NumHashes, 1, BbitSweepThresholds, AdmitMinJaccardFp)
  }

  // ---- q314: bucket-cap sweep (the skew guard's price curve) ----
  // q49/q62/q272 DROP over-cap LSH buckets before their quadratic
  // pair expansion on the claim that boilerplate buckets carry no
  // near-dup signal worth m² work; [[graft.llm.MinHashLSH.capSweep]]
  // measures that claim: per grid cap, the share of Σ bc·(bc−1)/2
  // bucket pair-work avoided AND the recall cost against the exact
  // Jaccard truth, both read off ONE uncapped truth pass (the
  // q173/q311 discipline — the quadratic expansion is the deliberate
  // card price; production stays capped). The oracle replays banding,
  // per-pair smallest-shared-bucket attribution, the truth Jaccard,
  // and every grid aggregate.
  private val CapSweepCaps = Seq(1L, 2L, 3L, 4L, 8L, 16L)
  def q314CapSweep(s: SparkSession, dir: String): DataFrame = {
    require(CapSweepCaps.contains(
        graft.llm.Knobs.NearDupBucketCap.toLong),
      "cap sweep grid must contain the production bucket cap")
    MinHashLSH.capSweep(graft.Tables.documents(s, dir), "doc_id",
      "text", ShingleN, NumHashes, 1, CapSweepCaps, AdmitMinJaccardFp)
  }

  // ---- q312: fold-debt / compaction policy card ----
  // q279/q280/q294-q297 prove every fold EXACT; this card prices
  // what exactness doesn't cover — accumulated operational debt
  // (fold-chain depth, delta-file fragmentation, tombstone mass) —
  // and applies [[graft.llm.FoldDebt]]'s deterministic
  // checkpoint-or-rebuild rule over an 8-epoch crawl simulated from
  // the documents table (epoch = doc_id % 8, a fifth of each batch
  // tombstoned). The thresholds are library constants the ingest
  // twins read, not lore; the oracle replays the running-sum windows
  // and the generation arithmetic row for row.
  def q312FoldDebt(s: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.documents(s, dir)
    val eps = docs.groupBy(pmod(col("doc_id"), lit(8L)).as("epoch"))
      .agg(count(lit(1)).as("arrivals"),
        sum(when(pmod(col("doc_id"), lit(5L)) === 0L, 1L).otherwise(0L))
          .as("erases"))
    graft.llm.FoldDebt.schedule(eps, "epoch", "arrivals", "erases")
  }

  // ---- q315: compaction serves identically (q312's mechanism) ----
  // q312 prices WHEN to checkpoint/rebuild a fold chain;
  // [[graft.llm.Artifacts.compact]] is what RUNS it (r17 verdict ask
  // #3): a chained [[graft.llm.SigStore]] is built once (base
  // generation = 90% of the corpus, one arrival epoch, one erase
  // epoch), then compacted — a fresh generation materialized, the
  // pointer advanced, tombstone mass physically dropped, the debt
  // meter reset — and the card proves the CHAIN-served image and the
  // COMPACTED image identical per doc over both serving frames (band
  // rows: count + commutative checksum, the q280 spine; shingle
  // sets: size + sum-mod checksum). The oracle replays the full
  // REBUILD over the post-erase corpus and pins BOTH sides to it with
  // agree == true — a compaction that dropped a row, resurrected an
  // evictee, or leaked an erased doc hash-fails the round.
  private val CompactEraseMod = 11L
  def q315CompactServe(s: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.documents(s, dir)
    val root = graft.llm.Artifacts.ensure(dir,
        s"sigstore-chain-v1-n$NumHashes-r1-s$ShingleN-c$AdmitCap" +
          s"-e$CompactEraseMod") { p =>
      val st = p + "/store"
      graft.llm.SigStore.init(
        docs.filter(pmod(col("doc_id"), lit(10)) =!= 0),
        "doc_id", "text", st, ShingleN, NumHashes, 1, AdmitCap)
      graft.llm.SigStore.appendArrivals(
        docs.filter(pmod(col("doc_id"), lit(10)) === 0),
        "doc_id", "text", st): Unit
      graft.llm.SigStore.appendErases(
        docs.filter(pmod(col("doc_id"), lit(CompactEraseMod)) === 5L)
          .select(col("doc_id")), st): Unit
    }
    val st = root + "/store"
    // the chain image is read BEFORE compact; compact retires files
    // without deleting them (the vacuum separation), so this lazy
    // plan stays valid. On a later session the chain is already
    // compacted and both sides read the same generation — the VALUES
    // are identical either way (fold ≡ rebuild ≡ compact), which is
    // what keeps the oracle replayable.
    val served = graft.llm.SigStore.serve(s, st)
    graft.llm.Artifacts.compact(s, st): Unit
    val compacted = graft.llm.SigStore.serve(s, st)
    perDocImage(served, "served")
      .join(perDocImage(compacted, "compact"), Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        col("n_ints_served"), col("s_ck_served"),
        col("n_served"), col("ck_served"),
        col("n_ints_compact"), col("s_ck_compact"),
        col("n_compact"), col("ck_compact"),
        (col("n_ints_served").isNotNull && col("n_ints_compact").isNotNull &&
          col("n_ints_served") === col("n_ints_compact") &&
          col("s_ck_served") === col("s_ck_compact") &&
          col("n_served") === col("n_compact") &&
          col("ck_served") === col("ck_compact")).as("agree"))
  }

  /** Per-doc serving image of a [[graft.llm.MinHashLSH.SigIndex]]:
    * the [[bandsPerDoc]] spine over the capped bands (count +
    * commutative checksum, zeros for a doc whose every bucket is
    * over-cap) plus the shingle-set frame's size and sum-mod
    * checksum — the two frames [[graft.llm.MinHashLSH
    * .fuzzyAdmission]] actually serves from. */
  private val SetCkMod = 4294967291L // largest prime below 2^32
  private def perDocImage(idx: graft.llm.MinHashLSH.SigIndex,
      pfx: String): DataFrame =
    idx.sets.select(col("doc_id"),
      size(col("s")).cast("bigint").as(s"n_ints_$pfx"),
      expr(s"aggregate(s, 0L, (a, x) -> (a + x) % ${SetCkMod}L)")
        .as(s"s_ck_$pfx"))
      .join(bandsPerDoc(idx.bands, pfx), Seq("doc_id"), "left")
      .select(col("doc_id"), col(s"n_ints_$pfx"), col(s"s_ck_$pfx"),
        coalesce(col(s"n_$pfx"), lit(0L)).as(s"n_$pfx"),
        coalesce(col(s"ck_$pfx"), lit(0L)).as(s"ck_$pfx"))

  // ---- q277: 1-bit minhash signature compression (b-bit minhash) ----
  // Li & König's b-bit minhash at b = 1: keep only each signature's
  // LOWEST BIT, so 64 signatures pack into ONE 64-bit word — a 64×
  // smaller signature index (8 bytes/doc vs 8×64), the storage knob
  // that decides whether a 100 TB corpus's near-dup index fits hot
  // storage. The price is estimator variance, and this card measures
  // it where it matters: for every LSH candidate pair, the 1-bit
  // estimate Ĵ = max(0, 2·(matching bits)/64 − 1) — bit-match
  // probability is (1+J)/2, so the inversion is exact in
  // expectation — next to the exact shingle-set Jaccard. Packing is
  // one row-local fold over the signatures (the q206 sign-word
  // discipline; DuckDB replays bit 63 as the explicit Long minimum);
  // comparison is XOR + popcount per pair. All integer arithmetic.
  private val BbitHashes = 64
  def q277BbitMinhash(s: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.documents(s, dir)
    val sets = graft.llm.Caches.persistTracked(
      MinHashLSH.shingleSets(docs, "doc_id", "text", ShingleN))
    val packed = MinHashLSH.packedWords(sets)
    val scored = MinHashLSH.withJaccardFp(
      MinHashLSH.candidatePairsFromSets(sets, NumHashes, 1),
      sets, "doc_a", "doc_b")
    val est = "cast(greatest(0L, 2L * match_bits - 64L) " +
      "* 1000000L div 64L as bigint)"
    scored
      .join(packed.select(col("doc_id").as("doc_a"), col("w").as("wa")),
        Seq("doc_a"))
      .join(packed.select(col("doc_id").as("doc_b"), col("w").as("wb")),
        Seq("doc_b"))
      .withColumn("match_bits",
        expr("64L - cast(bit_count(wa ^ wb) as bigint)"))
      .select(col("doc_a"), col("doc_b"), col("jaccard_fp"),
        col("match_bits"), expr(est).as("est_ppm"),
        abs(expr(est) - col("jaccard_fp")).as("abs_err_ppm"))
  }

  // ---- q273: incremental cluster maintenance (delta == full) ----
  // q38's transitive clusters feed q72/q135/q190/q191/q204 — and
  // recomputing the closure per crawl batch re-reads all of history.
  // [[graft.llm.Dedup.ccDelta]] folds an arrival batch into the
  // EXISTING clustering: touched components re-label over their star
  // edges + the new links (work bounded by the delta's neighborhood),
  // untouched clusters pass through byte-identical. This card PROVES
  // the maintenance theorem on the real corpus: cluster the old slice
  // (doc_id % 10 != 0, old-only edges), fold in the arrivals
  // (% 10 == 0) with every edge that names one, and emit per-doc
  // (full-recompute label, delta label, agree) — the oracle replays
  // the full closure and pins agree == true for every document, so
  // ANY divergence of the delta path hash-fails the round.
  def q273CcDelta(s: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.documents(s, dir)
    val edges = graft.llm.Caches.persistTracked(
      MinHashLSH.nearDupPairs(docs, "doc_id", "text",
        shingleN = ShingleN, numHashes = NumHashes, rowsPerBand = 1,
        minJaccardFp = ClusterMinJaccardFp)
        .select(col("doc_a"), col("doc_b")))
    val isOld = (c: org.apache.spark.sql.Column) => pmod(c, lit(10)) =!= 0
    val oldDocs = docs.filter(isOld(col("doc_id"))).select(col("doc_id"))
    // fill the shared edge cache ONCE before forking — otherwise the
    // two concurrent arms race to materialize it and both pay the
    // full LSH pass
    edges.count()
    // the full-recompute truth arm is independent of the fold arm but
    // the CC fixpoint loop is EAGER (one driver job per round) — run
    // it on a second thread so its rounds back-fill the fold arm's
    // stage tails instead of strictly following them (guide §2.6; the
    // PqIndex.fitSubspaces precedent)
    val fullF = scala.concurrent.Future(graft.llm.Dedup.connectedComponents(
      docs.select(col("doc_id")), edges))(
      scala.concurrent.ExecutionContext.global)
    val existing = graft.llm.Dedup.connectedComponents(oldDocs,
      edges.filter(isOld(col("doc_a")) && isOld(col("doc_b"))))
    val delta = graft.llm.Dedup.ccDelta(existing,
      docs.filter(!isOld(col("doc_id"))).select(col("doc_id")),
      edges.filter(!isOld(col("doc_a")) || !isOld(col("doc_b"))))
    val full = scala.concurrent.Await.result(fullF,
      scala.concurrent.duration.Duration.Inf)
    full.join(delta.withColumnRenamed("cluster_id", "delta_cluster_id"),
        Seq("doc_id"))
      .select(col("doc_id"), col("cluster_id"), col("delta_cluster_id"),
        (col("cluster_id") === col("delta_cluster_id")).as("agree"))
  }

  // ---- q279: CHAINED incremental maintenance (deltas compose) ----
  // q273 proved one fold; a crawl folds every batch. This card proves
  // the property that makes that safe: ccDelta COMPOSES — two
  // successive arrival epochs folded one after the other land on
  // exactly the full recompute, so iterated maintenance cannot drift.
  // Epochs by doc_id % 3; each edge belongs to the LATEST epoch of
  // its endpoints (the batch in which it becomes discoverable).
  // Oracle: the full closure again, agree pinned true per doc — a
  // drift anywhere in the chain hash-fails the round.
  def q279CcDeltaChain(s: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.documents(s, dir)
    val edges = graft.llm.Caches.persistTracked(
      MinHashLSH.nearDupPairs(docs, "doc_id", "text",
        shingleN = ShingleN, numHashes = NumHashes, rowsPerBand = 1,
        minJaccardFp = ClusterMinJaccardFp)
        .select(col("doc_a"), col("doc_b"),
          greatest(pmod(col("doc_a"), lit(3)), pmod(col("doc_b"), lit(3)))
            .as("epoch")))
    def docsOf(e: Int) = docs.filter(pmod(col("doc_id"), lit(3)) === e)
      .select(col("doc_id"))
    def edgesOf(e: Int) = edges.filter(col("epoch") === e)
      .select(col("doc_a"), col("doc_b"))
    // fill the shared edge cache once before forking (the q273
    // rationale), then run the full-recompute truth arm on a second
    // thread: the eager CC rounds of the two independent arms overlap
    // instead of running strictly sequentially
    edges.count()
    val fullF = scala.concurrent.Future(graft.llm.Dedup.connectedComponents(
      docs.select(col("doc_id")), edges.select(col("doc_a"), col("doc_b"))))(
      scala.concurrent.ExecutionContext.global)
    val e0 = graft.llm.Dedup.connectedComponents(docsOf(0), edgesOf(0))
    val e1 = graft.llm.Dedup.ccDelta(e0, docsOf(1), edgesOf(1))
    val e2 = graft.llm.Dedup.ccDelta(e1, docsOf(2), edgesOf(2))
    val full = scala.concurrent.Await.result(fullF,
      scala.concurrent.duration.Duration.Inf)
    full.join(e2.withColumnRenamed("cluster_id", "chained_cluster_id"),
        Seq("doc_id"))
      .select(col("doc_id"), col("cluster_id"), col("chained_cluster_id"),
        (col("cluster_id") === col("chained_cluster_id")).as("agree"))
  }

  // ---- q280: incremental signature-index maintenance (fold == rebuild) ----
  // q272 SERVES from the shipped signature index; this is how that
  // index stays FRESH at crawl cadence without re-banding the corpus:
  // [[MinHashLSH.indexDelta]] folds an arrival batch into the LOADED
  // artifact — arrivals shingle/band only themselves, and the one
  // corpus-shaped touch is a bucket-keyed join against the shipped
  // per-bucket counts, the cap arbiter that lets an append EVICT a
  // bucket it pushes past the cap (the eviction the capped bands
  // frame alone could never decide). The card proves the maintenance
  // theorem on the real corpus: per doc, the folded index's band rows
  // equal a full rebuild over the union corpus — row count plus the
  // q155 commutative checksum — and the oracle replays the REBUILD
  // and pins agree == true, so any divergence (a missed eviction, a
  // double-kept row, a drifted band key) hash-fails the round.
  def q280IndexDelta(s: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.documents(s, dir)
    val root = graft.llm.Artifacts.ensure(dir,
        s"minhash-index-v3-n$NumHashes-r1-s$ShingleN-c$AdmitCap") { p =>
      val idx = MinHashLSH.signatureIndex(
        docs.filter(pmod(col("doc_id"), lit(10)) =!= 0),
        "doc_id", "text", ShingleN, NumHashes, 1, AdmitCap)
      graft.llm.Artifacts.saveIndexFrame(p + "/bands", idx.bands)
      graft.llm.Artifacts.saveIndexFrame(p + "/counts", idx.counts)
      graft.llm.Artifacts.saveIndexFrame(p + "/sets", idx.sets)
      graft.llm.Artifacts.saveIndexFrame(p + "/evicted", idx.evicted.get)
    }
    val loaded = MinHashLSH.SigIndex(
      graft.llm.Artifacts.loadIndexFrame(s, root + "/bands"),
      graft.llm.Artifacts.loadIndexFrame(s, root + "/counts"),
      graft.llm.Artifacts.loadIndexFrame(s, root + "/sets"),
      Some(graft.llm.Artifacts.loadIndexFrame(s, root + "/evicted")))
    val folded = MinHashLSH.indexDelta(loaded,
      docs.filter(pmod(col("doc_id"), lit(10)) === 0),
      "doc_id", "text", ShingleN, NumHashes, 1, AdmitCap)
    val rebuilt = MinHashLSH.signatureIndex(docs, "doc_id", "text",
      ShingleN, NumHashes, 1, AdmitCap)
    bandsPerDoc(rebuilt.bands, "rebuild")
      .join(bandsPerDoc(folded.bands, "delta"), Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("n_rebuild"), col("ck_rebuild"),
        col("n_delta"), col("ck_delta"),
        (col("n_rebuild").isNotNull && col("n_delta").isNotNull &&
          col("n_rebuild") === col("n_delta") &&
          col("ck_rebuild") === col("ck_delta")).as("agree"))
  }

  /** Per-doc (row count, commutative checksum) over a band frame —
    * the fold ≡ rebuild comparison spine shared by q280 (append) and
    * q294 (erase), so both maintenance proofs grade by the SAME
    * arithmetic. */
  private def bandsPerDoc(bands: DataFrame, pfx: String): DataFrame = bands
    .select(col("doc_id"), graft.llm.Sketches.integrityHash(
      Seq(col("band_id").cast("string"), col("band_key"))).as("h"))
    .groupBy(col("doc_id"))
    .agg(count(lit(1)).cast("bigint").as(s"n_$pfx"),
      expr("cast(sum(cast(h as decimal(38,0))) % " +
        s"${graft.llm.Sketches.ChecksumMod}L as bigint)").as(s"ck_$pfx"))

  // ---- q294: erasure-APPLY on the shipped signature index ----
  // q237 TRACES a GDPR erasure through the artifacts; this APPLIES
  // it: [[graft.llm.MinHashLSH.indexErase]] folds a tombstone set OUT
  // of the loaded index — the erased docs' band rows re-derive from
  // the shipped sets (never from text), the counts frame arbitrates
  // the cap in REVERSE (a bucket the erase pulls back under the cap
  // resurrects its surviving rows from the sets; a still-over-cap
  // bucket keeps zero), and the card proves fold ≡
  // rebuild-without-the-set per doc (row count + commutative
  // checksum — the q280 discipline inverted). The oracle replays the
  // REBUILD over the surviving slice and pins agree == true, so a
  // leaked erased row, a missed resurrection, or a resurrected
  // evictee hash-fails the round.
  private val EraseSliceMod = 7
  def q294IndexErase(s: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.documents(s, dir)
    val root = graft.llm.Artifacts.ensure(dir,
        s"minhash-index-all-v2-n$NumHashes-r1-s$ShingleN-c$AdmitCap") { p =>
      val idx = MinHashLSH.signatureIndex(docs, "doc_id", "text",
        ShingleN, NumHashes, 1, AdmitCap)
      graft.llm.Artifacts.saveIndexFrame(p + "/bands", idx.bands)
      graft.llm.Artifacts.saveIndexFrame(p + "/counts", idx.counts)
      graft.llm.Artifacts.saveIndexFrame(p + "/sets", idx.sets)
      // the cold tier ships WITH the index (r16 ask #3): erasure's
      // cap resurrection then never re-bands the surviving corpus
      graft.llm.Artifacts.saveIndexFrame(p + "/evicted", idx.evicted.get)
    }
    val loaded = MinHashLSH.SigIndex(
      graft.llm.Artifacts.loadIndexFrame(s, root + "/bands"),
      graft.llm.Artifacts.loadIndexFrame(s, root + "/counts"),
      graft.llm.Artifacts.loadIndexFrame(s, root + "/sets"),
      Some(graft.llm.Artifacts.loadIndexFrame(s, root + "/evicted")))
    val erased = MinHashLSH.indexErase(loaded,
      docs.filter(pmod(col("doc_id"), lit(EraseSliceMod)) === 0)
        .select(col("doc_id")),
      NumHashes, 1, AdmitCap)
    val rebuilt = MinHashLSH.signatureIndex(
      docs.filter(pmod(col("doc_id"), lit(EraseSliceMod)) =!= 0),
      "doc_id", "text", ShingleN, NumHashes, 1, AdmitCap)
    bandsPerDoc(rebuilt.bands, "rebuild")
      .join(bandsPerDoc(erased.bands, "erase"), Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("n_rebuild"), col("ck_rebuild"),
        col("n_erase"), col("ck_erase"),
        (col("n_rebuild").isNotNull && col("n_erase").isNotNull &&
          col("n_rebuild") === col("n_erase") &&
          col("ck_rebuild") === col("ck_erase")).as("agree"))
  }

  // ---- q284: kNN label transfer (semi-supervised labeling) ----
  // The label-propagation primitive a curation pipeline uses to grow
  // a labeled set ([[graft.llm.Similarity.labelTransfer]]): seeds
  // (vec_id % 5 != 0) keep their labels, every held-out vector
  // (% 5 == 0) takes the majority label of its k = 5 nearest seeds
  // (exact cosine, the audited two-level top-k — no task ever sorts
  // a full candidate list), ties broken deterministically by
  // (votes desc, label asc). The held-out TRUE labels grade the
  // transfer per vector. On THIS corpus the labels are i.i.d. noise,
  // so accuracy reads the 1/|labels| chance floor (measured 11% over
  // 10 labels) — the correct verdict ("no structure to propagate");
  // SimilaritySpec pins 100% on a planted clustered fixture. The
  // brute-force arm is the exact-truth pricing (the q23/q112
  // discipline); at corpus scale the same vote runs over the shipped
  // ANN index's neighbors (q276's graph expansion) instead.
  private val TransferK = 5
  def q284LabelTransfer(s: SparkSession, dir: String): DataFrame = {
    val emb = graft.Tables.embeddings(s, dir)
    Similarity.labelTransfer(
      emb.filter(pmod(col("vec_id"), lit(5)) === 0),
      emb.filter(pmod(col("vec_id"), lit(5)) =!= 0), TransferK)
  }

  // ---- q191: dedup-weighted token budget ----
  // What the training budget looks like under each dedup policy, per
  // source: raw tokens, representative-only tokens (keep the lowest
  // id per q38 cluster — the hard-dedup budget), and the soft
  // "count once" weighting (each doc at weight 1/cluster_size, in
  // ppm-tokens) that recent data-mixture work prefers to hard drops.
  // Scale: cluster sizes are one cluster-keyed aggregate; the rollup
  // joins skinny id/size frames; ppm-token sums accumulate in
  // decimal(38,0)/HUGEINT.
  def q191DedupBudget(s: SparkSession, dir: String): DataFrame = {
    val clusters = graft.llm.Caches.persistTracked(q38DedupClusters(s, dir))
    val sized = clusters.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("csz"), min(col("doc_id")).as("rep"))
    val toks = graft.Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        graft.llm.TextAnalysis.tokenCount(col("text")).cast("bigint")
          .as("n_tok"))
    toks.join(clusters, Seq("doc_id")).join(sized, Seq("cluster_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).cast("bigint").as("n_tokens"),
        sum(when(col("doc_id") === col("rep"), col("n_tok")).otherwise(0L))
          .cast("bigint").as("rep_tokens"),
        expr("cast(sum(cast(n_tok * 1000000L div csz as decimal(38,0))) " +
          "as bigint)").as("weighted_tokens_ppm"))
  }

  // ---- q151: cluster-size histogram (duplication-mass card) ----
  // The readout that decides a dedup budget: HOW the duplication mass
  // distributes — many pairs, or a few giant clusters? One aggregate
  // over q38's audited labels to sizes, one more to the histogram
  // (size → clusters, docs, redundant docs); singleton rows keep the
  // unduplicated mass visible. Histogram cardinality is bounded by
  // the largest cluster, not the corpus.
  def q151ClusterSizes(s: SparkSession, dir: String): DataFrame =
    q38DedupClusters(s, dir)
      .groupBy(col("cluster_id")).agg(count(lit(1)).as("sz"))
      .groupBy(col("sz").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"),
        sum(col("sz")).as("n_docs"),
        sum(col("sz") - 1L).as("n_redundant"))

  // ---- q304: cluster-cohesion card (chain-merge risk) ----
  // The failure mode transitive dedup closures hide: a CHAIN of
  // pairwise-similar docs merges two dissimilar ends into one cluster
  // (A~B~C admits A≁C), and a survivor-per-cluster policy then throws
  // away documents that were never near-dups of the kept one. The
  // instrument: per multi-doc cluster of q38's audited closure, the
  // verified-edge count against the pair ceiling — density in floor
  // ppm, the `is_tree` flag (edges == size−1: MAXIMALLY fragile,
  // every admitted edge is a bridge), and the weakest admitted link's
  // Jaccard (a chain-merge reads tree-shaped + a min link barely over
  // the threshold; a true dup set reads near-complete + high links).
  // Scale: edges come from the SAME one-pass LSH frame the closure
  // consumes (persisted — no second corpus tokenize); everything
  // downstream is cluster-count-sized. The oracle replays the q21
  // pair chain, the recursive closure, and the integer density.
  def q304ClusterCohesion(s: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.documents(s, dir)
    val pairs = graft.llm.Caches.persistTracked(
      MinHashLSH.nearDupPairs(docs, "doc_id", "text",
        shingleN = ShingleN, numHashes = NumHashes, rowsPerBand = 1,
        minJaccardFp = ClusterMinJaccardFp))
    val cl = graft.llm.Dedup.connectedComponents(
      docs.select(col("doc_id")), pairs.select(col("doc_a"), col("doc_b")))
    graft.llm.Dedup.cohesionCard(pairs, cl)
  }

  // ---- q154: near-dup detector agreement (MinHash vs SimHash) ----
  // Two production detectors, one question: do they find the SAME
  // pairs? The full-outer overlap of q21's banded-Jaccard pairs and
  // q31's simhash-Hamming pairs, as one evidence row (each detector's
  // count, the intersection, and each side's exclusives). Detector
  // disagreement is the first thing a dedup review asks for; both
  // pair sets are the audited production paths, and the card's join
  // runs on pair lists, not the corpus.
  def q154DetectorAgreement(s: SparkSession, dir: String): DataFrame = {
    val mh = q21MinhashPairs(s, dir).select(col("doc_a"), col("doc_b"))
      .withColumn("m", lit(1L))
    val sh = LlmQueries.q31SimhashPairs(s, dir).select(col("doc_a"), col("doc_b"))
      .withColumn("h", lit(1L))
    mh.join(sh, Seq("doc_a", "doc_b"), "full_outer")
      .agg(
        sum(coalesce(col("m"), lit(0L))).as("n_minhash"),
        sum(coalesce(col("h"), lit(0L))).as("n_simhash"),
        sum(when(col("m").isNotNull && col("h").isNotNull, 1L).otherwise(0L))
          .as("n_both"),
        sum(when(col("m").isNotNull && col("h").isNull, 1L).otherwise(0L))
          .as("n_minhash_only"),
        sum(when(col("m").isNull && col("h").isNotNull, 1L).otherwise(0L))
          .as("n_simhash_only"))
  }

  // ---- q160: cross-split near-dup leakage card ----
  // The eval-integrity audit a training pipeline runs AFTER splitting
  // (Dodge et al.'s "documenting the data" failure mode): near-dup
  // pairs (q21's audited banded-Jaccard path) joined to the
  // deterministic hash split (q126's assignment rule), rolled up per
  // unordered split pair. A train↔test or train↔val row is leaked
  // evaluation data the split's doc-level hashing cannot see —
  // near-dups land in different splits precisely because their ids
  // hash independently. Scale: the pair list is LSH-banded (never
  // all-pairs), the split is a pure projection, and the two
  // doc-id joins shuffle pair-list-sized frames only.
  private val LeakTrainPct = 80
  private val LeakValPct = 10
  def q160SplitLeakage(s: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.documents(s, dir)
    val pairs = MinHashLSH.nearDupPairs(docs, "doc_id", "text",
      shingleN = ShingleN, numHashes = NumHashes, rowsPerBand = 1,
      minJaccardFp = 0L)
    val split = graft.llm.Sampling.hashSplit(
      docs.select(col("doc_id")), "doc_id", LeakTrainPct, LeakValPct)
    pairs
      .join(split.select(col("doc_id").as("doc_a"), col("split").as("sa")),
        "doc_a")
      .join(split.select(col("doc_id").as("doc_b"), col("split").as("sb")),
        "doc_b")
      .groupBy(least(col("sa"), col("sb")).as("split_lo"),
        greatest(col("sa"), col("sb")).as("split_hi"))
      .agg(count(lit(1)).as("n_pairs"),
        max(col("jaccard_fp")).as("max_jaccard_fp"),
        sum(col("jaccard_fp").cast("decimal(38,0)")).cast("bigint")
          .as("sum_jaccard_fp"))
  }

  // ---- q197: semantic split leakage (embedding-space contamination) ----
  // q160 proves LEXICAL leakage; this is its embedding twin — the
  // leakage a paraphrase hides from every n-gram fingerprint: q29's
  // audited multi-probe sign-LSH near-dup pairs (cosine ≥ threshold,
  // exact fixed-point dots) joined against the SAME deterministic
  // hash split, rolled up per unordered split pair. A train↔test row
  // here is an eval example the model effectively trained on even
  // though no shingle matches. Scale: pairs are bucketed (never
  // all-pairs), the split is a pure projection, and both vec-id joins
  // shuffle pair-list-sized frames only.
  def q197SemanticLeakage(s: SparkSession, dir: String): DataFrame = {
    val emb = graft.Tables.embeddings(s, dir)
    val pairs = Similarity.embeddingNearDupPairs(emb, NearDupMinDotFp, Dim)
    val split = graft.llm.Sampling.hashSplit(
      emb.select(col("vec_id")), "vec_id", LeakTrainPct, LeakValPct)
    pairs
      .join(split.select(col("vec_id").as("vec_a"), col("split").as("sa")),
        "vec_a")
      .join(split.select(col("vec_id").as("vec_b"), col("split").as("sb")),
        "vec_b")
      .groupBy(least(col("sa"), col("sb")).as("split_lo"),
        greatest(col("sa"), col("sb")).as("split_hi"))
      .agg(count(lit(1)).as("n_pairs"),
        max(col("dot_fp")).as("max_dot_fp"),
        sum(col("dot_fp").cast("decimal(38,0)")).cast("bigint")
          .as("sum_dot_fp"))
  }

  private val AgreeK = 4

  // ---- q203: kNN label imputation on the held-out split ----
  // [[graft.llm.Similarity.knnImputeCard]] with q197's deterministic
  // hash split as the labeled/unlabeled divide: train-slice vectors
  // keep labels, test-slice labels are imputed from the k nearest
  // in-bucket train neighbors and graded against the held-back
  // truth — the semi-supervised bootstrap measured, not assumed.
  def q203KnnImpute(s: SparkSession, dir: String): DataFrame = {
    val split = graft.llm.Sampling.hashSplit(
      graft.Tables.embeddings(s, dir), "vec_id", LeakTrainPct, LeakValPct)
    Similarity.knnImputeCard(
      split.filter(col("split") === "train"),
      split.filter(col("split") === "test"),
      "label", AgreeK, Dim)
  }

  // ---- q198: kNN label-agreement audit (label-noise detection) ----
  // [[graft.llm.Similarity.labelAgreementCard]] over the embeddings
  // table: per vector, the share of its k nearest in-bucket neighbors
  // sharing its label; majority disagreement flags a probable
  // mislabel before any classifier trains on it. The oracle replays
  // buckets, exact dots, the top-k rank, and both flags.
  def q198LabelAgreement(s: SparkSession, dir: String): DataFrame =
    Similarity.labelAgreementCard(graft.Tables.embeddings(s, dir),
      "label", AgreeK, Dim)

  // ---- q204: spam propagation over the near-dup graph ----
  // Guilt by duplication: a document that PASSES the q69 rule gate
  // but near-duplicates a rule-dropped (spam) document is probably
  // spam the rules missed — template spam mutates past keyword rules
  // faster than past shingle fingerprints. Seeds = rule verdicts
  // (suspicion 10⁶ for dropped, 0 for kept); two max-propagation
  // rounds over q38's audited near-dup edges, halving per hop
  // (integer floor — exact), so a clean doc one hop from spam scores
  // 500000, two hops 250000; `flagged` = kept but ≥ 250000. Scale:
  // the LinkRank round discipline — edges and each round's scores
  // persisted, one join + one dst-keyed max aggregate per round,
  // node-sized frames throughout.
  def q204SpamPropagation(s: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.documents(s, dir)
    val kept = graft.llm.Caches.persistTracked(
      TextAnalysis.ruleFilter(docs, "doc_id", "text")
        .select(col("doc_id"), col("kept")))
    val pairs = MinHashLSH.nearDupPairs(docs, "doc_id", "text",
      shingleN = ShingleN, numHashes = NumHashes, rowsPerBand = 1,
      minJaccardFp = ClusterMinJaccardFp)
      .select(col("doc_a"), col("doc_b"))
    val sc = graft.llm.Dedup.maxPropagate(
      kept.select(col("doc_id"),
        when(col("kept"), 0L).otherwise(1000000L).as("s")),
      pairs.select(col("doc_a").as("src"), col("doc_b").as("dst")),
      rounds = 2)
    kept.join(sc, Seq("doc_id"))
      .select(col("doc_id"), col("kept"), col("s").as("suspicion_ppm"))
      .withColumn("flagged",
        col("kept") && col("suspicion_ppm") >= 250000L)
  }

  // ---- q72: cluster-aware keep-best dedup ----
  // The decision real pipelines make on top of q38's labels: within
  // each near-dup cluster keep the HIGHEST-QUALITY member (tie → the
  // smallest id), not blindly the smallest id — a boilerplate-ridden
  // early crawl must not outrank a clean later copy. Output carries
  // every doc with its cluster, quality and the kept verdict, so the
  // drop set is auditable. Scale: q38's label propagation + one
  // row-local quality projection + a rank window whose partitions are
  // cluster sizes (overwhelmingly singletons).
  def q72ClusterBest(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = graft.Tables.documents(s, dir)
    val clusters = q38DedupClusters(s, dir)
    val scored = docs.select(col("doc_id"),
      graft.llm.TextAnalysis.qualityScoreFp("text").as("quality_fp"))
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col("quality_fp").desc, col("doc_id").asc)
    clusters.join(scored, "doc_id")
      .withColumn("__rn", row_number().over(w))
      .select(col("doc_id"), col("cluster_id"), col("quality_fp"),
        (col("__rn") === 1).as("kept"))
  }

  // ---- q135: golden-record survivorship per dedup cluster ----
  // The MDM step after q38/q72: instead of keeping one ROW, merge the
  // cluster's members column-wise into one consolidated record —
  // modal lang and source (tie → lexicographically smallest), min
  // doc_id as the stable canonical key, max n_chars (longest-copy
  // rule), member count for audit. Scale: the member frame is skinny
  // (5 cols) and cached once so the LSH+fixpoint cluster pass runs a
  // single time; the two modal paths are counting aggregates plus
  // rank windows partitioned by cluster — partition size = cluster
  // size, overwhelmingly 1, so no skew at any SF.
  def q135Survivorship(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = graft.Tables.documents(s, dir)
    val m = graft.llm.Caches.persistTracked(
      q38DedupClusters(s, dir).join(docs, "doc_id")
        .select(col("cluster_id"), col("doc_id"), col("lang"),
          col("source"), col("n_chars")))
    def modal(c: String): DataFrame = {
      // nulls-last pins the tie order independent of engine defaults:
      // Spark's plain asc sorts NULL first, DuckDB's ASC sorts it last.
      val w = Window.partitionBy(col("cluster_id"))
        .orderBy(col("__c").desc, col(c).asc_nulls_last)
      m.groupBy(col("cluster_id"), col(c)).agg(count(lit(1)).as("__c"))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).select(col("cluster_id"), col(c))
    }
    m.groupBy(col("cluster_id")).agg(
        count(lit(1)).as("n_members"),
        min(col("doc_id")).as("canonical_doc_id"),
        max(col("n_chars")).as("max_n_chars"))
      .join(modal("lang"), "cluster_id")
      .join(modal("source"), "cluster_id")
      .select(col("cluster_id"), col("n_members"), col("canonical_doc_id"),
        col("lang"), col("source"), col("max_n_chars"))
  }

  // ---- q136: time-windowed near-dup pairs (temporal LSH blocking) ----
  // Dedup over an ever-growing corpus must not compare today's crawl
  // against all of history: pairs only matter within TemporalWindow
  // days. The operator keys the band join by (band, time block) so a
  // boilerplate band key buckets at most two windows of corpus, and
  // candidate volume stays linear in corpus age. Days are synthesized
  // deterministically from doc_id (the q87/q100 edge-derivation
  // precedent); the oracle is the UNBLOCKED q21 pair set + the exact
  // day filter — equality certifies the time blocking is
  // semantics-free, the q133 salted-join proof pattern.
  private val TemporalWindow = 7L
  private val DayMod = 90L
  private val DayMul = 37L
  def q136TemporalDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.documents(s, dir)
      .withColumn("day", expr(s"(doc_id * ${DayMul}L) % ${DayMod}L"))
    MinHashLSH.temporalNearDupPairs(docs, "doc_id", "text", "day",
      TemporalWindow, shingleN = ShingleN, numHashes = NumHashes)
  }

  // ---- q75: int8 scalar quantization error card ----
  // The storage-compression decision for an embedding corpus, with
  // per-vector exact error evidence; pure integer arithmetic, zero
  // shuffle.
  def q75EmbedQuantize(s: SparkSession, dir: String): DataFrame =
    Similarity.scalarQuantizeStats(graft.Tables.embeddings(s, dir))

  // ---- q142: Johnson–Lindenstrauss random projection ----
  // The dimensionality-reduction pass a billion-vector pipeline runs
  // BEFORE indexing: project 64-dim embeddings onto the 8
  // deterministic integer hyperplanes (the q24 LSH planes — a sparse
  // ±{0..3} JL variant) with the SAME fixed-point contract as every
  // score here: proj_fp = dot_fp(embedding, plane) = Σ floor(xᵢwᵢ·10⁶).
  // One codegen'd native-expression call per output dim, zero shuffle;
  // the oracle embeds the identical 8×64 weight literals and replays
  // the per-element floor sum.
  def q142RandomProjection(s: SparkSession, dir: String): DataFrame = {
    graft.GraftExtensions.ensure(s)
    val planes = Similarity.planeWeights(Dim)
    val parts = planes.zipWithIndex.map { case (w, j) =>
      val arr = w.map(v => s"${v.toDouble}D").mkString("array(", ", ", ")")
      struct(lit(j).cast("int").as("proj_dim"),
        expr(s"dot_fp(embedding, $arr)").as("proj_fp"))
    }
    graft.Tables.embeddings(s, dir)
      .select(col("vec_id"), explode(array(parts: _*)).as("p"))
      .select(col("vec_id"), col("p.proj_dim").as("proj_dim"),
        col("p.proj_fp").as("proj_fp"))
  }

  // ---- q143: JL-projected search recall card ----
  // The evidence that decides whether q142's 8-dim projection may
  // stand in for the 64-dim space: top-k by projected L2 graded
  // against the exact dot_fp baseline with the q112 recall machinery.
  // Projection, distance, ranking, and the misses are all integer
  // arithmetic, so the card replays in the oracle. The query side is
  // a broadcast (NumQueryVecs rows); the corpus-side work is one
  // scan-local projection — the card costs one 8-dim brute-force
  // pass, which is exactly the saving the projection buys at scale.
  def q143ProjectedRecall(s: SparkSession, dir: String): DataFrame = {
    graft.GraftExtensions.ensure(s)
    val projArr = Similarity.planeWeights(Dim).map { w =>
      val arr = w.map(v => s"${v.toDouble}D").mkString("array(", ", ", ")")
      s"dot_fp(embedding, $arr)"
    }.mkString("array(", ", ", ")")
    val corp = graft.Tables.embeddings(s, dir)
      .select(col("vec_id"), expr(projArr).as("pv"))
    val qs = corp.filter(col("vec_id") < NumQueryVecs)
      .select(col("vec_id").as("query_id"), col("pv").as("pq"))
    val scored = qs.crossJoin(corp)
      .select(col("query_id"), col("vec_id"),
        (-expr("aggregate(zip_with(pq, pv, (a, b) -> (a - b) * (a - b)), " +
          "0L, (acc, x) -> acc + x)")).as("dot_fp"))
    Similarity.recallAtK(q23EmbedTopk(s, dir),
      Seq("jl_proj" -> Similarity.topKPerQuery(scored, AnnK)), AnnK)
  }

  // ---- q206: binary sign-embedding recall card ----
  // The 32×-compression acceptance evidence (64 floats → one BIGINT
  // sign word, [[graft.llm.Similarity.signWordExpr]]): top-k by
  // Hamming distance over the packed words, graded against the exact
  // fixed-point dot baseline through the SAME recallAtK spine as
  // q143/q166 — a third compression family (bits) next to JL
  // projection and matryoshka truncation. Scale: packing is a
  // row-local codegen'd projection; the scored stream carries two
  // BIGINTs per pair, and selection is the shared two-level top-k.
  def q206BinaryRecall(s: SparkSession, dir: String): DataFrame = {
    graft.GraftExtensions.ensure(s)
    val corp = graft.Tables.embeddings(s, dir)
      .select(col("vec_id"), Similarity.signWordExpr("embedding", Dim).as("wbits"))
    val qs = corp.filter(col("vec_id") < NumQueryVecs)
      .select(col("vec_id").as("query_id"), col("wbits").as("qb"))
    val scored = qs.crossJoin(corp)
      .select(col("query_id"), col("vec_id"),
        (-expr("cast(bit_count(qb ^ wbits) as bigint)")).as("dot_fp"))
    Similarity.recallAtK(q23EmbedTopk(s, dir),
      Seq("sign_bits" -> Similarity.topKPerQuery(scored, AnnK)), AnnK)
  }

  // ---- q208: first-relevant rank / reciprocal-rank card ----
  // The ranking-metric axis the recall cards don't cover: per query
  // vector, the rank of the first SAME-LABEL neighbor (self excluded)
  // in the exact top-TopK, and its reciprocal rank in ppm — the MRR
  // evidence a retrieval eval reports next to recall@k. Self must be
  // excluded by ID, not rank: an identical vector with a smaller id
  // outranks self on the (dot desc, vec_id asc) tie-break, so
  // "drop rank 1" would be wrong. Scale: q23's broadcast queries ×
  // corpus scan through the shared two-level top-k; the re-rank
  // window sees ≤ TopK+1 rows per query.
  def q208FirstRelevant(s: SparkSession, dir: String): DataFrame = {
    val emb = graft.Tables.embeddings(s, dir)
    val top = Similarity.bruteForceTopK(
        emb.filter(col("vec_id") < NumQueryVecs), emb, TopK + 1)
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("query_id"))
          .orderBy(col("dot_fp").desc, col("vec_id").asc)))
      .filter(col("rnk") <= TopK)
    val labs = emb.select(col("vec_id"), col("label"))
    val fr = top
      .join(labs.select(col("vec_id").as("query_id"),
        col("label").as("qlab")), "query_id")
      .join(labs.select(col("vec_id"), col("label").as("clab")), "vec_id")
      .filter(col("clab") === col("qlab"))
      .groupBy(col("query_id"))
      .agg(min(col("rnk")).cast("bigint").as("first_rel_rank"))
    labs.filter(col("vec_id") < NumQueryVecs)
      .select(col("vec_id").as("query_id"), col("label"))
      .join(fr, Seq("query_id"), "left")
      .select(col("query_id"), col("label"),
        coalesce(col("first_rel_rank"), lit(0L)).as("first_rel_rank"),
        expr("cast(case when coalesce(first_rel_rank, 0L) = 0 then 0 " +
          "else 1000000 div first_rel_rank end as bigint)").as("rr_ppm"))
  }

  // ---- q211: triplet-margin mining card ----
  // The contrastive-batch evidence q183 stops short of: per anchor,
  // the hardest POSITIVE (highest-dot same-label, self excluded) and
  // the hardest NEGATIVE (highest-dot cross-label) from ONE scored
  // pass, and the triplet margin between them — anchors with a
  // non-positive margin are the cases a contrastive loss actually
  // learns from. Missing sides surface as -1/0 by explicit
  // convention. Scale: q23's broadcast queries × corpus scan, one
  // (query, same-label?) window over it, then an anchor-keyed fold.
  def q211TripletMargin(s: SparkSession, dir: String): DataFrame = {
    graft.GraftExtensions.ensure(s)
    val emb = graft.Tables.embeddings(s, dir)
    val q = broadcast(emb.filter(col("vec_id") < NumQueryVecs)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("label").as("qlab")))
    val scored = q.crossJoin(emb.select(col("vec_id"),
        col("embedding").as("ce"), col("label").as("clab")))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("qlab"), col("vec_id"), col("clab"),
        Similarity.dotFpNative("qe", "ce").as("dot_fp"),
        (col("clab") === col("qlab")).as("same"))
    val best = scored.withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id"), col("same"))
          .orderBy(col("dot_fp").desc, col("vec_id").asc)))
      .filter(col("__rn") === 1)
    best.groupBy(col("query_id"))
      .agg(
        max(when(col("same"), col("vec_id"))).as("__pid"),
        max(when(col("same"), col("dot_fp"))).as("__pd"),
        max(when(!col("same"), col("vec_id"))).as("__nid"),
        max(when(!col("same"), col("dot_fp"))).as("__nd"))
      .select(col("query_id"),
        coalesce(col("__pid"), lit(-1L)).as("pos_id"),
        coalesce(col("__pd"), lit(0L)).as("pos_dot_fp"),
        coalesce(col("__nid"), lit(-1L)).as("neg_id"),
        coalesce(col("__nd"), lit(0L)).as("neg_dot_fp"))
      .withColumn("margin_fp", col("pos_dot_fp") - col("neg_dot_fp"))
  }

  // ---- q212: embedding↔text alignment (cell language purity) ----
  // Does the embedding space organize by language? The trained IVF
  // assignment ([[graft.llm.IvfIndex.cellAssignments]] — the SAME
  // fixed-point Lloyd training and argmin tie-break as every search
  // path) joined against `documents.lang` by id: per cell, the
  // majority language and its purity ppm. Low purity = embeddings
  // and text metadata disagree — the audit run before trusting
  // either for routing. Scale: assignment is scan-local over the
  // broadcast codebook; the rollup is cell×lang-bounded.
  def q212CellLangAlignment(s: SparkSession, dir: String): DataFrame = {
    val af = graft.llm.IvfIndex.cellAssignments(
      graft.Tables.embeddings(s, dir), IvfLists, IvfIter)
    val g = graft.llm.Caches.persistTracked(
      af.join(graft.Tables.documents(s, dir)
          .select(col("doc_id").as("vec_id"),
            coalesce(col("lang"), lit("(null)")).as("lang")),
        Seq("vec_id"))
      .groupBy(col("cell"), col("lang"))
      .agg(count(lit(1)).as("n")))
    val tot = g.groupBy(col("cell")).agg(sum(col("n")).cast("bigint").as("n_vecs"))
    val top = g.withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("cell"))
          .orderBy(col("n").desc, col("lang").asc)))
      .filter(col("__rn") === 1)
      .select(col("cell"), col("lang").as("top_lang"),
        col("n").cast("bigint").as("top_n"))
    tot.join(top, Seq("cell"))
      .select(col("cell").cast("int").as("cell"), col("n_vecs"),
        col("top_lang"), col("top_n"),
        expr("cast(cast(top_n as decimal(38,0)) * 1000000 " +
          "div greatest(n_vecs, 1L) as bigint)").as("purity_ppm"))
  }

  // ---- q215: nProbe recall sweep (the IVF latency/recall knob) ----
  // q66 prices ONE probe setting; this prices the knob: the SAME
  // memoized fixed-point training searched at nProbe ∈ {1, 2, 4},
  // each graded against the exact baseline through the shared
  // recallAtK spine — the evidence for choosing probe count that a
  // 100 TB deployment otherwise guesses. Training runs once (session
  // memo); each run adds only its probe-cell join and top-k.
  private val ProbeSweep = Seq(1, 2, 4)
  def q215ProbeSweep(s: SparkSession, dir: String): DataFrame = {
    val emb = graft.Tables.embeddings(s, dir)
    val q = emb.filter(col("vec_id") < NumQueryVecs)
    val runs = ProbeSweep.map(p => s"probe_$p" ->
      graft.llm.IvfIndex.fixedPointSearch(emb, q, IvfLists, AnnK, p, IvfIter))
    Similarity.recallAtK(q23EmbedTopk(s, dir), runs, AnnK)
  }

  // ---- q225: the nProbe sweep served from the SHIPPED codebook ----
  // q215's bench line deliberately prices training per iteration (the
  // memo-clearing design); this is the deployment's number: the
  // coarse codebook trains ONCE into the durable Artifacts catalog
  // and every sweep run loads it and pays probe + exact rerank only
  // ([[graft.llm.IvfIndex.searchWithCodebook]] — fixedPointSearch is
  // literally that function fed by fitFixedPoint, so the loaded
  // replica is byte-identical to q215 and shares its oracle, the
  // q176/q92 precedent).
  def q225ProbeSweepLoaded(s: SparkSession, dir: String): DataFrame = {
    val emb = graft.Tables.embeddings(s, dir)
    val root = graft.llm.Artifacts.ensure(dir,
      s"ivfcoarse-v1-l$IvfLists-i$IvfIter") { p =>
      graft.llm.Artifacts.saveCodebook(s, p + "/coarse",
        graft.llm.IvfIndex.fitFixedPoint(emb, IvfLists, IvfIter))
    }
    val cb = graft.llm.Artifacts.loadCodebook(s, root + "/coarse")
    val q = emb.filter(col("vec_id") < NumQueryVecs)
    val runs = ProbeSweep.map(p => s"probe_$p" ->
      graft.llm.IvfIndex.searchWithCodebook(emb, q, cb, AnnK, p))
    Similarity.recallAtK(q23EmbedTopk(s, dir), runs, AnnK)
  }

  // ---- q276: graph-expansion ANN from the shipped kNN graph ----
  // The graph-based member of the ANN family (IVF / PQ / LSH /
  // brute-force all exist): probe-1 IVF seeds take ONE hop over the
  // SHIPPED in-cell kNN graph ([[graft.llm.IvfIndex
  // .knnGraphWithCodebook]] — exactly q117's ranked edge set, built
  // once next to the coarse codebook in the durable catalog) and the
  // expanded set exact-reranks. The card prices the repair: recall@k
  // of probe-1 alone vs probe-1 + expansion against the brute-force
  // truth — a true neighbor that fell across a cell boundary is
  // usually a graph neighbor of a same-cell seed, so expansion buys
  // the recall another probe would, for seeds×graph-k extra exact
  // dots instead of a second full cell scan. Everything serves from
  // LOADED artifacts; train-once/serve-many.
  def q276GraphExpand(s: SparkSession, dir: String): DataFrame = {
    val emb = graft.Tables.embeddings(s, dir)
    val root = graft.llm.Artifacts.ensure(dir,
        s"ivfgraph-v2-l$IvfLists-i$IvfIter-k$MutualK-c$SemDedupCellCap-a2") { p =>
      val cb = graft.llm.IvfIndex.fitFixedPoint(emb, IvfLists, IvfIter)
      graft.llm.Artifacts.saveCodebook(s, p + "/coarse", cb)
      // nAssign = 2: the graph must carry CROSS-cell edges (vectors
      // sharing a second-choice cell) or expansion could never reach
      // past the probe cell probe-1 already ranks exactly
      graft.llm.Artifacts.saveIndexFrame(p + "/edges",
        graft.llm.IvfIndex.knnGraphWithCodebook(emb, cb, MutualK,
          SemDedupCellCap, nAssign = 2))
    }
    val cb = graft.llm.Artifacts.loadCodebook(s, root + "/coarse")
    val edges = graft.llm.Artifacts.loadIndexFrame(s, root + "/edges")
    val q = emb.filter(col("vec_id") < NumQueryVecs)
    Similarity.recallAtK(q23EmbedTopk(s, dir), Seq(
      "ivf_probe1" ->
        graft.llm.IvfIndex.searchWithCodebook(emb, q, cb, AnnK, 1),
      "graph_expand" ->
        graft.llm.IvfIndex.graphExpandWithCodebook(emb, q, cb, edges, AnnK)),
      AnnK)
  }

  // ---- q296: incremental inverted-list maintenance (fold == rebuild) ----
  // q280 keeps the near-dup signature index fresh at crawl cadence;
  // this is the same theorem for the ANN family's FIRST artifact, the
  // IVF inverted lists: [[graft.llm.IvfIndex.ivfDelta]] folds an
  // arrival batch into the shipped (vec_id, cell) lists by assigning
  // arrivals scan-locally against the LOADED codebook — the corpus is
  // never re-assigned, the codebook never retrains on a fold (a
  // quantizer refresh is an offline rebuild behind a new artifact
  // name). Because assignment is a pure row-local function of the
  // fixed codebook, fold ≡ rebuild-with-the-same-codebook row-for-row
  // — and with nAssign = 2 the per-vec (count, min cell, max cell)
  // triple is a LOSSLESS rendering of the assignment set, so the
  // oracle (which retrains the identical fixed-point codebook and
  // replays the rank-2 assignment) pins every row; agree == true or
  // the round hash-fails. Arrivals = the top id decile (monotone
  // crawl ids — the graphDelta precondition, shared here).
  private def splitByIdDecile(emb: DataFrame): (DataFrame, DataFrame) = {
    val maxId = emb.agg(max(col("vec_id"))).head().getLong(0)
    val thr = maxId * 9L / 10L
    (emb.filter(col("vec_id") <= thr), emb.filter(col("vec_id") > thr))
  }

  def q296IvfDelta(s: SparkSession, dir: String): DataFrame = {
    val emb = graft.Tables.embeddings(s, dir)
    val cb = graft.llm.IvfIndex.fitFixedPoint(emb, IvfLists, IvfIter)
    val (old, arrivals) = splitByIdDecile(emb)
    val folded = graft.llm.IvfIndex.ivfDelta(
      graft.llm.IvfIndex.multiAssignments(old, cb, 2), arrivals, cb, 2)
    val rebuilt = graft.llm.IvfIndex.multiAssignments(emb, cb, 2)
    def perVec(df: DataFrame, pfx: String) = df.groupBy(col("vec_id"))
      .agg(count(lit(1)).cast("bigint").as(s"n_$pfx"),
        min(col("cell")).cast("bigint").as(s"cmin_$pfx"),
        max(col("cell")).cast("bigint").as(s"cmax_$pfx"))
    perVec(rebuilt, "rebuild")
      .join(perVec(folded, "delta"), Seq("vec_id"), "full_outer")
      .select(col("vec_id"), col("n_rebuild"), col("cmin_rebuild"),
        col("cmax_rebuild"), col("n_delta"), col("cmin_delta"),
        col("cmax_delta"),
        (col("n_rebuild").isNotNull && col("n_delta").isNotNull &&
          col("n_rebuild") === col("n_delta") &&
          col("cmin_rebuild") === col("cmin_delta") &&
          col("cmax_rebuild") === col("cmax_delta")).as("agree"))
  }

  // ---- q297: incremental kNN-graph maintenance (fold == rebuild) ----
  // The last static ANN artifact becomes maintainable: q276 serves
  // from a shipped kNN graph, and [[graft.llm.IvfIndex.graphDelta]]
  // lets a new vector become a GRAPH NEIGHBOR without a rebuild —
  // arrivals multi-assign scan-locally, pair only with the
  // truncation-surviving members of their cells (loaded lists + fellow
  // arrivals), and the patch is two-sided: arrival top-k out-edges
  // plus a re-rank of every touched old node's loaded edge list
  // against its new candidates (top-k is monotone, so
  // top-k(old ∪ new) = top-k(top-k(old) ∪ new) — exact, not
  // approximate). Untouched nodes pass through byte-identical, so
  // q276's recall off the folded graph is unchanged BY CONSTRUCTION.
  // The card compares per-src edge count + commutative checksum over
  // (dst, dot_fp) between the fold and the full rebuild; the oracle
  // retrains the codebook, replays the rebuild (the q276 edge CTEs
  // with dots kept), and pins agree == true — a missed reverse-edge
  // patch, a cap leak, or a drifted tie-break hash-fails the round.
  def q297GraphDelta(s: SparkSession, dir: String): DataFrame = {
    val emb = graft.Tables.embeddings(s, dir)
    val cb = graft.llm.IvfIndex.fitFixedPoint(emb, IvfLists, IvfIter)
    val (old, arrivals) = splitByIdDecile(emb)
    val folded = graft.llm.IvfIndex.graphDelta(old, arrivals, cb,
      graft.llm.IvfIndex.multiAssignments(old, cb, 2),
      graft.llm.IvfIndex.knnGraphWithCodebook(old, cb, MutualK,
        SemDedupCellCap, 2),
      MutualK, SemDedupCellCap, 2)
    val rebuilt = graft.llm.IvfIndex.knnGraphWithCodebook(emb, cb,
      MutualK, SemDedupCellCap, 2)
    edgesPerSrc(rebuilt, "rebuild")
      .join(edgesPerSrc(folded, "delta"), Seq("src"), "full_outer")
      .select(col("src"), col("n_rebuild"), col("ck_rebuild"),
        col("n_delta"), col("ck_delta"),
        (col("n_rebuild").isNotNull && col("n_delta").isNotNull &&
          col("n_rebuild") === col("n_delta") &&
          col("ck_rebuild") === col("ck_delta")).as("agree"))
  }

  /** Per-src (edge count, commutative checksum over (dst, dot)) — the
    * fold ≡ rebuild spine shared by q297 (append) and q299 (erase). */
  private def edgesPerSrc(df: DataFrame, pfx: String): DataFrame = df
    .select(col("src"), graft.llm.Sketches.integrityHash(
      Seq(col("dst").cast("string"), col("dot_fp").cast("string")))
      .as("h"))
    .groupBy(col("src"))
    .agg(count(lit(1)).cast("bigint").as(s"n_$pfx"),
      expr("cast(sum(cast(h as decimal(38,0))) % " +
        s"${graft.llm.Sketches.ChecksumMod}L as bigint)").as(s"ck_$pfx"))

  // ---- q299: kNN-graph erasure-APPLY (fold == rebuild-without) ----
  // The erase that completes the ANN lifecycle (q296/q297 gave the
  // artifacts their append fold; q294 gave the signature index its
  // erase): [[graft.llm.IvfIndex.graphErase]] folds a tombstone set
  // OUT of the loaded graph — the erased vectors' cells come from the
  // LOADED lists (no re-quantization), every truncation-surviving
  // member of a touched cell re-ranks its edge list over the
  // surviving compared membership (which absorbs the
  // cap-RESURRECTION case: erasing a row promotes later members into
  // comparison), untouched sources pass through byte-identical. The
  // card pins fold ≡ rebuild-without per src (count + checksum);
  // the oracle retrains the identical codebook and replays the
  // rebuild over the surviving slice, agree pinned true.
  private val EraseVecMod = 7
  def q299GraphErase(s: SparkSession, dir: String): DataFrame = {
    val emb = graft.Tables.embeddings(s, dir)
    val cb = graft.llm.IvfIndex.fitFixedPoint(emb, IvfLists, IvfIter)
    val assigned = graft.llm.IvfIndex.multiAssignments(emb, cb, 2)
    val edges = graft.llm.IvfIndex.knnGraphWithCodebook(emb, cb,
      MutualK, SemDedupCellCap, 2)
    val ids = emb.filter(pmod(col("vec_id"), lit(EraseVecMod)) === 0)
      .select(col("vec_id"))
    val folded = graft.llm.IvfIndex.graphErase(emb, ids, assigned,
      edges, MutualK, SemDedupCellCap)
    val rebuilt = graft.llm.IvfIndex.knnGraphWithCodebook(
      emb.filter(pmod(col("vec_id"), lit(EraseVecMod)) =!= 0), cb,
      MutualK, SemDedupCellCap, 2)
    edgesPerSrc(rebuilt, "rebuild")
      .join(edgesPerSrc(folded, "erase"), Seq("src"), "full_outer")
      .select(col("src"), col("n_rebuild"), col("ck_rebuild"),
        col("n_erase"), col("ck_erase"),
        (col("n_rebuild").isNotNull && col("n_erase").isNotNull &&
          col("n_rebuild") === col("n_erase") &&
          col("ck_rebuild") === col("ck_erase")).as("agree"))
  }

  // ---- q217: per-source split drift (train vs test centroids) ----
  // Representation drift the split should NOT have: per source, the
  // fixed-point cosine between its train-slice and test-slice
  // centroids (q147's exact centroid/norm/sqrt spelling via
  // [[graft.llm.Similarity.labelCentroidsFp]] over a composite
  // (source, split) label). A hash split is content-blind, so low
  // cosine here means the source is internally heterogeneous enough
  // that ANY split carries distribution shift — the caveat to attach
  // to its eval numbers. Sources missing a slice drop out (inner
  // joins — both engines identically). Scale: one posexplode
  // aggregate to (label, dim) rows, everything after is
  // sources×dims-bounded; counts come from a skinny no-embedding
  // scan.
  def q217SourceSplitDrift(s: SparkSession, dir: String): DataFrame = {
    val emb = graft.Tables.embeddings(s, dir)
    val src = graft.Tables.documents(s, dir)
      .select(col("doc_id").as("vec_id"),
        coalesce(col("source"), lit("(null)")).as("source"))
    val withSplit = graft.llm.Sampling.hashSplit(
        emb.join(src, Seq("vec_id")), "vec_id", LeakTrainPct, LeakValPct)
      .filter(col("split") =!= "val")
    val cent = graft.llm.Caches.persistTracked(
      Similarity.groupCentroidsFp(withSplit, Seq("source", "split"),
        "embedding"))
    val nrm = cent.groupBy(col("source"), col("split"))
      .agg(sum(col("cf") * col("cf")).as("nrm"))
    val dot = cent.filter(col("split") === "train")
      .select(col("source"), col("dim"), col("cf").as("ca"))
      .join(cent.filter(col("split") === "test")
        .select(col("source"), col("dim"), col("cf").as("cb")),
        Seq("source", "dim"))
      .groupBy(col("source"))
      .agg(sum(col("ca") * col("cb")).as("dot"))
    // count docs WITH vectors only (a doc-only count silently drifts
    // wherever documents outnumber embeddings — it did at sf0.1);
    // the id-only join is a skinny key scan, no embedding bytes move
    val counts = graft.llm.Caches.persistTracked(
      graft.llm.Sampling.hashSplit(
          src.join(emb.select(col("vec_id")), Seq("vec_id")),
          "vec_id", LeakTrainPct, LeakValPct)
        .groupBy(col("source"), col("split"))
        .agg(count(lit(1)).as("n")))
    dot
      .join(nrm.filter(col("split") === "train")
        .select(col("source"), col("nrm").as("na")), Seq("source"))
      .join(nrm.filter(col("split") === "test")
        .select(col("source"), col("nrm").as("nb")), Seq("source"))
      .join(counts.filter(col("split") === "train")
        .select(col("source"), col("n").as("n_train")), Seq("source"))
      .join(counts.filter(col("split") === "test")
        .select(col("source"), col("n").as("n_test")), Seq("source"))
      .select(col("source"), col("n_train").cast("bigint").as("n_train"),
        col("n_test").cast("bigint").as("n_test"),
        expr("cast(floor(1000000.0 * cast(dot as double) / " +
          "(sqrt(cast(na as double)) * sqrt(cast(nb as double)))) as bigint)")
          .as("cos_fp"))
  }

  // ---- q166: matryoshka prefix-dimension recall card ----
  // The acceptance evidence for matryoshka-style dimension truncation
  // (serve the first d of 64 dims, keep the rest on disk): top-k by
  // PREFIX dot product at d ∈ {32, 16, 8}, each graded against the
  // exact full-dimension baseline — q143's JL-projection card with
  // slicing instead of projection (no weights to ship; truncation is
  // free at read time when the writer lays dims matryoshka-first).
  // Cost: the same broadcast-queries × corpus scan as q23, once per
  // prefix, on progressively cheaper dot products; every later frame
  // is top-k-sized.
  private val MrlDims = Seq(32, 16, 8)
  def q166MatryoshkaRecall(s: SparkSession, dir: String): DataFrame = {
    graft.GraftExtensions.ensure(s)
    val emb = graft.Tables.embeddings(s, dir)
    val corp = emb.select(col("vec_id"), col("embedding").as("ce"))
    val qs = broadcast(emb.filter(col("vec_id") < NumQueryVecs)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe")))
    val runs = MrlDims.map { d =>
      val scored = qs.crossJoin(corp)
        .select(col("query_id"), col("vec_id"),
          expr(s"dot_fp(slice(qe, 1, $d), slice(ce, 1, $d))").as("dot_fp"))
      s"mrl_$d" -> Similarity.topKPerQuery(scored, AnnK)
    }
    Similarity.recallAtK(q23EmbedTopk(s, dir), runs, AnnK)
  }

  // ---- q171: SNM candidates verified by exact Jaccard ----
  // q164's sorted-neighborhood blocking completed into a full dedup
  // path: every candidate pair scored with the SAME hashed-shingle
  // Jaccard verify the MinHash family uses (q21's `inter_count`
  // merge walk over sorted 60-bit base sets) — so the three blocking
  // families (banding, radius probing, neighborhood sort) are
  // directly comparable downstream. Scale: pairs are O(n·w); the
  // verify joins ship only the candidate ids plus their base sets.
  def q171SnmVerified(s: SparkSession, dir: String): DataFrame = {
    graft.GraftExtensions.ensure(s)
    val docs = graft.Tables.documents(s, dir)
    val sets = graft.llm.Caches.persistTracked(
      graft.llm.MinHashLSH.shingleSets(docs, "doc_id", "text", ShingleN))
    graft.llm.MinHashLSH.withJaccardFp(
      graft.llm.Dedup.snmPairs(docs.select(col("doc_id"), col("text")),
          "doc_id", "text")
        .select(col("doc_lo").as("doc_a"), col("doc_hi").as("doc_b")),
      sets, "doc_a", "doc_b")
  }

  // ---- q174: sorted-neighborhood recall card, per pass config ----
  // The third blocking family graded on the SAME truth slice and
  // thresholds as q113/q173: SNM's recall is bounded by what sorts
  // adjacent (an edit in the first block-prefix characters moves a
  // doc across blocks), so this card quantifies the neighborhood
  // trade against banding — and, per config row, what the reversed-key
  // second pass (q177) buys back at equal threshold. The truth frame
  // and shingle sets are computed ONCE and persisted (two card
  // consumers — the recurring shared-aggregate rule); cost is one
  // O(sampleLimit²) truth pass + two O(n·w) candidate passes, all
  // constant at corpus scale.
  def q174SnmRecall(s: SparkSession, dir: String): DataFrame = {
    graft.GraftExtensions.ensure(s)
    val sample = graft.Tables.documents(s, dir)
      .filter(col("doc_id") < CardSampleLimit)
    val sets = graft.llm.Caches.persistTracked(
      graft.llm.MinHashLSH.shingleSets(sample, "doc_id", "text", ShingleN))
    val ids = sets.select(col("doc_id"))
    val truthPairs = ids.select(col("doc_id").as("doc_a"))
      .join(broadcast(ids.select(col("doc_id").as("doc_b"))),
        col("doc_a") < col("doc_b"))
    val truth = graft.llm.Caches.persistTracked(
      MinHashLSH.withJaccardFp(truthPairs, sets, "doc_a", "doc_b")
        .select(col("jaccard_fp")))
    def card(candPairs: DataFrame, label: String): DataFrame =
      MinHashLSH.thresholdCard(truth,
        MinHashLSH.withJaccardFp(candPairs, sets, "doc_a", "doc_b")
          .select(col("jaccard_fp")), CardThresholds)
        .withColumn("snm_cfg", lit(label))
    val docsSlim = sample.select(col("doc_id"), col("text"))
    card(graft.llm.Dedup.snmPairs(docsSlim, "doc_id", "text")
        .select(col("doc_lo").as("doc_a"), col("doc_hi").as("doc_b")),
        "fwd")
      .unionByName(card(
        graft.llm.Dedup.snmPairsMultiPass(docsSlim, "doc_id", "text")
          .select(col("doc_lo").as("doc_a"), col("doc_hi").as("doc_b")),
        "fwd_rev"))
  }

  // ---- q168: documents ↔ embeddings coverage audit ----
  // The cross-modality referential card q149 doesn't cover: every
  // document should have its vector and every vector its document.
  // FULL OUTER join on the id edge, rolled up per source — vectors
  // with no document land in the '(orphan_vectors)' row. Scale: one
  // equi-join shuffling two id-plus-tag projections, then a
  // source-cardinality aggregate.
  def q168EmbeddingCoverage(s: SparkSession, dir: String): DataFrame = {
    val d = graft.Tables.documents(s, dir).select(col("doc_id"), col("source"))
    val e = graft.Tables.embeddings(s, dir).select(col("vec_id"))
    // the roll-up key distinguishes a VECTOR with no document
    // (doc_id null after the full join) from a DOCUMENT with a null
    // source — conflating them would hide null-source docs inside the
    // orphan-vector row
    d.join(e, col("doc_id") === col("vec_id"), "full_outer")
      .groupBy(when(col("doc_id").isNull, lit("(orphan_vectors)"))
        .otherwise(coalesce(col("source"), lit("(null_source)")))
        .as("source"))
      .agg(count(col("doc_id")).as("n_docs"),
        count(col("vec_id")).as("n_vecs"))
      .withColumn("coverage_ppm",
        when(col("n_docs") > 0L,
          expr("(n_vecs * 1000000L) div n_docs")).otherwise(0L))
      .orderBy(col("source"))
  }

  // ---- q147: label-centroid cosine matrix (topic similarity card) ----
  // Which labeled slices of the corpus say the same thing: per-label
  // fixed-point centroids (floor-mean of the q46 component sums —
  // explicit double-floor division so negative sums floor identically
  // in both engines), then every label pair's cosine as
  // floor(1e6·dot/(|a|·|b|)). Integer dot/norms convert exactly to
  // double (≪ 2⁵³) and IEEE sqrt is correctly rounded, so the score
  // replays bit-for-bit. Everything after the one (label, dim)
  // aggregation is label²-sized — a card, not a corpus pass.
  def q147LabelCosine(s: SparkSession, dir: String): DataFrame = {
    val cent = graft.llm.Similarity.labelCentroidsFp(
      graft.Tables.embeddings(s, dir), "label", "embedding")
    val nrm = cent.groupBy(col("label"))
      .agg(sum(col("cf") * col("cf")).as("nrm"))
    val pairs = cent.select(col("label").as("label_a"), col("dim"),
        col("cf").as("ca"))
      .join(cent.select(col("label").as("label_b"), col("dim"),
        col("cf").as("cb")), Seq("dim"))
      .filter(col("label_a") < col("label_b"))
      .groupBy(col("label_a"), col("label_b"))
      .agg(sum(col("ca") * col("cb")).as("dot"))
    pairs
      .join(nrm.select(col("label").as("label_a"), col("nrm").as("na")), "label_a")
      .join(nrm.select(col("label").as("label_b"), col("nrm").as("nb")), "label_b")
      .select(col("label_a"), col("label_b"), expr(
        "cast(floor(1000000.0 * cast(dot as double) / " +
          "(sqrt(cast(na as double)) * sqrt(cast(nb as double)))) as bigint)")
        .as("cos_fp"))
  }

  /** q147/q182's shared centroid CTE (`c`) — the oracle twin of
    * [[graft.llm.Similarity.labelCentroidsFp]]. */
  private def centCteSql: String =
    s"""c AS (SELECT label, i AS dim,
       |    CAST(floor(CAST(sum(CAST(floor(CAST(embedding[i] AS DOUBLE)
       |        * 1000000.0) AS BIGINT)) AS DOUBLE)
       |      / CAST(count(*) AS DOUBLE)) AS BIGINT) AS cf
       |  FROM embeddings, unnest(range(1, $Dim + 1)) AS u(i)
       |  GROUP BY label, i)""".stripMargin

  private val IvfLists = 16
  private val IvfProbe = 2

  // ---- q41: deterministic-codebook IVF ANN ----
  // The codebook path's oracle-checkable form: seeds = first nLists
  // vectors, argmax-dot assignment, nProbe probes, exact rerank (see
  // IvfIndex.seededSearch; the trained k-means quantizer stays
  // spec-pinned because float centroid sums aren't partition-
  // reproducible).
  def q41IvfAnn(s: SparkSession, dir: String): DataFrame = {
    val emb = graft.Tables.embeddings(s, dir)
    graft.llm.IvfIndex.seededSearch(emb,
      emb.filter(col("vec_id") < NumQueryVecs), IvfLists, AnnK, IvfProbe)
      .select(col("query_id"), col("vec_id"), col("dot_fp"), col("rn"))
  }

  private val IvfIter = 3

  // ---- q66: TRAINED IVF (fixed-point k-means), oracle-checked ----
  // The trained quantizer was the one path without an oracle ("float
  // centroids aren't partition-reproducible"). fitFixedPoint removes
  // the float: quantize to micro-units, integer-sqdist Lloyd rounds,
  // floor-mean centroid updates — so the WHOLE pipeline (train →
  // assign → probe → exact rerank) is an integer function of the
  // input, and the oracle replays all three k-means iterations as
  // unrolled SQL CTEs.
  def q66IvfTrained(s: SparkSession, dir: String): DataFrame = {
    val emb = graft.Tables.embeddings(s, dir)
    graft.llm.IvfIndex.fixedPointSearch(emb,
      emb.filter(col("vec_id") < NumQueryVecs), IvfLists, AnnK, IvfProbe, IvfIter)
      .select(col("query_id"), col("vec_id"), col("dot_fp"), col("rn"))
  }

  private val PqM = 4
  private val PqKSub = 8
  private val PqIter = 2
  private val PqRerank = 9
  private val PqSubDim = Dim / PqM

  // ---- q84: product-quantization ANN (ADC + exact rerank) ----
  // The compressed-domain search path: per-subspace fixed-point
  // codebooks, corpus held as m-byte-class CODES, ADC lookup-table
  // scoring, exact rerank of the survivors. Integer end to end, so
  // the oracle replays training (per-subspace Lloyd rounds), encoding,
  // ADC ranking, and the rerank as unrolled CTEs.
  def q84PqAnn(s: SparkSession, dir: String): DataFrame = {
    val emb = graft.Tables.embeddings(s, dir)
    graft.llm.PqIndex.adcSearch(emb,
      emb.filter(col("vec_id") < NumQueryVecs), PqM, PqKSub, AnnK, PqRerank, PqIter)
      .select(col("query_id"), col("vec_id"), col("dot_fp"), col("rn"))
  }

  // ---- q92: IVF-ADC (cells bound the scan, codes bound the memory) ----
  // The billion-vector serving shape: q66's coarse quantizer picks
  // nProbe cells per query, q84's PQ codes score the cell members via
  // lookup tables, the exact rerank restores true order. Queries ride
  // the cell shuffle (never broadcast), so the plan scales in
  // nProbe·cellSize, not corpus size.
  def q92IvfAdc(s: SparkSession, dir: String): DataFrame = {
    val emb = graft.Tables.embeddings(s, dir)
    graft.llm.PqIndex.ivfAdcSearch(emb,
      emb.filter(col("vec_id") < NumQueryVecs),
      IvfLists, IvfIter, PqM, PqKSub, PqIter, AnnK, IvfProbe, PqRerank)
      .select(col("query_id"), col("vec_id"), col("dot_fp"), col("rn"))
  }

  private val OutlierK = 4

  // ---- q182: embedding-space outlier audit per label ----
  // The mislabeled/corrupt-vector screen: integer squared distance of
  // every vector to its label centroid (the SAME centroid spelling as
  // q147 — Similarity.labelCentroidsFp), per-label count/floor-mean/
  // max, and how many vectors exceed 4× the label mean. Exact integer
  // replay; decimal(38,0) sums for 100 TB reach.
  def q182EmbeddingOutliers(s: SparkSession, dir: String): DataFrame =
    graft.llm.Similarity.centroidOutlierCard(
      graft.Tables.embeddings(s, dir), "vec_id", "label", "embedding",
      OutlierK)

  // ---- q176: IVF-ADC from the SHIPPED codebook artifacts ----
  // q92 with the serve-side entry point: coarse + PQ codebooks are
  // trained once per corpus into the Artifacts catalog (the session
  // memo does not survive the bench's per-iteration cache clear, so
  // q92's bench line prices training every time); here every run
  // after the first LOADS and pays only encode + probe + rerank —
  // the honest serving cost. Byte-identical to q92 (same codebooks
  // by determinism), so it shares q92's oracle.
  def q176IvfAdcLoaded(s: SparkSession, dir: String): DataFrame = {
    val emb = graft.Tables.embeddings(s, dir)
    val root = graft.llm.Artifacts.ensure(dir,
      s"ivfadc-v1-l$IvfLists-i$IvfIter-m$PqM-k$PqKSub-p$PqIter") { p =>
      graft.llm.Artifacts.saveCodebook(s, p + "/coarse",
        graft.llm.IvfIndex.fitFixedPoint(emb, IvfLists, IvfIter))
      graft.llm.Artifacts.savePqCodebooks(s, p + "/pq",
        graft.llm.PqIndex.fitSubspaces(emb, PqM, PqKSub, PqIter))
    }
    graft.llm.PqIndex.ivfAdcSearch(emb,
      emb.filter(col("vec_id") < NumQueryVecs),
      graft.llm.Artifacts.loadCodebook(s, root + "/coarse"),
      graft.llm.Artifacts.loadPqCodebooks(s, root + "/pq"),
      AnnK, IvfProbe, PqRerank)
      .select(col("query_id"), col("vec_id"), col("dot_fp"), col("rn"))
  }

  private val SemDedupCellCap = 64
  private val SemDedupMinDotFp = 350000L

  // ---- q67: SemDeDup-style semantic dedup over trained clusters ----
  // The intersection of the trained quantizer (q66) and the dedup
  // family: cluster with fixed-point k-means, compare only within
  // cells, keep the lowest id among semantic duplicates. Cells are
  // rank-truncated at SemDedupCellCap (the windowed guard the oracle
  // replays), so a degenerate cell costs cap², not m².
  def q67SemanticDedup(s: SparkSession, dir: String): DataFrame =
    graft.llm.IvfIndex.semanticDedup(graft.Tables.embeddings(s, dir),
      IvfLists, SemDedupMinDotFp, IvfIter, maxCellSize = SemDedupCellCap)

  private val MutualK = 4

  // ---- q125: IVF balance card (the nLists sizing evidence) ----
  // Imbalanced inverted lists are the probe-latency killer at scale;
  // this card surfaces per-cell population, ppm share, and floor-mean
  // squared radius off the SAME fixed-point training the search paths
  // use, so its numbers are the index's numbers, oracle-replayed
  // Lloyd rounds included.
  def q125IvfBalance(s: SparkSession, dir: String): DataFrame =
    graft.llm.IvfIndex.balanceCard(graft.Tables.embeddings(s, dir),
      IvfLists, IvfIter)

  // ---- q117: mutual-kNN graph clustering (topic grouping) ----
  // SemDeDup's threshold rule finds COPIES; this finds TOPICS: an edge
  // only where each side ranks the other inside its top-k in-cell
  // neighbors (hub suppression — a centroid-ish vector near everything
  // is mutually top-k with almost nothing), components labeled by
  // smallest member. Training, ranking, mutuality, and the closure all
  // replay in the oracle (recursive CTE over the mutual edge set).
  def q117MutualKnn(s: SparkSession, dir: String): DataFrame =
    graft.llm.IvfIndex.mutualKnnClusters(graft.Tables.embeddings(s, dir),
      IvfLists, MutualK, IvfIter, maxCellSize = SemDedupCellCap)

  private val CapBucketSize = graft.llm.Knobs.NearDupBucketCap

  // ---- q48: cross-corpus near-dup linkage (record resolution) ----
  // The record-linkage twin of q21: two corpora (doc_id parity split),
  // banded left-bands ⋈ right-bands on the bucket key — neither corpus
  // crosses the other wholesale. Verified by exact Jaccard.
  def q48CrossCorpus(s: SparkSession, dir: String): DataFrame = {
    val d = graft.Tables.documents(s, dir)
    MinHashLSH.crossCorpusPairs(
      d.filter(pmod(col("doc_id"), lit(2)) === 0),
      d.filter(pmod(col("doc_id"), lit(2)) === 1),
      "doc_id", "text", shingleN = ShingleN, numHashes = NumHashes)
  }

  // ---- q49: bucket-capped near-dup pairs (the 100 TB skew guard) ----
  // Same pipeline as q21 with maxBucketSize enforced end-to-end: LSH
  // buckets larger than the cap are dropped BEFORE their quadratic
  // pair expansion (boilerplate buckets carry no near-dup signal worth
  // m² work). The oracle replicates the cap with a windowed bucket
  // count, proving the skew guard's exact semantics — not just that
  // "fewer rows came back".
  def q49MinhashCapped(s: SparkSession, dir: String): DataFrame =
    MinHashLSH.nearDupPairs(graft.Tables.documents(s, dir), "doc_id", "text",
      shingleN = ShingleN, numHashes = NumHashes, rowsPerBand = 1,
      minJaccardFp = 0L, maxBucketSize = CapBucketSize)

  // ---- q62: bucket-capped cross-corpus linkage (q49's twin for the
  // record-linkage path) ----
  // Same pipeline as q48 with maxBucketSize enforced per side: rows of
  // overfull LSH buckets are dropped BEFORE the left⋈right bucket join,
  // so a boilerplate bucket present in both corpora cannot degenerate
  // the join toward m·n. The oracle replays the per-side windowed
  // bucket-count filter, certifying the guard's exact semantics. Cap 3
  // (not q49's 4): the parity split halves bucket sizes, and at sf0.01
  // the largest per-side bucket is exactly 4 — 3 makes the cap
  // genuinely drop buckets so the oracle distinguishes capped from
  // uncapped output.
  private val CrossCapBucketSize = 3

  def q62CrossCorpusCapped(s: SparkSession, dir: String): DataFrame = {
    val d = graft.Tables.documents(s, dir)
    MinHashLSH.crossCorpusPairs(
      d.filter(pmod(col("doc_id"), lit(2)) === 0),
      d.filter(pmod(col("doc_id"), lit(2)) === 1),
      "doc_id", "text", shingleN = ShingleN, numHashes = NumHashes,
      maxBucketSize = CrossCapBucketSize)
  }

  private val MatrixMinJaccardFp = 300000L

  // ---- q51: near-dup source-attribution matrix ----
  // Which source pairs contribute duplicated content — the curation
  // diagnostic built on the q21 pair stream: thresholded near-dup
  // pairs joined back to their sources (id-keyed skinny join, text
  // never moves), aggregated per unordered source pair. Drives "drop
  // the mirror site" decisions that per-document dedup can't surface.
  def q51SourceMatrix(s: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.documents(s, dir)
    val pairs = MinHashLSH.nearDupPairs(docs, "doc_id", "text",
      shingleN = ShingleN, numHashes = NumHashes, rowsPerBand = 1,
      minJaccardFp = MatrixMinJaccardFp)
    val src = docs.select(col("doc_id"), col("source"))
    pairs
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("source_a")), "doc_a")
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("source_b")), "doc_b")
      .groupBy(least(col("source_a"), col("source_b")).as("src_1"),
        greatest(col("source_a"), col("source_b")).as("src_2"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("jaccard_fp")).as("sum_jaccard_fp"))
  }

  private val EmbCapBucketSize = 4

  // ---- q58: bucket-capped embedding near-dup (the q49 twin for
  // vectors): multi-probe LSH with vectors in overfull buckets removed
  // from the graph before any pair expansion. The oracle replays the
  // cap with a windowed bucket count over the same bucket expression,
  // certifying the guard's exact semantics.
  def q58EmbedDedupCapped(s: SparkSession, dir: String): DataFrame =
    Similarity.embeddingNearDupPairs(graft.Tables.embeddings(s, dir),
      NearDupMinDotFp, Dim, maxBucketSize = EmbCapBucketSize)

  private val CentroidDims = 8

  // ---- q46: per-label embedding centroid components (fixed-point) ----
  // Element-wise array aggregation: posexplode to (label, dim, value),
  // per-element fixed-point before the sum (associative — any
  // partitioning yields identical bytes), two-level partial
  // aggregation on (label, dim). The centroid-building shape every
  // k-means/IVF trainer needs, here in its deterministic form.
  def q46EmbedStats(s: SparkSession, dir: String): DataFrame =
    graft.Tables.embeddings(s, dir)
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .filter(col("dim") < CentroidDims)
      .groupBy(col("label"), col("dim"))
      .agg(count(lit(1)).as("n"),
        sum(expr("cast(floor(cast(v as double) * 1000000.0) as bigint)")
          .cast("decimal(38,0)")).cast("bigint").as("sum_fp"))

  // ---- q111: hybrid retrieval — reciprocal-rank fusion ----
  // The retrieval stack a modern pipeline actually ships: a lexical
  // ranking (q83 BM25) and a semantic ranking (q23 exact-cosine
  // top-k, legit here because vec_id IS doc_id in the corpus) fused
  // per query by RRF: score = Σ_lists ⌊10⁶/(60+rank)⌋, absent-in-list
  // contributing 0 — integer-exact, so the fused order replays in the
  // oracle byte-for-byte. Both sub-rankings are the already-audited
  // scale paths; the fusion itself runs on two top-k lists (≤ k rows
  // per query per list), a driver-trivial full-outer join + window
  // regardless of corpus size.
  private val RrfC = 60L
  def q111HybridRrf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val nQ = LlmQueries.Bm25Queries.size
    val qidMap = LlmQueries.Bm25Queries.map(_._1).zipWithIndex
      .map { case (l, i) => (l, i.toLong) }.toDF("label", "qid")
    val bm = LlmQueries.q83Bm25(s, dir)
      .join(broadcast(qidMap), col("query_id") === col("label"))
      .select(col("qid"), col("doc_id"), col("rn"))
    val ann = q23EmbedTopk(s, dir)
      .filter(col("query_id") < nQ)
      .select(col("query_id").cast("bigint").as("qid"),
        col("vec_id").as("doc_id"), col("rn"))
    Similarity.rrfFuse(Seq(bm, ann), RrfC)
  }

  // ---- q232: lexical↔dense retrieval agreement card ----
  // The question hybrid fusion (q111) presupposes an answer to: do
  // BM25 and the dense ranker even SEE the same documents? Per query:
  // top-k set sizes on both sides, the intersection, and its Jaccard
  // in floor ppm — high agreement means fusion is redundant, low
  // agreement means each retriever covers the other's misses (the
  // RRF payoff). Composes the two audited rankings unchanged (q83
  // BM25, q23 exact dense top-k); the card's own joins are
  // top-k-sized. The qid spine keeps every query visible even when a
  // ranker returns nothing for it.
  private val RetAgreeK = 5
  def q232RetrievalAgreement(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val nQ = LlmQueries.Bm25Queries.size
    val qidMap = LlmQueries.Bm25Queries.map(_._1).zipWithIndex
      .map { case (l, i) => (l, i.toLong) }.toDF("label", "qid")
    val lex = LlmQueries.q83Bm25(s, dir)
      .join(broadcast(qidMap), col("query_id") === col("label"))
      .filter(col("rn") <= RetAgreeK)
      .select(col("qid"), col("doc_id"), lit(1L).as("__l"))
    val den = q23EmbedTopk(s, dir)
      .filter(col("query_id") < nQ && col("rn") <= RetAgreeK)
      .select(col("query_id").cast("bigint").as("qid"),
        col("vec_id").as("doc_id"), lit(1L).as("__d"))
    val g = lex.join(den, Seq("qid", "doc_id"), "full")
      .groupBy(col("qid"))
      .agg(sum(coalesce(col("__l"), lit(0L))).cast("bigint").as("n_lexical"),
        sum(coalesce(col("__d"), lit(0L))).cast("bigint").as("n_dense"),
        sum(coalesce(col("__l"), lit(0L)) * coalesce(col("__d"), lit(0L)))
          .cast("bigint").as("n_overlap"))
    qidMap.select(col("qid")).join(g, Seq("qid"), "left")
      .select(col("qid"),
        coalesce(col("n_lexical"), lit(0L)).as("n_lexical"),
        coalesce(col("n_dense"), lit(0L)).as("n_dense"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"))
      .withColumn("jaccard_ppm", expr("n_overlap * 1000000L div " +
        "greatest(n_lexical + n_dense - n_overlap, 1L)"))
  }

  // ---- q112: ANN recall card (exact baseline vs every ANN path) ----
  // The acceptance gate for trading exactness away: each approximate
  // path (sign-LSH buckets, seeded IVF, PQ-ADC) graded against the
  // brute-force baseline by recall@k in exact ppm. Every ranking is
  // deterministic integer arithmetic, so the card replays in the
  // oracle — including the misses. The card's own joins run on top-k
  // lists (≤ k·|queries| rows per method) however large the corpus;
  // the heavy scans stay inside the audited search paths.
  private val RecallMethods = Seq("ivf_seeded", "pq_adc", "sign_lsh")
  def q112AnnRecall(s: SparkSession, dir: String): DataFrame = {
    // the three ANN arms are independent and two of them TRAIN eagerly
    // at construction (IVF Lloyd rounds, PQ subspaces) — construct on
    // a thread pool so the training job chains overlap (guide §2.6)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val fs = Seq(
      "sign_lsh"   -> Future(q24EmbedAnn(s, dir)),
      "ivf_seeded" -> Future(q41IvfAnn(s, dir)),
      "pq_adc"     -> Future(q84PqAnn(s, dir)))
    val runs = fs.map { case (n, f) =>
      n -> Await.result(f, scala.concurrent.duration.Duration.Inf)
    }
    Similarity.recallAtK(q23EmbedTopk(s, dir), runs, AnnK)
  }

  // ---- q113: LSH tuning card (banded recall vs exact truth) ----
  // Before anyone trusts q21's candidates at 100 TB: recall and
  // precision of the banded generator against brute-force ground
  // truth on a deterministic doc_id-mod sample, per Jaccard
  // threshold. The quadratic truth join is bounded by the id-range
  // eval slice (a CONSTANT cost at any corpus size — a modulus sample
  // would keep pairs at 1/m² and destroy the signal), the LSH side is
  // the unchanged production path, and every count is exact — so the
  // card replays in the oracle, misses included.
  private val CardSampleLimit = 250L
  private val CardThresholds = Seq(200000L, 500000L, 800000L)
  def q113LshRecallCard(s: SparkSession, dir: String): DataFrame =
    MinHashLSH.recallCard(graft.Tables.documents(s, dir), "doc_id", "text",
      shingleN = ShingleN, numHashes = NumHashes, rowsPerBand = 1,
      sampleLimit = CardSampleLimit, thresholds = CardThresholds)

  // ---- q173: LSH band-configuration sweep (the S-curve evidence) ----
  // q113 grades ONE (bands, rows) point; tuning needs the trade-off
  // curve: 8 bands × 1 row (high recall, low precision) against
  // 4 × 2 (the reverse) on the same truth slice — the measured
  // S-curve that picks the production setting before anyone trusts
  // banded candidates at scale. Same machinery as q113, run per
  // config; cost is two O(sampleLimit²) cards, constant at any
  // corpus size.
  def q173LshSweep(s: SparkSession, dir: String): DataFrame = {
    // the shingle sets and the O(sampleLimit²) exact-Jaccard truth
    // are config-INDEPENDENT — compute each once, persist (two card
    // consumers), and only the band-key candidate generation differs
    // per config (the q174 structure; calling recallCard per config
    // would pay the truth pass twice)
    graft.GraftExtensions.ensure(s)
    val sample = graft.Tables.documents(s, dir)
      .filter(col("doc_id") < CardSampleLimit)
    val sets = graft.llm.Caches.persistTracked(
      graft.llm.MinHashLSH.shingleSets(sample, "doc_id", "text", ShingleN))
    val ids = sets.select(col("doc_id"))
    val truthPairs = ids.select(col("doc_id").as("doc_a"))
      .join(broadcast(ids.select(col("doc_id").as("doc_b"))),
        col("doc_a") < col("doc_b"))
    val truth = graft.llm.Caches.persistTracked(
      MinHashLSH.withJaccardFp(truthPairs, sets, "doc_a", "doc_b")
        .select(col("jaccard_fp")))
    def cfg(rows: Int, label: String) =
      MinHashLSH.thresholdCard(truth,
        MinHashLSH.withJaccardFp(
          MinHashLSH.candidatePairsFromSets(sets, NumHashes, rows),
          sets, "doc_a", "doc_b").select(col("jaccard_fp")),
        CardThresholds)
        .withColumn("bands_cfg", lit(label))
    cfg(1, "b8r1").unionByName(cfg(2, "b4r2"))
  }

  // ---- q260: source-pair shingle overlap (the exact arm, through
  //      the optimizer rule) ----
  // Cross-source 3-gram set overlap, written in the NAIVE declarative
  // spelling — `size(array_intersect(sort_array(array_distinct(..))))`
  // — which [[graft.plans.IntersectCountRewrite]] compiles to the
  // native two-pointer `inter_count` during optimization (the spec
  // plan-asserts the rewrite fires here). Scale shape: the per-source
  // sets are built from DISTINCT (source, base) rows, so the
  // collect_list is bounded by the gram VOCABULARY per source, not
  // the corpus — exact is affordable because this grammar's vocab is
  // closed; at open vocabulary the q220 HLL register path is the
  // answer and this card is its truth arm. |sources|² pairs ride a
  // broadcast loop join (sources are a handful by construction).
  def q260SourceOverlap(s: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.documents(s, dir)
    val ex = graft.llm.MinHashLSH.shingleSets(docs, "doc_id", "text", ShingleN)
      .join(docs.select(col("doc_id"),
        coalesce(col("source"), lit("(null)")).as("source")), "doc_id")
      .select(col("source"), explode(col("s")).as("base"))
      .distinct()
    val ss = graft.llm.Caches.persistTracked(
      ex.groupBy(col("source")).agg(collect_list(col("base")).as("s")))
    ss.as("a").join(broadcast(ss.as("b")), col("a.source") < col("b.source"))
      .select(col("a.source").as("source_a"), col("b.source").as("source_b"),
        size(col("a.s")).as("size_a"), size(col("b.s")).as("size_b"),
        expr("size(array_intersect(sort_array(array_distinct(a.s)), " +
          "sort_array(array_distinct(b.s))))").as("overlap"))
      .withColumn("jaccard_fp",
        expr("cast(floor(1000000.0 * overlap / " +
          "greatest(size_a + size_b - overlap, 1)) as bigint)"))
  }

  // ---- q269: mutual-kNN clusters off the SHIPPED codebook ----
  // q117 is the board's second-heaviest bench line BECAUSE the bench
  // prices its k-means training every iteration (memo-clearing by
  // design); this is the honest serve cost: the coarse codebook loads
  // from the SAME durable artifact q225 ships
  // (`ivfcoarse-v1-…/coarse`) and the clusters come out of
  // [[graft.llm.IvfIndex.mutualKnnWithCodebook]] — assignment,
  // in-cell ranking, mutuality, closure, NO Lloyd rounds. Training is
  // deterministic fixed-point, so loaded ≡ trained byte-for-byte and
  // the card shares q117's oracle verbatim (the q176/q236/q251
  // precedent).
  def q269MutualKnnLoaded(s: SparkSession, dir: String): DataFrame = {
    val emb = graft.Tables.embeddings(s, dir)
    val root = graft.llm.Artifacts.ensure(dir,
      s"ivfcoarse-v1-l$IvfLists-i$IvfIter") { p =>
      graft.llm.Artifacts.saveCodebook(s, p + "/coarse",
        graft.llm.IvfIndex.fitFixedPoint(emb, IvfLists, IvfIter))
    }
    graft.llm.IvfIndex.mutualKnnWithCodebook(emb,
      graft.llm.Artifacts.loadCodebook(s, root + "/coarse"), MutualK,
      maxCellSize = SemDedupCellCap)
  }

  // ---- q268: vector-quality audit (the ANN-ingest gate) ----
  // Degenerate vectors poison every similarity metric downstream
  // (zero vectors make cosine undefined; dimension drift breaks the
  // index contract silently), so an embedding store audits BEFORE
  // indexing. Per label: counts of empty and all-zero vectors,
  // dimension min/max (drift check), the norm² range, and the norm²
  // p50 BOTH ways — estimated off the ≤64-bucket log2 grid
  // ([[graft.llm.Sketches.histQuantile]], the instrument that scales)
  // and exact (the rank window, the oracle-scale truth). One decode
  // pass, persisted; everything downstream is label- or grid-sized.
  def q268VectorAudit(s: SparkSession, dir: String): DataFrame = {
    val m = graft.llm.Caches.persistTracked(
      graft.Tables.embeddings(s, dir)
        .select(col("label").cast("bigint").as("g"), col("vec_id"),
          expr("transform(embedding, x -> cast(floor(cast(x as double) " +
            "* 1000000.0) as bigint))").as("fp"))
        .withColumn("dim", coalesce(size(col("fp")), lit(0)).cast("bigint"))
        .withColumn("norm2",
          coalesce(expr("aggregate(fp, 0L, (a, x) -> a + x * x)"), lit(0L))))
    val totals = graft.llm.Caches.persistTracked(
      m.groupBy(col("g")).agg(count(lit(1)).as("n_docs")))
    val base = m.groupBy(col("g")).agg(
      count(lit(1)).as("n_vecs"),
      sum(when(col("dim") === 0L, 1L).otherwise(0L)).cast("bigint")
        .as("n_empty"),
      sum(when(col("dim") > 0L && col("norm2") === 0L, 1L).otherwise(0L))
        .cast("bigint").as("n_zero"),
      min(col("dim")).as("dim_min"), max(col("dim")).as("dim_max"),
      min(col("norm2")).as("norm2_min"), max(col("norm2")).as("norm2_max"))
    val est = graft.llm.Sketches.histQuantile(
      graft.llm.Sketches.log2Histogram(m, col("g"), col("norm2")), totals, 50)
    val exact = m.withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("g"))
          .orderBy(col("norm2"), col("vec_id"))))
      .join(totals, Seq("g"))
      .filter(col("rn") === expr("(n_docs * 50 + 99) div 100"))
      .select(col("g"), col("norm2").as("exact_p50_norm2"))
    base.join(est, Seq("g")).join(exact, Seq("g"))
      .select(col("g").as("label"), col("n_vecs"), col("n_empty"),
        col("n_zero"), col("dim_min"), col("dim_max"),
        col("norm2_min"), col("norm2_max"),
        col("est_p50").as("est_p50_norm2"), col("exact_p50_norm2"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q268_vector_audit" -> q268VectorAudit _,
    "q260_source_overlap" -> q260SourceOverlap _,
    "q111_hybrid_rrf"   -> q111HybridRrf _,
    "q112_ann_recall"   -> q112AnnRecall _,
    "q232_retrieval_agreement" -> q232RetrievalAgreement _,
    "q113_lsh_recall"   -> q113LshRecallCard _,
    "q173_lsh_sweep"    -> q173LshSweep _,
    "q174_snm_recall"   -> q174SnmRecall _,
    "q117_mutual_knn"   -> q117MutualKnn _,
    "q269_mutual_knn_loaded" -> q269MutualKnnLoaded _,
    "q125_ivf_balance"  -> q125IvfBalance _,
    "q21_minhash_pairs" -> q21MinhashPairs _,
    "q160_split_leakage" -> q160SplitLeakage _,
    "q22_simhash16"     -> q22Simhash16 _,
    "q23_embed_topk"    -> q23EmbedTopk _,
    "q24_embed_ann"     -> q24EmbedAnn _,
    "q29_embed_dedup"   -> q29EmbedDedup _,
    "q38_dedup_clusters" -> q38DedupClusters _,
    "q41_ivf_ann"       -> q41IvfAnn _,
    "q46_embed_stats"   -> q46EmbedStats _,
    "q48_cross_corpus"  -> q48CrossCorpus _,
    "q49_minhash_capped" -> q49MinhashCapped _,
    "q51_source_matrix" -> q51SourceMatrix _,
    "q58_embed_dedup_capped" -> q58EmbedDedupCapped _,
    "q62_cross_corpus_capped" -> q62CrossCorpusCapped _,
    "q66_ivf_trained"   -> q66IvfTrained _,
    "q67_semantic_dedup" -> q67SemanticDedup _,
    "q72_cluster_best"  -> q72ClusterBest _,
    "q135_survivorship" -> q135Survivorship _,
    "q136_temporal_dedup" -> q136TemporalDedup _,
    "q75_embed_quantize" -> q75EmbedQuantize _,
    "q142_random_projection" -> q142RandomProjection _,
    "q143_projected_recall" -> q143ProjectedRecall _,
    "q166_matryoshka_recall" -> q166MatryoshkaRecall _,
    "q168_embedding_coverage" -> q168EmbeddingCoverage _,
    "q171_snm_verified" -> q171SnmVerified _,
    "q147_label_cosine" -> q147LabelCosine _,
    "q151_cluster_sizes" -> q151ClusterSizes _,
    "q304_cluster_cohesion" -> q304ClusterCohesion _,
    "q154_detector_agreement" -> q154DetectorAgreement _,
    "q84_pq_ann"        -> q84PqAnn _,
    "q92_ivfadc"        -> q92IvfAdc _,
    "q176_ivfadc_loaded" -> q176IvfAdcLoaded _,
    "q182_embedding_outliers" -> q182EmbeddingOutliers _,
    "q183_hard_negatives" -> q183HardNegatives _,
    "q190_cluster_split" -> q190ClusterSplit _,
    "q191_dedup_budget" -> q191DedupBudget _,
    "q194_incremental_neardup" -> q194IncrementalNearDup _,
    "q272_fuzzy_admission" -> q272FuzzyAdmission _,
    "q273_cc_delta" -> q273CcDelta _,
    "q276_graph_expand" -> q276GraphExpand _,
    "q277_bbit_minhash" -> q277BbitMinhash _,
    "q278_admission_recall" -> q278AdmissionRecall _,
    "q298_bbit_admission" -> q298BbitAdmission _,
    "q311_bbit_screen_sweep" -> q311BbitScreenSweep _,
    "q312_fold_debt" -> q312FoldDebt _,
    "q314_cap_sweep" -> q314CapSweep _,
    "q315_compact_serve" -> q315CompactServe _,
    "q279_cc_delta_chain" -> q279CcDeltaChain _,
    "q280_index_delta" -> q280IndexDelta _,
    "q294_index_erase" -> q294IndexErase _,
    "q296_ivf_delta" -> q296IvfDelta _,
    "q297_graph_delta" -> q297GraphDelta _,
    "q299_graph_erase" -> q299GraphErase _,
    "q284_label_transfer" -> q284LabelTransfer _,
    "q197_semantic_leakage" -> q197SemanticLeakage _,
    "q198_label_agreement" -> q198LabelAgreement _,
    "q203_knn_impute" -> q203KnnImpute _,
    "q204_spam_propagation" -> q204SpamPropagation _,
    "q206_binary_recall" -> q206BinaryRecall _,
    "q208_first_relevant" -> q208FirstRelevant _,
    "q211_triplet_margin" -> q211TripletMargin _,
    "q212_cell_lang_alignment" -> q212CellLangAlignment _,
    "q215_probe_sweep" -> q215ProbeSweep _,
    "q225_probe_sweep_loaded" -> q225ProbeSweepLoaded _,
    "q217_split_drift" -> q217SourceSplitDrift _,
  )

  // ---------------- DuckDB oracles ----------------

  private val toksSql =
    "CASE WHEN length(trim(text)) = 0 THEN [] " +
      "ELSE string_split_regex(trim(text), '\\s+') END"

  /** The minhash CTE chain over an arbitrary `(doc_id, text)`
    * relation, CTE names prefixed so two differently-sourced sides
    * (e.g. q272's mutated arrivals vs the indexed corpus) coexist in
    * one query; ends in `${pfx}bands(doc_id, band_id, band_key)` +
    * `${pfx}sets(doc_id, s)`. */
  private def minhashChainOver(rel: String, pfx: String): String = {
    val shSql =
      s"""CASE WHEN len(toks) >= $ShingleN
         | THEN list_transform(range(1, len(toks) - ${ShingleN - 2}),
         |   i -> array_to_string(toks[i:i+${ShingleN - 1}], ' '))
         | ELSE [array_to_string(toks, ' ')] END""".stripMargin
    val p = graft.llm.MinHashLSH.P
    val minExprs = (0 until NumHashes).map { k =>
      val (a, b) = graft.llm.MinHashLSH.seedParams(k)
      s"list_min(list_transform(bases, v -> (v * $a + $b) % $p))"
    }.mkString(", ")
    s"""${pfx}base AS (SELECT doc_id, $toksSql AS toks FROM $rel),
       |${pfx}sh AS (SELECT doc_id, $shSql AS sh FROM ${pfx}base),
       |${pfx}bs AS (SELECT doc_id, sh, list_transform(sh,
       |  s -> ('0x' || substr(md5(s), 1, 15))::BIGINT % $p) AS bases FROM ${pfx}sh),
       |${pfx}mh AS (SELECT doc_id, [$minExprs] AS mh FROM ${pfx}bs),
       |${pfx}bands AS (SELECT doc_id, b AS band_id,
       |  array_to_string(list_transform(mh[(b + 1):(b + 1)],
       |    x -> CAST(x AS VARCHAR)), '|') AS band_key
       |  FROM ${pfx}mh, unnest(range(0, $NumHashes)) AS u(b)),
       |${pfx}sets AS (SELECT doc_id, list_distinct(bases) AS s FROM ${pfx}bs)"""
      .stripMargin
  }

  /** Shared minhash CTE chain ending in `bands(doc_id, band_id,
    * band_key)` + `sets(doc_id, s)` — the q21/q48/q49 oracles differ
    * only in how bands become candidate pairs. */
  private val minhashCtes = minhashChainOver("documents", "")

  /** 64-signature 1-bit packed-word CTE pair over a minhash chain's
    * `${pfx}bs(doc_id, bases)` relation → `$out(doc_id, w)` — the ONE
    * packing replay shared by the q277 error card and the b-bit gate
    * oracles (q298/q278). Bit 63 spelled as the explicit Long
    * minimum (DuckDB's `<<` on BIGINT would overflow). */
  private def packCteOver(bsRel: String, out: String): String = {
    val p = graft.llm.MinHashLSH.P
    val minExprs64 = (0 until BbitHashes).map { k =>
      val (a, b) = graft.llm.MinHashLSH.seedParams(k)
      s"list_min(list_transform(bases, v -> (v * $a + $b) % $p))"
    }.mkString(", ")
    s"""${out}m AS (SELECT doc_id, [$minExprs64] AS mh FROM $bsRel),
       |$out AS (SELECT doc_id, CAST(list_sum(list_transform(range(1, 65),
       |    i -> CASE WHEN mh[i] % 2 = 1 THEN
       |      CASE WHEN i = 64 THEN (-9223372036854775807 - 1)
       |      ELSE (1::BIGINT << (i - 1)) END
       |    ELSE 0 END)) AS BIGINT) AS w FROM ${out}m)""".stripMargin
  }

  private def jaccardSelect(aCol: String, bCol: String): String =
    s"""SELECT $aCol, $bCol,
       |  CAST(floor(1000000.0 * CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
       |    / CAST(len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s)) AS DOUBLE)) AS BIGINT) AS jaccard_fp
       |FROM pairs JOIN sets sa ON $aCol = sa.doc_id JOIN sets sb ON $bCol = sb.doc_id""".stripMargin

  private val q21Sql =
    s"""WITH $minhashCtes,
       |pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id)
       |${jaccardSelect("doc_a", "doc_b")}""".stripMargin

  // bucket-cap semantics replayed exactly: rows of buckets larger than
  // the cap are removed BEFORE pair generation (windowed count filter
  // = MinHashLSH.capBuckets)
  private val q49Sql =
    s"""WITH $minhashCtes,
       |capped AS (SELECT doc_id, band_id, band_key FROM (
       |    SELECT doc_id, band_id, band_key,
       |      count(*) OVER (PARTITION BY band_id, band_key) AS bc FROM bands) t
       |  WHERE bc <= $CapBucketSize),
       |pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM capped a JOIN capped b
       |    ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id)
       |${jaccardSelect("doc_a", "doc_b")}""".stripMargin

  private val q48Sql =
    s"""WITH $minhashCtes,
       |pairs AS (SELECT DISTINCT a.doc_id AS left_id, b.doc_id AS right_id
       |  FROM bands a JOIN bands b
       |    ON a.band_id = b.band_id AND a.band_key = b.band_key
       |  WHERE a.doc_id % 2 = 0 AND b.doc_id % 2 = 1)
       |${jaccardSelect("left_id", "right_id")}""".stripMargin

  // per-side bucket-cap semantics replayed exactly: each corpus's
  // bands are windowed-counted WITHIN that corpus (matching
  // capBuckets running on the side-filtered band stream) and overfull
  // buckets dropped before the cross join
  private val q62Sql = {
    def cappedSide(parity: Int): String =
      s"""SELECT doc_id, band_id, band_key FROM (
         |    SELECT doc_id, band_id, band_key,
         |      count(*) OVER (PARTITION BY band_id, band_key) AS bc
         |    FROM bands WHERE doc_id % 2 = $parity) t
         |  WHERE bc <= $CrossCapBucketSize""".stripMargin
    s"""WITH $minhashCtes,
       |lb AS (${cappedSide(0)}),
       |rb AS (${cappedSide(1)}),
       |pairs AS (SELECT DISTINCT a.doc_id AS left_id, b.doc_id AS right_id
       |  FROM lb a JOIN rb b
       |    ON a.band_id = b.band_id AND a.band_key = b.band_key)
       |${jaccardSelect("left_id", "right_id")}""".stripMargin
  }

  private val q51Sql =
    s"""WITH $minhashCtes,
       |pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
       |scored AS (${jaccardSelect("doc_a", "doc_b")})
       |SELECT least(da.source, db.source) AS src_1,
       |  greatest(da.source, db.source) AS src_2,
       |  count(*) AS n_pairs,
       |  CAST(sum(jaccard_fp) AS BIGINT) AS sum_jaccard_fp
       |FROM scored
       |JOIN documents da ON doc_a = da.doc_id
       |JOIN documents db ON doc_b = db.doc_id
       |WHERE jaccard_fp >= $MatrixMinJaccardFp
       |GROUP BY 1, 2""".stripMargin

  private val q22Sql = {
    val sums = (0 until 16).map { j =>
      val i = j / 4 + 1
      val k = 3 - (j % 4)
      s"sum(2 * ((CAST(floor((instr('0123456789abcdef', substr(h, $i, 1)) - 1) " +
        s"/ ${1 << k}) AS BIGINT)) % 2) - 1) AS s$j"
    }.mkString(", ")
    val value = (0 until 16)
      .map(j => s"(CASE WHEN s$j > 0 THEN ${1L << j} ELSE 0 END)").mkString(" + ")
    s"""WITH toks AS (SELECT doc_id, unnest($toksSql) AS w FROM documents),
       |h AS (SELECT doc_id, md5(w) AS h FROM toks),
       |agg AS (SELECT doc_id, $sums FROM h GROUP BY doc_id)
       |SELECT doc_id, CAST($value AS BIGINT) AS simhash16 FROM agg""".stripMargin
  }

  private val dotSql =
    """CAST(list_sum(list_transform(range(1, len(qe) + 1),
      |  i -> CAST(floor(CAST(qe[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE) * 1000000.0) AS BIGINT)))
      |  AS BIGINT)""".stripMargin

  private val q23Sql =
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings
       |  WHERE vec_id < $NumQueryVecs),
       |scored AS (SELECT query_id, e.vec_id, $dotSql AS dot_fp
       |  FROM q CROSS JOIN (SELECT vec_id, embedding AS ce FROM embeddings) e),
       |ranked AS (SELECT query_id, vec_id, dot_fp,
       |  row_number() OVER (PARTITION BY query_id ORDER BY dot_fp DESC, vec_id) AS rn
       |  FROM scored)
       |SELECT query_id, vec_id, dot_fp, CAST(rn AS INTEGER) AS rn
       |FROM ranked WHERE rn <= $TopK""".stripMargin

  // mirrors Similarity.bucketExpr: per-plane sign of Σ floor(x·w·1e6)
  private def bucketSql: String =
    Similarity.planeWeights(Dim).zipWithIndex.map { case (w, p) =>
      val lst = w.map(v => s"${v.toDouble}").mkString("[", ", ", "]")
      s"""(CASE WHEN CAST(list_sum(list_transform(range(1, len(embedding) + 1),
         |  i -> CAST(floor(CAST(embedding[i] AS DOUBLE) * ($lst)[i] * 1000000.0) AS BIGINT)))
         |  AS BIGINT) > 0 THEN ${1L << p} ELSE 0 END)""".stripMargin
    }.mkString(" + ")

  private val q24Sql = {
    s"""WITH b AS (SELECT vec_id, embedding, CAST($bucketSql AS BIGINT) AS bucket
       |  FROM embeddings),
       |q AS (SELECT vec_id AS query_id, embedding AS qe, bucket FROM b
       |  WHERE vec_id < $NumQueryVecs),
       |scored AS (SELECT query_id, c.vec_id, $dotSql AS dot_fp
       |  FROM q JOIN (SELECT vec_id, embedding AS ce, bucket FROM b) c USING (bucket)),
       |ranked AS (SELECT query_id, vec_id, dot_fp,
       |  row_number() OVER (PARTITION BY query_id ORDER BY dot_fp DESC, vec_id) AS rn
       |  FROM scored)
       |SELECT query_id, vec_id, dot_fp, CAST(rn AS INTEGER) AS rn
       |FROM ranked WHERE rn <= $AnnK""".stripMargin
  }

  private val q29Sql =
    s"""WITH b AS (SELECT vec_id, embedding, CAST($bucketSql AS BIGINT) AS bucket
       |  FROM embeddings),
       |probes AS (SELECT vec_id, bucket,
       |  unnest(list_transform(range(0, ${Similarity.NumPlanes + 1}),
       |    j -> CASE WHEN j = 0 THEN bucket
       |         ELSE xor(bucket, CAST(2**(j - 1) AS BIGINT)) END)) AS probe
       |  FROM b),
       |pairs AS (SELECT DISTINCT a.vec_id AS vec_a, c.vec_id AS vec_b
       |  FROM probes a JOIN b c ON a.probe = c.bucket AND a.vec_id < c.vec_id),
       |scored AS (SELECT vec_a, vec_b,
       |  CAST(list_sum(list_transform(range(1, len(ea.embedding) + 1),
       |    i -> CAST(floor(CAST(ea.embedding[i] AS DOUBLE) * CAST(eb.embedding[i] AS DOUBLE)
       |      * 1000000.0) AS BIGINT))) AS BIGINT) AS dot_fp
       |  FROM pairs
       |  JOIN embeddings ea ON vec_a = ea.vec_id
       |  JOIN embeddings eb ON vec_b = eb.vec_id)
       |SELECT vec_a, vec_b, dot_fp FROM scored
       |WHERE dot_fp >= $NearDupMinDotFp""".stripMargin

  // q29 with the bucket cap replayed: vectors in overfull buckets are
  // removed (windowed count = the broadcast-join filter in
  // embeddingNearDupPairs) before probes/pairs are generated
  private val q58Sql =
    s"""WITH b0 AS (SELECT vec_id, embedding, CAST($bucketSql AS BIGINT) AS bucket
       |  FROM embeddings),
       |b AS (SELECT vec_id, embedding, bucket FROM (
       |    SELECT vec_id, embedding, bucket,
       |      count(*) OVER (PARTITION BY bucket) AS bc FROM b0) t
       |  WHERE bc <= $EmbCapBucketSize),
       |probes AS (SELECT vec_id, bucket,
       |  unnest(list_transform(range(0, ${Similarity.NumPlanes + 1}),
       |    j -> CASE WHEN j = 0 THEN bucket
       |         ELSE xor(bucket, CAST(2**(j - 1) AS BIGINT)) END)) AS probe
       |  FROM b),
       |pairs AS (SELECT DISTINCT a.vec_id AS vec_a, c.vec_id AS vec_b
       |  FROM probes a JOIN b c ON a.probe = c.bucket AND a.vec_id < c.vec_id),
       |scored AS (SELECT vec_a, vec_b,
       |  CAST(list_sum(list_transform(range(1, len(ea.embedding) + 1),
       |    i -> CAST(floor(CAST(ea.embedding[i] AS DOUBLE) * CAST(eb.embedding[i] AS DOUBLE)
       |      * 1000000.0) AS BIGINT))) AS BIGINT) AS dot_fp
       |  FROM pairs
       |  JOIN embeddings ea ON vec_a = ea.vec_id
       |  JOIN embeddings eb ON vec_b = eb.vec_id)
       |SELECT vec_a, vec_b, dot_fp FROM scored
       |WHERE dot_fp >= $NearDupMinDotFp""".stripMargin

  // recursive transitive closure over the thresholded q21 pairs; the
  // UNION (distinct) recursion terminates on cycles, and the final
  // label is min(reachable ∪ self) — identical to the Spark fixpoint
  private val q38Sql =
    s"""WITH RECURSIVE
       |pj AS (SELECT doc_a, doc_b FROM ($q21Sql) q
       |  WHERE jaccard_fp >= $ClusterMinJaccardFp),
       |e AS (SELECT doc_a AS s, doc_b AS d FROM pj
       |  UNION SELECT doc_b, doc_a FROM pj),
       |reach(v, r) AS (
       |  SELECT s, d FROM e
       |  UNION
       |  SELECT reach.v, e.d FROM reach JOIN e ON reach.r = e.s)
       |SELECT dd.doc_id,
       |  least(dd.doc_id, coalesce(m.mn, dd.doc_id)) AS cluster_id
       |FROM documents dd LEFT JOIN
       |  (SELECT v, min(r) AS mn FROM reach GROUP BY v) m ON dd.doc_id = m.v""".stripMargin

  // q38's transitive closure + q20's quality formula (both fragments
  // individually hash-proven), composed: best quality per cluster wins,
  // ties to the smaller id.
  private val q72Sql =
    s"""WITH cl AS ($q38Sql),
       |sc AS (SELECT doc_id, ${LlmQueries.qualityFpSql} AS quality_fp
       |  FROM (SELECT doc_id, text, ${LlmQueries.toksSql} AS toks FROM documents) t)
       |SELECT cl.doc_id, cl.cluster_id,
       |  CAST(sc.quality_fp AS BIGINT) AS quality_fp,
       |  (row_number() OVER (PARTITION BY cl.cluster_id
       |     ORDER BY sc.quality_fp DESC, cl.doc_id) = 1) AS kept
       |FROM cl JOIN sc ON cl.doc_id = sc.doc_id""".stripMargin

  // the unblocked banded pair set + exact day filter: the Spark side's
  // time-block candidate keying must change nothing
  private val q136Sql =
    s"""WITH p AS ($q21Sql),
       |d AS (SELECT doc_id, (doc_id * $DayMul) % $DayMod AS day FROM documents)
       |SELECT p.doc_a, p.doc_b,
       |  CAST(abs(da.day - db.day) AS BIGINT) AS gap_days, p.jaccard_fp
       |FROM p JOIN d da ON p.doc_a = da.doc_id
       |JOIN d db ON p.doc_b = db.doc_id
       |WHERE abs(da.day - db.day) <= $TemporalWindow""".stripMargin

  // q38's closure joined to the raw attributes, then column-wise
  // survivorship: modal picks spelled as rank-1 over counting
  // aggregates (same tie order), min/max/count straight off the
  // member frame.
  private val q135Sql =
    s"""WITH cl AS ($q38Sql),
       |m AS (SELECT cl.cluster_id, d.doc_id, d.lang, d.source, d.n_chars
       |  FROM cl JOIN documents d ON cl.doc_id = d.doc_id),
       |lm AS (SELECT cluster_id, lang FROM (
       |  SELECT cluster_id, lang, row_number() OVER (PARTITION BY cluster_id
       |    ORDER BY count(*) DESC, lang NULLS LAST) AS rn
       |  FROM m GROUP BY cluster_id, lang) t WHERE rn = 1),
       |sm AS (SELECT cluster_id, source FROM (
       |  SELECT cluster_id, source, row_number() OVER (PARTITION BY cluster_id
       |    ORDER BY count(*) DESC, source NULLS LAST) AS rn
       |  FROM m GROUP BY cluster_id, source) t WHERE rn = 1),
       |b AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members,
       |    min(doc_id) AS canonical_doc_id, max(n_chars) AS max_n_chars
       |  FROM m GROUP BY cluster_id)
       |SELECT b.cluster_id, b.n_members, b.canonical_doc_id,
       |  lm.lang, sm.source, b.max_n_chars
       |FROM b JOIN lm ON b.cluster_id = lm.cluster_id
       |JOIN sm ON b.cluster_id = sm.cluster_id""".stripMargin

  // int8 quantization error card replayed in list arithmetic: same
  // micro-unit grid, same non-negative integer divisions.
  private val q75Sql =
    s"""WITH e AS (SELECT vec_id, list_transform(embedding,
       |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS e FROM embeddings),
       |b AS (SELECT vec_id, e,
       |  (len(e) > 0 AND len(list_filter(e, x -> x IS NULL)) = 0) AS ok,
       |  list_min(e) AS lo, list_max(e) AS hi FROM e),
       |r AS (SELECT vec_id, ok, lo, hi,
       |  list_transform(range(1, len(e) + 1), i -> abs(e[i] -
       |    (lo + ((CASE WHEN hi > lo
       |        THEN (255 * (e[i] - lo)) // (hi - lo) ELSE 0 END) * (hi - lo)) // 255)))
       |    AS errs FROM b)
       |SELECT vec_id,
       |  CASE WHEN ok THEN lo END AS lo_fp,
       |  CASE WHEN ok THEN hi END AS hi_fp,
       |  CAST(CASE WHEN ok THEN list_max(errs) END AS BIGINT) AS max_abs_err_fp,
       |  CAST(CASE WHEN ok THEN list_sum(errs) END AS BIGINT) AS sum_abs_err_fp
       |FROM r""".stripMargin

  private def dotS(a: String, b: String): String =
    s"""CAST(list_sum(list_transform(range(1, len($a) + 1),
       |  i -> CAST(floor(CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE) * 1000000.0) AS BIGINT)))
       |  AS BIGINT)""".stripMargin

  private val q41Sql =
    s"""WITH seeds AS (SELECT vec_id AS seed_id, embedding AS se
       |  FROM embeddings ORDER BY vec_id LIMIT $IvfLists),
       |ac AS (SELECT e.vec_id, e.embedding, s.seed_id,
       |    ${dotS("e.embedding", "s.se")} AS d
       |  FROM embeddings e CROSS JOIN seeds s),
       |ar AS (SELECT vec_id, embedding, seed_id,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, seed_id) AS rn
       |  FROM ac),
       |cells AS (SELECT vec_id, embedding AS ce, seed_id AS cell FROM ar WHERE rn = 1),
       |qr AS (SELECT vec_id, embedding, seed_id,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, seed_id) AS rn
       |  FROM ac WHERE vec_id < $NumQueryVecs),
       |probes AS (SELECT vec_id AS query_id, embedding AS qe, seed_id AS cell
       |  FROM qr WHERE rn <= $IvfProbe),
       |scored AS (SELECT p.query_id, c.vec_id, ${dotS("p.qe", "c.ce")} AS dot_fp
       |  FROM probes p JOIN cells c USING (cell)),
       |r AS (SELECT query_id, vec_id, dot_fp,
       |    row_number() OVER (PARTITION BY query_id ORDER BY dot_fp DESC, vec_id) AS rn
       |  FROM scored)
       |SELECT query_id, vec_id, dot_fp, CAST(rn AS INTEGER) AS rn
       |FROM r WHERE rn <= $AnnK""".stripMargin

  // trained IVF replayed from first principles: quantize → three
  // unrolled Lloyd iterations (integer sqdist assignment with
  // smaller-cell tie-break; floor-mean centroid update; empty cells
  // keep their previous centroid via the LEFT JOIN coalesce) → final
  // assignment → nProbe probes → exact dot_fp rerank. floor(sum/n) in
  // DOUBLE is exact here (|sum| « 2^53 at oracle scale) and matches
  // the Spark side's BigInteger floor division.
  // shared CTE builders for the fixed-point k-means replays (q66, q67):
  // integer sqdist assignment with smaller-cell tie-break, floor-mean
  // centroid update, empty cells keeping their previous centroid.
  private def kmSq(v: String, c: String): String =
    s"list_sum(list_transform(range(1, ${Dim + 1}), i -> ($v.e[i]-$c.c[i])*($v.e[i]-$c.c[i])))"
  private def kmAssignCte(cent: String, out: String): String =
    s"""$out AS (SELECT vec_id, e, cell FROM (
       |  SELECT v.vec_id, v.e, c.cell,
       |    row_number() OVER (PARTITION BY v.vec_id ORDER BY ${kmSq("v", "c")}, c.cell) AS rn
       |  FROM e v CROSS JOIN $cent c) t WHERE rn = 1)""".stripMargin
  private def kmUpdateCte(assign: String, prev: String, out: String): String =
    s"""${out}x AS (SELECT cell, i.v AS dim,
       |    CAST(floor(sum(e[i.v])::DOUBLE / count(*)) AS BIGINT) AS cv
       |  FROM $assign, unnest(range(1, ${Dim + 1})) AS i(v) GROUP BY cell, i.v),
       |${out}l AS (SELECT cell, list(cv ORDER BY dim) AS c FROM ${out}x GROUP BY cell),
       |$out AS (SELECT p.cell, coalesce(l.c, p.c) AS c
       |  FROM $prev p LEFT JOIN ${out}l l USING (cell))""".stripMargin
  /** WITH-clause prefix: quantize → seed codebook → `IvfIter` unrolled
    * Lloyd rounds → final assignment `af(vec_id, e, cell)`. */
  private def kmPrefixSql: String = {
    val iters = (0 until IvfIter).map { t =>
      kmAssignCte(s"c$t", s"a$t") + ",\n" + kmUpdateCte(s"a$t", s"c$t", s"c${t + 1}")
    }.mkString(",\n")
    s"""e AS (SELECT vec_id, list_transform(embedding,
       |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS e FROM embeddings),
       |c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, e AS c
       |  FROM (SELECT vec_id, e FROM e ORDER BY vec_id LIMIT $IvfLists) s),
       |$iters,
       |${kmAssignCte(s"c$IvfIter", "af")}""".stripMargin
  }

  /** q215's oracle — q66's probe/score/rank chain once per nProbe over
    * ONE trained assignment, then q166's exact-baseline + spine + hits
    * tail. A def shared by q215 and its loaded-codebook twin q225
    * (byte-identical by codebook determinism — the q176/q92
    * precedent). */
  private def q215Sql: String = {
    def chain(p: Int) =
      s"""qp$p AS (SELECT query_id, cell FROM (
         |  SELECT v.vec_id AS query_id, c.cell,
         |    row_number() OVER (PARTITION BY v.vec_id
         |      ORDER BY ${kmSq("v", "c")}, c.cell) AS rn
         |  FROM e v CROSS JOIN c$IvfIter c WHERE v.vec_id < $NumQueryVecs) t
         |  WHERE rn <= $p),
         |sc$p AS (SELECT qp$p.query_id, af.vec_id,
         |    ${dotS("qe.embedding", "ce.embedding")} AS dot_fp
         |  FROM qp$p JOIN af USING (cell)
         |  JOIN embeddings qe ON qp$p.query_id = qe.vec_id
         |  JOIN embeddings ce ON af.vec_id = ce.vec_id),
         |r$p AS (SELECT query_id, vec_id,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY dot_fp DESC, vec_id) AS rn
         |  FROM sc$p)""".stripMargin
    val aps = ProbeSweep.map(p =>
      s"SELECT 'probe_$p' AS method, query_id, vec_id FROM r$p WHERE rn <= $AnnK")
      .mkString("\nUNION ALL\n")
    val methods = ProbeSweep.map(p => s"('probe_$p')").mkString(", ")
    s"""WITH $kmPrefixSql,
       |${ProbeSweep.map(chain).mkString(",\n")},
       |qe2 AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings
       |  WHERE vec_id < $NumQueryVecs),
       |scored AS (SELECT query_id, e2.vec_id, $dotSql AS dot_fp
       |  FROM qe2 CROSS JOIN
       |    (SELECT vec_id, embedding AS ce FROM embeddings) e2),
       |ex AS (SELECT query_id, vec_id FROM (SELECT query_id, vec_id,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY dot_fp DESC, vec_id) AS rn FROM scored) r
       |  WHERE rn <= $AnnK),
       |ap AS ($aps),
       |hits AS (SELECT method, ap.query_id, CAST(count(*) AS BIGINT) AS hits
       |  FROM ap JOIN ex ON ap.query_id = ex.query_id AND ap.vec_id = ex.vec_id
       |  GROUP BY method, ap.query_id),
       |spine AS (SELECT m.method, s.query_id
       |  FROM (SELECT DISTINCT query_id FROM ex) s
       |  CROSS JOIN (VALUES $methods) m(method))
       |SELECT spine.method, spine.query_id,
       |  coalesce(hits.hits, 0) AS hits,
       |  CAST(coalesce(hits.hits, 0) * 1000000 // $AnnK AS BIGINT) AS recall_ppm
       |FROM spine LEFT JOIN hits
       |  ON spine.method = hits.method AND spine.query_id = hits.query_id""".stripMargin
  }

  /** q276: the q117 edge CTEs (same cap, same k) + probe-1 seeds +
    * one hop + exact rerank, scored by the q215 recall tail. */
  private def q276Sql: String = {
    s"""WITH $kmPrefixSql,
       |af2 AS (SELECT vec_id, cell FROM (
       |  SELECT v.vec_id, c.cell,
       |    row_number() OVER (PARTITION BY v.vec_id
       |      ORDER BY ${kmSq("v", "c")}, c.cell) AS rn
       |  FROM e v CROSS JOIN c$IvfIter c) t WHERE rn <= 2),
       |cmp AS (SELECT vec_id, cell FROM (
       |  SELECT vec_id, cell,
       |    row_number() OVER (PARTITION BY cell ORDER BY vec_id) AS rn FROM af2) t
       |  WHERE rn <= $SemDedupCellCap),
       |pi AS (SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
       |  FROM cmp a JOIN cmp b ON a.cell = b.cell AND a.vec_id < b.vec_id),
       |pr AS (SELECT a_id, b_id,
       |    ${dotS("ea.embedding", "eb.embedding")} AS dot_fp
       |  FROM pi
       |  JOIN embeddings ea ON pi.a_id = ea.vec_id
       |  JOIN embeddings eb ON pi.b_id = eb.vec_id),
       |dr AS (SELECT a_id AS src, b_id AS dst, dot_fp FROM pr
       |  UNION ALL SELECT b_id, a_id, dot_fp FROM pr),
       |ked AS (SELECT src, dst FROM (
       |  SELECT src, dst,
       |    row_number() OVER (PARTITION BY src ORDER BY dot_fp DESC, dst) AS rn
       |  FROM dr) t WHERE rn <= $MutualK),
       |qp AS (SELECT query_id, cell FROM (
       |  SELECT v.vec_id AS query_id, c.cell,
       |    row_number() OVER (PARTITION BY v.vec_id
       |      ORDER BY ${kmSq("v", "c")}, c.cell) AS rn
       |  FROM e v CROSS JOIN c$IvfIter c WHERE v.vec_id < $NumQueryVecs) t
       |  WHERE rn <= 1),
       |sc AS (SELECT qp.query_id, af.vec_id,
       |    ${dotS("qe.embedding", "ce.embedding")} AS dot_fp
       |  FROM qp JOIN af USING (cell)
       |  JOIN embeddings qe ON qp.query_id = qe.vec_id
       |  JOIN embeddings ce ON af.vec_id = ce.vec_id),
       |seeds AS (SELECT query_id, vec_id FROM (
       |  SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id
       |    ORDER BY dot_fp DESC, vec_id) AS rn FROM sc) t WHERE rn <= $AnnK),
       |cand AS (SELECT DISTINCT query_id, vec_id FROM (
       |  SELECT query_id, vec_id FROM seeds
       |  UNION ALL SELECT seeds.query_id, ked.dst AS vec_id FROM seeds
       |    JOIN ked ON seeds.vec_id = ked.src) u),
       |ex2 AS (SELECT cand.query_id, cand.vec_id,
       |    ${dotS("qe.embedding", "ce.embedding")} AS dot_fp
       |  FROM cand JOIN embeddings qe ON cand.query_id = qe.vec_id
       |  JOIN embeddings ce ON cand.vec_id = ce.vec_id),
       |gx AS (SELECT query_id, vec_id FROM (
       |  SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id
       |    ORDER BY dot_fp DESC, vec_id) AS rn FROM ex2) t WHERE rn <= $AnnK),
       |qe2 AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings
       |  WHERE vec_id < $NumQueryVecs),
       |scored AS (SELECT query_id, e2.vec_id, $dotSql AS dot_fp
       |  FROM qe2 CROSS JOIN
       |    (SELECT vec_id, embedding AS ce FROM embeddings) e2),
       |ex AS (SELECT query_id, vec_id FROM (SELECT query_id, vec_id,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY dot_fp DESC, vec_id) AS rn FROM scored) r
       |  WHERE rn <= $AnnK),
       |ap AS (SELECT 'ivf_probe1' AS method, query_id, vec_id FROM seeds
       |  UNION ALL SELECT 'graph_expand', query_id, vec_id FROM gx),
       |hits AS (SELECT method, ap.query_id, CAST(count(*) AS BIGINT) AS hits
       |  FROM ap JOIN ex ON ap.query_id = ex.query_id AND ap.vec_id = ex.vec_id
       |  GROUP BY method, ap.query_id),
       |spine AS (SELECT m.method, s.query_id
       |  FROM (SELECT DISTINCT query_id FROM ex) s
       |  CROSS JOIN (VALUES ('ivf_probe1'), ('graph_expand')) m(method))
       |SELECT spine.method, spine.query_id,
       |  coalesce(hits.hits, 0) AS hits,
       |  CAST(coalesce(hits.hits, 0) * 1000000 // $AnnK AS BIGINT) AS recall_ppm
       |FROM spine LEFT JOIN hits
       |  ON spine.method = hits.method AND spine.query_id = hits.query_id"""
      .stripMargin
  }

  /** q296: the identical fixed-point training + rank-2 assignment; the
    * per-vec (count, min, max) triple is lossless at nAssign = 2, and
    * the delta columns duplicate the rebuild's with agree pinned —
    * the fold must land exactly here or the round hash-fails. */
  private def q296Sql: String =
    s"""WITH $kmPrefixSql,
       |af2 AS (SELECT vec_id, cell FROM (
       |  SELECT v.vec_id, c.cell,
       |    row_number() OVER (PARTITION BY v.vec_id
       |      ORDER BY ${kmSq("v", "c")}, c.cell) AS rn
       |  FROM e v CROSS JOIN c$IvfIter c) t WHERE rn <= 2)
       |SELECT vec_id, CAST(count(*) AS BIGINT) AS n_rebuild,
       |  CAST(min(cell) AS BIGINT) AS cmin_rebuild,
       |  CAST(max(cell) AS BIGINT) AS cmax_rebuild,
       |  CAST(count(*) AS BIGINT) AS n_delta,
       |  CAST(min(cell) AS BIGINT) AS cmin_delta,
       |  CAST(max(cell) AS BIGINT) AS cmax_delta,
       |  true AS agree
       |FROM af2 GROUP BY vec_id""".stripMargin

  /** q297/q299: the q276 edge CTEs (same codebook, cap, nAssign, k)
    * with the dots KEPT, rolled to per-src count + commutative
    * checksum; the fold columns duplicate the rebuild's with agree
    * pinned. `vecFilter` restricts the ASSIGNED vectors (q299's
    * surviving slice) — the codebook always trains on the full
    * corpus, matching the never-retrain-on-maintenance posture. */
  private def graphPerSrcSql(vecFilter: String, foldPfx: String): String =
    s"""WITH $kmPrefixSql,
       |af2 AS (SELECT vec_id, cell FROM (
       |  SELECT v.vec_id, c.cell,
       |    row_number() OVER (PARTITION BY v.vec_id
       |      ORDER BY ${kmSq("v", "c")}, c.cell) AS rn
       |  FROM e v CROSS JOIN c$IvfIter c $vecFilter) t WHERE rn <= 2),
       |cmp AS (SELECT vec_id, cell FROM (
       |  SELECT vec_id, cell,
       |    row_number() OVER (PARTITION BY cell ORDER BY vec_id) AS rn FROM af2) t
       |  WHERE rn <= $SemDedupCellCap),
       |pi AS (SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
       |  FROM cmp a JOIN cmp b ON a.cell = b.cell AND a.vec_id < b.vec_id),
       |pr AS (SELECT a_id, b_id,
       |    ${dotS("ea.embedding", "eb.embedding")} AS dot_fp
       |  FROM pi
       |  JOIN embeddings ea ON pi.a_id = ea.vec_id
       |  JOIN embeddings eb ON pi.b_id = eb.vec_id),
       |dr AS (SELECT a_id AS src, b_id AS dst, dot_fp FROM pr
       |  UNION ALL SELECT b_id, a_id, dot_fp FROM pr),
       |ked AS (SELECT src, dst, dot_fp FROM (
       |  SELECT src, dst, dot_fp,
       |    row_number() OVER (PARTITION BY src ORDER BY dot_fp DESC, dst) AS rn
       |  FROM dr) t WHERE rn <= $MutualK)
       |SELECT src, CAST(count(*) AS BIGINT) AS n_rebuild,
       |  CAST(sum(('0x' || substr(md5(concat_ws(chr(1),
       |    CAST(dst AS VARCHAR), CAST(dot_fp AS VARCHAR))), 1, 8))::BIGINT)
       |    % ${graft.llm.Sketches.ChecksumMod} AS BIGINT) AS ck_rebuild,
       |  CAST(count(*) AS BIGINT) AS n_$foldPfx,
       |  CAST(sum(('0x' || substr(md5(concat_ws(chr(1),
       |    CAST(dst AS VARCHAR), CAST(dot_fp AS VARCHAR))), 1, 8))::BIGINT)
       |    % ${graft.llm.Sketches.ChecksumMod} AS BIGINT) AS ck_$foldPfx,
       |  true AS agree
       |FROM ked GROUP BY src""".stripMargin

  private val q66Sql = {
    s"""WITH $kmPrefixSql,
       |qp AS (SELECT query_id, cell FROM (
       |  SELECT v.vec_id AS query_id, c.cell,
       |    row_number() OVER (PARTITION BY v.vec_id ORDER BY ${kmSq("v", "c")}, c.cell) AS rn
       |  FROM e v CROSS JOIN c$IvfIter c WHERE v.vec_id < $NumQueryVecs) t
       |  WHERE rn <= $IvfProbe),
       |scored AS (SELECT qp.query_id, af.vec_id,
       |    ${dotS("qe.embedding", "ce.embedding")} AS dot_fp
       |  FROM qp JOIN af USING (cell)
       |  JOIN embeddings qe ON qp.query_id = qe.vec_id
       |  JOIN embeddings ce ON af.vec_id = ce.vec_id),
       |r AS (SELECT query_id, vec_id, dot_fp,
       |    row_number() OVER (PARTITION BY query_id ORDER BY dot_fp DESC, vec_id) AS rn
       |  FROM scored)
       |SELECT query_id, vec_id, dot_fp, CAST(rn AS INTEGER) AS rn
       |FROM r WHERE rn <= $AnnK""".stripMargin
  }

  // q84: the q66 replay pattern applied per SUBSPACE — slice the
  // quantized vectors, unroll each subspace's Lloyd rounds, encode as
  // nearest-centroid codes, score every (query, vector) pair by the
  // sum of per-subspace (query-slice · centroid-of-code) integer dots
  // (ADC), keep the top-PqRerank, exact-rerank with the true
  // embeddings.
  private def pqSq(v: String, c: String): String =
    s"list_sum(list_transform(range(1, ${PqSubDim + 1}), " +
      s"i -> ($v.e[i]-$c.c[i])*($v.e[i]-$c.c[i])))"
  private def pqAssignCte(src: String, cent: String, out: String): String =
    s"""$out AS (SELECT vec_id, e, cell FROM (
       |  SELECT v.vec_id, v.e, c.cell,
       |    row_number() OVER (PARTITION BY v.vec_id ORDER BY ${pqSq("v", "c")}, c.cell) AS rn
       |  FROM $src v CROSS JOIN $cent c) t WHERE rn = 1)""".stripMargin
  private def pqUpdateCte(assign: String, prev: String, out: String): String =
    s"""${out}x AS (SELECT cell, i.v AS dim,
       |    CAST(floor(sum(e[i.v])::DOUBLE / count(*)) AS BIGINT) AS cv
       |  FROM $assign, unnest(range(1, ${PqSubDim + 1})) AS i(v) GROUP BY cell, i.v),
       |${out}l AS (SELECT cell, list(cv ORDER BY dim) AS c FROM ${out}x GROUP BY cell),
       |$out AS (SELECT p.cell, coalesce(l.c, p.c) AS c
       |  FROM $prev p LEFT JOIN ${out}l l USING (cell))""".stripMargin
  /** WITH-fragment: per-subspace slices of quantized `src`, seed
    * codebooks, unrolled Lloyd rounds, final code assignments
    * `af0..af{m-1}(vec_id, e, cell)`. */
  private def pqSubspacesSql(src: String): String =
    (0 until PqM).map { m =>
      val off = m * PqSubDim
      val slices =
        s"""e$m AS (SELECT vec_id, e[${off + 1}:${off + PqSubDim}] AS e FROM $src),
           |c${m}_0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, e AS c
           |  FROM (SELECT vec_id, e FROM e$m ORDER BY vec_id LIMIT $PqKSub) x)""".stripMargin
      val iters = (0 until PqIter).map { t =>
        pqAssignCte(s"e$m", s"c${m}_$t", s"a${m}_$t") + ",\n" +
          pqUpdateCte(s"a${m}_$t", s"c${m}_$t", s"c${m}_${t + 1}")
      }.mkString(",\n")
      s"$slices,\n$iters,\n${pqAssignCte(s"e$m", s"c${m}_$PqIter", s"af$m")}"
    }.mkString(",\n")
  /** ADC score for pair tables aliased `q{m}` (query slices) and
    * `k{m}` (code centroids). */
  private val pqAdcTerms: String = (0 until PqM).map { m =>
    s"list_sum(list_transform(range(1, ${PqSubDim + 1}), j -> q$m.e[j] * k$m.c[j]))"
  }.mkString(" + ")
  /** Shared ranking tail: ADC rank → rerank width → exact rerank → k. */
  private def pqRankTailSql: String =
    s"""adcr AS (SELECT query_id, vec_id, row_number() OVER (
       |    PARTITION BY query_id ORDER BY adc DESC, vec_id) AS rn FROM adc),
       |cand AS (SELECT query_id, vec_id FROM adcr WHERE rn <= $PqRerank),
       |ex AS (SELECT cand.query_id, cand.vec_id,
       |    ${dotS("qe.embedding", "ce.embedding")} AS dot_fp
       |  FROM cand JOIN embeddings qe ON cand.query_id = qe.vec_id
       |  JOIN embeddings ce ON cand.vec_id = ce.vec_id),
       |r AS (SELECT query_id, vec_id, dot_fp, row_number() OVER (
       |    PARTITION BY query_id ORDER BY dot_fp DESC, vec_id) AS rn FROM ex)
       |SELECT query_id, vec_id, dot_fp, CAST(rn AS INTEGER) AS rn
       |FROM r WHERE rn <= $AnnK""".stripMargin

  private val q84Sql = {
    val ms = 0 until PqM
    val adcFrom = (Seq("eq q") ++
      ms.map(m => s"af$m a$m") ++
      ms.map(m => s"c${m}_$PqIter k$m") ++
      ms.map(m => s"e$m q$m")).mkString(", ")
    val adcWhere = (Seq(s"q.vec_id < $NumQueryVecs") ++
      ms.drop(1).map(m => s"a$m.vec_id = a0.vec_id") ++
      ms.map(m => s"k$m.cell = a$m.cell") ++
      ms.map(m => s"q$m.vec_id = q.vec_id")).mkString(" AND ")
    s"""WITH eq AS (SELECT vec_id, list_transform(embedding,
       |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS e FROM embeddings),
       |${pqSubspacesSql("eq")},
       |adc AS (SELECT q.vec_id AS query_id, a0.vec_id, $pqAdcTerms AS adc
       |  FROM $adcFrom WHERE $adcWhere),
       |$pqRankTailSql""".stripMargin
  }

  // q92: the q66 coarse-quantizer prefix bounds WHICH vectors score
  // (probed cells via af), the q84 subspace machinery bounds WHAT the
  // scoring touches (codes via af0..af3) — composed exactly like the
  // Spark side's PqIndex.ivfAdcSearch, then the shared ranking tail.
  private val q92Sql = {
    val ms = 0 until PqM
    val adcFrom = (Seq("cand0 cd") ++
      ms.map(m => s"af$m a$m") ++
      ms.map(m => s"c${m}_$PqIter k$m") ++
      ms.map(m => s"e$m q$m")).mkString(", ")
    val adcWhere = (ms.map(m => s"a$m.vec_id = cd.vec_id") ++
      ms.map(m => s"k$m.cell = a$m.cell") ++
      ms.map(m => s"q$m.vec_id = cd.query_id")).mkString(" AND ")
    s"""WITH $kmPrefixSql,
       |${pqSubspacesSql("e")},
       |qp AS (SELECT query_id, cell FROM (
       |  SELECT v.vec_id AS query_id, c.cell,
       |    row_number() OVER (PARTITION BY v.vec_id ORDER BY ${kmSq("v", "c")}, c.cell) AS rn
       |  FROM e v CROSS JOIN c$IvfIter c WHERE v.vec_id < $NumQueryVecs) t
       |  WHERE rn <= $IvfProbe),
       |cand0 AS (SELECT qp.query_id, af.vec_id FROM qp JOIN af USING (cell)),
       |adc AS (SELECT cd.query_id, cd.vec_id, $pqAdcTerms AS adc
       |  FROM $adcFrom WHERE $adcWhere),
       |$pqRankTailSql""".stripMargin
  }

  // q67: the same k-means prefix, then in-cell pairwise dot_fp among
  // the first SemDedupCellCap members of each cell (rank-truncation,
  // the windowed guard), lower-id survivor rule, every id in output.
  private val q67Sql = {
    s"""WITH $kmPrefixSql,
       |m AS (SELECT vec_id, cell FROM af),
       |cmp AS (SELECT vec_id, cell FROM (
       |  SELECT vec_id, cell,
       |    row_number() OVER (PARTITION BY cell ORDER BY vec_id) AS rn FROM m) t
       |  WHERE rn <= $SemDedupCellCap),
       |dups AS (SELECT b.vec_id AS vec_id, count(*) AS n_dup_of
       |  FROM cmp a JOIN cmp b ON a.cell = b.cell AND a.vec_id < b.vec_id
       |  JOIN embeddings ea ON a.vec_id = ea.vec_id
       |  JOIN embeddings eb ON b.vec_id = eb.vec_id
       |  WHERE ${dotS("ea.embedding", "eb.embedding")} >= $SemDedupMinDotFp
       |  GROUP BY b.vec_id)
       |SELECT m.vec_id, CAST(m.cell AS INTEGER) AS cell,
       |  coalesce(d.n_dup_of, 0) AS n_dup_of,
       |  coalesce(d.n_dup_of, 0) = 0 AS kept
       |FROM m LEFT JOIN dups d ON m.vec_id = d.vec_id""".stripMargin
  }

  /** q117: the q67 replay (training + cap) extended with per-side
    * neighbor ranking, the mutuality join, and a recursive closure
    * over the surviving edges — q38's component labeling on the
    * mutual-kNN graph. */
  private def q117Sql: String = {
    s"""WITH RECURSIVE $kmPrefixSql,
       |m AS (SELECT vec_id, cell FROM af),
       |cmp AS (SELECT vec_id, cell FROM (
       |  SELECT vec_id, cell,
       |    row_number() OVER (PARTITION BY cell ORDER BY vec_id) AS rn FROM m) t
       |  WHERE rn <= $SemDedupCellCap),
       |pr AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       |    ${dotS("ea.embedding", "eb.embedding")} AS dot_fp
       |  FROM cmp a JOIN cmp b ON a.cell = b.cell AND a.vec_id < b.vec_id
       |  JOIN embeddings ea ON a.vec_id = ea.vec_id
       |  JOIN embeddings eb ON b.vec_id = eb.vec_id),
       |dr AS (SELECT a_id AS src, b_id AS dst, dot_fp FROM pr
       |  UNION ALL SELECT b_id, a_id, dot_fp FROM pr),
       |rk AS (SELECT src, dst FROM (
       |  SELECT src, dst,
       |    row_number() OVER (PARTITION BY src ORDER BY dot_fp DESC, dst) AS rn
       |  FROM dr) t WHERE rn <= $MutualK),
       |mut AS (SELECT a.src AS s, a.dst AS d FROM rk a
       |  JOIN rk b ON a.src = b.dst AND a.dst = b.src),
       |reach(v, r) AS (
       |  SELECT s, d FROM mut
       |  UNION
       |  SELECT reach.v, mut.d FROM reach JOIN mut ON reach.r = mut.s)
       |SELECT m.vec_id, CAST(m.cell AS INTEGER) AS cell,
       |  least(m.vec_id, coalesce(mn.mn, m.vec_id)) AS cluster_id
       |FROM m LEFT JOIN (SELECT v, min(r) AS mn FROM reach GROUP BY v) mn
       |  ON m.vec_id = mn.v""".stripMargin
  }

  /** q125: the trained assignment re-aggregated per cell; sqdist to
    * the OWN cell's final centroid, HUGEINT floor-mean. */
  private def q125Sql: String =
    s"""WITH $kmPrefixSql,
       |sq AS (SELECT af.vec_id, af.cell, ${kmSq("af", "c")} AS sqd
       |  FROM af JOIN c$IvfIter c USING (cell)),
       |g AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_vecs, sum(sqd) AS s
       |  FROM sq GROUP BY cell),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM af)
       |SELECT CAST(c.cell AS INTEGER) AS cell,
       |  coalesce(g.n_vecs, 0) AS n_vecs,
       |  CAST(coalesce(g.n_vecs, 0) * 1000000 // (SELECT n FROM tot) AS BIGINT)
       |    AS share_ppm,
       |  CAST(coalesce(g.s // g.n_vecs, 0) AS BIGINT) AS mean_sqdist
       |FROM c$IvfIter c LEFT JOIN g USING (cell)""".stripMargin

  /** q111: the q83 and q23 oracles verbatim as derived tables (so the
    * fusion can never drift from the rankings it fuses), then the RRF
    * sum and re-rank. */
  private def q111Sql: String = {
    val qm = LlmQueries.Bm25Queries.map(_._1).zipWithIndex
      .map { case (l, i) => s"('$l', $i)" }.mkString(", ")
    val nQ = LlmQueries.Bm25Queries.size
    s"""WITH bmr AS (${LlmQueries.bm25Sql}),
       |annr AS ($q23Sql),
       |qm(label, qid) AS (VALUES $qm),
       |b2 AS (SELECT qm.qid, bmr.doc_id, bmr.rn FROM bmr
       |  JOIN qm ON bmr.query_id = qm.label),
       |a2 AS (SELECT query_id AS qid, vec_id AS doc_id, rn FROM annr
       |  WHERE query_id < $nQ),
       |f AS (SELECT coalesce(b2.qid, a2.qid) AS qid,
       |    coalesce(b2.doc_id, a2.doc_id) AS doc_id,
       |    coalesce(1000000 // (60 + b2.rn), 0)
       |      + coalesce(1000000 // (60 + a2.rn), 0) AS rrf_ppm
       |  FROM b2 FULL JOIN a2
       |    ON b2.qid = a2.qid AND b2.doc_id = a2.doc_id)
       |SELECT CAST(qid AS BIGINT) AS qid, doc_id,
       |  CAST(rrf_ppm AS BIGINT) AS rrf_ppm,
       |  CAST(row_number() OVER (PARTITION BY qid
       |    ORDER BY rrf_ppm DESC, doc_id) AS BIGINT) AS rn
       |FROM f""".stripMargin
  }

  /** q232: the q83 and q23 oracles verbatim as derived tables (the
    * q111 discipline), then the full-join set algebra and the qid
    * spine. */
  private def q232Sql: String = {
    val qm = LlmQueries.Bm25Queries.map(_._1).zipWithIndex
      .map { case (l, i) => s"('$l', $i)" }.mkString(", ")
    val nQ = LlmQueries.Bm25Queries.size
    s"""WITH bmr AS (${LlmQueries.bm25Sql}),
       |annr AS ($q23Sql),
       |qm(label, qid) AS (VALUES $qm),
       |b2 AS (SELECT qm.qid, bmr.doc_id FROM bmr
       |  JOIN qm ON bmr.query_id = qm.label WHERE bmr.rn <= $RetAgreeK),
       |a2 AS (SELECT query_id AS qid, vec_id AS doc_id FROM annr
       |  WHERE query_id < $nQ AND rn <= $RetAgreeK),
       |f AS (SELECT coalesce(b2.qid, a2.qid) AS qid,
       |    CASE WHEN b2.doc_id IS NOT NULL THEN 1 ELSE 0 END AS l,
       |    CASE WHEN a2.doc_id IS NOT NULL THEN 1 ELSE 0 END AS d
       |  FROM b2 FULL JOIN a2
       |    ON b2.qid = a2.qid AND b2.doc_id = a2.doc_id),
       |g AS (SELECT qid, CAST(sum(l) AS BIGINT) AS n_lexical,
       |    CAST(sum(d) AS BIGINT) AS n_dense,
       |    CAST(sum(l * d) AS BIGINT) AS n_overlap FROM f GROUP BY qid)
       |SELECT CAST(qm.qid AS BIGINT) AS qid,
       |  CAST(coalesce(g.n_lexical, 0) AS BIGINT) AS n_lexical,
       |  CAST(coalesce(g.n_dense, 0) AS BIGINT) AS n_dense,
       |  CAST(coalesce(g.n_overlap, 0) AS BIGINT) AS n_overlap,
       |  CAST(coalesce(g.n_overlap, 0) * 1000000 // greatest(
       |    coalesce(g.n_lexical, 0) + coalesce(g.n_dense, 0)
       |      - coalesce(g.n_overlap, 0), 1) AS BIGINT) AS jaccard_ppm
       |FROM (SELECT DISTINCT qid FROM qm) qm LEFT JOIN g USING (qid)""".stripMargin
  }

  /** q112: the four ranking oracles verbatim as derived tables, then
    * the hits/recall aggregate — the card cannot drift from the
    * rankings it grades. */
  private def q112Sql: String = {
    val methodRows = RecallMethods.map(m => s"('$m')").mkString(", ")
    s"""WITH ex0 AS ($q23Sql),
       |a24 AS ($q24Sql),
       |a41 AS ($q41Sql),
       |a84 AS ($q84Sql),
       |e AS (SELECT query_id, vec_id FROM ex0 WHERE rn <= $AnnK),
       |ap AS (
       |  SELECT 'sign_lsh' AS method, query_id, vec_id FROM a24 WHERE rn <= $AnnK
       |  UNION ALL SELECT 'ivf_seeded', query_id, vec_id FROM a41 WHERE rn <= $AnnK
       |  UNION ALL SELECT 'pq_adc', query_id, vec_id FROM a84 WHERE rn <= $AnnK),
       |spine AS (SELECT m.method, q.query_id
       |  FROM (SELECT DISTINCT query_id FROM e) q
       |  CROSS JOIN (VALUES $methodRows) m(method)),
       |h AS (SELECT ap.method, ap.query_id, CAST(count(*) AS BIGINT) AS hits
       |  FROM ap JOIN e USING (query_id, vec_id) GROUP BY 1, 2)
       |SELECT spine.method, spine.query_id,
       |  CAST(coalesce(h.hits, 0) AS BIGINT) AS hits,
       |  CAST((coalesce(h.hits, 0) * 1000000) // $AnnK AS BIGINT) AS recall_ppm
       |FROM spine LEFT JOIN h USING (method, query_id)""".stripMargin
  }

  /** q113: the minhash CTE chain on the sampled docs, brute-force
    * truth with the identical Jaccard formula, banded candidates
    * exactly as q21, then per-threshold conditional counts. */
  private def q113Sql: String = {
    val thrRows = CardThresholds.map(t => s"($t)").mkString(", ")
    def jSql(a: String, b: String): String =
      s"""CAST(floor(1000000.0 * CAST(len(list_intersect($a.s, $b.s)) AS DOUBLE)
         |    / CAST(len($a.s) + len($b.s) - len(list_intersect($a.s, $b.s)) AS DOUBLE)) AS BIGINT)""".stripMargin
    s"""WITH $minhashCtes,
       |smp AS (SELECT doc_id FROM documents WHERE doc_id < $CardSampleLimit),
       |ss AS (SELECT s.doc_id, s.s FROM sets s JOIN smp USING (doc_id)),
       |truth AS (SELECT ${jSql("a", "b")} AS j
       |  FROM ss a JOIN ss b ON a.doc_id < b.doc_id),
       |sbands AS (SELECT b.doc_id, b.band_id, b.band_key
       |  FROM bands b JOIN smp USING (doc_id)),
       |cpairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM sbands a JOIN sbands b ON a.band_id = b.band_id
       |    AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
       |cand AS (SELECT ${jSql("sa", "sb")} AS j FROM cpairs
       |  JOIN ss sa ON doc_a = sa.doc_id JOIN ss sb ON doc_b = sb.doc_id),
       |thr(thr_fp) AS (VALUES $thrRows),
       |t AS (SELECT thr_fp, CAST(count(*) FILTER (j >= thr_fp) AS BIGINT) AS n_true
       |  FROM thr LEFT JOIN truth ON TRUE GROUP BY thr_fp),
       |c AS (SELECT thr_fp, CAST(count(*) FILTER (j >= thr_fp) AS BIGINT) AS n_found
       |  FROM thr LEFT JOIN cand ON TRUE GROUP BY thr_fp),
       |cc AS (SELECT CAST(count(*) AS BIGINT) AS n_cand FROM cand)
       |SELECT CAST(t.thr_fp AS BIGINT) AS thr_fp, t.n_true, cc.n_cand, c.n_found,
       |  CASE WHEN t.n_true > 0 THEN CAST((c.n_found * 1000000) // t.n_true AS BIGINT) END AS recall_ppm,
       |  CASE WHEN cc.n_cand > 0 THEN CAST((c.n_found * 1000000) // cc.n_cand AS BIGINT) END AS precision_ppm
       |FROM t JOIN c USING (thr_fp) CROSS JOIN cc""".stripMargin
  }

  // q113's card replayed per band configuration: config 1 reuses the
  // shared `bands` CTE (8×1); config 2 rebuilds band keys as 2-row
  // slices of the same signatures (4×2), mirroring
  // MinHashLSH.candidatePairsFromSets' slice arithmetic.
  private def q173Sql: String = {
    val thrRows = CardThresholds.map(t => s"($t)").mkString(", ")
    def jSql(a: String, b: String): String =
      s"""CAST(floor(1000000.0 * CAST(len(list_intersect($a.s, $b.s)) AS DOUBLE)
         |    / CAST(len($a.s) + len($b.s) - len(list_intersect($a.s, $b.s)) AS DOUBLE)) AS BIGINT)""".stripMargin
    def cfgCtes(n: Int, bandsCte: String): String =
      s"""sb$n AS (SELECT b.doc_id, b.band_id, b.band_key
         |  FROM $bandsCte b JOIN smp USING (doc_id)),
         |cp$n AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM sb$n a JOIN sb$n b ON a.band_id = b.band_id
         |    AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
         |cd$n AS (SELECT ${jSql("sa", "sb")} AS j FROM cp$n
         |  JOIN ss sa ON doc_a = sa.doc_id JOIN ss sb ON doc_b = sb.doc_id),
         |c$n AS (SELECT thr_fp, CAST(count(*) FILTER (j >= thr_fp) AS BIGINT) AS n_found
         |  FROM thr LEFT JOIN cd$n ON TRUE GROUP BY thr_fp),
         |cc$n AS (SELECT CAST(count(*) AS BIGINT) AS n_cand FROM cd$n)""".stripMargin
    def cfgSelect(n: Int, label: String): String =
      s"""SELECT '$label' AS bands_cfg, CAST(t.thr_fp AS BIGINT) AS thr_fp,
         |  t.n_true, cc$n.n_cand, c$n.n_found,
         |  CASE WHEN t.n_true > 0
         |    THEN CAST((c$n.n_found * 1000000) // t.n_true AS BIGINT) END AS recall_ppm,
         |  CASE WHEN cc$n.n_cand > 0
         |    THEN CAST((c$n.n_found * 1000000) // cc$n.n_cand AS BIGINT) END AS precision_ppm
         |FROM t JOIN c$n USING (thr_fp) CROSS JOIN cc$n""".stripMargin
    s"""WITH $minhashCtes,
       |smp AS (SELECT doc_id FROM documents WHERE doc_id < $CardSampleLimit),
       |ss AS (SELECT s.doc_id, s.s FROM sets s JOIN smp USING (doc_id)),
       |truth AS (SELECT ${jSql("a", "b")} AS j
       |  FROM ss a JOIN ss b ON a.doc_id < b.doc_id),
       |thr(thr_fp) AS (VALUES $thrRows),
       |t AS (SELECT thr_fp, CAST(count(*) FILTER (j >= thr_fp) AS BIGINT) AS n_true
       |  FROM thr LEFT JOIN truth ON TRUE GROUP BY thr_fp),
       |bands2 AS (SELECT doc_id, b AS band_id,
       |  array_to_string(list_transform(mh[(2 * b + 1):(2 * b + 2)],
       |    x -> CAST(x AS VARCHAR)), '|') AS band_key
       |  FROM mh, unnest(range(0, ${NumHashes / 2})) AS u(b)),
       |${cfgCtes(1, "bands")},
       |${cfgCtes(2, "bands2")}
       |${cfgSelect(1, "b8r1")}
       |UNION ALL
       |${cfgSelect(2, "b4r2")}""".stripMargin
  }

  val oracleSql: Map[String, String] = Map(
    // the same decode, bucket, and rank algebra; norm² as a list fold
    "q268_vector_audit" ->
      """WITH m AS (SELECT CAST(label AS BIGINT) AS g, vec_id,
        |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)
        |      * 1000000.0) AS BIGINT)) AS fp
        |  FROM embeddings),
        |d AS (SELECT g, vec_id, CAST(coalesce(len(fp), 0) AS BIGINT) AS dim,
        |    CAST(coalesce(list_sum(list_transform(fp, x -> x * x)), 0)
        |      AS BIGINT) AS norm2 FROM m),
        |t AS (SELECT g, CAST(count(*) AS BIGINT) AS n_docs FROM d GROUP BY 1),
        |base AS (SELECT g, CAST(count(*) AS BIGINT) AS n_vecs,
        |    CAST(sum(CASE WHEN dim = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_empty,
        |    CAST(sum(CASE WHEN dim > 0 AND norm2 = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_zero,
        |    min(dim) AS dim_min, max(dim) AS dim_max,
        |    min(norm2) AS norm2_min, max(norm2) AS norm2_max
        |  FROM d GROUP BY 1),
        |h AS (SELECT g, CAST(length(bin(norm2)) AS INTEGER) AS bucket,
        |    count(*) AS cnt FROM d GROUP BY 1, 2),
        |c AS (SELECT g, bucket,
        |    sum(cnt) OVER (PARTITION BY g ORDER BY bucket) AS cum FROM h),
        |b50 AS (SELECT c.g, min(bucket) AS b FROM c JOIN t ON c.g = t.g
        |  WHERE cum >= (n_docs * 50 + 99) // 100 GROUP BY 1),
        |e50 AS (SELECT g, ((1::BIGINT << (b - 1)) + (1::BIGINT << b) - 1)
        |    // 2 AS est_p50_norm2 FROM b50),
        |r AS (SELECT g, norm2, row_number() OVER (PARTITION BY g
        |    ORDER BY norm2, vec_id) AS rn FROM d),
        |x50 AS (SELECT r.g, norm2 AS exact_p50_norm2 FROM r
        |  JOIN t ON r.g = t.g AND rn = (n_docs * 50 + 99) // 100)
        |SELECT base.g AS label, n_vecs, n_empty, n_zero, dim_min, dim_max,
        |  norm2_min, norm2_max, est_p50_norm2, exact_p50_norm2
        |FROM base JOIN e50 ON base.g = e50.g
        |JOIN x50 ON base.g = x50.g""".stripMargin,
    // the same DISTINCT (source, base) explode + per-source set;
    // len(list_intersect) is DuckDB's spelling of the rewritten
    // inter_count (both dedup), jaccard as the shared floor-ppm
    "q260_source_overlap" ->
      s"""WITH $minhashCtes,
         |ex AS (SELECT DISTINCT coalesce(d.source, '(null)') AS source, u.base
         |  FROM bs JOIN documents d ON bs.doc_id = d.doc_id,
         |    unnest(bs.bases) AS u(base)),
         |ss2 AS (SELECT source, list(base) AS s FROM ex GROUP BY 1)
         |SELECT a.source AS source_a, b.source AS source_b,
         |  CAST(len(a.s) AS INTEGER) AS size_a,
         |  CAST(len(b.s) AS INTEGER) AS size_b,
         |  CAST(len(list_intersect(a.s, b.s)) AS INTEGER) AS overlap,
         |  CAST(floor(1000000.0 * len(list_intersect(a.s, b.s))
         |    / greatest(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)), 1))
         |    AS BIGINT) AS jaccard_fp
         |FROM ss2 a JOIN ss2 b ON a.source < b.source""".stripMargin,
    "q111_hybrid_rrf"   -> q111Sql,
    "q112_ann_recall"   -> q112Sql,
    "q232_retrieval_agreement" -> q232Sql,
    "q113_lsh_recall"   -> q113Sql,
    "q173_lsh_sweep"    -> q173Sql,
    // q113's truth/threshold CTEs with q171's SNM pair generator
    // (restricted to the sample slice) as the candidate source, one
    // config per pass set: fwd = q164's forward window, fwd_rev =
    // q177's forward ∪ reversed-key pairs, distinct per pair
    "q174_snm_recall" -> {
      val thrRows = CardThresholds.map(t => s"($t)").mkString(", ")
      def jSql(a: String, b: String): String =
        s"""CAST(floor(1000000.0 * CAST(len(list_intersect($a.s, $b.s)) AS DOUBLE)
           |    / CAST(len($a.s) + len($b.s) - len(list_intersect($a.s, $b.s)) AS DOUBLE)) AS BIGINT)""".stripMargin
      def cfgTail(n: Int): String =
        s"""cd$n AS (SELECT ${jSql("sa", "sb")} AS j FROM cp$n
           |  JOIN ss sa ON doc_a = sa.doc_id JOIN ss sb ON doc_b = sb.doc_id),
           |c$n AS (SELECT thr_fp, CAST(count(*) FILTER (j >= thr_fp) AS BIGINT) AS n_found
           |  FROM thr LEFT JOIN cd$n ON TRUE GROUP BY thr_fp),
           |cc$n AS (SELECT CAST(count(*) AS BIGINT) AS n_cand FROM cd$n)""".stripMargin
      def cfgSelect(n: Int, label: String): String =
        s"""SELECT '$label' AS snm_cfg, CAST(t.thr_fp AS BIGINT) AS thr_fp,
           |  t.n_true, cc$n.n_cand, c$n.n_found,
           |  CASE WHEN t.n_true > 0
           |    THEN CAST((c$n.n_found * 1000000) // t.n_true AS BIGINT) END AS recall_ppm,
           |  CASE WHEN cc$n.n_cand > 0
           |    THEN CAST((c$n.n_found * 1000000) // cc$n.n_cand AS BIGINT) END AS precision_ppm
           |FROM t JOIN c$n USING (thr_fp) CROSS JOIN cc$n""".stripMargin
      s"""WITH $minhashCtes,
         |smp AS (SELECT doc_id FROM documents WHERE doc_id < $CardSampleLimit),
         |ss AS (SELECT s.doc_id, s.s FROM sets s JOIN smp USING (doc_id)),
         |truth AS (SELECT ${jSql("a", "b")} AS j
         |  FROM ss a JOIN ss b ON a.doc_id < b.doc_id),
         |thr(thr_fp) AS (VALUES $thrRows),
         |t AS (SELECT thr_fp, CAST(count(*) FILTER (j >= thr_fp) AS BIGINT) AS n_true
         |  FROM thr LEFT JOIN truth ON TRUE GROUP BY thr_fp),
         |nb AS (SELECT d.doc_id,
         |    trim(regexp_replace(lower(d.text), '\\s+', ' ', 'g')) AS k
         |  FROM documents d JOIN smp USING (doc_id)
         |  WHERE d.doc_id IS NOT NULL AND d.text IS NOT NULL),
         |rf AS (SELECT doc_id, k, substr(k, 1, 4) AS block,
         |    row_number() OVER (PARTITION BY substr(k, 1, 4)
         |      ORDER BY k, doc_id) AS rn FROM nb),
         |rvv AS (SELECT doc_id, reverse(k) AS k FROM nb),
         |rr AS (SELECT doc_id, k, substr(k, 1, 4) AS block,
         |    row_number() OVER (PARTITION BY substr(k, 1, 4)
         |      ORDER BY k, doc_id) AS rn FROM rvv),
         |cp1 AS (SELECT least(a.doc_id, c.doc_id) AS doc_a,
         |    greatest(a.doc_id, c.doc_id) AS doc_b
         |  FROM rf a JOIN rf c
         |    ON a.block = c.block AND c.rn - a.rn BETWEEN 1 AND 2),
         |cp2 AS (SELECT DISTINCT doc_a, doc_b FROM (
         |  SELECT doc_a, doc_b FROM cp1
         |  UNION ALL
         |  SELECT least(a.doc_id, c.doc_id) AS doc_a,
         |    greatest(a.doc_id, c.doc_id) AS doc_b
         |  FROM rr a JOIN rr c
         |    ON a.block = c.block AND c.rn - a.rn BETWEEN 1 AND 2) uu),
         |${cfgTail(1)},
         |${cfgTail(2)}
         |${cfgSelect(1, "fwd")}
         |UNION ALL
         |${cfgSelect(2, "fwd_rev")}""".stripMargin
    },
    "q117_mutual_knn"   -> q117Sql,
    "q276_graph_expand" -> q276Sql,
    "q296_ivf_delta" -> q296Sql,
    "q297_graph_delta" -> graphPerSrcSql("", "delta"),
    "q299_graph_erase" ->
      graphPerSrcSql(s"WHERE v.vec_id % $EraseVecMod != 0", "erase"),
    // 64 LCG signatures off the shared bases, low bits packed into
    // one word (bit 63 = the explicit Long minimum, the q206
    // precedent), XOR+popcount per LSH candidate pair next to the
    // exact Jaccard
    "q277_bbit_minhash" -> {
      val estSql = s"CAST(greatest(0, 2 * match_bits - 64) " +
        s"* 1000000 // 64 AS BIGINT)"
      s"""WITH $minhashCtes,
         |${packCteOver("bs", "pk")},
         |pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b ON a.band_id = b.band_id
         |    AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
         |j AS (${jaccardSelect("doc_a", "doc_b")}),
         |x AS (SELECT j.doc_a, j.doc_b, j.jaccard_fp,
         |    CAST(64 - bit_count(xor(pa.w, pb.w)) AS BIGINT) AS match_bits
         |  FROM j JOIN pk pa ON j.doc_a = pa.doc_id
         |  JOIN pk pb ON j.doc_b = pb.doc_id)
         |SELECT doc_a, doc_b, jaccard_fp, match_bits,
         |  $estSql AS est_ppm,
         |  abs($estSql - jaccard_fp) AS abs_err_ppm
         |FROM x""".stripMargin
    },
    // loaded ≡ trained byte-for-byte (deterministic fixed-point
    // training) ⇒ the serve variant shares the oracle verbatim
    "q269_mutual_knn_loaded" -> q117Sql,
    "q125_ivf_balance"  -> q125Sql,
    "q21_minhash_pairs" -> q21Sql,
    // q21's pair replay joined to q126's split rule, rolled up per
    // unordered split pair with the same fixed-point jaccard sums
    "q160_split_leakage" ->
      s"""WITH p AS ($q21Sql),
         |spl AS (SELECT doc_id,
         |    CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
         |        % 100 < $LeakTrainPct THEN 'train'
         |      WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
         |        % 100 < ${LeakTrainPct + LeakValPct} THEN 'val'
         |      ELSE 'test' END AS split
         |  FROM documents)
         |SELECT least(a.split, b.split) AS split_lo,
         |  greatest(a.split, b.split) AS split_hi,
         |  CAST(count(*) AS BIGINT) AS n_pairs,
         |  max(p.jaccard_fp) AS max_jaccard_fp,
         |  CAST(sum(p.jaccard_fp) AS BIGINT) AS sum_jaccard_fp
         |FROM p JOIN spl a ON p.doc_a = a.doc_id
         |  JOIN spl b ON p.doc_b = b.doc_id
         |GROUP BY 1, 2""".stripMargin,
    // q160's rollup with q29's embedding pair generator as the pair
    // source — same split spelling, dot_fp instead of jaccard_fp
    "q197_semantic_leakage" ->
      s"""WITH p AS ($q29Sql),
         |spl AS (SELECT vec_id,
         |    CASE WHEN ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT
         |        % 100 < $LeakTrainPct THEN 'train'
         |      WHEN ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT
         |        % 100 < ${LeakTrainPct + LeakValPct} THEN 'val'
         |      ELSE 'test' END AS split
         |  FROM embeddings)
         |SELECT least(a.split, b.split) AS split_lo,
         |  greatest(a.split, b.split) AS split_hi,
         |  CAST(count(*) AS BIGINT) AS n_pairs,
         |  max(p.dot_fp) AS max_dot_fp,
         |  CAST(sum(p.dot_fp) AS BIGINT) AS sum_dot_fp
         |FROM p JOIN spl a ON p.vec_a = a.vec_id
         |  JOIN spl b ON p.vec_b = b.vec_id
         |GROUP BY 1, 2""".stripMargin,
    // q69's rule CTEs seed suspicion, q38's edge spelling carries it,
    // two unrolled max-halving rounds — all three fragments
    // individually hash-proven elsewhere
    "q204_spam_propagation" ->
      s"""WITH ${LlmQueries.rulesCtes},
         |pj AS (SELECT doc_a, doc_b FROM ($q21Sql) q
         |  WHERE jaccard_fp >= $ClusterMinJaccardFp),
         |e AS (SELECT doc_a AS src, doc_b AS dst FROM pj
         |  UNION SELECT doc_b, doc_a FROM pj),
         |s0 AS (SELECT doc_id,
         |    CASE WHEN ${LlmQueries.reasonsSql} = 0 THEN 0
         |      ELSE 1000000 END AS s,
         |    ${LlmQueries.reasonsSql} = 0 AS kept
         |  FROM rr),
         |m1 AS (SELECT e.dst AS doc_id, CAST(max(s0.s) AS BIGINT) AS mx
         |  FROM e JOIN s0 ON e.src = s0.doc_id GROUP BY 1),
         |s1 AS (SELECT s0.doc_id, s0.kept,
         |    greatest(s0.s, coalesce(m1.mx // 2, 0)) AS s
         |  FROM s0 LEFT JOIN m1 USING (doc_id)),
         |m2 AS (SELECT e.dst AS doc_id, CAST(max(s1.s) AS BIGINT) AS mx
         |  FROM e JOIN s1 ON e.src = s1.doc_id GROUP BY 1),
         |s2 AS (SELECT s1.doc_id, s1.kept,
         |    greatest(s1.s, coalesce(m2.mx // 2, 0)) AS s
         |  FROM s1 LEFT JOIN m2 USING (doc_id))
         |SELECT doc_id, kept, CAST(s AS BIGINT) AS suspicion_ppm,
         |  (kept AND s >= 250000) AS flagged
         |FROM s2""".stripMargin,
    // q197's split spelling as the labeled/unlabeled divide; buckets,
    // cross-slice dots, top-k rank, majority vote with its two
    // deterministic tie-breaks, -1 no-evidence sentinel
    "q203_knn_impute" ->
      s"""WITH spl AS (SELECT vec_id,
         |    CASE WHEN ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT
         |        % 100 < $LeakTrainPct THEN 'train'
         |      WHEN ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT
         |        % 100 < ${LeakTrainPct + LeakValPct} THEN 'val'
         |      ELSE 'test' END AS split
         |  FROM embeddings),
         |b AS (SELECT e.vec_id, e.label, e.embedding,
         |    CAST($bucketSql AS BIGINT) AS bucket, spl.split
         |  FROM embeddings e JOIN spl USING (vec_id)),
         |sc AS (SELECT q.vec_id AS query_id, c.vec_id, c.label AS clab,
         |    CAST(list_sum(list_transform(range(1, len(q.embedding) + 1),
         |      i -> CAST(floor(CAST(q.embedding[i] AS DOUBLE)
         |        * CAST(c.embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT)))
         |      AS BIGINT) AS dot_fp
         |  FROM b q JOIN b c USING (bucket)
         |  WHERE q.split = 'test' AND c.split = 'train'),
         |top AS (SELECT query_id, vec_id, clab FROM (SELECT query_id, vec_id,
         |    clab, row_number() OVER (PARTITION BY query_id
         |      ORDER BY dot_fp DESC, vec_id ASC) AS rn FROM sc) t
         |  WHERE rn <= $AgreeK),
         |vt AS (SELECT query_id, clab, CAST(count(*) AS BIGINT) AS votes
         |  FROM top GROUP BY 1, 2),
         |pr AS (SELECT query_id, clab FROM (SELECT query_id, clab,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY votes DESC, clab ASC) AS rn FROM vt) t
         |  WHERE rn = 1)
         |SELECT e.vec_id, e.label AS label_true,
         |  coalesce(pr.clab, -1) AS label_imputed,
         |  (coalesce(pr.clab, -1) = e.label) AS correct
         |FROM embeddings e
         |JOIN spl ON e.vec_id = spl.vec_id AND spl.split = 'test'
         |LEFT JOIN pr ON pr.query_id = e.vec_id""".stripMargin,
    // buckets, exact in-bucket dots, shared top-k rank, agreement
    // rollup and both coalesce-to-zero flags replayed
    "q198_label_agreement" ->
      s"""WITH b AS (SELECT vec_id, label, embedding,
         |    CAST($bucketSql AS BIGINT) AS bucket FROM embeddings),
         |sc AS (SELECT a.vec_id AS query_id, c.vec_id,
         |    CAST(list_sum(list_transform(range(1, len(a.embedding) + 1),
         |      i -> CAST(floor(CAST(a.embedding[i] AS DOUBLE)
         |        * CAST(c.embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT)))
         |      AS BIGINT) AS dot_fp
         |  FROM b a JOIN b c USING (bucket) WHERE a.vec_id <> c.vec_id),
         |top AS (SELECT query_id, vec_id FROM (SELECT query_id, vec_id,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY dot_fp DESC, vec_id ASC) AS rn FROM sc) t
         |  WHERE rn <= $AgreeK),
         |ag AS (SELECT t.query_id, CAST(count(*) AS BIGINT) AS n_nb,
         |    CAST(sum(CASE WHEN qb.label = cb.label THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_agree
         |  FROM top t JOIN b qb ON t.query_id = qb.vec_id
         |  JOIN b cb ON t.vec_id = cb.vec_id
         |  GROUP BY 1)
         |SELECT vec_id, label, n_nb, n_agree,
         |  CAST(CASE WHEN n_nb = 0 THEN 0
         |    ELSE floor(1000000.0 * CAST(n_agree AS DOUBLE)
         |      / CAST(n_nb AS DOUBLE)) END AS BIGINT) AS agree_fp,
         |  (n_nb > 0 AND 2 * n_agree < n_nb) AS noisy
         |FROM (SELECT e.vec_id, e.label,
         |    CAST(coalesce(ag.n_nb, 0) AS BIGINT) AS n_nb,
         |    CAST(coalesce(ag.n_agree, 0) AS BIGINT) AS n_agree
         |  FROM embeddings e LEFT JOIN ag ON e.vec_id = ag.query_id) t""".stripMargin,
    "q22_simhash16"     -> q22Sql,
    "q23_embed_topk"    -> q23Sql,
    "q24_embed_ann"     -> q24Sql,
    "q29_embed_dedup"   -> q29Sql,
    "q38_dedup_clusters" -> q38Sql,
    "q41_ivf_ann"       -> q41Sql,
    "q48_cross_corpus"  -> q48Sql,
    "q49_minhash_capped" -> q49Sql,
    "q51_source_matrix" -> q51Sql,
    "q58_embed_dedup_capped" -> q58Sql,
    "q62_cross_corpus_capped" -> q62Sql,
    "q66_ivf_trained"   -> q66Sql,
    "q84_pq_ann"        -> q84Sql,
    "q92_ivfadc"        -> q92Sql,
    // loaded-codebook serve path is byte-identical ⇒ shares q92's oracle
    "q176_ivfadc_loaded" -> q92Sql,
    // the corpus side reuses the shared chain (unmutated text),
    // capped exactly like the shipped index; the arrival side runs
    // the same chain over the mutated fixture; candidates verify
    // with exact Jaccard and aggregate duplicate-invariantly
    "q272_fuzzy_admission" ->
      s"""WITH $minhashCtes,
         |arr AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0
         |  UNION ALL SELECT doc_id + 3000000 AS doc_id, text || ' graft' AS text
         |    FROM documents WHERE doc_id % 9 = 0 AND doc_id % 10 != 0
         |  UNION ALL SELECT doc_id + 4000000 AS doc_id, text
         |    FROM documents WHERE doc_id % 17 = 0 AND doc_id % 10 != 0),
         |${minhashChainOver("arr", "arr_")},
         |cb AS (SELECT doc_id AS corpus_doc, band_id, band_key FROM (
         |    SELECT doc_id, band_id, band_key,
         |      count(*) OVER (PARTITION BY band_id, band_key) AS bc
         |    FROM bands WHERE doc_id % 10 != 0) t
         |  WHERE bc <= $AdmitCap),
         |cs AS (SELECT doc_id AS corpus_doc, s FROM sets WHERE doc_id % 10 != 0),
         |cand AS (SELECT DISTINCT a.doc_id, cb.corpus_doc
         |  FROM arr_bands a JOIN cb USING (band_id, band_key)),
         |ver AS (SELECT cand.doc_id, cand.corpus_doc,
         |    CAST(floor(1000000.0
         |      * CAST(len(list_intersect(sa.s, cs.s)) AS DOUBLE)
         |      / CAST(len(sa.s) + len(cs.s)
         |          - len(list_intersect(sa.s, cs.s)) AS DOUBLE)) AS BIGINT)
         |      AS jfp
         |  FROM cand JOIN arr_sets sa ON cand.doc_id = sa.doc_id
         |  JOIN cs ON cand.corpus_doc = cs.corpus_doc),
         |a1 AS (SELECT doc_id,
         |    CAST(count(DISTINCT corpus_doc) AS BIGINT) AS n_candidates,
         |    CAST(count(DISTINCT CASE WHEN jfp >= $AdmitMinJaccardFp
         |      THEN corpus_doc END) AS BIGINT) AS n_near_dups,
         |    max(jfp) AS best_jaccard_fp FROM ver GROUP BY 1),
         |a2 AS (SELECT a1.doc_id, min(ver.corpus_doc) AS best_match
         |  FROM a1 JOIN ver ON a1.doc_id = ver.doc_id
         |    AND ver.jfp = a1.best_jaccard_fp GROUP BY 1)
         |SELECT arr.doc_id,
         |  CAST(coalesce(a1.n_candidates, 0) AS BIGINT) AS n_candidates,
         |  CAST(coalesce(a1.n_near_dups, 0) AS BIGINT) AS n_near_dups,
         |  a2.best_match, a1.best_jaccard_fp,
         |  CASE WHEN coalesce(a1.n_near_dups, 0) > 0 THEN 'near_dup'
         |    ELSE 'unique' END AS status
         |FROM arr LEFT JOIN a1 USING (doc_id) LEFT JOIN a2 USING (doc_id)"""
        .stripMargin,
    // the full closure is the ONE truth: the delta-maintained label
    // must equal it per doc, and agree pins to literal true — any
    // divergence of the Spark-side maintenance hash-fails
    "q273_cc_delta" ->
      s"""WITH cl AS ($q38Sql)
         |SELECT doc_id, cluster_id, cluster_id AS delta_cluster_id,
         |  true AS agree FROM cl""".stripMargin,
    // same truth, chained twice on the Spark side
    "q279_cc_delta_chain" ->
      s"""WITH cl AS ($q38Sql)
         |SELECT doc_id, cluster_id, cluster_id AS chained_cluster_id,
         |  true AS agree FROM cl""".stripMargin,
    // same fixed-point dots, same (dot desc, vec_id) neighbor order,
    // same (votes desc, label) tie-break — the whole transfer chain
    "q284_label_transfer" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe,
         |    label AS true_label FROM embeddings WHERE vec_id % 5 = 0),
         |c AS (SELECT vec_id, embedding AS ce, label AS nb_label
         |  FROM embeddings WHERE vec_id % 5 != 0),
         |scored AS (SELECT query_id, true_label, c.vec_id, nb_label,
         |    $dotSql AS dot_fp FROM q CROSS JOIN c),
         |ranked AS (SELECT query_id, true_label, nb_label,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY dot_fp DESC, vec_id) AS rn FROM scored),
         |votes AS (SELECT query_id, true_label, nb_label, count(*) AS nv
         |  FROM ranked WHERE rn <= $TransferK GROUP BY 1, 2, 3),
         |pick AS (SELECT query_id, true_label, nb_label, nv,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY nv DESC, nb_label) AS pr FROM votes)
         |SELECT query_id AS vec_id,
         |  CAST(true_label AS BIGINT) AS true_label,
         |  CAST(nb_label AS BIGINT) AS pred_label,
         |  CAST(nv AS BIGINT) AS top_votes,
         |  (true_label = nb_label) AS correct
         |FROM pick WHERE pr = 1""".stripMargin,
    // the ONE truth is the full rebuild over the union corpus (the
    // bucket cap applied over ALL docs' band rows); the
    // delta-maintained columns must equal it per doc and agree pins
    // to literal true — a missed eviction or double-kept row on the
    // Spark fold hash-fails
    "q280_index_delta" ->
      s"""WITH $minhashCtes,
         |cb AS (SELECT doc_id, band_id, band_key FROM (
         |    SELECT doc_id, band_id, band_key,
         |      count(*) OVER (PARTITION BY band_id, band_key) AS bc
         |    FROM bands) t
         |  WHERE bc <= $AdmitCap)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_rebuild,
         |  CAST(sum(('0x' || substr(md5(concat_ws(chr(1),
         |    CAST(band_id AS VARCHAR), band_key)), 1, 8))::BIGINT)
         |    % ${graft.llm.Sketches.ChecksumMod} AS BIGINT) AS ck_rebuild,
         |  CAST(count(*) AS BIGINT) AS n_delta,
         |  CAST(sum(('0x' || substr(md5(concat_ws(chr(1),
         |    CAST(band_id AS VARCHAR), band_key)), 1, 8))::BIGINT)
         |    % ${graft.llm.Sketches.ChecksumMod} AS BIGINT) AS ck_delta,
         |  true AS agree
         |FROM cb GROUP BY doc_id""".stripMargin,
    // the ONE truth is the rebuild over the SURVIVING slice (bands
    // filtered to doc_id % EraseSliceMod != 0 BEFORE the cap window,
    // so buckets the erase pulls back under the cap re-admit their
    // surviving rows); the erase-folded columns must equal it per doc
    // and agree pins to literal true — a leaked erased row, a missed
    // resurrection, or a resurrected evictee hash-fails
    "q294_index_erase" ->
      s"""WITH $minhashCtes,
         |cb AS (SELECT doc_id, band_id, band_key FROM (
         |    SELECT doc_id, band_id, band_key,
         |      count(*) OVER (PARTITION BY band_id, band_key) AS bc
         |    FROM bands WHERE doc_id % $EraseSliceMod != 0) t
         |  WHERE bc <= $AdmitCap)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_rebuild,
         |  CAST(sum(('0x' || substr(md5(concat_ws(chr(1),
         |    CAST(band_id AS VARCHAR), band_key)), 1, 8))::BIGINT)
         |    % ${graft.llm.Sketches.ChecksumMod} AS BIGINT) AS ck_rebuild,
         |  CAST(count(*) AS BIGINT) AS n_erase,
         |  CAST(sum(('0x' || substr(md5(concat_ws(chr(1),
         |    CAST(band_id AS VARCHAR), band_key)), 1, 8))::BIGINT)
         |    % ${graft.llm.Sketches.ChecksumMod} AS BIGINT) AS ck_erase,
         |  true AS agree
         |FROM cb GROUP BY doc_id""".stripMargin,
    // the q272 chain + the exhaustive truth arm (arrival sets ×
    // corpus sets, exact Jaccard), with BOTH gate variants (banded
    // and 1-bit-screened) scored against the one truth — one summary
    // row per variant
    "q278_admission_recall" ->
      s"""WITH $minhashCtes,
         |arr AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0
         |  UNION ALL SELECT doc_id + 3000000 AS doc_id, text || ' graft' AS text
         |    FROM documents WHERE doc_id % 9 = 0 AND doc_id % 10 != 0
         |  UNION ALL SELECT doc_id + 4000000 AS doc_id, text
         |    FROM documents WHERE doc_id % 17 = 0 AND doc_id % 10 != 0),
         |${minhashChainOver("arr", "arr_")},
         |${packCteOver("bs", "cpk")},
         |${packCteOver("arr_bs", "apk")},
         |cb AS (SELECT doc_id AS corpus_doc, band_id, band_key FROM (
         |    SELECT doc_id, band_id, band_key,
         |      count(*) OVER (PARTITION BY band_id, band_key) AS bc
         |    FROM bands WHERE doc_id % 10 != 0) t
         |  WHERE bc <= $AdmitCap),
         |cs AS (SELECT doc_id AS corpus_doc, s FROM sets WHERE doc_id % 10 != 0),
         |tr AS (SELECT a.doc_id,
         |    max(CAST(floor(1000000.0
         |      * CAST(len(list_intersect(a.s, c.s)) AS DOUBLE)
         |      / CAST(len(a.s) + len(c.s)
         |          - len(list_intersect(a.s, c.s)) AS DOUBLE)) AS BIGINT))
         |      >= $AdmitMinJaccardFp AS is_dup
         |  FROM arr_sets a CROSS JOIN cs c GROUP BY a.doc_id),
         |cand AS (SELECT DISTINCT a.doc_id, cb.corpus_doc
         |  FROM arr_bands a JOIN cb USING (band_id, band_key)),
         |ver AS (SELECT cand.doc_id,
         |    CAST(floor(1000000.0
         |      * CAST(len(list_intersect(sa.s, cs.s)) AS DOUBLE)
         |      / CAST(len(sa.s) + len(cs.s)
         |          - len(list_intersect(sa.s, cs.s)) AS DOUBLE)) AS BIGINT)
         |      AS jfp
         |  FROM cand JOIN arr_sets sa ON cand.doc_id = sa.doc_id
         |  JOIN cs ON cand.corpus_doc = cs.corpus_doc),
         |fl AS (SELECT arr.doc_id,
         |    coalesce(f.n_near, 0) > 0 AS flagged
         |  FROM arr LEFT JOIN (SELECT doc_id, count(CASE WHEN jfp >=
         |      $AdmitMinJaccardFp THEN 1 END) AS n_near
         |    FROM ver GROUP BY 1) f USING (doc_id)),
         |scr AS (SELECT cand.doc_id, cand.corpus_doc
         |  FROM cand JOIN apk aw ON cand.doc_id = aw.doc_id
         |  JOIN cpk cw ON cand.corpus_doc = cw.doc_id
         |  WHERE CAST(greatest(0, 2 * CAST(64 - bit_count(xor(aw.w, cw.w)) AS BIGINT) - 64)
         |    * 1000000 // 64 AS BIGINT) >= $BbitScreenPpm),
         |ver2 AS (SELECT scr.doc_id,
         |    CAST(floor(1000000.0
         |      * CAST(len(list_intersect(sa.s, cs.s)) AS DOUBLE)
         |      / CAST(len(sa.s) + len(cs.s)
         |          - len(list_intersect(sa.s, cs.s)) AS DOUBLE)) AS BIGINT)
         |      AS jfp
         |  FROM scr JOIN arr_sets sa ON scr.doc_id = sa.doc_id
         |  JOIN cs ON scr.corpus_doc = cs.corpus_doc),
         |fl2 AS (SELECT arr.doc_id,
         |    coalesce(f.n_near, 0) > 0 AS flagged
         |  FROM arr LEFT JOIN (SELECT doc_id, count(CASE WHEN jfp >=
         |      $AdmitMinJaccardFp THEN 1 END) AS n_near
         |    FROM ver2 GROUP BY 1) f USING (doc_id)),
         |j AS (SELECT 'banded' AS variant, tr.doc_id, tr.is_dup, fl.flagged
         |    FROM tr JOIN fl USING (doc_id)
         |  UNION ALL SELECT 'bbit_screen', tr.doc_id, tr.is_dup, fl2.flagged
         |    FROM tr JOIN fl2 USING (doc_id))
         |SELECT variant, CAST(count(*) AS BIGINT) AS n_arrivals,
         |  CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_true_dups,
         |  CAST(sum(CASE WHEN flagged THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_flagged,
         |  CAST(sum(CASE WHEN is_dup AND flagged THEN 1 ELSE 0 END) AS BIGINT)
         |    AS true_pos,
         |  CAST(sum(CASE WHEN NOT is_dup AND flagged THEN 1 ELSE 0 END)
         |    AS BIGINT) AS false_pos,
         |  CAST(sum(CASE WHEN is_dup AND flagged THEN 1 ELSE 0 END) * 1000000
         |    // greatest(sum(CASE WHEN is_dup THEN 1 ELSE 0 END), 1)
         |    AS BIGINT) AS recall_ppm,
         |  CAST(sum(CASE WHEN is_dup AND flagged THEN 1 ELSE 0 END) * 1000000
         |    // greatest(sum(CASE WHEN flagged THEN 1 ELSE 0 END), 1)
         |    AS BIGINT) AS precision_ppm
         |FROM j GROUP BY variant""".stripMargin,
    // the q272 gate chain with the packed-word Hamming screen between
    // candidacy and the exact verify — unscreened candidates keep a
    // null jfp, so best columns rank verified candidates only
    "q298_bbit_admission" ->
      s"""WITH $minhashCtes,
         |arr AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0
         |  UNION ALL SELECT doc_id + 3000000 AS doc_id, text || ' graft' AS text
         |    FROM documents WHERE doc_id % 9 = 0 AND doc_id % 10 != 0
         |  UNION ALL SELECT doc_id + 4000000 AS doc_id, text
         |    FROM documents WHERE doc_id % 17 = 0 AND doc_id % 10 != 0),
         |${minhashChainOver("arr", "arr_")},
         |${packCteOver("bs", "cpk")},
         |${packCteOver("arr_bs", "apk")},
         |cb AS (SELECT doc_id AS corpus_doc, band_id, band_key FROM (
         |    SELECT doc_id, band_id, band_key,
         |      count(*) OVER (PARTITION BY band_id, band_key) AS bc
         |    FROM bands WHERE doc_id % 10 != 0) t
         |  WHERE bc <= $AdmitCap),
         |cs AS (SELECT doc_id AS corpus_doc, s FROM sets WHERE doc_id % 10 != 0),
         |cand AS (SELECT DISTINCT a.doc_id, cb.corpus_doc
         |  FROM arr_bands a JOIN cb USING (band_id, band_key)),
         |scr AS (SELECT cand.doc_id, cand.corpus_doc,
         |    CAST(greatest(0, 2 * CAST(64 - bit_count(xor(aw.w, cw.w)) AS BIGINT) - 64)
         |      * 1000000 // 64 AS BIGINT) >= $BbitScreenPpm AS pass
         |  FROM cand JOIN apk aw ON cand.doc_id = aw.doc_id
         |  JOIN cpk cw ON cand.corpus_doc = cw.doc_id),
         |ver AS (SELECT scr.doc_id, scr.corpus_doc, scr.pass,
         |    CASE WHEN scr.pass THEN
         |      CAST(floor(1000000.0
         |        * CAST(len(list_intersect(sa.s, cs.s)) AS DOUBLE)
         |        / CAST(len(sa.s) + len(cs.s)
         |            - len(list_intersect(sa.s, cs.s)) AS DOUBLE)) AS BIGINT)
         |    END AS jfp
         |  FROM scr JOIN arr_sets sa ON scr.doc_id = sa.doc_id
         |  JOIN cs ON scr.corpus_doc = cs.corpus_doc),
         |a1 AS (SELECT doc_id,
         |    CAST(count(DISTINCT corpus_doc) AS BIGINT) AS n_candidates,
         |    CAST(count(DISTINCT CASE WHEN pass
         |      THEN corpus_doc END) AS BIGINT) AS n_screened,
         |    CAST(count(DISTINCT CASE WHEN jfp >= $AdmitMinJaccardFp
         |      THEN corpus_doc END) AS BIGINT) AS n_near_dups,
         |    max(jfp) AS best_jaccard_fp FROM ver GROUP BY 1),
         |a2 AS (SELECT a1.doc_id, min(ver.corpus_doc) AS best_match
         |  FROM a1 JOIN ver ON a1.doc_id = ver.doc_id
         |    AND ver.jfp = a1.best_jaccard_fp GROUP BY 1)
         |SELECT arr.doc_id,
         |  CAST(coalesce(a1.n_candidates, 0) AS BIGINT) AS n_candidates,
         |  CAST(coalesce(a1.n_screened, 0) AS BIGINT) AS n_screened,
         |  CAST(coalesce(a1.n_near_dups, 0) AS BIGINT) AS n_near_dups,
         |  a2.best_match, a1.best_jaccard_fp,
         |  CASE WHEN coalesce(a1.n_near_dups, 0) > 0 THEN 'near_dup'
         |    ELSE 'unique' END AS status
         |FROM arr LEFT JOIN a1 USING (doc_id) LEFT JOIN a2 USING (doc_id)"""
        .stripMargin,
    // the q298 chain scored ONCE per candidate pair (1-bit Hamming
    // estimate + exact truth Jaccard), then every grid threshold read
    // off the same scored relation
    "q311_bbit_screen_sweep" ->
      s"""WITH $minhashCtes,
         |arr AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0
         |  UNION ALL SELECT doc_id + 3000000 AS doc_id, text || ' graft' AS text
         |    FROM documents WHERE doc_id % 9 = 0 AND doc_id % 10 != 0
         |  UNION ALL SELECT doc_id + 4000000 AS doc_id, text
         |    FROM documents WHERE doc_id % 17 = 0 AND doc_id % 10 != 0),
         |${minhashChainOver("arr", "arr_")},
         |${packCteOver("bs", "cpk")},
         |${packCteOver("arr_bs", "apk")},
         |cb AS (SELECT doc_id AS corpus_doc, band_id, band_key FROM (
         |    SELECT doc_id, band_id, band_key,
         |      count(*) OVER (PARTITION BY band_id, band_key) AS bc
         |    FROM bands WHERE doc_id % 10 != 0) t
         |  WHERE bc <= $AdmitCap),
         |cs AS (SELECT doc_id AS corpus_doc, s FROM sets WHERE doc_id % 10 != 0),
         |cand AS (SELECT DISTINCT a.doc_id, cb.corpus_doc
         |  FROM arr_bands a JOIN cb USING (band_id, band_key)),
         |sc AS (SELECT cand.doc_id, cand.corpus_doc,
         |    CAST(greatest(0, 2 * CAST(64 - bit_count(xor(aw.w, cw.w)) AS BIGINT) - 64)
         |      * 1000000 // 64 AS BIGINT) AS est_ppm,
         |    CAST(floor(1000000.0
         |      * CAST(len(list_intersect(sa.s, cs.s)) AS DOUBLE)
         |      / CAST(len(sa.s) + len(cs.s)
         |          - len(list_intersect(sa.s, cs.s)) AS DOUBLE)) AS BIGINT)
         |      AS jfp
         |  FROM cand JOIN apk aw ON cand.doc_id = aw.doc_id
         |  JOIN cpk cw ON cand.corpus_doc = cw.doc_id
         |  JOIN arr_sets sa ON cand.doc_id = sa.doc_id
         |  JOIN cs ON cand.corpus_doc = cs.corpus_doc),
         |grid AS (SELECT CAST(unnest([${BbitSweepThresholds.mkString(", ")}])
         |  AS BIGINT) AS screen_min_ppm)
         |SELECT screen_min_ppm, CAST(count(*) AS BIGINT) AS n_candidates,
         |  CAST(coalesce(sum(CASE WHEN est_ppm >= screen_min_ppm
         |    THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_screened,
         |  CAST(coalesce(sum(CASE WHEN jfp >= $AdmitMinJaccardFp
         |    THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_true_dups,
         |  CAST(coalesce(sum(CASE WHEN est_ppm >= screen_min_ppm
         |    AND jfp >= $AdmitMinJaccardFp THEN 1 ELSE 0 END), 0)
         |    AS BIGINT) AS n_caught,
         |  CAST(CASE WHEN coalesce(sum(CASE WHEN jfp >= $AdmitMinJaccardFp
         |      THEN 1 ELSE 0 END), 0) = 0 THEN 1000000
         |    ELSE coalesce(sum(CASE WHEN est_ppm >= screen_min_ppm
         |      AND jfp >= $AdmitMinJaccardFp THEN 1 ELSE 0 END), 0) * 1000000
         |    // sum(CASE WHEN jfp >= $AdmitMinJaccardFp THEN 1 ELSE 0 END)
         |    END AS BIGINT) AS recall_ppm,
         |  CAST((count(*) - coalesce(sum(CASE WHEN est_ppm >= screen_min_ppm
         |      THEN 1 ELSE 0 END), 0)) * 1000000
         |    // greatest(count(*), 1) AS BIGINT) AS verify_saved_ppm
         |FROM sc, grid GROUP BY 1""".stripMargin,
    // the uncapped pair set scored once (smallest shared bucket +
    // exact truth Jaccard), bucket work stats windowed, every grid
    // cap read off the same two relations
    "q314_cap_sweep" ->
      s"""WITH $minhashCtes,
         |bkt AS (SELECT band_id, band_key, CAST(count(*) AS BIGINT) AS bc
         |  FROM bands GROUP BY 1, 2),
         |b2 AS (SELECT bands.doc_id, bands.band_id, bands.band_key, bkt.bc
         |  FROM bands JOIN bkt USING (band_id, band_key)),
         |pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    CAST(min(a.bc) AS BIGINT) AS min_bc
         |  FROM b2 a JOIN b2 b
         |    ON a.band_id = b.band_id AND a.band_key = b.band_key
         |      AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |sc AS (SELECT pr.min_bc,
         |    CAST(floor(1000000.0
         |      * CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
         |      / CAST(len(sa.s) + len(sb.s)
         |          - len(list_intersect(sa.s, sb.s)) AS DOUBLE)) AS BIGINT)
         |      AS jfp
         |  FROM pr JOIN sets sa ON pr.doc_a = sa.doc_id
         |  JOIN sets sb ON pr.doc_b = sb.doc_id),
         |grid AS (SELECT CAST(unnest([${CapSweepCaps.mkString(", ")}])
         |  AS BIGINT) AS cap),
         |wk AS (SELECT cap, CAST(count(*) AS BIGINT) AS n_buckets,
         |    CAST(coalesce(sum(CASE WHEN bc > cap THEN 1 ELSE 0 END), 0)
         |      AS BIGINT) AS n_buckets_dropped,
         |    CAST(coalesce(sum(bc * (bc - 1) // 2), 0) AS BIGINT)
         |      AS work_all,
         |    CAST(coalesce(sum(CASE WHEN bc <= cap
         |      THEN bc * (bc - 1) // 2 ELSE 0 END), 0) AS BIGINT)
         |      AS work_kept
         |  FROM bkt, grid GROUP BY 1),
         |rc AS (SELECT cap, CAST(count(*) AS BIGINT) AS n_candidates,
         |    CAST(coalesce(sum(CASE WHEN min_bc <= cap THEN 1 ELSE 0 END),
         |      0) AS BIGINT) AS n_kept,
         |    CAST(coalesce(sum(CASE WHEN jfp >= $AdmitMinJaccardFp
         |      THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_true_dups,
         |    CAST(coalesce(sum(CASE WHEN min_bc <= cap
         |      AND jfp >= $AdmitMinJaccardFp THEN 1 ELSE 0 END), 0)
         |      AS BIGINT) AS n_caught
         |  FROM sc, grid GROUP BY 1)
         |SELECT wk.cap, wk.n_buckets, wk.n_buckets_dropped,
         |  CAST((work_all - work_kept) * 1000000
         |    // greatest(work_all, 1) AS BIGINT) AS pair_work_saved_ppm,
         |  CAST(coalesce(rc.n_candidates, 0) AS BIGINT) AS n_candidates,
         |  CAST(coalesce(rc.n_kept, 0) AS BIGINT) AS n_kept,
         |  CAST(coalesce(rc.n_true_dups, 0) AS BIGINT) AS n_true_dups,
         |  CAST(coalesce(rc.n_caught, 0) AS BIGINT) AS n_caught,
         |  CAST(CASE WHEN coalesce(rc.n_true_dups, 0) = 0 THEN 1000000
         |    ELSE coalesce(rc.n_caught, 0) * 1000000 // rc.n_true_dups
         |    END AS BIGINT) AS recall_ppm
         |FROM wk LEFT JOIN rc USING (cap)""".stripMargin,
    // the 8-epoch crawl simulated from documents, then the running-sum
    // windows and generation arithmetic replayed row for row
    "q312_fold_debt" ->
      s"""WITH eps AS (SELECT CAST(doc_id % 8 AS BIGINT) AS epoch,
         |    CAST(count(*) AS BIGINT) AS batch_rows,
         |    CAST(coalesce(sum(CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END),
         |      0) AS BIGINT) AS erase_rows
         |  FROM documents GROUP BY 1),
         |w AS (SELECT epoch, batch_rows, erase_rows,
         |    CAST(sum(batch_rows - erase_rows) OVER (ORDER BY epoch
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS BIGINT) AS live_rows
         |  FROM eps),
         |d AS (SELECT epoch, batch_rows, erase_rows, live_rows,
         |    CAST(${graft.llm.FoldDebt.DefaultDepthUnitPpm}
         |      + batch_rows * 1000000 // greatest(live_rows, 1)
         |      + ${graft.llm.FoldDebt.DefaultTombWeight}
         |        * (erase_rows * 1000000 // greatest(live_rows, 1))
         |      AS BIGINT) AS debt_ppm,
         |    CAST(erase_rows * 1000000 // greatest(live_rows, 1)
         |      AS BIGINT) AS tomb_ppm
         |  FROM w),
         |c AS (SELECT epoch, batch_rows, erase_rows, live_rows, debt_ppm,
         |    CAST(sum(debt_ppm) OVER (ORDER BY epoch
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS BIGINT) AS cum_debt_ppm,
         |    CAST(sum(tomb_ppm) OVER (ORDER BY epoch
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS BIGINT) AS cum_tomb_ppm
         |  FROM d),
         |g AS (SELECT *,
         |    CAST(cum_debt_ppm // ${graft.llm.FoldDebt.DefaultDebtBudgetPpm}
         |      AS BIGINT) AS debt_gen,
         |    CAST(cum_tomb_ppm // ${graft.llm.FoldDebt.DefaultTombBudgetPpm}
         |      AS BIGINT) AS tomb_gen
         |  FROM c)
         |SELECT epoch, batch_rows, erase_rows, live_rows, debt_ppm,
         |  cum_debt_ppm, debt_gen, cum_tomb_ppm, tomb_gen,
         |  CASE WHEN tomb_gen > lag(tomb_gen, 1, CAST(0 AS BIGINT))
         |      OVER (ORDER BY epoch) THEN 'rebuild'
         |    WHEN debt_gen > lag(debt_gen, 1, CAST(0 AS BIGINT))
         |      OVER (ORDER BY epoch) THEN 'checkpoint'
         |    ELSE 'fold' END AS action,
         |  CAST(row_number() OVER (PARTITION BY debt_gen, tomb_gen
         |    ORDER BY epoch) AS BIGINT) AS chain_depth
         |FROM g""".stripMargin,
    // the ONE truth is the full rebuild over the post-erase corpus
    // (doc_id % CompactEraseMod != 5; the chain's base ∪ arrival
    // slices cover every doc) — BOTH the chain-served and the
    // compacted columns must equal it per doc over both serving
    // frames, and agree pins to literal true: a compaction that
    // dropped a band row, leaked an erased doc, or rewrote a shingle
    // set hash-fails
    "q315_compact_serve" ->
      s"""WITH $minhashCtes,
         |cb AS (SELECT doc_id, band_id, band_key FROM (
         |    SELECT doc_id, band_id, band_key,
         |      count(*) OVER (PARTITION BY band_id, band_key) AS bc
         |    FROM bands WHERE doc_id % $CompactEraseMod != 5) t
         |  WHERE bc <= $AdmitCap),
         |bd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(('0x' || substr(md5(concat_ws(chr(1),
         |      CAST(band_id AS VARCHAR), band_key)), 1, 8))::BIGINT)
         |      % ${graft.llm.Sketches.ChecksumMod} AS BIGINT) AS ck
         |  FROM cb GROUP BY doc_id),
         |st AS (SELECT doc_id, CAST(len(s) AS BIGINT) AS n_ints,
         |    CAST(list_sum(s) % $SetCkMod AS BIGINT) AS s_ck
         |  FROM sets WHERE doc_id % $CompactEraseMod != 5)
         |SELECT st.doc_id,
         |  st.n_ints AS n_ints_served, st.s_ck AS s_ck_served,
         |  CAST(coalesce(bd.n, 0) AS BIGINT) AS n_served,
         |  CAST(coalesce(bd.ck, 0) AS BIGINT) AS ck_served,
         |  st.n_ints AS n_ints_compact, st.s_ck AS s_ck_compact,
         |  CAST(coalesce(bd.n, 0) AS BIGINT) AS n_compact,
         |  CAST(coalesce(bd.ck, 0) AS BIGINT) AS ck_compact,
         |  true AS agree
         |FROM st LEFT JOIN bd USING (doc_id)""".stripMargin,
    // the shared bands CTE sliced into corpus/batch sides, candidate
    // counts per arrival, clean arrivals at zero
    "q194_incremental_neardup" ->
      s"""WITH $minhashCtes,
         |cb AS (SELECT doc_id AS corpus_doc, band_id, band_key FROM bands
         |  WHERE doc_id % 10 != 0),
         |bb AS (SELECT doc_id, band_id, band_key FROM bands
         |  WHERE doc_id % 10 = 0),
         |c AS (SELECT bb.doc_id,
         |    CAST(count(DISTINCT cb.corpus_doc) AS BIGINT) AS n_candidates
         |  FROM bb JOIN cb USING (band_id, band_key) GROUP BY bb.doc_id)
         |SELECT d.doc_id,
         |  CAST(coalesce(c.n_candidates, 0) AS BIGINT) AS n_candidates,
         |  coalesce(c.n_candidates, 0) > 0 AS likely_dup
         |FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 0) d
         |LEFT JOIN c USING (doc_id)""".stripMargin,
    // q38's closure + token counts: raw, representative-only, and
    // 1/cluster_size-weighted ppm-token budgets per source
    "q191_dedup_budget" ->
      s"""WITH cl AS ($q38Sql),
         |tk AS (SELECT doc_id, source, CAST(len($toksSql) AS BIGINT) AS n_tok
         |  FROM documents),
         |sz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS csz,
         |    min(doc_id) AS rep FROM cl GROUP BY cluster_id),
         |j AS (SELECT tk.source, tk.n_tok, cl.doc_id, sz.csz, sz.rep
         |  FROM tk JOIN cl USING (doc_id) JOIN sz USING (cluster_id))
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
         |  CAST(sum(CASE WHEN doc_id = rep THEN n_tok ELSE 0 END) AS BIGINT)
         |    AS rep_tokens,
         |  CAST(sum(n_tok * 1000000 // csz) AS BIGINT) AS weighted_tokens_ppm
         |FROM j GROUP BY source""".stripMargin,
    // q38's closure + both split keyings, straddle counts per scheme
    "q190_cluster_split" -> {
      def schemeSql(keyExpr: String, label: String): String =
        s"""SELECT '$label' AS scheme, CAST(count(*) AS BIGINT) AS n_clusters,
           |  CAST(sum(nd) AS BIGINT) AS n_docs,
           |  CAST(sum(CASE WHEN nsp > 1 THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_straddling_clusters,
           |  CAST(sum(CASE WHEN nsp > 1 THEN nd ELSE 0 END) AS BIGINT)
           |    AS n_straddling_docs
           |FROM (SELECT cluster_id, CAST(count(DISTINCT split) AS BIGINT) AS nsp,
           |    CAST(count(*) AS BIGINT) AS nd
           |  FROM (SELECT cluster_id, CASE
           |      WHEN ('0x' || substr(md5($keyExpr), 1, 8))::BIGINT % 100
           |        < $LeakTrainPct THEN 'train'
           |      WHEN ('0x' || substr(md5($keyExpr), 1, 8))::BIGINT % 100
           |        < ${LeakTrainPct + LeakValPct} THEN 'val'
           |      ELSE 'test' END AS split FROM cl) y
           |  GROUP BY cluster_id) z""".stripMargin
      s"""WITH cl AS ($q38Sql)
         |${schemeSql("CAST(doc_id AS VARCHAR)", "by_doc_id")}
         |UNION ALL
         |${schemeSql("CAST(cluster_id AS VARCHAR)", "by_cluster")}""".stripMargin
    },
    // q23's ranking replay with the null-safe cross-label exclusion
    "q183_hard_negatives" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe, label AS ql
         |  FROM embeddings WHERE vec_id < $NumQueryVecs),
         |scored AS (SELECT query_id, e.vec_id, $dotSql AS dot_fp
         |  FROM q CROSS JOIN
         |    (SELECT vec_id, embedding AS ce, label AS cl FROM embeddings) e
         |  WHERE q.ql IS DISTINCT FROM e.cl),
         |ranked AS (SELECT query_id, vec_id, dot_fp,
         |  row_number() OVER (PARTITION BY query_id ORDER BY dot_fp DESC, vec_id) AS rn
         |  FROM scored)
         |SELECT query_id, vec_id, dot_fp, CAST(rn AS INTEGER) AS rn
         |FROM ranked WHERE rn <= $TopK""".stripMargin,
    // q147's centroid CTE + integer squared distances, stats and the
    // k×mean threshold count replayed per label
    "q182_embedding_outliers" ->
      s"""WITH $centCteSql,
         |v AS (SELECT vec_id, label, i AS dim,
         |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT) AS xq
         |  FROM embeddings, unnest(range(1, $Dim + 1)) AS u(i)),
         |dd AS (SELECT v.vec_id, v.label,
         |    CAST(sum((xq - cf) * (xq - cf)) AS BIGINT) AS dist2
         |  FROM v JOIN c ON v.label = c.label AND v.dim = c.dim
         |  GROUP BY v.vec_id, v.label),
         |st AS (SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
         |    CAST(sum(dist2) // count(*) AS BIGINT) AS mean_dist2,
         |    CAST(max(dist2) AS BIGINT) AS max_dist2 FROM dd GROUP BY label)
         |SELECT st.label, st.n_vecs, st.mean_dist2, st.max_dist2,
         |  CAST(sum(CASE WHEN dd.dist2 > $OutlierK * st.mean_dist2
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
         |FROM dd JOIN st ON dd.label = st.label
         |GROUP BY st.label, st.n_vecs, st.mean_dist2, st.max_dist2""".stripMargin,
    "q67_semantic_dedup" -> q67Sql,
    "q72_cluster_best"  -> q72Sql,
    "q135_survivorship" -> q135Sql,
    "q136_temporal_dedup" -> q136Sql,
    "q75_embed_quantize" -> q75Sql,
    // both audited pair generators embedded verbatim, overlapped
    "q154_detector_agreement" ->
      s"""WITH mh AS (SELECT doc_a, doc_b FROM ($q21Sql) qq),
         |sh AS (SELECT doc_a, doc_b FROM (${LlmQueries.q31Sql}) ss),
         |j AS (SELECT mh.doc_a IS NOT NULL AS m, sh.doc_a IS NOT NULL AS h
         |  FROM mh FULL OUTER JOIN sh
         |    ON mh.doc_a = sh.doc_a AND mh.doc_b = sh.doc_b)
         |SELECT CAST(sum(CASE WHEN m THEN 1 ELSE 0 END) AS BIGINT) AS n_minhash,
         |  CAST(sum(CASE WHEN h THEN 1 ELSE 0 END) AS BIGINT) AS n_simhash,
         |  CAST(sum(CASE WHEN m AND h THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
         |  CAST(sum(CASE WHEN m AND NOT h THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_minhash_only,
         |  CAST(sum(CASE WHEN h AND NOT m THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_simhash_only
         |FROM j""".stripMargin,
    // q38's recursive closure aggregated twice: labels → sizes →
    // histogram
    "q151_cluster_sizes" ->
      s"""WITH cl AS ($q38Sql),
         |sz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS sz
         |  FROM cl GROUP BY cluster_id)
         |SELECT sz AS cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
         |  CAST(sum(sz) AS BIGINT) AS n_docs,
         |  CAST(sum(sz - 1) AS BIGINT) AS n_redundant
         |FROM sz GROUP BY sz""".stripMargin,
    // the q21 pair chain thresholded, the recursive closure, the
    // per-cluster edge rollup, and the integer density all replayed
    "q304_cluster_cohesion" ->
      s"""WITH cl AS ($q38Sql),
         |pj AS (SELECT doc_a, doc_b, jaccard_fp FROM ($q21Sql) q
         |  WHERE jaccard_fp >= $ClusterMinJaccardFp),
         |es AS (SELECT cl.cluster_id, CAST(count(*) AS BIGINT) AS n_edges,
         |    CAST(min(pj.jaccard_fp) AS BIGINT) AS min_link_jfp
         |  FROM pj JOIN cl ON pj.doc_a = cl.doc_id GROUP BY 1),
         |sz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_docs
         |  FROM cl GROUP BY cluster_id)
         |SELECT sz.cluster_id, sz.n_docs, es.n_edges,
         |  CAST(CAST(es.n_edges AS HUGEINT) * 2000000
         |    // (CAST(sz.n_docs AS HUGEINT) * (sz.n_docs - 1)) AS BIGINT)
         |    AS density_ppm,
         |  (es.n_edges = sz.n_docs - 1) AS is_tree,
         |  es.min_link_jfp
         |FROM sz JOIN es USING (cluster_id)
         |WHERE sz.n_docs >= 2""".stripMargin,
    // centroid floor-division, dot, norms, and the sqrt-scored cosine
    // all replayed in the same arithmetic order
    "q147_label_cosine" ->
      s"""WITH $centCteSql,
         |n AS (SELECT label, CAST(sum(cf * cf) AS BIGINT) AS nrm
         |  FROM c GROUP BY label),
         |d AS (SELECT a.label AS label_a, b.label AS label_b,
         |    CAST(sum(a.cf * b.cf) AS BIGINT) AS dot
         |  FROM c a JOIN c b ON a.dim = b.dim AND a.label < b.label
         |  GROUP BY 1, 2)
         |SELECT label_a, label_b,
         |  CAST(floor(1000000.0 * CAST(dot AS DOUBLE)
         |    / (sqrt(CAST(na.nrm AS DOUBLE)) * sqrt(CAST(nb.nrm AS DOUBLE))))
         |    AS BIGINT) AS cos_fp
         |FROM d JOIN n na ON na.label = d.label_a
         |JOIN n nb ON nb.label = d.label_b""".stripMargin,
    // both rankings replayed: projected L2 over the embedded weight
    // literals vs the exact dot_fp baseline, intersected per query
    // q164's window pair generator feeding q21's list_intersect
    // Jaccard replay — `sets` comes from the shared minhash CTEs
    "q171_snm_verified" ->
      s"""WITH $minhashCtes,
         |nb AS (SELECT doc_id,
         |    trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS k
         |  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL),
         |r AS (SELECT doc_id, k, substr(k, 1, 4) AS block,
         |    row_number() OVER (PARTITION BY substr(k, 1, 4)
         |      ORDER BY k, doc_id) AS rn FROM nb),
         |pairs AS (SELECT least(a.doc_id, c.doc_id) AS doc_a,
         |    greatest(a.doc_id, c.doc_id) AS doc_b
         |  FROM r a JOIN r c
         |    ON a.block = c.block AND c.rn - a.rn BETWEEN 1 AND 2)
         |${jaccardSelect("doc_a", "doc_b")}""".stripMargin,
    "q168_embedding_coverage" ->
      """SELECT CASE WHEN doc_id IS NULL THEN '(orphan_vectors)'
        |    ELSE coalesce(source, '(null_source)') END AS source,
        |  CAST(count(doc_id) AS BIGINT) AS n_docs,
        |  CAST(count(vec_id) AS BIGINT) AS n_vecs,
        |  CAST(CASE WHEN count(doc_id) > 0
        |    THEN count(vec_id) * 1000000 // count(doc_id)
        |    ELSE 0 END AS BIGINT) AS coverage_ppm
        |FROM documents d FULL OUTER JOIN embeddings e
        |  ON d.doc_id = e.vec_id
        |GROUP BY CASE WHEN doc_id IS NULL THEN '(orphan_vectors)'
        |    ELSE coalesce(source, '(null_source)') END
        |ORDER BY source""".stripMargin,
    // prefix-dot dot_fp replay per truncation depth; exact baseline,
    // ranked lists, hits and the query spine mirror recallAtK
    "q166_matryoshka_recall" -> {
      def prefixDot(d: Int) =
        s"""CAST(list_sum(list_transform(range(1, $d + 1),
           |  i -> CAST(floor(CAST(qe[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE) * 1000000.0) AS BIGINT)))
           |  AS BIGINT)""".stripMargin
      val perDim = Seq(32, 16, 8).map { d =>
        s"""SELECT 'mrl_$d' AS method, query_id, vec_id FROM (
           |  SELECT query_id, c.vec_id, row_number() OVER (
           |      PARTITION BY query_id ORDER BY ${prefixDot(d)} DESC, c.vec_id) AS rn
           |    FROM q CROSS JOIN c) r WHERE rn <= $AnnK""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings
         |  WHERE vec_id < $NumQueryVecs),
         |c AS (SELECT vec_id, embedding AS ce FROM embeddings),
         |scored AS (SELECT query_id, c.vec_id, $dotSql AS dot_fp
         |  FROM q CROSS JOIN c),
         |ex AS (SELECT query_id, vec_id FROM (SELECT query_id, vec_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY dot_fp DESC, vec_id) AS rn
         |  FROM scored) r WHERE rn <= $AnnK),
         |ap AS ($perDim),
         |hits AS (SELECT method, ap.query_id, CAST(count(*) AS BIGINT) AS hits
         |  FROM ap JOIN ex ON ap.query_id = ex.query_id AND ap.vec_id = ex.vec_id
         |  GROUP BY method, ap.query_id),
         |spine AS (SELECT m.method, s.query_id
         |  FROM (SELECT DISTINCT query_id FROM ex) s
         |  CROSS JOIN (VALUES ('mrl_32'), ('mrl_16'), ('mrl_8')) m(method))
         |SELECT spine.method, spine.query_id,
         |  coalesce(hits.hits, 0) AS hits,
         |  CAST(coalesce(hits.hits, 0) * 1000000 // $AnnK AS BIGINT) AS recall_ppm
         |FROM spine LEFT JOIN hits
         |  ON spine.method = hits.method AND spine.query_id = hits.query_id""".stripMargin
    },
    // one scored pass, argmax per (anchor, same-label?) side, the
    // -1/0 missing-side convention, margin from the coalesced dots
    "q211_triplet_margin" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe, label AS qlab
         |  FROM embeddings WHERE vec_id < $NumQueryVecs),
         |scored AS (SELECT query_id, qlab, e.vec_id, e.label AS clab,
         |    $dotSql AS dot_fp, (e.label = q.qlab) AS same
         |  FROM q CROSS JOIN
         |    (SELECT vec_id, embedding AS ce, label FROM embeddings) e
         |  WHERE e.vec_id <> q.query_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY query_id, same
         |    ORDER BY dot_fp DESC, vec_id) AS rn FROM scored),
         |b AS (SELECT query_id,
         |    max(CASE WHEN same THEN vec_id END) AS pid,
         |    max(CASE WHEN same THEN dot_fp END) AS pd,
         |    max(CASE WHEN NOT same THEN vec_id END) AS nid,
         |    max(CASE WHEN NOT same THEN dot_fp END) AS nd
         |  FROM r WHERE rn = 1 GROUP BY 1)
         |SELECT query_id,
         |  CAST(coalesce(pid, -1) AS BIGINT) AS pos_id,
         |  CAST(coalesce(pd, 0) AS BIGINT) AS pos_dot_fp,
         |  CAST(coalesce(nid, -1) AS BIGINT) AS neg_id,
         |  CAST(coalesce(nd, 0) AS BIGINT) AS neg_dot_fp,
         |  CAST(coalesce(pd, 0) - coalesce(nd, 0) AS BIGINT) AS margin_fp
         |FROM b""".stripMargin,
    // q147's centroid/norm/sqrt spelling per (source, split); dot
    // joins train×test on (source, dim); inner joins drop one-sided
    // sources in both engines identically
    "q217_split_drift" ->
      s"""WITH spl AS (SELECT vec_id,
         |    CASE WHEN ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT
         |        % 100 < $LeakTrainPct THEN 'train'
         |      WHEN ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT
         |        % 100 < ${LeakTrainPct + LeakValPct} THEN 'val'
         |      ELSE 'test' END AS split
         |  FROM embeddings),
         |j AS (SELECT e.vec_id, coalesce(d.source, '(null)') AS source,
         |    spl.split, e.embedding
         |  FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
         |  JOIN spl ON e.vec_id = spl.vec_id
         |  WHERE spl.split <> 'val'),
         |c AS (SELECT source, split, i AS dim,
         |    CAST(floor(CAST(sum(CAST(floor(CAST(embedding[i] AS DOUBLE)
         |        * 1000000.0) AS BIGINT)) AS DOUBLE)
         |      / CAST(count(*) AS DOUBLE)) AS BIGINT) AS cf
         |  FROM j, unnest(range(1, $Dim + 1)) AS u(i)
         |  GROUP BY source, split, i),
         |nr AS (SELECT source, split, CAST(sum(cf * cf) AS BIGINT) AS nrm
         |  FROM c GROUP BY 1, 2),
         |dd AS (SELECT a.source, CAST(sum(a.cf * b.cf) AS BIGINT) AS dot
         |  FROM c a JOIN c b ON a.source = b.source AND a.dim = b.dim
         |  WHERE a.split = 'train' AND b.split = 'test'
         |  GROUP BY 1),
         |cn AS (SELECT coalesce(d.source, '(null)') AS source, spl.split,
         |    CAST(count(*) AS BIGINT) AS n
         |  FROM documents d JOIN spl ON d.doc_id = spl.vec_id
         |  GROUP BY 1, 2)
         |SELECT dd.source, ntr.n AS n_train, nte.n AS n_test,
         |  CAST(floor(1000000.0 * CAST(dot AS DOUBLE)
         |    / (sqrt(CAST(na.nrm AS DOUBLE)) * sqrt(CAST(nb.nrm AS DOUBLE))))
         |    AS BIGINT) AS cos_fp
         |FROM dd
         |JOIN nr na ON na.source = dd.source AND na.split = 'train'
         |JOIN nr nb ON nb.source = dd.source AND nb.split = 'test'
         |JOIN cn ntr ON ntr.source = dd.source AND ntr.split = 'train'
         |JOIN cn nte ON nte.source = dd.source AND nte.split = 'test'""".stripMargin,
    // q66's probe/score/rank chain once per nProbe over ONE trained
    // assignment; q166's exact-baseline + spine + hits tail
    "q215_probe_sweep" -> q215Sql,
    // the loaded-codebook sweep is byte-identical by codebook
    // determinism ⇒ shares the oracle (the q176/q92 precedent)
    "q225_probe_sweep_loaded" -> q215Sql,
    // the trained assignment CTE chain (q125's spelling) joined to
    // documents.lang; per-cell majority with the (n desc, lang) tie
    "q212_cell_lang_alignment" ->
      s"""WITH $kmPrefixSql,
         |j AS (SELECT af.cell, coalesce(d.lang, '(null)') AS lang
         |  FROM af JOIN documents d ON af.vec_id = d.doc_id),
         |g AS (SELECT cell, lang, CAST(count(*) AS BIGINT) AS n
         |  FROM j GROUP BY 1, 2),
         |t AS (SELECT cell, CAST(sum(n) AS BIGINT) AS n_vecs FROM g GROUP BY 1),
         |m AS (SELECT cell, lang AS top_lang, n AS top_n FROM (
         |    SELECT cell, lang, n, row_number() OVER (PARTITION BY cell
         |      ORDER BY n DESC, lang ASC) AS rn FROM g) x WHERE rn = 1)
         |SELECT CAST(m.cell AS INTEGER) AS cell, t.n_vecs, m.top_lang,
         |  CAST(m.top_n AS BIGINT) AS top_n,
         |  CAST(CAST(m.top_n AS HUGEINT) * 1000000
         |    // greatest(t.n_vecs, 1) AS BIGINT) AS purity_ppm
         |FROM t JOIN m USING (cell)""".stripMargin,
    // self excluded by ID before ranking; min same-label rank within
    // TopK; integer reciprocal ppm
    "q208_first_relevant" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe, label AS qlab
         |  FROM embeddings WHERE vec_id < $NumQueryVecs),
         |scored AS (SELECT query_id, qlab, e.vec_id, e.label AS clab,
         |    $dotSql AS dot_fp
         |  FROM q CROSS JOIN
         |    (SELECT vec_id, embedding AS ce, label FROM embeddings) e
         |  WHERE e.vec_id <> q.query_id),
         |r AS (SELECT query_id, qlab, vec_id, clab,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY dot_fp DESC, vec_id) AS rnk FROM scored),
         |fr AS (SELECT query_id, CAST(min(rnk) AS BIGINT) AS frr FROM r
         |  WHERE rnk <= $TopK AND clab = qlab GROUP BY 1)
         |SELECT e.vec_id AS query_id, e.label,
         |  CAST(coalesce(fr.frr, 0) AS BIGINT) AS first_rel_rank,
         |  CAST(CASE WHEN coalesce(fr.frr, 0) = 0 THEN 0
         |    ELSE 1000000 // fr.frr END AS BIGINT) AS rr_ppm
         |FROM embeddings e LEFT JOIN fr ON e.vec_id = fr.query_id
         |WHERE e.vec_id < $NumQueryVecs""".stripMargin,
    // the packed sign word replayed two's-complement-exactly (bit 63
    // as the explicit Long minimum), Hamming rank, q143's recall tail
    "q206_binary_recall" -> {
      val word =
        s"""CAST(list_sum(list_transform(range(1, ${Dim + 1}),
           |  i -> CASE WHEN embedding[i] > 0 THEN
           |    CASE WHEN i = $Dim THEN (-9223372036854775807 - 1)
           |    ELSE (1::BIGINT << (i - 1)) END
           |  ELSE 0 END)) AS BIGINT)""".stripMargin
      s"""WITH wb AS (SELECT vec_id, $word AS w FROM embeddings),
         |q AS (SELECT vec_id AS query_id, w AS qw FROM wb
         |  WHERE vec_id < $NumQueryVecs),
         |sc AS (SELECT query_id, wb.vec_id,
         |    bit_count(xor(qw, wb.w)) AS ham FROM q CROSS JOIN wb),
         |pr AS (SELECT query_id, vec_id, row_number() OVER (
         |    PARTITION BY query_id ORDER BY ham ASC, vec_id) AS rn FROM sc),
         |qe2 AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings
         |  WHERE vec_id < $NumQueryVecs),
         |scored AS (SELECT query_id, e.vec_id, $dotSql AS dot_fp
         |  FROM qe2 CROSS JOIN (SELECT vec_id, embedding AS ce FROM embeddings) e),
         |ex AS (SELECT query_id, vec_id FROM (SELECT query_id, vec_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY dot_fp DESC, vec_id) AS rn
         |  FROM scored) r WHERE rn <= $AnnK),
         |hits AS (SELECT pr.query_id, CAST(count(*) AS BIGINT) AS hits
         |  FROM pr JOIN ex ON pr.query_id = ex.query_id AND pr.vec_id = ex.vec_id
         |  WHERE pr.rn <= $AnnK GROUP BY pr.query_id)
         |SELECT 'sign_bits' AS method, s.query_id,
         |  coalesce(hits.hits, 0) AS hits,
         |  CAST(coalesce(hits.hits, 0) * 1000000 // $AnnK AS BIGINT) AS recall_ppm
         |FROM (SELECT DISTINCT query_id FROM ex) s
         |LEFT JOIN hits USING (query_id)""".stripMargin
    },
    "q143_projected_recall" -> {
      val projList = Similarity.planeWeights(Dim).map { w =>
        val lst = w.map(v => s"${v.toDouble}").mkString("[", ", ", "]")
        s"""CAST(list_sum(list_transform(range(1, len(embedding) + 1),
           |  i -> CAST(floor(CAST(embedding[i] AS DOUBLE) * ($lst)[i] * 1000000.0) AS BIGINT)))
           |  AS BIGINT)""".stripMargin
      }.mkString("[", ", ", "]")
      val dist = (1 to Similarity.NumPlanes).map(p =>
        s"(q.pq[$p] - pv.pv[$p]) * (q.pq[$p] - pv.pv[$p])").mkString(" + ")
      s"""WITH pv AS (SELECT vec_id, $projList AS pv FROM embeddings),
         |q AS (SELECT vec_id AS query_id, pv AS pq FROM pv
         |  WHERE vec_id < $NumQueryVecs),
         |sc AS (SELECT query_id, pv.vec_id, $dist AS dist2 FROM q CROSS JOIN pv),
         |pr AS (SELECT query_id, vec_id, row_number() OVER (
         |    PARTITION BY query_id ORDER BY dist2 ASC, vec_id) AS rn FROM sc),
         |qe2 AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings
         |  WHERE vec_id < $NumQueryVecs),
         |scored AS (SELECT query_id, e.vec_id, $dotSql AS dot_fp
         |  FROM qe2 CROSS JOIN (SELECT vec_id, embedding AS ce FROM embeddings) e),
         |ex AS (SELECT query_id, vec_id FROM (SELECT query_id, vec_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY dot_fp DESC, vec_id) AS rn
         |  FROM scored) r WHERE rn <= $AnnK),
         |hits AS (SELECT pr.query_id, CAST(count(*) AS BIGINT) AS hits
         |  FROM pr JOIN ex ON pr.query_id = ex.query_id AND pr.vec_id = ex.vec_id
         |  WHERE pr.rn <= $AnnK GROUP BY pr.query_id)
         |SELECT 'jl_proj' AS method, s.query_id,
         |  coalesce(hits.hits, 0) AS hits,
         |  CAST(coalesce(hits.hits, 0) * 1000000 // $AnnK AS BIGINT) AS recall_ppm
         |FROM (SELECT DISTINCT query_id FROM ex) s
         |LEFT JOIN hits USING (query_id)""".stripMargin
    },
    // the identical 8×64 integer weight matrix as literals; per-element
    // floor(x·w·10⁶) sums replay dot_fp exactly
    "q142_random_projection" -> {
      val wm = Similarity.planeWeights(Dim).zipWithIndex.flatMap {
        case (w, j) => w.zipWithIndex.map { case (v, i) =>
          s"($j, ${i + 1}, ${v.toDouble})"
        }
      }.mkString(", ")
      s"""WITH wm(j, i, w) AS (VALUES $wm),
         |e AS (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
         |  FROM embeddings, unnest(range(1, $Dim + 1)) AS u(i)),
         |p AS (SELECT vec_id, wm.j AS proj_dim,
         |    CAST(sum(CAST(floor(x * wm.w * 1000000.0) AS BIGINT)) AS BIGINT)
         |      AS proj_fp
         |  FROM e JOIN wm ON e.i = wm.i GROUP BY 1, 2)
         |SELECT vec_id, CAST(proj_dim AS INTEGER) AS proj_dim, proj_fp FROM p""".stripMargin
    },
    "q46_embed_stats" ->
      s"""SELECT label, CAST(i - 1 AS INTEGER) AS dim, count(*) AS n,
         |  CAST(sum(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT))
         |    AS BIGINT) AS sum_fp
         |FROM embeddings, unnest(range(1, $CentroidDims + 1)) AS u(i)
         |GROUP BY label, i""".stripMargin,
  )
}
