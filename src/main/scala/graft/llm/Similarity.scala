package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Vector similarity search over `array<float>` embedding columns.
  *
  * Determinism: scores are per-element fixed-point —
  * `floor(a[i]*b[i]*1e6)` per dimension, then an integer sum — so the
  * result is associative and identical under any partitioning or
  * evaluation order (a plain float dot product differs in the last ulp
  * between engines and between shuffle layouts).
  *
  * Scale paths:
  *  - [[bruteForceTopK]]: broadcast the (small) query set against the
  *    full corpus — exact, one scan, no shuffle of the corpus; right
  *    when |queries| is small.
  *  - [[annTopK]]: sign-random-projection LSH — each vector gets an
  *    8-bit bucket from the signs of 8 fixed hyperplane projections;
  *    search joins on bucket equality, so the corpus is shuffled once
  *    by a 1-byte key and only same-bucket candidates are scored.
  *    Recall < 1 by construction; widen with multi-probe (flip one
  *    sign bit) if needed.
  */
object Similarity {

  /** Associative fixed-point dot product of two array<float> columns —
    * engine-portable higher-order-function form (used where the
    * session may not have graft functions registered; the DuckDB
    * oracle mirrors this arithmetic exactly). */
  def dotFpExpr(a: String, b: String): Column =
    expr(
      s"""cast(aggregate(zip_with($a, $b,
         |  (x, y) -> cast(floor(cast(x as double) * cast(y as double) * 1000000.0) as bigint)),
         |  0L, (acc, v) -> acc + v) as bigint)""".stripMargin)

  /** Same arithmetic as a native codegen expression ([[expressions.DotFpExpr]])
    * — the hot-path form used by the top-k operators. Requires
    * [[graft.GraftExtensions.ensure]] (done by the operators themselves). */
  def dotFpNative(a: String, b: String): Column = expr(s"dot_fp($a, $b)")

  /** Deterministic integer hyperplanes for the sign-LSH bucketing —
    * weights in [-3, 3] from a splitmix-style avalanche over
    * (plane, dim). Exposed so the DuckDB oracle can embed the
    * identical literals.
    *
    * The mix matters: the obvious LCG `(p·dim+i)·1103515245 + 12345`
    * is DEGENERATE here because 1103515245 ≡ 0 (mod 7) — every weight
    * collapses to the same value, all 8 planes become identical, and
    * the "8-bit" bucket takes only 2 values (so the bucket join scores
    * half the corpus per query). The multiply-xor-shift avalanche
    * below decorrelates the planes properly; `PlaneSpreadSpec`-style
    * assertions in SimilaritySpec guard the distribution. */
  val NumPlanes = 8
  def planeWeights(dim: Int): Seq[Seq[Int]] =
    (0 until NumPlanes).map { p =>
      (0 until dim).map { i =>
        var h = p.toLong * 0x9E3779B97F4A7C15L +
          i.toLong * 0xC2B2AE3D27D4EB4FL + 0x165667B19E3779F9L
        h ^= (h >>> 33); h *= 0xFF51AFD7ED558CCDL; h ^= (h >>> 33)
        ((h % 7 + 7) % 7 - 3).toInt
      }
    }

  /** 8-bit LSH bucket id of an embedding column: the sign pattern of
    * the fixed-point projections onto the 8 hyperplanes, computed by
    * the native `lsh_bucket` expression ([[expressions.LshBucketExpr]])
    * — ONE codegen'd pass over the array instead of 8 `dot_fp`
    * evaluations against plane literals (requires
    * [[graft.GraftExtensions.ensure]] on the session — the top-k
    * operators register it themselves). [[bucketExprComposed]] keeps
    * the composed formulation as the semantic cross-check. */
  def bucketExpr(embCol: String, dim: Int): Column =
    expr(s"lsh_bucket($embCol, $dim)")

  /** The 8×`dot_fp` composition `lsh_bucket` replaces — retained
    * because SimilaritySpec asserts the two agree bit-for-bit (and the
    * DuckDB oracles replay THIS form literally). */
  def bucketExprComposed(embCol: String, dim: Int): Column =
    planeWeights(dim).zipWithIndex
      .map { case (w, p) =>
        val plane = w.map(v => s"${v.toDouble}D").mkString("array(", ", ", ")")
        when(expr(s"dot_fp($embCol, $plane)") > 0, lit(1L << p)).otherwise(lit(0L))
      }
      .reduce(_ + _)

  /** Two-level exact top-k selection over a scored candidate stream
    * `(query_id: long, vec_id: long, dot_fp: long)` — the shared final
    * stage of every similarity-search operator here and in
    * [[IvfIndex]].
    *
    * A single `row_number() OVER (PARTITION BY query_id ORDER BY ...)`
    * puts ALL of a query's scored candidates into one task's sort —
    * for the brute-force path that is the entire corpus per query, the
    * one plan shape that cannot survive a 100 TB corpus. This is the
    * map-side-combine form instead: a per-partition bounded selection
    * (a k-element heap per query, run inside the scan's own partitions
    * — no exchange sees the full candidate stream) emits at most
    * k rows per (query, input partition); the rank window then runs
    * over that ≤ k·P-row sliver only. Same contract as partial
    * aggregation: global top-k rows are necessarily in their
    * partition's top-k for ANY total order, so results are
    * bit-identical to the naive window — `SimilaritySpec` property-
    * tests the equivalence, ties and all.
    *
    * Ordering matches the oracle exactly: `dot_fp` descending with
    * NULLS LAST (a null score — e.g. a null embedding surviving to the
    * scorer — ranks after every real score), `vec_id` ascending as the
    * tie-break. */
  def topKPerQuery(scored: DataFrame, k: Int,
      maxHeldPerTask: Int = 1 << 18): DataFrame = {
    require(k > 0, "k must be positive")
    require(maxHeldPerTask >= 1, "maxHeldPerTask must be positive")
    val pruned = scored.select(col("query_id"), col("vec_id"), col("dot_fp"))
    val schema = pruned.schema
    val qi = schema.fieldIndex("query_id")
    val vi = schema.fieldIndex("vec_id")
    val di = schema.fieldIndex("dot_fp")
    // "a better than b" ⇔ compare < 0, under the window's total
    // preorder (dot desc NULLS LAST, vec_id asc NULLS FIRST). A
    // PriorityQueue dequeues the Ordering's maximum = the WORST kept
    // row, which is exactly the eviction candidate. Null ids never hit
    // getLong (NPE) — they order like the window ordered them.
    val betterFirst: Ordering[org.apache.spark.sql.Row] =
      new Ordering[org.apache.spark.sql.Row] {
        def compare(a: org.apache.spark.sql.Row, b: org.apache.spark.sql.Row): Int = {
          val an = a.isNullAt(di); val bn = b.isNullAt(di)
          val c =
            if (an && bn) 0
            else if (an) 1
            else if (bn) -1
            else java.lang.Long.compare(b.getLong(di), a.getLong(di))
          if (c != 0) c
          else {
            val anv = a.isNullAt(vi); val bnv = b.isNullAt(vi)
            if (anv && bnv) 0
            else if (anv) -1 // asc NULLS FIRST: null id sorts (ranks) first
            else if (bnv) 1
            else java.lang.Long.compare(a.getLong(vi), b.getLong(vi))
          }
        }
      }
    // Epoch-flush keeps per-task memory bounded when the query set is
    // large (the IVF probe side deliberately supports non-broadcastable
    // query sets): once ~maxHeldPerTask rows are retained across heaps,
    // the epoch's rows are emitted and the heaps reset. Safe because
    // the partial stage only needs to NEVER DROP a row that is in its
    // partition's true top-k: a row evicted within an epoch lost to k
    // better same-epoch rows that are themselves emitted, so it is not
    // in the partition top-k; emitting extra rows only widens the
    // sliver the final window prunes.
    val sliver = pruned.mapPartitions { it =>
      type Heap = scala.collection.mutable.PriorityQueue[org.apache.spark.sql.Row]
      new scala.collection.AbstractIterator[org.apache.spark.sql.Row] {
        private var out: Iterator[org.apache.spark.sql.Row] = Iterator.empty
        private def newHeap(): Heap =
          scala.collection.mutable.PriorityQueue.empty(betterFirst)
        private def refill(): Unit = {
          val heaps = scala.collection.mutable.LongMap.empty[Heap]
          var nullHeap: Heap = null // rows whose query_id is null
          var held = 0L
          while (it.hasNext && held < maxHeldPerTask) {
            val r = it.next()
            val heap =
              if (r.isNullAt(qi)) {
                if (nullHeap == null) nullHeap = newHeap()
                nullHeap
              } else heaps.getOrElseUpdate(r.getLong(qi), newHeap())
            if (heap.size < k) { heap.enqueue(r); held += 1 }
            else if (betterFirst.compare(r, heap.head) < 0) {
              heap.dequeue(); heap.enqueue(r)
            }
          }
          val main = heaps.valuesIterator.flatMap(_.iterator)
          out = if (nullHeap == null) main else main ++ nullHeap.iterator
        }
        def hasNext: Boolean = {
          while (!out.hasNext && it.hasNext) refill()
          out.hasNext
        }
        def next(): org.apache.spark.sql.Row = {
          if (!hasNext) throw new NoSuchElementException("empty iterator")
          out.next()
        }
      }
    }(org.apache.spark.sql.Encoders.row(schema))
    val w = Window.partitionBy(col("query_id")).orderBy(col("dot_fp").desc, col("vec_id"))
    sliver.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
  }

  /** Exact top-k: every query row scored against every candidate row.
    * `queries` must be small — it is broadcast. The per-query
    * selection is two-level ([[topKPerQuery]]): no task ever sorts a
    * query's full candidate list. */
  def bruteForceTopK(queries: DataFrame, candidates: DataFrame, k: Int): DataFrame = {
    graft.GraftExtensions.ensure(queries.sparkSession)
    val q = broadcast(queries.select(col("vec_id").as("query_id"), col("embedding").as("qe")))
    val scored = q.crossJoin(candidates.select(col("vec_id"), col("embedding").as("ce")))
      .select(col("query_id"), col("vec_id"), dotFpNative("qe", "ce").as("dot_fp"))
    topKPerQuery(scored, k)
  }

  /** Approximate top-k: candidates restricted to the query's LSH
    * bucket, then scored exactly. */
  /** Embedding-cosine near-duplicate pairs (unit vectors → dot =
    * cosine): multi-probe sign-LSH — each vector probes its own bucket
    * plus the 8 buckets at Hamming distance 1, candidates sharing a
    * probe are scored exactly with `dot_fp`, and pairs at or above
    * `minDotFp` survive. All-pairs work is confined to buckets
    * (corpus shuffles once on the bucket key; probes only multiply
    * the small exploded key stream by 9, never the payload). */
  /** Canonical probe orientation makes every qualifying pair appear
    * EXACTLY once, which removes three exchanges a naive multi-probe
    * formulation needs (a distinct over the candidate pairs plus two
    * payload join-backs): a pair's buckets are either equal — found
    * only via the identity probe, deduped by id order — or differ in
    * exactly one bit — generated only from the LOWER bucket's side
    * (probes keep a flipped value only when it exceeds the own
    * bucket). Scoring then runs inside the join's output stage; the
    * only shuffle is the bucket equi-join of skinny probe rows, and
    * dense buckets (the skew risk) cost dot products, never extra
    * exchanges. */
  /** `maxBucketSize` is the 100 TB skew guard (the embedding twin of
    * MinHashLSH's cap, q49): vectors whose OWN bucket holds more than
    * the cap are removed from the graph entirely — both as probe
    * sources and as join targets — BEFORE any pair expansion, so a
    * boilerplate embedding (a default vector emitted by a broken
    * encoder, all-zeros, …) costs one count, never m² dot products.
    * Bucket counts are a ≤256-row aggregate joined back broadcast;
    * the default cap disables the guard. */
  def embeddingNearDupPairs(vectors: DataFrame, minDotFp: Long, dim: Int,
      maxBucketSize: Int = Int.MaxValue): DataFrame = {
    graft.GraftExtensions.ensure(vectors.sparkSession)
    require(maxBucketSize >= 2, "maxBucketSize < 2 can never emit a pair")
    def base = vectors.select(col("vec_id"), col("embedding"),
      bucketExpr("embedding", dim).as("bucket"))
    def b =
      if (maxBucketSize == Int.MaxValue) base
      else {
        // ≤ 2^NumPlanes rows — broadcast back; survivors only
        val sizes = base.groupBy(col("bucket")).agg(count(lit(1)).as("__bc"))
          .filter(col("__bc") <= maxBucketSize)
        base.join(broadcast(sizes.select(col("bucket"))), "bucket")
          .select(col("vec_id"), col("embedding"), col("bucket"))
      }
    val probes = b.select(col("vec_id").as("ia"), col("embedding").as("ea"),
      col("bucket").as("ba"),
      explode(expr(
        s"""filter(transform(sequence(0, $NumPlanes),
           |  j -> CASE WHEN j = 0 THEN bucket
           |       ELSE bucket ^ shiftleft(cast(1 as bigint), j - 1) END),
           |  p -> p >= bucket)""".stripMargin)).as("probe"))
    probes
      .join(b.select(col("vec_id").as("ib"), col("embedding").as("eb"), col("bucket")),
        col("probe") === col("bucket") &&
          (col("ba") =!= col("bucket") || col("ia") < col("ib")))
      .select(least(col("ia"), col("ib")).as("vec_a"),
        greatest(col("ia"), col("ib")).as("vec_b"),
        dotFpNative("ea", "eb").as("dot_fp"))
      .filter(col("dot_fp") >= minDotFp)
  }

  /** kNN label transfer — the semi-supervised labeling primitive:
    * every `held` vector takes the majority label of its `k` nearest
    * `seeds` (exact cosine through [[bruteForceTopK]]'s audited
    * two-level top-k), ties broken deterministically by
    * (votes desc, label asc). One row per held vector:
    * `(vec_id, true_label, pred_label, top_votes, correct)` — the
    * held side's own labels grade the transfer. The brute-force arm
    * is the exact-truth pricing; at corpus scale the same vote runs
    * over the shipped ANN index's neighbor lists instead. */
  def labelTransfer(held: DataFrame, seeds: DataFrame, k: Int): DataFrame = {
    val nn = bruteForceTopK(
      held.select(col("vec_id"), col("embedding")), seeds, k)
    nn.join(seeds.select(col("vec_id"), col("label").as("nb_label")),
        Seq("vec_id"))
      .groupBy(col("query_id"), col("nb_label"))
      .agg(count(lit(1)).as("nv"))
      .groupBy(col("query_id"))
      .agg(
        min_by(col("nb_label"), struct((col("nv") * -1L).as("a"),
          col("nb_label").as("b"))).as("pred_label"),
        max(col("nv")).as("top_votes"))
      .join(held.select(col("vec_id").as("query_id"),
        col("label").as("true_label")), Seq("query_id"))
      .select(col("query_id").as("vec_id"),
        col("true_label").cast("bigint").as("true_label"),
        col("pred_label").cast("bigint").as("pred_label"),
        col("top_votes").cast("bigint").as("top_votes"),
        (col("true_label") === col("pred_label")).as("correct"))
  }

  /** One 64-bit sign word per embedding: bit `i` set iff
    * `embedding[i] > 0` — the 32× compression of binary embedding
    * search (64 floats → one BIGINT), distance = `bit_count(xor)`.
    * Bit `dim-1 = 63` lands on the Long sign bit by Java `<<` wrap —
    * harmless for XOR/popcount, and the oracle replays the same
    * two's-complement value explicitly. Native codegen'd flat loop
    * ([[graft.llm.expressions.SignWordExpr]]): packs at scan speed,
    * no per-element lambda frames, no shuffle. Requires
    * [[graft.GraftExtensions.ensure]] (the operators do it). */
  def signWordExpr(embCol: String, dim: Int): Column = {
    require(dim >= 1 && dim <= 64, "one word packs at most 64 dims")
    expr(s"sign_word($embCol, $dim)")
  }

  /** The higher-order-function composition `sign_word` replaces —
    * retained because SimilaritySpec asserts the two agree
    * bit-for-bit on well-formed vectors (the `bucketExprComposed`
    * precedent). */
  def signWordComposed(embCol: String, dim: Int): Column = {
    require(dim >= 1 && dim <= 64, "one word packs at most 64 dims")
    expr(
      s"""aggregate(sequence(0, ${dim - 1}), 0L,
         |  (acc, i) -> acc + CASE
         |    WHEN element_at($embCol, i + 1) > CAST(0.0 AS FLOAT)
         |    THEN shiftleft(1L, i) ELSE 0L END)""".stripMargin)
  }

  /** Label-noise audit: for EVERY vector, how many of its `k` nearest
    * in-bucket neighbors (exact fixed-point dot, q24's candidate rule)
    * share its label — the per-example agreement signal that flags
    * probable mislabels before classifier training ingests them.
    * Majority-disagreeing vectors (`2·n_agree < n_nb`) are `noisy`.
    *
    * Scale shape: every vector is a query, so candidates come from the
    * sign-LSH bucket SELF-join (never a broadcast of the corpus, never
    * all-pairs) and the selection is the shared two-level
    * [[topKPerQuery]]; labels join back onto the ≤ k·n winner rows,
    * not the scored stream. `maxBucketSize` mirrors the
    * [[embeddingNearDupPairs]] hot-bucket guard: overfull buckets are
    * dropped from scoring (their members surface with `n_nb = 0`,
    * never a single giant task). Bucket-less isolated vectors stay in
    * the output with `n_nb = 0`, `noisy = false` — no evidence is not
    * disagreement. */
  def labelAgreementCard(vectors: DataFrame, labelCol: String, k: Int,
      dim: Int, maxBucketSize: Int = Int.MaxValue): DataFrame = {
    graft.GraftExtensions.ensure(vectors.sparkSession)
    require(k > 0, "k must be positive")
    require(maxBucketSize >= 2, "maxBucketSize < 2 can never score a neighbor")
    val ql = graft.Names.quoted(labelCol)
    def base = vectors.select(col("vec_id"), col("embedding"),
      bucketExpr("embedding", dim).as("bucket"))
    def b =
      if (maxBucketSize == Int.MaxValue) base
      else {
        val sizes = base.groupBy(col("bucket")).agg(count(lit(1)).as("__bc"))
          .filter(col("__bc") <= maxBucketSize)
        base.join(broadcast(sizes.select(col("bucket"))), "bucket")
          .select(col("vec_id"), col("embedding"), col("bucket"))
      }
    val scored = b
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("bucket"))
      .join(b.select(col("vec_id"), col("embedding").as("ce"), col("bucket")),
        "bucket")
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"), dotFpNative("qe", "ce").as("dot_fp"))
    val labs = vectors.select(col("vec_id"), col(ql).as("__lab"))
    val agg = topKPerQuery(scored, k)
      .join(labs.select(col("vec_id").as("query_id"), col("__lab").as("__qlab")),
        "query_id")
      .join(labs.select(col("vec_id"), col("__lab").as("__clab")), "vec_id")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_nb"),
        sum(when(col("__clab") === col("__qlab"), 1L).otherwise(0L))
          .as("n_agree"))
    labs.join(agg.withColumnRenamed("query_id", "vec_id"), Seq("vec_id"), "left")
      .select(col("vec_id"), col("__lab").as("label"),
        coalesce(col("n_nb"), lit(0L)).as("n_nb"),
        coalesce(col("n_agree"), lit(0L)).as("n_agree"))
      .withColumn("agree_fp",
        when(col("n_nb") === 0, lit(0L)).otherwise(expr(
          "cast(floor(1000000.0 * cast(n_agree as double) / cast(n_nb as double)) as bigint)")))
      .withColumn("noisy", col("n_nb") > 0 && col("n_agree") * 2 < col("n_nb"))
  }

  /** kNN label imputation, graded: impute each `test` vector's label
    * as the majority label of its `k` nearest `train` in-bucket
    * neighbors (exact fixed-point dots; vote ties → smallest label;
    * no train neighbor in the bucket → `-1`, "no evidence"), and
    * carry the held-back true label so the output IS the accuracy
    * card. The transductive companion of [[labelAgreementCard]]:
    * that one audits labels we have, this one fills labels we lack —
    * the standard bootstrap for extending a small labeled slice over
    * an unlabeled corpus.
    *
    * Scale shape: test⋈train meet on the sign-LSH bucket (a shuffle
    * join — neither side broadcasts, both may be corpus-sized), the
    * selection is the shared two-level [[topKPerQuery]], and label
    * votes aggregate over ≤ k rows per query. */
  def knnImputeCard(train: DataFrame, test: DataFrame, labelCol: String,
      k: Int, dim: Int): DataFrame = {
    graft.GraftExtensions.ensure(train.sparkSession)
    require(k > 0, "k must be positive")
    val ql = graft.Names.quoted(labelCol)
    val tr = train.select(col("vec_id"), col("embedding"),
      col(ql).as("__lab"), bucketExpr("embedding", dim).as("bucket"))
    val te = test.select(col("vec_id").as("query_id"),
      col("embedding").as("qe"), bucketExpr("embedding", dim).as("bucket"))
    val scored = te
      .join(tr.select(col("vec_id"), col("embedding").as("ce"), col("bucket")),
        "bucket")
      .select(col("query_id"), col("vec_id"), dotFpNative("qe", "ce").as("dot_fp"))
    val votes = topKPerQuery(scored, k)
      .join(tr.select(col("vec_id"), col("__lab")), "vec_id")
      .groupBy(col("query_id"), col("__lab"))
      .agg(count(lit(1)).as("votes"))
    val pred = votes.withColumn("__rn", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("votes").desc, col("__lab").asc)))
      .filter(col("__rn") === 1)
      .select(col("query_id").as("vec_id"), col("__lab").as("__pred"))
    test.select(col("vec_id"), col(ql).as("label_true"))
      .join(pred, Seq("vec_id"), "left")
      .select(col("vec_id"), col("label_true"),
        coalesce(col("__pred"), lit(-1)).as("label_imputed"))
      .withColumn("correct", col("label_imputed") === col("label_true"))
  }

  def annTopK(queries: DataFrame, candidates: DataFrame, k: Int, dim: Int): DataFrame = {
    graft.GraftExtensions.ensure(queries.sparkSession)
    def withBucket(df: DataFrame): DataFrame =
      df.withColumn("bucket", bucketExpr("embedding", dim))
    val q = broadcast(withBucket(queries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"), col("bucket")))
    val c = withBucket(candidates)
      .select(col("vec_id"), col("embedding").as("ce"), col("bucket"))
    val scored = q.join(c, "bucket")
      .select(col("query_id"), col("vec_id"), dotFpNative("qe", "ce").as("dot_fp"))
    topKPerQuery(scored, k)
  }

  /** Per-vector int8 scalar quantization with exact reconstruction-
    * error accounting — the compression decision a 100 TB embedding
    * store has to make (4 bytes/dim → 1) wants per-vector error
    * evidence, not a global RMSE guess. Everything runs in the
    * fixed-point integer domain (`floor(x·10⁶)`): per-vector min/max
    * anchor a 255-level grid, codes and reconstructions use
    * non-negative integer division (truncation ≡ floor), so the error
    * stats are pure integer functions of the input — partition-
    * invariant and replayed exactly by the q75 oracle.
    *
    * Returns (vec_id, lo_fp, hi_fp, max_abs_err_fp, sum_abs_err_fp);
    * a constant vector (hi == lo) quantizes losslessly to code 0.
    * Unscorable embeddings — null, empty, or containing a null
    * element — yield an all-null stats row (the explicit contract;
    * without it Spark's null-poisoning `aggregate` and DuckDB's
    * null-skipping `list_sum` would silently disagree).
    *
    * 100 TB shape: one row-local projection — zero shuffle, zero UDFs;
    * the scan IS the cost. */
  def scalarQuantizeStats(vectors: DataFrame): DataFrame =
    vectors
      .select(col("vec_id"), expr(
        "transform(embedding, x -> cast(floor(cast(x as double) * 1000000.0) as bigint))").as("e"))
      .withColumn("__ok",
        size(col("e")) > 0 && !expr("exists(e, x -> x is null)"))
      .select(col("vec_id"), col("e"), col("__ok"),
        when(col("__ok"), array_min(col("e"))).as("lo_fp"),
        when(col("__ok"), array_max(col("e"))).as("hi_fp"))
      .select(col("vec_id"), col("__ok"), col("lo_fp"), col("hi_fp"), expr(
        """zip_with(e,
          |  transform(transform(e,
          |      x -> if(hi_fp > lo_fp, (255 * (x - lo_fp)) div (hi_fp - lo_fp), 0L)),
          |    c -> lo_fp + (c * (hi_fp - lo_fp)) div 255),
          |  (a, b) -> abs(a - b))""".stripMargin).as("errs"))
      .select(col("vec_id"), col("lo_fp"), col("hi_fp"),
        when(col("__ok"), array_max(col("errs"))).as("max_abs_err_fp"),
        when(col("__ok"), expr("aggregate(errs, 0L, (acc, v) -> acc + v)"))
          .as("sum_abs_err_fp"))

  /** Reciprocal-rank fusion over N ranked lists, each `(qid, doc_id,
    * rn)` with rn 1-based: `rrf_ppm = Σ_lists ⌊10⁶/(c+rank)⌋`, a doc
    * absent from a list contributing nothing — integer-exact, so a
    * fused ranking is oracle-replayable. Re-ranks by (rrf_ppm desc,
    * doc_id asc). The inputs are top-k lists (≤ k·|queries| rows
    * each); union + aggregate + window all run on that driver-trivial
    * frame however large the corpus behind the rankings. */
  /** Recall@k card: grades approximate rankings against an exact
    * baseline. Inputs are `(query_id, vec_id, rn)` rankings (rn
    * 1-based); output is one row per (method, query) with
    * `hits = |approx top-k ∩ exact top-k|` and
    * `recall_ppm = ⌊10⁶·hits/k⌋` — integer-exact, so the card itself
    * is oracle-replayable. This is the tuning evidence an ANN
    * deployment needs before trading exactness for scan locality.
    *
    * Scale: every input is a top-k list (≤ k·|queries| rows), so the
    * card's joins are driver-trivial whatever the corpus behind the
    * rankings — the expensive work stays inside the (audited) search
    * paths that produced the lists. */
  def recallAtK(exact: DataFrame, runs: Seq[(String, DataFrame)], k: Int): DataFrame = {
    require(runs.nonEmpty, "at least one approximate run")
    require(k > 0, "k must be positive")
    val e = exact.filter(col("rn") <= k).select(col("query_id"), col("vec_id"))
    val ap = runs.map { case (m, df) =>
      df.filter(col("rn") <= k)
        .select(lit(m).as("method"), col("query_id"), col("vec_id"))
    }.reduce(_ unionByName _)
    val spine = e.select(col("query_id")).distinct()
      .select(explode(array(runs.map(r => lit(r._1)): _*)).as("method"),
        col("query_id"))
    val hits = ap.join(e, Seq("query_id", "vec_id"))
      .groupBy(col("method"), col("query_id"))
      .agg(count(lit(1)).as("hits"))
    spine.join(hits, Seq("method", "query_id"), "left")
      .select(col("method"), col("query_id"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        expr(s"coalesce(hits, 0L) * 1000000L div ${k}L").as("recall_ppm"))
  }

  /** Hard-negative mining (contrastive training): per query, the k
    * HIGHEST-dot candidates whose label differs from the query's —
    * the most confusable cross-class neighbors, exactly what a
    * contrastive batch builder pairs with each anchor (the query's
    * own row is same-label, so self never surfaces). Labels compare
    * null-safely: a null-label candidate IS a valid negative for a
    * labeled query and vice versa. Same broadcast + two-level
    * bounded-selection shape as [[bruteForceTopK]]; the label
    * exclusion rides the scored stage, adding zero shuffles. */
  def hardNegatives(queries: DataFrame, candidates: DataFrame, k: Int): DataFrame = {
    graft.GraftExtensions.ensure(queries.sparkSession)
    val q = broadcast(queries.select(col("vec_id").as("query_id"),
      col("embedding").as("qe"), col("label").as("__ql")))
    val scored = q.crossJoin(candidates.select(col("vec_id"),
        col("embedding").as("ce"), col("label").as("__cl")))
      .filter(!(col("__ql") <=> col("__cl")))
      .select(col("query_id"), col("vec_id"), dotFpNative("qe", "ce").as("dot_fp"))
    topKPerQuery(scored, k)
  }

  /** Per-label fixed-point centroids — (label, dim, cf) where cf is
    * the floor-mean of `floor(x·10⁶)` components (explicit double
    * floor division so negative sums floor identically in every
    * engine). ONE spelling under the q147 label-cosine matrix and the
    * q182 outlier card, so the two can never disagree about what the
    * centroid IS. One (label, dim) aggregation; everything downstream
    * is labels×dim-sized. */
  def labelCentroidsFp(vectors: DataFrame, labelCol: String, embCol: String): DataFrame =
    groupCentroidsFp(vectors, Seq(labelCol), embCol)
      .withColumnRenamed(labelCol, "label")

  /** [[labelCentroidsFp]] generalized to a composite grouping (e.g.
    * (source, split) for the drift card) — the SAME fixed-point
    * sum/floor-mean arithmetic, one spelling for every centroid
    * consumer. Output keeps the caller's group column names. */
  def groupCentroidsFp(vectors: DataFrame, groupCols: Seq[String],
      embCol: String): DataFrame = {
    require(groupCols.nonEmpty, "at least one group column")
    val qs = groupCols.map(c => col(graft.Names.quoted(c)))
    val qe = graft.Names.quoted(embCol)
    vectors
      .select(qs :+ posexplode(col(qe)).as(Seq("dim", "x")): _*)
      .groupBy(qs :+ col("dim"): _*)
      .agg(expr("sum(cast(floor(cast(x as double) * 1000000.0) as bigint))")
        .as("sf"), count(lit(1)).as("n"))
      .select(qs ++ Seq(col("dim"),
        expr("cast(floor(cast(sf as double) / cast(n as double)) as bigint)")
          .as("cf")): _*)
  }

  /** Embedding-space outlier audit per label: every vector's integer
    * squared distance to its label centroid ([[labelCentroidsFp]]),
    * then per label the count, floor-mean and max distance, and how
    * many vectors sit beyond `k ×` the label mean — the mislabeled /
    * corrupt-embedding screen a curation run applies before vectors
    * feed dedup or retrieval training. All-integer (components are
    * `floor(x·10⁶)`), so the card replays exactly; per-label sums
    * accumulate in decimal(38,0) — 10⁹ vectors × ~10¹⁴ per-vector
    * distance overflows a BIGINT (the sumFp/HITS precedent). The
    * per-vector distance frame feeds the stats aggregate AND the
    * threshold count, so it is persisted (the two-consumer rule). */
  def centroidOutlierCard(vectors: DataFrame, idCol: String, labelCol: String,
      embCol: String, k: Int = 4): DataFrame = {
    require(k >= 1, "threshold multiplier must be at least 1")
    val cent = labelCentroidsFp(vectors, labelCol, embCol)
    val qi = graft.Names.quoted(idCol)
    val ql = graft.Names.quoted(labelCol)
    val qe = graft.Names.quoted(embCol)
    val v = vectors
      .select(col(qi).as("vec_id"), col(ql).as("label"),
        posexplode(col(qe)).as(Seq("dim", "x")))
      .select(col("vec_id"), col("label"), col("dim"),
        expr("cast(floor(cast(x as double) * 1000000.0) as bigint)").as("xq"))
    val dist = Caches.persistTracked(
      v.join(cent, Seq("label", "dim"))
        .groupBy(col("vec_id"), col("label"))
        .agg(sum((col("xq") - col("cf")) * (col("xq") - col("cf")))
          .as("dist2")))
    val stats = dist.groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        expr("cast(sum(cast(dist2 as decimal(38,0))) div count(1) as bigint)")
          .as("mean_dist2"),
        max(col("dist2")).as("max_dist2"))
    // stats is label-cardinality — broadcast it EXPLICITLY: at this
    // test scale the optimizer happily broadcasts the (tiny-looking)
    // cached dist frame instead, which at corpus scale is n_vecs-sized
    dist.join(broadcast(stats), Seq("label"))
      .groupBy(col("label"), col("n_vecs"), col("mean_dist2"), col("max_dist2"))
      .agg(sum(when(col("dist2") > lit(k.toLong) * col("mean_dist2"), 1L)
        .otherwise(0L)).as("n_outliers"))
      .select(col("label"), col("n_vecs"), col("mean_dist2"),
        col("max_dist2"), col("n_outliers"))
  }

  def rrfFuse(lists: Seq[DataFrame], c: Long = 60L): DataFrame = {
    require(lists.nonEmpty, "at least one ranked list")
    require(c >= 0, "rank constant must be non-negative")
    val contribs = lists.map(_.select(col("qid"), col("doc_id"),
      expr(s"1000000L div (${c}L + cast(rn as bigint))").as("contrib")))
    contribs.reduce(_ unionByName _)
      .groupBy(col("qid"), col("doc_id"))
      .agg(sum(col("contrib")).as("rrf_ppm"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("qid"))
          .orderBy(col("rrf_ppm").desc, col("doc_id").asc)).cast("bigint"))
  }
}
