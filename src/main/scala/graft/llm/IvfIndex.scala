package graft.llm

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate nearest-neighbor search: a k-means
  * coarse quantizer partitions the corpus into `nLists` cells; a query
  * scores only the vectors in its `nProbe` closest cells.
  *
  * This is the codebook-based counterpart of the sign-LSH path in
  * [[Similarity]]: LSH needs no training and its buckets are pure
  * functions of the vector (hence DuckDB-oracle-checkable); IVF learns
  * a codebook that adapts to the data distribution, giving better
  * recall per probe on clustered corpora — at the cost of a training
  * pass and of centroids that depend on float summation order, i.e.
  * results are deterministic for a fixed fitted model but NOT
  * reproducible bit-for-bit across partitionings. That is why IVF has
  * no `SparkEntry` oracle query: its contract is pinned by
  * [[graft.llm.IvfSpec]]-style recall/behavior tests instead.
  *
  * Scale shape: training samples the corpus (MLlib k-means);
  * assignment is one broadcast of `nLists`·dim floats + a map; search
  * shuffles only (cell, query) candidates — the corpus is never
  * cross-joined.
  */
object IvfIndex {

  final case class Model(centroids: Array[Array[Float]]) {
    def nLists: Int = centroids.length

    /** ids of the `nProbe` centroids closest to `v` (exact, tiny). */
    def probeCells(v: Array[Float], nProbe: Int): Seq[Int] =
      centroids.zipWithIndex
        .map { case (c, i) => (i, sqDist(c, v)) }
        .sortBy { case (i, d) => (d, i) }
        .take(nProbe).map(_._1).toSeq
  }

  private def sqDist(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { val d = a(i).toDouble - b(i).toDouble; s += d * d; i += 1 }
    s
  }

  /** Train the coarse quantizer (seeded k-means over the embeddings). */
  def fit(vectors: DataFrame, nLists: Int, seed: Long = 42L): Model = {
    val features = vectors.select(col("vec_id"), col("embedding"))
      .withColumn("features", udfToVec(col("embedding")))
    val km = new KMeans().setK(nLists).setSeed(seed).setMaxIter(20)
      .setFeaturesCol("features")
    val model = km.fit(features)
    Model(model.clusterCenters.map(_.toArray.map(_.toFloat)))
  }

  private val udfToVec =
    udf((emb: Seq[Float]) => Vectors.dense(emb.map(_.toDouble).toArray))

  /** Assign every vector to its inverted list (cell id). */
  def assign(vectors: DataFrame, model: Model): DataFrame = {
    val centroids = model.centroids
    val cellOf = udf { (emb: Seq[Float]) =>
      val v = emb.toArray
      var best = 0; var bestD = Double.MaxValue
      var i = 0
      while (i < centroids.length) {
        val d = sqDist(centroids(i), v)
        if (d < bestD) { bestD = d; best = i }
        i += 1
      }
      best
    }
    vectors.withColumn("cell", cellOf(col("embedding")))
  }

  /** Fixed-point dot product identical to the native `dot_fp`
    * expression ([[expressions.DotFpExpr]]): per-element
    * floor(a·b·10⁶) with float→double widening, integer sum. The cell
    * assignment below must score with EXACTLY this arithmetic or the
    * q41 oracle (which replays dot_fp in DuckDB) diverges. */
  private def dotFpLocal(a: Array[Float], b: Array[Float]): Long = {
    var acc = 0L
    var i = 0
    while (i < a.length) {
      acc += math.floor(a(i).toDouble * b(i).toDouble * 1000000.0).toLong
      i += 1
    }
    acc
  }

  /** Deterministic-codebook IVF: the codebook is the first `nLists`
    * vectors by id (no refinement), assignment is argmax fixed-point
    * inner product (ties → smallest seed id), queries probe their
    * `nProbe` best cells, and candidates re-rank exactly. Worse
    * recall than the trained quantizer on clustered data, but every
    * step is a pure integer function of the input — reproducible
    * across engines and partitionings, hence the DuckDB-oracle-checked
    * IVF path (`q41_ivf_ann`); [[fit]]/[[search]] remain the quality
    * path.
    *
    * Scale shape: the codebook is a TakeOrdered of `nLists` skinny
    * rows collected once and broadcast; cell assignment is then
    * SCAN-LOCAL (a closure over the broadcast codebook — no per-seed
    * row ever reaches an exchange, unlike a crossJoin+window
    * formulation which would shuffle corpus×nLists embedding
    * payloads). Search shuffles only the bucket equi-join of skinny
    * probe rows; the small side's broadcast is left to AQE so a large
    * query set degrades to a shuffle join instead of OOMing the
    * driver. */
  def seededSearch(vectors: DataFrame, queries: DataFrame, nLists: Int,
      k: Int, nProbe: Int): DataFrame = {
    graft.GraftExtensions.ensure(vectors.sparkSession)
    // first nLists vectors BY RANK of vec_id (TakeOrdered — no global
    // sort), not `vec_id < nLists`: sparse or offset id spaces would
    // silently produce an empty codebook and empty results.
    // Seed reading is defensive where the scan-side UDFs are not: a
    // null embedding among the first nLists rows would NPE the DRIVER
    // (fail loudly with the seed id instead — the caller must supply a
    // non-null codebook prefix), and an array<double> column — which
    // dot_fp accepts — would ClassCastException under getSeq[Float],
    // so elements widen through Number.
    val seeds: Array[(Long, Array[Float])] =
      vectors.orderBy(col("vec_id")).limit(nLists)
        .select(col("vec_id"), col("embedding")).collect()
        .map { r =>
          val id = r.getLong(0)
          require(!r.isNullAt(1),
            s"seededSearch: seed vector $id has a null embedding — the first " +
              s"$nLists vectors by vec_id form the codebook and must be non-null")
          val arr = r.getSeq[Any](1).map {
            case null => throw new IllegalArgumentException(
              s"seededSearch: seed vector $id has a null embedding element")
            case n: Number => n.floatValue()
            case other => throw new IllegalArgumentException(
              s"seededSearch: embedding element of unsupported type ${other.getClass}")
          }.toArray
          (id, arr)
        }
    val bSeeds = vectors.sparkSession.sparkContext.broadcast(seeds)
    // top-n cells by (dot desc, seed_id asc) — the (-dot, id) tuple
    // sort reproduces q41's row_number tie-breaking exactly. Null or
    // dimension-mismatched embeddings (dot undefined) get no cell and
    // drop out of the index/probe streams instead of crashing the scan.
    val probeCells = udf { (emb: Seq[Float]) =>
      if (emb == null) Seq.empty[Long]
      else {
        val v = emb.toArray
        bSeeds.value.collect {
          case (sid, se) if se.length == v.length => (-dotFpLocal(se, v), sid)
        }.sorted.take(nProbe).map(_._2).toSeq
      }
    }
    val bestCell = udf { (emb: Seq[Float]) =>
      if (emb == null) null.asInstanceOf[java.lang.Long]
      else {
        val v = emb.toArray
        val s = bSeeds.value
        var best = null.asInstanceOf[java.lang.Long]
        var bestD = Long.MinValue
        var i = 0
        while (i < s.length) {
          if (s(i)._2.length == v.length) {
            val d = dotFpLocal(s(i)._2, v)
            if (d > bestD || best == null) { bestD = d; best = s(i)._1 }
          }
          i += 1
        }
        best
      }
    }
    val cells = vectors.select(col("vec_id"), col("embedding").as("ce"),
      bestCell(col("embedding")).as("cell"))
    val probes = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("qe"), explode(probeCells(col("embedding"))).as("cell"))
    val scored = probes.join(cells, "cell")
      .select(col("query_id"), col("vec_id"), Similarity.dotFpNative("qe", "ce").as("dot_fp"))
    Similarity.topKPerQuery(scored, k)
  }

  /** Quantizing column expression over `embedding`:
    * `e_i = floor(x_i · 10⁶)` — the integer domain the deterministic
    * trainer works in. Usable inline in a single projection (the
    * streaming paths need cell + payload in ONE select). */
  private[llm] def quantizedExpr: Column = expr(
    "transform(embedding, x -> cast(floor(cast(x as double) * 1000000.0) as bigint))")

  /** Quantized-embedding projection of [[quantizedExpr]]. */
  private[llm] def quantized(vectors: DataFrame): DataFrame =
    vectors.select(col("vec_id"), quantizedExpr.as("e"))

  /** Scan-local argmin-squared-distance cell assignment over a
    * broadcast integer codebook; ties break toward the smaller cell
    * id. Pure integer arithmetic → identical on any partitioning. */
  private[llm] def cellOfUdf(bc: org.apache.spark.broadcast.Broadcast[Array[Array[Long]]]) =
    udf { (e: Seq[Long]) =>
      val v = e.toArray
      var best = -1
      var bestD = Long.MaxValue
      var i = 0
      while (i < bc.value.length) {
        val c = bc.value(i)
        var d = 0L
        var j = 0
        while (j < c.length) { val x = v(j) - c(j); d += x * x; j += 1 }
        if (d < bestD) { bestD = d; best = i }
        i += 1
      }
      best
    }

  /** Scan-local nProbe-nearest-cells UDF over a broadcast integer
    * codebook — the ONE spelling of probing/multi-assignment shared
    * by [[searchWithCodebook]], [[knnGraphWithCodebook]],
    * [[multiAssignments]] and the delta folds (integer sqdist, ties →
    * smaller cell id; take(1) reproduces [[cellOfUdf]]'s argmin
    * exactly). */
  private def probeCellsUdfOf(
      bc: org.apache.spark.broadcast.Broadcast[Array[Array[Long]]],
      nProbe: Int) =
    udf { (e: Seq[Long]) =>
      val v = e.toArray
      bc.value.zipWithIndex.map { case (c, i) =>
        var d = 0L
        var j = 0
        while (j < c.length) { val x = v(j) - c(j); d += x * x; j += 1 }
        (d, i)
      }.sorted.take(nProbe).map(_._2).toSeq
    }

  /** The shippable IVF inverted-list state under multi-assignment:
    * `(vec_id, cell)`, one row per (vector, assigned cell), each
    * vector in its `nAssign` nearest cells — the expanded lists
    * [[knnGraphWithCodebook]] pairs within and [[graphDelta]] folds
    * into. With `nAssign = 1` this is exactly the
    * [[cellAssignments]] frame over the same codebook (same argmin,
    * same tie-break). Scan-local over the broadcast codebook — no
    * shuffle until a consumer keys on `cell`. */
  def multiAssignments(vectors: DataFrame, centroids: Array[Array[Long]],
      nAssign: Int = 1): DataFrame = {
    require(nAssign >= 1, "nAssign must be positive")
    val bc = vectors.sparkSession.sparkContext.broadcast(centroids)
    quantized(vectors).select(col("vec_id"),
      explode(probeCellsUdfOf(bc, nAssign)(col("e"))).as("cell"))
  }

  /** Incremental maintenance of the shipped inverted lists — the IVF
    * analogue of [[graft.llm.MinHashLSH.indexDelta]]: arrivals assign
    * scan-locally against the LOADED codebook and append to the
    * loaded lists. Because cell assignment is a pure row-local
    * function of the FIXED codebook, fold ≡
    * rebuild-with-the-same-codebook row-for-row (pinned on-corpus by
    * q296) — the corpus is never re-assigned, and work is bounded by
    * the arrival batch. The codebook itself NEVER retrains on a fold
    * (the counts-only-grow analogue): a quantizer refresh changes
    * every historical assignment, so it is an offline rebuild +
    * re-index behind a new artifact name, never an in-place
    * mutation. PRECONDITION: arrival vec_ids are disjoint from the
    * shipped lists (the [[graft.llm.MinHashLSH.indexDelta]]
    * contract); a re-embedded known vector is an erase (id anti-join
    * on the lists — row-per-contributor, the
    * [[Dedup.fingerprintIndexErase]] shape) then a fold. */
  def ivfDelta(assigned: DataFrame, arrivals: DataFrame,
      centroids: Array[Array[Long]], nAssign: Int = 1): DataFrame =
    assigned.unionByName(multiAssignments(arrivals, centroids, nAssign))

  /** Erasure-APPLY on the shipped inverted lists — the
    * [[Dedup.fingerprintIndexErase]] shape: the lists are
    * row-per-(contributor, cell), so the erase is a pure id
    * anti-join; fold ≡ rebuild-without trivially. */
  def ivfErase(assigned: DataFrame, eraseIds: DataFrame): DataFrame =
    assigned.join(eraseIds.select(col("vec_id")), Seq("vec_id"),
      "left_anti")

  /** Erasure-APPLY on the shipped kNN graph — [[graphDelta]]
    * inverted, the q294 discipline for the ANN family: fold a
    * tombstone set OUT of the loaded graph so a right-to-be-forgotten
    * batch costs work bounded by the erased vectors' NEIGHBORHOODS
    * instead of a graph rebuild.
    *
    * How: the erased vectors' cells come from the LOADED lists (no
    * re-quantization); every truncation-surviving member of a touched
    * cell is AFFECTED and re-ranks its full edge list from scratch
    * over the surviving compared membership of its own cells — which
    * covers both erased-edge removal and the rank-RESURRECTION case
    * (removing an erased row promotes later members into the cap, so
    * a previously-truncated vector can enter comparison; it lands in
    * the affected set by construction). Untouched sources pass
    * through byte-identical — an edge can only point at a cell
    * co-member, so no untouched source can hold an erased edge.
    *
    * Exactness (pinned on-corpus by q299 and on planted
    * cap-resurrection cases by IvfSpec): fold ≡
    * [[knnGraphWithCodebook]] rebuilt over the surviving corpus with
    * the same codebook/k/cap/nAssign. No monotone-id precondition
    * (unlike [[graphDelta]]): erasing only PROMOTES survivor ranks,
    * so the old compared set of every touched cell is a subset of
    * the new one and the affected-src recompute sees exactly the
    * rebuild's membership. The codebook never retrains on an erase —
    * same posture as [[ivfDelta]].
    *
    * 100 TB shape: one id anti-join over the lists, one cell-keyed
    * equi-join bounded by touched cells × cap for the recompute
    * pairs, exact dots only for affected pairs, and a window over
    * the affected pool — never a corpus-wide pair expansion. */
  def graphErase(vectors: DataFrame, eraseIds: DataFrame,
      assigned: DataFrame, edges: DataFrame, k: Int,
      maxCellSize: Int = 0): DataFrame = {
    require(k > 0, "k must be positive")
    graft.GraftExtensions.ensure(vectors.sparkSession)
    val ids = eraseIds.select(col("vec_id"))
    val touchedCells = assigned.join(ids, Seq("vec_id"), "left_semi")
      .select(col("cell")).distinct()
    val survivors = ivfErase(assigned, ids)
    val comparedNew =
      if (maxCellSize > 0) {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("cell")).orderBy(col("vec_id"))
        survivors.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") <= maxCellSize).drop("__rn")
      } else survivors
    val affected = comparedNew
      .join(touchedCells, Seq("cell"), "left_semi")
      .select(col("vec_id")).distinct()
    // an affected source re-ranks over ALL its cells' surviving
    // compared members (untouched cells contribute their unchanged
    // candidate sets — the source's top-k pools across cells)
    val uCells = comparedNew.join(affected, Seq("vec_id"), "left_semi")
    val cand = uCells.select(col("cell"), col("vec_id").as("src"))
      .join(comparedNew.select(col("cell"), col("vec_id").as("dst")),
        "cell")
      .filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst"))
      .distinct()
    val emb = vectors.select(col("vec_id"), col("embedding"))
    val scored = cand
      .join(emb.select(col("vec_id").as("src"),
        col("embedding").as("ae")), "src")
      .join(emb.select(col("vec_id").as("dst"),
        col("embedding").as("be")), "dst")
      .select(col("src"), col("dst"),
        Similarity.dotFpNative("ae", "be").as("dot_fp"))
    val wk = org.apache.spark.sql.expressions.Window
      .partitionBy(col("src")).orderBy(col("dot_fp").desc, col("dst"))
    val rebuiltAffected = scored.withColumn("__rn", row_number().over(wk))
      .filter(col("__rn") <= k)
      .select(col("src"), col("dst"), col("dot_fp"))
    // pass-through excludes BOTH the re-ranked affected sources and
    // the erased sources' own lists (an erased vector is usually in a
    // touched cell's membership but never in `affected` — survivors
    // only — so it needs its own anti-join)
    edges
      .join(affected.select(col("vec_id").as("src")), Seq("src"),
        "left_anti")
      .join(ids.select(col("vec_id").as("src")), Seq("src"), "left_anti")
      .select(col("src"), col("dst"), col("dot_fp"))
      .unionByName(rebuiltAffected)
  }

  /** Incremental maintenance of the shipped kNN graph — the fold that
    * lets a new vector become a GRAPH NEIGHBOR without rebuilding
    * q276's artifact: arrivals multi-assign scan-locally, candidate
    * pairs form ONLY between an arrival and the (truncation-surviving)
    * members of its cells (old members via the LOADED lists, fellow
    * arrivals directly), each new pair scores one exact dot, and the
    * patch is two-sided — the arrival gets its top-`k` out-edges, and
    * every TOUCHED old node re-ranks its loaded edge list against its
    * new candidates (reverse-edge patch). Untouched nodes pass
    * through byte-identical.
    *
    * Exactness (pinned on-corpus by q297 and on planted boundary
    * cases by IvfSpec): fold ≡ [[knnGraphWithCodebook]] rebuilt over
    * the union corpus with the same codebook/k/cap/nAssign, because
    * top-k is a monotone selection — top-k(old ∪ new) =
    * top-k(top-k(old) ∪ new), and a node's old edge list IS its
    * top-k over its old candidates (complete when fewer than k).
    *
    * PRECONDITIONS (both documented-by-construction for a crawl):
    * arrival vec_ids are disjoint from AND GREATER THAN every indexed
    * id — monotone ids keep the cap's rank-truncation stable (old
    * survivors stay exactly the old compared set; an arrival enters a
    * cell only in the capacity left under the cap), which is what
    * makes the fold exact instead of approximate; and `assigned`/
    * `edges` must be the shipped lists/graph built with the SAME
    * codebook, cap and nAssign.
    *
    * 100 TB shape: one scan-local arrival assignment, one cell-keyed
    * equi-join against the loaded lists (bounded by arrival cells ×
    * cap), exact dots only for new pairs, one semi/anti-join split of
    * the loaded edges, and a window over the touched pool (touched
    * nodes × ≤ k+new rows) — never a corpus-wide pair expansion. */
  def graphDelta(vectors: DataFrame, arrivals: DataFrame,
      centroids: Array[Array[Long]], assigned: DataFrame,
      edges: DataFrame, k: Int, maxCellSize: Int = 0,
      nAssign: Int = 1): DataFrame = {
    require(k > 0, "k must be positive")
    require(nAssign >= 1, "nAssign must be positive")
    graft.GraftExtensions.ensure(vectors.sparkSession)
    val bc = vectors.sparkSession.sparkContext.broadcast(centroids)
    val aAssigned = quantized(arrivals).select(col("vec_id"),
      explode(probeCellsUdfOf(bc, nAssign)(col("e"))).as("cell"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cell")).orderBy(col("vec_id"))
    val (oldSurv, aEnter) =
      if (maxCellSize > 0) {
        val os = assigned.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") <= maxCellSize).drop("__rn")
        // arrivals rank BEHIND every old member (ids are greater), so
        // an arrival enters a cell iff old count + its rank among the
        // batch's arrivals in that cell stays within the cap
        val oldCounts = assigned.groupBy(col("cell"))
          .agg(count(lit(1)).as("__n_old"))
        val ae = aAssigned.withColumn("__rn", row_number().over(w))
          .join(oldCounts, Seq("cell"), "left")
          .filter(coalesce(col("__n_old"), lit(0L)) + col("__rn")
            <= maxCellSize)
          .select(col("vec_id"), col("cell"))
        (os, ae)
      } else (assigned, aAssigned)
    val members = oldSurv.unionByName(aEnter)
    // skinny ids through the cell shuffle; a pair sharing two cells
    // dedups BEFORE the embedding joins (the knnGraphWithCodebook
    // discipline) so each new pair's exact dot computes once
    val pairIds = aEnter.select(col("cell"), col("vec_id").as("x_id"))
      .join(members.select(col("cell"), col("vec_id").as("y_id")), "cell")
      .filter(col("x_id") =!= col("y_id"))
      .select(least(col("x_id"), col("y_id")).as("a_id"),
        greatest(col("x_id"), col("y_id")).as("b_id"))
      .distinct()
    val emb = vectors.select(col("vec_id"), col("embedding"))
      .unionByName(arrivals.select(col("vec_id"), col("embedding")))
    val pairs = pairIds
      .join(emb.select(col("vec_id").as("a_id"),
        col("embedding").as("ae")), "a_id")
      .join(emb.select(col("vec_id").as("b_id"),
        col("embedding").as("be")), "b_id")
      .select(col("a_id"), col("b_id"),
        Similarity.dotFpNative("ae", "be").as("dot_fp"))
    val newDirected = pairs.select(col("a_id").as("src"),
        col("b_id").as("dst"), col("dot_fp"))
      .unionByName(pairs.select(col("b_id").as("src"),
        col("a_id").as("dst"), col("dot_fp")))
    val touched = newDirected.select(col("src")).distinct()
    // new pairs always involve an arrival and loaded edges never do
    // (ids disjoint), so the pool cannot double-count an edge
    val pooled = edges.join(touched, Seq("src"), "left_semi")
      .select(col("src"), col("dst"), col("dot_fp"))
      .unionByName(newDirected)
    val wk = org.apache.spark.sql.expressions.Window
      .partitionBy(col("src")).orderBy(col("dot_fp").desc, col("dst"))
    val patched = pooled.withColumn("__rn", row_number().over(wk))
      .filter(col("__rn") <= k)
      .select(col("src"), col("dst"), col("dot_fp"))
    edges.join(touched, Seq("src"), "left_anti")
      .select(col("src"), col("dst"), col("dot_fp"))
      .unionByName(patched)
  }

  /** Trained cell-assignment frame `(vec_id, cell)` — the audited
    * scan-local argmin over the broadcast fixed-point codebook,
    * exposed for cards that join the index's cell structure against
    * document metadata (q212's embedding↔text alignment). Same
    * training memo and the same tie-break as every search path. */
  def cellAssignments(vectors: DataFrame, nLists: Int, nIter: Int = 3): DataFrame = {
    val centroids = fitFixedPoint(vectors, nLists, nIter)
    val bc = vectors.sparkSession.sparkContext.broadcast(centroids)
    quantized(vectors).select(col("vec_id"), cellOfUdf(bc)(col("e")).as("cell"))
  }

  /** Deterministic TRAINED quantizer: Lloyd's k-means run entirely in
    * fixed-point integers, which removes the one thing that kept the
    * trained path un-oracle-able — float summation order. Embeddings
    * are quantized to micro-units (`floor(x·10⁶)`), assignment is
    * integer squared distance (ties → smaller cell), and the centroid
    * update is the floor of the per-dimension mean (sums accumulate in
    * DECIMAL(38,0) so 100 TB row counts cannot wrap; empty cells keep
    * their previous centroid). Every step is an integer function of
    * the input → centroids are partition-invariant and replayable in
    * SQL, which is exactly what `q66_ivf_trained` does with unrolled
    * iteration CTEs.
    *
    * Init = first `nLists` vectors by id (rank, not `vec_id < n`).
    * Driver holds only the nLists×dim integer codebook between rounds
    * (the classic distributed-k-means shape); each round is one
    * distributed assignment + one (cell, dim) aggregation.
    *
    * Relative to [[fit]] (MLlib, float, seeded): same Lloyd dynamics,
    * deterministic quantization in exchange for the float precision —
    * at 10⁻⁶ granularity the recall difference is noise, and the
    * result is auditable cross-engine. */
  def fitFixedPoint(vectors: DataFrame, nLists: Int, nIter: Int = 3): Array[Array[Long]] = {
    require(nLists > 0, "nLists must be positive")
    require(nIter >= 0, "nIter must be non-negative")
    // every Lloyd round re-reads the quantized projection (and the
    // search's assignment pass reads it once more, via CacheManager's
    // canonical-plan match) — cache it instead of re-scanning and
    // re-quantizing the corpus nIter+1 times; tracked, so
    // Caches.unpersistAll releases it between corpora.
    // The trained codebook itself is memoized per (canonical corpus
    // plan, nLists, nIter): training is a deterministic pure function
    // of those, and q66/q67/q92/q117/q125 all train the identical
    // codebook — an offline index build serves many consumers. The
    // memo clears with unpersistAll, so benches still price training.
    // key on the canonicalized PLAN OBJECT, not its string: a
    // LocalRelation prints without its data, so two different
    // in-memory corpora would collide on the rendered form — plan
    // equality compares structurally, data included
    Caches.memoized(vectors.sparkSession, ("ivf_codebook",
      vectors.queryExecution.analyzed.canonicalized, nLists, nIter)) {
      val q = Caches.persistTracked(quantized(vectors))
      fitOnQuantized(q, nLists, nIter)
    }
  }

  /** Lloyd's rounds over an ALREADY-quantized `(vec_id, e)` frame —
    * the reusable core of [[fitFixedPoint]], also driven per-subspace
    * by [[PqIndex]] on sliced projections.
    *
    * Each round is ONE treeReduce job over the cached frame: tasks
    * assign rows to their argmin cell and fold (cell × dim) partial
    * sums locally, partials merge executor-side, and the driver holds
    * only the k×dim codebook (the classic distributed-k-means shape —
    * MLlib's own runAlgorithm aggregates the same way). r19: the
    * previous spelling (assignment UDF → posexplode to n·dim rows →
    * groupBy(cell, dim) → collect) paid one shuffle + two AQE jobs +
    * an n·dim row explosion PER ROUND; this is one job, no exchange,
    * no explosion, and the identical integers (per-cell per-dim sums
    * are order-free, floor division unchanged — spec-pinned).
    * Overflow discipline: partial sums accumulate in Long via
    * addExact — |e| ≤ ~10⁶ for unit-scale embeddings, so a silent
    * wrap needs ~9·10¹² same-cell rows; addExact turns the
    * beyond-that case into a loud failure, never a wrong codebook. */
  private[llm] def fitOnQuantized(q: DataFrame, nLists: Int,
      nIter: Int): Array[Array[Long]] = {
    var centroids: Array[Array[Long]] = q.orderBy(col("vec_id")).limit(nLists)
      .select(col("e")).collect().map(_.getSeq[Long](0).toArray)
    require(centroids.length == nLists,
      s"corpus has fewer than $nLists vectors — cannot seed the codebook")
    if (nIter == 0) return centroids
    val dim = centroids(0).length
    val vecs = q.select(col("e")).rdd
      .map(_.getSeq[Long](0).toArray)
    for (_ <- 0 until nIter) {
      val cents = centroids
      // (sums(k)(dim), counts(k)) — one fold per partition, tree-merged
      val (sums, counts) = vecs.treeAggregate(
        (Array.fill(nLists)(new Array[Long](dim)), new Array[Long](nLists)))(
        seqOp = { case ((s, n), v) =>
          var best = 0
          var bestD = Long.MaxValue
          var i = 0
          while (i < nLists) {
            val c = cents(i)
            var d = 0L
            var j = 0
            while (j < dim) { val x = v(j) - c(j); d += x * x; j += 1 }
            if (d < bestD) { bestD = d; best = i }
            i += 1
          }
          n(best) += 1
          val row = s(best)
          var j = 0
          while (j < dim) { row(j) = Math.addExact(row(j), v(j)); j += 1 }
          (s, n)
        },
        combOp = { case ((sa, na), (sb, nb)) =>
          var i = 0
          while (i < nLists) {
            na(i) = Math.addExact(na(i), nb(i))
            val ra = sa(i); val rb = sb(i)
            var j = 0
            while (j < dim) { ra(j) = Math.addExact(ra(j), rb(j)); j += 1 }
            i += 1
          }
          (sa, na)
        })
      val next = centroids.map(_.clone())
      var c = 0
      while (c < nLists) {
        if (counts(c) > 0L) {
          var j = 0
          while (j < dim) {
            // floor division (DuckDB's floor(sum/n) replays exactly)
            next(c)(j) = Math.floorDiv(sums(c)(j), counts(c))
            j += 1
          }
        } // empty cells keep their previous centroid
        c += 1
      }
      centroids = next
    }
    centroids
  }

  /** IVF search over the [[fitFixedPoint]] codebook — the trained-path
    * counterpart of [[seededSearch]] with the SAME oracle-checkable
    * guarantees: train (integer k-means) → assign corpus scan-locally
    * → probe each query's `nProbe` nearest cells (integer sqdist, ties
    * → smaller cell) → exact fixed-point rerank of the candidates.
    * Shuffle carries only (cell, skinny probe) rows; embeddings join
    * back by cell/id. */
  def fixedPointSearch(vectors: DataFrame, queries: DataFrame, nLists: Int,
      k: Int, nProbe: Int, nIter: Int = 3): DataFrame =
    searchWithCodebook(vectors, queries, fitFixedPoint(vectors, nLists, nIter),
      k, nProbe)

  /** The probe/score/rank half of [[fixedPointSearch]] over an
    * ALREADY-TRAINED coarse codebook — the serve-side entry point a
    * shipped artifact drives ([[Artifacts.loadCodebook]]): no Lloyd
    * rounds, no memo; the caller prices exactly assignment + probe +
    * exact rerank. `fixedPointSearch` is literally this function fed
    * by `fitFixedPoint`, so a loaded replica's results are
    * byte-identical to the in-session training path. */
  def searchWithCodebook(vectors: DataFrame, queries: DataFrame,
      centroids: Array[Array[Long]], k: Int, nProbe: Int): DataFrame = {
    graft.GraftExtensions.ensure(vectors.sparkSession)
    val bc = vectors.sparkSession.sparkContext.broadcast(centroids)
    val probeCellsUdf = probeCellsUdfOf(bc, nProbe)
    val cells = quantized(vectors).select(col("vec_id"), cellOfUdf(bc)(col("e")).as("cell"))
      .join(vectors.select(col("vec_id"), col("embedding").as("ce")), "vec_id")
    val probes = quantized(queries)
      .select(col("vec_id").as("query_id"), explode(probeCellsUdf(col("e"))).as("cell"))
      .join(queries.select(col("vec_id").as("query_id"), col("embedding").as("qe")), "query_id")
    val scored = probes.join(cells, "cell")
      .select(col("query_id"), col("vec_id"), Similarity.dotFpNative("qe", "ce").as("dot_fp"))
    Similarity.topKPerQuery(scored, k)
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the corpus with the deterministic
    * fixed-point quantizer ([[fitFixedPoint]]), then compare vectors
    * ONLY within their cluster — a vector is a semantic duplicate when
    * some LOWER-id member of its cell scores `dot_fp ≥ minDotFp`
    * against it (keep-lowest-id representative, the same deterministic
    * survivor rule as [[Dedup]]'s exact path). Cosine-similar
    * paraphrases land in one cell, so the quadratic comparison is
    * confined to n/k-sized cells instead of the corpus.
    *
    * Returns every input id: (vec_id, cell, n_dup_of, kept) where
    * `n_dup_of` counts the lower-id in-cell members within threshold
    * and `kept = n_dup_of == 0`.
    *
    * 100 TB shape: train touches only (cell, dim) aggregates;
    * assignment is scan-local over the broadcast codebook; the one
    * shuffle keys embeddings by cell; in-cell pair expansion is
    * bounded by `maxCellSize` — cells are RANK-TRUNCATED (first
    * `maxCellSize` members by vec_id compare; later members pass
    * through as kept) rather than dropped, so a degenerate cell
    * costs at most cap² comparisons and every row still reaches the
    * output. The whole pipeline is integer arithmetic end-to-end, so
    * `q67_semantic_dedup` replays it — Lloyd rounds included — in
    * DuckDB. */
  def semanticDedup(vectors: DataFrame, nLists: Int, minDotFp: Long,
      nIter: Int = 3, maxCellSize: Int = 0): DataFrame = {
    graft.GraftExtensions.ensure(vectors.sparkSession)
    val centroids = fitFixedPoint(vectors, nLists, nIter)
    val bc = vectors.sparkSession.sparkContext.broadcast(centroids)
    val members = quantized(vectors)
      .select(col("vec_id"), cellOfUdf(bc)(col("e")).as("cell"))
    val compared = if (maxCellSize > 0) {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("cell")).orderBy(col("vec_id"))
      members.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <= maxCellSize).drop("__rn")
    } else members
    val withEmb = compared
      .join(vectors.select(col("vec_id"), col("embedding")), "vec_id")
    val dupOf = withEmb.select(col("cell"), col("vec_id").as("a_id"),
        col("embedding").as("ae"))
      .join(withEmb.select(col("cell"), col("vec_id").as("b_id"),
        col("embedding").as("be")), "cell")
      .filter(col("a_id") < col("b_id"))
      .filter(Similarity.dotFpNative("ae", "be") >= minDotFp)
      .groupBy(col("b_id").as("vec_id"))
      .agg(count(lit(1)).as("n_dup_of"))
    members.join(dupOf, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        coalesce(col("n_dup_of"), lit(0L)).as("n_dup_of"),
        (coalesce(col("n_dup_of"), lit(0L)) === 0L).as("kept"))
  }

  /** Stream-static ANN ingest — [[semanticDedup]]'s admission check in
    * the [[graft.streaming.Streams.spatialIngest]] shape: the codebook
    * trains ONCE on the static corpus (driver-held, broadcast into the
    * plan), each arriving vector is cell-assigned scan-locally, and a
    * stream-static LEFT join against the corpus's cell members surfaces
    * every in-cell near-duplicate (`dot_fp ≥ minDotFp`). Emits one row
    * per (arrival, matching corpus member) — `(vec_id, cell, dup_of,
    * dot_fp)` — and arrivals with NO near-dup keep one row with null
    * `dup_of`, so admission (`dup_of IS NULL`) and evidence live in the
    * same frame.
    *
    * Every stage is STATELESS (projection over a broadcast codebook,
    * stream-static join — no watermark, no state store), so the same
    * call runs unchanged on a batch frame, which is the correctness
    * oracle (StreamingSpec pins stream == batch over the embeddings
    * corpus).
    *
    * 100 TB shape: the static side shuffles once per micro-batch at
    * worst (cache it upstream); the stream side never shuffles —
    * arrivals carry their embedding to the kilobyte-scale broadcast
    * codebook, and candidate volume per arrival is its cell's
    * membership, the same n/k bound the batch dedup relies on. */
  def annIngest(arrivals: DataFrame, corpus: DataFrame, nLists: Int,
      minDotFp: Long, nIter: Int = 3): DataFrame = {
    graft.GraftExtensions.ensure(corpus.sparkSession)
    val centroids = fitFixedPoint(corpus, nLists, nIter)
    val bc = corpus.sparkSession.sparkContext.broadcast(centroids)
    // cell + embedding in ONE projection per side — joining two
    // projections of `arrivals` back together on vec_id would be a
    // stream-stream SELF-join when arrivals is a streaming frame
    // (unbounded join state, append-mode-only), silently breaking the
    // stateless contract the docstring promises
    val qe = quantizedExpr
    val idx = corpus.select(col("vec_id").as("__cid"),
      col("embedding").as("__ce"), cellOfUdf(bc)(qe).as("__ccell"))
    val arr = arrivals.select(col("vec_id"),
      col("embedding").as("__ae"), cellOfUdf(bc)(qe).as("cell"))
    arr.join(idx,
        col("cell") === col("__ccell") &&
          Similarity.dotFpNative("__ae", "__ce") >= minDotFp,
        "left")
      .select(col("vec_id"), col("cell"), col("__cid").as("dup_of"),
        when(col("__cid").isNotNull,
          Similarity.dotFpNative("__ae", "__ce")).as("dot_fp"))
  }

  /** Mutual-kNN graph clustering over the trained cells — the
    * topic-grouping operator SemDeDup's threshold rule cannot express:
    * two vectors join a cluster only when each ranks the other inside
    * its top-`k` in-cell neighbors (by `dot_fp` desc, id asc), which
    * suppresses the hub effect a plain radius graph suffers (a generic
    * centroid-ish vector near everything chains unrelated topics; it
    * is almost never MUTUALLY top-k with all of them). Components of
    * the mutual graph become clusters labeled by their smallest
    * member id ([[Dedup.connectedComponents]] — converged fixpoint, so
    * deterministic under any partitioning).
    *
    * Returns every input id: (vec_id, cell, cluster_id); vectors with
    * no mutual neighbor (or rank-truncated out of comparison) are
    * singletons. `q117_mutual_knn` replays training, ranking,
    * mutuality, and the closure (recursive CTE) in DuckDB.
    *
    * 100 TB shape: everything inherits [[semanticDedup]]'s bounds —
    * broadcast codebook, one cell-keyed shuffle, cap²-bounded in-cell
    * pair expansion via the same rank truncation — plus two windows
    * over the (bounded) pair frame; the closure iterates on skinny
    * (id, label) rows only. */
  def mutualKnnClusters(vectors: DataFrame, nLists: Int, k: Int,
      nIter: Int = 3, maxCellSize: Int = 0): DataFrame =
    mutualKnnWithCodebook(vectors, fitFixedPoint(vectors, nLists, nIter),
      k, maxCellSize)

  /** The cell/pair/mutuality/closure half of [[mutualKnnClusters]]
    * over an ALREADY-TRAINED coarse codebook — the serve-side entry a
    * shipped artifact drives (the [[searchWithCodebook]] precedent):
    * no Lloyd rounds, the caller prices exactly assignment + in-cell
    * ranking + the component closure. `mutualKnnClusters` is
    * literally this function fed by `fitFixedPoint`, so a loaded
    * replica's clusters are byte-identical to the in-session
    * training path. */
  /** (members, edges) over an already-trained codebook: the cell
    * assignment and the directed in-cell kNN graph — for every
    * (cap-surviving) vector its top-`k` neighbors by exact
    * fixed-point dot among its OWN cell's members. One body so the
    * mutual-kNN clusters (q117) and the shipped graph artifact
    * (q276) can never disagree about what an edge is. */
  private def inCellKnn(vectors: DataFrame, centroids: Array[Array[Long]],
      k: Int, maxCellSize: Int): (DataFrame, DataFrame) = {
    require(k > 0, "k must be positive")
    graft.GraftExtensions.ensure(vectors.sparkSession)
    val bc = vectors.sparkSession.sparkContext.broadcast(centroids)
    val members = quantized(vectors)
      .select(col("vec_id"), cellOfUdf(bc)(col("e")).as("cell"))
    val compared = if (maxCellSize > 0) {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("cell")).orderBy(col("vec_id"))
      members.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <= maxCellSize).drop("__rn")
    } else members
    val withEmb = compared
      .join(vectors.select(col("vec_id"), col("embedding")), "vec_id")
    val pairs = withEmb.select(col("cell"), col("vec_id").as("a_id"),
        col("embedding").as("ae"))
      .join(withEmb.select(col("cell"), col("vec_id").as("b_id"),
        col("embedding").as("be")), "cell")
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        Similarity.dotFpNative("ae", "be").as("dot_fp"))
    val directed = pairs.select(col("a_id").as("src"), col("b_id").as("dst"),
        col("dot_fp"))
      .unionByName(pairs.select(col("b_id").as("src"), col("a_id").as("dst"),
        col("dot_fp")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("src")).orderBy(col("dot_fp").desc, col("dst"))
    val edges = directed.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
    (members, edges)
  }

  /** The directed kNN graph `(src, dst, dot_fp)` built under
    * MULTI-ASSIGNMENT: every vector joins its `nAssign` nearest
    * cells, candidate pairs form within each (expanded) cell, and
    * each vector keeps its top-`k` neighbors over the union. With
    * `nAssign = 1` this is q117's in-cell edge set; with
    * `nAssign >= 2` a vector near a cell boundary shares its
    * SECOND-choice cell with the neighbors probe-1 search loses —
    * exactly the cross-cell edges graph-expansion serving
    * ([[graphExpandWithCodebook]]) needs to repair boundary recall.
    * The shippable graph artifact ([[graft.llm.Artifacts]]): built
    * once next to the codebook, loaded by every serve. Skew guard:
    * `maxCellSize` rank-truncates each (expanded) cell before the
    * quadratic pair step. */
  def knnGraphWithCodebook(vectors: DataFrame,
      centroids: Array[Array[Long]], k: Int, maxCellSize: Int = 0,
      nAssign: Int = 1): DataFrame = {
    require(nAssign >= 1, "nAssign must be positive")
    if (nAssign == 1)
      return inCellKnn(vectors, centroids, k, maxCellSize)._2
        .select(col("src"), col("dst"), col("dot_fp"))
    require(k > 0, "k must be positive")
    graft.GraftExtensions.ensure(vectors.sparkSession)
    val bc = vectors.sparkSession.sparkContext.broadcast(centroids)
    val assigned = quantized(vectors)
      .select(col("vec_id"),
        explode(probeCellsUdfOf(bc, nAssign)(col("e"))).as("cell"))
    val compared = if (maxCellSize > 0) {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("cell")).orderBy(col("vec_id"))
      assigned.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <= maxCellSize).drop("__rn")
    } else assigned
    // pair ids stay SKINNY through the cell shuffle (a pair sharing
    // two cells appears twice — distinct BEFORE the embedding joins
    // so each pair's exact dot is computed once)
    val pairIds = compared.select(col("cell"), col("vec_id").as("a_id"))
      .join(compared.select(col("cell"), col("vec_id").as("b_id")), "cell")
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"))
      .distinct()
    val pairs = pairIds
      .join(vectors.select(col("vec_id").as("a_id"),
        col("embedding").as("ae")), "a_id")
      .join(vectors.select(col("vec_id").as("b_id"),
        col("embedding").as("be")), "b_id")
      .select(col("a_id"), col("b_id"),
        Similarity.dotFpNative("ae", "be").as("dot_fp"))
    val directed = pairs.select(col("a_id").as("src"), col("b_id").as("dst"),
        col("dot_fp"))
      .unionByName(pairs.select(col("b_id").as("src"), col("a_id").as("dst"),
        col("dot_fp")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("src")).orderBy(col("dot_fp").desc, col("dst"))
    directed.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("src"), col("dst"), col("dot_fp"))
  }

  /** Graph-expansion ANN serve from SHIPPED artifacts: probe-1 IVF
    * seeds, ONE hop over the shipped in-cell kNN graph, exact rerank
    * over the expanded candidate set. The boundary repair a coarse
    * quantizer needs without raising nProbe: a true neighbor that
    * fell in an adjacent cell is usually a graph neighbor of some
    * same-cell seed, so expansion recovers it for at most
    * seeds×graph-k extra exact dots instead of another full cell
    * scan per probe. Output `(query_id, vec_id, dot_fp, rn ≤ k)` —
    * the [[fixedPointSearch]] contract, so recall cards compare the
    * variants directly. */
  def graphExpandWithCodebook(vectors: DataFrame, queries: DataFrame,
      centroids: Array[Array[Long]], edges: DataFrame, k: Int): DataFrame = {
    graft.GraftExtensions.ensure(vectors.sparkSession)
    val seeds = searchWithCodebook(vectors, queries, centroids, k, 1)
      .select(col("query_id"), col("vec_id"))
    val cand = seeds.unionByName(
        seeds.join(edges.select(col("src").as("vec_id"), col("dst")),
            Seq("vec_id"))
          .select(col("query_id"), col("dst").as("vec_id")))
      .distinct()
    val scored = cand
      .join(vectors.select(col("vec_id"), col("embedding").as("ce")),
        Seq("vec_id"))
      .join(queries.select(col("vec_id").as("query_id"),
        col("embedding").as("qe")), Seq("query_id"))
      .select(col("query_id"), col("vec_id"),
        Similarity.dotFpNative("qe", "ce").as("dot_fp"))
    Similarity.topKPerQuery(scored, k)
  }

  def mutualKnnWithCodebook(vectors: DataFrame,
      centroids: Array[Array[Long]], k: Int, maxCellSize: Int = 0): DataFrame = {
    val (members, ranked) = inCellKnn(vectors, centroids, k, maxCellSize)
    // an edge survives only if BOTH directions ranked ≤ k; cached
    // (skinny 2-col frame) because the closure consumes it thrice —
    // symmetrized edges, the touched-vertex set, and each round's
    // lineage — and recomputing means re-running the pair pipeline
    val mutual = Caches.persistTracked(ranked.select(col("src"), col("dst"))
      .join(ranked.select(col("dst").as("src"), col("src").as("dst")),
        Seq("src", "dst"))
      .filter(col("src") < col("dst"))
      .select(col("src").as("doc_a"), col("dst").as("doc_b")))
    // the closure iterates over edge-TOUCHED vertices only — vertices
    // with no mutual edge are singletons by definition and join back
    // as themselves, so the per-round frames scale with the matched
    // subset, not the corpus. Labels seed at least(self, min incident
    // neighbor) — the first propagation hop folded into init, saving a
    // full round on chain-shaped clusters (same unique fixpoint).
    val seeded = mutual.select(col("doc_a").as("doc_id"), col("doc_b").as("nbr"))
      .unionByName(mutual.select(col("doc_b").as("doc_id"), col("doc_a").as("nbr")))
      .groupBy(col("doc_id")).agg(min(col("nbr")).as("nbr_min"))
      .select(col("doc_id"), least(col("doc_id"), col("nbr_min")).as("cluster_id"))
    val labels = Dedup.connectedComponents(
      seeded.select(col("doc_id")), mutual, initLabels = Some(seeded))
    members.join(labels.withColumnRenamed("doc_id", "vec_id"),
        Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        coalesce(col("cluster_id"), col("vec_id")).as("cluster_id"))
  }

  /** IVF index-quality card: per trained cell, the member count, its
    * ppm share of the corpus, and the floor-mean squared distance to
    * the centroid — the evidence that decides nLists before anyone
    * serves from the index. List IMBALANCE is the scale killer probe
    * latency inherits (a cell holding 30% of a billion vectors makes
    * every probe touching it scan 3·10⁸ candidates), and mean radius
    * tells apart tight cells from junk-drawer cells; both replay
    * exactly in the oracle because training is fixed-point.
    *
    * Empty cells surface as zero rows (an over-provisioned codebook is
    * itself a finding). 100 TB shape: one scan-local assignment over
    * the broadcast codebook, one (cell)-keyed aggregation accumulating
    * in DECIMAL(38,0), and an nLists-row window for the shares. */
  def balanceCard(vectors: DataFrame, nLists: Int, nIter: Int = 3): DataFrame = {
    val spark = vectors.sparkSession
    val centroids = fitFixedPoint(vectors, nLists, nIter)
    val bc = spark.sparkContext.broadcast(centroids)
    val cellSq = udf { (e: Seq[Long]) =>
      val v = e.toArray
      var best = -1
      var bestD = Long.MaxValue
      var i = 0
      while (i < bc.value.length) {
        val c = bc.value(i)
        var d = 0L
        var j = 0
        while (j < c.length) { val x = v(j) - c(j); d += x * x; j += 1 }
        if (d < bestD) { bestD = d; best = i }
        i += 1
      }
      (best, bestD)
    }
    val g = quantized(vectors).select(cellSq(col("e")).as("cs"))
      .select(col("cs._1").as("cell"), col("cs._2").as("sqd"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("sqd").cast("decimal(38,0)")).as("s"))
    val cells = spark.range(nLists).select(col("id").cast("int").as("cell"))
    val w = org.apache.spark.sql.expressions.Window
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    cells.join(g, Seq("cell"), "left")
      .select(col("cell"), coalesce(col("n_vecs"), lit(0L)).as("n_vecs"),
        col("s"))
      .withColumn("__tot", sum(col("n_vecs")).over(w))
      .select(col("cell"), col("n_vecs"),
        expr("n_vecs * 1000000L div __tot").as("share_ppm"),
        expr("cast(coalesce(s div n_vecs, 0L) as bigint)").as("mean_sqdist"))
  }

  /** Top-k per query, scored only against the query's nProbe cells.
    * Scores use the same fixed-point `dot_fp` as the exact path. */
  def search(queries: DataFrame, indexed: DataFrame, model: Model,
      k: Int, nProbe: Int): DataFrame = {
    graft.GraftExtensions.ensure(queries.sparkSession)
    val centroids = model.centroids
    val probes = udf { (emb: Seq[Float]) =>
      Model(centroids).probeCells(emb.toArray, nProbe)
    }
    val q = broadcast(queries
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        explode(probes(col("embedding"))).as("cell")))
    val scored = q.join(indexed.select(col("vec_id"), col("embedding").as("ce"),
        col("cell")), Seq("cell"))
      .select(col("query_id"), col("vec_id"),
        Similarity.dotFpNative("qe", "ce").as("dot_fp"))
    Similarity.topKPerQuery(scored, k)
  }
}
