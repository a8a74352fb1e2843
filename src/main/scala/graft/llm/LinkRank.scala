package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Link-graph authority scoring — PageRank (Page et al. 1999) in the
  * repo's deterministic fixed-point frame. Web-scale curation
  * pipelines rank DOMAINS by link authority and feed the score into
  * the keep/drop decision (a page on a well-linked host is worth more
  * than the same text on a link farm); this is that signal, computed
  * the way every other trained operator here is: integer arithmetic
  * end to end, so the result is partition-invariant and the oracle
  * replays every iteration as an unrolled CTE (`q87_pagerank`).
  *
  * Update rule, all in longs (`div` = floor division, every value
  * non-negative):
  *
  *   pr₀(v)    = scale div n
  *   share(u)  = pr_t(u) div outdeg(u)
  *   pr_{t+1}(v) = (scale·(100−d)) div (100·n)
  *                 + (d · Σ_{u→v} share(u)) div 100
  *
  * with `d` the damping numerator (85 = the classic 0.85). Floor
  * losses mean Σpr drifts a little below `scale` per round — the
  * ranking signal is unaffected and determinism is what buys the
  * oracle.
  *
  * 100 TB shape: per iteration, ONE shuffle keyed on `src` (the
  * share join; the edge side's exchange is built once and reused by
  * every round) and one aggregation keyed on `dst`; the driver holds
  * a single scalar (the node count — the bounded-collect precedent);
  * no adjacency ever materializes driver-side. Dangling nodes
  * contribute nothing (their mass evaporates, the standard
  * simplification); in-link-less nodes settle at the base term. Deep iteration counts should
  * checkpoint every few rounds (plan depth grows linearly) — the
  * caller's knob, per the dupSpanStats materialization precedent. */
object LinkRank {

  /** Fixed-point PageRank over an edge list `(src, dst)` (long ids).
    * Returns every node: `(v, pr_fp)` at scale `scale`. */
  def pageRankFp(edges: DataFrame, nIter: Int,
      scale: Long = 1000000000000L, dampNum: Long = 85L): DataFrame = {
    require(nIter >= 0, "nIter must be non-negative")
    require(scale > 0L, "scale must be positive")
    require(dampNum >= 0L && dampNum <= 100L, "dampNum must be in [0, 100]")
    val e = withOutDegree(edges)
    val nodes = Caches.persistTracked(
      e.select(col("src").as("v")).union(e.select(col("dst").as("v"))).distinct())
    val n = math.max(nodes.count(), 1L)
    val base = (scale * (100L - dampNum)) / (100L * n)
    var pr = nodes.select(col("v"), lit(scale / n).as("pr"))
    for (_ <- 0 until nIter) {
      pr = nodes.join(contributions(e, pr), Seq("v"), "left")
        .select(col("v"),
          (lit(base) + expr(s"(${dampNum}L * coalesce(c, 0L)) div 100L")).as("pr"))
    }
    pr.select(col("v"), col("pr").as("pr_fp"))
  }

  /** The edge list `(src, dst, outdeg)`: the out-degree lands on
    * every edge once, from a window keyed on `src`, so no round joins
    * (and re-broadcasts) a degree aggregate. It is deliberately NOT
    * persisted. Every round joins the same edge subtree, so AQE builds
    * its exchange (or broadcast) once and reuses it — but AQE reuses
    * no exchange above a persisted frame's scan (DESIGN.md), so a
    * persisted edge list would be re-broadcast every round. The one
    * extra pass is the persisted node frame's fill. */
  private def withOutDegree(edges: DataFrame): DataFrame =
    edges.select(col("src").cast("bigint").as("src"),
        col("dst").cast("bigint").as("dst"))
      .withColumn("outdeg", count(lit(1)).over(Window.partitionBy(col("src"))))

  /** One round's in-flow `(v, c)`: every edge carries
    * `pr(src) div outdeg(src)` to its `dst`. */
  private def contributions(e: DataFrame, pr: DataFrame): DataFrame =
    e.join(pr.withColumnRenamed("v", "src"), Seq("src"))
      .groupBy(col("dst").as("v")).agg(sum(expr("pr div outdeg")).as("c"))

  /** Depth-bounded BFS: shortest hop distance from a seed set, along
    * directed edges, up to `maxDepth` hops — the k-hop reachability
    * primitive (seed-expansion curation: "everything within 3 links
    * of a trusted domain", blast-radius analysis, lineage walks).
    * Returns `(v, dist)` for every vertex REACHED within the bound;
    * distances are exact BFS layers, so the result is a pure function
    * of the graph and the oracle replays each round as a CTE.
    *
    * 100 TB shape: the frontier frame holds one row per reached
    * vertex; each round is ONE join keyed on `src` plus a min-
    * aggregation keyed on `dst` — co-partition `edges` by src and the
    * join is map-side. Nothing driver-side; depth is a small constant
    * (the operator's contract, not a convergence loop), so the plan is
    * `maxDepth` stages deep and needs no checkpointing at sane
    * depths. */
  def khopDistances(edges: DataFrame, seeds: DataFrame, maxDepth: Int): DataFrame = {
    require(maxDepth >= 0, "maxDepth must be non-negative")
    val e = Caches.persistTracked(
      edges.select(col("src").cast("bigint").as("src"),
        col("dst").cast("bigint").as("dst")))
    var dist = seeds.select(col("v").cast("bigint").as("v"), lit(0L).as("dist"))
    for (_ <- 0 until maxDepth) {
      val step = e.join(dist.withColumnRenamed("v", "src"), "src")
        .groupBy(col("dst").as("v")).agg(min(col("dist") + 1L).as("nd"))
      dist = dist.join(step, Seq("v"), "full")
        .select(col("v"),
          least(coalesce(col("dist"), col("nd")),
            coalesce(col("nd"), col("dist"))).as("dist"))
    }
    dist
  }

  /** Per-vertex triangle participation over the UNDIRECTED support of
    * an edge list `(src, dst)`: `(v, n_tri)` for every graph vertex,
    * zero-participants included.
    *
    * The count uses degree orientation (the distributed-triangle
    * standard): each undirected edge points from its (degree, id)-
    * smaller endpoint to the larger, which is acyclic, so every
    * triangle has exactly one vertex with both out-edges — wedges form
    * only among a vertex's out-neighbors, whose count is bounded by
    * arboricity rather than raw degree. A star hub with a million
    * spokes generates ZERO wedges here (all its edges point inward),
    * which is precisely the skew case that kills the naive
    * lowest-id orientation. Wedge closure is one equi-join back
    * against the oriented edges; ids never carry payloads. */
  def triangleCounts(edges: DataFrame): DataFrame = {
    val und = edges.select(
        least(col("src"), col("dst")).cast("bigint").as("u"),
        greatest(col("src"), col("dst")).cast("bigint").as("v"))
      .filter(col("u") =!= col("v")).distinct()
    val und2 = Caches.persistTracked(und)
    val deg = und2.select(col("u").as("x"))
      .unionAll(und2.select(col("v").as("x")))
      .groupBy(col("x")).agg(count(lit(1)).as("d"))
    val withDeg = und2
      .join(deg.select(col("x").as("u"), col("d").as("du")), Seq("u"))
      .join(deg.select(col("x").as("v"), col("d").as("dv")), Seq("v"))
    val fwd = col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v"))
    val o = Caches.persistTracked(withDeg.select(
      when(fwd, col("u")).otherwise(col("v")).as("a"),
      when(fwd, col("v")).otherwise(col("u")).as("b"),
      when(fwd, col("dv")).otherwise(col("du")).as("db")))
    // Spread.byKey on the wedge key: the out-neighbor pair expansion
    // is CPU-heavy with tiny bytes (the q220 coalescing rationale);
    // no-op at production input sizes
    val oK = Spread.byKey(o, col("a"))
    val e1 = oK.select(col("a"), col("b").as("y"), col("db").as("dy"))
    val e2 = oK.select(col("a"), col("b").as("z"), col("db").as("dz"))
    val wedges = e1.join(e2, Seq("a"))
      .filter(col("dy") < col("dz") || (col("dy") === col("dz") && col("y") < col("z")))
    val tris = wedges.join(o.select(col("a").as("y"), col("b").as("z")), Seq("y", "z"))
      .select(col("a"), col("y"), col("z"))
    val perVertex = tris.select(explode(array(col("a"), col("y"), col("z"))).as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("n_tri"))
    val nodes = und2.select(col("u").as("v")).unionAll(und2.select(col("v")))
      .distinct()
    nodes.join(perVertex, Seq("v"), "left")
      .select(col("v"), coalesce(col("n_tri"), lit(0L)).as("n_tri"))
  }

  /** Personalized PageRank — [[pageRankFp]] with the teleport mass
    * confined to a SEED set: the trust-propagation scorer seed-based
    * curation runs ("rank everything by closeness to these vetted
    * domains", the continuous counterpart of [[khopDistances]]'
    * hard hop cutoff). Identical fixed-point frame and per-round
    * shuffle budget as the global walk; the only changes are the
    * initial mass (`scale div |S|` on seeds, 0 elsewhere) and the
    * base term (paid to seeds only). Seeds are intersected with the
    * graph's node set by the init join; `|S|` is the distinct seed
    * count as given (a seed outside the graph keeps its mass share
    * reserved and unspent — the caller's data bug to surface, not
    * silently renormalize). */
  def personalizedPageRankFp(edges: DataFrame, seeds: DataFrame,
      nIter: Int, scale: Long = 1000000000000L,
      dampNum: Long = 85L): DataFrame = {
    require(nIter >= 0, "nIter must be non-negative")
    require(scale > 0L, "scale must be positive")
    require(dampNum >= 0L && dampNum <= 100L, "dampNum must be in [0, 100]")
    val e = withOutDegree(edges)
    val sd = Caches.persistTracked(
      seeds.select(col("v").cast("bigint").as("v")).distinct()
        .withColumn("is_seed", lit(true)))
    val nS = math.max(sd.count(), 1L)
    val base = (scale * (100L - dampNum)) / (100L * nS)
    // the seed flag rides the persisted node frame, so no round joins
    // (and re-broadcasts) the seed set again
    val nodes = Caches.persistTracked(
      e.select(col("src").as("v")).union(e.select(col("dst").as("v")))
        .distinct().join(broadcast(sd), Seq("v"), "left"))
    var pr = nodes.select(col("v"),
      when(col("is_seed"), lit(scale / nS)).otherwise(lit(0L)).as("pr"))
    for (_ <- 0 until nIter) {
      pr = nodes.join(contributions(e, pr), Seq("v"), "left")
        .select(col("v"),
          (when(col("is_seed"), lit(base)).otherwise(lit(0L)) +
            expr(s"(${dampNum}L * coalesce(c, 0L)) div 100L")).as("pr"))
    }
    pr.select(col("v"), col("pr").as("ppr_fp"))
  }

  /** Fixed-point HITS (Kleinberg 1999) — the hubs/authorities
    * complement of [[pageRankFp]]: a node is a good HUB if it links
    * to good authorities, a good AUTHORITY if good hubs link to it
    * (a directory page vs a canonical source — PageRank conflates
    * the two roles, HITS separates them). Same determinism frame as
    * every trained operator here: integer arithmetic end to end, so
    * the oracle replays every round as unrolled CTEs.
    *
    * Update rule (all non-negative; `div` = floor division):
    *
    *   a₀(v) = scale
    *   h_t(v) = (Σ_{v→w} a_t(w)) · scale div max-over-nodes(Σ …)
    *   a_{t+1}(w) = (Σ_{v→w} h_t(v)) · scale div max(…)
    *
    * Max-normalization (the standard HITS choice, integer-exact
    * here) replaces the usual L2 norm, which no integer replay could
    * express; the per-round maxima are single broadcast scalars.
    * Sums accumulate in DECIMAL(38,0): a node with 10⁹ in-links at
    * scale 10¹² overflows a BIGINT sum, 100 TB reach demands the
    * wide accumulator (the [[graft.queries.Relational]] sumFp
    * precedent).
    *
    * 100 TB shape: per round, one join keyed on `dst` + one
    * aggregation keyed on `src` (then the mirror pair) — the same
    * two-shuffle budget as a PageRank round; score frames are
    * node-sized; nothing driver-side. */
  def hitsFp(edges: DataFrame, nIter: Int,
      scale: Long = 1000000000000L): DataFrame = {
    require(nIter >= 1, "nIter must be at least 1")
    // the per-round materializations live in the bounded tracked
    // cache (2 frames per round + edges + nodes); beyond ~6 rounds
    // oldest-first eviction would silently reintroduce the
    // exponential recompute the persists exist to prevent — refuse
    // loudly (HITS converges in a handful of rounds; checkpoint
    // between calls if more are genuinely needed)
    require(nIter <= 6,
      s"nIter = $nIter exceeds the tracked-cache budget (max 6) — " +
        "run hitsFp in stages with checkpointing instead")
    require(scale > 0L, "scale must be positive")
    val e = Caches.persistTracked(
      edges.select(col("src").cast("bigint").as("src"),
        col("dst").cast("bigint").as("dst")))
    val nodes = Caches.persistTracked(
      e.select(col("src").as("v")).union(e.select(col("dst").as("v"))).distinct())
    var auth = nodes.select(col("v"), lit(scale).as("a"))
    var hub = nodes.select(col("v"), lit(scale).as("h"))
    for (_ <- 0 until nIter) {
      // each raw-sum frame feeds TWO consumers (its max scalar and the
      // normalized scores) and the next round builds on top — without
      // materialization the lineage recomputes every earlier round
      // once per consumer, exponentially. The persisted frames are
      // node-sized (the CC/PageRank iteration precedent).
      val hraw = Caches.persistTracked(
        e.join(auth.select(col("v").as("dst"), col("a")), Seq("dst"))
          .groupBy(col("src")).agg(sum(col("a").cast("decimal(38,0)")).as("hr")))
      val hmax = hraw.agg(max(col("hr")).as("hm"))
      hub = nodes.join(hraw.withColumnRenamed("src", "v"), Seq("v"), "left")
        .crossJoin(broadcast(hmax))
        .select(col("v"), expr(s"cast((coalesce(hr, 0) * ${scale}L)" +
          " div greatest(hm, 1) as bigint)").as("h"))
      val araw = Caches.persistTracked(
        e.join(hub.select(col("v").as("src"), col("h")), Seq("src"))
          .groupBy(col("dst")).agg(sum(col("h").cast("decimal(38,0)")).as("ar")))
      val amax = araw.agg(max(col("ar")).as("am"))
      auth = nodes.join(araw.withColumnRenamed("dst", "v"), Seq("v"), "left")
        .crossJoin(broadcast(amax))
        .select(col("v"), expr(s"cast((coalesce(ar, 0) * ${scale}L)" +
          " div greatest(am, 1) as bigint)").as("a"))
      // LAZY per-round truncation (the GeoGrid kNN precedent), and the
      // second half of the double-consumer fix: hub feeds BOTH the
      // araw aggregate and (last round) the final join, auth feeds the
      // next round's hraw and the final join — unmaterialized, each
      // consumer replays the normalize join + broadcast-max subquery.
      // localCheckpoint materializes each score frame once
      // (node-sized), truncates the per-round plan nesting that grows
      // analysis cost and bench variance, and stays off the tracked
      // cache budget (the ContextCleaner frees checkpoint blocks when
      // the frame is dropped). Values are exact integers — truncation
      // cannot perturb the oracle-replayed result.
      hub = hub.localCheckpoint(eager = false)
      auth = auth.localCheckpoint(eager = false)
    }
    hub.join(auth, Seq("v"))
      .select(col("v"), col("h").as("hub_fp"), col("a").as("auth_fp"))
  }
}
