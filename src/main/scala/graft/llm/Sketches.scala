package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Mergeable streaming sketches with deterministic, engine-portable
  * hashing: a HyperLogLog-style distinct-count card and a count-min
  * frequency sketch. At 100 TB these are the survey instruments — a
  * 64-register distinct estimate or a 4×512 counter grid costs fixed
  * memory per group/stream regardless of cardinality, merges
  * associatively across partitions (max for HLL registers, sum for CM
  * counters), and never shuffles raw keys anywhere.
  *
  * Both are shipped as ERROR CARDS (the q75 quantization precedent):
  * sketch estimate next to the exact answer, so the oracle proves the
  * sketch arithmetic itself — register assignment, rho, the harmonic
  * sum, the min-over-rows — not just a tolerance.
  *
  * Hashing is md5-prefix based (`('0x' || substr(md5(k),1,8))` — the
  * q52 deterministic-sample trick): identical in Spark and DuckDB, so
  * every register and counter replays bit-for-bit. Rho uses the
  * digit-length log2 (`length(bin(r))`) — no floats anywhere.
  */
object Sketches {

  /** HLL geometry: m=64 registers (6 bucket bits), 26 value bits. */
  val HllRegisters = 64
  private val ValueBits = 26
  /** alpha_64 ≈ 0.709 in per-mille fixed point (raw HLL estimator —
    * no small-range correction; the card reports the raw sketch). */
  private val AlphaPm = 709L

  /** 32-bit deterministic hash of a string column, replayable in any
    * engine with md5: first 8 hex digits as an unsigned integer. */
  def md5Hash32(c: Column): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast("bigint")

  /** Checksum modulus: 2⁶¹−1, so a BIGINT-rendered sum of 32-bit row
    * hashes can never wrap at any corpus size. */
  val ChecksumMod = 2305843009213693951L

  /** Order-independent dataset integrity card — the replication /
    * migration audit a 100 TB lake runs instead of a row-by-row diff.
    * Per group: row count, distinct-row-hash count (catches duplicated
    * rows), a COMMUTATIVE content checksum (md5-based 32-bit row hash
    * over the \\u0001-delimited field rendering, summed mod
    * [[ChecksumMod]]), and the hash range. Pure map-side arithmetic +
    * one partial-aggregated groupBy — no sort, no join; two copies of
    * a table agree iff their cards agree, under ANY partitioning or
    * row order on either side. Callers render each field to string
    * themselves (nullable fields through `coalesce`) so the hashed
    * bytes are explicit and replayable. */
  /** The per-row content hash the integrity card aggregates —
    * \\u0001-delimited so field boundaries are unambiguous ("ab"+"c"
    * never collides with "a"+"bc"). Shared with the streaming twin
    * ([[graft.streaming.Streams.integrityIngest]]) so the two sides
    * hash identical bytes by construction. */
  private[graft] def integrityHash(fields: Seq[Column]): Column = {
    require(fields.nonEmpty, "integrityHash needs at least one field")
    md5Hash32(concat_ws("\u0001", fields: _*))
  }

  def integrityCard(df: DataFrame, groupCol: Column,
      fields: Seq[Column]): DataFrame = {
    val h = integrityHash(fields)
    df.select(groupCol.as("g"), h.as("h"))
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("h")).as("n_distinct_rows"),
        expr(s"cast(sum(cast(h as decimal(38,0))) % ${ChecksumMod}L as bigint)")
          .as("sum_hash"),
        min(col("h")).as("min_hash"),
        max(col("h")).as("max_hash"))
  }

  /** The register grid itself: `(g, b, mr)` — max rho per (group,
    * register). This IS the mergeable sketch state (merge = max), and
    * because max is an unordered streaming-safe aggregate it doubles
    * as the continuous form (a streaming frame runs this very
    * function, pinned in StreamingSpec). */
  def hllRegisters(df: DataFrame, groupCol: Column, keyCol: Column): DataFrame =
    df.select(groupCol.as("g"), md5Hash32(keyCol).as("h"))
      .withColumn("b", col("h") % HllRegisters)
      .withColumn("r", expr(s"h div $HllRegisters"))
      .withColumn("rho",
        when(col("r") === 0L, lit(ValueBits + 1L))
          .otherwise(lit(ValueBits + 1L) - length(bin(col("r")))))
      .groupBy(col("g"), col("b"))
      .agg(max(col("rho")).as("mr"))

  /** Per-group HLL distinct card: `(group, n_exact, hll_est,
    * err_ppm)`. Registers take max(rho) over the group's keys; unseen
    * registers contribute 2⁰ to the harmonic sum, exactly the raw HLL
    * estimator `α·m²/Σ2^(-ρ)` evaluated in integer arithmetic over
    * denominator 2²⁷. */
  /** The raw estimator `α·m²/Σ2^(-ρ)` over a register frame `(g, b,
    * mr)`, integer arithmetic at denominator 2²⁷: `(g, hll_est)`.
    * Shared by the per-group card and the union card so the two can
    * only differ in the registers they feed it. */
  private[graft] def hllEstimate(regs: DataFrame): DataFrame = {
    val one = 1L << (ValueBits + 1)
    regs.groupBy(col("g"))
      .agg(sum(expr(s"shiftleft(cast(1 as bigint), ${ValueBits + 1} - mr)")).as("s"),
        count(lit(1)).as("nb"))
      .select(col("g"), expr(
        s"cast(($AlphaPm * $HllRegisters * $HllRegisters * cast($one as bigint)) div " +
          s"(1000 * (s + ($HllRegisters - nb) * cast($one as bigint))) as bigint)")
        .as("hll_est"))
  }

  def hllDistinctCard(df: DataFrame, groupCol: Column, keyCol: Column): DataFrame = {
    val regs = hllRegisters(df, groupCol, keyCol)
    val est = hllEstimate(regs)
    val exact = df.select(groupCol.as("g"), keyCol.as("k"))
      .groupBy(col("g")).agg(countDistinct(col("k")).as("n_exact"))
    exact.join(est, Seq("g"))
      .select(col("g").as("group_key"), col("n_exact"), col("hll_est"),
        expr("cast((1000000 * abs(hll_est - n_exact)) div greatest(n_exact, 1) as bigint)")
          .as("err_ppm"))
  }

  /** The register monoid: two `(g, b, mr)` frames max-merge into the
    * sketch of the UNION of their inputs — associative and
    * commutative, and parquet round-trips registers exactly (integers
    * only). This is what lets a 100 TB store keep yesterday's
    * registers ON DISK and fold a new partition in without ever
    * touching raw history keys again; q246 certifies the shipped
    * round trip (loaded ⊕ delta == built-direct, bit-for-bit). */
  def mergeRegisters(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy(col("g"), col("b")).agg(max(col("mr")).as("mr"))

  /** The mergeability card — the property that makes sketches THE
    * survey instrument at 100 TB: per-group register grids max-merged
    * into a corpus union sketch must equal the sketch built directly
    * over the corpus, because max is associative and commutative.
    * One row: `(n_exact, union_est, direct_est, merge_exact)` — the
    * estimates agree bit-for-bit BY ALGEBRA, and the card (oracle-
    * replayed) certifies it rather than asserts it. Operationally this
    * is the contract that lets per-partition / per-day / per-tenant
    * sketches roll up without touching raw keys again. */
  def hllUnionCard(df: DataFrame, groupCol: Column, keyCol: Column): DataFrame = {
    val perGroup = hllRegisters(df, groupCol, keyCol)
    val mergedRegs = perGroup.groupBy(col("b")).agg(max(col("mr")).as("mr"))
      .withColumn("g", lit("all"))
    val unionEst = hllEstimate(mergedRegs)
      .select(col("hll_est").as("union_est"))
    val directEst = hllEstimate(hllRegisters(df, lit("all"), keyCol))
      .select(col("hll_est").as("direct_est"))
    val exact = df.select(keyCol.as("k"))
      .agg(countDistinct(col("k")).as("n_exact"))
    exact.crossJoin(unionEst).crossJoin(directEst)
      .select(col("n_exact"), col("union_est"), col("direct_est"),
        (col("union_est") === col("direct_est")).as("merge_exact"))
  }

  /** Count-min geometry: 4 hash rows — the four 32-bit lanes of one
    * md5. */
  val CmDepth = 4

  /** Fans each row out to its `CmDepth` (j, b) cells, carrying every
    * other column through — shared by counter build and probes so the
    * two sides cannot disagree on a bucket. Expects a `w` column.
    *
    * The `CmDepth` hash rows are the four 32-bit lanes of ONE md5 (hex
    * digits 1–8, 9–16, 17–24, 25–32) — md5 is the dominant cost of
    * the build, and its 128 bits already hold four independent
    * 32-bit hashes; computing it before the lane fan-out hashes each
    * token once instead of once per row. */
  private[graft] def cmSalted(df: DataFrame, width: Int): DataFrame = {
    val m = graft.Names.fresh("_m", df.columns)
    df.withColumn(m, md5(col("w")))
      .select(col("*"), explode(expr(s"sequence(0, ${CmDepth - 1})")).as("j"))
      .withColumn("b",
        expr(s"cast(conv(substr(`$m`, j * 8 + 1, 8), 16, 10) as bigint)") % width)
      .drop(m)
  }

  /** The depth×width counter grid `(j, b, tot)` summed straight off a
    * token-stream frame with column `w`. Sum is unordered and
    * mergeable, so this same build runs continuously
    * ([[graft.streaming.Streams.cmCounters]]). */
  def cmCounters(toks: DataFrame, width: Int): DataFrame =
    cmSalted(toks.select(col("w")), width)
      .groupBy(col("j"), col("b"))
      .agg(count(lit(1)).as("tot"))
  /** Count-min heavy-hitter card over a token stream: counters are
    * summed straight off the stream — one shuffle keyed on (row,
    * bucket), `depth·width` cells total, never a per-token state — and
    * the top-k exact tokens get their `min_j counter[j][h_j(w)]`
    * estimate next to the truth (`n_est ≥ n_exact` always, the CM
    * one-sided guarantee). */
  def cmsHeavyHitters(docs: DataFrame, idCol: String, textCol: String,
      width: Int, topK: Int): DataFrame = {
    require(width > 0 && topK > 0, "width and topK must be positive")
    val q = graft.Names.quoted _
    val toks = docs.select(
      explode(TextAnalysis.tokens(col(q(textCol)))).as("w"))
    val counters = cmCounters(toks, width)
    val freq = toks.groupBy(col("w")).agg(count(lit(1)).as("n_exact"))
    val top = freq.orderBy(col("n_exact").desc, col("w").asc).limit(topK)
    val probes = cmSalted(
      top.select(col("w"), col("n_exact")), width)
    probes.join(broadcast(counters), Seq("j", "b"))
      .groupBy(col("w"), col("n_exact"))
      .agg(min(col("tot")).as("n_est"))
      .select(col("w"), col("n_exact"), col("n_est"),
        (col("n_est") - col("n_exact")).as("overcount"))
  }

  /** Sum-merge two count-min counter grids — the CM monoid (cells a
    * side never touched are zero, so the union-then-sum is exact).
    * Grids from different slices/days/stores fold together without
    * ever seeing each other's raw tokens. */
  def mergeCounters(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b)
      .groupBy(col("j"), col("b"))
      .agg(sum(col("tot")).as("tot"))

  /** Per-group log2 histogram of a non-negative integer measure:
    * `(g, bucket, cnt)` where `bucket = length(bin(v))` — the binary
    * digit count, i.e. `1 + floor(log2 v)` (1 for 0). Pure integer
    * plumbing (no `log`, which is not cross-engine replayable), at
    * most 64 buckets per group regardless of data, and the merge is
    * sum-by-bucket — the quantile sketch a 100 TB pipeline keeps per
    * source/day instead of sorting the corpus. */
  def log2Histogram(df: DataFrame, groupCol: Column, valueCol: Column): DataFrame =
    df.select(groupCol.as("g"), length(bin(valueCol)).cast("int").as("bucket"))
      .groupBy(col("g"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))

  /** Quantile estimate read off a [[log2Histogram]]: the midpoint
    * `((1 << (b-1)) + (1 << b) - 1) div 2` of the first bucket whose
    * cumulative count reaches the ceil(p%·n) rank. Integer throughout;
    * the window runs over ≤64 rows per group. Returns
    * `(g, est_p<p>)`. */
  def histQuantile(hist: DataFrame, totals: DataFrame, p: Int): DataFrame = {
    require(p > 0 && p <= 100, s"p must be in (0,100], got $p")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("g")).orderBy(col("bucket"))
    hist.withColumn("cum", sum(col("cnt")).over(w))
      .join(totals.select(col("g"), col("n_docs")), Seq("g"))
      .withColumn("k", expr(s"(n_docs * $p + 99) div 100"))
      .filter(col("cum") >= col("k"))
      .groupBy(col("g"))
      .agg(min(col("bucket")).as("b"))
      .select(col("g"), expr(
        "(shiftleft(1L, b - 1) + shiftleft(1L, b) - 1L) div 2L")
        .as(s"est_p$p"))
  }
}
