package graft.llm

import org.apache.spark.sql.SparkSession

import scala.collection.mutable.ArrayBuffer

/** Document fingerprinting via rolling hashes + winnowing
  * (Schleimer/Wilkerson/Aiken's MOSS scheme): Rabin–Karp hashes of all
  * `w`-byte windows, then the minimum hash of every `g`-hash window is
  * kept (rightmost minimum). Shifted or locally-edited copies share
  * most fingerprints, which makes containment detection robust where
  * whole-document hashing fails.
  *
  * Scale shape: fingerprints are computed row-local (a UDF), then
  * candidate detection is `explode(fingerprints)` → groupBy/bucket
  * join on the fingerprint value — the same bucket-join pattern as
  * [[MinHashLSH]]/[[SimHash]]; nothing quadratic, no driver state.
  */
object Fingerprint {

  val DefaultWindow = 16  // bytes per rolling hash
  val DefaultGuarantee = 8 // winnowing window (hashes)

  private val Base = 1000003L
  private val Mod = (1L << 61) - 1 // Mersenne prime: no bias, no overflow

  /** Rabin–Karp rolling hashes of all w-byte windows. */
  def rollingHashes(bytes: Array[Byte], w: Int): Array[Long] = {
    if (bytes == null || bytes.length < w || w <= 0) return Array.empty
    val out = new Array[Long](bytes.length - w + 1)
    var pow = 1L
    var i = 0
    while (i < w - 1) { pow = mulMod(pow, Base); i += 1 }
    var h = 0L
    i = 0
    while (i < w) { h = (mulMod(h, Base) + (bytes(i) & 0xff)) % Mod; i += 1 }
    out(0) = h
    i = w
    while (i < bytes.length) {
      h = (h - mulMod(bytes(i - w) & 0xff, pow) % Mod + Mod) % Mod
      h = (mulMod(h, Base) + (bytes(i) & 0xff)) % Mod
      out(i - w + 1) = h
      i += 1
    }
    out
  }

  /** 128-bit-safe modular multiply via Math.multiplyHigh split. */
  private def mulMod(a: Long, b: Long): Long = {
    // Mod = 2^61 - 1: reduce a*b = hi·2^64 + lo using 2^64 ≡ 8 (mod M)
    val hi = Math.multiplyHigh(a, b)
    val lo = a * b
    val loMod = java.lang.Long.remainderUnsigned(lo, Mod)
    val hiMod = (hi % Mod * (8 % Mod)) % Mod // 2^64 mod (2^61-1) = 8
    (loMod + hiMod) % Mod
  }

  /** Winnowing: rightmost minimum of each g-window of hashes, deduped
    * on consecutive repeats. */
  def winnow(hashes: Array[Long], g: Int): Array[Long] = {
    if (hashes.isEmpty || g <= 0) return Array.empty
    if (hashes.length <= g) return Array(hashes.min)
    val out = new ArrayBuffer[Long]()
    var lastPos = -1
    var i = 0
    while (i + g <= hashes.length) {
      var minPos = i
      var j = i + 1
      while (j < i + g) { if (hashes(j) <= hashes(minPos)) minPos = j; j += 1 }
      if (minPos != lastPos) { out += hashes(minPos); lastPos = minPos }
      i += 1
    }
    out.toArray
  }

  /** Winnowed fingerprints of a document. */
  def fingerprints(text: String, w: Int = DefaultWindow,
      g: Int = DefaultGuarantee): Array[Long] = {
    if (text == null) return Array.empty
    winnow(rollingHashes(text.getBytes(java.nio.charset.StandardCharsets.UTF_8), w), g)
  }

  /** Fraction (fixed-point millionths) of `a`'s fingerprints present
    * in `b` — containment, the MOSS similarity measure. */
  def containmentFp(a: Array[Long], b: Array[Long]): Long = {
    if (a == null || a.isEmpty) return 0L
    val bs = b.toSet
    math.floor(1e6 * a.count(bs.contains) / a.length).toLong
  }

  /** Expected chunk spacing for [[cdcCuts]]: a cut fires where the
    * rolling hash ≡ 0 (mod divisor), so chunks average ~divisor bytes
    * plus the window. */
  val CdcDivisor = 64L

  /** Content-defined chunk cut points (the Rabin-CDC core of LBFS /
    * FastCDC, minus their min/max clamps — clamping makes the cut
    * sequence a stateful scan that no longer replays as a per-position
    * predicate, so this is the PURE content-defined variant: every
    * position whose w-byte rolling hash divides `divisor` cuts).
    * Returns the 1-based byte END offset of each cut, strictly
    * ascending, excluding the document end (the final chunk is the
    * remainder, so a caller appending `nb` always gets non-empty
    * chunks). Why content-defined instead of fixed-size: an insertion
    * near the head shifts every fixed-size boundary and re-keys the
    * whole tail, while CDC boundaries re-synchronize at the next cut
    * — chunk identities downstream of the edit survive, which is what
    * makes chunk-level dedup find PARTIAL overlap between revisions
    * (pinned in FingerprintSpec). */
  def cdcCuts(text: String, w: Int = DefaultWindow,
      divisor: Long = CdcDivisor): Array[Int] = {
    if (text == null) return Array.empty
    cdcCutEnds(text.getBytes(java.nio.charset.StandardCharsets.UTF_8), w, divisor)
  }

  /** [[cdcCuts]] over raw UTF-8 bytes — the allocation-light core the
    * native `cdc_cuts` expression calls: `UTF8String` is already
    * UTF-8, so the codegen path never materializes a
    * `java.lang.String` or re-encodes. */
  def cdcCutEnds(bytes: Array[Byte], w: Int = DefaultWindow,
      divisor: Long = CdcDivisor): Array[Int] = {
    if (bytes == null) return Array.empty
    val hs = rollingHashes(bytes, w)
    val out = new ArrayBuffer[Int]()
    var i = 0
    while (i < hs.length) {
      val end = i + w // 1-based end byte of window i
      if (hs(i) % divisor == 0L && end < bytes.length) out += end
      i += 1
    }
    out.toArray
  }

  /** The native expression's shared kernel: cut ends of a (possibly
    * null) UTF8String as unsafe ArrayData — one primitive-array copy,
    * no String round-trip. Null packs to an EMPTY array, matching the
    * historical `cdc_cuts` UDF contract. */
  def cdcCutsArrayData(s: org.apache.spark.unsafe.types.UTF8String,
      divisor: Long = CdcDivisor)
      : org.apache.spark.sql.catalyst.util.ArrayData =
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(
        if (s == null) Array.emptyIntArray
        else cdcCutEnds(s.getBytes, divisor = divisor))

  /** The corpus → CDC-chunk frame `(doc_id, st, en, len, ck)`:
    * 1-based byte spans from [[cdcCuts]] plus the engine-portable
    * chunk identity (md5 of the LOWERCASED HEX of the byte slice —
    * DuckDB cannot slice blobs, so the hex spelling is the one both
    * engines compute identically). Requires [[register]] on the
    * session. Row-local until the caller shuffles the chunk keys;
    * ~bytes/CdcDivisor rows per document. Shared by the q234 dedup
    * card, the q235/q236 admission paths, and the streaming ingest
    * twin, so batch and stream can never disagree about what a chunk
    * IS. */
  def cdcChunkFrame(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String,
      divisor: Long = CdcDivisor): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val qi = graft.Names.quoted(idCol)
    val qt = graft.Names.quoted(textCol)
    docs
      .select(col(qi).as("doc_id"),
        coalesce(col(qt), lit("")).as("__text"))
      .withColumn("__bin", col("__text").cast("binary"))
      .withColumn("__nb", length(col("__bin")).cast("int"))
      .filter(col("__nb") > 0)
      .withColumn("__cuts", expr(s"cdc_cuts(__text, ${divisor}L)"))
      .withColumn("__starts",
        expr("concat(array(1), transform(__cuts, c -> c + 1))"))
      .withColumn("__ends", expr("concat(__cuts, array(__nb))"))
      .select(col("doc_id"), col("__bin"),
        posexplode(arrays_zip(col("__starts"), col("__ends")))
          .as(Seq("__ci", "__se")))
      .select(col("doc_id"), col("__bin"),
        col("__se.__starts").as("st"), col("__se.__ends").as("en"))
      .withColumn("len", (col("en") - col("st") + 1).cast("bigint"))
      .withColumn("ck",
        md5(lower(hex(expr("substring(__bin, st, en - st + 1)")))))
      .drop("__bin")
  }

  /** The REFCOUNTED chunk-store index `(ck, n)` — q236's distinct-key
    * index plus the reference count content-addressed deletion needs:
    * q237's removability rule ("a chunk deletes only when its LAST
    * contributor goes") becomes maintainable state instead of a
    * per-erasure recount. One chunk pass + one key-keyed aggregate. */
  def chunkCountIndex(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    cdcChunkFrame(docs, idCol, textCol)
      .groupBy(col("ck")).agg(count(lit(1)).as("n"))
  }

  /** Erasure-APPLY on the refcounted chunk index: the erased docs
    * chunk ROW-LOCALLY (the store is never re-chunked), their per-key
    * multiset decrements the refcounts, and keys at zero delete.
    * Fold ≡ rebuild-without-the-set exactly — chunking is a pure
    * row-local function, so the erased docs' contribution re-derives
    * bit-identically (pinned on-corpus by q295). Erasing a doc absent
    * from the store under-flows nothing only if it truly contributed
    * — the same contributor precondition as
    * [[NbClassifier.eraseCounts]]. */
  def chunkIndexErase(index: org.apache.spark.sql.DataFrame,
      erasedDocs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame =
    foldEraseCounts(index, chunkCountIndex(erasedDocs, idCol, textCol))

  /** The decrement half of [[chunkIndexErase]] over an already-
    * chunked `(ck, n)` multiset — the [[ChunkStore]] erase fold (the
    * chained store chunks a batch once, at append; replay is pure
    * frame arithmetic). ONE spelling for both paths, so the batch
    * erase card and the chained store cannot disagree. */
  def foldEraseCounts(index: org.apache.spark.sql.DataFrame,
      eraseCounts: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    index
      .join(eraseCounts.select(col("ck"), col("n").as("__en")),
        Seq("ck"), "left")
      .select(col("ck"),
        (col("n") - coalesce(col("__en"), lit(0L))).cast("bigint").as("n"))
      .filter(col("n") > 0L)
  }

  /** Row-local twin of [[cdcChunkFrame]]'s identity derivation:
    * `(len, chunk_key)` per chunk, with the key spelled EXACTLY like
    * the frame's `ck` column (md5 over the lowercased hex of the
    * byte slice, lowercase hex digest) — pinned equal in
    * FingerprintSpec so the streaming admission meter and the batch
    * store can never disagree about a chunk's name. */
  def cdcChunkKeys(text: String): Array[(Long, String)] = {
    if (text == null) return Array.empty
    val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    if (bytes.isEmpty) return Array.empty
    val cuts = cdcCuts(text)
    val ends = cuts :+ bytes.length
    val starts = 1 +: cuts.map(_ + 1)
    val md = java.security.MessageDigest.getInstance("MD5")
    starts.zip(ends).map { case (s, e) =>
      val hexs = bytes.slice(s - 1, e).map("%02x".format(_)).mkString
      md.reset()
      val dig = md.digest(hexs.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
        .map("%02x".format(_)).mkString
      ((e - s + 1).toLong, dig)
    }
  }

  def register(spark: SparkSession): Unit = {
    spark.udf.register("doc_fingerprints",
      (text: String) => fingerprints(text))
    spark.udf.register("fingerprint_containment_fp",
      (a: Seq[Long], b: Seq[Long]) =>
        containmentFp(Option(a).map(_.toArray).orNull, Option(b).map(_.toArray).getOrElse(Array.empty)))
    // cdc_cuts is a NATIVE expression (a GraftExtensions row), not a
    // UDF: the chunking hot path stays inside whole-stage codegen.
    // FingerprintSpec pins native == cdcCuts.
    graft.GraftExtensions.ensure(spark)
  }
}
