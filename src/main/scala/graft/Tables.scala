package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** The engine's one parquet path: the testdata layout
  * (`sf&#42;/name.parquet`, see TESTDATA.md), the
  * chained stores' generations and epochs, and the trained artifacts
  * all read through [[read]] and write through [[write]].
  *
  * Spark 4.1 infers the schema of every `spark.read.parquet` with a
  * one-task Spark job (footer read by `ParquetUtils.inferSchema`). The
  * reference reads catalog tables, whose schema costs no job; this
  * path stands in for that catalog with a bounded LRU memo of
  * `StructType`, keyed on the session (and its parquet confs) and on
  * the leaf-file listing — each file's (path under the root, length,
  * mtime), digested like [[graft.llm.Artifacts.rootFor]]'s key:
  *  - a hit reads `spark.read.schema(s).parquet(path)`, which submits
  *    no job;
  *  - a miss infers as before and records the result;
  *  - [[write]] records the frame's schema under the listing it just
  *    produced, so a frame the engine wrote is never inferred, even
  *    after its directory is renamed (the listing is relative to the
  *    root).
  * The listing runs in-process ([[listing]]), as do the writes'
  * permission changes under [[LocalFs]].
  * No rows are cached: every read still lists and scans the files
  * (column pruning and predicate pushdown as before), and a rewrite
  * changes the key. The memo holds only metadata, so
  * [[graft.llm.Caches.unpersistAll]] leaves it in place. Writes
  * assume one writer per path, the stores' discipline.
  */
object Tables {

  /** Entries the schema memo holds before it drops the least recently
    * used one. */
  val MaxSchemas = 1024

  private val schemas =
    new java.util.LinkedHashMap[(String, String), StructType](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, String), StructType]): Boolean =
        size() > MaxSchemas
    }

  private val inferred = new java.util.concurrent.atomic.AtomicLong

  /** Reads in this JVM that missed the memo and ran Spark's schema
    * inference job. */
  def schemaInferences: Long = inferred.get

  /** The leaf files under `path` (or `path` itself, when a file), as
    * sorted `rel:length:mtime` entries, `.crc` sidecars left out; empty
    * when nothing is there. It walks `listStatus` rather than
    * `listFiles`: a `LocatedFileStatus` copies the permission, and
    * Hadoop's local file system starts an `ls -ld` process per file to
    * load it. Spark's own listing (`HadoopFSUtils`) skips it the same
    * way. */
  private[graft] def listing(spark: SparkSession, path: String): Seq[String] = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val base = fs.makeQualified(root).toUri.getPath
    val b = Seq.newBuilder[String]
    def walk(p: Path): Unit =
      fs.listStatus(p).foreach { f =>
        if (f.isDirectory) walk(f.getPath)
        else {
          val rel = f.getPath.toUri.getPath.stripPrefix(base)
          b += s"${if (rel.isEmpty) root.getName else rel}:" +
            s"${f.getLen}:${f.getModificationTime}"
        }
      }
    try { walk(root); b.result().sorted }
    catch { case _: java.io.FileNotFoundException => Nil }
  }

  /** Memo key of `path` in `spark`, or None when the path lists no
    * file (the read then fails or infers exactly as Spark would). */
  private def keyOf(spark: SparkSession, path: String)
      : Option[(String, String)] = {
    val files = listing(spark, path)
    // a session's parquet confs steer inference (nanosAsLong,
    // binaryAsString, ...), and they can change at runtime
    val confs = spark.conf.getAll.toSeq.filter(_._1.contains("parquet"))
      .sorted.mkString(",")
    if (files.isEmpty) None
    else Some(graft.llm.Caches.sessionId(spark) ->
      digest(files.mkString(s"$confs|", ",", "")))
  }

  /** Hex SHA-1 of `s`: the fixed-size form of a file-listing key. */
  def digest(s: String): String =
    java.security.MessageDigest.getInstance("SHA-1")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def remember(key: (String, String), schema: StructType): Unit =
    schemas.synchronized(schemas.put(key, schema): Unit)

  /** The parquet table or directory at `path`, its schema from the
    * memo when the listing is known. */
  def read(spark: SparkSession, path: String): DataFrame = {
    val key = keyOf(spark, path)
    key.flatMap(k => Option(schemas.synchronized(schemas.get(k)))) match {
      case Some(s) => spark.read.schema(s).parquet(path)
      case None =>
        inferred.incrementAndGet()
        val df = spark.read.parquet(path)
        key.foreach(remember(_, df.schema))
        df
    }
  }

  /** Overwrite `path` with `df` as parquet and record its schema, so
    * the next [[read]] of these files runs no inference job. The
    * caller shapes the partitioning (`coalesce(1)` for one file). */
  def write(df: DataFrame, path: String): Unit = {
    df.write.mode("overwrite").parquet(path)
    keyOf(df.sparkSession, path).foreach(remember(_, df.schema))
  }

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    read(spark, s"$dir/$name.parquet")

  def lineitem(s: SparkSession, d: String): DataFrame = apply(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame   = apply(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = apply(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame   = apply(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame   = apply(s, d, "region")
  /** `events.ts` has shipped in two parquet layouts across testdata
    * generations; normalize both to a µs TIMESTAMP (UTC session, so
    * values match the DuckDB oracle's naive-timestamp read):
    *  - INT64 TIMESTAMP(NANOS), which Spark's µs timestamp cannot hold
    *    — surfaces as LongType under
    *    `spark.sql.legacy.parquet.nanosAsLong=true` (set at session
    *    build by `Sessions.builder`; mutating it here per-read would be
    *    a hidden session-global side effect). Floor nanos to micros
    *    with true floored division (`(ts - pmod(ts,1000)) div 1000`,
    *    not truncation), mirroring the oracle's `epoch_ns(ts)//1000`
    *    even for pre-1970 timestamps.
    *  - INT64 TIMESTAMP(MICROS, isAdjustedToUTC=false) — surfaces as
    *    TIMESTAMP_NTZ; a plain cast reinterprets the naive value as
    *    session-zone (UTC) instant, value-identical to the nanos path.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val raw = apply(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts",
          timestamp_micros(expr("(ts - pmod(ts, 1000)) div 1000")))
      case _ =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")
}
