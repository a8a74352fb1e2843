package graft

import org.apache.spark.sql.SparkSession

/** Single place to construct engine SparkSessions so every entry point
  * (Verify, Bench, Smoke, tests) runs with identical semantics.
  *
  * Session-level settings (deliberately NOT mutated at read time —
  * see `Tables.events`):
  *  - `spark.sql.legacy.parquet.nanosAsLong`: the `events` table is
  *    INT64 TIMESTAMP(NANOS) parquet, which Spark's µs timestamp cannot
  *    hold; read the raw nanos as LongType instead.
  *  - UTC session timezone: keeps timestamp arithmetic aligned with the
  *    DuckDB oracle.
  *  - AQE on (Spark default) handles runtime join-strategy selection and
  *    skew splitting — the scale path relies on it instead of hints.
  *  - `spark.sql.artifact.isolation.enabled=false`: Spark's
  *    `CacheManager` fills every persisted frame in a cloned session,
  *    and each clone has a fresh session UUID. With isolation on (the
  *    default) the executor builds a new `ExecutorClassLoader` per
  *    UUID, and `CodeGenerator` caches compiled classes per
  *    `(class loader, code)` — so every cache fill recompiled all of
  *    its whole-stage code and leaked one more loader. The engine adds
  *    no session jars or artifacts, so one shared loader loses nothing.
  *  - `spark.sql.codegen.cache.maxEntries=2000`: the default of 100 is
  *    below the working set of one q172 + q308 pass at sf0.1 (147
  *    classes across the driver and executor loaders: 59 + 88), and an
  *    LRU cycling through more than its capacity never hits. A static
  *    conf: the cache is sized once per JVM, when `CodeGenerator` is
  *    first touched, so it holds only if no codegen runs before the
  *    first session is built. (DESIGN.md §6.)
  *  - `spark.sql.codegen.useIdInClassName=false`: whole-stage codegen
  *    otherwise writes the codegen stage id into each generated class
  *    name, and AQE numbers those stages differently from run to run,
  *    so a warm run's code misses the cache on the name alone (q310
  *    compiled 20 classes on its second pass). Without the id the
  *    class name is fixed and identical code hits the cache.
  *  - `spark.hadoop.fs.file.impl=graft.LocalFs`: with no libhadoop on
  *    the classpath, Hadoop's local file system starts a `chmod`
  *    process for every file and directory a write creates.
  *    [[LocalFs]] sets the same bits in-process and keeps the `.crc`
  *    checksums. Unset, `file:` resolves through a service file, which
  *    on Spark's classpath picks Hive's `ProxyLocalFileSystem`. Hadoop
  *    caches a file system by scheme and user, not class, so a `file:`
  *    file system this JVM created before the session keeps the stock
  *    class (DESIGN.md §6).
  *  - `spark.hadoop.fs.AbstractFileSystem.file.impl=
  *    graft.LocalFileContextFs`: the same for Hadoop's `FileContext`
  *    API, which `fs.file.impl` does not reach and which Spark's
  *    streaming checkpoints and state stores write through.
  */
object Sessions {
  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // static conf: installs the native Catalyst expressions
      // (get_wkb_geom_type, dot_fp) in every session of the app —
      // the same line a cluster deploy puts in spark-defaults.conf
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      // one executor class loader for every session, cache-fill clones
      // included: per-session loaders defeat the codegen cache, which
      // is keyed on (class loader, code) — see the scaladoc above
      .config("spark.sql.artifact.isolation.enabled", "false")
      // static conf: over 10× the codegen working set measured for a
      // q172 + q308 pass (147 entries), so a warm card run compiles
      // nothing
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      // one class name for every codegen stage, so identical code that
      // AQE numbered differently still hits the cache — see above
      .config("spark.sql.codegen.useIdInClassName", "false")
      // local parquet I/O without a shell process per file: the same
      // permission bits and checksums, set in-process — see above
      .config("spark.hadoop.fs.file.impl", "graft.LocalFs")
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        "graft.LocalFileContextFs")

  /** local[$cpus] session sized from SPARK_GRAFT_CPUS (driver contract). */
  def local(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    builder(s"local[$cpus]", cpus).getOrCreate()
  }
}
