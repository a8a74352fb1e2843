package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[Tables]]' schema memo: a read whose files the memo knows submits
  * no Spark job and returns what an inferring read returns; a changed
  * listing or another session infers again; and no other `src/main`
  * file reads or writes parquet around it. */
class TablesSpec extends AnyFunSuite with SparkTestSession {

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("tables-spec-").toString

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map {
      case b: Array[Byte] => b.toSeq.toString // arrays compare by identity
      case v => String.valueOf(v)
    }.mkString("|")).toSeq.sorted

  /** One column of each type the engine's frames carry. */
  private def wide: DataFrame =
    spark.range(6).select(col("id"), col("id").cast("string").as("s"),
      col("id").cast("string").cast("binary").as("bin"),
      col("id").cast("decimal(38,0)").as("dec"),
      array(col("id"), col("id") * 2).as("arr"),
      map(col("id").cast("string"), col("id")).as("m"),
      struct(col("id").as("x"), lit("y").as("y")).as("st"),
      timestamp_seconds(col("id")).as("ts"))

  test("a second read of an unchanged path submits no job and returns the same rows") {
    val p = tmpDir() + "/t"
    wide.write.parquet(p) // written around the path: the memo has no entry
    val n0 = Tables.schemaInferences
    var first: DataFrame = null
    val coldJobs = SparkJobs.jobs(spark) { first = Tables.read(spark, p) }
    var second: DataFrame = null
    val warmJobs = SparkJobs.jobs(spark) { second = Tables.read(spark, p) }
    assert(coldJobs >= 1, "the first read infers the schema with a job")
    assert(warmJobs === 0)
    assert(Tables.schemaInferences - n0 === 1L)
    assert(second.schema === first.schema)
    assert(rows(second) === rows(first))
  }

  test("a read seeded by a write submits no job and matches the inferred schema") {
    val p = tmpDir() + "/t"
    Tables.write(wide, p)
    var df: DataFrame = null
    assert(SparkJobs.jobs(spark) { df = Tables.read(spark, p) } === 0)
    assert(df.schema === spark.read.parquet(p).schema)
    assert(rows(df) === rows(wide))
  }

  test("an overwrite with another schema reads back the new schema") {
    val p = tmpDir() + "/t"
    Tables.write(wide, p)
    assert(Tables.read(spark, p).columns.contains("arr"))
    val other = spark.range(3).select(col("id").as("k"), lit("v").as("v"))
    // overwritten around the path: only the new listing tells
    other.write.mode("overwrite").parquet(p)
    val df = Tables.read(spark, p)
    assert(df.schema === spark.read.parquet(p).schema)
    assert(df.columns.toSeq === Seq("k", "v"))
    assert(rows(df) === rows(other))
  }

  test("a directory renamed after its write still reads without a job") {
    val d = tmpDir()
    Tables.write(wide, d + "/.tmp-epoch")
    // the epoch publication move: temp sibling -> its final name
    java.nio.file.Files.move(java.nio.file.Paths.get(d, ".tmp-epoch"),
      java.nio.file.Paths.get(d, "e0000000000001"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    var df: DataFrame = null
    assert(SparkJobs.jobs(spark) {
      df = Tables.read(spark, d + "/e0000000000001")
    } === 0)
    assert(rows(df) === rows(wide))
  }

  test("a partitioned write keys on its nested files, .crc sidecars left out") {
    val p = tmpDir() + "/t"
    def write(n: Int): DataFrame = {
      val df = spark.range(n).select(col("id"), (col("id") % 3).as("k"))
        .coalesce(1)
      df.write.mode("overwrite").partitionBy("k").parquet(p)
      df
    }
    write(12)
    val files = Tables.listing(spark, p).map(_.split(":").head)
    assert(files.count(_.matches("/k=[0-2]/part-.*\\.parquet")) === 3, files)
    assert(!files.exists(_.endsWith(".crc")), files)
    assert(new java.io.File(p + "/k=0").list().exists(_.endsWith(".crc")),
      "the sidecars are on disk")
    val n0 = Tables.schemaInferences
    Tables.read(spark, p)
    var df: DataFrame = null
    assert(SparkJobs.jobs(spark) { df = Tables.read(spark, p) } === 0)
    assert(Tables.schemaInferences - n0 === 1L)
    val before = Tables.listing(spark, p)
    val other = write(20)
    assert(Tables.listing(spark, p) !== before)
    df = Tables.read(spark, p)
    assert(Tables.schemaInferences - n0 === 2L, "the overwrite changed the key")
    assert(rows(df.select("id", "k")) === rows(other))
  }

  test("another session infers with its own parquet confs") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    // an `events` table in the INT64 TIMESTAMP(NANOS) layout
    val d = tmpDir()
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 id; " +
        "required int64 ts (TIMESTAMP(NANOS,false)); }")
    val w = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(d + "/events.parquet"))
      .withType(schema).withConf(spark.sparkContext.hadoopConfiguration)
      .build()
    w.write(new SimpleGroupFactory(schema).newGroup()
      .append("id", 1L).append("ts", 1500L))
    w.close()
    // this session reads nanos as bigint (Sessions.builder) ...
    assert(Tables(spark, d, "events").schema("ts").dataType ===
      org.apache.spark.sql.types.LongType)
    // ... one that does not must fail its own inference, not borrow
    // this session's memo entry
    val other = spark.newSession()
    other.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    val e = intercept[Exception](Tables(other, d, "events").schema)
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("TIMESTAMP(NANOS")),
      s"expected Spark's illegal-type error, got: $e")
  }

  test("no src/main file reads or writes parquet around Tables") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the repository root: $root")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val direct = """\.parquet\(|format\("parquet"\)""".r
    val offenders = walk(root)
      .filterNot(_.getPath.endsWith("graft/Tables.scala"))
      .flatMap { f =>
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try src.getLines().zipWithIndex
          .collect { case (l, i) if direct.findFirstIn(l).nonEmpty =>
            s"${f.getPath}:${i + 1}: ${l.trim}" }.toList
        finally src.close()
      }
    assert(offenders.isEmpty,
      "parquet I/O outside Tables.read/Tables.write:\n" +
        offenders.mkString("\n"))
  }
}
