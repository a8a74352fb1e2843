package graft

import java.net.URI
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, ChecksumException, CreateFlag,
  FileContext, FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.SerializableWritable
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[LocalFs]]: the engine's `file:` file system, installed by
  * `Sessions.builder`, leaves every file and directory with the bits a
  * stock `LocalFileSystem` gives it, keeps the `.crc` sidecars and
  * their verification, and defers to Hadoop for the bits `chmod` treats
  * specially. Like Hive's `ProxyLocalFileSystem`, which `file:`
  * resolves to on Spark's classpath when unset, it refuses to rename
  * onto an existing file. [[LocalFileContextFs]] does the same for
  * Hadoop's `FileContext` API (streaming checkpoints). */
class LocalFsSpec extends AnyFunSuite with SparkTestSession {

  private def tmpDir(): java.nio.file.Path =
    Files.createTempDirectory("localfs-spec-")

  private def oct(s: String): Int = Integer.parseInt(s, 8)

  private def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  /** Every file and directory under `root`, its name with the write's
    * job and task ids blanked, mapped to its mode. */
  private def modes(root: java.nio.file.Path): Map[String, Int] = {
    val ids = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"
    val s = Files.walk(root)
    try s.toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path]).map { p =>
      root.relativize(p).toString.replaceAll(ids, "U") -> mode(p)
    }.toMap
    finally s.close()
  }

  private def stockRaw(): RawLocalFileSystem = {
    val fs = new RawLocalFileSystem
    fs.initialize(URI.create("file:///"), spark.sparkContext.hadoopConfiguration)
    fs
  }

  private def engineRaw(): FileSystem =
    FileSystem.getLocal(spark.sparkContext.hadoopConfiguration).getRaw

  test("file: resolves to graft.LocalFs on the driver and inside a task") {
    val conf = spark.sparkContext.hadoopConfiguration
    assert(FileSystem.get(URI.create("file:///"), conf).getClass ===
      classOf[LocalFs])
    assert(FileSystem.getLocal(conf).getClass === classOf[LocalFs])
    val shipped = new SerializableWritable(conf)
    val inTask = spark.sparkContext.parallelize(Seq(1), 1).map { _ =>
      new Path("file:///").getFileSystem(shipped.value).getClass.getName
    }.collect()
    assert(inTask.toSeq === Seq(classOf[LocalFs].getName))
  }

  test("Tables.write leaves the bits a stock LocalFileSystem writes") {
    val d = tmpDir()
    // a Hadoop umask unlike the process umask, so the bits below come
    // from setPermission and not from file creation; fresh file
    // systems, so each session's fs.file.impl is honoured
    def session(impl: String) = {
      val s = spark.newSession()
      s.conf.set("fs.permissions.umask-mode", "027")
      s.conf.set("fs.file.impl.disable.cache", "true")
      s.conf.set("fs.file.impl", impl)
      s
    }
    def frame(s: org.apache.spark.sql.SparkSession) =
      s.range(0, 40, 1, 3).select(col("id"), (col("id") % 7).as("k"))
    Tables.write(frame(session(classOf[LocalFs].getName)),
      d.resolve("engine").toString)
    frame(session(classOf[LocalFileSystem].getName))
      .write.parquet(d.resolve("stock").toString)
    val engine = modes(d.resolve("engine"))
    assert(engine.size > 6, engine)
    assert(engine === modes(d.resolve("stock")))
    assert(engine.filter(_._1.endsWith(".parquet")).values.toSet ===
      Set(oct("640")), "the umask applied by setPermission")
    assert(engine("") === oct("750"))
  }

  test("Tables.write keeps a .crc sidecar beside every file") {
    val d = tmpDir().resolve("t")
    Tables.write(spark.range(0, 30, 1, 3).toDF("id"), d.toString)
    val names = d.toFile.list().toSet
    val data = names.filterNot(_.startsWith("."))
    assert(data.count(_.startsWith("part-")) === 3)
    data.foreach(n => assert(names(s".$n.crc"), s"no checksum for $n in $names"))
  }

  test("a byte flipped in a written part file fails the read with a checksum error") {
    val d = tmpDir().resolve("t")
    Tables.write(spark.range(0, 2000).select(col("id"),
      sha2(col("id").cast("string"), 256).as("h")).coalesce(1), d.toString)
    val part = d.toFile.listFiles().find(_.getName.startsWith("part-")).get
    val bytes = Files.readAllBytes(part.toPath)
    bytes(bytes.length / 2) = (bytes(bytes.length / 2) ^ 0x5a).toByte
    Files.write(part.toPath, bytes)
    val e = intercept[Exception](Tables.read(spark, d.toString).collect())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[ChecksumException]),
      s"expected a ChecksumException in the cause chain, got: $e")
  }

  test("setPermission sets exactly the bits stock chmod sets") {
    val d = tmpDir()
    val (ours, stock) = (engineRaw(), stockRaw())
    for (m <- Seq("000", "644", "600", "755", "777", "421", "111").map(oct)) {
      val a = Files.createFile(d.resolve(s"a$m"))
      val b = Files.createFile(d.resolve(s"b$m"))
      ours.setPermission(new Path(a.toUri), new FsPermission(m.toShort))
      stock.setPermission(new Path(b.toUri), new FsPermission(m.toShort))
      assert(mode(a) === m)
      assert(mode(a) === mode(b))
    }
  }

  test("setPermission with the sticky bit set still applies it") {
    val dir = Files.createDirectory(tmpDir().resolve("sticky"))
    FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
      .setPermission(new Path(dir.toUri), new FsPermission(oct("1755").toShort))
    assert(mode(dir) === oct("1755"))
  }

  test("setPermission on a setgid directory matches stock chmod") {
    val d = tmpDir()
    val (a, b) = (Files.createDirectory(d.resolve("a")),
      Files.createDirectory(d.resolve("b")))
    Seq(a, b).foreach { p =>
      new ProcessBuilder("chmod", "2775", p.toString).start().waitFor()
    }
    assume((mode(a) & oct("2000")) != 0, "setgid could not be set here")
    val perm = new FsPermission(oct("755").toShort)
    engineRaw().setPermission(new Path(a.toUri), perm)
    stockRaw().setPermission(new Path(b.toUri), perm)
    assert(mode(a) === mode(b))
  }

  test("a rename onto an existing file fails, as under ProxyLocalFileSystem") {
    val d = tmpDir()
    val fs = FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    val Seq(a, b, c) = Seq("a", "b", "c").map(n => new Path(d.resolve(n).toUri))
    Seq(a, b).foreach { p =>
      val o = fs.create(p)
      o.writeBytes(p.getName)
      o.close()
    }
    assert(!fs.rename(a, b))
    assert(new String(Files.readAllBytes(d.resolve("b"))) === "b")
    assert(fs.rename(a, c))
    assert(new String(Files.readAllBytes(d.resolve("c"))) === "a")
  }

  /** A `FileContext` over `file:` through `impl`, with a Hadoop umask
    * unlike the process umask, so the bits come from setPermission. */
  private def fileContext(impl: String): FileContext = {
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    conf.set("fs.permissions.umask-mode", "027")
    conf.set("fs.AbstractFileSystem.file.impl", impl)
    FileContext.getFileContext(URI.create("file:///"), conf)
  }

  /** What a checkpoint writer does: a directory, a temp file, a rename
    * onto the final name. */
  private def checkpointLike(fc: FileContext, root: java.nio.file.Path): Unit = {
    val dir = new Path(root.resolve("offsets").toUri)
    fc.mkdir(dir, FsPermission.getDirDefault, true)
    val tmp = new Path(dir, ".0.tmp")
    val o = fc.create(tmp, java.util.EnumSet.of(CreateFlag.CREATE))
    o.writeBytes("v1\n{}")
    o.close()
    fc.rename(tmp, new Path(dir, "0"))
  }

  test("FileContext resolves file: to graft.LocalFileContextFs") {
    val conf = spark.sparkContext.hadoopConfiguration
    val afs = AbstractFileSystem.get(URI.create("file:///"), conf)
    assert(afs.getClass === classOf[LocalFileContextFs])
  }

  test("FileContext writes keep a .crc sidecar and the bits stock LocalFs sets") {
    val d = tmpDir()
    checkpointLike(fileContext(classOf[LocalFileContextFs].getName),
      d.resolve("engine"))
    checkpointLike(fileContext("org.apache.hadoop.fs.local.LocalFs"),
      d.resolve("stock"))
    val engine = modes(d.resolve("engine"))
    assert(engine.keySet === Set("", "offsets", "offsets/0", "offsets/.0.crc"))
    assert(engine === modes(d.resolve("stock")))
    def crc(side: String) = Files.readAllBytes(d.resolve(s"$side/offsets/.0.crc")).toSeq
    assert(crc("engine") === crc("stock"))
    assert(engine("offsets/0") === oct("640"), "the umask applied by setPermission")
    assert(engine("offsets") === oct("750"))
  }
}
