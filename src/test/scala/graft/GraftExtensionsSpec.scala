package graft

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.scalatest.funsuite.AnyFunSuite

/** The native-function table: the extension and [[GraftExtensions.ensure]]
  * bind every name the same way, `ensure` writes nothing a session
  * already has, and no native expression ships without a row. */
class GraftExtensionsSpec extends AnyFunSuite with SparkTestSession {

  private val ids = GraftExtensions.functions.map(_._1)

  private def info(s: SparkSession, id: FunctionIdentifier): Option[ExpressionInfo] =
    s.sessionState.functionRegistry.lookupFunction(id)

  /** A session holding the table only through `ensure`: every row is
    * dropped from an extension session first. */
  private def ensuredSession(): SparkSession = {
    val s = spark.newSession()
    ids.foreach { id =>
      s.sessionState.functionRegistry.dropFunction(id)
      assert(info(s, id).isEmpty, s"${id.funcName} still bound after dropFunction")
    }
    GraftExtensions.ensure(s)
    s
  }

  test("extension and ensure resolve every row to the same expression class") {
    val ext = spark.newSession()
    val ensured = ensuredSession()
    assert(ids.map(_.funcName).distinct.size == ids.size, "duplicate table rows")
    GraftExtensions.functions.foreach { case (id, row, _) =>
      assert(info(ext, id).map(_.getClassName) == Some(row.getClassName), id.funcName)
      assert(info(ensured, id).map(_.getClassName) == Some(row.getClassName), id.funcName)
    }
    val q = "SELECT dot_fp(array(CAST(1.0 AS FLOAT)), array(CAST(2.0 AS FLOAT)))"
    assert(ext.sql(q).collect()(0).getLong(0) == ensured.sql(q).collect()(0).getLong(0))
  }

  test("a non-literal INT argument fails with the same message on both paths") {
    val ext = spark.newSession()
    val ensured = ensuredSession()
    def message(s: SparkSession, q: String): String = {
      val e = intercept[Exception](s.sql(q).collect())
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).find(m => m != null && m.contains("literal argument"))
        .getOrElse(fail(s"no literal-argument error for $q: $e"))
    }
    Seq(
      "minhash_sigs" -> "SELECT minhash_sigs(array(1L), 1 + 1)",
      "shingle_bases" -> "SELECT shingle_bases('a b c', 1 + 1)",
      "lsh_bucket" -> "SELECT lsh_bucket(array(CAST(0.0 AS FLOAT)), 1 + 1)",
      "sign_word" -> "SELECT sign_word(array(CAST(0.0 AS FLOAT)), 1 + 1)",
    ).foreach { case (fn, q) =>
      val viaExt = message(ext, q)
      assert(viaExt.contains(s"$fn: expected an INT literal argument"), viaExt)
      assert(message(ensured, q) == viaExt)
    }
  }

  test("ensure re-registers nothing on an extension session") {
    val s = spark.newSession()
    val registry = s.sessionState.functionRegistry
    val before = ids.map(id => registry.lookupFunctionBuilder(id).get)
    GraftExtensions.ensure(s)
    ids.zip(before).foreach { case (id, b) =>
      assert(registry.lookupFunctionBuilder(id).get eq b, id.funcName)
    }
    // a name already bound to the row's class is left alone, even with
    // a different builder: ensure only writes names it must fix
    val (id, row, _) = GraftExtensions.functions.head
    val sentinel = (_: Seq[Expression]) => fail("sentinel builder called")
    registry.registerFunction(id, row, sentinel)
    GraftExtensions.ensure(s)
    assert(registry.lookupFunctionBuilder(id).get eq sentinel)
  }

  test("ensure binds names a session lacks and replaces a user function of the same name") {
    val s = ensuredSession()
    assert(s.sql("SELECT inter_count(array(1L, 2L), array(2L, 3L))")
      .collect()(0).getInt(0) == 1)
    s.udf.register("dot_fp", (a: Seq[Float], b: Seq[Float]) => -1L)
    assert(!info(s, FunctionIdentifier("dot_fp")).map(_.getClassName)
      .contains(classOf[graft.llm.expressions.DotFpExpr].getName))
    GraftExtensions.ensure(s)
    assert(s.sql("SELECT dot_fp(array(CAST(1.0 AS FLOAT)), array(CAST(2.0 AS FLOAT)))")
      .collect()(0).getLong(0) == 2000000L)
  }

  test("every native expression under {geo,llm}/expressions has a table row") {
    val rowClasses = GraftExtensions.functions.map(_._2.getClassName).toSet
    val found = Seq("geo", "llm").flatMap { pkg =>
      val dir = new File(s"src/main/scala/graft/$pkg/expressions")
      assert(dir.isDirectory, s"missing $dir")
      dir.listFiles().filter(_.getName.endsWith(".scala")).toSeq.flatMap { f =>
        val text = new String(Files.readAllBytes(f.toPath), UTF_8)
        """case class (\w+Expr)\b""".r.findAllMatchIn(text)
          .map(m => s"graft.$pkg.expressions.${m.group(1)}")
      }
    }
    assert(found.size >= rowClasses.size, s"found only $found")
    val missing = found.filterNot(rowClasses)
    assert(missing.isEmpty, s"native expressions with no GraftExtensions row: $missing")
  }
}
