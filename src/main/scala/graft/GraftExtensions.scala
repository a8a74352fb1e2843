package graft

import scala.reflect.{ClassTag, classTag}

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.{IntegerType, LongType}

import graft.geo.expressions.WkbGeomTypeExpr
import graft.llm.expressions.{CdcCutsExpr, DotFpExpr, InterCountExpr, LshBucketExpr, MinHashSigsExpr, NormalizeUnicodeExpr, ShingleBasesExpr, SignWordExpr}

/** Spark extensions entry point: installs the engine's native Catalyst
  * expressions into every session of the application via
  *
  * {{{
  * spark.sql.extensions=graft.GraftExtensions
  * }}}
  *
  * so SQL users get `get_wkb_geom_type` / `dot_fp` without calling a
  * registration API — the production packaging for cluster-wide
  * deploys. Also installs the engine's optimizer rules
  * ([[graft.plans.IntersectCountRewrite]]: the naive
  * `size(array_intersect(...))` spelling compiles to the native
  * two-pointer `inter_count` when provably safe). UDF-backed
  * functions (linearization, contours, simhash,
  * fingerprints) still attach per session via
  * `GeoFunctions.registerAll` / `LlmFunctions.registerAll`, since
  * ScalaUDF closures cannot be installed through the extensions
  * injector.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => graft.plans.IntersectCountRewrite)
    GraftExtensions.functions.foreach(ext.injectFunction)
  }
}

/** The one table of native SQL functions: each row binds a SQL name to
  * its expression class and builder. The extension injects the rows;
  * [[GraftExtensions.ensure]] registers them on a session built
  * without the extension. */
object GraftExtensions {

  type FunctionDescription = (FunctionIdentifier, ExpressionInfo, FunctionBuilder)

  /** A call's arguments. Constant arguments parameterize codegen, so
    * they must be literals, and every function rejects a non-literal
    * with the same message. */
  private final class Args(fn: String, children: Seq[Expression]) {
    def size: Int = children.size
    def apply(i: Int): Expression = children(i)
    def int(i: Int): Int = literal(i, "an INT") { case Literal(v: Int, IntegerType) => v }
    def long(i: Int): Long = literal(i, "an integral") {
      case Literal(v: Long, LongType) => v
      case Literal(v: Int, IntegerType) => v.toLong
    }
    def string(i: Int): String = literal(i, "a string") { case Literal(v, _) if v != null => v.toString }

    private def literal[T](i: Int, kind: String)(pick: PartialFunction[Expression, T]): T =
      pick.applyOrElse(children(i), (other: Expression) =>
        throw new IllegalArgumentException(s"$fn: expected $kind literal argument, got $other"))
  }

  private def row[E <: Expression: ClassTag](name: String, arities: Int*)(build: Args => E): FunctionDescription =
    (FunctionIdentifier(name),
      new ExpressionInfo(classTag[E].runtimeClass.getName, name),
      (children: Seq[Expression]) => {
        require(arities.contains(children.size),
          s"$name takes ${arities.mkString(" or ")} argument(s), got ${children.size}")
        build(new Args(name, children))
      })

  val functions: Seq[FunctionDescription] = Seq(
    row[WkbGeomTypeExpr]("get_wkb_geom_type", 1)(a => WkbGeomTypeExpr(a(0))),
    row[DotFpExpr]("dot_fp", 2)(a => DotFpExpr(a(0), a(1))),
    row[InterCountExpr]("inter_count", 2)(a => InterCountExpr(a(0), a(1))),
    row[MinHashSigsExpr]("minhash_sigs", 2)(a => MinHashSigsExpr(a(0), a.int(1))),
    row[ShingleBasesExpr]("shingle_bases", 2)(a => ShingleBasesExpr(a(0), a.int(1))),
    row[LshBucketExpr]("lsh_bucket", 2)(a => LshBucketExpr(a(0), a.int(1))),
    row[SignWordExpr]("sign_word", 2)(a => SignWordExpr(a(0), a.int(1))),
    // the form ('NFC'|'NFD'|'NFKC'|'NFKD') is checked by the expression
    row[NormalizeUnicodeExpr]("normalize_unicode", 2)(a => NormalizeUnicodeExpr(a(0), a.string(1))),
    // cdc_cuts(text [, divisor]): the divisor defaults to Fingerprint.CdcDivisor
    row[CdcCutsExpr]("cdc_cuts", 1, 2)(a =>
      if (a.size == 1) CdcCutsExpr(a(0)) else CdcCutsExpr(a(0), a.long(1))))

  /** Registers every row this session does not already map to the same
    * expression class: a no-op on a session built with the extension,
    * and it still replaces a user function that took one of the names. */
  def ensure(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    functions.foreach { case (id, info, build) =>
      if (!registry.lookupFunction(id).exists(_.getClassName == info.getClassName))
        registry.registerFunction(id, info, build)
    }
  }
}
