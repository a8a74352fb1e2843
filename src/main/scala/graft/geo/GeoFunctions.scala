package graft.geo

import org.apache.spark.sql.SparkSession

/** SQL registration surface for the geo functions — the engine's
  * equivalent of the reference's `register_all_udfs`
  * (`/root/reference/src/dask_felleskomponenter/udfs/udf_tools.py:111-121,248-272`,
  * `udfs/udf_conversions.py:62-91`).
  *
  * `get_wkb_geom_type` is a native Catalyst expression rather than a
  * ScalaUDF (a row of the [[graft.GraftExtensions]] table): the expression
  * participates in whole-stage codegen (a direct static call on the
  * 5-byte header, no closure dispatch or null boxing) and accepts both
  * BINARY (WKB bytes) and STRING (hex) arguments like the reference's
  * polymorphic Python UDF. `curved_to_linear_wkb` stays a ScalaUDF —
  * it allocates a geometry AST per row, so codegen fusion buys nothing.
  */
object GeoFunctions {

  val CurvedToLinear  = "curved_to_linear_wkb"
  val GenerateContours = "generate_contours_udf"

  def registerAll(spark: SparkSession): Unit = {
    graft.GraftExtensions.ensure(spark)
    registerCurvedToLinearWkb(spark)
    registerGenerateContours(spark)
  }

  /** Curved→linear WKB conversion (reference
    * `udfs/udf_conversions.py:12-59`): EWKB SRID stripped, curved types
    * linearized at `maxAngleStepDegrees` (0.0 → the ~4° default), null
    * on any parse failure.
    */
  def registerCurvedToLinearWkb(spark: SparkSession): Unit =
    spark.udf.register(
      CurvedToLinear,
      (wkb: Array[Byte], maxAngleStepDegrees: Double) =>
        Linearize.curvedToLinearWkb(wkb, maxAngleStepDegrees))

  /** GeoTIFF raster → contour MultiLineString WKB (reference
    * `udf_tools.py:127-244`). The reference's pandas-UDF wrapper (U4)
    * exists to amortize the Python/Arrow boundary; in the JVM a plain
    * Scala UDF is already executor-native, so `generate_contours_udf`
    * and the core share one registration. `interval`/`base` arrive as
    * `lit()` columns, same call shape as the reference. */
  def registerGenerateContours(spark: SparkSession): Unit = {
    spark.udf.register(
      GenerateContours,
      (raster: Array[Byte], interval: Double, base: Double) =>
        Contours.generateContoursWkb(raster, interval, base))
    spark.udf.register(
      "generate_contours_wkb",
      (raster: Array[Byte], interval: Double, base: Double) =>
        Contours.generateContoursWkb(raster, interval, base))
    // companion introspection: component count of a (Multi*) geometry
    spark.udf.register(
      "get_wkb_num_geoms",
      (b: Array[Byte]) => numGeoms(b))
  }

  private[geo] def numGeoms(b: Array[Byte]): java.lang.Long = {
    if (b == null) return null
    Wkb.read(Wkb.stripSrid(b)) match {
      case None => null
      case Some(g) => g match {
        case m: Wkb.GMultiPoint      => m.geoms.length.toLong
        case m: Wkb.GMultiLineString => m.geoms.length.toLong
        case m: Wkb.GMultiPolygon    => m.geoms.length.toLong
        case m: Wkb.GCollection      => m.geoms.length.toLong
        case m: Wkb.GMultiCurve      => m.geoms.length.toLong
        case m: Wkb.GMultiSurface    => m.geoms.length.toLong
        case _                       => 1L
      }
    }
  }
}
