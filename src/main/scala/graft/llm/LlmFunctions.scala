package graft.llm

import org.apache.spark.sql.SparkSession

/** SQL registration surface for the LLM-pipeline functions (same
  * pattern as `graft.geo.GeoFunctions`): the native expressions from
  * the [[graft.GraftExtensions]] table plus the UDF-backed hashes. */
object LlmFunctions {

  def registerAll(spark: SparkSession): Unit = {
    graft.GraftExtensions.ensure(spark)
    SimHash.register(spark)
    Fingerprint.register(spark)
  }
}
