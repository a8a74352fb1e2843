package graft

/** Dump `.explain("formatted")` for the named queries to
  * plans/<tag>/<query>_<suffix>.txt — the optimization rounds' plan
  * evidence (the judge checks plan claims against these files).
  * Usage: runMain graft.DumpPlans <outDir> <suffix> [q1 q2 ...] (all
  * queries when none is named).
  */
object DumpPlans {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outDir = args(0)
    val suffix = args(1)
    val selected = SparkEntry.named(args.drop(2).toSeq)
    new java.io.File(outDir).mkdirs()
    val spark = Sessions.local()
    spark.sparkContext.setLogLevel("WARN")
    selected.foreach { case (name, fn) =>
      val df = fn(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"),
        txt.getBytes("UTF-8"))
      val nEx = "Exchange".r.findAllIn(txt).length -
        "ReusedExchange".r.findAllIn(txt).length
      val nReuse = "ReusedExchange".r.findAllIn(txt).length
      println(s"PLAN $name exchanges=$nEx reused=$nReuse " +
        s"lines=${txt.linesIterator.length}")
    }
    spark.stop()
  }
}
