package graft.tools

/** Write `.explain("formatted")` for named catalog queries to files —
  * the optimization-round evidence trail (plans/rNN/<query>_{before,after}.txt).
  *
  * Usage: runMain graft.tools.PlanDump <dataDir> <outDir> <suffix> <query>...
  * Produces <outDir>/<query>_<suffix>.txt per query.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val outDir = new java.io.File(args(1))
    val suffix = args(2)
    val names = args.drop(3).toSeq
    outDir.mkdirs()
    val spark = graft.Harness.session()
    names.foreach { nm =>
      val fn = graft.SparkEntry.queries(nm)
      val plan = fn(spark, dir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(
        new java.io.File(outDir, s"${nm}_$suffix.txt").toPath, plan)
      println(s"[plandump] wrote ${nm}_$suffix.txt (${plan.length} chars)")
      graft.Caches.release()
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
