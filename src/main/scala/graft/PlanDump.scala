package graft

/** Dumps `.explain("formatted")` for registered queries — the plan
  * evidence artifact for the optimization rounds (plans/r{N}/). Runs
  * each query through the noop sink FIRST so the dumped plan is the
  * AQE-final one (isFinalPlan=true), then writes
  * <outDir>/<query>_<tag>.txt.
  *
  * Usage: runMain graft.PlanDump <outDir> <tag> <sfDir> [query...]
  * (no query names = every registered query) */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = java.nio.file.Paths.get(args(0))
    java.nio.file.Files.createDirectories(outDir)
    val tag = args(1)
    val sfDir = args(2)
    val spark = LocalSession()
    spark.sparkContext.setLogLevel("ERROR")
    val names =
      if (args.length > 3) args.drop(3).toSeq else SparkEntry.queries.keys.toSeq
    for (n <- names) {
      try {
        val df = SparkEntry.queries(n)(spark, sfDir)
        df.write.format("noop").mode("overwrite").save()
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        java.nio.file.Files.writeString(
          outDir.resolve(s"${n}_$tag.txt"), plan)
        println(s"PLANDUMP $n -> ${outDir.resolve(s"${n}_$tag.txt")}")
      } catch { case e: Throwable =>
        System.err.println(s"[plandump] $n failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
