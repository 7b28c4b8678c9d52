package perfbench

import scala.collection.mutable
import graft.SparkEntry

/** Runs a list of registry rows once each, in order, in a fresh session, and
  * prints one JSON line:
  *
  *   perfbench.Registry <dataDir> <trace 0|1> <row> [<row> ...]
  *
  * Each row's result is collected and digested (the output check) inside
  * its timing: the time a batch user waits for that row's answer in a new
  * JVM. With trace 1 the pass runs under the [[Probe]], which adds the
  * `spark.*` layer metrics.
  */
object Registry {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val trace = args(1) == "1"
    val rows = args.drop(2).toSeq
    val spark = Common.session("ERROR")
    val ready = Common.now()
    val queries = SparkEntry.queries
    val failures = mutable.LinkedHashMap[String, String]()

    def pass(): Map[String, Map[String, Any]] = rows.flatMap { r =>
      try {
        val ((sha, n), s) = Common.seconds(Common.digest(queries(r)(spark, dir)))
        Some(r -> Map("sha256" -> sha, "rows" -> n, "s" -> s))
      } catch { case e: Throwable =>
        failures(r) = s"${e.getClass.getName}: ${e.getMessage}"
        None
      }
    }.toMap

    val ((results, wall), layers) =
      if (trace) new Probe(spark).window(Common.seconds(pass()))
      else (Common.seconds(pass()), Map.empty[String, Double])
    println(Common.json(Map("ready" -> ready, "wall" -> wall,
      "rows" -> results, "failures" -> failures, "layers" -> layers)))
    spark.stop()
  }
}
