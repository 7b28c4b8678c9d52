package graft

import org.apache.spark.sql.SparkSession

/** The one session every CLI main builds: `local[N]` with one shuffle
  * partition per core, UTC session time zone, no UI, WARN logging. `N` is
  * `SPARK_GRAFT_CPUS`, else the JVM's available processors. AQE is left at
  * Spark's default (on). Any other `spark.*` key passes through as a JVM
  * system property, e.g. `-Dspark.sql.join.preferSortMergeJoin=false` for a
  * join-strategy A/B. */
object LocalSession {

  def apply(): SparkSession = {
    val n = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val spark = SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
