package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = LocalSession()
    new java.io.File(outDir).mkdirs()
    // comma-separated allowlist for local iteration on a subset (same
    // contract as Bench's SPARK_GRAFT_BENCH_ONLY); unset = the driver's
    // mode, dump everything
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter(kv => names(kv._1))
      case None => SparkEntry.queries
    }
    selected.foreach { case (name, fn) =>
      spark.catalog.clearCache()
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // S2 surface: the pipeline submission additionally lands as a
    // reference-format CSV (header, user-sorted — run.py:484-486). Written
    // OUTSIDE outDir so the driver's per-query compare never mistakes it
    // for a query result directory.
    if (only.forall(_.contains("q27_pipeline_submission")))
    try graft.schema.Tables.writeCsv(
      SparkEntry.queries("q27_pipeline_submission")(spark, sfDir),
      s"${sys.props("java.io.tmpdir")}/graft_submission_csv",
      singleFile = true)
    catch { case e: Throwable =>
      System.err.println(s"[verify] submission csv failed: ${e.getMessage}")
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    // Golden-output fixtures: building oracleSql above registered every
    // fixture-backed oracle; extract ALL committed per-scale variants now
    // (the SQL selects the scale-matching one by row count) so the
    // read_parquet globs the JSON references resolve when the driver's
    // DuckDB step runs. The required tag asserts the verify SCALE has a
    // committed variant — otherwise oracleSelect's row-count filter would
    // match nothing and fail as an opaque 0-row hash mismatch.
    graft.schema.Fixtures.extractRegistered(
      Some(graft.schema.Fixtures.scaleTag(sfDir)))
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
