package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for operator specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  override def afterAll(): Unit = () // session shared across suites

  /** Recursive temp-dir cleanup for specs that write files — one copy,
    * not one per suite. */
  protected def rmTree(f: java.io.File): Unit = {
    Option(f.listFiles).foreach(_.foreach(rmTree)); f.delete(); ()
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val spark = SparkSession.builder()
      .master("local[2]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // keep bucketed-table specs out of the repo root
      .config("spark.sql.warehouse.dir",
        s"${sys.props("java.io.tmpdir")}/graft_test_warehouse")
      .getOrCreate()
    // WARN, as LocalSession: INFO buries failing assertions
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
