package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pins the r19 two-pass exact percentile (distinct-value rank walk) to
  * the legacy `array_sort(collect_list)` form bit-for-bit — groupBounds
  * is the q12/q27/q36/q39 oracle contract, so the rewrite must be
  * invisible in every double. */
class RepairSpec extends SparkSpec {

  import spark.implicits._

  /** The pre-r19 groupBounds verbatim (collect_list + interpPercentile)
    * — the parity reference. */
  private def legacyBounds(df: DataFrame, user: String, code: String,
                           amt: String, nAmt: Int): DataFrame = {
    val sorted = array_sort(collect_list(col(amt).cast("double")))
    df.groupBy(col(user), col(code))
      .agg(count(lit(1)).as("_cnt"), sorted.as("_sorted"))
      .withColumn("_p", least(lit(1.0), lit(nAmt.toDouble) / col("_cnt")))
      .withColumn("_lo", Repair.interpPercentile(col("_sorted"), col("_p")))
      .withColumn("_hi",
        Repair.interpPercentile(col("_sorted"), lit(1.0) - col("_p")))
      .withColumn("_med", Repair.interpPercentile(col("_sorted"), lit(0.5)))
      .drop("_sorted", "_p")
  }

  private def assertSame(df: DataFrame, nAmt: Int): Unit = {
    val now = Repair.groupBounds(df, "u", "c", "a", nAmt)
      .orderBy("u", "c").collect()
    val old = legacyBounds(df, "u", "c", "a", nAmt)
      .orderBy("u", "c").collect()
    assert(now.length == old.length)
    now.zip(old).foreach { case (n, o) =>
      assert(n == o, s"two-pass $n != legacy $o")
    }
  }

  test("random groups, duplicates and ties, several group sizes") {
    val rng = new scala.util.Random(7)
    val rows = (0 until 2000).map { _ =>
      val u = rng.nextInt(23).toLong
      val c = s"t${rng.nextInt(4)}"
      // 2-dp money-like values with deliberate duplicates
      val a = math.floor(rng.nextInt(500) / 7.0 * 100) / 100.0
      (u, c, a)
    }
    assertSame(rows.toDF("u", "c", "a"), nAmt = 10)
  }

  test("tiny groups: p = 1.0 (lo = max, hi = min) and singletons") {
    val df = Seq(
      (1L, "x", 5.0), (1L, "x", 2.0), (1L, "x", 9.0),
      (2L, "y", 3.25),
      (3L, "z", 1.0), (3L, "z", 1.0)).toDF("u", "c", "a")
    assertSame(df, nAmt = 10)
  }

  test("null amounts: counted by _cnt, excluded from the percentile") {
    val df = Seq[(Long, String, java.lang.Double)](
      (1L, "x", 5.0), (1L, "x", null), (1L, "x", 7.5), (1L, "x", null),
      (2L, "y", null), (2L, "y", null), // all-null group -> null stats
      (3L, "z", 4.0)).toDF("u", "c", "a")
    assertSame(df, nAmt = 2)
  }

  test("large single group exercises interpolation between ranks") {
    val df = (1 to 97).map(i => (1L, "x", i * 1.5 % 13)).toDF("u", "c", "a")
    assertSame(df, nAmt = 10)
    assertSame(df, nAmt = 3)
  }

  test("full Repair.apply unchanged end to end") {
    val rng = new scala.util.Random(11)
    val df = (0 until 800).map { i =>
      (i.toLong, rng.nextInt(17).toLong, s"t${rng.nextInt(5)}",
        math.floor(rng.nextDouble() * 10000) / 100.0)
    }.toDF("id", "u", "c", "a")
    val now = Repair(df, "u", "c", "a", nAmt = 10, nMcc = 10)
      .orderBy("id").collect()
    // legacy composition: same modal/apply logic over legacy bounds
    val bounds = legacyBounds(df, "u", "c", "a", 10)
    val modals = Repair.modal(bounds, "u", "c")
    val old = df.join(bounds, Seq("u", "c"), "left")
      .join(modals, Seq("u"), "left")
      .select(col("id"),
        when(col("_cnt") > 10, col("c")).otherwise(col("_modal_code"))
          .as("c"),
        when(col("_cnt") > 10,
          when(col("a") > col("_hi") || col("a") < col("_lo"), col("_med"))
            .otherwise(col("a")))
          .otherwise(col("_modal_med")).as("a"))
      .orderBy("id").collect()
    assert(now.length == old.length)
    now.zip(old).foreach { case (n, o) =>
      assert(n.getAs[String]("c") == o.getAs[String]("c"))
      val na = Option(n.getAs[java.lang.Double]("a"))
      val oa = Option(o.getAs[java.lang.Double]("a"))
      assert(na == oa, s"row ${n.getAs[Long]("id")}: $na != $oa")
    }
  }
}
