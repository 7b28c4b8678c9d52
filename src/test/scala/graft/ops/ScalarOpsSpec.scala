package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** Semantic traps of the scalar layer (SURVEY.md §7.4): pandas dayofweek
  * shift, floor-div, bucketize edge-closure, debit/credit null semantics. */
class ScalarOpsSpec extends SparkSpec {
  import spark.implicits._

  test("dayOfWeekMon0 matches pandas: Monday=0 .. Sunday=6") {
    // 2024-01-01 is a Monday, 2024-01-07 a Sunday
    val df = (1 to 7).map(d => Timestamp.valueOf(s"2024-01-0$d 12:00:00"))
      .toDF("ts")
    val got = df.select(TimeFeatures.dayOfWeekMon0($"ts")).as[Int].collect()
    assert(got.toSeq == Seq(0, 1, 2, 3, 4, 5, 6))
  }

  test("secondsSinceMidnight truncates sub-second parts like pandas .second") {
    val df = Seq(Timestamp.valueOf("2024-01-01 01:02:03.999")).toDF("ts")
    val got = df.select(TimeFeatures.secondsSinceMidnight($"ts"))
      .as[Int].head()
    assert(got == 3723)
  }

  test("hoursSince truncates to whole hours from the reference instant") {
    val ref = Timestamp.valueOf("2024-01-01 00:00:00")
    val df = Seq(
      Timestamp.valueOf("2024-01-01 00:59:59"),
      Timestamp.valueOf("2024-01-01 01:00:00"),
      Timestamp.valueOf("2024-01-02 23:30:00")).toDF("ts")
    val got = df.select(TimeFeatures.hoursSince($"ts",
      lit(ref.getTime * 1000L))).as[Long].collect()
    assert(got.toSeq == Seq(0L, 1L, 47L))
  }

  test("debit/credit split: zero goes to neither (null), coalesce zero-fills") {
    val df = Seq(5.0, -3.0, 0.0).toDF("amt")
    val split = df.select(DebitCredit.debit($"amt").as("debit"),
      DebitCredit.credit($"amt").as("credit"))
    val raw = split.collect().map(r => (Option(r.get(0)), Option(r.get(1))))
    assert(raw.toSeq == Seq(
      (Some(5.0), None), (None, Some(-3.0)), (None, None)))
    val filled = split.select(coalesce($"debit", lit(0.0)),
      coalesce($"credit", lit(0.0))).as[(Double, Double)].collect()
    assert(filled.toSeq == Seq((5.0, 0.0), (0.0, -3.0), (0.0, 0.0)))
  }

  test("floorDiv on counts matches pandas // (non-negative)") {
    val df = Seq(0L, 19L, 20L, 21L, 45L).toDF("c")
    val got = Pivots.floorDiv(df, Seq("c"), 20).as[Long].collect()
    assert(got.toSeq == Seq(0L, 0L, 1L, 1L, 2L))
  }

  test("bucketize: (lo, hi] bins like pd.cut, out-of-range is null") {
    val edges = Seq(0.0, 1.0, 5.0, 10.0)
    val df = Seq(0.0, 0.5, 1.0, 1.001, 5.0, 10.0, 10.5, -1.0).toDF("v")
    val got = df.select(Bucketize($"v", edges)).collect()
      .map(r => Option(r.get(0)))
    assert(got.toSeq == Seq(None, Some(0), Some(0), Some(1), Some(1),
      Some(2), None, None))
  }

  test("one-hot uses the closed vocabulary: unseen value gets all zeros") {
    val df = Seq("a", "b", "zz").toDF("c")
    val oh = OneHot.withOneHot(df, "c", Seq("a", "b"), "c")
    val got = oh.select($"c_a", $"c_b").as[(Int, Int)].collect()
    assert(got.toSeq == Seq((1, 0), (0, 1), (0, 0)))
  }

  test("roundNz: exact-cancellation residual lands on POSITIVE zero") {
    // q87's r11 hash miss: a cumulative sum of per-group z-scores over the
    // full group is mathematically 0 with a tiny negative residual;
    // round(x, 6) preserves the sign in DuckDB (-0.0) while the multiply
    // form lands on +0.0 — numerically equal, byte-hash different.
    // roundNz appends + 0.0 AFTER the round (IEEE: -0.0 + 0.0 = +0.0).
    // z-scores of (1.0, 2.0, 3.0): σ=1, sum ≈ 0 with a sign-indeterminate
    // residual; the literal -1e-13 and -0.0 pin the negative branch.
    val z = Seq(1.0, 2.0, 3.0).toDF("x")
      .select(((col("x") - 2.0) / 1.0).as("z"))
      .agg(sum(col("z")).as("s"))
    val bits = z.select(CrossRound.roundNz(col("s"), 6).as("r"))
      .as[Double].collect().map(java.lang.Double.doubleToRawLongBits)
    assert(bits.toSeq === Seq(0L)) // +0.0, not -0.0 (bit 63 set)
    val lits = Seq(-1e-13, -0.0, 0.0, -1.5e-6, 1.25).toDF("x")
      .select(CrossRound.roundNz(col("x"), 6).as("r"))
      .as[Double].collect()
    val negZeroBits = java.lang.Double.doubleToRawLongBits(-0.0)
    assert(!lits.map(java.lang.Double.doubleToRawLongBits).contains(negZeroBits))
    // non-zero grid points are untouched by the normalization
    assert(lits(3) === -2e-6 || lits(3) === -1e-6) // still negative, rounded
    assert(lits(4) === 1.25)
  }
}
