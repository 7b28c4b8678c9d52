package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Aggregate/window semantic traps: ddof and bias corrections vs pandas,
  * trim-disappearance, 0/0 row-normalize, pivot closed world, z-score
  * population std, exact percentile interpolation, modal tie order. */
class AggWindowSpec extends SparkSpec {
  import spark.implicits._

  private def approx(a: Double, b: Double, eps: Double = 1e-9) =
    assert(math.abs(a - b) <= eps, s"$a vs $b")

  test("GroupStats matches pandas sample statistics (ddof=1, G1 skew)") {
    // pandas: s = pd.Series([1,2,4,8,16]): mean 6.2, var (ddof=1) 37.2,
    // std sqrt(37.2), sem std/sqrt(5), skew (G1) 1.3253147098134048
    val df = Seq(1.0, 2.0, 4.0, 8.0, 16.0).map(("g", _)).toDF("g", "v")
    val r = GroupStats.stats(df, Seq("g"), "v", "s").head()
    val std = math.sqrt(37.2)
    approx(r.getAs[Double]("s_mean"), 6.2)
    approx(r.getAs[Double]("s_std"), std)
    approx(r.getAs[Double]("s_sem"), std / math.sqrt(5))
    approx(r.getAs[Double]("s_skew"), 1.3253147098134048)
    approx(r.getAs[Double]("s_var"), 37.2)
    approx(r.getAs[Double]("s_median"), 4.0)
    approx(r.getAs[Double]("s_amplitude"), 15.0)
  }

  test("GroupStats guards: n=1 → null std/sem/var; zero variance → null skew") {
    val df = Seq(("a", 5.0), ("b", 2.0), ("b", 2.0), ("b", 2.0))
      .toDF("g", "v")
    val rows = GroupStats.stats(df, Seq("g"), "v", "s")
      .orderBy("g").collect()
    val a = rows(0); val b = rows(1)
    assert(a.isNullAt(a.fieldIndex("s_std")))
    assert(a.isNullAt(a.fieldIndex("s_sem")))
    assert(a.isNullAt(a.fieldIndex("s_var")))
    assert(b.isNullAt(b.fieldIndex("s_skew"))) // zero variance
    approx(b.getAs[Double]("s_std"), 0.0)
  }

  test("trim removes first/last n; users with <= 2n rows disappear") {
    val rows = (1 to 5).map(i => (1L, i)) ++ (1 to 4).map(i => (2L, i))
    val df = rows.toDF("u", "ord")
    val t = Trim.headTail(df, 2, Seq("u"), Seq($"ord"))
    assert(t.select("u", "ord").as[(Long, Int)].collect().toSeq ==
      Seq((1L, 3))) // user 2 (4 rows <= 2n) vanished
    val vanished = Trim.vanishedKeys(df, t, Seq("u")).as[Long].collect()
    assert(vanished.toSeq == Seq(2L))
  }

  test("rowNormalize: rows sum to 1, all-zero rows normalize to 0 not NaN") {
    val df = Seq((1L, 2.0, 6.0), (2L, 0.0, 0.0)).toDF("u", "a", "b")
    val n = RowNorm.rowNormalize(df, Seq("a", "b"), "total")
      .orderBy("u").collect()
    approx(n(0).getAs[Double]("a"), 0.25)
    approx(n(0).getAs[Double]("b"), 0.75)
    approx(n(0).getAs[Double]("total"), 8.0)
    approx(n(1).getAs[Double]("a"), 0.0)
    approx(n(1).getAs[Double]("b"), 0.0)
  }

  test("pivot uses the closed vocabulary: unseen dropped, absent zero-filled") {
    val df = Seq((1L, "a", 1.0), (1L, "zz", 9.0), (2L, "b", 2.0))
      .toDF("u", "k", "v")
    val p = Pivots.pivotCount(df, "u", "k", Seq("a", "b"), "v", "f")
      .orderBy("u")
    assert(p.columns.toSeq == Seq("u", "f_a", "f_b")) // no f_zz
    assert(p.select("f_a", "f_b").as[(Long, Long)].collect().toSeq ==
      Seq((1L, 0L), (0L, 1L)))
  }

  test("zScorePop uses population std; zero-variance group maps to 0") {
    val df = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0), ("b", 7.0), ("b", 7.0))
      .toDF("u", "v")
    val z = df.select($"u", $"v",
      Sequences.zScorePop($"v", Seq("u")).as("z"))
      .orderBy("u", "v").as[(String, Double, Double)].collect()
    // population std of [1,2,3] = sqrt(2/3)
    approx(z(0)._3, -1.0 / math.sqrt(2.0 / 3.0))
    approx(z(1)._3, 0.0)
    approx(z(2)._3, 1.0 / math.sqrt(2.0 / 3.0))
    approx(z(3)._3, 0.0) // sigma=0 → 0, not NaN
    approx(z(4)._3, 0.0)
  }

  test("interpPercentile matches np.percentile linear interpolation") {
    // np.percentile([1,2,3,6], 30) = 1.9; 50 → 2.5; 100 → 6
    val df = Seq(Seq(1.0, 2.0, 3.0, 6.0)).toDF("arr")
    val got = df.select(
      Repair.interpPercentile($"arr", lit(0.3)),
      Repair.interpPercentile($"arr", lit(0.5)),
      Repair.interpPercentile($"arr", lit(1.0)))
      .as[(Double, Double, Double)].head()
    approx(got._1, 1.9); approx(got._2, 2.5); approx(got._3, 6.0)
  }

  test("repair: freq cutoff is strictly > nMcc; outliers get group median; " +
    "rare codes get modal code + modal median") {
    // user 1: code 10 appears 3 times (> nMcc=2) with one outlier;
    //         code 99 appears once (rare) → remapped to modal code 10
    val rows = Seq(
      (1L, 10L, 1.0), (1L, 10L, 2.0), (1L, 10L, 100.0), (1L, 99L, 7.0))
    val df = rows.toDF("u", "code", "amt")
    val r = Repair(df, "u", "code", "amt", nAmt = 1, nMcc = 2)
      .orderBy("amt").collect()
    // p = min(1, 1/3); lo = P(1/3) = 1.667 and hi = P(2/3) = 34.667,
    // interpolated over [1,2,100]: amt=1 < lo and amt=100 > hi → median
    // 2.0; amt=2 within bounds unchanged
    val repairedAmts = r.map(_.getAs[Double]("amt")).toSeq
    assert(repairedAmts.contains(2.0) && !repairedAmts.contains(100.0))
    // rare row: code → 10, amt → median of code 10 = 2.0; so every row
    // comes out as (10, 2.0)
    assert(repairedAmts == Seq(2.0, 2.0, 2.0, 2.0))
    assert(r.forall(_.getAs[Long]("code") == 10L))
  }

  test("modal tie order: numpy argmax picks the smallest code on ties") {
    val df = Seq((1L, 5L, 1.0), (1L, 5L, 2.0), (1L, 3L, 8.0), (1L, 3L, 9.0))
      .toDF("u", "code", "amt")
    val bounds = Repair.groupBounds(df, "u", "code", "amt", 10)
    val m = Repair.modal(bounds, "u", "code").head()
    assert(m.getAs[Long]("_modal_code") == 3L)
    assert(m.getAs[Double]("_modal_med") == 8.5)
  }

  test("lastN keeps the n most recent rows; assembleSequences left-pads") {
    val df = Seq((1L, 1, 10.0), (1L, 2, 20.0), (1L, 3, 30.0), (2L, 1, 5.0))
      .toDF("u", "ord", "v")
    val last2 = Sequences.lastN(df, 2, Seq("u"), Seq($"ord"))
      .select("u", "ord").as[(Long, Int)].collect().toSet
    assert(last2 == Set((1L, 3), (1L, 2), (2L, 1)))
    val seqs = Sequences.assembleSequences(df, 3, Seq("u"), $"ord", Seq("v"))
      .orderBy("u").select("seq").as[Seq[Seq[Double]]].collect()
    assert(seqs(0) == Seq(Seq(10.0), Seq(20.0), Seq(30.0)))
    assert(seqs(1) == Seq(Seq(0.0), Seq(0.0), Seq(5.0))) // left-padded
  }

  test("cumSum and rebaseToFirst follow event order") {
    val df = Seq((1L, 1, 10.0), (1L, 2, 5.0), (1L, 3, 1.0)).toDF("u", "o", "v")
    val got = df.select(
      Sequences.cumSum($"v", Seq("u"), Seq($"o")).as("c"),
      Sequences.rebaseToFirst($"v", Seq("u"), Seq($"o")).as("r"))
      .orderBy("c").as[(Double, Double)].collect()
    assert(got.toSeq == Seq((10.0, 0.0), (15.0, -5.0), (16.0, -9.0)))
  }

  test("packByBudget fills packs to the budget, boundary doc closes a pack") {
    // sizes 100,100,56 fill pack 0 exactly (cum 256); the next doc opens
    // pack 1; an oversized doc occupies packs by itself
    val df = Seq((1L, 1, 100L), (1L, 2, 100L), (1L, 3, 56L), (1L, 4, 10L),
      (1L, 5, 600L), (2L, 1, 50L))
      .toDF("shard", "ord", "n")
    // cum: 100,200,256,266,866 → packs 0,0,0,1,3 (the 600-token doc
    // spans past pack 2's range and lands in pack 3 alone)
    val got = Sequences.packByBudget(df, Seq("shard"), Seq($"ord"), $"n", 256)
      .orderBy("shard", "ord").select("pack_id").as[Long].collect()
    assert(got.toSeq == Seq(0L, 0L, 0L, 1L, 3L, 0L))
  }

  test("hashFold and stratifiedKeep are deterministic and well-distributed") {
    val df = spark.range(2000).select($"id",
      when($"id" % 2 === 0, "a").otherwise("b").as("stratum"))
    val folds = df.select(Sampling.hashFold($"id", 5).as("f"))
      .groupBy("f").count().as[(Long, Long)].collect().toMap
    assert(folds.keySet == Set(0L, 1L, 2L, 3L, 4L))
    // roughly uniform: every fold within 2x of the ideal 400
    assert(folds.values.forall(c => c > 200 && c < 800), folds.toString)
    val kept = Sampling.stratifiedKeep(df, $"id", $"stratum",
      Map("a" -> 1.0, "b" -> 0.25))
    val byStratum = kept.groupBy("stratum").count()
      .as[(String, Long)].collect().toMap
    assert(byStratum("a") == 1000L) // rate 1.0 keeps everything
    assert(byStratum("b") > 150 && byStratum("b") < 350) // ~250
    // determinism: the same call yields the identical kept set
    val again = Sampling.stratifiedKeep(df, $"id", $"stratum",
      Map("a" -> 1.0, "b" -> 0.25)).select("id").as[Long].collect().toSet
    assert(again == kept.select("id").as[Long].collect().toSet)
  }
}
