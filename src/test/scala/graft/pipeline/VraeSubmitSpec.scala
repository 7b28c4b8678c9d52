package graft.pipeline

import java.nio.file.Files
import graft.{SparkSpec, Submit}

/** The VRAE branch end to end: the run.py:90-126 feature assembly onto the
  * committed 391-column template (+3 cumsums), and Submit.runWithLatent —
  * the latent block joined into the tree feature matrix and actually
  * driving the score. */
class VraeSubmitSpec extends SparkSpec {

  private def csvOf(rows: Seq[String]): String = {
    val dir = Files.createTempDirectory("graft_vrae_in").toFile
    val f = new java.io.File(dir, "tx.csv")
    val w = new java.io.PrintWriter(f, "UTF-8")
    w.println("user_id,mcc_code,currency_rk,transaction_amt,transaction_dttm")
    rows.foreach(w.println)
    w.close()
    f.getAbsolutePath
  }

  test("template is the run.py:104 literal: 391 names, 394 features") {
    assert(VraeFeatures.template.length === 391)
    assert(VraeFeatures.featureNames.length === 394)
    assert(VraeFeatures.template.take(5) === Seq("transaction_amt",
      "timediff", "time_day", "debit", "credit"))
    assert(VraeFeatures.featureNames.takeRight(3) === Seq(
      "transaction_cum_sum", "debit_cum_sum", "credit_cum_sum"))
    assert(VraeFeatures.template.contains("mcc_code_-1"))
    assert(VraeFeatures.template.contains("month_12"))
  }

  test("assemble: one-hots, per-user pop scaling, cumsums, timediff rebase") {
    // user 1: three txns; amounts 10, -5, 20 -> mean 25/3, pop sigma
    val csv = csvOf(Seq(
      "1,742,48,10.0,2023-01-01 10:00:00",
      "1,5411,48,-5.0,2023-01-01 11:30:00",
      "1,9999,60,20.0,2023-01-02 10:00:00")) // mcc 9999 NOT in template
    val tx = graft.schema.Tables.readTransactionsCsv(spark, csv)
    val out = VraeFeatures.assemble(tx).collect()
    assert(out.length === 1)
    val seq = out(0).getSeq[scala.collection.Seq[Double]](1)
    assert(seq.length === 3)
    assert(seq(0).length === 394)
    val names = VraeFeatures.featureNames
    def at(t: Int, name: String): Double = seq(t)(names.indexOf(name))
    // one-hots: template mcc hit, unseen mcc all-zero, currency + calendar
    assert(at(0, "mcc_code_742") === 1.0 && at(1, "mcc_code_742") === 0.0)
    assert(at(1, "mcc_code_5411") === 1.0)
    assert(names.filter(_.startsWith("mcc_code_"))
      .forall(n => at(2, n) === 0.0)) // 9999 drops, like reindex
    assert(at(0, "currency_rk_48") === 1.0 && at(2, "currency_rk_60") === 1.0)
    assert(at(0, "hour_of_day_10") === 1.0 && at(1, "hour_of_day_11") === 1.0)
    assert(at(0, "day_of_week_6") === 1.0) // 2023-01-01 is a Sunday (Mon=0)
    assert(at(0, "month_1") === 1.0 && at(2, "day_of_month_2") === 1.0)
    // time_day seconds
    assert(at(0, "time_day") === 36000.0 && at(1, "time_day") === 41400.0)
    // timediff: whole hours since global min, rebased to user's first row
    assert(at(0, "timediff") === 0.0)
    assert(at(1, "timediff") === 1.0)
    assert(at(2, "timediff") === 24.0)
    // per-user population scaling of amt
    val mean = (10.0 - 5.0 + 20.0) / 3
    val sd = math.sqrt((math.pow(10 - mean, 2) + math.pow(-5 - mean, 2)
      + math.pow(20 - mean, 2)) / 3)
    assert(math.abs(at(0, "transaction_amt") - (10 - mean) / sd) < 1e-12)
    // debit split scaled with ITS own stats (0-filled first, run.py:108)
    val dMean = (10.0 + 0.0 + 20.0) / 3
    val dSd = math.sqrt((math.pow(10 - dMean, 2) + math.pow(0 - dMean, 2)
      + math.pow(20 - dMean, 2)) / 3)
    assert(math.abs(at(1, "debit") - (0 - dMean) / dSd) < 1e-12)
    // cumsums of the scaled columns, in time order
    assert(math.abs(at(2, "transaction_cum_sum") -
      (at(0, "transaction_amt") + at(1, "transaction_amt")
        + at(2, "transaction_amt"))) < 1e-12)
  }

  test("zero-variance user scales to centered zeros (sklearn sigma=0 -> 1)") {
    val csv = csvOf(Seq(
      "7,742,48,5.0,2023-01-01 10:00:00",
      "7,742,48,5.0,2023-01-01 11:00:00"))
    val tx = graft.schema.Tables.readTransactionsCsv(spark, csv)
    val seq = VraeFeatures.assemble(tx).collect()(0)
      .getSeq[scala.collection.Seq[Double]](1)
    val i = VraeFeatures.featureNames.indexOf("transaction_amt")
    assert(seq(0)(i) === 0.0 && seq(1)(i) === 0.0)
    val ic = VraeFeatures.featureNames.indexOf("credit") // all-zero column
    assert(seq(0)(ic) === 0.0)
  }

  test("runWithLatent: the latent block drives the tree score") {
    // tree model splits ONLY on z_0: different sequences -> different z_0
    // -> different scores; a user dropped by cleaning gets the fallback
    val model = TreeEnsembleModel(
      featureNames = Seq("freq_742", "z_0"),
      bias = 0.0,
      trees = Seq(TreeSplit("z_0", 0.5, TreeLeaf(-1.0), TreeLeaf(1.0))))
    // hand-built integrator LSTM: i≈1, f≈1, o≈1 (bias 10), g = tanh(x at
    // the mcc_code_5411 one-hot) — c counts 5411 events, so z_0 ≈ 0 for a
    // user with none and ≈ 1 for a user with many: the latent is a
    // STRUCTURAL feature the tree can split on deterministically
    val idx5411 = VraeFeatures.featureNames.indexOf("mcc_code_5411")
    val encoder = LatentEncoderModel(394,
      LstmLayer(
        wIh = Array(Array.fill(394)(0.0), Array.fill(394)(0.0),
          Array.tabulate(394)(k => if (k == idx5411) 1.0 else 0.0),
          Array.fill(394)(0.0)),
        wHh = Array.fill(4)(Array(0.0)),
        bIh = Array(10.0, 10.0, 0.0, 10.0),
        bHh = Array(0.0, 0.0, 0.0, 0.0)),
      meanW = Array(Array(1.0)), meanB = Array(0.0))
    // users 1/2: >=21 distinct-ts rows each so trim(20) keeps one row;
    // structurally different sequences (mcc, amount pattern, hours) — a
    // per-user z-score would cancel a mere base-amount shift
    def user(u: Int, mcc: Int, mod: Int): Seq[String] =
      (0 until 42).map(i => f"$u,$mcc,48,${10 + (i % mod)}.0," +
        f"2023-01-${1 + i / 2}%02d 1${(u + i) % 3}:00:00")
    val csv = csvOf(user(1, 742, 7) ++ user(2, 5411, 5) :+
      "3,6012,48,1.0,2023-02-01 10:00:00") // only-6012 user -> fallback
    val out = Submit.runWithLatent(spark, csv, model, encoder)
      .orderBy("user_id").collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L))
    val scores = out.map(_.getDouble(1))
    // the z_0 split separates the users: no 5411 -> z_0≈0 -> leaf -1;
    // forty-two 5411s -> z_0≈1 -> leaf +1
    assert(scores(0) === -1.0 && scores(1) === 1.0)
    // fallback user 3 gets max of the scored users
    assert(scores(2) === 1.0)
  }
}
