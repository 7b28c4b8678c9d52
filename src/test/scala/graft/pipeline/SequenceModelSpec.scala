package graft.pipeline

import graft.SparkSpec

/** Pins the native GRU forward pass (`model.py:57-91` semantics) against
  * hand-computed values, the artifact round-trip, and the Spark scorer. */
class SequenceModelSpec extends SparkSpec {

  import spark.implicits._

  private def sigmoid(x: Double) = 1.0 / (1.0 + math.exp(-x))

  // --- a fully hand-specified H=1, E=1 model: scalar gate math is
  // checkable on paper. wIh rows stacked [r; z; n].
  private val g = GruLayer(
    wIh = Array(Array(0.5), Array(-0.25), Array(1.0)),
    wHh = Array(Array(0.2), Array(0.3), Array(-0.4)),
    bIh = Array(0.1, 0.0, -0.1), bHh = Array(0.05, -0.05, 0.2))

  private def stepByHand(x: Double, h: Double): Double = {
    val r = sigmoid(0.5 * x + 0.1 + 0.2 * h + 0.05)
    val z = sigmoid(-0.25 * x + 0.0 + 0.3 * h - 0.05)
    val n = math.tanh(1.0 * x - 0.1 + r * (-0.4 * h + 0.2))
    (1.0 - z) * n + z * h
  }

  test("GRU step matches the torch gate equations (r,z,n order)") {
    for (x <- Seq(-2.0, 0.0, 0.7, 3.1); h <- Seq(-1.0, 0.0, 0.5)) {
      val got = g.step(Array(x), Array(h))(0)
      assert(math.abs(got - stepByHand(x, h)) < 1e-12, s"x=$x h=$h")
    }
  }

  // --- tiny full model: 1 feature (card 2, dim 1), H=1, cls 1 unit.
  // Forward path small enough to replay by hand below.
  private val tiny = SequenceModel(
    features = Seq("f"),
    embed = Map("f" -> Array(Array(0.0), Array(1.0), Array(-0.5))),
    edges = Map.empty, seqLen = 3,
    fwd = g,
    bwd = GruLayer(
      wIh = Array(Array(-0.3), Array(0.6), Array(0.8)),
      wHh = Array(Array(0.1), Array(-0.2), Array(0.25)),
      bIh = Array(0.0, 0.1, 0.0), bHh = Array(-0.1, 0.0, 0.05)),
    w1 = Array(Array(0.3, -0.2, 0.5, 0.1, -0.4, 0.25)), b1 = Array(0.1),
    w2 = Array(Array(0.7), Array(-0.6)), b2 = Array(0.05, -0.05))

  private def bwdStepByHand(x: Double, h: Double): Double = {
    val r = sigmoid(-0.3 * x + 0.0 + 0.1 * h - 0.1)
    val z = sigmoid(0.6 * x + 0.1 - 0.2 * h + 0.0)
    val n = math.tanh(0.8 * x + 0.0 + r * (0.25 * h + 0.05))
    (1.0 - z) * n + z * h
  }

  test("forward replays by hand: pooling, avg over full T, interleaved last hidden") {
    val seq = Array(Array(1), Array(2), Array(0)) // idx 0 = right padding
    val xs = Seq(1.0, -0.5, 0.0)                  // embedded inputs
    // forward scan
    val f1 = stepByHand(xs(0), 0.0)
    val f2 = stepByHand(xs(1), f1)
    val f3 = stepByHand(xs(2), f2) // padding step still evolves state
    // backward scan (aligned back to t)
    val b3 = bwdStepByHand(xs(2), 0.0)
    val b2 = bwdStepByHand(xs(1), b3)
    val b1 = bwdStepByHand(xs(0), b2)
    val mxF = Seq(f1, f2, f3).max; val mxB = Seq(b1, b2, b3).max
    val avF = (f1 + f2 + f3) / 3.0; val avB = (b1 + b2 + b3) / 3.0
    // combined = [max(2H), avg(2H), last interleaved(2H)]; last for H=1 is
    // [f_last, b_first] (the permute/reshape at model.py:71)
    val combined = Seq(mxF, mxB, avF, avB, f3, b1)
    val h1 = math.max(0.0,
      0.1 + combined.zip(Seq(0.3, -0.2, 0.5, 0.1, -0.4, 0.25))
        .map { case (c, w) => c * w }.sum)
    val l0 = 0.7 * h1 + 0.05; val l1 = -0.6 * h1 - 0.05
    val want = math.exp(l1) / (math.exp(l0) + math.exp(l1))
    assert(math.abs(tiny.forward(seq) - want) < 1e-12)
  }

  test("padding index embeds to zero but still participates in recurrence and avg") {
    val short = tiny.forward(Array(Array(1)))
    val padded = tiny.forward(Array(Array(1), Array(0), Array(0)))
    // model.py divides the avg-pool by the FULL padded length and runs the
    // GRU through the pads — so the two scores must differ
    assert(math.abs(short - padded) > 1e-9)
  }

  test("out-of-vocabulary index clamps to the padding row") {
    assert(tiny.forward(Array(Array(99))) == tiny.forward(Array(Array(0))))
  }

  test("artifact text round-trips bit-exactly (plain and .gz)") {
    val m = SequenceModel.synthetic(
      Seq(("a", 4, 3), ("b", 6, 2)), hidden = 5, clsUnits = 4, seqLen = 7,
      seed = 42L, edges = Map("b" -> Array(0.0, 1.5, 3.0)))
    val back = SequenceModel.fromLines(m.toLines)
    val seq = Array(Array(1, 2), Array(3, 5), Array(0, 0))
    assert(back.forward(seq) == m.forward(seq)) // Double.toString round-trip
    assert(back.edges("b").toSeq == Seq(0.0, 1.5, 3.0))
    // file round-trip incl. gz + the header Submit dispatches on
    val dir = java.nio.file.Files.createTempDirectory("seqmodel").toFile
    val plain = new java.io.File(dir, "m.txt")
    java.nio.file.Files.write(plain.toPath,
      m.toLines.mkString("\n").getBytes)
    val gz = new java.io.File(dir, "m.txt.gz")
    val os = new java.util.zip.GZIPOutputStream(
      new java.io.FileOutputStream(gz))
    os.write(m.toLines.mkString("\n").getBytes); os.close()
    assert(SequenceModel.fromFile(plain.getPath).forward(seq) == m.forward(seq))
    assert(SequenceModel.fromFile(gz.getPath).forward(seq) == m.forward(seq))
    assert(Artifact.header(Artifact.lines(gz.getPath)) == "seqmodel")
    rmTree(dir)
  }

  test("SequenceScorer on Spark equals the local forward pass") {
    val m = SequenceModel.synthetic(
      Seq(("f", 5, 2)), hidden = 3, clsUnits = 4, seqLen = 4, seed = 7L)
    val rows = Seq(
      (1L, Seq(Seq(1.0), Seq(2.0), Seq(3.0), Seq(0.0))),
      (2L, Seq(Seq(5.0), Seq(4.0), Seq(1.0), Seq(2.0))))
    val df = rows.toDF("user_id", "seq")
    val got = SequenceScorer(m).score(df)
      .select("user_id", "target").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    rows.foreach { case (u, s) =>
      val local = m.forward(s.map(_.map(_.toInt).toArray).toArray)
      val rounded = BigDecimal(local)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(got(u) == rounded, s"user $u")
    }
  }

  test("committed converted reference checkpoint loads with the right shape") {
    val m = SequenceModel.fromFile("/graft/seq_model_tx.txt.gz")
    // model.py:14-22 embedding_projections + rnn_units=128
    assert(m.features == Seq("hour", "mcc_code", "currency_rk",
      "transaction_amt", "day", "month", "number_day"))
    assert(m.hidden == 128 && m.seqLen == 300 && m.inputDim == 240)
    assert(m.embed("mcc_code").length == 404 &&
      m.embed("mcc_code")(0).length == 150)
    assert(m.edges("transaction_amt").length == 103)
    // scoring is deterministic and a probability
    val seq = Array.tabulate(300, 7)((t, f) => (t + f) % 3)
    val p = m.forward(seq)
    assert(p > 0.0 && p < 1.0 && p == m.forward(seq))
  }
}
