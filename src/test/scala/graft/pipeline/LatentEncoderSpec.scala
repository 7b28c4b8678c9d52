package graft.pipeline

import graft.SparkSpec

/** Native VRAE latent encoder: torch LSTM gate wiring (hand-expanded),
  * artifact round-trip, the REAL converted reference checkpoint pinned
  * against an independently computed (pure-Python float64,
  * tools/make_rnn_fixture.py `latent_forward`) expected latent, and
  * Spark-vs-local equivalence of the mapPartitions transform. */
class LatentEncoderSpec extends SparkSpec {

  // ---- 1-unit LSTM whose step we can expand by hand (gate order i,f,g,o)
  private val tiny = LatentEncoderModel(
    nFeatures = 1,
    lstm = LstmLayer(
      wIh = Array(Array(0.5), Array(-0.3), Array(0.8), Array(0.2)),
      wHh = Array(Array(0.1), Array(0.2), Array(-0.4), Array(0.3)),
      bIh = Array(0.01, 0.02, 0.03, 0.04),
      bHh = Array(0.0, 0.0, 0.0, 0.0)),
    meanW = Array(Array(2.0)), meanB = Array(0.5))

  private def sg(x: Double) = 1.0 / (1.0 + math.exp(-x))

  test("LSTM step matches the hand-expanded torch gate equations") {
    // step 1: x=1, h=c=0
    val i1 = sg(0.5 * 1 + 0.01); val f1 = sg(-0.3 * 1 + 0.02)
    val g1 = math.tanh(0.8 * 1 + 0.03); val o1 = sg(0.2 * 1 + 0.04)
    val c1 = f1 * 0.0 + i1 * g1; val h1 = o1 * math.tanh(c1)
    // step 2: x=-0.5 with recurrent terms
    val i2 = sg(0.5 * -0.5 + 0.01 + 0.1 * h1)
    val f2 = sg(-0.3 * -0.5 + 0.02 + 0.2 * h1)
    val g2 = math.tanh(0.8 * -0.5 + 0.03 + -0.4 * h1)
    val o2 = sg(0.2 * -0.5 + 0.04 + 0.3 * h1)
    val c2 = f2 * c1 + i2 * g2; val h2 = o2 * math.tanh(c2)
    val z = tiny.transform(Array(Array(1.0), Array(-0.5)))
    assert(z.length === 1)
    assert(z(0) === 2.0 * h2 + 0.5)
  }

  test("text artifact round-trips bit-exactly") {
    val back = LatentEncoderModel.fromLines(tiny.toLines)
    val seq = Array(Array(0.25), Array(-1.5), Array(3.0))
    assert(back.transform(seq).toSeq === tiny.transform(seq).toSeq)
  }

  test("synthetic generation is deterministic from (seed, shape)") {
    val a = LatentEncoderModel.synthetic(8, 10, 6, 20230514L)
    val b = LatentEncoderModel.synthetic(8, 10, 6, 20230514L)
    assert(a.toLines === b.toLines)
  }

  // ---- the REAL converted checkpoint (vrae_5896.pth → vrae_encoder.txt.gz)
  private lazy val real =
    LatentEncoderModel.fromFile("/graft/vrae_encoder.txt.gz")

  test("converted reference checkpoint has the run.py shapes") {
    // run.py:143-156: hidden 120, depth 1, latent 40; 394 = the 391-col
    // dummy template (run.py:104) + 3 appended cumsums (run.py:116-118)
    assert(real.nFeatures === 394)
    assert(real.hidden === 120)
    assert(real.latent === 40)
  }

  test("real checkpoint latent matches the independent Python forward") {
    // pinned sequence x[t][k] = ((t*394+k) % 17) / 16.0 — exact in both
    // languages; expected computed by tools/make_rnn_fixture.py
    // latent_forward (pure-Python float64, independent implementation).
    // Tolerance 1e-9 absorbs JVM-vs-libm exp/tanh last-ulp differences
    // accumulated over 7 × 120 recurrence steps.
    val f = real.nFeatures
    val seq = Array.tabulate(7, f)((t, k) => ((t * f + k) % 17) / 16.0)
    val expected = Array(
      0.5120968246799442, -0.5812331725212903, 0.44829455225737086,
      0.9921842266920798, 0.7495128463551094, -0.7849948903064373,
      1.0094637629540792, -0.36876578083989997, -0.3276646118444124,
      0.32706944173777974, 0.2533084624347516, 0.4510417869168455,
      0.5286846619406859, 0.1718512829769879, 0.6348548186625371,
      0.3922928281366856, 0.046368233510474983, -0.12233640139507611,
      -0.5906572496904874, -0.37482513094725745, 0.321200970314014,
      -0.46125031062266514, 0.14509088648560736, -0.2481695509864101,
      -0.19515105896903026, 0.5549883339718028, 0.41505839576696124,
      -1.0046202339739208, 0.18864434212346298, 0.2055342586970125,
      -0.6978995848696885, -0.33516212720613014, 0.43637194133223695,
      -0.8163524441434872, 0.6092628113828445, -0.42689945012248703,
      -0.48622849434717375, 0.12552452060242844, -0.33094157424209975,
      0.37223631299228993)
    val z = real.transform(seq)
    assert(z.length === 40)
    z.zip(expected).zipWithIndex.foreach { case ((got, exp), j) =>
      assert(math.abs(got - exp) < 1e-9, s"z_$j: $got vs $exp")
    }
  }

  test("LatentTransformer (Spark) equals the local transform") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.{Row, types => T}
    val model = LatentEncoderModel.synthetic(3, 5, 4, 7L)
    val seqs = Seq(
      (1L, Array(Array(0.5, -1.0, 2.0), Array(0.0, 0.25, -0.75))),
      (2L, Array(Array(1.0, 1.0, 1.0))))
    val schema = T.StructType(Seq(
      T.StructField("user_id", T.LongType),
      T.StructField("seq", T.ArrayType(T.ArrayType(T.DoubleType)))))
    val df = spark.createDataFrame(
      seqs.map { case (u, s) => Row(u, s.map(_.toSeq).toSeq) }.asJava, schema)
    val out = LatentTransformer(model).transform(df)
      .select("user_id", "z_0", "z_1", "z_2", "z_3")
      .collect().map(r => r.getLong(0) ->
        (1 to 4).map(r.getDouble).toSeq).toMap
    seqs.foreach { case (u, s) =>
      val local = model.transform(s).map(v => BigDecimal(v)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble).toSeq
      assert(out(u) === local, s"user $u")
    }
  }
}
