package graft.pipeline

import org.apache.spark.sql.DataFrame

/**
 * Native VRAE latent encoder — the engine-side forward pass of the
 * reference's torch LSTM-VRAE *transform* path, closing the last torch
 * boundary in the `run.py` dataflow:
 *
 *   per-user dense feature sequence → single-layer LSTM
 *   (`vrae/vrae.py:30-47` Encoder: `_, (h_end, c_end) = lstm(x)`, keep the
 *   last layer's final hidden state) → `hidden_to_mean` linear
 *   (`vrae/vrae.py:57-84` Lambda; `self.training` is false on the transform
 *   path — `vrae.py:389` calls `self.eval()` — so the reparametrization
 *   noise branch is dead and the latent IS the mean) → 40-dim latent vector
 *   consumed as CatBoost features (`run.py:176-178,463-466`).
 *
 * Parity notes (pinned by `LatentEncoderSpec`):
 *  - torch LSTM gate math, gate order i,f,g,o in the stacked 4H weight
 *    rows: i = σ(W_ii x + b_ii + W_hi h + b_hi), f and o likewise,
 *    g = tanh(W_ig x + b_ig + W_hg h + b_hg);
 *    c' = f ⊙ c + i ⊙ g; h' = o ⊙ tanh(c').
 *  - The reference encoder is depth-1 (`run.py:145` hidden_layer_depth=1),
 *    hidden 120, latent 40, 394 input features (`run.py:104` cols + the 3
 *    appended cumsums); `h_end[-1]` is then just the final hidden state.
 *  - Dropout (0.1) lives INSIDE nn.LSTM between layers, so with depth 1 it
 *    is structurally a no-op — no eval-mode caveat needed here.
 *
 * Model artifact: a committed `latentmodel` text artifact ([[Artifact]]),
 * emitted by `tools/convert_vrae_ckpt.py` from the reference's
 * `model_dir/vrae_5896.pth` (`run.py:176`) without torch. The per-user
 * forward pass runs in the same stage as [[SequenceScorer]]
 * ([[Recurrent.appendPerUser]]).
 */
final case class LstmLayer(wIh: Array[Array[Double]], wHh: Array[Array[Double]],
                           bIh: Array[Double], bHh: Array[Double]) {
  val hidden: Int = bIh.length / 4
  require(wIh.length == 4 * hidden && wHh.length == 4 * hidden &&
    bHh.length == 4 * hidden, "LSTM weight shapes must be (4H x F)/(4H x H)/4H")

  import Recurrent.{dot, sigmoid}

  /** One recurrence step; mutates nothing, returns (h', c'). */
  def step(x: Array[Double], h: Array[Double],
           c: Array[Double]): (Array[Double], Array[Double]) = {
    val hN = new Array[Double](hidden)
    val cN = new Array[Double](hidden)
    var j = 0
    while (j < hidden) {
      val i = sigmoid(dot(wIh(j), x) + bIh(j) + dot(wHh(j), h) + bHh(j))
      val f = sigmoid(dot(wIh(hidden + j), x) + bIh(hidden + j) +
        dot(wHh(hidden + j), h) + bHh(hidden + j))
      val g = math.tanh(dot(wIh(2 * hidden + j), x) + bIh(2 * hidden + j) +
        dot(wHh(2 * hidden + j), h) + bHh(2 * hidden + j))
      val o = sigmoid(dot(wIh(3 * hidden + j), x) + bIh(3 * hidden + j) +
        dot(wHh(3 * hidden + j), h) + bHh(3 * hidden + j))
      cN(j) = f * c(j) + i * g
      hN(j) = o * math.tanh(cN(j))
      j += 1
    }
    (hN, cN)
  }
}

final case class LatentEncoderModel(
    nFeatures: Int,
    lstm: LstmLayer,
    /** `hidden_to_mean`: latent x hidden weight + latent bias. */
    meanW: Array[Array[Double]], meanB: Array[Double]) {

  val hidden: Int = lstm.hidden
  val latent: Int = meanB.length
  require(meanW.length == latent && meanW(0).length == hidden,
    "mean head must be (latent x hidden)")

  /** Latent mean vector for one user's (T x F) dense sequence. */
  def transform(seq: Array[Array[Double]]): Array[Double] = {
    require(seq.nonEmpty, "empty sequence")
    var h = new Array[Double](hidden)
    var c = new Array[Double](hidden)
    var i = 0
    while (i < seq.length) {
      val hc = lstm.step(seq(i), h, c)
      h = hc._1; c = hc._2
      i += 1
    }
    val z = new Array[Double](latent)
    var j = 0
    while (j < latent) {
      var s = meanB(j); var k = 0
      while (k < hidden) { s += meanW(j)(k) * h(k); k += 1 }
      z(j) = s; j += 1
    }
    z
  }

  /** The `latentmodel` text artifact. */
  def toLines: Seq[String] = {
    import Artifact.{matrix => mat, vector => vec}
    Seq("latentmodel", s"nfeatures $nFeatures", s"hidden $hidden",
      s"latent $latent") ++
      mat("enc_wih", lstm.wIh) ++ mat("enc_whh", lstm.wHh) ++
      vec("enc_bih", lstm.bIh) ++ vec("enc_bhh", lstm.bHh) ++
      mat("mean_w", meanW) ++ vec("mean_b", meanB)
  }
}

object LatentEncoderModel {

  def fromLines(lines: Seq[String]): LatentEncoderModel = {
    // hidden and latent are derived from the weight shapes
    val a = Artifact.parse(lines, "latentmodel",
      Set("nfeatures", "hidden", "latent"))
    val nFeatures = a.keys.get("nfeatures").fold(0)(_.head.toInt)
    require(nFeatures > 0, "latentmodel artifact missing nfeatures")
    val (mats, vecs) = (a.matrices, a.vectors)
    LatentEncoderModel(nFeatures,
      LstmLayer(mats("enc_wih"), mats("enc_whh"),
        vecs("enc_bih"), vecs("enc_bhh")),
      mats("mean_w"), vecs("mean_b"))
  }

  /** Load a `latentmodel` artifact from a filesystem path or classpath
    * resource (see [[Artifact.lines]]). */
  def fromFile(path: String): LatentEncoderModel =
    fromLines(Artifact.lines(path))

  /** Deterministic pseudo-random model ([[Recurrent.Weights]]) —
    * reproducible from (seed, shape). */
  def synthetic(nFeatures: Int, hidden: Int, latent: Int,
                seed: Long): LatentEncoderModel = {
    val w = new Recurrent.Weights(seed)
    LatentEncoderModel(nFeatures,
      LstmLayer(w.matrix(4 * hidden, nFeatures), w.matrix(4 * hidden, hidden),
        w.vector(4 * hidden), w.vector(4 * hidden)),
      w.matrix(latent, hidden), w.vector(latent))
  }
}

/** Appends `z_0..z_{L-1}` latent columns to a frame carrying the dense
  * `seq` tensor — the engine form of `vrae.transform(...)` → `df_z`
  * (`run.py:178-179`). */
final case class LatentTransformer(model: LatentEncoderModel) {
  def transform(features: DataFrame): DataFrame =
    Recurrent.appendPerUser(features, model,
      (0 until model.latent).map(j => s"z_$j"))(_.transform(_))
}
