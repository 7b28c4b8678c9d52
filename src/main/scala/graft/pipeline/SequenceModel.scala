package graft.pipeline

import org.apache.spark.sql.DataFrame

/**
 * Native sequence-model scorer — the engine-side forward pass of the
 * reference's torch RNN (`model.py:28-91` `TransactionsRnn`), closing the
 * last `run.py` parity gap without torch:
 *
 *   categorical indices → per-feature embedding lookup (`model.py:80-82`,
 *   `padding_idx=0` so index 0 embeds to the zero vector) → bidirectional
 *   GRU (`model.py:40`) → [max-pool, avg-pool, last-hidden] concat
 *   (`model.py:69-73`) → 2-layer ReLU classifier (`model.py:46-50`) →
 *   softmax, class-1 probability (`model.py:75-76`, `model.py:244`).
 *
 * Parity notes, each pinned by `SequenceModelSpec`:
 *  - torch GRU gate math, gate order r,z,n in the stacked weight rows:
 *    r = σ(W_ir x + b_ir + W_hr h + b_hr), z likewise,
 *    n = tanh(W_in x + b_in + r ⊙ (W_hn h + b_hn)),
 *    h' = (1−z) ⊙ n + z ⊙ h.
 *  - The avg-pool divides by the FULL padded length T (`states.sum(dim=1) /
 *    states.shape[1]`, `model.py:70`) — padding steps participate in the
 *    recurrence and the pooling, exactly as in the reference (right-padding
 *    with index 0, `model.py:193`: the pad EMBEDS to zeros but still
 *    evolves the GRU state).
 *  - `last_hidden.permute(1,2,0).reshape(B, 2H)` (`model.py:71`)
 *    INTERLEAVES the two directions per hidden unit
 *    [f0,b0,f1,b1,…] — not a plain concat; mirrored in [[forward]].
 *  - Dropout layers are identity here: this is the eval-mode semantics
 *    (`model.py:234` calls `model.eval()`; the reference's functional
 *    dropout at `model.py:74` technically stays live even in eval — a
 *    torch-API quirk it papers over with seeding — and a DETERMINISTIC
 *    engine takes the intended eval behavior).
 *
 * The model is a committed `seqmodel` text artifact ([[Artifact]]);
 * `tools/convert_nn_ckpt.py` emits it from the reference's
 * `nn_weights.ckpt` + `nn_bins.pickle` pair (driver-side, needs torch).
 * Scoring runs per user over the assembled sequence tensors
 * (`Sequences.assembleSequences`, one shuffle on user_id), O(T · H · (E+H))
 * per user, in the shared per-user stage [[Recurrent.appendPerUser]].
 */
final case class GruLayer(wIh: Array[Array[Double]], wHh: Array[Array[Double]],
                          bIh: Array[Double], bHh: Array[Double]) {
  val hidden: Int = bIh.length / 3
  require(wIh.length == 3 * hidden && wHh.length == 3 * hidden &&
    bHh.length == 3 * hidden, "GRU weight shapes must be (3H x E)/(3H x H)/3H")

  import Recurrent.{dot, sigmoid}

  /** One recurrence step; returns the new hidden state (length H). */
  def step(x: Array[Double], h: Array[Double]): Array[Double] = {
    val out = new Array[Double](hidden)
    var j = 0
    while (j < hidden) {
      val r = sigmoid(dot(wIh(j), x) + bIh(j) + dot(wHh(j), h) + bHh(j))
      val z = sigmoid(dot(wIh(hidden + j), x) + bIh(hidden + j) +
        dot(wHh(hidden + j), h) + bHh(hidden + j))
      val n = math.tanh(dot(wIh(2 * hidden + j), x) + bIh(2 * hidden + j) +
        r * (dot(wHh(2 * hidden + j), h) + bHh(2 * hidden + j)))
      out(j) = (1.0 - z) * n + z * h(j)
      j += 1
    }
    out
  }
}

final case class SequenceModel(
    features: Seq[String],
    /** Per feature: (cardinality+1) x dim embedding table; row 0 is the
      * padding row (zeros, `padding_idx=0`). */
    embed: Map[String, Array[Array[Double]]],
    /** Optional pd.cut bin edges per feature (the `nn_bins` digitization,
      * `model.py:172-181`) — features without edges arrive pre-indexed. */
    edges: Map[String, Array[Double]],
    seqLen: Int,
    fwd: GruLayer, bwd: GruLayer,
    w1: Array[Array[Double]], b1: Array[Double],
    w2: Array[Array[Double]], b2: Array[Double]) {

  val hidden: Int = fwd.hidden
  private val embDims: Seq[Int] = features.map(f => embed(f)(0).length)
  val inputDim: Int = embDims.sum

  /** Embed one timestep's feature indices into the concatenated input
    * vector. Out-of-vocabulary indices clamp to the padding row — the
    * defensive stance for drifted vocab (torch would throw; a 100 TB batch
    * job should not die on one stray code). */
  private def embedStep(idx: Array[Int]): Array[Double] = {
    val x = new Array[Double](inputDim)
    var off = 0; var i = 0
    while (i < features.length) {
      val table = embed(features(i))
      val row = if (idx(i) >= 0 && idx(i) < table.length) table(idx(i)) else table(0)
      System.arraycopy(row, 0, x, off, row.length)
      off += row.length; i += 1
    }
    x
  }

  /** Class-1 probability for one user's (T x F) index sequence. */
  def forward(seq: Array[Array[Int]]): Double = {
    val t = seq.length
    require(t > 0, "empty sequence")
    val xs = new Array[Array[Double]](t)
    var i = 0
    while (i < t) { xs(i) = embedStep(seq(i)); i += 1 }
    // forward and backward scans; states(t) = [h_fwd(t) ++ h_bwd(t)]
    val sf = new Array[Array[Double]](t)
    var h = new Array[Double](hidden)
    i = 0
    while (i < t) { h = fwd.step(xs(i), h); sf(i) = h; i += 1 }
    val sb = new Array[Array[Double]](t)
    h = new Array[Double](hidden)
    i = t - 1
    while (i >= 0) { h = bwd.step(xs(i), h); sb(i) = h; i -= 1 }
    // pooling over the time axis (max, sum/T) on the 2H state vectors
    val twoH = 2 * hidden
    val mx = Array.fill(twoH)(Double.NegativeInfinity)
    val av = new Array[Double](twoH)
    i = 0
    while (i < t) {
      var j = 0
      while (j < hidden) {
        val f = sf(i)(j); val b = sb(i)(j)
        if (f > mx(j)) mx(j) = f
        if (b > mx(hidden + j)) mx(hidden + j) = b
        av(j) += f; av(hidden + j) += b
        j += 1
      }
      i += 1
    }
    var j = 0
    while (j < twoH) { av(j) /= t; j += 1 }
    // last_hidden: fwd final state h_fwd(T-1), bwd final state h_bwd(0),
    // INTERLEAVED per hidden unit (the permute/reshape at model.py:71)
    val last = new Array[Double](twoH)
    j = 0
    while (j < hidden) {
      last(2 * j) = sf(t - 1)(j); last(2 * j + 1) = sb(0)(j); j += 1
    }
    val combined = mx ++ av ++ last
    // classifier: Linear -> ReLU -> Linear -> softmax, return p(class 1)
    val h1 = new Array[Double](b1.length)
    j = 0
    while (j < b1.length) {
      var s = b1(j); var k = 0
      while (k < combined.length) { s += w1(j)(k) * combined(k); k += 1 }
      h1(j) = if (s > 0) s else 0.0
      j += 1
    }
    val logits = new Array[Double](2)
    j = 0
    while (j < 2) {
      var s = b2(j); var k = 0
      while (k < h1.length) { s += w2(j)(k) * h1(k); k += 1 }
      logits(j) = s; j += 1
    }
    val m = math.max(logits(0), logits(1))
    val e0 = math.exp(logits(0) - m); val e1 = math.exp(logits(1) - m)
    e1 / (e0 + e1)
  }

  /** The `seqmodel` text artifact: `seqlen`/`features`/`hidden` lines,
    * then the named matrix, vector and `edges` sections. */
  def toLines: Seq[String] = {
    import Artifact.{matrix => mat, vector => vec}
    val head = Seq("seqmodel", s"seqlen $seqLen",
      "features " + features.mkString(" "), s"hidden $hidden")
    val embLines = features.flatMap(f => mat(s"embed_$f", embed(f)))
    val edgeLines = features.filter(edges.contains)
      .flatMap(f => Seq(s"edges $f ${edges(f).length}", edges(f).mkString(" ")))
    head ++ embLines ++ edgeLines ++
      mat("fwd_wih", fwd.wIh) ++ mat("fwd_whh", fwd.wHh) ++
      vec("fwd_bih", fwd.bIh) ++ vec("fwd_bhh", fwd.bHh) ++
      mat("bwd_wih", bwd.wIh) ++ mat("bwd_whh", bwd.wHh) ++
      vec("bwd_bih", bwd.bIh) ++ vec("bwd_bhh", bwd.bHh) ++
      mat("cls_w1", w1) ++ vec("cls_b1", b1) ++
      mat("cls_w2", w2) ++ vec("cls_b2", b2)
  }
}

object SequenceModel {

  def fromLines(lines: Seq[String]): SequenceModel = {
    val a = Artifact.parse(lines, "seqmodel", Set("seqlen", "features", "hidden"))
    val seqLen = a.keys.get("seqlen").fold(0)(_.head.toInt)
    val features = a.keys.getOrElse("features", Nil)
    require(seqLen > 0 && features.nonEmpty && a.keys.contains("hidden"),
      "seqmodel artifact missing seqlen/hidden/features")
    val (mats, vecs) = (a.matrices, a.vectors)
    def gru(p: String) =
      GruLayer(mats(s"${p}_wih"), mats(s"${p}_whh"),
        vecs(s"${p}_bih"), vecs(s"${p}_bhh"))
    SequenceModel(features,
      features.map(f => f -> mats(s"embed_$f")).toMap, a.edges,
      seqLen, gru("fwd"), gru("bwd"),
      mats("cls_w1"), vecs("cls_b1"), mats("cls_w2"), vecs("cls_b2"))
  }

  /** Load a `seqmodel` artifact from a filesystem path or classpath
    * resource (see [[Artifact.lines]]). */
  def fromFile(path: String): SequenceModel = fromLines(Artifact.lines(path))

  /** Deterministic pseudo-random model ([[Recurrent.Weights]]) — the
    * committed-artifact stand-in for a trained checkpoint, reproducible from
    * (seed, shape) alone. `featureSpec` is (name, cardinality, embedDim);
    * embedding row 0 is zeroed (padding_idx). */
  def synthetic(featureSpec: Seq[(String, Int, Int)], hidden: Int,
                clsUnits: Int, seqLen: Int, seed: Long,
                edges: Map[String, Array[Double]] = Map.empty): SequenceModel = {
    val w = new Recurrent.Weights(seed)
    val emb = featureSpec.map { case (f, card, dim) =>
      val m = w.matrix(card + 1, dim)
      java.util.Arrays.fill(m(0), 0.0) // padding row
      f -> m
    }.toMap
    val e = featureSpec.map(_._3).sum
    def gru() = GruLayer(w.matrix(3 * hidden, e), w.matrix(3 * hidden, hidden),
      w.vector(3 * hidden), w.vector(3 * hidden))
    SequenceModel(featureSpec.map(_._1), emb, edges, seqLen, gru(), gru(),
      w.matrix(clsUnits, 6 * hidden), w.vector(clsUnits),
      w.matrix(2, clsUnits), w.vector(2))
  }
}

/** [[Scorer]] plug for [[SequenceModel]]: appends `target` = class-1
  * probability to a frame carrying the `seq` index tensor (integer-valued
  * doubles). */
final case class SequenceScorer(model: SequenceModel) extends Scorer {
  override def score(features: DataFrame): DataFrame =
    Recurrent.appendPerUser(features, model, Seq("target")) { (m, seq) =>
      Array(m.forward(seq.map(_.map(_.toInt))))
    }
}
