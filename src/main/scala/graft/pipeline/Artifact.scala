package graft.pipeline

import scala.collection.mutable
import scala.reflect.ClassTag
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.DoubleType

/**
 * The committed-model text artifacts, read and written in one place.
 *
 * An artifact is UTF-8 text, optionally gzipped (a `.gz` path decompresses
 * transparently; the converted bi-GRU checkpoint is ~8 MB of text, ~3.6 MB
 * gzipped). Blank lines and `#` comment lines are ignored. The first token
 * of the first line names the format, which is how `graft.Submit` picks
 * the branch:
 *  - `seqmodel`: [[SequenceModel]] (bi-GRU, `tools/convert_nn_ckpt.py`);
 *  - `latentmodel`: [[LatentEncoderModel]] (VRAE LSTM encoder,
 *    `tools/convert_vrae_ckpt.py`);
 *  - `features`: [[TreeEnsembleModel]] (additive trees,
 *    `tools/convert_catboost_json.py`, `Train`, `toLines`).
 *
 * The two recurrent formats share one section grammar after the header:
 * `key value...` lines, `matrix <name> R C` followed by R lines of C
 * doubles, and `vector <name> N` / `edges <name> N` followed by one line of
 * N doubles. Doubles are `Double.toString` literals, which round-trip
 * bit-exactly, so scores reproduce across JVMs.
 */
private[graft] object Artifact {

  /** The meaningful lines of a filesystem path or, when no such file
    * exists, a classpath resource. */
  def lines(path: String): Seq[String] = {
    val file = new java.io.File(path)
    val in = if (file.isFile) new java.io.FileInputStream(file)
      else getClass.getResourceAsStream(path)
    require(in != null, s"model artifact not found: $path")
    val src = scala.io.Source.fromInputStream(
      if (path.endsWith(".gz")) new java.util.zip.GZIPInputStream(in) else in,
      "UTF-8")
    try content(src.getLines()).toVector finally src.close()
  }

  /** Trimmed lines without blanks and `#` comments. */
  def content(lines: IterableOnce[String]): Iterator[String] =
    lines.iterator.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))

  /** The format token: the first word of the first meaningful line. */
  def header(lines: Seq[String]): String =
    content(lines).nextOption().fold("")(_.split("\\s+")(0))

  def requireHeader(lines: Seq[String], expected: String): Unit = {
    val found = header(lines)
    require(found == expected,
      s"expected a '$expected' model artifact, found header '$found'")
  }

  /** A parsed recurrent-model artifact body. */
  final case class Sections(keys: Map[String, Seq[String]],
                            matrices: Map[String, Array[Array[Double]]],
                            vectors: Map[String, Array[Double]],
                            edges: Map[String, Array[Double]])

  /** Parse a `format`-headed artifact whose `key value...` lines are drawn
    * from `keys`; any other section is an error. */
  def parse(lines: Seq[String], format: String, keys: Set[String]): Sections = {
    requireHeader(lines, format)
    val it = content(lines).drop(1)
    val kv = mutable.Map[String, Seq[String]]()
    val mats = mutable.Map[String, Array[Array[Double]]]()
    val vecs = mutable.Map[String, Array[Double]]()
    val edg = mutable.Map[String, Array[Double]]()
    def doubles(s: String): Array[Double] =
      s.split("\\s+").map(java.lang.Double.parseDouble)
    while (it.hasNext) {
      val parts = it.next().split("\\s+")
      parts(0) match {
        case "matrix" => mats(parts(1)) = Array.fill(parts(2).toInt)(doubles(it.next()))
        case "vector" => vecs(parts(1)) = doubles(it.next())
        case "edges" => edg(parts(1)) = doubles(it.next())
        case k if keys(k) => kv(k) = parts.toSeq.drop(1)
        case other => throw new IllegalArgumentException(
          s"unknown $format section: $other")
      }
    }
    Sections(kv.toMap, mats.toMap, vecs.toMap, edg.toMap)
  }

  def matrix(name: String, m: Array[Array[Double]]): Seq[String] =
    s"matrix $name ${m.length} ${m(0).length}" +: m.toSeq.map(_.mkString(" "))

  def vector(name: String, v: Array[Double]): Seq[String] =
    Seq(s"vector $name ${v.length}", v.mkString(" "))
}

/** The numerics the recurrent models share: the gate arithmetic, the
  * deterministic weights of the synthetic stand-ins, and the per-user
  * forward stage on Spark. */
private[pipeline] object Recurrent {

  def dot(w: Array[Double], x: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < x.length) { s += w(i) * x(i); i += 1 }
    s
  }

  def sigmoid(x: Double): Double = 1.0 / (1.0 + math.exp(-x))

  /** splitmix64-derived uniforms in [-0.5, 0.5): matrices scaled by
    * 1/sqrt(fanIn), vectors by 0.1. A synthetic model is reproducible
    * from (seed, shape) alone as long as it draws its weights in a fixed
    * order. */
  final class Weights(seed: Long) {
    private var ctr = seed
    private def u(): Double = {
      ctr += 0x9E3779B97F4A7C15L
      var z = ctr
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^= z >>> 31
      (z >>> 11).toDouble / (1L << 53).toDouble - 0.5
    }
    def matrix(r: Int, c: Int): Array[Array[Double]] = {
      val scale = 1.0 / math.sqrt(c.toDouble)
      Array.fill(r)(Array.fill(c)(u() * 2.0 * scale))
    }
    def vector(n: Int): Array[Double] = Array.fill(n)(u() * 0.1)
  }

  /** Appends `names` as double columns computed by `f` from each row's
    * `seq` (the `array<array<double>>` tensor `Sequences.assembleSequences`
    * emits), rounded HALF_UP to 6 dp. The model is broadcast once per job;
    * a 300-step recurrence with per-step nonlinearities is imperative math,
    * not a relational expression, so this is a `mapPartitions` stage —
    * embarrassingly parallel, no shuffle. `f` must not capture the model:
    * it receives the broadcast copy. */
  def appendPerUser[M: ClassTag](features: DataFrame, model: M, names: Seq[String])(
      f: (M, Array[Array[Double]]) => Array[Double]): DataFrame = {
    val spark = features.sparkSession
    val bc = spark.sparkContext.broadcast(model)
    val idx = features.schema.fieldIndex("seq")
    val outSchema = names.foldLeft(features.schema)(_.add(_, DoubleType))
    val rdd = features.rdd.mapPartitions { rows =>
      val m = bc.value
      rows.map { r =>
        val seq = r.getSeq[scala.collection.Seq[Double]](idx)
          .map(_.toArray).toArray
        val out = f(m, seq).map(v => BigDecimal(v)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
        Row.fromSeq(r.toSeq ++ out)
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }
}
