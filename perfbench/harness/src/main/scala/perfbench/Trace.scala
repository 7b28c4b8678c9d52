package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Submit
import graft.ops.{Bucketize, Sequences, TimeFeatures}
import graft.pipeline.{Pipeline, Scorer, SequenceModel, SequenceScorer,
  TreeEnsembleModel, TreeEnsembleScorer}
import graft.schema.Tables

/** The Submit CLI composed layer by layer from the program's public
  * functions, each layer materialised once and timed on its own. The
  * composition mirrors `Submit.run` / `Submit.runSeq` step for step; the
  * harness spec pins that both write byte-identical CSVs. */
object Layers {

  /** cache + count: the layer's whole output is computed exactly once. */
  private def materialize(df: DataFrame): (DataFrame, Long, Double) = {
    val cached = df.cache()
    val (n, s) = Common.seconds(cached.count())
    (cached, n, s)
  }

  /** A scorer that hands back an already materialised scored frame, so the
    * fallback (Pipeline.submission) is timed apart from the scorer. */
  private final case class Scored(df: DataFrame) extends Scorer {
    override def score(features: DataFrame): DataFrame = df
  }

  /** Score + fallback + CSV write, shared by both branches. */
  private def finish(features: DataFrame, scorer: Scorer, allUsers: DataFrame,
                     out: String): Map[String, Double] = {
    val (scored, nScored, scoreS) = materialize(scorer.score(features))
    val (result, nOut, fallbackS) = materialize(
      Pipeline.submission(features, Scored(scored), allUsers, "user_id"))
    val (_, writeS) = Common.seconds(
      Tables.writeCsv(result, out, singleFile = true))
    Map("pipeline.score_s" -> scoreS,
      "pipeline.score_users" -> nScored.toDouble,
      "pipeline.fallback_s" -> fallbackS,
      "pipeline.fallback_users" -> (nOut - nScored).toDouble,
      "schema.csv_write_s" -> writeS)
  }

  /** The tree branch: read → clean → fused features → align → score →
    * fallback → write. */
  def tree(spark: SparkSession, inCsv: String, model: TreeEnsembleModel,
           out: String): Map[String, Double] = {
    val (tx, _, readS) = materialize(Tables.readTransactionsCsv(spark, inCsv))
    val in = tx.select(col("user_id"),
      col("mcc_code").cast("string").as("code"),
      col("transaction_amt").as("amt"),
      col("transaction_dttm").as("ts"))
    val vocab = model.featureNames.collect {
      case f if f.startsWith("freq_") => f.stripPrefix("freq_")
    }
    val (cleaned, nClean, cleanS) = materialize(Pipeline.clean(in, "user_id",
      "code", "amt", Seq(col("ts")), Pipeline.Config(nAmt = 10, nMcc = 10,
        trimN = 20, dropCodes = Submit.DefaultDropCodes)))
    val dropped = in.select("user_id").distinct().count() -
      cleaned.select("user_id").distinct().count()
    val (features, _, featuresS) = materialize(Pipeline.featureMatrixFused(
      cleaned, "user_id", "code", "amt",
      TimeFeatures.secondsSinceMidnight(col("ts")), vocab))
    val (aligned, _, alignS) = materialize(
      Pipeline.alignFeatures(features, "user_id", model.featureNames))
    Map("schema.csv_read_s" -> readS,
      "ops.clean_s" -> cleanS,
      "ops.clean_rows_out" -> nClean.toDouble,
      "ops.clean_users_dropped" -> dropped.toDouble,
      "pipeline.features_s" -> featuresS,
      "pipeline.features_cols" -> (features.columns.length - 1).toDouble,
      "pipeline.align_s" -> alignS) ++
      finish(aligned, TreeEnsembleScorer(model), in, out)
  }

  /** The RNN branch: read → dropna + calendar attrs + digitize + last-T
    * sequences → score → fallback → write. */
  def rnn(spark: SparkSession, inCsv: String, model: SequenceModel,
          out: String): Map[String, Double] = {
    val (tx, _, readS) = materialize(Tables.readTransactionsCsv(spark, inCsv))
    val withAttrs = tx.na.drop()
      .withColumn("hour", hour(col("transaction_dttm")))
      .withColumn("day", TimeFeatures.dayOfWeekMon0(col("transaction_dttm")))
      .withColumn("month", month(col("transaction_dttm")))
      .withColumn("number_day", dayofmonth(col("transaction_dttm")))
    val digitized = model.features.foldLeft(withAttrs) { (df, f) =>
      model.edges.get(f) match {
        case Some(e) => df.withColumn(f,
          coalesce(Bucketize(col(f).cast("double"), e.toSeq), lit(0))
            .cast("int"))
        case None => df.withColumn(f, col(f).cast("int"))
      }
    }
    val (seqs, _, seqS) = materialize(Sequences.assembleSequences(digitized,
      model.seqLen, Seq("user_id"), struct(col("transaction_dttm")),
      model.features, padLeft = false))
    Map("schema.csv_read_s" -> readS, "ops.sequences_s" -> seqS) ++
      finish(seqs, SequenceScorer(model), tx, out)
  }
}

/** Traced run of one Submit workload:
  *
  *   perfbench.Trace <tree|rnn> <in.csv> <model> <workDir>
  *
  * 1. the CLI body (`Submit.run` / `Submit.runSeq` + CSV write), cold, under
  *    the [[Probe]]: the `spark.*` layer metrics of the program as shipped;
  * 2. the [[Layers]] composition: one time per layer and the data counters;
  * 3. the CLI body again, warm, for the recompute ratio: Σ task-s of the
  *    fused plan ÷ Σ task-s of the once-per-layer composition.
  * Prints one JSON line; `identical` says whether 1 and 2 wrote the same
  * bytes. */
object Trace {
  def main(args: Array[String]): Unit = {
    val Array(kind, inCsv, modelPath, work) = args
    val spark = Common.session("WARN")
    val probe = new Probe(spark)
    def cli(out: String): Unit = Tables.writeCsv(kind match {
      case "tree" => Submit.run(spark, inCsv, TreeEnsembleModel.fromFile(modelPath))
      case "rnn" => Submit.runSeq(spark, inCsv, SequenceModel.fromFile(modelPath))
    }, out, singleFile = true)
    val (_, cold) = probe.window(cli(s"$work/cli"))
    spark.catalog.clearCache()
    val (layers, layered) = probe.window(kind match {
      case "tree" => Layers.tree(spark, inCsv,
        TreeEnsembleModel.fromFile(modelPath), s"$work/layers")
      case "rnn" => Layers.rnn(spark, inCsv,
        SequenceModel.fromFile(modelPath), s"$work/layers")
    })
    spark.catalog.clearCache()
    val (_, warm) = probe.window(cli(s"$work/cli_warm"))
    val ratio = warm("spark.task_s") / layered("spark.task_s")
    println(Common.json(Map(
      "identical" -> (csvBytes(s"$work/cli") sameElements csvBytes(s"$work/layers")),
      "layers" -> (cold ++ layers + ("pipeline.recompute_ratio" -> ratio)))))
    spark.stop()
  }

  /** The bytes of the single CSV part a `singleFile` write leaves. */
  def csvBytes(dir: String): Array[Byte] = {
    val parts = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".csv"))
    require(parts.length == 1, s"expected one csv part in $dir")
    java.nio.file.Files.readAllBytes(parts.head.toPath)
  }
}
