package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{Bucketize, Sequences, TimeFeatures}
import graft.pipeline.{Artifact, LatentEncoderModel, LatentTransformer,
  Pipeline, SequenceModel, SequenceScorer, TreeEnsembleModel,
  TreeEnsembleScorer, VraeFeatures}
import graft.schema.Tables

/** Standalone CLI replicating the reference's two-arg submission contract
  * (`run.py:17`: `python run.py in.csv out.csv`): read a transactions CSV in
  * the reference schema (`model.py:208-212`), run the §3.1 pipeline
  * (clean → per-user feature matrix → committed-model scoring → max-score
  * fallback for users the cleaning dropped → user-sorted CSV).
  *
  * The feature surface is MODEL-DRIVEN, same as the reference: `run.py:476`
  * takes the column list from `model_cb.get_feature_importance` and
  * zero-fills anything missing. Here the committed [[TreeEnsembleModel]]
  * artifact declares `featureNames`, the `freq_*` names induce the pivot
  * vocabulary, and [[Pipeline.alignFeatures]] zero-fills the rest — so
  * swapping the artifact (e.g. one trained on real MCC codes via
  * `TreeEnsembleModel.fromSparkML` + `toLines`) retargets the whole CLI
  * without a rebuild: `graft.Submit in.csv out.csv /path/to/model.txt`.
  *
  * Scale shape, as measured on a traced run of the benchmark's
  * `submit_tree` input (600 users, 72,810 rows, 309 codes): 15 jobs and
  * 10 exchanges, in four actions.
  *  - Repair's per-(user, code) bounds: one shuffle on (user, code),
  *    checkpointed.
  *  - The scored frame: one shuffle on user_id for Repair's modal code,
  *    two broadcasts for its join-backs, then ONE shuffle on user_id that
  *    the trim window, the time-stat window, the two-level
  *    [[graft.ops.Pivots.pivotWide]] (O(1) work per row at the MCC width)
  *    and the codegen scoring projection all reuse; checkpointed.
  *  - The fallback's max: one single-partition shuffle, read back to the
  *    driver.
  *  - The output: the CSV re-scanned for the distinct input users (one
  *    shuffle), the scored users shuffled and broadcast by AQE for the
  *    anti-join, and one range shuffle for the user sort.
  * The reference's per-user Python loop (`run.py:35-80`) becomes these
  * distributed stages.
  */
object Submit {

  /** The reference's service-code exclusion (`run.py:201`: MCC 6012). */
  val DefaultDropCodes: Seq[String] = Seq("6012")

  def main(args: Array[String]): Unit = {
    require(args.length >= 2 && args.length <= 4, "usage: graft.Submit " +
      "<transactions.csv> <output.csv> [model.txt [latent_encoder.txt]]")
    val (inCsv, outCsv) = (args(0), args(1))
    val spark = LocalSession()
    // One read of the model artifact; its header selects the branch:
    // `seqmodel` the RNN (model.py predict contract), `features` the trees
    // (run.py CatBoost contract). A 4th argument is an explicit request for
    // the latent branch: an encoder without a `latentmodel` header fails
    // here, instead of falling through and zero-filling z_*.
    val lines = Artifact.lines(args.lift(2).getOrElse("/graft/tree_model.txt"))
    val encoder = args.lift(3).map(LatentEncoderModel.fromFile)
    val result = (Artifact.header(lines), encoder) match {
      case ("seqmodel", None) =>
        runSeq(spark, inCsv, SequenceModel.fromLines(lines))
      case ("features", None) =>
        run(spark, inCsv, TreeEnsembleModel.fromLines(lines))
      case ("features", Some(e)) =>
        runWithLatent(spark, inCsv, TreeEnsembleModel.fromLines(lines), e)
      case (h, _) => throw new IllegalArgumentException(
        s"model artifact header '$h' does not select a Submit branch " +
          "(seqmodel, features, or features with a latentmodel encoder)")
    }
    Tables.writeCsv(result, outCsv, singleFile = true)
    spark.stop()
  }

  /** The shared tree-branch prelude (read → column contract → clean →
    * fused per-user feature matrix), extracted so [[run]] and
    * [[runWithLatent]] cannot drift on the cleaning constants or the
    * column contract. Returns (raw tx, contract-projected input, feature
    * matrix). */
  private def treePrelude(spark: SparkSession, inCsv: String,
                          model: TreeEnsembleModel, dropCodes: Seq[String])
  : (DataFrame, DataFrame, DataFrame) = {
    val tx = Tables.readTransactionsCsv(spark, inCsv)
    // pipeline column contract; codes travel as strings so one vocabulary
    // mechanism serves MCC longs and categorical stand-ins alike
    val in = tx.select(col("user_id"),
      col("mcc_code").cast("string").as("code"),
      col("transaction_amt").as("amt"),
      col("transaction_dttm").as("ts"))
    val vocab = model.featureNames.collect {
      case f if f.startsWith("freq_") => f.stripPrefix("freq_")
    }
    val cleaned = Pipeline.clean(in, "user_id", "code", "amt",
      Seq(col("ts")), Pipeline.Config(nAmt = 10, nMcc = 10, trimN = 20,
        dropCodes = dropCodes))
    val features = Pipeline.featureMatrixFused(cleaned, "user_id", "code",
      "amt", TimeFeatures.secondsSinceMidnight(col("ts")), vocab)
    (tx, in, features)
  }

  /** The full dataflow, sink-free so specs can assert on the DataFrame. */
  def run(spark: SparkSession, inCsv: String, model: TreeEnsembleModel,
          dropCodes: Seq[String] = DefaultDropCodes): DataFrame = {
    val (_, in, features) = treePrelude(spark, inCsv, model, dropCodes)
    val aligned = Pipeline.alignFeatures(features, "user_id",
      model.featureNames)
    Pipeline.submission(aligned, TreeEnsembleScorer(model), in, "user_id")
  }

  /** The VRAE-enriched tree branch (`run.py:435-476`): the standard tree
    * feature matrix CONCATENATED with the per-user 40-dim latent means from
    * the native LSTM encoder (`run.py:176-178` z_run → `run.py:463-466`
    * model_cb_vrae), inner-joined like the reference's concat-then-dropna
    * (users missing either side fall to the max-score fallback,
    * `run.py:478-482`). Latent features are named `z_0..z_{L-1}`;
    * tools/convert_catboost_json.py maps model_cb_vrae's integer feature
    * ids onto the same names, so a converted VRAE CatBoost artifact plugs
    * straight in:
    *   graft.Submit in.csv out.csv model_vrae.txt vrae_encoder.txt.gz
    * Scale: the latent branch adds ONE more user_id-partitioned stage (the
    * encoder forward) and a co-partitioned user_id join — no new exchange
    * class. */
  def runWithLatent(spark: SparkSession, inCsv: String,
                    model: TreeEnsembleModel, encoder: LatentEncoderModel,
                    dropCodes: Seq[String] = DefaultDropCodes): DataFrame = {
    val (tx, in, features) = treePrelude(spark, inCsv, model, dropCodes)
    val latent = LatentTransformer(encoder)
      .transform(VraeFeatures.assemble(tx)).drop("seq")
    val enriched = features.join(latent, Seq("user_id"), "inner")
    val aligned = Pipeline.alignFeatures(enriched, "user_id",
      model.featureNames)
    Pipeline.submission(aligned, TreeEnsembleScorer(model), in, "user_id")
  }

  /** The RNN branch (`model.py:207-244` predict): dropna → calendar
    * attrs (hour / dayofweek / month / dayofmonth, `model.py:216-220`) →
    * pd.cut digitization by the artifact's per-feature edges
    * (`model.py:172-181`; features without edges arrive pre-indexed) →
    * last-`seqLen` RIGHT-padded index sequences (`model.py:185-196`) →
    * native [[SequenceModel]] forward pass → per-user class-1
    * probability, with the usual max-score fallback for users the
    * cleaning dropped (`run.py:478-482`). Out-of-range values digitize
    * to the padding index 0 (pandas would crash on `.astype(int)` of the
    * resulting NaN; a distributed batch job should not).
    *
    * The committed full-size artifact (`/graft/seq_model_tx.txt.gz`,
    * converted from the reference checkpoint by
    * `tools/convert_nn_ckpt.py`) makes this branch runnable as
    * `graft.Submit in.csv out.csv seq_model_tx.txt.gz`. Deterministic
    * eval semantics: the reference's functional dropout at
    * `model.py:74` stays live even under `model.eval()` (torch quirk it
    * papers over with seeding + the 50-rep bootstrap average in
    * `reliable_predict`); this engine computes the eval intent
    * (dropout = identity), so scores are reproducible. */
  def runSeq(spark: SparkSession, inCsv: String,
             model: SequenceModel): DataFrame = {
    val tx = Tables.readTransactionsCsv(spark, inCsv)
    // fallback universe = RAW input users: dropna is exactly what loses them
    Pipeline.submission(sequences(tx, model), SequenceScorer(model), tx,
      "user_id")
  }

  /** [[runSeq]]'s scorer input: dropna → calendar attrs → one
    * [[Bucketize]] per feature with edges → per-user `seq`. */
  def sequences(tx: DataFrame, model: SequenceModel): DataFrame = {
    val cleaned = tx.na.drop()
    val withAttrs = cleaned
      .withColumn("hour", hour(col("transaction_dttm")))
      .withColumn("day", TimeFeatures.dayOfWeekMon0(col("transaction_dttm")))
      .withColumn("month", month(col("transaction_dttm")))
      .withColumn("number_day", dayofmonth(col("transaction_dttm")))
    val digitized = model.features.foldLeft(withAttrs) { (df, f) =>
      model.edges.get(f) match {
        case Some(e) =>
          df.withColumn(f, coalesce(Bucketize(col(f), e.toSeq), lit(0)))
        case None => df.withColumn(f, col(f).cast("int"))
      }
    }
    Sequences.assembleSequences(digitized, model.seqLen, Seq("user_id"),
      struct(col("transaction_dttm")), model.features, padLeft = false)
  }
}
