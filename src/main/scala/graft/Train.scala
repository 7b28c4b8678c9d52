package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import graft.pipeline.{Training, TreeEnsembleModel}
import graft.Queries._

/** §3.3 training CLI — the engine analog of `training.ipynb cell16-17`:
  * stratified 10-fold CV (per-fold held-out rank-sum AUC, the notebook's
  * `test-AUC` table with its median summary), then a full fit, exported
  * through TreeEnsembleModel.toLines as the text artifact the serving side
  * (q90, graft.Submit) scores relationally.
  *
  *   sbt "runMain graft.Train /root/testdata/sf0.01 \
  *        src/main/resources/graft/trained_gbt.txt [iterations]"
  *
  * Features: the q37 per-user fused matrix (freq, proc, td_mean, td_std);
  * label: net-signed-amount-positive (QueriesTrain.labels — the imbalanced
  * 0/1 flag standing in for the reference's target table); params mirror
  * cell16 (depth 3, lr 0.01, seed 56); iterations default 50 (the
  * notebook's 750 is a wall-clock knob, not a semantic). */
object Train {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outPath = args(1)
    val iterations = if (args.length > 2) args(2).toInt else 50
    val spark = LocalSession()

    // Force graft.Queries clinit before any sub-registry: the sub-registries
    // import Queries._, so first-touching QueriesPipeline re-enters Queries
    // mid-clinit and its `defs` concat reads a null slice (NPE). Queries-first
    // is the order Verify/Bench use; this pins it for the CLI too.
    Queries.defs
    val fm = QueriesPipeline.fmDf(spark, sfDir)
    val lab = ev(spark, sfDir).groupBy(col("user_id"))
      .agg(when(sum(sval) > 0, 1L).otherwise(0L).as("label"))
    val folds = Training.stratifiedFolds(lab, "user_id", "label", 10, "cv:0")
    val matrix = fm.join(folds, Seq("user_id"))
    val featureNames = fm.columns.filterNot(_ == "user_id").toSeq

    // cell16: the CV table — per-fold held-out AUC via the bridged model
    val cv = Training.cvScores(matrix, featureNames, "user_id", "label",
      "fold", 10, iterations)
    val aucs = Training.rankSumAuc(cv, col("target"), col("label"),
      Seq("fold")).orderBy(col("fold")).collect()
    aucs.foreach { r =>
      println(f"fold ${r.getLong(0)}%2d  n_pos ${r.getLong(1)}%3d  " +
        f"n_neg ${r.getLong(2)}%3d  auc ${Option(r.get(3)).fold("   NULL")(
          v => f"${v.asInstanceOf[Double]}%.6f")}")
    }
    val defined = aucs.flatMap(r => Option(r.get(3)).map(_.asInstanceOf[Double]))
      .sorted
    if (defined.nonEmpty) {
      val med = if (defined.length % 2 == 1) defined(defined.length / 2)
        else (defined(defined.length / 2 - 1) + defined(defined.length / 2)) / 2
      println(f"test-AUC median over ${defined.length} defined folds: $med%.6f")
    }

    // cell17: the full fit, committed as the serving artifact
    val full = Training.fitGbt(matrix, featureNames, "label", iterations)
    Option(Paths.get(outPath).getParent).foreach(Files.createDirectories(_))
    Files.writeString(Paths.get(outPath),
      TreeEnsembleModel.toLines(full).mkString("", "\n", "\n"))
    println(s"wrote $outPath: ${full.trees.length} trees over " +
      s"${featureNames.length} features")
    spark.stop()
  }
}
