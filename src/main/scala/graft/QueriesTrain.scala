package graft

import org.apache.spark.sql.functions._
import graft.ops.CrossRound.round // shadows functions.round: cross-engine form
import graft.ops.Sampling
import graft.pipeline.{Pipeline, Training, TreeEnsembleModel,
  TreeEnsembleScorer}
import graft.Queries._

/** Driver-contract registry slice q88–q90: the §3.3 TRAINING lifecycle
  * (reference `training.ipynb cell16-17`) — stratified CV fold assignment,
  * rank-sum AUC evaluation, and scoring by an artifact the engine itself
  * trained and committed (`graft.Train`). The fit is Spark ML's GBT bridged
  * through TreeEnsembleModel.fromSparkML; everything around it is
  * relational and hash-checked against DuckDB. */
private[graft] object QueriesTrain {

  /** Deterministic per-user label standing in for the reference's target
    * table (FIXTURES.md §1: imbalanced 0/1 default flag): net signed
    * amount positive. Imbalanced like the reference's (136/14 at sf0.01)
    * and learnable from the q37 feature surface (proc_* sums determine
    * it), so CV AUC is a meaningful check, not noise. */
  private def labels(s: org.apache.spark.sql.SparkSession, d: String) =
    ev(s, d).groupBy(col("user_id"))
      .agg(when(sum(sval) > 0, 1L).otherwise(0L).as("label"))
  private val labCteSql =
    s"""lab AS (SELECT user_id,
      |  (CASE WHEN sum($svalSql) > 0 THEN 1 ELSE 0 END)::BIGINT AS label
      |  FROM events GROUP BY user_id)""".stripMargin

  private val foldK = 10
  private val foldSalt = "cv:0" // the notebook's partition_random_seed=0

  // ------------------------------------------------ q88: stratified folds
  // training.ipynb cell16: cv(fold_count=10, shuffle=True, stratified=True,
  // partition_random_seed=0). The engine's deterministic twin: within each
  // label stratum, order by a content-addressed md5 draw and deal
  // round-robin — per-stratum fold sizes differ by ≤1 (stratification) and
  // the draw replays bit-for-bit in DuckDB.
  private val q88: (String, QFn, Option[String]) = ("q88_cv_folds",
    (s, d) => Training.stratifiedFolds(labels(s, d), "user_id", "label",
      foldK, foldSalt).select(col("user_id"), col("label"), col("fold")),
    Some(s"""WITH $labCteSql
      |SELECT user_id, label,
      |  ${Training.stratifiedFoldsSql("user_id", "label", foldK, foldSalt)}
      |  AS fold FROM lab""".stripMargin))

  // ------------------------------------------------- q89: rank-sum AUC
  // Per-fold Mann–Whitney AUC (sklearn roc_auc_score, cell5:L27) of the
  // committed tree scorer's held-out scores — the evaluation half of the
  // CV loop, fully SQL-replayed: scores via the artifact's CASE chains,
  // folds via q88's expression, ranks + tie correction + the U statistic
  // in DuckDB. auc is NULL for a single-class fold (sklearn raises there;
  // at sf0.001 most folds hold one user). Every intermediate is
  // double-exact (integer ranks, half-integer tie corrections), so the
  // ratio is bit-stable across engines.
  private lazy val scoringModel =
    TreeEnsembleModel.fromFile("/graft/tree_model.txt")
  private val q89: (String, QFn, Option[String]) = ("q89_cv_auc",
    (s, d) => {
      val aligned = Pipeline.alignFeatures(QueriesPipeline.fmDf(s, d),
        "user_id", scoringModel.featureNames)
      val scored = TreeEnsembleScorer(scoringModel).score(aligned)
        .select(col("user_id"), col("target"))
      val folds = Training.stratifiedFolds(labels(s, d), "user_id", "label",
        foldK, foldSalt)
      val joined = scored.join(folds, Seq("user_id"))
      Training.rankSumAuc(joined, col("target"), col("label"), Seq("fold"))
        .select(col("fold"), col("n_pos"), col("n_neg"),
          round(col("auc"), 6).as("auc"))
    },
    Some {
      val featSql: String => String =
        f => if (f.startsWith("ctx_")) "0.0" else f
      s"""WITH ${QueriesPipeline.fmCteSql},
        |$labCteSql,
        |folds AS (SELECT user_id, label,
        |  ${Training.stratifiedFoldsSql("user_id", "label", foldK, foldSalt)}
        |  AS fold FROM lab),
        |scored AS (SELECT f.fold, f.label,
        |  round(${scoringModel.toSql(featSql)}, 6) AS score
        |  FROM fm JOIN folds f USING (user_id)),
        |${Training.rankSumAucSql("scored", "fold")}""".stripMargin
    })

  // ------------------------------------- q90: serve the TRAINED artifact
  // /graft/trained_gbt.txt was fit by the engine itself (graft.Train at
  // sf0.01: stratified 10-fold CV then a full fit, Spark ML GBT depth 3 /
  // lr 0.01 mirroring cell16's params, exported via fromSparkML → toLines)
  // — closing the train → commit → serve loop. The oracle replays the
  // trained trees as CASE chains from the SAME artifact, so a regression
  // in either the bridge or the feature alignment hash-fails.
  private lazy val trainedModel =
    TreeEnsembleModel.fromFile("/graft/trained_gbt.txt")
  // Try-guarded oracle: during the bootstrap window (graft.Train must RUN
  // once before the artifact exists to commit) registry construction must
  // not crash — the row degrades to rows-only, loudly, until the artifact
  // is committed. In a committed checkout the artifact is always present.
  private val q90: (String, QFn, Option[String]) = ("q90_trained_scores",
    (s, d) => {
      val aligned = Pipeline.alignFeatures(QueriesPipeline.fmDf(s, d),
        "user_id", trainedModel.featureNames)
      TreeEnsembleScorer(trainedModel).score(aligned)
        .select(col("user_id"), col("target"))
    },
    scala.util.Try(trainedModel).toOption.map { m =>
      s"""WITH ${QueriesPipeline.fmCteSql}
        |SELECT user_id, round(${m.toSql(f => f)}, 6) AS target
        |FROM fm""".stripMargin
    }.orElse {
      System.err.println("[QueriesTrain] /graft/trained_gbt.txt missing - " +
        "q90 oracle degraded to rows-only (run graft.Train to commit it)")
      None
    })

  // ----------------------------------------- q91: U3 batch-pad resampling
  // run.py:128-133: before the VRAE fit, the train matrix (one row per
  // user) is padded to a multiple of 32 with np.random.randint-resampled
  // rows. The registered form is the DETERMINISTIC twin
  // (Sampling.batchPadSlots): slot i picks argmin over users of
  // md5Hash(user, "pad"+i) — uniform per slot, independent across slots,
  // with replacement — and DuckDB replays the argmin per slot bit-for-bit.
  // All 32 slots are published with a used flag (used = slot < pad_len) so
  // the row count is scale-independent and the mod-32 arithmetic is itself
  // hash-checked. The trainer-facing materialized form
  // (Sampling.batchPadResample, count % 32 == 0 afterwards) is specced in
  // SketchSampleSpec.
  private val padBatch = 32
  private val q91: (String, QFn, Option[String]) = ("q91_batch_pad",
    (s, d) => Sampling.batchPadSlots(
        ev(s, d).select(col("user_id")).distinct(),
        col("user_id"), padBatch)
      .select(col("slot"), col("pick_key").cast("long").as("user_id"),
        col("orig_n"), col("pad_len"), col("used")),
    Some(
      // slots drive the final select (LEFT JOIN to the winners), so the
      // empty-input shape matches batchPadSlots' published contract:
      // 32 rows with null picks, orig_n = 0, pad_len = 0, used = 0
      s"""WITH users AS (SELECT DISTINCT user_id FROM events),
        |st AS (SELECT count(*)::BIGINT AS orig_n,
        |  ((32 - count(*) % 32) % 32)::BIGINT AS pad_len FROM users),
        |sl AS (SELECT unnest(range(0, 32))::BIGINT AS slot),
        |h AS (SELECT s.slot, u.user_id,
        |    ${QueriesText.md5HashSql(
               "u.user_id::VARCHAR || '#pad' || s.slot::VARCHAR")} AS hv
        |  FROM users u CROSS JOIN sl s),
        |w AS (SELECT slot, user_id, row_number() OVER (PARTITION BY slot
        |    ORDER BY hv, user_id::VARCHAR) AS rn FROM h),
        |win AS (SELECT slot, user_id FROM w WHERE rn = 1)
        |SELECT sl.slot, win.user_id, st.orig_n, st.pad_len,
        |  (CASE WHEN sl.slot < st.pad_len THEN 1 ELSE 0 END)::BIGINT
        |    AS used
        |FROM sl CROSS JOIN st LEFT JOIN win ON win.slot = sl.slot"""
        .stripMargin))

  lazy val defs: Seq[(String, QFn, Option[String])] = Seq(q88, q89, q90, q91)
}
