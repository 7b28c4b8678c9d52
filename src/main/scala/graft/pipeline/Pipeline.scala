package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops._

/**
 * End-to-end pipeline assembly (reference `run.py` §3.1): adversarial
 * cleaning → defense trims/filters → per-user feature matrix (J2) → pluggable
 * scorer → submission with max-score fallback for users the cleaning dropped
 * (J3/J4/U1) → ordered sink (O1).
 *
 * Where the reference writes the cleaned table to CSV and re-reads it twice
 * (`run.py:84-90`, operator S3), `clean` returns a lazy DataFrame with no
 * disk round-trip. The fused feature matrix is its only reader, so it is
 * not cached; the scored frame is materialised once in [[submission]],
 * ahead of its three consumers (the max read back to the driver, the
 * anti-join and the union). Everything stays one lazy Catalyst plan
 * per sink; all per-user stages are co-partitioned on the user key, so the
 * exchange introduced by the first groupBy is reused by every later
 * join/window.
 */
object Pipeline {

  /** Cleaning + defense config (reference constants `run.py:25-26,196,201`). */
  case class Config(nAmt: Int = 10, nMcc: Int = 10, trimN: Int = 20,
                    dropCodes: Seq[String] = Nil)

  /** Repair (W6/W7) → head/tail trim (W1) → anti-value code filter (P3).
    * Column contract: `user`/`code`/`amt` plus `ord` event-order columns. */
  def clean(df: DataFrame, user: String, code: String, amt: String,
            ord: Seq[Column], cfg: Config): DataFrame = {
    val repaired = Repair(df, user, code, amt, cfg.nAmt, cfg.nMcc)
    val trimmed = Trim.headTail(repaired, cfg.trimN, Seq(user), ord)
    if (cfg.dropCodes.isEmpty) trimmed
    else trimmed.filter(!col(code).isin(cfg.dropCodes: _*))
  }

  /** J2: per-user feature matrix — pivot counts + pivot sums + group stats,
    * outer-joined on the user key and zero-filled. The reference form that
    * [[featureMatrixFused]] must equal (PipelineSpec); the joins are
    * null-safe, so a null user key meets itself instead of surfacing once
    * per part. */
  def featureMatrix(cleaned: DataFrame, user: String, code: String,
                    amt: String, timeAttr: Column,
                    vocab: Seq[String]): DataFrame = {
    val freq = Pivots.pivotCount(cleaned, user, code, vocab, amt, "freq")
    val proc = Pivots.pivotSum(cleaned, user, code, vocab, amt, "proc")
    val st = GroupStats.stats(
      cleaned.withColumn("_t", timeAttr), Seq(user), "_t", "td")
      .select(col(user), col("td_mean"), col("td_std"))
    val joined = Seq(proc, st).foldLeft(freq) { (l, r) =>
      val rk = r.withColumnRenamed(user, "_k")
      l.join(rk, l(user) <=> rk("_k"), "outer")
        .withColumn(user, coalesce(col(user), col("_k"))).drop("_k")
    }
    joined.na.fill(0.0, joined.columns.filterNot(_ == user).toSeq)
  }

  /** Fused feature matrix: same output as [[featureMatrix]], bit for bit,
    * in ONE shuffle on the user key instead of three aggregates plus two
    * joins (SURVEY.md §4.3's "pivot fusion" at the API level; the
    * reference's 10 pivot jobs re-scanned the input 10 times,
    * `run.py:238-424`). It is the two-level [[Pivots.pivotWide]]:
    *   - a whole-partition `Window.partitionBy(user)` puts `td_mean` /
    *     `td_std` on every row, and the pivot carries them per user;
    *   - `groupBy(user, code)` computes `count(amt)` / `sum(amt)` once per
    *     occupied cell, `groupBy(user)` folds the cells into one map per
    *     family, and the projection reads `coalesce(map[v], 0)`.
    * Per-row cost is O(1) at any vocab width: the conditional form (one
    * `when` per vocab entry per row, a 620-slot buffer at the 309-code
    * MCC width, codegen off) stays for the small-vocab A1-A3 operators.
    * The window, both aggregates and the projection all reuse the one
    * exchange on the user key. Bit-identity with the conditional form, on
    * input clustered and sorted by user as the cleaning's trim window
    * leaves it (so the window adds no sort of its own): each cell sum adds
    * the same rows in the same order from 0.0, the window's `avg` and
    * `stddev_samp` update over the same rows in the same order, and the
    * conditional form's final merge into an empty buffer is exact. Column
    * order and types match [[featureMatrix]]: `freq_*` bigint, `proc_*`
    * double. */
  def featureMatrixFused(cleaned: DataFrame, user: String, code: String,
                         amt: String, timeAttr: Column,
                         vocab: Seq[String]): DataFrame = {
    val t = timeAttr.cast("double")
    val w = Window.partitionBy(col(user))
    val withTd = cleaned.select(col(user), col(code), col(amt),
      avg(t).over(w).as("td_mean"),
      coalesce(when(count(t).over(w) >= 2, stddev_samp(t).over(w)), lit(0.0))
        .as("td_std"))
    Pivots.pivotWide(withTd, user, code, vocab, Seq(
      Pivots.Family("freq", count(col(amt)), lit(0L)),
      Pivots.Family("proc", sum(col(amt)))),
      carried = Seq("td_mean", "td_std"))
  }

  /** P12: align to the model's demanded feature list — zero columns for
    * anything absent, projected in model order (`run.py:470-474`), in one
    * `select` (a `withColumn` per absent column re-analyses the whole
    * plan each time). */
  def alignFeatures(df: DataFrame, user: String,
                    modelCols: Seq[String]): DataFrame = {
    val present = df.columns.toSet
    df.select(col(user) +: modelCols.map(c =>
      if (present(c)) col(c) else lit(0.0).as(c)): _*)
  }

  /** Score + fallback: users present in `allUsers` but dropped during
    * cleaning re-enter with the maximum score (`run.py:480-486`). Fails
    * when no user is scored (empty input, or cleaning dropped every
    * user): there is no maximum to fall back to, and an all-empty
    * `target` column would pass for a submission. */
  def submission(features: DataFrame, scorer: Scorer, allUsers: DataFrame,
                 user: String): DataFrame = {
    // three consumers (max, anti-join, union): materialise once so the
    // scorer and the feature matrix under it run once, not thrice
    val scored = scorer.score(features).select(col(user), col("target"))
      .localCheckpoint(true)
    val top = scored.agg(max(col("target"))).head().get(0)
    require(top != null, "no user was scored: the input has no " +
      "transactions, or cleaning dropped every user, so there is no " +
      "maximum score for the fallback")
    val vanished = allUsers.select(col(user)).distinct()
      .join(scored.select(col(user)), Seq(user), "left_anti")
    val fallback = vanished.select(col(user),
      lit(top).cast(scored.schema("target").dataType).as("target"))
    scored.unionByName(fallback).orderBy(col(user))
  }
}
