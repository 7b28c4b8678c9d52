package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * A5: multi-statistic per-group aggregate
 * (reference `run.py:428-430`: groupby(user_id)['time_day']
 * .agg([mean,std,min,max,median,sem,skew,var,sum]) + amplitude).
 *
 * Semantic corrections (SURVEY.md §4.3) — all formula-level over built-ins,
 * no custom TypedImperativeAggregate needed, so everything stays inside
 * whole-stage codegen's partial-aggregation path:
 *  - pandas std/var/sem are SAMPLE statistics (ddof=1): stddev_samp/var_samp.
 *  - sem = stddev_samp / sqrt(n).
 *  - pandas skew is bias-corrected sample skewness G1; Spark `skewness` is
 *    population g1. G1 = g1 * sqrt(n(n-1)) / (n-2); undefined below n=3 and
 *    for zero variance (Spark and DuckDB both yield NULL there).
 *  - median/percentile: exact interpolating `median` — never
 *    `approx_percentile` on an oracle-checked path.
 *
 * One shuffle on the grouping keys with map-side partial aggregation; the
 * exact `median` adds a sort-based buffer per group, acceptable because group
 * sizes are bounded (events per user), not data-scale.
 */
object GroupStats {

  /** Bias-corrected sample skewness from Spark's population `skewness`.
    * Guards: n < 3 and zero variance → NULL (pandas NaN, DuckDB NULL —
    * Spark's raw `skewness` would emit NaN on zero variance, which the
    * oracle hash cannot represent). */
  private def skewG1(v: Column, n: Column): Column =
    when(n >= 3 && stddev_samp(v) > 0,
      skewness(v) * sqrt(n * (n - lit(1))) / (n - lit(2)))

  /** `exactMoments = true` derives std/sem/var from the POWER SUMS
    * (Σx, Σx²) instead of Spark's streaming central-moment aggregates:
    * for integer-valued data below ~2^26 magnitude both sums are exact
    * doubles REGARDLESS of summation order, so every engine computes the
    * bit-identical variance — where the streaming form's last ulps depend
    * on partition count and can straddle a rounding boundary against a
    * sequential oracle (observed at sf0.1: a true variance landing exactly
    * on the .005 round-2 grid). Same formula, deterministic arithmetic;
    * use for oracle-checked integer-domain stats. */
  def stats(df: DataFrame, groupCols: Seq[String], valueCol: String,
            prefix: String, exactMoments: Boolean = false): DataFrame = {
    val v = col(valueCol).cast("double")
    val n = count(v).cast("double")
    // n=1 guards: Spark's stddev_samp/var_samp yield NaN there, pandas and
    // DuckDB yield NaN/NULL — normalize to NULL.
    // greatest(_, 0): the power-sum form can round a constant/near-constant
    // group's true-zero variance to a hair below zero once sum(v)^2 leaves
    // the exact-double range — sqrt of that is NaN, diverging from
    // stddev_samp's 0. Clamp (mirrored in the q09 oracle SQL).
    val variance =
      if (exactMoments)
        when(n >= 2,
          greatest((sum(v * v) - sum(v) * sum(v) / n) / (n - 1), lit(0.0)))
      else when(n >= 2, var_samp(v))
    val std = if (exactMoments) sqrt(variance) else when(n >= 2, stddev_samp(v))
    df.groupBy(groupCols.map(col): _*).agg(
      count(v).as(s"${prefix}_count"),
      avg(v).as(s"${prefix}_mean"),
      std.as(s"${prefix}_std"),
      min(v).as(s"${prefix}_min"),
      max(v).as(s"${prefix}_max"),
      median(v).as(s"${prefix}_median"),
      (std / sqrt(n)).as(s"${prefix}_sem"),
      skewG1(v, n).as(s"${prefix}_skew"),
      variance.as(s"${prefix}_var"),
      sum(v).as(s"${prefix}_sum"),
      (max(v) - min(v)).as(s"${prefix}_amplitude"))
  }
}
