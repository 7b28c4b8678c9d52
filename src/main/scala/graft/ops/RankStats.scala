package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.CrossRound.round // shadows functions.round: cross-engine form

/**
 * Distribution-rank statistics computed WITHOUT a per-row window — the
 * scale-correct form of `percent_rank() OVER (PARTITION BY grp ORDER BY v)`.
 *
 * A row-level window partitioned by a low-cardinality group (e.g. corpus
 * source) is the classic 100 TB trap: every row of a group must land in ONE
 * task, so a 10-source corpus fans 100 TB into 10 tasks. Here the heavy data
 * is only ever aggregated: (grp, v) -> count is vocabulary-sized, the
 * cumulative pass runs a window over THAT small table, and ranks come back to
 * rows via an equi-join on (grp, v). Ties collapse into one group row, so
 * results are identical to SQL percent_rank/cume_dist (both tie-stable).
 */
object RankStats {

  /** Adds `pctCol` = percent_rank and `cumeCol` = cume_dist of `valueCol`
    * within each `grpCol` group. `valueCol` must be exactly comparable
    * cross-engine (integers, or doubles already rounded to a fixed grid). */
  def groupPercentRank(df: DataFrame, grpCol: String, valueCol: String,
                       pctCol: String, cumeCol: String): DataFrame = {
    val counts = df.groupBy(col(grpCol), col(valueCol))
      .agg(count(lit(1)).as("_c"))
    // window over the distinct-(grp, value) table: vocabulary-sized input,
    // so the single-task-per-group constraint is harmless
    val w = Window.partitionBy(grpCol).orderBy(valueCol)
    val ranked = counts
      .withColumn("_cum", sum(col("_c")).over(w))
      .withColumn("_n", sum(col("_c")).over(Window.partitionBy(grpCol)))
      .withColumn("_below", col("_cum") - col("_c"))
    val stats = ranked.select(col(grpCol), col(valueCol),
      // percent_rank = (rank - 1) / (n - 1), rank = strictly-below + 1;
      // single-row group => 0 by SQL definition
      round(when(col("_n") > 1, col("_below").cast("double")
        / (col("_n") - 1).cast("double")).otherwise(lit(0.0)), 6).as(pctCol),
      round(col("_cum").cast("double") / col("_n").cast("double"), 6)
        .as(cumeCol))
    df.join(stats, Seq(grpCol, valueCol))
  }

  /** Global position of every row under ORDER BY scoreCol DESC, tieCol ASC
    * — `row_number()` over the whole corpus WITHOUT the whole corpus in one
    * task. The strictly-above count comes from a cumulative window over the
    * DISTINCT-score table (vocabulary-sized: scores live on a rounded
    * grid), and the within-tie row_number windows on score groups — bounded
    * partitions, never the full data. Equivalent to the naive global window
    * whenever (scoreCol, tieCol) is a total order. */
  def globalOrderIndex(df: DataFrame, scoreCol: String, tieCol: String,
                       rankCol: String): DataFrame = {
    val counts = df.groupBy(col(scoreCol)).agg(count(lit(1)).as("_c"))
    // single-partition window, but over distinct scores only
    val w = Window.orderBy(col(scoreCol).desc)
    val cum = counts
      .withColumn("_above", sum(col("_c")).over(w) - col("_c"))
      .select(col(scoreCol), col("_above"))
    val wg = Window.partitionBy(scoreCol).orderBy(col(tieCol))
    df.withColumn("_rn", row_number().over(wg))
      .join(cum, Seq(scoreCol))
      .withColumn(rankCol, (col("_above") + col("_rn")).cast("long"))
      .drop("_rn", "_above")
  }
}
