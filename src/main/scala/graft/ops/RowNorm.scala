package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * A9/A11/A12: horizontal (per-row-across-columns) sums, unit-sum
 * normalization, and share-of-total ratios
 * (reference `run.py:253-258, 295-331, 347-352, 378-383, 409-414`).
 *
 * Pure projections — no shuffle; the whole family stays in one codegen stage.
 */
object RowNorm {

  /** A9: row-sum across a fixed column list (`df.sum(axis=1)`). */
  private def rowSum(cols: Seq[String]): Column =
    cols.map(c => col(c).cast("double")).reduce(_ + _)

  /** A11: divide each column by the row total; all-zero rows normalize to 0,
    * not NaN (`div(...).fillna(0)`, `run.py:258` — the 0/0 → 0 trap,
    * SURVEY.md §7.4). Appends `sumCol` when non-empty. */
  def rowNormalize(df: DataFrame, cols: Seq[String], sumCol: String = ""): DataFrame = {
    val total = rowSum(cols)
    val normed = cols.map(c =>
      when(total === 0, lit(0.0)).otherwise(col(c) / total).as(c))
    val keep = df.columns.filterNot(cols.contains).map(col).toSeq
    // single select: `total` must see the ORIGINAL columns, so the sum
    // column is projected in the same step as the normalization
    val sumPart = if (sumCol.isEmpty) Nil else Seq(total.as(sumCol))
    df.select(keep ++ normed ++ sumPart: _*)
  }

  /** A12: share-of-total pair, e.g. debit_sum/(debit_sum+credit_sum)
    * (`run.py:330-331`). Denominator 0 → null → caller's fillna. */
  def share(num: Column, other: Column): Column = num / (num + other)
}
