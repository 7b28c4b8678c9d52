package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Banded range join: pair left and right rows on the same key whose
 * time difference is within ±tolerance.
 *
 * A naive inequality join (`ON key AND abs(lt - rt) <= tol`) degenerates to
 * a per-key cross product — quadratic in the hottest key. The scale form
 * buckets time into tolerance-sized bands and EQUI-joins on
 * (key, band ± 1): every true pair shares a band or sits in adjacent ones,
 * so the shuffle moves (key, band) groups instead of whole keys, and the
 * exact |Δt| <= tol predicate filters band-boundary false candidates. One
 * side explodes 3x (its band and both neighbors) — the standard
 * interval-join trick (the same banding DuckDB's IEJoin avoids needing on
 * single-node; the q35 oracle cross-checks against that native inequality
 * join).
 */
object RangeJoin {

  /** Pairs (leftCols..., rightCols...) with |leftTime - rightTime| <= tol.
    * `leftTime`/`rightTime` are integer-valued columns in the same unit
    * (e.g. epoch microseconds); `tol` in that unit. */
  def apply(left: DataFrame, right: DataFrame, keyCols: Seq[String],
            leftTime: String, rightTime: String, tol: Long): DataFrame = {
    require(tol > 0, "tolerance must be positive")
    val lBanded = left
      .withColumn("_band", explode(array(
        floor(col(leftTime) / tol) - 1,
        floor(col(leftTime) / tol),
        floor(col(leftTime) / tol) + 1)))
    val rBanded = right.withColumn("_band", floor(col(rightTime) / tol))
    lBanded.join(rBanded, keyCols :+ "_band")
      .filter(abs(col(leftTime) - col(rightTime)) <= tol)
      .drop("_band")
  }
}
