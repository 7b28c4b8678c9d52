package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * As-of join: attach to each left row the most recent right row with
 * rightTime <= leftTime within the same key — the standard event-to-state
 * join (trades→quotes, event→latest-config, event→last-signup).
 *
 * Spark has no native as-of operator; per the design rule "compose
 * built-ins before writing a custom SparkPlan" this is the UNION +
 * CARRY-FORWARD form:
 *
 *   1. tag right rows side=0, left rows side=1, union on a common schema
 *      (each side's exclusive columns are typed nulls on the other);
 *   2. one window per key ordered by (time, side, tiebreak):
 *      `last(payload, ignoreNulls)` carries the latest right payload
 *      forward onto every subsequent row. The payload travels as ONE
 *      struct column — a struct built from a right row is non-null even
 *      when every field is null, so all payload fields come from the SAME
 *      most-recent right row and a null field stays null (carrying fields
 *      independently would back-fill a null field from an OLDER right row,
 *      diverging from DuckDB ASOF JOIN / pandas merge_asof);
 *   3. keep the left rows, unpacking the struct.
 *
 * Cost: ONE shuffle of |L|+|R| rows on the key — the same lower bound a
 * dedicated merge-join physical operator would have, with no custom
 * operator to maintain. Ordering side=0 before side=1 at equal timestamps
 * gives inclusive (<=) semantics, matching DuckDB `ASOF JOIN` and pandas
 * `merge_asof` (the q34 oracle checks against DuckDB's NATIVE ASOF JOIN).
 *
 * Contract: `right` = keyCols + timeCol + payload columns (everything else
 * is payload); payload names must not collide with left's columns.
 */
object AsOfJoin {

  def apply(left: DataFrame, right: DataFrame, keyCols: Seq[String],
            timeCol: String, tiebreak: Column): DataFrame = {
    val common = keyCols :+ timeCol
    val lOnly = left.columns.filterNot(common.contains)
    val rPay = right.columns.filterNot(common.contains)
    require(lOnly.intersect(rPay).isEmpty,
      s"payload collides with left columns: ${lOnly.intersect(rPay).toSeq}")
    val rPayType = org.apache.spark.sql.types.StructType(
      rPay.map(right.schema(_)))
    val rTagged = right.select(
      common.map(col) ++
        Seq(lit(0).as("_side"), lit(null).cast("long").as("_tb"),
          struct(rPay.map(col).toSeq: _*).as("_rpay")) ++
        lOnly.map(c => lit(null).cast(left.schema(c).dataType).as(c)): _*)
    val lTagged = left.select(
      common.map(col) ++
        Seq(lit(1).as("_side"), tiebreak.cast("long").as("_tb"),
          lit(null).cast(rPayType).as("_rpay")) ++
        lOnly.map(col): _*)
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(timeCol).asc, col("_side").asc, col("_tb").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = rTagged.unionByName(lTagged)
      .withColumn("_rpay", last(col("_rpay"), ignoreNulls = true).over(w))
    carried.filter(col("_side") === 1)
      .select((left.columns.map(col) ++
        rPay.map(c => col("_rpay").getField(c).as(c))).toSeq: _*)
  }
}
