package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * A6/A7/A8 + W6/W7: adversarial-defense value/key repair
 * (reference `run.py:25-79`).
 *
 * Reference semantics, decomposed relationally (the reference runs an
 * O(users) Python loop with nested per-row scans; here it is one
 * groupBy(user, code) + one groupBy(user) + two joins back — two shuffles on
 * keys the rest of the pipeline already partitions by):
 *
 *  - per (user, code): count; codes with count > nMcc are "frequent" (A6);
 *  - per frequent (user, code), from the ORIGINAL amounts (the loop
 *    snapshots `amt_f_mcc` before mutating): p = min(100, 100*nAmt/count)
 *    percentile bounds lo = P(p), hi = P(100-p), and the median (A7);
 *  - per user: modal code = argmax of count over ALL codes, numpy tie order
 *    = first in sorted-unique order = smallest code (A8), and the median
 *    amount of that modal code;
 *  - W6: rows of frequent codes with amt > hi or amt < lo get the group
 *    median;
 *  - W7: rows of rare codes (count <= nMcc) get (modal code, modal median).
 *
 * `np.percentile` is exact linear interpolation; the percentile fraction
 * varies per group, and Spark's `percentile` needs a foldable fraction, so
 * we rank each group's amounts in a window and interpolate ourselves
 * ([[groupBounds]]; `interpPercentile` is the same lerp over a sorted
 * array).
 */
object Repair {

  /** Exact linear-interpolated percentile (np.percentile / quantile_cont
    * semantics) over a pre-sorted array, fraction in [0,1]. */
  def interpPercentile(sortedArr: Column, frac: Column): Column = {
    val n = size(sortedArr)
    val idx = frac * (n.cast("double") - 1) // 0-based fractional rank
    val lo = floor(idx).cast("int")
    val hi = ceil(idx).cast("int")
    val vLo = element_at(sortedArr, lo + 1)
    val vHi = element_at(sortedArr, hi + 1)
    when(n === 0, lit(null)).otherwise(vLo + (idx - lo.cast("double")) * (vHi - vLo))
  }

  /** Per-(user, code) stats frame: cnt, lo, hi, med (A6/A7).
    *
    * Computes the exact np.percentile interpolation WITHOUT buffering
    * groups: through r18 this path was `array_sort(collect_list)` per
    * (user, code) — memory bound = the largest single group, because a
    * collect_list buffer cannot spill mid-group. Now it is the
    * [[Quantiles]] distinct-value rank walk generalized to the per-group
    * fraction p = min(1, nAmt/cnt): one exchange on (user, code), a
    * spillable window over the group's amounts, and a pick of the ≤ 6 rows
    * the interpolation needs — state per task is a spillable sort buffer,
    * never an in-memory array, so a monster heavy-hitter group spills
    * instead of failing. Bit-identical to the sorted-array form: the k-th
    * sorted element (duplicates counted) is the element at window rank k,
    * and the final lerp is the same expression tree over the same doubles
    * (RepairSpec pins equality against the legacy form). */
  def groupBounds(df: DataFrame, user: String, code: String, amt: String,
                  nAmt: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val v = col(amt).cast("double")
    // ONE exchange on (user, code) — the same count as the old
    // collect_list aggregate — feeding a WindowExec pair: the
    // unordered spec carries the group sizes, the ordered spec the
    // within-group sort rank. WindowExec buffers spill; collect_list
    // could not. _cnt counts ALL rows (the A6 frequency denominator,
    // as count(lit(1)) did); _nn counts non-null amounts (the sorted
    // array length the interpolation ranks against — collect_list
    // dropped nulls). row_number sorts nulls FIRST, so the rank
    // within the sorted non-null multiset is row_number − #nulls;
    // null-amount rows land at ranks ≤ 0 and never match a target.
    val wo = Window.partitionBy(col(user), col(code)).orderBy(col("_v"))
    // the counts ride the ORDERED spec with an explicit
    // whole-partition frame so all three functions share ONE
    // WindowExec (one sort, one spillable buffer pass) — a separate
    // unordered spec would plan a second Window operator and cost a
    // second pass over every partition (measured +20% on the spine
    // rows at sf1)
    val whole = wo.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val ranked = df.select(col(user), col(code), v.as("_v"))
      .withColumn("_cnt", count(lit(1)).over(whole))
      .withColumn("_nn", count(col("_v")).over(whole))
      .withColumn("_rk",
        row_number().over(wo) - (col("_cnt") - col("_nn")))
    // per-row target positions for the three fractions (p, 1-p, 0.5):
    // idx = frac * (n - 1) exactly as interpPercentile computed it;
    // floor/ceil + 1 are the two 1-based sorted positions to fetch.
    // All group-constant arithmetic — cheap codegen per row.
    val n1 = col("_nn").cast("double") - 1
    val p = least(lit(1.0), lit(nAmt.toDouble) / col("_cnt"))
    val idxs = Seq("L" -> (p * n1), "H" -> ((lit(1.0) - p) * n1),
      "M" -> (lit(0.5) * n1))
    def hit(tag: String) =
      col("_rk") === floor(col(s"_i$tag")) + 1 ||
        col("_rk") === ceil(col(s"_i$tag")) + 1
    val picked = idxs.foldLeft(ranked) { case (d, (tag, idx)) =>
      d.withColumn(s"_i$tag", idx) }
      // ≤ 6 rows/group survive; the sentinel keeps one row for a
      // group whose amounts are ALL null (its when-guards below all
      // miss, so the stats come out null — the old n === 0 branch)
      .filter((col("_v").isNotNull &&
          (hit("L") || hit("H") || hit("M"))) ||
        (col("_nn") === 0 && col("_rk") === 0))
    // partitioning is already (user, code) — no second exchange
    def pickAgg(tag: String): Seq[Column] = Seq(
      max(when(col("_v").isNotNull &&
        col("_rk") === floor(col(s"_i$tag")) + 1, col("_v")))
        .as(s"_vf$tag"),
      max(when(col("_v").isNotNull &&
        col("_rk") === ceil(col(s"_i$tag")) + 1, col("_v")))
        .as(s"_vc$tag"),
      first(col(s"_i$tag")).as(s"_i$tag"))
    val aggCols = first(col("_cnt")).as("_cnt") +:
      idxs.flatMap { case (tag, _) => pickAgg(tag) }
    // same lerp expression tree as interpPercentile: vLo +
    // (idx - floor(idx)) * (vHi - vLo) on the same doubles
    def lerp(tag: String): Column =
      col(s"_vf$tag") + (col(s"_i$tag")
        - floor(col(s"_i$tag")).cast("double")) *
        (col(s"_vc$tag") - col(s"_vf$tag"))
    picked.groupBy(col(user), col(code))
      .agg(aggCols.head, aggCols.tail: _*)
      .select(col(user), col(code), col("_cnt"),
        lerp("L").as("_lo"), lerp("H").as("_hi"), lerp("M").as("_med"))
  }

  /** Per-user modal code (+ its median amount): A8, numpy tie order — among
    * max-count codes take the SMALLEST (np.unique returns codes sorted, and
    * argmax picks the first maximum). */
  def modal(bounds: DataFrame, user: String, code: String): DataFrame = {
    val byUser = org.apache.spark.sql.expressions.Window.partitionBy(col(user))
    bounds
      .withColumn("_mx", max(col("_cnt")).over(byUser))
      .filter(col("_cnt") === col("_mx"))
      .groupBy(col(user))
      .agg(min(col(code)).as("_modal_code"),
        min_by(col("_med"), col(code)).as("_modal_med"))
  }

  /** Full W6+W7 repair: returns `df` with `code` and `amt` replaced by their
    * repaired values (same column names). */
  def apply(df: DataFrame, user: String, code: String, amt: String,
            nAmt: Int = 10, nMcc: Int = 10): DataFrame = {
    // bounds feeds BOTH the join-back and the modal derivation — without
    // a materialization barrier the physical plan re-derived the whole
    // percentile subtree per consumer (the r18 q27 dump shows two
    // complete aggregate towers over two parquet scans, zero
    // ReusedExchange). (user, code)-count-sized, four numerics per row —
    // the d78/d80 discipline; weak-ref, rebuilt on every invocation.
    val bounds = groupBounds(df, user, code, amt, nAmt)
      .localCheckpoint(true)
    val modals = modal(bounds, user, code)
    val passthrough = df.columns.filterNot(c => c == code || c == amt).map(col).toSeq
    df.join(bounds, Seq(user, code), "left")
      .join(modals, Seq(user), "left")
      .select(passthrough ++ Seq(
        when(col("_cnt") > nMcc, col(code)).otherwise(col("_modal_code")).as(code),
        when(col("_cnt") > nMcc,
          when(col(amt) > col("_hi") || col(amt) < col("_lo"), col("_med"))
            .otherwise(col(amt)))
          .otherwise(col("_modal_med")).as(amt)): _*)
  }
}
