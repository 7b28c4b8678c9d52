package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * A1-A4 + P8 + P10: fixed-vocabulary pivot aggregates
 * (reference `run.py:238-246, 272-282, 290-322, 335-405`).
 *
 * The vocabulary is always explicit — parity with the reference's
 * closed-world `reindex(columns=...)` + `fillna(0)` (P8): unseen categories
 * dropped, absent ones zero-filled, and no distinct-values discovery job
 * (one fewer full scan at 100 TB).
 *
 * Two shapes, chosen by vocabulary width:
 *  - small vocab (the A1-A3 operators [[pivotCount]] / [[pivotSum]]):
 *    CONDITIONAL AGGREGATION, not `Dataset.pivot` —
 *    `agg(count(when(col === v, value)), ...)` per vocabulary entry compiles
 *    to ONE hash aggregate with map-side partial combine, a single shuffle
 *    on the grouping key. Spark's generic `pivot(col, values)` plans two
 *    exchanges (groupBy(key, pivotCol) then pivotfirst over key); with a
 *    known vocab the second pass is pure overhead.
 *  - reference width (hundreds of codes, [[pivotWide]]): every row of the
 *    conditional form evaluates all |vocab| `when`s and the aggregate
 *    carries a |vocab|-slot buffer, so the wide matrices (the Submit
 *    feature matrix among them) go two-level instead: O(1) work per row.
 */
object Pivots {

  /** General form: one row per `key`, one column `prefix_<v>` per
    * vocabulary entry, cell = aggOf(when(pivotCol = v, valueCol)), all in
    * one groupBy(key).agg(...) pass (reference names its families
    * `mcc_freq-<code>` etc., `run.py:243`). */
  private def pivotAggOn(df: DataFrame, key: String, pivotCol: String,
                         vocab: Seq[Any], valueCol: String,
                         aggOf: Column => Column, prefix: String,
                         fillZero: Boolean): DataFrame = {
    val cells = vocab.map(v =>
      aggOf(when(col(pivotCol) === lit(v), col(valueCol)))
        .as(s"${prefix}_$v"))
    val out = df.groupBy(col(key)).agg(cells.head, cells.tail: _*)
    if (fillZero) out.na.fill(0, vocab.map(v => s"${prefix}_$v")) else out
  }

  /** A1: pivot-count (`aggfunc='count'`, `run.py:238-246`). Counts the
    * non-null values of `valueCol` within each cell, exactly like pandas
    * `count` (never null — no fill needed). */
  def pivotCount(df: DataFrame, key: String, pivotCol: String,
                 vocab: Seq[Any], valueCol: String, prefix: String): DataFrame =
    pivotAggOn(df, key, pivotCol, vocab, valueCol, count, prefix,
      fillZero = false)

  /** A2/A3: pivot-sum (`aggfunc='sum'` + `fill_value=0`, `run.py:272-322`). */
  def pivotSum(df: DataFrame, key: String, pivotCol: String,
               vocab: Seq[Any], valueCol: String, prefix: String): DataFrame =
    pivotAggOn(df, key, pivotCol, vocab, valueCol, sum, prefix,
      fillZero = true)

  /** One pivot family for [[pivotWide]]: output columns `prefix_<v>`,
    * cell = `agg` evaluated over the (key, pivotCol=v) group, absent cells
    * filled with `fill`. */
  final case class Family(prefix: String, agg: Column, fill: Column = lit(0.0))

  /** REFERENCE-WIDTH pivot (330-code vocab × several families ≈ 1,000
    * columns, reference `run.py:105,238-430`): the conditional-aggregation
    * form above is optimal at testdata vocab sizes, but at ~1,000 aggregate
    * expressions in ONE HashAggregate the generated `doAggregateWithKeys`
    * body exceeds Janino's 64 KB method limit (interpreted fallback at
    * best; with `spark.sql.codegen.aggregate.splitAggregateFunc.enabled`,
    * the default, the nested-class split trips a Janino/JDK-17
    * IllegalAccessError on `BufferedRowIterator.partitionIndex` — a hard
    * task failure, measured in WidthStressSpec). Beyond codegen, a
    * 1,000-slot aggregation buffer per group is what you DON'T want
    * map-side at 100 TB.
    *
    * This form goes two-level instead:
    *   1. `groupBy(key, pivotCol)` computes each family's scalar once per
    *      occupied cell — a 3-aggregate codegen'd HashAggregate whose
    *      buffer is 3 slots, shuffling at most |keys|×|vocab| NARROW rows;
    *   2. `groupBy(key)` assembles one `map<code, value>` per family
    *      (`map_from_entries(collect_list(struct(...)))`);
    *   3. the final projection reads `map[v]` per vocab entry — a plain
    *      projection that `methodSplitThreshold` splits into many small
    *      methods, keeping whole-stage codegen ON at any width.
    * Unseen vocab entries coalesce to the family's `fill`; codes outside
    * the vocab are dropped by the final projection (closed world, P8).
    *
    * `carried` names columns that are constant within each key (per-key
    * window aggregates, e.g. the feature matrix's `td_mean`/`td_std`):
    * `max` carries them through both levels unchanged, and they follow the
    * family columns in the output. Keys whose every code is null or out of
    * vocab still get a row (fills plus their carried values). */
  def pivotWide(df: DataFrame, key: String, pivotCol: String,
                vocab: Seq[String], families: Seq[Family],
                carried: Seq[String] = Nil): DataFrame = {
    require(families.nonEmpty)
    val carry = carried.map(c => max(col(c)).as(c))
    val cellAggs = families.map(f => f.agg.as(s"_v_${f.prefix}")) ++ carry
    val cells = df.groupBy(col(key), col(pivotCol))
      .agg(cellAggs.head, cellAggs.tail: _*)
    // pivotCol.isNotNull: a null code with a non-null aggregate would put a
    // null key into map_from_entries — a runtime error. Null codes can never
    // match a vocab entry anyway (closed world), so drop them here rather
    // than requiring callers to pre-filter.
    val mapAggs = families.map(f =>
      map_from_entries(collect_list(when(
        col(pivotCol).isNotNull && col(s"_v_${f.prefix}").isNotNull,
        struct(col(pivotCol), col(s"_v_${f.prefix}")))))
        .as(s"_m_${f.prefix}")) ++ carry
    val maps = cells.groupBy(col(key)).agg(mapAggs.head, mapAggs.tail: _*)
    val pivoted = for (f <- families; v <- vocab) yield
      coalesce(element_at(col(s"_m_${f.prefix}"), lit(v)), f.fill)
        .as(s"${f.prefix}_$v")
    maps.select((col(key) +: pivoted) ++ carried.map(col): _*)
  }

  /** P10: integer floor-division quantization of pivot cells
    * (`run.py:248-249`, `//= 20`). Defense: an attacker must move a count
    * past a bucket edge to change the feature. Cells are counts >= 0, so
    * `floor(a/b)` equals pandas `//`. */
  def floorDiv(df: DataFrame, cols: Seq[String], divisor: Int): DataFrame =
    cols.foldLeft(df)((d, c) => d.withColumn(c, floor(col(c) / lit(divisor)).cast("long")))
}
