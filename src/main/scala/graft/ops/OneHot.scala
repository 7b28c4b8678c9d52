package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * E1: fixed-vocabulary one-hot encoding (reference `pd.get_dummies` +
 * closed-world `reindex(columns=...)`, `run.py:103-108`).
 *
 * Deliberately NOT `StringIndexer`/`OneHotEncoder`: those are data-dependent
 * (an extra fit pass + unstable column order). A fixed `when` chain per
 * vocabulary entry is a pure projection — constant-folded, codegen'd,
 * zero extra scans at any scale.
 */
object OneHot {

  private def indicatorCols(c: String, vocab: Seq[String],
                            prefix: String): Seq[Column] =
    vocab.map(v => when(col(c) === v, 1).otherwise(0).as(s"${prefix}_$v"))

  def withOneHot(df: DataFrame, c: String, vocab: Seq[String],
                 prefix: String): DataFrame =
    df.select(col("*") +: indicatorCols(c, vocab, prefix): _*)
}
