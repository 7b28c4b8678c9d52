package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftshim.ColumnShim
import graft.functions.BucketizeEdges

/**
 * P11: explicit-edge bucketize → bin ordinal
 * (reference `pd.cut(col, bins=edges, labels=False)`, `model.py:172-181`,
 * edges from `nn_bins.pickle`).
 *
 * pandas `cut` semantics: bins are (edge_i, edge_{i+1}] — left-open,
 * right-closed; values outside (edges.head, edges.last], NaN and null →
 * null. The input is cast to double; the result is a nullable int.
 * Edges must be non-decreasing without NaN (pandas raises on
 * non-monotone bins); violating lists fail here, when the column is built.
 *
 * One native [[BucketizeEdges]] expression does a binary search over the
 * edges, so a feature costs the same few generated lines at any edge
 * count — the committed bi-GRU artifact's `mcc_code` alone has 395 edges.
 */
object Bucketize {

  def apply(c: Column, edges: Seq[Double]): Column =
    ColumnShim.column(BucketizeEdges(
      ColumnShim.expression(c.cast("double")), edges.toIndexedSeq))
}
