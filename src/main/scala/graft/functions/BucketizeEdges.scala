package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/**
 * Native Catalyst expression: `pd.cut(v, bins = edges, labels = False)` —
 * the bin ordinal i of the left-open, right-closed bin (edges(i),
 * edges(i+1)] holding v, found by ONE binary search over the edges.
 *
 * Why native: the composed form is one `when(v > lo && v <= hi, i)` per
 * bin inside a `coalesce`, so an edge list of n entries plans n-1
 * `CaseWhen` branches and generates code proportional to n per feature
 * (the committed bi-GRU artifact's 580 bins made a 715 KB generated
 * class). Here the generated code is one call to a static helper with the
 * edges passed by reference, the same few lines at any edge count, and
 * the per-row work is O(log n).
 *
 * Semantics, equal to the composed form's first matching bin under the
 * edge rule `require`d below (BucketizeSpec pins it against the chain):
 * the first edge index j with edges(j) >= v gives bin j-1 when 1 <= j <=
 * n-1; v at or below edges.head, above edges.last, NaN or null gives null.
 * Edges must be non-decreasing without NaN (`pd.cut` raises on
 * non-monotone bins); duplicate edges are allowed, their empty (e, e] bin
 * never matches. Comparisons are primitive, so -0.0 equals 0.0 as in
 * Spark's `>` / `<=`.
 *
 * The input is a double (`ops.Bucketize` casts); the edges are held as an
 * `IndexedSeq`, so equality, hashing and canonicalisation are structural.
 */
case class BucketizeEdges(child: Expression, edges: IndexedSeq[Double])
  extends UnaryExpression {

  BucketizeEdges.validate(edges)

  @transient private lazy val edgeArray: Array[Double] = edges.toArray

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case DoubleType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"bucketize expects a double input, got ${other.sql}")
  }

  override def nullSafeEval(v: Any): Any = {
    val b = BucketizeEdges.bin(v.asInstanceOf[Double], edgeArray)
    if (b < 0) null else b
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val e = ctx.addReferenceObj("edges", edgeArray, "double[]")
    nullSafeCodeGen(ctx, ev, v =>
      s"""
         |${ev.value} = graft.functions.BucketizeEdges.bin($v, $e);
         |${ev.isNull} = ${ev.value} < 0;
       """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression)
  : BucketizeEdges = copy(child = newChild)

  override def prettyName: String = "bucketize"

  // the default would print every edge into plan strings
  override def toString: String = s"$prettyName($child, ${edges.size} edges)"
}

object BucketizeEdges {

  /** At least two edges, none NaN, non-decreasing; the message names the
    * first offending edge. */
  private def validate(edges: IndexedSeq[Double]): Unit = {
    require(edges.size >= 2,
      s"bucketize needs at least two edges, got ${edges.size}")
    val nan = edges.indexWhere(_.isNaN)
    require(nan < 0, s"bucketize edges must not contain NaN (edge $nan)")
    val down = (1 until edges.size).find(i => edges(i) < edges(i - 1))
    require(down.isEmpty, down.map(i => "bucketize edges must be " +
      s"non-decreasing: edge $i = ${edges(i)} follows ${edges(i - 1)}").get)
  }

  /** The bin ordinal of `v`, or -1 for null (out of range or NaN).
    * Called from generated code — keep the signature Java-friendly. */
  def bin(v: Double, edges: Array[Double]): Int = {
    if (v.isNaN) return -1
    // lower bound: the first index whose edge is >= v
    var lo = 0
    var hi = edges.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (edges(mid) < v) lo = mid + 1 else hi = mid
    }
    if (lo >= 1 && lo <= edges.length - 1) lo - 1 else -1
  }
}
