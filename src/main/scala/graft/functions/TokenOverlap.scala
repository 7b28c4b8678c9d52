package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftshim.ColumnShim
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Native Catalyst expression: multiset token overlap
 * Σ_t min(count_a(t), count_b(t)) over two `array<string>` columns —
 * the SQuAD token-F1 numerator (d94) computed ROW-LOCALLY.
 *
 * Semantically identical to the relational form the operator shipped
 * through r18: explode both sides to (doc, token), count per (doc,
 * token), inner-join the count tables and sum least(c_a, c_b) — but
 * that form pays two corpus-sized explode shuffles plus an equi-join
 * to align rows that were NEVER apart: prediction and gold live on
 * the same document row. Here one hash pass over the two arrays does
 * the same arithmetic inside the scan stage (guide §2.4 — remove
 * shuffles outright); r19 measured d94 at 48.6 CPU-s / 11 jobs before
 * and 9.4 CPU-s / 1 job after at sf0.1.
 *
 * Exact-match with the relational semantics (TokenOverlapSpec pins it):
 * token equality is UTF8String byte equality (what groupBy on a string
 * key hashes); null ELEMENTS never match (an exploded null token
 * groups, but the join's null key never equates), so they contribute
 * zero; a null ARRAY on either side → null result (the caller's
 * coalesce(_, 0) mirrors the old left-join-then-zero); empty arrays
 * → 0.
 */
case class TokenOverlap(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(e: Expression): Boolean = e.dataType match {
      case ArrayType(StringType, _) => true
      case _ => false
    }
    if (ok(left) && ok(right)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"token_overlap expects array<string> inputs, got " +
        s"${left.dataType.sql} and ${right.dataType.sql}")
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    TokenOverlap.compute(a.asInstanceOf[ArrayData],
      b.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.TokenOverlap.compute($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): TokenOverlap =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "token_overlap"
}

object TokenOverlap {

  /** Σ_t min(count_a(t), count_b(t)); null elements never match.
    * Called from generated code — keep the signature Java-friendly. */
  def compute(a: ArrayData, b: ArrayData): Long = {
    val na = a.numElements()
    val nb = b.numElements()
    if (na == 0 || nb == 0) return 0L
    // count the smaller side, then drain it with the larger: the map
    // is bounded by min(|a|, |b|) distinct tokens of one document
    val (small, nSmall, big, nBig) =
      if (na <= nb) (a, na, b, nb) else (b, nb, a, na)
    // capacity clamp: nSmall * 2 overflows Int past 2^30 elements
    val counts = new java.util.HashMap[UTF8String, Array[Long]](
      math.min(nSmall, 1 << 29) * 2)
    var i = 0
    while (i < nSmall) {
      if (!small.isNullAt(i)) {
        val t = small.getUTF8String(i)
        val c = counts.get(t)
        if (c == null) counts.put(t, Array(1L)) else c(0) += 1L
      }
      i += 1
    }
    var overlap = 0L
    i = 0
    while (i < nBig) {
      if (!big.isNullAt(i)) {
        val c = counts.get(big.getUTF8String(i))
        if (c != null && c(0) > 0L) { c(0) -= 1L; overlap += 1L }
      }
      i += 1
    }
    overlap
  }

  /** Column form. */
  def tokenOverlap(a: Column, b: Column): Column =
    ColumnShim.column(TokenOverlap(
      ColumnShim.expression(a), ColumnShim.expression(b)))
}
