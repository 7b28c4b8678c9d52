package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression,
  ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftshim.ColumnShim
import org.apache.spark.sql.types._

/**
 * Native Catalyst expression: dot product of two numeric arrays with strict
 * left-to-right double accumulation — semantically identical to
 * `aggregate(zip_with(a, b, (x, y) => x * y), 0d, _ + _)` but compiled to a
 * tight primitive loop inside whole-stage codegen instead of two interpreted
 * higher-order functions allocating an intermediate array per row. This is
 * the §4.3 "custom Expression only where built-ins can't express it fast
 * enough" path: the similarity-search hot loop runs this once per candidate
 * pair.
 *
 * Null semantics mirror the HOF composition: null input array, length
 * mismatch, or a null element → null result.
 */
case class DotProduct(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  private def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(e: Expression): Boolean = e.dataType match {
      case ArrayType(t, _) => Seq(FloatType, DoubleType, IntegerType,
        LongType).contains(t)
      case _ => false
    }
    if (ok(left) && ok(right)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"dot_product expects numeric arrays, got ${left.dataType.sql} and " +
        s"${right.dataType.sql}")
  }

  private def get(arr: ArrayData, i: Int, t: DataType): Double = t match {
    case DoubleType => arr.getDouble(i)
    case FloatType => arr.getFloat(i).toDouble
    case LongType => arr.getLong(i).toDouble
    case IntegerType => arr.getInt(i).toDouble
    case other => throw new IllegalStateException(s"unexpected $other")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    val (lt, rt) = (elemType(left), elemType(right))
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += get(x, i, lt) * get(y, i, rt)
      i += 1
    }
    acc
  }

  private def getterJava(arr: String, i: String, t: DataType): String =
    t match {
      case DoubleType => s"$arr.getDouble($i)"
      case FloatType => s"(double) $arr.getFloat($i)"
      case LongType => s"(double) $arr.getLong($i)"
      case IntegerType => s"(double) $arr.getInt($i)"
      case other => throw new IllegalStateException(s"unexpected $other")
    }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += ${getterJava(a, i, elemType(left))}
         |      * ${getterJava(b, i, elemType(right))};
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "dot_product"
}

object DotProduct {
  /** Column-level entry point used by graft.ops.Similarity. */
  def apply(a: Column, b: Column): Column =
    ColumnShim.column(DotProduct(
      ColumnShim.expression(a), ColumnShim.expression(b)))
}

/** SQL names for the native expressions: `dot_product(a, b)`,
  * `minhash_sigs(arr, k)` and `jaro_winkler(a, b)`. The Column API needs
  * no registration (`DotProduct(a, b)` etc.); SQL text does, through
  * [[GraftExtensions.register]] on the session. */
object GraftExtensions {
  /** Register the three SQL functions on `spark`'s function registry. */
  def register(spark: SparkSession): Unit = {
    def reg(name: String, cls: Class[_],
            build: Seq[Expression] => Expression): Unit =
      ColumnShim.registerFunction(spark, name,
        new ExpressionInfo(cls.getName, name), build)
    reg("dot_product", classOf[DotProduct], c => DotProduct(c(0), c(1)))
    reg("minhash_sigs", classOf[MinHashSigs], c => MinHashSigs(c(0),
      c(1) match {
        case Literal(v: Int, IntegerType) => v
        case _ => throw new IllegalArgumentException(
          "minhash_sigs(arr, k): k must be an integer literal")
      }))
    reg("jaro_winkler", classOf[JaroWinklerSim],
      c => JaroWinklerSim(c(0), c(1)))
  }
}
