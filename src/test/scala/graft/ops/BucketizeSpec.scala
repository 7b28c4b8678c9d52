package graft.ops

import graft.SparkSpec
import graft.functions.BucketizeEdges
import graft.pipeline.SequenceModel
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField,
  StructType}

/** `Bucketize` is one binary-search expression ([[BucketizeEdges]]); the
  * chained-`when` form it replaced stays here as the oracle. Every case
  * runs through whole-stage codegen and through the interpreted path. */
class BucketizeSpec extends SparkSpec {
  import spark.implicits._

  /** The composed form: one `when(c > lo && c <= hi, i)` per bin, first
    * match wins. */
  private def chain(c: Column, edges: Seq[Double]): Column =
    coalesce(edges.sliding(2).zipWithIndex.map {
      case (Seq(lo, hi), i) => when(c > lo && c <= hi, i)
      case _ => lit(null)
    }.toSeq: _*)

  /** Seeded edges with duplicates (values drawn on a 0.5 grid) around 0.0,
    * bracketed by -Inf and +Inf. */
  private val edges: Seq[Double] = {
    val r = new scala.util.Random(20231)
    val drawn = Seq.fill(40)((r.nextInt(60) - 30) * 0.5) :+ 0.0 :+ 0.0
    Double.NegativeInfinity +: drawn.sorted :+ Double.PositiveInfinity
  }

  private val finite: Seq[Double] = edges.filterNot(_.isInfinite)

  /** Every edge, just inside and outside it, between edges, below and
    * above the finite range, NaN, +-0.0 and the infinities. */
  private val doubles: Seq[Double] =
    (finite.flatMap(e => Seq(e, math.nextUp(e), math.nextDown(e), e + 0.25,
      e - 0.25)) ++ Seq(finite.min - 100.0, finite.max + 100.0, Double.NaN,
      -0.0, 0.0, Double.NegativeInfinity, Double.PositiveInfinity,
      Double.MaxValue, -Double.MaxValue)).distinct

  private val interpreted = Seq(
    "spark.sql.codegen.wholeStage" -> "false",
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")

  private def withConf[T](kv: Seq[(String, String)])(f: => T): T = {
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally kv.foreach { case (k, _) => spark.conf.unset(k) }
  }

  /** Whether a whole-stage codegen stage of `df`'s executed plan holds
    * the bucketize. */
  private def inWholeStage(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.collect {
      case w: WholeStageCodegenExec => w
    }.exists(_.child.collect { case p => p.expressions }.flatten.exists(
      _.exists(_.isInstanceOf[BucketizeEdges])))

  /** Native vs chain over `df`'s column `v` (with a null row appended), in
    * both evaluation paths. */
  private def agree(df: DataFrame, e: Seq[Double]): Unit = {
    val rows = (df.collect().map(_.get(0)).toSeq :+ null).zipWithIndex.map {
      case (v, i) => Row(i.toLong, v)
    }
    // an RDD scan, so the projection is not folded into a local relation
    val in = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2),
      StructType(Seq(StructField("id", LongType),
        df.schema("v").copy(nullable = true))))
    def run(): (Seq[(Long, Option[Int], Option[Int])], Boolean) = {
      val out = in.select($"id", Bucketize($"v", e).as("got"),
        chain($"v", e).as("want"))
      val got = out.collect().toSeq.map(r => (r.getLong(0),
        Option(r.get(1)).map(_.asInstanceOf[Int]),
        Option(r.get(2)).map(_.asInstanceOf[Int])))
      (got, inWholeStage(out))
    }
    val (codegen, fused) = run()
    val (plain, fusedPlain) = withConf(interpreted)(run())
    assert(fused && !fusedPlain, "evaluation path not the one asked for")
    assert(codegen.size == rows.size)
    assert(codegen.sortBy(_._1) == plain.sortBy(_._1),
      "codegen and interpreted paths differ")
    val bad = codegen.filter(t => t._2 != t._3)
    assert(bad.isEmpty, s"${bad.size} rows differ from the chain, e.g. " +
      bad.take(5).mkString(", "))
    assert(codegen.exists(_._2.isEmpty) && codegen.exists(_._2.nonEmpty))
  }

  test("double input: equal to the chained-when form at every edge") {
    agree(doubles.toDF("v"), edges)
    agree(doubles.toDF("v"), finite)
  }

  test("int and long input: equal to the chained-when form") {
    val ints = (doubles.filterNot(_.isNaN).map(d =>
      math.max(math.min(d, 1e6), -1e6).round.toInt) ++
      Seq(Int.MinValue, Int.MaxValue)).distinct
    agree(ints.toDF("v"), edges)
    agree(ints.toDF("v"), finite)
    val longs = ints.map(_.toLong) ++ Seq(Long.MinValue, Long.MaxValue)
    agree(longs.toDF("v"), edges)
    agree(longs.toDF("v"), finite)
  }

  test("edges compare structurally: equal lists give equal expressions") {
    val v = AttributeReference("v", DoubleType)()
    val a = BucketizeEdges(v, Vector(0.0, 1.0, 2.0))
    val b = BucketizeEdges(v, Array(0.0, 1.0, 2.0).toIndexedSeq)
    val c = BucketizeEdges(v, Vector(0.0, 1.0, 3.0))
    assert(a == b && a.hashCode == b.hashCode && a.semanticEquals(b))
    assert(a != c && !a.semanticEquals(c))
  }

  test("bad edges fail with a message naming the problem") {
    def msg(e: Seq[Double]): String =
      intercept[IllegalArgumentException](Bucketize(col("v"), e)).getMessage
    assert(msg(Seq(0.0, 2.0, 1.0)).contains("non-decreasing: edge 2 = 1.0"))
    assert(msg(Seq(0.0, Double.NaN, 1.0)).contains("NaN (edge 1)"))
    assert(msg(Seq(1.0)).contains("at least two edges"))
  }

  test("every edges list of the committed bi-GRU artifact is strictly " +
    "increasing") {
    val m = SequenceModel.fromFile("/graft/seq_model_tx.txt.gz")
    val sizes = m.features.flatMap(f => m.edges.get(f).map(f -> _.length))
    assert(sizes == Seq("hour" -> 26, "mcc_code" -> 395, "currency_rk" -> 5,
      "transaction_amt" -> 103, "day" -> 9, "month" -> 14,
      "number_day" -> 33))
    m.edges.foreach { case (f, e) =>
      assert(e.sliding(2).forall(w => w(0) < w(1)), s"$f edges not strict")
    }
  }
}
