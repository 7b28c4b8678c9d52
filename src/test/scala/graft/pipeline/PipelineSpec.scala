package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType
import org.apache.spark.util.LongAccumulator

class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private val vocab = Seq("a", "b")

  /** featureMatrixFused's rows, after asserting they equal featureMatrix's
    * bit for bit (`==` on boxed doubles is Double.equals), with the same
    * column names, order and types. */
  private def fusedEqualsJoined(df: DataFrame, vocab: Seq[String])
  : Seq[Seq[Any]] = {
    val joined = Pipeline.featureMatrix(df, "u", "code", "amt", $"t", vocab)
    val fused = Pipeline.featureMatrixFused(df, "u", "code", "amt", $"t",
      vocab)
    assert(fused.schema.map(f => (f.name, f.dataType)) ==
      joined.schema.map(f => (f.name, f.dataType)))
    val a = joined.orderBy("u").collect().map(_.toSeq).toSeq
    val b = fused.orderBy("u").collect().map(_.toSeq).toSeq
    assert(a.length == b.length)
    a.zip(b).foreach { case (x, y) => assert(x == y, s"user ${x.head}") }
    b
  }

  test("featureMatrixFused produces the same matrix as the join form") {
    val small = Seq(
      (1L, "a", 10.0, 100), (1L, "a", -2.0, 200), (1L, "b", 5.0, 300),
      (2L, "a", 7.0, 400))
      .toDF("u", "code", "amt", "t")
    assert(fusedEqualsJoined(small, vocab).length == 2)

    // the 309-code MCC width of the Submit matrix, with every edge the
    // cleaning can leave behind: null amt, null code, codes outside the
    // vocab, single-row users (td_std = 0) and a null user key. Fractional
    // amounts make every cell sum order-sensitive; the input arrives as
    // the cleaning hands it over, clustered and sorted by user (the trim
    // window's order), so both forms fold each user's rows in one order.
    val mcc = (0 until 309).map(i => (3000 + 7 * i).toString)
    val rows = (0 until 3000).map { i =>
      val u: java.lang.Long = if (i % 97 == 0) null else (i % 41).toLong
      val code =
        if (i % 53 == 0) null
        else if (i % 31 == 0) "9999"
        else mcc((i * i + 3 * i) % 309)
      val amt: java.lang.Double =
        if (i % 29 == 0) null else ((i * 7919) % 10007) / 7.0 - 300.0
      (u, code, amt, (i * 4327) % 86400, i)
    } ++ Seq[(java.lang.Long, String, java.lang.Double, Int, Int)](
      (1000L, mcc(5), 3.3, 500, 3000), // single-row user
      (1001L, null, 1.1, 600, 3001), // single row, null code
      (1002L, "9999", 2.2, 700, 3002)) // single row, out-of-vocab code
    val wide = fusedEqualsJoined(rows.toDF("u", "code", "amt", "t", "ord")
      .coalesce(1).sortWithinPartitions("u", "ord"), mcc)
    assert(wide.length == 45) // 41 users + the null key + 3 single-row
    assert(wide.head.head == null, "the null user key is one row")
    assert(wide.find(_.head == 1000L).get.last == 0.0,
      "single-row user: td_std = 0")

    // Pipeline.clean's own output, uncached, across two shuffle
    // partitions: the fused matrix reads the layout the trim window leaves
    // (each partition clustered by user, sorted by event order) with no
    // cache in between. Users 0-5 have 45-230 rows, so rows survive the
    // 20-row head/tail trim; user 6 has 30 and vanishes. One-off `r*`
    // codes are repaired to the modal code, `z` stays outside the vocab
    // and `x` is dropped.
    val codes = Seq("a", "b", "c", "d", "z", "x")
    val events = for {
      u <- 0 until 7
      j <- 0 until (if (u == 6) 30 else 45 + 37 * u)
    } yield (u.toLong,
      if (j % 17 == 0) s"r$j" else codes((u * 7 + j * j) % codes.length),
      ((u * 7919 + j * 104729) % 10007) / 7.0 - 300.0,
      (j * 4327 + u) % 86400, j)
    // AQE would coalesce this small input's two partitions into one
    val merge = "spark.sql.adaptive.coalescePartitions.enabled"
    spark.conf.set(merge, "false")
    try {
      val cleaned = Pipeline.clean(
        events.toDF("u", "code", "amt", "t", "ord").repartition(3),
        "u", "code", "amt", Seq($"ord"), Pipeline.Config(dropCodes = Seq("x")))
      assert(cleaned.rdd.getNumPartitions == 2)
      val trimmed = fusedEqualsJoined(cleaned, Seq("a", "b", "c", "d"))
      assert(trimmed.map(_.head) == (0L until 6L))
    } finally spark.conf.unset(merge)
    val fused = Pipeline.featureMatrixFused(small, "u", "code", "amt", $"t",
      vocab)
    assert(fused.schema("freq_a").dataType.typeName == "long")
    assert(fused.schema("proc_a").dataType.typeName == "double")
  }

  test("submission: dropped users re-enter with the max score, sorted") {
    val feats = Seq((1L, 2.0), (2L, 5.0)).toDF("u", "f")
    val all = Seq(1L, 2L, 3L).toDF("u")
    val sub = Pipeline.submission(feats,
      LinearScorer(Map("f" -> 1.0)), all, "u")
      .as[(Long, Double)].collect()
    assert(sub.toSeq == Seq((1L, 2.0), (2L, 5.0), (3L, 5.0)))
  }

  test("submission runs the scorer once per feature row") {
    val feats = (1 to 7).map(i => (i.toLong, i.toDouble)).toDF("u", "f")
    val all = (1 to 9).map(_.toLong).toDF("u")
    val evals = spark.sparkContext.longAccumulator("scorer_evals")
    val sub = Pipeline.submission(feats, PipelineSpec.CountingScorer(evals),
      all, "u").as[(Long, Double)].collect()
    assert(sub.toSeq ==
      (1 to 7).map(i => (i.toLong, i.toDouble)) ++ Seq((8L, 7.0), (9L, 7.0)))
    assert(evals.value == 7L,
      s"scorer evaluated ${evals.value} rows for 7 feature rows")
  }

  test("alignFeatures adds missing model columns as zeros, in order") {
    val df = Seq((1L, 3.0)).toDF("u", "x")
    val out = Pipeline.alignFeatures(df, "u", Seq("x", "nn_predict", "y"))
    assert(out.columns.toSeq == Seq("u", "x", "nn_predict", "y"))
    assert(out.head().toSeq == Seq(1L, 3.0, 0.0, 0.0))
  }

  // ----------------------------------------------------- tree ensemble

  private def walk(n: TreeNode, f: Map[String, Double]): Double = n match {
    case TreeLeaf(v) => v
    case TreeSplit(name, t, l, r) =>
      if (f(name) <= t) walk(l, f) else walk(r, f)
  }

  test("committed tree model parses: 52 features, additive trees score") {
    val m = TreeEnsembleModel.fromFile("/graft/tree_model.txt")
    assert(m.featureNames.size == 52)
    assert(m.featureNames.count(_.startsWith("ctx_")) == 40)
    assert(m.trees.size == 6)
    // every split references a declared feature (parser enforces, re-check)
    def feats(n: TreeNode): Seq[String] = n match {
      case TreeLeaf(_) => Nil
      case TreeSplit(f, _, l, r) => f +: (feats(l) ++ feats(r))
    }
    assert(m.trees.flatMap(feats).forall(m.featureNames.contains))
  }

  test("TreeEnsembleScorer matches a reference walk over aligned features") {
    val m = TreeEnsembleModel.fromFile("/graft/tree_model.txt")
    // three users with distinct paths through the trees
    val rows = Seq(
      (1L, 20.0, 5.0, 15.0, 2.0, 20.0, 2000.0, -500.0, 1600.0, 100.0,
        -900.0, 45000.0, 26000.0),
      (2L, 5.0, 20.0, 3.0, 30.0, 1.0, 100.0, -2000.0, 10.0, 900.0,
        -2000.0, 40000.0, 20000.0),
      (3L, 13.5, 12.5, 11.5, 13.5, 14.5, 1350.0, -1400.0, 1450.0, 0.0,
        -1250.0, 43000.0, 24900.0)) // boundary values: <= goes left
      .toDF("u", "freq_click", "freq_error", "freq_purchase", "freq_signup",
        "freq_view", "proc_click", "proc_error", "proc_purchase",
        "proc_signup", "proc_view", "td_mean", "td_std")
    val aligned = Pipeline.alignFeatures(rows, "u", m.featureNames)
    val got = TreeEnsembleScorer(m).score(aligned)
      .select("u", "target").as[(Long, Double)].collect().toMap
    rows.collect().foreach { r =>
      val f = rows.columns.drop(1).map(c =>
        c -> r.getDouble(rows.columns.indexOf(c))).toMap
        .withDefaultValue(0.0) // ctx_* align to zero
      val want = m.trees.map(walk(_, f)).foldLeft(m.bias)(_ + _)
      val u = r.getLong(0)
      assert(math.abs(got(u) - want) < 1e-9, s"user $u: ${got(u)} vs $want")
    }
  }

  test("artifact round-trips: fromLines(toLines(m)) == m") {
    val m = TreeEnsembleModel.fromFile("/graft/tree_model.txt")
    assert(TreeEnsembleModel.fromLines(TreeEnsembleModel.toLines(m)) == m)
  }

  test("toSql and scoreColumn agree on a sweep of feature rows") {
    // the emitted CASE SQL is what the external oracle runs; prove it
    // computes exactly what the compiled Column computes by evaluating
    // both in the same engine over rows that exercise every split
    val m = TreeEnsembleModel.fromFile("/graft/tree_model.txt")
    val real = m.featureNames.filterNot(_.startsWith("ctx_"))
    val rows = (0 until 64).map { i =>
      // pseudo-random but deterministic values spanning the thresholds
      (i.toLong, real.zipWithIndex.map { case (_, j) =>
        ((i * 31 + j * 17) % 97) * 600.0 - 20000.0
      })
    }
    val df = rows.map { case (id, vs) => (id, vs(0), vs(1), vs(2), vs(3),
        vs(4), vs(5), vs(6), vs(7), vs(8), vs(9), vs(10), vs(11)) }
      .toDF("id" +: real: _*)
    val aligned = Pipeline.alignFeatures(df, "id", m.featureNames)
    val sql = m.toSql(f => if (f.startsWith("ctx_")) "0.0" else f)
    // SQL engines may type the leaf literals DECIMAL (exact arithmetic)
    // where the Column form is double — identical to 1e-9 either way,
    // which the round(6) output policy absorbs with 3 digits to spare
    val both = aligned.select($"id", m.scoreColumn.as("viaColumn"),
      expr(sql).cast("double").as("viaSql"))
    both.collect().foreach { r =>
      assert(math.abs(r.getDouble(1) - r.getDouble(2)) < 1e-9,
        s"id ${r.getLong(0)}: column ${r.getDouble(1)} != sql ${r.getDouble(2)}")
    }
  }

  test("fromSparkML: a trained GBTRegressor scores identically relationally") {
    import org.apache.spark.ml.feature.VectorAssembler
    import org.apache.spark.ml.regression.GBTRegressor
    val feats = Seq("f1", "f2", "f3")
    val data = (0 until 200).map { i =>
      val (a, b, c) = ((i % 13).toDouble, ((i * 7) % 11).toDouble,
        ((i * 3) % 17).toDouble)
      (i.toLong, a, b, c, 2.0 * a + b - 0.5 * c)
    }.toDF("id", "f1", "f2", "f3", "label")
    val assembled = new VectorAssembler().setInputCols(feats.toArray)
      .setOutputCol("features").transform(data)
    val model = new GBTRegressor().setMaxDepth(3).setMaxIter(5).setSeed(42)
      .fit(assembled)
    // train with Spark ML → bridge → serve as a pure codegen projection
    val bridged = TreeEnsembleModel.fromSparkML(
      model.trees.toSeq, model.treeWeights.toSeq, feats)
    val got = TreeEnsembleScorer(bridged, roundTo = 9).score(data)
      .select("id", "target").as[(Long, Double)].collect().toMap
    val want = model.transform(assembled)
      .select($"id", $"prediction").as[(Long, Double)].collect().toMap
    want.foreach { case (id, p) =>
      assert(math.abs(got(id) - p) < 1e-6, s"id $id: ${got(id)} vs $p")
    }
    // and the bridged model survives the commit format
    assert(TreeEnsembleModel.fromLines(
      TreeEnsembleModel.toLines(bridged)) == bridged)
  }
}

object PipelineSpec {

  /** Scores `target = f` in an RDD pass (like SequenceScorer) and counts
    * every row it evaluates. */
  final case class CountingScorer(evals: LongAccumulator) extends Scorer {
    override def score(features: DataFrame): DataFrame = {
      val idx = features.schema.fieldIndex("f")
      val acc = evals
      val rdd = features.rdd.mapPartitions(_.map { r =>
        acc.add(1L)
        Row.fromSeq(r.toSeq :+ r.getDouble(idx))
      })
      features.sparkSession.createDataFrame(rdd,
        features.schema.add("target", DoubleType))
    }
  }
}
