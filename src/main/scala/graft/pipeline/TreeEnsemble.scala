package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops.CrossRound.round // shadows functions.round: cross-engine form

/**
 * S5 + scorer parity: a REAL (non-linear) model behind the [[Scorer]] plug —
 * a GBT-style additive tree ensemble, the relational analog of the
 * reference's CatBoost scorer (reference `run.py:466-475`; its torch
 * GRU/VRAE scorers are the same plug with a different artifact).
 *
 * The model is a committed `features`-headed text artifact ([[Artifact]]),
 * and scoring COMPILES the trees into nested Catalyst `when` chains summed
 * by one `aggregate` — a pure projection: no UDF, no model broadcast, no
 * Row conversion of the (often 600-column) feature matrix. `toSql` emits
 * the equivalent CASE expression so an external SQL engine can replay the
 * score bit-for-bit (leaf sums are literal doubles added in a fixed order —
 * no transcendentals, so the result is exact in any IEEE-754 engine).
 *
 * Scale: inference cost is O(rows × total tree depth) per feature-matrix
 * row (one row per user), no shuffle, no driver participation — the plan
 * is identical at 100 TB.
 */
sealed trait TreeNode
final case class TreeLeaf(value: Double) extends TreeNode
final case class TreeSplit(feature: String, threshold: Double,
                           left: TreeNode, right: TreeNode) extends TreeNode

final case class TreeEnsembleModel(featureNames: Seq[String], bias: Double,
                                   trees: Seq[TreeNode]) {

  /** The additive score `bias + tree0 + tree1 + ...`, added left to right
    * — the float addition order [[toSql]] emits, so both are bit-identical.
    * The sum is one `aggregate` over an array of the trees, not a nested
    * `+` chain: a CatBoost-sized ensemble (1000 trees) as a 1000-deep
    * expression overflows the driver stack in Spark's Column→Expression
    * conversion. `aggregate` has no codegen of its own, so the trees are
    * evaluated by the interpreter inside the generated stage, once per
    * user row. */
  def scoreColumn: Column =
    aggregate(array(trees.map(compile): _*), lit(bias), _ + _)

  private def compile(n: TreeNode): Column = n match {
    case TreeLeaf(v) => lit(v)
    case TreeSplit(f, t, l, r) =>
      when(col(f) <= t, compile(l)).otherwise(compile(r))
  }

  /** Equivalent ANSI SQL, with `featureExpr` mapping a feature name to the
    * SQL expression that produces it (e.g. a zero literal for
    * model-demanded columns the data lacks). */
  def toSql(featureExpr: String => String): String = {
    def go(n: TreeNode): String = n match {
      case TreeLeaf(v) => v.toString
      case TreeSplit(f, t, l, r) =>
        s"(CASE WHEN ${featureExpr(f)} <= $t THEN ${go(l)} ELSE ${go(r)} END)"
    }
    trees.map(go).foldLeft(bias.toString)((acc, t) => s"($acc + $t)")
  }
}

object TreeEnsembleModel {

  /** Bridge from a TRAINED Spark ML tree ensemble (GBTRegressor /
    * GBTClassifier / RandomForest — anything exposing
    * `DecisionTreeRegressionModel` trees + weights): each ML tree converts
    * to the literal [[TreeNode]] form with its weight folded into the leaf
    * values, so `scoreColumn` reproduces the ML model's raw prediction
    * (sum of weighted trees) as a pure codegen projection — train with
    * Spark ML, commit the artifact ([[toLines]]), serve relationally with
    * no MLlib dependency at inference time. Continuous splits only (Spark
    * ML's `value <= threshold → left` matches this model's convention). */
  def fromSparkML(
      mlTrees: Seq[org.apache.spark.ml.regression.DecisionTreeRegressionModel],
      treeWeights: Seq[Double], featureNames: Seq[String],
      bias: Double = 0.0): TreeEnsembleModel = {
    import org.apache.spark.ml.tree.{ContinuousSplit, InternalNode, LeafNode, Node}
    def conv(n: Node, w: Double): TreeNode = n match {
      case l: LeafNode => TreeLeaf(l.prediction * w)
      case i: InternalNode => i.split match {
        case cs: ContinuousSplit =>
          TreeSplit(featureNames(cs.featureIndex), cs.threshold,
            conv(i.leftChild, w), conv(i.rightChild, w))
        case other => throw new IllegalArgumentException(
          s"only continuous splits bridge to SQL/Column form, got $other")
      }
    }
    TreeEnsembleModel(featureNames, bias,
      mlTrees.zip(treeWeights).map { case (t, w) => conv(t.rootNode, w) })
  }

  /** Serialize to the committed-artifact format [[fromLines]] parses —
    * the train-side half of the train → commit → serve loop. */
  def toLines(m: TreeEnsembleModel): Seq[String] = {
    def tree(n: TreeNode): Seq[String] = {
      val out = Seq.newBuilder[String]
      var nextId = 0
      // preorder ids; the parser resolves by id, so line order is free
      def go(node: TreeNode): Int = {
        val id = nextId
        nextId += 1
        node match {
          case TreeLeaf(v) => out += s"l $id $v"
          case TreeSplit(f, t, l, r) =>
            val li = go(l)
            val ri = go(r)
            out += s"n $id $f $t $li $ri"
        }
        id
      }
      go(n)
      out.result()
    }
    Seq(s"features ${m.featureNames.mkString(" ")}", s"bias ${m.bias}") ++
      m.trees.flatMap(t => "tree" +: tree(t))
  }

  /** Load a model artifact from a filesystem path or classpath resource
    * ([[Artifact.lines]]) — the CLI's swap-the-model hook
    * (`graft.Submit in.csv out.csv model.txt`), mirroring the reference's
    * `load_model("./model_dir/model_cb.cbm")` (`run.py:466`). */
  def fromFile(path: String): TreeEnsembleModel =
    fromLines(Artifact.lines(path))

  /** Parse the flat text dump (the shape tree libraries export):
    * `features <names...>`, `bias <v>`, then per tree a `tree` marker
    * followed by `n <id> <feature> <threshold> <left> <right>` internal
    * nodes and `l <id> <value>` leaves; each tree's root has id 0. */
  def fromLines(lines: Seq[String]): TreeEnsembleModel = {
    Artifact.requireHeader(lines, "features")
    var features = Seq.empty[String]
    var bias = 0.0
    val treeRows = Seq.newBuilder[Seq[Array[String]]]
    var cur: scala.collection.mutable.Buffer[Array[String]] = null
    Artifact.content(lines).foreach { line =>
      val parts = line.split("\\s+")
      parts(0) match {
        case "features" => features = parts.drop(1).toSeq
        case "bias" => bias = parts(1).toDouble
        case "tree" =>
          if (cur != null) treeRows += cur.toSeq
          cur = scala.collection.mutable.Buffer.empty
        case "n" | "l" => cur += parts
        case other => throw new IllegalArgumentException(
          s"unknown model line: $other")
      }
    }
    if (cur != null) treeRows += cur.toSeq
    val trees = treeRows.result().map { nodes =>
      val byId = nodes.map(p => p(1).toInt -> p).toMap
      def build(id: Int): TreeNode = byId(id) match {
        case Array("l", _, v) => TreeLeaf(v.toDouble)
        case Array("n", _, f, t, lId, rId) =>
          require(features.contains(f), s"split on unknown feature $f")
          TreeSplit(f, t.toDouble, build(lId.toInt), build(rId.toInt))
        case p => throw new IllegalArgumentException(
          s"bad node line: ${p.mkString(" ")}")
      }
      build(0)
    }
    TreeEnsembleModel(features, bias, trees)
  }
}

/** [[Scorer]] implementation over a [[TreeEnsembleModel]] — expects the
  * feature matrix already aligned to `model.featureNames`
  * (Pipeline.alignFeatures). */
final case class TreeEnsembleScorer(model: TreeEnsembleModel,
                                    roundTo: Int = 6) extends Scorer {
  override def score(features: DataFrame): DataFrame =
    features.withColumn("target", round(model.scoreColumn, roundTo))
}
