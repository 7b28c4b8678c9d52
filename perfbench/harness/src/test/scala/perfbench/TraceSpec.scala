package perfbench

import java.io.File
import java.nio.file.Files
import scala.sys.process._
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.Submit
import graft.pipeline.{SequenceModel, TreeEnsembleModel}
import graft.schema.Tables

/** The traced run measures the same program the untraced run does, and the
  * inputs are a function of the seed. Run from perfbench/harness after
  * `sbt package` at the repository root: `sbt test`. */
class TraceSpec extends AnyFunSuite {

  private lazy val repo: File = Iterator
    .iterate(new File(".").getAbsoluteFile)(_.getParentFile)
    .takeWhile(_ != null)
    .find(d => new File(d, "perfbench/gen.py").isFile)
    .getOrElse(sys.error("run inside the repository"))

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def rmTree(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(rmTree)); f.delete(); ()
  }

  private def generate(seed: Int, workload: String, users: Int): File = {
    val dir = Files.createTempDirectory("perfbench_gen").toFile
    val cmd = Seq("python3", new File(repo, "perfbench/gen.py").getPath,
      "--seed", seed.toString, "--workload", workload,
      "--out", dir.getPath, "--users", users.toString)
    assert(Process(cmd).! == 0, s"generator failed: $cmd")
    dir
  }

  private def bytes(f: File): Array[Byte] = Files.readAllBytes(f.toPath)

  test("the generator is deterministic per seed") {
    val Seq(a, b, c) = Seq(3, 3, 4).map(generate(_, "submit_tree", 30))
    for (name <- Seq("tx.csv", "model.txt"))
      assert(bytes(new File(a, name)) sameElements bytes(new File(b, name)),
        s"$name differs between two runs of one seed")
    assert(!(bytes(new File(a, "tx.csv")) sameElements
      bytes(new File(c, "tx.csv"))), "another seed must give another input")
    Seq(a, b, c).foreach(rmTree)
  }

  test("tree: the layered composition writes the CLI's bytes") {
    val in = generate(0, "submit_tree", 60)
    val csv = new File(in, "tx.csv").getPath
    val model = TreeEnsembleModel.fromFile(new File(in, "model.txt").getPath)
    Tables.writeCsv(Submit.run(spark, csv, model), s"$in/cli", singleFile = true)
    val layers = Layers.tree(spark, csv, model, s"$in/layers")
    spark.catalog.clearCache()
    assert(Trace.csvBytes(s"$in/cli") sameElements Trace.csvBytes(s"$in/layers"))
    assert(layers("pipeline.features_cols") > 600, "every code's freq_/proc_")
    assert(layers("pipeline.fallback_users") > 0, "some users fall back")
    rmTree(in)
  }

  test("rnn: the layered composition writes the CLI's bytes") {
    val in = generate(0, "submit_rnn", 4)
    val csv = new File(in, "tx.csv").getPath
    val model = SequenceModel.fromFile(
      new File(repo, "src/main/resources/graft/seq_model_tx.txt.gz").getPath)
    Tables.writeCsv(Submit.runSeq(spark, csv, model), s"$in/cli",
      singleFile = true)
    val layers = Layers.rnn(spark, csv, model, s"$in/layers")
    spark.catalog.clearCache()
    assert(Trace.csvBytes(s"$in/cli") sameElements Trace.csvBytes(s"$in/layers"))
    assert(layers("pipeline.score_users") == 4)
    rmTree(in)
  }
}
