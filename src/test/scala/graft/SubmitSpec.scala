package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import graft.pipeline.{Artifact, SequenceModel, TreeEnsembleModel, TreeLeaf,
  TreeNode, TreeSplit}
import graft.schema.Tables

/** The `run.py in.csv out.csv` CLI contract, end to end on a synthetic
  * transactions CSV: model-driven vocabulary, 6012 drop, vanished-user
  * max-score fallback, user-sorted single-file CSV output. */
class SubmitSpec extends SparkSpec {

  // two-tree model over numeric MCC codes; freq_* names induce the vocab
  private val model = TreeEnsembleModel(
    featureNames = Seq("freq_5411", "freq_5812", "proc_5411", "td_mean"),
    bias = 0.5,
    trees = Seq(
      TreeSplit("freq_5411", 2.0, TreeLeaf(-0.1), TreeLeaf(0.3)),
      TreeSplit("proc_5411", 100.0, TreeLeaf(0.0), TreeLeaf(0.05))))

  private def ts(i: Int): String =
    f"2023-01-01 10:${i / 60}%02d:${i % 60}%02d"

  private def csvOf(rows: Seq[String]): String = {
    val dir = Files.createTempDirectory("graft_submit_in").toFile
    val f = new java.io.File(dir, "tx.csv")
    val w = new java.io.PrintWriter(f, "UTF-8")
    w.println("user_id,mcc_code,currency_rk,transaction_amt,transaction_dttm")
    rows.foreach(w.println)
    w.close()
    f.getAbsolutePath
  }

  /** Runs `graft.Submit args` in a child JVM on this JVM's classpath and
    * --add-opens flags, with the spec session's core count; returns the
    * exit code and the output lines. */
  private def runCli(args: String*): (Int, Seq[String]) = {
    val log = Files.createTempFile("graft_submit_cli", ".log").toFile
    val addOpens = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.filter(_.startsWith("--add-opens"))
    val cmd = Seq(s"${sys.props("java.home")}/bin/java", "-Xmx1g") ++
      addOpens ++ Seq("-cp", sys.props("java.class.path"), "graft.Submit") ++
      args
    val pb = new ProcessBuilder(cmd.asJava)
      .redirectErrorStream(true).redirectOutput(log)
    pb.environment().put("SPARK_GRAFT_CPUS", "2")
    val rc = pb.start().waitFor()
    val out = Files.readAllLines(log.toPath).asScala.toSeq
    log.delete()
    (rc, out)
  }

  /** User 1 scores; user 2 holds only 6012 rows and falls back. */
  private val scoredAndVanished =
    (1 to 30).map(i => s"1,5411,48,${10 + i}.0,${ts(i)}") ++
    (1 to 30).map(i => s"1,5812,48,${5 + i}.0,${ts(30 + i)}") ++
    (1 to 5).map(i => s"2,6012,48,99.0,${ts(100 + i)}")

  test("Submit.run scores users, drops 6012, falls back vanished users") {
    // user 1: 30×5411 (amt 11..40) then 30×5812, strictly increasing ts —
    // trim(20) keeps exactly rows 21..40 = ten 5411 + ten 5812.
    // Repair: both codes frequent (30 > nMcc=10); 5411's clamp window is
    // [P(1/3), P(2/3)] of 11..40 ≈ [20.67, 30.33], so the kept 5411 amounts
    // (31..40) all repair to the median 25.5 -> proc_5411 = 255.
    // user 2: ONLY 6012 rows -> trimmed+dropped away -> max-score fallback.
    val in = csvOf(scoredAndVanished)
    val out = Submit.run(spark, in, model).collect()

    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L), "user-sorted output")
    val byUser = out.map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // freq_5411 = 10 > 2 -> +0.3; proc_5411 = 255 > 100 -> +0.05
    assert(byUser(1L) == 0.85, s"score was ${byUser(1L)}") // round(·,6) of bias+0.3+0.05
    // user 2 vanished -> carries the max target (here: user 1's score)
    assert(byUser(2L) == byUser(1L), "fallback is max of scored targets")
    rmTree(new java.io.File(in).getParentFile)
  }

  test("graft.Submit main in a child JVM writes the in-process CSV") {
    // the CLI entry point itself: argument dispatch, LocalSession, CSV
    // write and stop, in a fresh JVM on this JVM's classpath and
    // --add-opens flags, with the same core count as the spec session
    val in = csvOf(scoredAndVanished)
    val dir = new java.io.File(in).getParentFile
    val modelTxt = new java.io.File(dir, "model.txt")
    Files.writeString(modelTxt.toPath,
      TreeEnsembleModel.toLines(model).mkString("", "\n", "\n"))
    val (cliOut, libOut) = (s"$dir/cli", s"$dir/lib")
    val (rc, log) = runCli(in, cliOut, modelTxt.getPath)
    assert(rc == 0, s"exit $rc:\n" + log.takeRight(30).mkString("\n"))

    Tables.writeCsv(Submit.run(spark, in, model), libOut, singleFile = true)
    def csvPart(out: String): Array[Byte] = {
      val parts = new java.io.File(out).listFiles
        .filter(_.getName.endsWith(".csv"))
      assert(parts.length == 1, s"$out must hold one csv part")
      Files.readAllBytes(parts.head.toPath)
    }
    val (cli, lib) = (csvPart(cliOut), csvPart(libOut))
    assert(cli.sameElements(lib), s"CLI:\n${new String(cli, "UTF-8")}" +
      s"\nin-process:\n${new String(lib, "UTF-8")}")
    rmTree(dir)
  }

  test("submission CSV sink: single part, header, user-sorted") {
    // 50 rows per user so trim(20) leaves 10 scored rows each
    val rows =
      (1 to 50).map(i => s"7,5411,48,${10 + i}.0,${ts(i)}") ++
      (1 to 50).map(i => s"3,5812,48,${5 + i}.0,${ts(i)}")
    val in = csvOf(rows)
    val outDir = s"${sys.props("java.io.tmpdir")}/graft_submit_out"
    Tables.writeCsv(Submit.run(spark, in, model), outDir, singleFile = true)
    val files = new java.io.File(outDir).listFiles
      .filter(_.getName.endsWith(".csv"))
    assert(files.length == 1, "coalesce(1) must emit exactly one csv part")
    val lines = scala.io.Source.fromFile(files.head, "UTF-8")
      .getLines().toSeq
    assert(lines.head == "user_id,target")
    assert(lines.tail.map(_.takeWhile(_ != ',').toLong) == Seq(3L, 7L))
    rmTree(new java.io.File(outDir))
    rmTree(new java.io.File(in).getParentFile)
  }

  test("converted CatBoost-JSON artifact drives Submit end to end") {
    // fixture -> tools/convert_catboost_json.py -> model.txt -> CLI model.
    // The fixture's oblivious trees expand as: node depth k tests
    // splits[d-1-k], leaf index = bit pattern, values scaled by 2.0.
    val fixture = new java.io.File(
      getClass.getResource("/graft/model_cb_fixture.json").toURI)
    val outTxt = Files.createTempFile("graft_cb_model", ".txt").toFile
    val converter = new java.io.File("tools/convert_catboost_json.py")
    assume(converter.isFile, "run from the repo root")
    val rc = new ProcessBuilder("python3", converter.getPath,
      fixture.getPath, outTxt.getPath).inheritIO().start().waitFor()
    assume(rc == 0, "python3 with the converter must be runnable")
    val converted = TreeEnsembleModel.fromFile(outTxt.getPath)
    // hand-expanded expectation (scale 2.0 folded into leaves, bias 0.25)
    assert(converted == TreeEnsembleModel(
      Seq("freq_5411", "proc_5411"), 0.25,
      Seq(
        TreeSplit("proc_5411", 100.0,
          TreeSplit("freq_5411", 2.0, TreeLeaf(0.2), TreeLeaf(0.4)),
          TreeSplit("freq_5411", 2.0, TreeLeaf(0.6), TreeLeaf(0.8))),
        TreeSplit("proc_5411", 200.0, TreeLeaf(-0.1), TreeLeaf(0.3)))))
    // end to end through the CLI dataflow with the converted (not
    // hand-written) artifact: user 1's features are freq_5411=10,
    // proc_5411=255 (see the first test's derivation) ->
    // tree1: proc>100, freq>2 -> 0.8; tree2: proc>200 -> 0.3; +bias = 1.35
    val rows =
      (1 to 30).map(i => s"1,5411,48,${10 + i}.0,${ts(i)}") ++
      (1 to 30).map(i => s"1,5812,48,${5 + i}.0,${ts(30 + i)}")
    val in = csvOf(rows)
    val out = Submit.run(spark, in, converted).collect()
    assert(out.map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      Seq((1L, 1.35)))
    outTxt.delete()
    rmTree(new java.io.File(in).getParentFile)
  }

  // --- RNN branch -----------------------------------------------------

  /** Tiny seqmodel over the reference's 7 tx features; only
    * transaction_amt carries pd.cut edges, the rest are raw ints
    * (out-of-card indices clamp to the padding row). */
  private val seqModel = SequenceModel.synthetic(
    Seq(("hour", 23, 2), ("mcc_code", 4, 2), ("currency_rk", 3, 1),
      ("transaction_amt", 2, 2), ("day", 6, 1), ("month", 12, 2),
      ("number_day", 31, 2)),
    hidden = 3, clsUnits = 4, seqLen = 4, seed = 99L,
    edges = Map("transaction_amt" -> Array(0.0, 10.0, 20.0)))

  test("Submit RNN branch: digitize -> right-padded sequences -> native GRU score") {
    // 2023-01-02 is a Monday (day 0). amt 5 -> bin 0, 15 -> bin 1,
    // 25 -> out of range -> 0 (pandas would crash; we clamp to padding).
    val rows = Seq(
      "1,1,1,5.0,2023-01-02 10:00:00",
      "1,2,1,15.0,2023-01-02 10:00:01",
      "1,1,1,25.0,2023-01-02 10:00:02",
      "2,3,1,,2023-01-02 11:00:00") // null amt -> dropna -> fallback
    val in = csvOf(rows)
    val out = Submit.runSeq(spark, in, seqModel).collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L), "user-sorted")
    val byUser = out.map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // hand-assembled expected sequence for user 1 (T=4, RIGHT-padded):
    // [hour, mcc, cur, amt_bin, day, month, number_day]
    val expectSeq = Array(
      Array(10, 1, 1, 0, 0, 1, 2),
      Array(10, 2, 1, 1, 0, 1, 2),
      Array(10, 1, 1, 0, 0, 1, 2),
      Array(0, 0, 0, 0, 0, 0, 0))
    val expect = BigDecimal(seqModel.forward(expectSeq))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(byUser(1L) == expect, s"got ${byUser(1L)}, want $expect")
    assert(byUser(2L) == byUser(1L), "vanished user carries max target")
    rmTree(new java.io.File(in).getParentFile)
  }

  test("Submit dispatches on the artifact header (seqmodel vs tree)") {
    val f = Files.createTempFile("graft_seq_model", ".txt").toFile
    val w = new java.io.PrintWriter(f, "UTF-8")
    seqModel.toLines.foreach(w.println)
    w.close()
    assert(Artifact.header(Artifact.lines(f.getPath)) == "seqmodel")
    val back = SequenceModel.fromFile(f.getPath)
    assert(back.features == seqModel.features &&
      back.seqLen == seqModel.seqLen)
    f.delete()
  }

  test("committed converted reference checkpoint scores the RNN branch") {
    // the real artifact (128 hidden, 300 steps): end-to-end smoke with
    // determinism — two runs, same scores, probabilities in (0,1)
    val m = SequenceModel.fromFile("/graft/seq_model_tx.txt.gz")
    val rows = Seq(
      "1,5411,48,100.0,2023-01-02 10:00:00",
      "1,5812,48,-50.0,2023-01-02 10:00:01",
      "2,6011,48,20.0,2023-01-02 11:00:00")
    val in = csvOf(rows)
    val a = Submit.runSeq(spark, in, m).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val b = Submit.runSeq(spark, in, m).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(a == b, "scoring must be deterministic")
    assert(a.values.forall(p => p > 0.0 && p < 1.0))
    assert(a.keySet == Set(1L, 2L))
    rmTree(new java.io.File(in).getParentFile)
  }

  test("model artifact roundtrips through fromFile (CLI model swap)") {
    val f = Files.createTempFile("graft_model", ".txt").toFile
    val w = new java.io.PrintWriter(f, "UTF-8")
    TreeEnsembleModel.toLines(model).foreach(w.println)
    w.close()
    val back = TreeEnsembleModel.fromFile(f.getAbsolutePath)
    assert(back == model)
    f.delete()
  }

  // --- fail loudly: artifact dispatch and the input contract ------------

  private def treeArtifact(dir: java.io.File): String = {
    val f = new java.io.File(dir, "model.txt")
    Files.writeString(f.toPath,
      TreeEnsembleModel.toLines(model).mkString("", "\n", "\n"))
    f.getPath
  }

  test("Submit CLI fails loudly on a 4th argument that is not a latent encoder") {
    val in = csvOf(scoredAndVanished)
    val dir = new java.io.File(in).getParentFile
    val tree = treeArtifact(dir)
    val (rc, log) = runCli(in, s"$dir/out", tree, tree)
    assert(rc != 0 && log.exists(_.contains(
      "expected a 'latentmodel' model artifact, found header 'features'")),
      log.takeRight(30).mkString("\n"))
    assert(!new java.io.File(s"$dir/out").exists)
    rmTree(dir)
  }

  test("Submit CLI fails loudly on an unknown artifact header") {
    val in = csvOf(scoredAndVanished)
    val dir = new java.io.File(in).getParentFile
    val odd = new java.io.File(dir, "odd.txt")
    Files.writeString(odd.toPath, "# not a model\nweights 1 2 3\n")
    val (rc, log) = runCli(in, s"$dir/out", odd.getPath)
    assert(rc != 0 && log.exists(_.contains("model artifact header 'weights'")),
      log.takeRight(30).mkString("\n"))
    assert(!new java.io.File(s"$dir/out").exists)
    rmTree(dir)
  }

  /** `graft.Submit in out model` must exit non-zero with the no-user-scored
    * message and leave no output behind. */
  private def failsUnscored(in: String, model: java.io.File => String)
  : Unit = {
    val dir = new java.io.File(in).getParentFile
    val (rc, log) = runCli(in, s"$dir/out", model(dir))
    assert(rc != 0 && log.exists(_.contains("no user was scored")),
      log.takeRight(30).mkString("\n"))
    assert(!new java.io.File(s"$dir/out").exists, "output written")
    rmTree(dir)
  }

  test("Submit CLI fails loudly on a header-only CSV (tree and RNN branch)") {
    failsUnscored(csvOf(Nil), treeArtifact)
    failsUnscored(csvOf(Nil), dir => {
      val f = new java.io.File(dir, "seq.txt")
      Files.writeString(f.toPath, seqModel.toLines.mkString("", "\n", "\n"))
      f.getPath
    })
  }

  test("Submit CLI fails loudly when cleaning drops every user") {
    // the only user holds nothing but 6012 rows
    failsUnscored(csvOf((1 to 2).map(i => s"2,6012,48,99.0,${ts(i)}")),
      treeArtifact)
  }

  /** `scoredAndVanished` plus one bad row must fail the run, with `expect`
    * somewhere in the error's cause chain. */
  private def rejects(badRow: String, expect: String): Unit = {
    val in = csvOf(scoredAndVanished :+ badRow)
    val e = intercept[Exception](Submit.run(spark, in, model).collect())
    val msgs = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).mkString("\n")
    assert(msgs.contains(expect), msgs)
    rmTree(new java.io.File(in).getParentFile)
  }

  test("input contract: a non-numeric user_id fails the run") {
    rejects(s"u9,5411,48,12.0,${ts(200)}", "FAILFAST")
  }

  test("input contract: a non-numeric amount fails the run") {
    rejects(s"1,5411,48,12x5,${ts(200)}", "FAILFAST")
  }

  test("input contract: an unparsable timestamp fails the run") {
    rejects("1,5411,48,12.0,2023-01-01 10:61:00", "FAILFAST")
  }

  test("input contract: an empty user_id fails the run") {
    rejects(s",5411,48,12.0,${ts(200)}", "transactions CSV row without user_id")
  }

  // --- CatBoost-sized tree ensembles -------------------------------------

  test("a 1000-tree artifact scores through Submit.run, equal to a Scala fold") {
    // 1000 trees is a default CatBoost fit; as a 1000-deep `+` chain the
    // score overflowed the driver stack. Depth 3 keeps planning fast — the
    // chain length, not the depth, is what overflowed.
    val feats = Seq("freq_5411", "freq_5812", "proc_5411", "proc_5812",
      "td_mean", "td_std")
    val range = Map("freq_5411" -> 20.0, "freq_5812" -> 20.0,
      "proc_5411" -> 600.0, "proc_5812" -> 600.0, "td_mean" -> 40000.0,
      "td_std" -> 2000.0)
    val rnd = new scala.util.Random(1000L)
    def grow(depth: Int): TreeNode =
      if (depth == 0) TreeLeaf(rnd.nextGaussian() * 0.01)
      else {
        val f = feats(rnd.nextInt(feats.length))
        TreeSplit(f, rnd.nextDouble() * range(f), grow(depth - 1),
          grow(depth - 1))
      }
    val big = TreeEnsembleModel(feats, 0.125, Seq.fill(1000)(grow(3)))
    val rows = scoredAndVanished ++ (1 to 60).map(i =>
      s"3,${if (i % 3 == 0) 5812 else 5411},48,${i * 7 % 50 + 1}.5,${ts(2 * i)}")
    val in = csvOf(rows)
    val dir = new java.io.File(in).getParentFile
    val art = new java.io.File(dir, "big.txt")
    Files.writeString(art.toPath,
      TreeEnsembleModel.toLines(big).mkString("", "\n", "\n"))
    val loaded = TreeEnsembleModel.fromFile(art.getPath)
    assert(loaded == big)
    val got = Submit.run(spark, in, loaded).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap

    // the aligned matrix Submit.run scores, from the same public stages
    import org.apache.spark.sql.functions.col
    val tx = Tables.readTransactionsCsv(spark, in).select(col("user_id"),
      col("mcc_code").cast("string").as("code"),
      col("transaction_amt").as("amt"), col("transaction_dttm").as("ts"))
    val cleaned = graft.pipeline.Pipeline.clean(tx, "user_id", "code", "amt",
      Seq(col("ts")), graft.pipeline.Pipeline.Config(nAmt = 10, nMcc = 10,
        trimN = 20, dropCodes = Submit.DefaultDropCodes))
    val aligned = graft.pipeline.Pipeline.alignFeatures(
      graft.pipeline.Pipeline.featureMatrixFused(cleaned, "user_id", "code",
        "amt", graft.ops.TimeFeatures.secondsSinceMidnight(col("ts")),
        Seq("5411", "5812")), "user_id", feats)
      .withColumn("raw", big.scoreColumn).collect()
    def walk(n: TreeNode, x: Map[String, Any]): Double = n match {
      case TreeLeaf(v) => v
      case TreeSplit(f, t, l, r) => x(f) match {
        case v: java.lang.Number if v.doubleValue <= t => walk(l, x)
        case _ => walk(r, x) // > t or null, as `when(... <= t)` falls through
      }
    }
    val fold = aligned.map { r =>
      val x = feats.map(f => f -> r.getAs[Any](f)).toMap
      r.getLong(0) -> big.trees.foldLeft(big.bias)((acc, t) => acc + walk(t, x))
    }.toMap
    assert(fold.keySet == Set(1L, 3L))
    // unrounded, the Catalyst sum is the Scala fold bit for bit
    assert(aligned.map(r => r.getLong(0) -> r.getAs[Double]("raw")).toMap == fold)
    // and Submit's output is that fold under the scorer's 6-dp rounding
    import spark.implicits._
    val want = fold.toSeq.toDF("user_id", "s")
      .select(col("user_id"), graft.ops.CrossRound.round(col("s"), 6))
      .as[(Long, Double)].collect().toMap
    assert(got - 2L == want)
    assert(got(2L) == want.values.max, "vanished user carries the max")
    rmTree(dir)
  }
}
