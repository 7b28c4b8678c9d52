package graft

import org.apache.spark.sql.functions._
import graft.schema.Tables

/** Plan-shape proofs for the SCALE.md claims that aren't visible in result
  * hashes: predicate pushdown and column pruning reach the parquet scan,
  * and dimension joins broadcast. These are the properties that decide
  * whether a plan survives 100 TB — asserted on the real testdata plans,
  * not argued in prose. */
class PlanShapeSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("filter and projection reach the parquet scan (pushdown + pruning)") {
    val df = Tables.lineitem(spark, sf)
      .filter(col("l_quantity") > 30.0)
      .select("l_orderkey", "l_quantity")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters:") &&
      plan.contains("GreaterThan(l_quantity,30.0)"),
      s"filter not pushed to scan:\n$plan")
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"),
      s"scan reads more than the projected columns:\n$plan")
  }

  test("star-join dimensions broadcast; no shuffle of the fact side per dim") {
    val q = SparkEntry.queries("q30_star_join")
    val df = q(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"no broadcast join in star join:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"))
  }

  test("trim → fused feature matrix runs in ONE hash exchange total") {
    // the per-user spine claim: the trim window shuffles on the user key
    // once, and the one-pass fused aggregation REUSES that distribution —
    // no second exchange. (AQE's toString prints the initial plan after
    // the final one; count only the final section.)
    import graft.ops.Trim
    import graft.pipeline.Pipeline
    val df = spark.range(400).select(
      (col("id") % 20).as("u"), col("id").as("ord"),
      (col("id") % 5).cast("string").as("code"),
      ((col("id") % 7).cast("double") + 1.0).as("amt"))
    val trimmed = Trim.headTail(df, 2, Seq("u"), Seq(col("ord")))
    val fm = Pipeline.featureMatrixFused(trimmed, "u", "code", "amt",
      col("ord"), Seq("0", "1", "2", "3", "4"))
    fm.collect()
    val finalPlan = fm.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val n = "Exchange hashpartitioning".r.findAllIn(finalPlan).size
    assert(n == 1,
      s"expected exactly one hash exchange, found $n:\n$finalPlan")
  }

  test("Submit at 309-code width: no physical aggregate over 8 functions") {
    // the Submit spine's feature matrix at the MCC width is the two-level
    // pivot, never one aggregate with a slot per (family, code): every
    // aggregate in the AQE-final plans the CLI body runs stays at 8
    // functions or fewer. The one fixed-width exception is the cleaning's
    // Repair rank walk (count + 3 percentiles x floor/ceil/index = 10,
    // whatever the vocab), pinned at exactly 10.
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
      QueryStageExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.util.QueryExecutionListener
    import graft.pipeline.{TreeEnsembleModel, TreeLeaf, TreeNode, TreeSplit}
    val codes = (0 until 309).map(i => (3000 + 7 * i).toString)
    val dir = java.nio.file.Files.createTempDirectory("graft_wide_submit")
      .toFile
    val csv = new java.io.File(dir, "tx.csv")
    val w = new java.io.PrintWriter(csv, "UTF-8")
    w.println("user_id,mcc_code,currency_rk,transaction_amt,transaction_dttm")
    for (u <- 0 until 40; i <- 0 until 60)
      w.println(s"$u,${codes((u * 13 + i * i) % 309)},48," +
        f"${(u * 31 + i * 17) % 500 + 0.25}%.2f,2023-01-01 " +
        f"${i / 6}%02d:${i % 6 * 10}%02d:${u % 60}%02d")
    w.close()
    // 62 ten-split chains: the score reads all 620 columns, so column
    // pruning cannot narrow the feature matrix behind the gate's back
    val features = codes.map("freq_" + _) ++ codes.map("proc_" + _) ++
      Seq("td_mean", "td_std")
    val model = TreeEnsembleModel(featureNames = features, bias = 0.5,
      trees = features.grouped(10).map(_.foldRight[TreeNode](TreeLeaf(0.01))(
        (f, rest) => TreeSplit(f, 1.0, TreeLeaf(0.0), rest))).toSeq)
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case other => other +: other.children.flatMap(nodes)
    }
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution,
                             e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val out = Submit.run(spark, csv.getPath, model).collect()
      assert(out.length == 40)
      org.apache.spark.graftshim.ListenerShim.drain(spark.sparkContext)
    } finally {
      spark.listenerManager.unregister(listener)
      rmTree(dir)
    }
    import scala.jdk.CollectionConverters._
    val aggs = plans.asScala.toSeq.flatMap(nodes).collect {
      case a: BaseAggregateExec => a
    }
    // not vacuous: the feature matrix's amount sums were among them
    assert(aggs.exists(_.aggregateExpressions.exists { e =>
      e.aggregateFunction.prettyName == "sum" &&
        e.aggregateFunction.references.exists(_.name == "amt")
    }), s"feature-matrix aggregate not captured in ${plans.size} plans")
    val (repairWalk, rest) = aggs.partition(_.aggregateExpressions.exists(
      _.aggregateFunction.references.exists(_.name == "_iL")))
    assert(repairWalk.nonEmpty &&
      repairWalk.forall(_.aggregateExpressions.size == 10))
    val wide = rest.filter(_.aggregateExpressions.size > 8)
    assert(wide.isEmpty, s"${wide.size} aggregates over 8 functions, e.g. " +
      wide.headOption.map(_.simpleString(200)).getOrElse(""))
  }

  test("Submit RNN digitize: one bucketize per edged feature, no CaseWhen") {
    // the committed bi-GRU's 7 edge lists (585 edges) digitize as one
    // binary-search expression each, never as a when-chain per bin
    import org.apache.spark.sql.catalyst.expressions.CaseWhen
    import graft.functions.BucketizeEdges
    import graft.pipeline.SequenceModel
    val model = SequenceModel.fromFile("/graft/seq_model_tx.txt.gz")
    // an RDD scan in the CSV reader's schema, without the reader's own
    // input-contract `when`, so the projections are not folded away
    val tx = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      org.apache.spark.sql.Row(1L, 5411L, 48L, 100.0,
        java.sql.Timestamp.valueOf("2023-01-02 10:00:00")))),
      Tables.transactionsSchema)
    val seqs = Submit.sequences(tx, model)
    val exprs = seqs.queryExecution.optimizedPlan.collect {
      case p => p.expressions
    }.flatten.flatMap(_.collect { case e => e })
    val caseWhens = exprs.count(_.isInstanceOf[CaseWhen])
    val buckets = exprs.count(_.isInstanceOf[BucketizeEdges])
    assert(seqs.count() == 1)
    assert(caseWhens == 0, s"$caseWhens CaseWhen nodes in the digitize plan")
    assert(model.edges.size == 7 && buckets == 7,
      s"$buckets bucketize nodes for ${model.edges.size} edged features")
  }

  test("epochShuffle: ONE hash exchange on the shard key, no range sort") {
    // the training-order shuffle must never become a global range sort
    // (whose partitioner samples the corpus) or a driver-side index —
    // d57's scale claim is a single hash partition on `shards` keys.
    import graft.ops.Sampling
    val df = spark.range(500).select(col("id"))
    val out = Sampling.epochShuffle(df, col("id"), shards = 4, epoch = 1)
    out.collect()
    val finalPlan = out.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val n = "Exchange hashpartitioning".r.findAllIn(finalPlan).size
    assert(n == 1,
      s"expected exactly one hash exchange, found $n:\n$finalPlan")
    assert(!finalPlan.contains("Exchange rangepartitioning"),
      s"epoch shuffle must not range-sort globally:\n$finalPlan")
  }

  test("pairOutcomes: bucket-hash exchange + window, never a global sort") {
    // the comparison build must ride the content-addressed bucket key —
    // a rangepartitioning here would mean a corpus-wide sort at 100 TB
    import graft.ops.Preference
    val df = spark.range(300).select(col("id"),
      (col("id") % 5).cast("string").as("g"),
      (col("id") % 11).cast("double").as("q"))
    val out = Preference.pairOutcomes(df, col("id"), col("g"), col("q"),
      buckets = 8)
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!plan.contains("Exchange rangepartitioning"),
      s"pairing must not global-sort:\n$plan")
    val n = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(n == 1, s"expected one bucket-hash exchange, found $n:\n$plan")
  }

  test("packSequences: ONE stream-key hash exchange; manifest adds none") {
    // the packing cumsum must ride a single hash partition on the
    // (domain, shard) stream key — never a global range sort — and the
    // chunk manifest is a pure generator over the placement columns
    import graft.ops.Sampling
    val df = spark.range(500).select(col("id"),
      (col("id") % 3).cast("string").as("dom"),
      (col("id") % 9 + 1).as("n"))
    val packed = Sampling.packSequences(df, col("id"), col("dom"),
      col("n"), capacity = 16, shards = 4)
    val out = Sampling.chunkManifest(packed, capacity = 16)
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val n = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(n == 1, s"expected exactly one hash exchange, found $n:\n$plan")
    assert(!plan.contains("Exchange rangepartitioning"),
      s"packing must not range-sort globally:\n$plan")
  }

  test("epochReplicate is a pure generator projection: zero exchanges") {
    import graft.ops.Sampling
    val df = spark.range(500).select(col("id"),
      (col("id") % 2).cast("string").as("dom"))
    val out = Sampling.epochReplicate(df, col("id"), col("dom"),
      Map("0" -> 2.5, "1" -> 0.4))
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!plan.contains("Exchange"),
      s"replication must not shuffle:\n$plan")
  }

  test("runtime bloom filter prunes the fact side of a selective join") {
    // q78's mechanism: with a selective dim predicate and a shuffle join,
    // InjectRuntimeFilter must land might_contain on the fact scan side so
    // non-joining rows die before the exchange.
    val keys = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> spark.conf.get(k))
    try {
      spark.conf.set(keys(0), "true")
      spark.conf.set(keys(1), "0")
      spark.conf.set(keys(2), "-1")
      // raw scans: Tables.load's repartition crutch would sit between scan
      // and join and stop InjectRuntimeFilter's application-side traversal
      val j = spark.read.parquet(s"$sf/lineitem.parquet")
        .join(spark.read.parquet(s"$sf/orders.parquet")
            .filter(col("o_orderpriority") === "1-URGENT"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority")).count()
      j.collect()
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("might_contain"),
        s"expected a runtime bloom filter on the fact side:\n$plan")
    } finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("novelty and source-overlap stay equi-joins — no nested loop") {
    // d59/d60's scale claim: pair generation is keyed on the shingle;
    // a future edit that drops the equi-key would silently degrade to a
    // cartesian/nested-loop product and only die at corpus scale.
    import graft.ops.Dedup
    val docs = Tables.documents(spark, sf)
    for (df <- Seq(Dedup.ngramNovelty(docs, "doc_id", "text", 3),
                   Dedup.sourceOverlap(docs, "source", "text", 3))) {
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct")
          && !plan.contains("BroadcastNestedLoopJoin"),
        s"pair generation lost its equi-key:\n$plan")
    }
  }

  test("q46 bucketed join: ZERO exchanges between the persisted tables") {
    val df = SparkEntry.queries("q46_bucketed_join")(spark, sf)
    assert(df.count() > 0)
    val finalPlan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!finalPlan.contains("Exchange"),
      s"bucketed join still exchanges:\n$finalPlan")
    assert(finalPlan.contains("SortMergeJoin"),
      s"expected a sort-merge join over the bucketed tables:\n$finalPlan")
  }

  test("q60 partitioned layout: the event_type predicate prunes at the directory level") {
    val df = SparkEntry.queries("q60_partition_prune")(spark, sf)
    assert(df.count() > 0)
    val scan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // the filter must live in PartitionFilters (resolved against the
    // directory listing at planning time), NOT as a pushed data filter
    // evaluated per row group
    assert(scan.contains("PartitionFilters") &&
      scan.matches("(?s).*PartitionFilters: \\[[^\\]]*purchase[^\\]]*\\].*"),
      s"event_type predicate not a partition filter:\n$scan")
    assert(!scan.matches("(?s).*PushedFilters: \\[[^\\]]*purchase[^\\]]*\\].*"),
      s"partition predicate leaked into data filters:\n$scan")
  }

  test("globalCumsum: the row-level window is partitioned, never global") {
    import graft.ops.Sequences
    val df = spark.range(2000).select(col("id").as("k"),
      (col("id") % 13 + 1).as("v"))
    val out = Sequences.globalCumsum(df, "k", col("v"), "c")
    out.collect()
    val finalPlan = out.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // every Window over row data must carry the _pid partition spec; a
    // naive sum() OVER (ORDER BY k) would print an empty partition list
    // and drag the table into one task
    val windows = finalPlan.linesIterator
      .filter(_.contains("Window ")).toSeq
    assert(windows.nonEmpty)
    val rowWindow = windows.filter(_.contains("_pid"))
    assert(rowWindow.nonEmpty,
      s"row-level window lost its _pid partitioning:\n$finalPlan")
  }

  test("KMV sketch: one wide exchange + one sketch-sized exchange, no skew") {
    // the two-phase top-k claim: dedup + per-bucket rank ride the single
    // (grp, bucket) repartition; only the <= buckets*k survivors cross the
    // wire again for the per-group rank. A naive per-group window would
    // drag every distinct hash of a group onto one partition.
    import graft.ops.Sketches
    val df = spark.range(5000).select(
      (col("id") % 3).cast("string").as("g"), col("id").as("v"))
    val sk = Sketches.kmvDistinct(df, col("g"), col("v"), k = 32,
      withExact = false)
    sk.collect()
    val finalPlan = sk.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val n = "Exchange hashpartitioning".r.findAllIn(finalPlan).size
    assert(n == 2,
      s"expected exactly two hash exchanges (wide + sketch-sized), " +
        s"found $n:\n$finalPlan")
  }

  test("simhash is a pure projection: zero exchanges, nothing leaves the scan") {
    // the projection-form claim: signatures are computed row-locally from
    // the token array — the explode → 60-aggregate groupBy alternative
    // reshuffles every token of the corpus just to regroup by doc
    import graft.ops.Dedup
    val sh = Dedup.simhash(Tables.documents(spark, sf), "doc_id", "text", 60)
    sh.collect()
    val plan = sh.queryExecution.executedPlan.toString
    // the loader's round-robin spread of the 1-row-group testdata parquet
    // is allowed; what must NOT appear is a hash exchange (the explode →
    // groupBy form's token reshuffle) or an explode
    assert(!plan.contains("Exchange hashpartitioning"),
      s"simhash plan contains an aggregation shuffle:\n$plan")
    assert(!plan.contains("Generate"), // no explode either
      s"simhash plan explodes the token array:\n$plan")
  }

  test("partitioned write → partition pruning reaches the scan") {
    // the 100 TB layout claim: a filter on the partition column prunes
    // directories at planning time — the scan never opens non-matching
    // partitions' files
    val dir = java.nio.file.Files.createTempDirectory("graft_part").toString
    try {
      Tables.events(spark, sf).write.partitionBy("event_type")
        .mode("overwrite").parquet(dir)
      val df = spark.read.parquet(dir)
        .filter(col("event_type") === "click").select("event_id")
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters: [isnotnull(event_type"),
        s"no partition filter in scan:\n$plan")
      assert(plan.contains("= click)"),
        s"click pruning predicate missing:\n$plan")
    } finally rmTree(new java.io.File(dir))
  }

  test("window top-k pushes the rank limit below the shuffle (WindowGroupLimit)") {
    // Spark's rank-limit pushdown turns the per-key top-3 into a partial
    // top-k BEFORE the exchange — only candidate survivors shuffle. This
    // is why the declarative row_number().filter(rk <= 3) form is the
    // right one at 100 TB: the optimizer supplies the two-phase plan.
    val df = SparkEntry.queries("q24_window_topk")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"rank-limit pushdown missing from window top-k plan:\n$plan")
  }

  test("groupSample's rank filter pushes down as WindowGroupLimit") {
    // the per-group fixed-count draw must inherit q24's two-phase top-k:
    // partial limit before the exchange, n rows of state per group —
    // otherwise a hot source's whole group would buffer in one task
    val df = SparkEntry.queries("d51_group_sample")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"rank-limit pushdown missing from groupSample plan:\n$plan")
  }

  test("inverted-index build prunes per term via WindowGroupLimit; " +
    "serving never touches raw documents") {
    import graft.ops.Relevance
    val idx = Relevance.bm25IndexPostings(Tables.documents(spark, sf),
      "doc_id", "text", maxPostings = 50)
    idx.collect()
    val buildPlan = idx.queryExecution.executedPlan.toString
    // the top-50-per-term impact pruning must run as a partial top-k
    // before the full sort, or a hot term's whole posting list buffers
    assert(buildPlan.contains("WindowGroupLimit"),
      s"impact pruning not pushed down:\n$buildPlan")
    // serving scans ONLY the persisted index: one filter + one aggregate
    // + TakeOrdered, no document table in the plan
    val dir = java.nio.file.Files.createTempDirectory("graft_idx_spec")
      .toString
    try {
      idx.write.mode("overwrite").parquet(dir)
      val served = Relevance.bm25IndexQuery(spark.read.parquet(dir),
        Seq("spark", "data"), k = 5)
      served.collect()
      val servePlan = served.queryExecution.executedPlan.toString
      assert(servePlan.contains("TakeOrderedAndProject"),
        s"serving top-k is not TakeOrdered:\n$servePlan")
      assert(!servePlan.contains("documents"),
        s"serving plan touches the raw corpus:\n$servePlan")
    } finally rmTree(new java.io.File(dir))
  }

  test("filtered ANN pushes the metadata predicate to the parquet scan") {
    // e15's hybrid-serving claim: the label filter restricts the corpus
    // at the SCAN (through the loader's repartition), so banding and
    // rerank never see non-qualifying vectors
    val df = SparkEntry.queries("e15_filtered_knn")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("EqualTo(label,1)") &&
      plan.contains("PushedFilters"),
      s"label predicate not pushed to the embeddings scan:\n$plan")
  }

  test("hard negatives: broadcast query side, band equi-join, no cartesian") {
    // e16's scale claim: the banded query side broadcasts (queries are
    // the small side by construction), candidates come from the (band,
    // bits) equi-join, and nothing falls back to a nested-loop/cartesian
    // — the label filter must only ever DROP candidate rows, not force
    // a different join shape
    val df = SparkEntry.queries("e16_hard_negatives")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"banded query side is not broadcast:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"hard negatives fell back to a non-equi join:\n$plan")
  }

  test("span excision's keeper join stays an equi-join on the gram key") {
    val df = SparkEntry.queries("d53_span_excise")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the df>=2 gram set is corpus-sized at scale (unlike d44's hot
    // tail, which is deliberately broadcast): every join here must be an
    // equi-join (hash/merge — AQE may legitimately broadcast at spec
    // scale), never a nested-loop or cartesian fallback
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"span excision fell back to a non-equi join:\n$plan")
  }

  test("hot paths run inside whole-stage codegen") {
    // the codegen-friendliness contract: the submission spine, the
    // histogram sketch and the native-MinHash signature pass must all
    // compile into WholeStageCodegen spans — a non-codegen Expression or
    // a lambda-bearing operator in the hot path would drop the plan back
    // to interpreted row-at-a-time evaluation
    for (q <- Seq("q27_pipeline_submission", "q44_hist_quantile",
        "d06_minhash_lsh")) {
      val df = SparkEntry.queries(q)(spark, sf)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      // AQE-final plans print codegen stages as the "*(id) " node prefix
      // (the WholeStageCodegen node name only appears in treeString
      // formats); either marker proves compiled spans exist
      assert(plan.contains("WholeStageCodegen") || plan.contains("*("),
        s"$q plan has no codegen span:\n$plan")
    }
  }

  test("BM25 scoring: corpus stats are a 1-row broadcast, scoring map-side") {
    import graft.ops.Relevance
    val df = Relevance.bm25(Tables.documents(spark, sf), "doc_id", "text",
      Seq("spark", "data"))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"),
      s"bm25 stats not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"bm25 scoring should never sort-merge:\n$plan")
  }

  test("session_window sessionizes in ONE exchange on the user key") {
    // s11's scale claim: the native session operator needs exactly one
    // corpus-sized shuffle (hash on the session/user keys) — no global
    // sort, no second exchange for the merge phase (sessions merge
    // within the partition-local sort the operator plans itself).
    val df = graft.streaming.EventStream.sessionStats(
      Tables.events(spark, sf), gap = "30 minutes")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val hashEx = plan.linesIterator
      .count(_.contains("Exchange hashpartitioning"))
    val rangeEx = plan.linesIterator
      .count(_.contains("Exchange rangepartitioning"))
    assert(hashEx == 1 && rangeEx == 0,
      s"expected one hash exchange, no range: hash=$hashEx range=$rangeEx:\n$plan")
  }

  private def finalPlanOf(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.collect()
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
  }

  private def exchangeCounts(plan: String): (Int, Int, Int) = (
    plan.linesIterator.count(_.contains("Exchange hashpartitioning")),
    plan.linesIterator.count(_.contains("Exchange rangepartitioning")),
    plan.linesIterator.count(_.contains("Exchange SinglePartition")))

  test("custom-state sessionizer (s12): ONE user-key exchange, no sort shuffle") {
    // the flatMapGroupsWithState batch twin must shuffle the events table
    // exactly once (hash on user_id); the per-user ordering happens in the
    // partition-local sort the operator plans itself
    val (h, r, _) = exchangeCounts(finalPlanOf("s12_session_tracker"))
    assert(h == 1 && r == 0, s"expected one hash exchange, no range: h=$h r=$r")
  }

  test("point-in-time rolling feature (s13): ONE user-key exchange") {
    // the registry entry localCheckpoints (to scope the RocksDB conf), so
    // the plan must be probed on the operator itself, pre-checkpoint
    import spark.implicits._
    import graft.streaming.EventStream
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "org.apache.spark.sql.execution.streaming.state" +
      ".RocksDBStateStoreProvider")
    try {
      val evs = Tables.events(spark, sf).select(
        col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"),
        round(col("value") * lit(100)).cast("long").as("cents"))
        .as[EventStream.RollEvent]
      val df = EventStream.rollingFeature(evs, n = 3).toDF()
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      val h = plan.linesIterator.count(_.contains("Exchange hashpartitioning"))
      val r = plan.linesIterator.count(_.contains("Exchange rangepartitioning"))
      assert(h == 1 && r == 0,
        s"expected one hash exchange, no range: h=$h r=$r:\n$plan")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("out-of-fold target encode (d63): ONE corpus exchange, rest on aggregates") {
    // scale claim from ops/Prep.scala: the only corpus-sized movement is
    // the (category, fold) partial-count aggregation; every later exchange
    // runs on |categories|xk (or 1-row) aggregates of THAT. Pinning the
    // total count keeps a second corpus shuffle from creeping in.
    val plan = finalPlanOf("d63_target_encode")
    val (h, r, _) = exchangeCounts(plan)
    assert(h <= 3 && r == 0,
      s"expected at most 3 hash exchanges (1 corpus + aggregate-sized), no range: h=$h r=$r:\n$plan")
  }

  test("temporal embargo split (d64): no global range sort; single-partition " +
    "exchanges only on bounded aggregates") {
    // globalCumsum legitimately funnels TWO bounded tables through a
    // single partition: the numPartitions-row per-partition summaries
    // (offset prefix) and the 1-row grand total. The corpus itself must
    // never range-sort or single-partition.
    val plan = finalPlanOf("d64_temporal_split")
    val (_, r, s) = exchangeCounts(plan)
    assert(r == 0, s"global range sort in the split: r=$r:\n$plan")
    assert(s <= 2, s"more single-partition exchanges than the two bounded " +
      s"aggregates: s=$s:\n$plan")
  }

  test("majority vote (d65) and k-anonymity (d66): one key exchange each") {
    for (q <- Seq("d65_label_vote", "d66_k_anonymity")) {
      val (h, r, _) = exchangeCounts(finalPlanOf(q))
      assert(h <= 2 && r == 0, s"$q: h=$h r=$r")
    }
  }

  test("DSIR (d69/d70): B-row ratio table broadcasts; selection is TakeOrdered") {
    val p69 = finalPlanOf("d69_dsir_weights")
    assert(p69.contains("BroadcastExchange"),
      s"log-ratio table not broadcast:\n$p69")
    assert(!p69.contains("Exchange rangepartitioning"))
    val p70 = finalPlanOf("d70_dsir_resample")
    assert(p70.contains("TakeOrdered"),
      s"Gumbel-top-k must be TakeOrdered, not a global sort:\n$p70")
    assert(!p70.contains("Exchange rangepartitioning"),
      s"global sort in the resample:\n$p70")
  }

  test("GRPO advantage (d85): ONE group-key exchange, no range sort") {
    // Preference.groupAdvantage's scale claim: the corpus moves once
    // (hash on the group key for the three window sums); everything
    // after is projection. A join-back implementation would show a
    // second exchange here.
    val (h, r, _) = exchangeCounts(finalPlanOf("d85_grpo_advantage"))
    assert(h == 1 && r == 0,
      s"expected exactly one hash exchange, no range: h=$h r=$r")
  }

  test("PR sweep (d87): corpus folds to the histogram once; thresholds " +
      "join broadcast") {
    // Prep.thresholdSweep's scale claim: one corpus-sized aggregation to
    // the 21-bucket histogram, then the 21x21 triangle join runs on
    // broadcast aggregates — the corpus is never scanned per threshold.
    val plan = finalPlanOf("d87_quality_pr_sweep")
    val (h, r, _) = exchangeCounts(plan)
    assert(h <= 2 && r == 0,
      s"expected histogram + tiny threshold exchanges only: h=$h r=$r:\n$plan")
    assert(plan.contains("BroadcastExchange"),
      s"threshold sweep must join the broadcast histogram:\n$plan")
  }

  test("rater kappa (d84): aggregation tree only — no range sort anywhere") {
    val (_, r, _) = exchangeCounts(finalPlanOf("d84_rater_kappa"))
    assert(r == 0, s"unexpected range exchange in d84: r=$r")
  }

  test("SFT assembly (d89): ONE conversation-key exchange, no range sort") {
    val (h, r, _) = exchangeCounts(finalPlanOf("d89_sft_examples"))
    assert(h == 1 && r == 0,
      s"expected one hash exchange (the convo window), no range: h=$h r=$r")
  }

  test("perceptual-hash dedup (m06): codec work is per-row; the only " +
      "exchange is the hash-bucket count") {
    val (h, r, _) = exchangeCounts(finalPlanOf("m06_phash_dedup"))
    assert(h == 1 && r == 0,
      s"expected one hash exchange (the bucket window), no range: h=$h r=$r")
  }

  test("video phash dedup (m15): codec work is per-row; the only " +
      "exchange is the hash-bucket count — never pairwise frames") {
    val (h, r, _) = exchangeCounts(finalPlanOf("m15_video_phash_dedup"))
    assert(h == 1 && r == 0,
      s"expected one hash exchange (the bucket window), no range: h=$h r=$r")
  }

  test("video gate (m16): fused codec pass is projection-only — ZERO " +
      "exchanges, one corpus scan, no join") {
    // encode/decode/moments/motion ride one mapPartitions carrying
    // source AND variant; any exchange means the fusion regressed
    val plan = finalPlanOf("m16_video_quality_gate")
    val (h, r, sp) = exchangeCounts(plan)
    assert(h == 0 && r == 0 && sp == 0,
      s"expected a projection-only plan: h=$h r=$r single=$sp\n$plan")
    val scans = plan.linesIterator.count(_.contains("Scan parquet"))
    assert(scans == 1, s"expected one corpus scan:\n$plan")
  }

  test("streaming video gate (s23): ONE source-key exchange over the " +
      "fused gate rows") {
    val plan = finalPlanOf("s23_stream_video_gate")
    val (h, r, _) = exchangeCounts(plan)
    assert(h == 1 && r == 0,
      s"expected one hash exchange (the source rollup), no range: h=$h r=$r")
  }

  test("cross-modal family (c05/c07/c08): candidates ride the bucket " +
      "equi-join — never a cartesian, even with the distractor corpus") {
    // c08's additional claim rides the same pin: its edges are FILTERED
    // candidates from this join (the exact-parallel test), so no
    // cartesian here means no all-pairs edge generation anywhere
    Seq("c05_crossmodal_pairs", "c07_crossmodal_recall",
        "c08_crossmodal_dedup", "c09_dedup_then_recall").foreach { q =>
      val plan = finalPlanOf(q)
      assert(!plan.contains("CartesianProduct")
          && !plan.contains("BroadcastNestedLoopJoin"),
        s"$q: pair generation must be the bucket equi-join, not " +
          s"all-pairs:\n$plan")
      val (_, r, _) = exchangeCounts(plan)
      assert(r == 0, s"$q: unexpected range exchange: r=$r")
    }
  }

  test("streaming ingest dedup (s24): candidates ride the bucket " +
      "equi-join (semi), never a cartesian; one rollup exchange family") {
    val plan = finalPlanOf("s24_stream_ingest_dedup")
    assert(!plan.contains("CartesianProduct")
        && !plan.contains("BroadcastNestedLoopJoin"),
      s"dup check must be the bucket equi-join:\n$plan")
    val (_, r, _) = exchangeCounts(plan)
    assert(r == 0, s"unexpected range exchange in the ingest gate: r=$r")
  }

  test("index maintenance (s25): gate anti-join and serving join both " +
      "ride the bucket equi-key, never a cartesian") {
    // the compound join conditions (bucket equality AND the
    // exact-parallel integer test) must plan as equi-joins on the
    // bucket key with the parallel test as a post-join filter — a
    // planner regression to a nested loop would be the 100 TB killer
    val plan = finalPlanOf("s25_index_maintenance")
    assert(!plan.contains("CartesianProduct")
        && !plan.contains("BroadcastNestedLoopJoin"),
      s"gate/serving must be bucket equi-joins:\n$plan")
    val (_, r, _) = exchangeCounts(plan)
    assert(r == 0, s"unexpected range exchange in index maintenance: r=$r")
  }

  test("video VLM pack (m17): per-clip codec summary — frame rows never " +
      "exist, the pack window is the only required exchange") {
    val plan = finalPlanOf("m17_video_vlm_pack")
    assert(!plan.contains("CartesianProduct")
        && !plan.contains("BroadcastNestedLoopJoin"), s"all-pairs:\n$plan")
    val (h, r, _) = exchangeCounts(plan)
    // the strip summary is fused to one row per clip inside
    // mapPartitions, so every exchanged row is clip-grain: the pack
    // window's (source, shard) exchange, plus at most the doc-keyed
    // join's pair when AQE doesn't broadcast the summary side
    assert(r == 0, s"unexpected range exchange: r=$r\n$plan")
    assert(h <= 3, s"more exchanges than the pack shape needs: h=$h\n$plan")
  }

  test("RAG pack (d90): broadcast query bag + winner set; no range sort") {
    val plan = finalPlanOf("d90_rag_context")
    val (_, r, _) = exchangeCounts(plan)
    assert(r == 0, s"unexpected range exchange in the RAG pack: r=$r")
    assert(plan.contains("BroadcastExchange"),
      s"query bag / winner set must broadcast:\n$plan")
  }

  test("nearestCentroid broadcasts centroids; vectors shuffle once for the argmin") {
    // e21's scale claim: the corpus side fans out x |labels| MAP-SIDE
    // (broadcast nested-loop against the labels-row centroid table) and
    // collapses through the id-keyed argmin aggregation — the vector
    // table itself is never hash-exchanged pre-join (only centroid
    // construction and the argmin move data).
    val df = graft.ops.Similarity.nearestCentroid(
      Tables.embeddings(spark, sf), "vec_id", "embedding", "label")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"centroids not broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"unbroadcast cartesian in the centroid fan-out:\n$plan")
  }

  test("PSI drift (d96): corpus folds to the (group, bucket) grid once; " +
      "no range sort") {
    // Prep.psiDrift's scale claim: ONE corpus-sized hash aggregation to
    // the counts table; the dense spine, totals and PSI windows all run
    // on the |groups|×buckets grid. Extra hash exchanges here are
    // grid-sized (spine distinct/join/window), so the pin is on the
    // ABSENCE of any range sort and of a second corpus aggregation
    // shape: the union input appears in exactly two scan branches.
    val plan = finalPlanOf("d96_psi_drift")
    val (_, r, _) = exchangeCounts(plan)
    assert(r == 0, s"range sort in PSI plan:\n$plan")
    val scans = plan.linesIterator.count(_.contains("Scan parquet"))
    assert(scans <= 3, s"more corpus scans than the A/B union + spine:\n$plan")
  }

  test("best-of-n (d97): ONE group-key exchange feeds window and " +
      "aggregates; no range sort") {
    // the registered query localCheckpoints the ranked frame, so probe
    // the REAL pre-checkpoint builder (QueriesCurate.bestOfNRanked —
    // the exact frame d97 checkpoints): one hash exchange on grp, the
    // per-group ordering is the window's partition-local sort. A shuffle
    // or global sort slipped into d97's ranking now fails this pin.
    val ranked = QueriesCurate.bestOfNRanked(spark, sf)
    ranked.collect()
    val (h, r, _) = exchangeCounts(
      ranked.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head)
    assert(h == 1 && r == 0, s"expected one hash exchange: h=$h r=$r")
  }

  test("Heaps growth (d98): no global range sort — per-source order " +
      "lives in window-local sorts; checkpoints broadcast") {
    val plan = finalPlanOf("d98_heaps_law")
    val (_, r, _) = exchangeCounts(plan)
    assert(r == 0, s"global range sort in d98 plan:\n$plan")
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastNestedLoopJoin"),
      s"checkpoint table not broadcast:\n$plan")
  }

  test("DP release (d99/s17): ONE corpus aggregation, noise is pure " +
      "projection") {
    val (h, r, _) = exchangeCounts(finalPlanOf("d99_dp_release"))
    assert(h == 1 && r == 0,
      s"expected exactly one hash exchange, no range: h=$h r=$r")
  }

  test("max dup spans (d102): no global range sort — islands and rebuild " +
      "run in window-local sorts; no pair join") {
    // the suffix-window compare is a groupBy on the window key (never a
    // self-join) and the islands/rebuild windows partition by doc: a
    // range exchange here means a global sort slipped into the ordering.
    val plan = finalPlanOf("d102_max_dup_spans")
    val (_, r, _) = exchangeCounts(plan)
    assert(r == 0, s"global range sort in d102 plan:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"pair-join shape in the substring dedup:\n$plan")
  }

  test("audio gate (m08): fused codec pass is projection-only — ZERO " +
      "exchanges, one corpus scan, no join") {
    // the fused encode/decode/moments mapPartitions carries the source
    // key, so the gate never joins back to the corpus: any exchange here
    // means the fusion regressed to the join shape.
    val plan = finalPlanOf("m08_audio_quality_gate")
    val (h, r, sp) = exchangeCounts(plan)
    assert(h == 0 && r == 0 && sp == 0,
      s"expected a projection-only plan: h=$h r=$r single=$sp\n$plan")
    val scans = plan.linesIterator.count(_.contains("Scan parquet"))
    assert(scans == 1, s"expected one corpus scan:\n$plan")
  }

  test("streaming audio gate (s18): ONE source-key exchange over the " +
      "fused codec pass") {
    val plan = finalPlanOf("s18_stream_audio_gate")
    val (h, r, _) = exchangeCounts(plan)
    assert(h == 1 && r == 0,
      s"expected one hash exchange, no range sort: h=$h r=$r\n$plan")
  }

  test("streaming quantile sketch (s20): ONE group-key exchange, " +
      "projection-only extraction — no window, no second aggregate") {
    // the complete-mode contract: everything after the keyed aggregate
    // must be a map, or the streaming twin stops being the same plan
    val plan = finalPlanOf("s20_stream_quantiles")
    val (h, r, _) = exchangeCounts(plan)
    assert(h == 1 && r == 0,
      s"expected one hash exchange, no range sort: h=$h r=$r\n$plan")
    assert(!plan.contains("Window"), s"unexpected window:\n$plan")
  }

  test("windowed quantile sketch (s21): ONE window-key exchange, " +
      "projection-only extraction — the s20 contract per window") {
    val plan = finalPlanOf("s21_windowed_quantiles")
    val (h, r, _) = exchangeCounts(plan)
    assert(h == 1 && r == 0,
      s"expected one hash exchange, no range sort: h=$h r=$r\n$plan")
    assert(!plan.contains("Window "), s"unexpected window operator:\n$plan")
  }

  test("calibration curve (d100): scores fold off the checkpointed fit " +
      "in ONE grid aggregation — no corpus re-scan, no range sort") {
    // the memoized d95 fit localCheckpoints the feature frame, so the
    // curve must read THAT (no parquet scan of documents) and collapse
    // to the 20-cell grid through a single hash exchange.
    val plan = finalPlanOf("d100_calibration")
    val (h, r, _) = exchangeCounts(plan)
    assert(h == 1 && r == 0,
      s"expected one hash exchange, no range sort: h=$h r=$r\n$plan")
    val scans = plan.linesIterator.count(_.contains("Scan parquet"))
    assert(scans == 0, s"corpus re-scan beside the checkpointed fit:\n$plan")
  }

  test("influence (d101): pure per-doc projection over the checkpointed " +
      "fit — ZERO exchanges, no join, no corpus re-scan") {
    // the target-slice mean gradient rides in as collected literals
    // (the broadcast-scalar pattern), so the published frame is a
    // projection of the checkpoint: any exchange or parquet scan means
    // the query regressed to a join or a corpus re-read.
    val plan = finalPlanOf("d101_influence")
    val (h, r, sp) = exchangeCounts(plan)
    assert(h == 0 && r == 0 && sp == 0,
      s"expected a projection-only plan: h=$h r=$r single=$sp\n$plan")
    val scans = plan.linesIterator.count(_.contains("Scan parquet"))
    assert(scans == 0, s"corpus re-scan beside the checkpointed fit:\n$plan")
  }

  test("quantile sketch (d103): two scans (sketch + exact audit), no " +
      "range exchange, no global sort") {
    // the sketch side is one group-keyed aggregate of 64 min(struct)
    // partials — a zipWithIndex/orderBy regression would surface as a
    // rangepartitioning exchange; the only windows allowed are over the
    // 64-row sample and the exact walk's distinct-value table, never a
    // row-level sort of the raw events
    val plan = finalPlanOf("d103_quantile_sketch")
    val (_, r, _) = exchangeCounts(plan)
    assert(r == 0, s"unexpected range exchange (global sort):\n$plan")
    // 1 sketch-side scan + 2 from the exact audit (exactGroupQuantiles
    // references its distinct-value table twice — the q64/q67-established
    // shape; the production form drops the exact side -> 1 scan total)
    val scans = plan.linesIterator.count(_.contains("Scan parquet"))
    assert(scans == 3, s"expected sketch + exact-audit scans only:\n$plan")
  }

  test("batch-pad resampling (q91): one distinct exchange + one 1-row " +
      "aggregate — no sort, no window, no global index") {
    // U3's scale shape: the 32 slot winners come from ONE pass of
    // min(struct(hash, key)) partial aggregates. A row_number/zipWithIndex
    // regression would show up as a rangepartitioning exchange or a Sort;
    // the only allowed shuffles are the distinct's hash exchange and the
    // single-partition gather of the 1-row aggregate.
    val plan = finalPlanOf("q91_batch_pad")
    val (h, r, sp) = exchangeCounts(plan)
    assert(h == 1 && r == 0 && sp <= 1,
      s"expected distinct + 1-row agg only: h=$h r=$r single=$sp\n$plan")
    assert(!plan.contains("Window"), s"unexpected window:\n$plan")
    val scans = plan.linesIterator.count(_.contains("Scan parquet"))
    assert(scans == 1, s"expected exactly one events scan:\n$plan")
  }
}
