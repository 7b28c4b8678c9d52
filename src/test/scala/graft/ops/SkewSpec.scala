package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SkewSpec extends SparkSpec {
  import spark.implicits._

  test("saltedStats equals the unsalted aggregation") {
    val rows = (1 to 500).map(i => (if (i % 10 == 0) 2L else 1L, i.toDouble))
    val df = rows.toDF("k", "v")
    val salted = Skew.saltedStats(df, "k", "v", saltOn = $"v", salts = 8)
      .orderBy("k").collect()
    val plain = df.groupBy("k").agg(sum($"v"), count($"v"), min($"v"),
      max($"v"), avg($"v")).orderBy("k").collect()
    salted.zip(plain).foreach { case (s, p) =>
      assert(s.getDouble(1) == p.getDouble(1))          // sum
      assert(s.getLong(2) == p.getLong(2))              // count
      assert(s.getDouble(3) == p.getDouble(3))          // min
      assert(s.getDouble(4) == p.getDouble(4))          // max
      assert(math.abs(s.getDouble(5) - p.getDouble(5)) < 1e-9) // avg
    }
  }

  test("saltedJoin is row-identical to the plain join and shuffles (no broadcast)") {
    // 90% of the big side lands on one hot key — the shape salting exists for
    val big = (1 to 1000)
      .map(i => (i.toLong, if (i % 10 == 0) i.toLong % 7 else 99L))
      .toDF("id", "k")
    val small = Seq((99L, "hot"), (0L, "a"), (1L, "b"), (2L, "c"),
      (3L, "d"), (4L, "e"), (5L, "f"), (6L, "g")).toDF("k", "tag")
    val salted = Skew.saltedJoin(big, small, "k", saltOn = $"id", salts = 8)
      .select("id", "k", "tag")
    val plain = big.join(small, Seq("k")).select("id", "k", "tag")
    assert(salted.count() == 1000)
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
    val planStr = salted.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!planStr.contains("BroadcastHashJoin"),
      s"salted join was broadcast — salting demonstrates the shuffle path:\n$planStr")
  }

  test("salt is deterministic and bounded") {
    val df = (1 to 100).map(_.toDouble).toDF("v")
    val a = df.select(Skew.salt($"v", 8)).as[Int].collect()
    val b = df.select(Skew.salt($"v", 8)).as[Int].collect()
    assert(a.toSeq == b.toSeq)
    assert(a.forall(s => s >= 0 && s < 8))
  }

  test("AQE splits a skewed join partition at runtime (skew=true)") {
    // the RUNTIME complement to saltedJoin's plan-level answer: with AQE
    // skew handling on and test-sized thresholds, a join whose hot key
    // owns ~90% of one side must come back with the skewed partition
    // split (the SMJ node reports skew=true) — no manual salting in the
    // query. Production keeps the default 256 MB threshold; the lowered
    // values only scale the demo to spec-sized data.
    val conf = spark.conf
    val saved = Seq("spark.sql.adaptive.enabled",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.shuffle.partitions")
      .map(k => k -> conf.getOption(k)).toMap
    try {
      // enough partitions that the median is an un-skewed one — with the
      // suite's 2, the hot partition IS the median and never flags
      conf.set("spark.sql.shuffle.partitions", "8")
      conf.set("spark.sql.adaptive.enabled", "true")
      conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "16KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
      conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      val hot = spark.range(60000).selectExpr(
        "CASE WHEN id % 10 < 9 THEN 0 ELSE id END AS k", "id AS v")
      val dim = spark.range(2000).selectExpr("id AS k", "id * 2 AS w")
      val joined = hot.join(dim, "k")
      // collect() drives THIS df's queryExecution — a noop write would
      // execute a separate instance and leave this plan isFinalPlan=false
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE did not split the skewed partition:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }
}
