package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.schema.Tables

/** Synthetic 10x scale-up of the driver testdata, for the measured scaling
  * curve in SCALE.md: every 100 TB claim in this repo is plan-shape
  * evidence at sf0.1; this fixture lets `graft.Bench` measure how each
  * query family actually scales one decade up.
  *
  * Construction (usage: `runMain graft.ScaleData [srcSf] [outDir] [copies]`):
  *  - fact tables (events, documents, embeddings, lineitem, orders,
  *    customer) are unioned `copies` times with entity keys shifted by
  *    a 1e9 stride per copy — disjoint users/docs/orders, so per-key
  *    group sizes and join fan-outs stay REALISTIC (10x more groups, not
  *    10x bigger groups);
  *  - referential integrity is preserved within a copy (o_orderkey and
  *    l_orderkey shift together, o_custkey with c_custkey);
  *  - document text is decorrelated PER TOKEN per copy (every token gets
  *    a copy tag), so each copy contributes the original's shingle/pair
  *    structure over a disjoint vocabulary — 10 independent corpus
  *    shards, the realistic scaling model. (A first cut suffixed only
  *    the document END; that left every doc 9 near-clones and inflated
  *    every pair-generating dedup query quadratically — d35's LSH
  *    candidates went 128x for 10x data. Measured, then fixed here.);
  *  - dimension tables (nation, region, supplier, part) stay fixed —
  *    star schemas scale the fact side;
  *  - output is written as 32 splittable files per table (the production
  *    shape — Tables.load's small-scan repartition crutch disables
  *    itself on these). */
object ScaleData {

  private val Stride = 1000000000L

  /** documents use a SMALLER per-copy stride (10⁷): the cross-modal
    * eval/ingest rows re-ID docs at -(id+1) / id+10⁹ / ... and GUARD
    * their input domain to [0, 10⁹) — with the fact-table stride the
    * copies would land on the re-ID offsets and the guard (correctly)
    * refuses to run. 10⁷ keeps up to 100 copies (the two-decades 100×
    * fixture) inside the domain while staying far above any per-copy
    * doc count. */
  private val DocStride = 10000000L

  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("target/scale/sf1")
    val copies = args.lift(2).map(_.toInt).getOrElse(10)
    // optional 4th arg: comma-separated table subset (e.g.
    // "documents,embeddings" for the cheap 100x cross-modal fixture)
    val tables = args.lift(3).map(_.split(",").map(_.trim).toSet)
    val spark = LocalSession()
    build(spark, src, out, copies, tables)
    spark.stop()
  }

  def build(spark: SparkSession, src: String, out: String,
            copies: Int, tables: Option[Set[String]] = None): Unit = {
    def wanted(name: String): Boolean = tables.forall(_.contains(name))
    // fail fast on the two silent ways DocStride can betray its domain
    // contract (doc_id ∈ [0, 10⁹), see DocStride scaladoc): more copies
    // than the stride can host, or a source corpus whose ids already
    // exceed one stride (e.g. rescaling an already-scaled dir) — either
    // would produce colliding/out-of-domain doc_ids that only surface
    // later inside the cross-modal queries' assert_true guard.
    require(copies.toLong * DocStride <= Stride,
      s"copies=$copies overflows the doc_id domain [0, $Stride): " +
        s"max ${Stride / DocStride} copies at stride $DocStride")
    if (wanted("documents")) {
      val maxId = Tables.documents(spark, src)
        .agg(max(col("doc_id"))).head().getLong(0)
      require(maxId < DocStride,
        s"source max doc_id $maxId >= stride $DocStride — is $src " +
          "already a scaled fixture? Rescale from the original testdata.")
    }
    def rep(df: DataFrame)(shift: (DataFrame, Long) => DataFrame): DataFrame =
      (0 until copies).map(i => shift(df, i.toLong * Stride))
        .reduce(_ unionByName _)
    def write(df: => DataFrame, name: String): Unit =
      if (wanted(name))
        df.repartition(32).write.mode("overwrite")
          .parquet(s"$out/$name.parquet")

    write(rep(Tables.events(spark, src)) { (d, s) =>
      d.withColumn("user_id", col("user_id") + s)
        .withColumn("event_id", col("event_id") + s)
    }, "events")

    write((0 until copies).map { i =>
      val d = Tables.documents(spark, src)
      val suffixed = if (i == 0) d.withColumn("_t", col("text"))
        else d.withColumn("_t", regexp_replace(col("text"),
          "(\\S+)", "$1x" + i))
      suffixed.withColumn("doc_id", col("doc_id") + i.toLong * DocStride)
        .withColumn("n_chars", length(col("_t")).cast("long"))
        .drop("text").withColumnRenamed("_t", "text")
        .select("doc_id", "text", "lang", "source", "n_chars")
    }.reduce(_ unionByName _), "documents")

    write(rep(Tables.embeddings(spark, src)) { (d, s) =>
      d.withColumn("vec_id", col("vec_id") + s)
    }, "embeddings")

    write(rep(Tables.lineitem(spark, src)) { (d, s) =>
      d.withColumn("l_orderkey", col("l_orderkey") + s)
    }, "lineitem")

    write(rep(Tables.orders(spark, src)) { (d, s) =>
      d.withColumn("o_orderkey", col("o_orderkey") + s)
        .withColumn("o_custkey", col("o_custkey") + s)
    }, "orders")

    write(rep(Tables.customer(spark, src)) { (d, s) =>
      d.withColumn("c_custkey", col("c_custkey") + s)
    }, "customer")

    Seq("nation", "region", "supplier", "part").foreach { t =>
      write(Tables.load(spark, src, t), t)
    }
  }
}
