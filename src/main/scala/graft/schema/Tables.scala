package graft.schema

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/**
 * Table loaders + declared schemas.
 *
 * The engine's primary event-series abstraction mirrors the reference's
 * `transactions` table (reference `model.py:208-212`: user_id, mcc_code,
 * currency_rk, transaction_amt, transaction_dttm). On the driver's testdata
 * the natural stand-in is `events` (user_id, ts, event_type, value) — see
 * FIXTURES.md §2 for the column mapping convention.
 *
 * Schemas are DECLARED, never inferred (reference declares dtypes at read
 * time, `model.py:212`); at 100 TB an inference pass over the input is an
 * extra full scan and a correctness hazard.
 */
object Tables {

  val all: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** The driver testdata ships each table as ONE parquet file with ONE row
    * group — an unsplittable scan, so every scan-side stage (regex, shingle
    * explode, map-side partial aggregation) would run on a single core of
    * local[32]. Repartition to the session parallelism when the scan comes
    * up short; the shuffled payload is tiny at test scale. A production
    * 100 TB input arrives as many splittable files and skips this branch
    * entirely. */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val raw = spark.read.parquet(s"$sfDir/$name.parquet")
    val target = math.min(spark.sparkContext.defaultParallelism, 16)
    // Estimate the scan's parallelism from driver-side file metadata
    // (files × sizes ÷ maxPartitionBytes) instead of probing
    // `raw.rdd.getNumPartitions`, which instantiates the RDD lineage at
    // planning time on every load. The estimate matches the real split
    // count for splittable parquet to within row-group granularity —
    // plenty for a "is this scan starved" branch.
    val maxPart = spark.sessionState.conf.filesMaxPartitionBytes.max(1L)
    val conf = spark.sessionState.newHadoopConf()
    val estParts = raw.inputFiles.map { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      val len = p.getFileSystem(conf).getFileStatus(p).getLen
      ((len + maxPart - 1) / maxPart).max(1L)
    }.sum
    if (estParts < target) raw.repartition(target) else raw
  }

  /** The events parquet's `ts` physical encoding has drifted across driver
    * testdata generations, so normalize by DECLARED TYPE, not by vintage:
    *
    *  - INT64 TIMESTAMP(NANOS): Spark 4 rejects it unless nanos are read as
    *    raw longs (`nanosAsLong`). Convert with integer division
    *    (`DIV 1000`) — a double division at 1.7e18 ns magnitude is above
    *    2^53 and would corrupt the microseconds. Sub-microsecond parts in
    *    the testdata are zero (verified), so this is lossless.
    *  - timestamp[us] WITHOUT timezone: Spark 4 reads TIMESTAMP_NTZ, which
    *    `unix_micros` / window rebasing reject. Sessions here pin
    *    `spark.sql.session.timeZone=UTC`, so casting NTZ→TIMESTAMP maps the
    *    wall clock to the identical epoch instant the nanos path produced
    *    (and the same naive value DuckDB's oracle sees).
    *
    * Anything else (already TIMESTAMP) passes through. Every other column is
    * untouched. `TestdataSchemaSpec` reads the real driver files so the next
    * encoding drift fails `sbt test` instead of failing the round. */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(spark, sfDir, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts",
          org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr("ts DIV 1000")))
      case TimestampNTZType =>
        raw.withColumn("ts", raw("ts").cast(TimestampType))
      case _ => raw
    }
  }
  def lineitem(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "orders")
  def customer(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "customer")
  def nation(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "region")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "part")
  def documents(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "embeddings")

  /** Fixed event-type vocabulary — the closed-world column list of the
    * driver testdata, mirroring the reference's hardcoded MCC vocabularies
    * (`run.py:105,243`): pivots/one-hots project to this list and zero-fill,
    * so unseen categories are dropped and absent ones become zero columns.
    * Passing the list to `pivot(col, values)` also skips Spark's extra
    * distinct-values job — one fewer scan at 100 TB. */
  val eventTypeVocab: Seq[String] = Seq("click", "error", "purchase", "signup", "view")

  /** Reference input schema (`model.py:208-212`), for CSV ingestion parity
    * (operator S1). */
  val transactionsSchema: StructType = StructType(Seq(
    StructField("user_id", LongType, nullable = false),
    StructField("mcc_code", LongType, nullable = true),
    StructField("currency_rk", LongType, nullable = true),
    StructField("transaction_amt", DoubleType, nullable = true),
    StructField("transaction_dttm", TimestampType, nullable = true)))

  /** S1: CSV scan with declared schema + timestamp parsing
    * (`model.py:208-212`, `run.py:29,90`). The input contract fails loudly
    * rather than mis-score quietly: a value that does not parse as its
    * declared type fails the read (`FAILFAST`), and so does a missing
    * `user_id`, checked inside the same projection (no extra job). Other
    * empty fields read as null, which the pipelines' dropna/cleaning
    * handles (e.g. a user without `currency_rk`). */
  def readTransactionsCsv(spark: SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, raise_error, when}
    spark.read
      .schema(transactionsSchema)
      .option("header", "true")
      .option("mode", "FAILFAST")
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
      .csv(path)
      .withColumn("user_id", when(col("user_id").isNull,
        raise_error(lit(s"transactions CSV row without user_id: $path")))
        .otherwise(col("user_id")))
  }

  /** JSONL (newline-delimited JSON) sink — the interchange format training
    * corpora actually ship in. One JSON object per line; splittable,
    * append-friendly, schema-on-read. */
  def writeJsonl(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  /** JSONL scan with DECLARED schema (columns matched by name) — no
    * inference pass, same policy as every other source here. */
  def readJsonl(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** ORC sink/scan — the second columnar format next to parquet; both
    * carry Spark's predicate pushdown and column pruning. */
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)
  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** Avro source/sink — the Kafka-ecosystem row format. Spark 4 bundles
    * `AvroFileFormat` in the sql jar but does NOT service-register the
    * "avro" alias (the registry error suggests the external module), so
    * the format is addressed by class name — same engine code path.
    * Doubles/longs/strings round-trip bit-exactly; keep timestamps out
    * of the payload (Avro's logical-type micros lose the NTZ zone
    * convention this repo pins elsewhere). */
  private val AvroFormat = "org.apache.spark.sql.avro.AvroFileFormat"
  def writeAvro(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").format(AvroFormat).save(path)
  def readAvro(spark: SparkSession, path: String): DataFrame =
    spark.read.format(AvroFormat).load(path)

  /** XML source/sink (built-in since Spark 4; service-registered). The
    * read declares the schema — XML carries no types, and inference
    * would cost an extra pass AND could drift (a column of digit-like
    * strings infers numeric). Writer escapes &<> so text round-trips. */
  def writeXml(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("rowTag", "row").format("xml")
      .save(path)
  def readXml(spark: SparkSession, path: String,
              schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.option("rowTag", "row").schema(schema).format("xml")
      .load(path)

  /** S2: CSV sink, header, no index column (`run.py:85,486`), timestamps in
    * the reference's format so S1 can re-read what S2 wrote. `coalesce(1)`
    * only when a single file is demanded (submission-style outputs); at scale
    * leave partitioned. */
  def writeCsv(df: DataFrame, path: String, singleFile: Boolean = false): Unit = {
    val out = if (singleFile) df.coalesce(1) else df
    out.write.mode("overwrite")
      .option("header", "true")
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
      .csv(path)
  }
}
