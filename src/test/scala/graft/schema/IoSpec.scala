package graft.schema

import graft.SparkSpec
import java.nio.file.Files

/** S1/S2: CSV scan with declared schema + CSV sink round-trip
  * (reference model.py:208-212, run.py:85,486). */
class IoSpec extends SparkSpec {
  import spark.implicits._

  test("CSV round-trip: declared schema, timestamp parsing, header") {
    val dir = Files.createTempDirectory("graft-io").toFile
    val out = s"${dir.getAbsolutePath}/tx"
    val df = Seq(
      (1L, 5411L, 48L, -120.5, "2023-01-15 10:30:00"),
      (2L, 6011L, 60L, 3000.0, "2023-02-01 00:00:01"))
      .toDF("user_id", "mcc_code", "currency_rk", "transaction_amt", "ts")
      .withColumn("transaction_dttm",
        org.apache.spark.sql.functions.to_timestamp($"ts"))
      .drop("ts")
    Tables.writeCsv(df, out, singleFile = true)
    val back = Tables.readTransactionsCsv(spark, out)
    // CSV sources force nullable=true — compare names and types
    assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      Tables.transactionsSchema.fields.map(f => (f.name, f.dataType)).toSeq)
    val rows = back.orderBy("user_id")
      .select("user_id", "mcc_code", "transaction_amt")
      .as[(Long, Long, Double)].collect()
    assert(rows.toSeq == Seq((1L, 5411L, -120.5), (2L, 6011L, 3000.0)))
    val ts = back.orderBy("user_id")
      .select($"transaction_dttm".cast("string")).as[String].head()
    assert(ts == "2023-01-15 10:30:00")
  }

  test("JSON-lines and ORC round-trips preserve schema and values") {
    val dir = Files.createTempDirectory("graft-io3").toFile.getAbsolutePath
    val df = Seq((1L, "a", 1.5), (2L, "b", -2.0)).toDF("id", "s", "v")
    df.write.mode("overwrite").json(s"$dir/j")
    df.write.mode("overwrite").orc(s"$dir/o")
    val j = spark.read.schema(df.schema).json(s"$dir/j")
    val o = spark.read.orc(s"$dir/o")
    for (back <- Seq(j, o)) {
      assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
        df.schema.fields.map(f => (f.name, f.dataType)).toSeq)
      assert(back.orderBy("id").as[(Long, String, Double)].collect().toSeq ==
        Seq((1L, "a", 1.5), (2L, "b", -2.0)))
    }
  }

  test("Avro and XML round-trips preserve values, escaping, and edge floats") {
    val dir = Files.createTempDirectory("graft-io4").toFile.getAbsolutePath
    // XML's &<> escaping and Avro's binary doubles are the two risk
    // surfaces — plant both (markup-significant text; a negative, a
    // denormal-ish tiny and an exact-binary value)
    val df = Seq((1L, "a & <b> \"c\"", 1.5), (2L, "plain", -2.0),
      (3L, "x", 1.0e-300)).toDF("id", "s", "v")
    Tables.writeAvro(df, s"$dir/a")
    Tables.writeXml(df, s"$dir/x")
    val a = Tables.readAvro(spark, s"$dir/a")
    val x = Tables.readXml(spark, s"$dir/x", df.schema)
    for (back <- Seq(a, x)) {
      assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
        df.schema.fields.map(f => (f.name, f.dataType)).toSeq)
      assert(back.orderBy("id").as[(Long, String, Double)].collect().toSeq ==
        Seq((1L, "a & <b> \"c\"", 1.5), (2L, "plain", -2.0),
          (3L, "x", 1.0e-300)))
    }
  }

  test("declared schema fails fast on a malformed row; empty fields read as null") {
    val dir = Files.createTempDirectory("graft-io2")
    val header = "user_id,mcc_code,currency_rk,transaction_amt,transaction_dttm\n"
    val good = dir.resolve("good.csv")
    Files.writeString(good, header +
      "1,5411,48,12.5,2023-01-01 00:00:00\n" +
      "2,5411,,1.0,2023-01-01 00:00:00\n")
    val back = Tables.readTransactionsCsv(spark, good.toString)
    val curs = back.orderBy("user_id").select("currency_rk").collect()
      .map(r => Option(r.get(0)))
    assert(curs.toSeq == Seq(Some(48L), None))
    // reference drops such rows immediately after read (P1, model.py:214)
    assert(back.na.drop().count() == 1)
    val bad = dir.resolve("bad.csv")
    Files.writeString(bad, header +
      "1,5411,48,12.5,2023-01-01 00:00:00\n" +
      "2,notanumber,48,1.0,2023-01-01 00:00:00\n")
    val e = intercept[Exception](
      Tables.readTransactionsCsv(spark, bad.toString).collect())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("FAILFAST")), e)
  }
}
