package graft.functions

import graft.SparkSpec
import org.apache.spark.unsafe.types.UTF8String

/** Native jaro_winkler expression: values pinned against DuckDB's
  * jaro_winkler_similarity (driver-side probe, 10-digit agreement), the
  * classic-algorithm edge cases, codegen path, and SQL registration. */
class JaroWinklerSpec extends SparkSpec {
  import spark.implicits._

  private def jw(a: String, b: String): Double =
    JaroWinkler.similarity(UTF8String.fromString(a),
      UTF8String.fromString(b))

  test("matches DuckDB jaro_winkler_similarity on the pinned cases") {
    // right-hand values are DuckDB's outputs, probed at build time
    val pinned = Seq(
      ("MARTHA", "MARHTA", 0.9611111111),       // 1 transposition, l=3
      ("DIXON", "DICKSONX", 0.8133333333),      // uneven lengths, l=2
      ("JELLYFISH", "SMELLYFISH", 0.8962962963),// j>0.7 but prefix 0
      ("DWAYNE", "DUANE", 0.8400000000),
      ("CRATE", "TRACE", 0.7333333333),         // boosted? no — prefix 0
      ("abcdef", "abzzzz", 0.5555555556),       // j<=0.7: NO prefix boost
      ("ab", "abzzzzzzzz", 0.7866666667),       // j>0.7: boosted, l=2
      ("PREFIX_LONG_COMMON", "PREFIX_LONG_COMMOX", 0.9777777778), // l cap 4
      ("Jon", "John", 0.9333333333),
      ("aaaaaab", "aaaaaba", 0.9714285714),
      // 3-cycle: ODD mismatch count -> floor(3/2) = 1 transposition
      ("ABCVWXYZ", "CABVWXYZ", 0.9583333333))
    pinned.foreach { case (a, b, want) =>
      assert(math.abs(jw(a, b) - want) < 1e-9, s"jw($a, $b) = ${jw(a, b)}")
    }
  }

  test("edge cases: empties, window 0, no matches, identity") {
    assert(jw("", "") == 0.0)       // DuckDB convention: empty -> 0
    assert(jw("", "abc") == 0.0)
    assert(jw("ab", "ba") == 0.0)   // window max(1,0)-1=0: no cross match
    assert(jw("x", "y") == 0.0)
    assert(jw("AL", "AL") == 1.0)
    assert(jw("abcdefgh", "abcdefgh") == 1.0)
  }

  test("codegen and interpreted paths agree; SQL registration works") {
    val df = Seq(("MARTHA", "MARHTA"), ("DIXON", "DICKSONX"),
      ("", ""), ("CRATE", "TRACE")).toDF("a", "b")
    val viaCol = df.select(JaroWinkler($"a", $"b")).as[Double].collect()
    assert(viaCol.zip(Seq(0.9611111111, 0.8133333333, 0.0, 0.7333333333))
      .forall { case (g, w) => math.abs(g - w) < 1e-9 })
    GraftExtensions.register(spark)
    df.createOrReplaceTempView("jw_in")
    val viaSql = spark.sql("SELECT jaro_winkler(a, b) FROM jw_in")
      .as[Double].collect()
    assert(viaSql.toSeq == viaCol.toSeq)
    // null semantics: null input -> null out
    val n = Seq((Option.empty[String], Some("x"))).toDF("a", "b")
      .select(JaroWinkler($"a", $"b")).collect()
    assert(n(0).isNullAt(0))
  }
}
