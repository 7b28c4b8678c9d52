package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** DSIR importance-resampling selection (ops/Dsir.scala): hashed-n-gram
  * feature counting, target-vs-raw log-ratio model, per-doc weights, and
  * the content-addressed Gumbel-top-k draw. */
class DsirSpec extends SparkSpec {
  import spark.implicits._

  private val B = 32

  test("bucketCounts counts the unigram+bigram MULTISET") {
    val df = Seq((1L, "a a b")).toDF("doc_id", "text")
    // features: unigrams a,a,b + bigrams "a a","a b" = 5 occurrences
    val c = Dsir.bucketCounts(df, "doc_id", "text", B)
    assert(c.agg(sum("c")).head().getLong(0) == 5L)
    // "a" occurs twice and lands in ONE bucket with c >= 2
    assert(c.filter($"c" >= 2).count() >= 1)
  }

  test("logWeights ranks target-like docs above off-domain docs") {
    // target domain: cooking text; raw corpus: two cooking docs, two
    // finance docs, one mixed. The finance docs must score below the
    // cooking docs under a cooking-fit p.
    val raw = Seq(
      (1L, "simmer the onion butter sauce until golden then season"),
      (2L, "whisk flour butter sugar and bake the golden pastry"),
      (3L, "quarterly revenue margin guidance beat analyst estimates"),
      (4L, "bond yield curve inversion signals recession risk ahead"),
      (5L, "simmer revenue butter margin sauce estimates"))
      .toDF("doc_id", "text")
    val tgt = Seq(
      (101L, "melt butter simmer onion sauce season golden brown"),
      (102L, "bake pastry flour sugar butter golden crust"))
      .toDF("doc_id", "text")
    // B large enough that hash collisions between this tiny vocabulary's
    // features are rare — at production B (10k) the same holds for real
    // vocabularies relative to their size
    val bb = 256
    val w = Dsir.logWeights(
      Dsir.bucketCounts(raw, "doc_id", "text", bb),
      Dsir.logRatios(Dsir.bucketCounts(tgt, "doc_id", "text", bb),
        Dsir.bucketCounts(raw, "doc_id", "text", bb), bb))
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(w.size == 5)
    val cook = Seq(1L, 2L).map(w); val fin = Seq(3L, 4L).map(w)
    assert(cook.sum / 2 > fin.sum / 2,
      s"cooking docs $cook must outscore finance docs $fin on average")
    assert(w.maxBy(_._2)._1 == 1L || w.maxBy(_._2)._1 == 2L,
      s"the best-scored doc must be a cooking doc: $w")
  }

  test("gumbel noise is content-addressed: finite, reproducible, salted") {
    val ids = spark.range(0, 2000).select($"id")
    val g1 = ids.select(Dsir.gumbel($"id", "s1").as("g")).as[Double].collect()
    val g2 = ids.select(Dsir.gumbel($"id", "s1").as("g")).as[Double].collect()
    val g3 = ids.select(Dsir.gumbel($"id", "s2").as("g")).as[Double].collect()
    assert(g1.forall(v => !v.isNaN && !v.isInfinite))
    assert(g1.sameElements(g2))      // pure function of (id, salt)
    assert(!g1.sameElements(g3))     // salt actually changes the draw
    // Gumbel(0,1) sanity: mean ≈ Euler–Mascheroni 0.5772 on 2k draws
    val mean = g1.sum / g1.length
    assert(math.abs(mean - 0.5772) < 0.15, s"mean $mean far from 0.577")
  }

  test("gumbelTopK is a weight-biased draw, deterministic given the salt") {
    val w = Seq.tabulate(50)(i =>
      (i.toLong, 10L, if (i < 10) 2.0 else -2.0)) // 10 heavy, 40 light
      .toDF("doc", "n_feats", "logw")
    val pick = Dsir.gumbelTopK(w, 10, "sel")
    val ids = pick.select("doc").as[Long].collect().toSet
    assert(ids.size == 10)
    // logw gap of 4 nats dominates typical Gumbel noise: most (not
    // necessarily all) picks come from the heavy decile
    assert(ids.count(_ < 10L) >= 7, s"picked $ids")
    // rank is a total order: 1..k, score desc
    val ranks = pick.select("rank").as[Int].collect().sorted
    assert(ranks.sameElements(1 to 10))
    val again = Dsir.gumbelTopK(w, 10, "sel").select("doc")
      .as[Long].collect().toSet
    assert(again == ids)
  }
}
