package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Text-analysis + dedup + similarity operator specs: shingles, fingerprint
  * robustness, MinHash/LSH recall vs exact Jaccard, SimHash locality,
  * KNN correctness and LSH-ANN recall, multimodal stub determinism. */
class TextDedupSpec extends SparkSpec {
  import spark.implicits._

  test("tokens/shingles: regex tokens, word n-grams, short docs empty") {
    val df = Seq("The quick brown fox,  jumps!", "a b").toDF("text")
    val got = df.select(TextOps.shingles(TextOps.tokens($"text"), 3))
      .as[Seq[String]].collect()
    assert(got(0) == Seq("the quick brown", "quick brown fox",
      "brown fox jumps"))
    assert(got(1) == Seq.empty)
  }

  test("fingerprint is robust to case/punctuation/whitespace edits") {
    val df = Seq("Hello,  World!", "hello world", "hello  world.",
      "different doc").toDF("text")
    val fps = df.select(TextOps.fingerprint($"text")).as[String].collect()
    assert(fps(0) == fps(1) && fps(1) == fps(2))
    assert(fps(3) != fps(0))
  }

  test("exact dedup groups identical texts, keeps smallest id") {
    val df = Seq((1L, "same text"), (2L, "same text"), (3L, "other"))
      .toDF("doc_id", "text")
    val r = Dedup.exact(df, "doc_id", md5($"text")).orderBy("keep_id")
      .select("keep_id", "dup_count").as[(Long, Long)].collect()
    assert(r.toSeq == Seq((1L, 2L), (3L, 1L)))
  }

  test("jaccardPairs finds the overlapping pair with the exact score") {
    val a = "w1 w2 w3 w4 w5"            // shingles: 123,234,345
    val b = "w1 w2 w3 w4 zz"            // shingles: 123,234,34z
    val c = "x1 x2 x3 x4 x5"
    val df = Seq((1L, a), (2L, b), (3L, c)).toDF("doc_id", "text")
    val pairs = Dedup.jaccardPairs(df, "doc_id", "text", 3, 0.1)
      .as[(Long, Long, Double)].collect()
    assert(pairs.toSeq == Seq((1L, 2L, 0.5))) // 2 shared / 4 union
  }

  test("containmentPairs catches quote inclusion that Jaccard dilutes") {
    // doc 1 is wholly contained in doc 2 (a long doc quoting a short one):
    // containment(1 in 2) = 1.0 while jaccard = 3/10 misses a 0.5 bar
    val short_ = "w1 w2 w3 w4 w5" // 3 shingles, all inside long_
    val long_ = "w1 w2 w3 w4 w5 a b c d e f g h i j" // 13 shingles
    val other = "x1 x2 x3 x4 x5"
    val df = Seq((1L, short_), (2L, long_), (3L, other))
      .toDF("doc_id", "text")
    val pairs = Dedup.containmentPairs(df, "doc_id", "text", 3, 0.5)
      .as[(Long, Long, Double, Double)].collect()
    assert(pairs.toSeq == Seq((1L, 2L, 1.0, 0.230769)))
    assert(Dedup.jaccardPairs(df, "doc_id", "text", 3, 0.5).count() == 0)
  }

  test("exciseDupSpans keeps the first span occurrence, cuts the rest") {
    // docs 1 and 2 share the 3-token span "a b c"; doc 2 also repeats its
    // own "p q r" tail. First occurrence wins by (doc, pos): doc 1 keeps
    // "a b c"; doc 2 loses it, and keeps only the FIRST "p q r".
    val df = Seq(
      (1L, "a b c x y z"),
      (2L, "a b c p q r p q r"),
      (3L, "u v w u2 v2 w2")).toDF("doc_id", "text")
    val out = Dedup.exciseDupSpans(df, "doc_id", "text", k = 3)
      .orderBy("doc")
      .select("doc", "n_tokens", "n_excised", "clean_fp").collect()
    val fp = (s: String) => df.sparkSession.range(1)
      .select(md5(lit(s))).head().getString(0)
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      == Seq((1L, 6L, 0L), (2L, 9L, 6L), (3L, 6L, 0L)))
    assert(out(0).getString(3) == fp("a b c x y z")) // keeper untouched
    // doc 2: "a b c" cut (positions 0-2), second "p q r" cut (6-8);
    // note the repeated-span grams overlap ("q r p", "r p q" also occur
    // once each) — only grams occurring twice drive exclusion
    assert(out(1).getString(3) == fp("p q r"))
    assert(out(2).getString(3) == fp("u v w u2 v2 w2"))
  }

  test("exciseDupSpans enforces the packed-key position bound") {
    val df = Seq((1L, "a b c d e f"), (2L, "a b c d e f")).toDF("doc_id", "text")
    // positions 0..3 at k=3; posCap=4 admits them, posCap=3 must fail fast
    Dedup.exciseDupSpans(df, "doc_id", "text", k = 3, posCap = 4).collect()
    val e = intercept[Exception] {
      Dedup.exciseDupSpans(df, "doc_id", "text", k = 3, posCap = 3).collect()
    }
    assert(e.getMessage.contains("posCap"))
  }

  test("minhashLsh surfaces true near-duplicates with sane estimates") {
    val near1 = "alpha beta gamma delta epsilon zeta eta theta"
    val near2 = "alpha beta gamma delta epsilon zeta eta iota"
    val far = "one two three four five six seven eight"
    val df = Seq((1L, near1), (2L, near2), (3L, far)).toDF("doc_id", "text")
    val got = Dedup.minhashLsh(df, "doc_id", "text", n = 3, k = 16, bands = 8)
      .as[(Long, Long, Double)].collect().map(t => (t._1, t._2)).toSet
    assert(got.contains((1L, 2L)))
    assert(!got.contains((1L, 3L)) && !got.contains((2L, 3L)))
  }

  test("native MinHashSigs is bit-identical to the relational md5 min-agg") {
    import graft.functions.MinHashSigs.minhashSigs
    val df = Seq((1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five"),
      (3L, "alpha beta gamma"),
      (4L, "xy")) // < 3 tokens -> no shingles -> null signature
      .toDF("doc_id", "text")
    val k = 16
    val native = df.select($"doc_id",
        minhashSigs(array_distinct(
          TextOps.shingles(TextOps.tokens($"text"), 3)), k).as("sig"))
      .filter($"sig".isNotNull)
      .select($"doc_id" +: (0 until k).map(j =>
        element_at($"sig", j + 1).as(s"sig$j")): _*)
    val relational = Dedup.minhashSignatures(
        Dedup.docShingles(df, "doc_id", "text", 3), k)
      .withColumnRenamed("doc", "doc_id")
    assert(native.count() == 3) // doc 4 dropped, like the empty group
    assert(native.exceptAll(relational).isEmpty &&
      relational.exceptAll(native).isEmpty)
    // and the full LSH pipeline (native path) matches the explode path
    val nat = Dedup.minhashLsh(df, "doc_id", "text", 3, k, 4)
      .as[(Long, Long, Double)].collect().toSet
    val rel = Dedup.minhashLsh(df, "doc_id", "text", 3, k, 4,
        hashFamily = Dedup.md5Hash)
      .as[(Long, Long, Double)].collect().toSet
    assert(nat == rel)
  }

  test("minhashLsh with the production xxhash64 family finds the same pair") {
    // the md5 family exists for oracle replay; the codegen'd xxhash64
    // family is the production swap-in — same operator shape, and it must
    // surface the same true near-duplicates on this fixture
    val near1 = "alpha beta gamma delta epsilon zeta eta theta"
    val near2 = "alpha beta gamma delta epsilon zeta eta iota"
    val far = "one two three four five six seven eight"
    val df = Seq((1L, near1), (2L, near2), (3L, far)).toDF("doc_id", "text")
    val got = Dedup.minhashLsh(df, "doc_id", "text", n = 3, k = 16,
        bands = 8, hashFamily = Dedup.xxhashFamily)
      .as[(Long, Long, Double)].collect().map(t => (t._1, t._2)).toSet
    assert(got.contains((1L, 2L)))
    assert(!got.contains((1L, 3L)) && !got.contains((2L, 3L)))
  }

  test("semanticDedupKmeans: learned buckets, earlier-id drop, cross-bucket kept") {
    // two planted clusters (ids 1,3,5 and 2,4); 3 and 4 are near-copies
    // of 1 and 2 (dropped), 5 shares 1's bucket but is < threshold
    // similar (kept) — the within-bucket rule never sees across buckets
    val df = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Seq(0.0f, 1.0f, 0.0f, 0.0f)),
      (3L, Seq(0.98f, 0.01f, 0.0f, 0.0f)),
      (4L, Seq(0.01f, 0.99f, 0.0f, 0.0f)),
      (5L, Seq(0.6f, 0.0f, 0.8f, 0.0f))).toDF("id", "vec")
    val cents = Similarity.kmeansFit(df, k = 2, iters = 2, dims = 4)
    val out = Similarity.semanticDedupKmeans(df, threshold = 0.9, cents)
      .orderBy("id").select("id", "cid", "keep")
      .as[(Long, Int, Long)].collect()
    assert(out.map(t => t._1 -> t._3).toMap ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 0L, 4L -> 0L, 5L -> 1L))
    val cid = out.map(t => t._1 -> t._2).toMap
    assert(cid(1L) == cid(3L) && cid(1L) == cid(5L))
    assert(cid(2L) == cid(4L) && cid(2L) != cid(1L))
  }

  test("hot-band cap purges degenerate buckets; audit accounts for them") {
    // a 4-copy mass-duplicate pile (every band bucket it touches has
    // depth 4 — the degenerate case the cap exists for) plus one true
    // near-dup pair of distinct texts that must survive the purge
    val pileText = "copy of the very same boilerplate footer text"
    val pile = (1L to 4L).map(i => (i, pileText))
    val near = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta"),
      (11L, "alpha beta gamma delta epsilon zeta eta iota"))
    val df = (pile ++ near).toDF("doc_id", "text")
    val pilePairs = (for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)).toSet
    val uncapped = Dedup.minhashLsh(df, "doc_id", "text", 3, 16, 8)
      .as[(Long, Long, Double)].collect().map(t => (t._1, t._2)).toSet
    assert(pilePairs.subsetOf(uncapped)) // 6 quadratic pairs without the cap
    val capped = Dedup.minhashLsh(df, "doc_id", "text", 3, 16, 8,
      maxBandPostings = 3)
      .as[(Long, Long, Double)].collect().map(t => (t._1, t._2)).toSet
    assert(capped.contains((10L, 11L)))          // true near-dup survives
    assert(capped.intersect(pilePairs).isEmpty)  // pile routed to d01's pass
    // audit: in EVERY band the pile is one depth-4 hot key = C(4,2)=6 of
    // the band's pair slots, all removable by the cap
    val audit = Dedup.bandDepthAudit(df, "doc_id", "text", 3, 16, 8,
      hotCap = 3).collect()
    assert(audit.length == 8)
    audit.foreach { r =>
      assert(r.getAs[Long]("max_depth") == 4L)
      assert(r.getAs[Long]("n_hot_keys") == 1L)
      assert(r.getAs[Long]("hot_pair_slots") == 6L)
      assert(r.getAs[Long]("pair_slots") >= 6L)
    }
  }

  test("recommendBandCap: exact policy table, argmin cap per budget, " +
    "and the closed loop self-tunes the purge") {
    // depth-4 pile (4 identical docs: every one of the 8 bands gets one
    // depth-4 key = 6 pair slots) + depth-2 pile (2 identical docs: 8
    // depth-2 keys = 1 slot each) + distinct fillers (depth-1, 0 slots)
    // → histogram slots: 48 + 8 + 0 = 56 total, removed(c) stepping
    // 56 → 48 → 0 at caps 1 → 2 → 4
    val df = ((1L to 4L).map(i => (i, "copy of the very same footer text"))
      ++ Seq((20L, "alpha beta gamma delta epsilon zeta eta theta"),
             (21L, "alpha beta gamma delta epsilon zeta eta theta"))
      ++ Seq((30L, "nothing shared with anything else at all here"),
             (31L, "cooking pasta tonight with garlic and olive oil")))
      .toDF("doc_id", "text")
    def policy(pct: Int): Map[Long, (Long, Long, Long, Long)] =
      Dedup.recommendBandCap(df, "doc_id", "text", n = 3, k = 16,
        bands = 8, maxRemovedPct = pct)
        .as[(Long, Long, Long, Long, Long)].collect()
        .map(r => r._1 -> (r._2, r._3, r._4, r._5)).toMap
    val p20 = policy(20)
    // (keys_over, removed_pair_slots, total_pair_slots, recommended)
    assert(p20(1L) == ((16L, 56L, 56L, 0L)))
    assert(p20(2L) == ((8L, 48L, 56L, 0L)))
    assert(p20(4L) == ((0L, 0L, 56L, 1L)))   // only zero-removal fits 20%
    assert(policy(90)(2L)._4 == 1L)  // 48*100 <= 56*90: cap 2 is argmin
    assert(policy(100)(1L)._4 == 1L) // everything qualifies: smallest cap
    // closed loop at the 90% budget: cap 2 purges the depth-4 pile's
    // quadratic pairs while the depth-2 exact pair survives
    val cap90 = Dedup.recommendBandCap(df, "doc_id", "text", 3, 16, 8, 90)
      .filter($"recommended" === 1L).select($"cap").head().getLong(0).toInt
    assert(cap90 == 2)
    val pairs = Dedup.minhashLsh(df, "doc_id", "text", 3, 16, 8,
      maxBandPostings = cap90)
      .as[(Long, Long, Double)].collect().map(t => (t._1, t._2)).toSet
    assert(pairs.contains((20L, 21L)))
    val pilePairs = (for (a <- 1L to 4L; b <- (a + 1) to 4L)
      yield (a, b)).toSet
    assert(pairs.intersect(pilePairs).isEmpty)
  }

  test("simhash: near-identical docs land within small hamming distance") {
    val df = Seq(
      (1L, "spark engine query plan shuffle partition broadcast join"),
      (2L, "spark engine query plan shuffle partition broadcast agg"),
      (3L, "completely different words about cooking pasta tonight"))
      .toDF("doc_id", "text")
    val hashes = Dedup.simhash(df, "doc_id", "text", 32)
    val pairs = Dedup.simhashPairs(hashes, maxDist = 10, bits = 32)
      .as[(Long, Long, Long)].collect().map(t => (t._1, t._2)).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.contains((1L, 3L)))
  }

  test("dedupCorpus merges exact + near-dup clusters transitively") {
    // 1≈2 (near), 2≈3 (near), 4=5 (exact), 6 unique → clusters {1,2,3},
    // {4,5}, {6}; transitivity requires >1 propagation round
    val t1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val t2 = "alpha beta gamma delta epsilon zeta eta theta iota lambda"
    val t3 = "alpha beta gamma delta epsilon zeta eta theta mu lambda"
    val dup = "totally different content about pasta and cooking"
    val uniq = "nothing in common with anything else at all here"
    val df = Seq((1L, t1), (2L, t2), (3L, t3), (4L, dup), (5L, dup),
      (6L, uniq)).toDF("doc_id", "text")
    val labels = Dedup.dedupCorpus(df, "doc_id", "text", n = 3, k = 16,
      bands = 8, minEstJaccard = 0.3)
      .as[(Long, Long)].collect().toMap
    assert(labels(1L) == 1L && labels(2L) == 1L && labels(3L) == 1L)
    assert(labels(4L) == 4L && labels(5L) == 4L)
    assert(labels(6L) == 6L)
  }

  test("labelComponents: a diameter-63 chain converges to one component " +
      "in bounded rounds with per-round constant planning cost") {
    // the factored CC engine (d10/c08): a path graph 0-1-2-...-63 needs
    // pointer doubling (plain propagation would exhaust maxRounds), and
    // it is the MANY-ROUND case that used to compound logical lineage
    // ~4x per round until the driver spent minutes re-canonicalizing
    // plans (caught by the 10x c08 fixture) — the per-round
    // localCheckpoint keeps this test fast at any diameter
    val nodes = spark.range(64).select($"id".as("doc"))
    val e0 = spark.range(63).select($"id".as("doc"), ($"id" + 1).as("peer"))
    val edges = e0.unionByName(e0.select($"peer".as("doc"), $"doc".as("peer")))
    val labels = Dedup.labelComponents(nodes, edges)
      .as[(Long, Long)].collect().toMap
    assert(labels.size == 64)
    assert(labels.values.forall(_ == 0L), "chain must collapse to min id 0")
    // isolated nodes stay identity rows
    val lone = Dedup.labelComponents(
      spark.range(3).select($"id".as("doc")),
      e0.limit(0)).as[(Long, Long)].collect().toMap
    assert(lone == Map(0L -> 0L, 1L -> 1L, 2L -> 2L))
  }

  test("bruteKnn ranks by cosine with deterministic tiebreak") {
    val vecs = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(1.0f, 0.1f)),
      (2L, Seq(0.0f, 1.0f)), (3L, Seq(-1.0f, 0.0f)))
      .toDF("id", "vec")
    val r = Similarity.bruteKnn(vecs.filter($"id" === 0), vecs, 3)
      .orderBy("rank").select("nid").as[Long].collect()
    assert(r.toSeq == Seq(1L, 2L, 3L)) // by descending cosine
  }

  test("matryoshkaRecall measures what width truncation loses") {
    // planted: id 1 is a perfect width-2 match but orthogonal at full
    // width, so it displaces a true neighbor from the truncated top-2 —
    // the audit must report that as recall 1/2, not paper over it
    val corpus = Seq(
      (1L, Seq(1.0f, 0.0f, -1.0f, 0.0f)), // width-2 impostor
      (2L, Seq(1.0f, 0.0f, 1.0f, 0.0f)),  // true nearest
      (3L, Seq(1.0f, 0.0f, 0.9f, 0.0f)),  // true second
      (4L, Seq(-1.0f, 0.0f, 1.0f, 0.0f))) // far at every width
      .toDF("id", "vec")
    val q = Seq((0L, Seq(1.0f, 0.0f, 1.0f, 0.0f))).toDF("id", "vec")
    val r = Similarity.matryoshkaRecall(q, corpus, 2, Seq(2, 4)).collect()
    assert(r.length == 1) // the full width is the truth side, not a row
    assert(r.head.getLong(0) == 2L)   // dims
    assert(r.head.getLong(1) == 1L)   // n_hit: only id 2 survives
    assert(r.head.getLong(2) == 2L)   // n_pairs
    assert(r.head.getDouble(3) == 0.5)
  }

  test("quantizedKnn preserves the exact float ranking on well-separated vectors") {
    // int8 codes lose < 1% relative precision per component — far below
    // the separation of these vectors, so top-k must match exactly
    val base = (0 until 30).map { i =>
      val cluster = i % 2
      val vec = (0 until 8).map(d =>
        (if (cluster == 0) 1.0f else -1.0f) * (1.0f + 0.01f * ((i * 7 + d) % 5)))
      (i.toLong, vec)
    }
    val df = base.toDF("id", "vec")
    val q = df.filter($"id" < 4)
    val brute = Similarity.bruteKnn(q, df, 3)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val quant = Similarity.quantizedKnn(q, df, 3)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val recall = brute.intersect(quant).size.toDouble / brute.size
    assert(recall >= 0.9, s"quantized recall $recall")
    // zero vector quantizes to all-zero codes and a null (guarded) cosine
    val withZero = (base :+ (99L, Seq.fill(8)(0.0f))).toDF("id", "vec")
    val z = Similarity.quantizedKnn(withZero.filter($"id" === 99L),
      withZero, 3)
    assert(z.filter($"qsim".isNotNull).count() == 0)
  }

  test("lshKnn achieves high recall vs brute force on clustered vectors") {
    // two tight clusters: recall of top-3 within the query's own cluster
    val base = (0 until 30).map { i =>
      val cluster = i % 2
      val vec = (0 until 8).map(d =>
        (if (cluster == 0) 1.0f else -1.0f) * (1.0f + 0.01f * ((i * 7 + d) % 5)))
      (i.toLong, vec)
    }
    val df = base.toDF("id", "vec")
    val q = df.filter($"id" < 4)
    val brute = Similarity.bruteKnn(q, df, 3)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val approx = Similarity.lshKnn(q, df, 3, dims = 8, planes = 8, bands = 4)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val recall = brute.intersect(approx).size.toDouble / brute.size
    assert(recall >= 0.75, s"recall $recall")
  }

  test("hardNegatives returns only cross-label neighbors, nearest first") {
    // two antipodal clusters labeled by cluster; add one near-boundary
    // vector of the OPPOSITE label inside cluster 0 — it must be the
    // top-ranked hard negative for cluster-0 queries, while every
    // same-label neighbor (nearer than the far cluster) is excluded.
    val base = (0 until 30).map { i =>
      val cluster = i % 2
      val vec = (0 until 8).map(d =>
        (if (cluster == 0) 1.0f else -1.0f) * (1.0f + 0.01f * ((i * 7 + d) % 5)))
      (i.toLong, vec, cluster)
    } :+ (100L, (0 until 8).map(d => 1.0f + 0.02f * d), 1)
    val df = base.toDF("id", "vec", "label")
    val got = Similarity.hardNegatives(df.filter($"id" < 4 && $"label" === 0),
      df, 3, dims = 8, planes = 8, bands = 4)
      .select("qid", "nid", "nlabel", "rank")
      .as[(Long, Long, Int, Long)].collect()
    assert(got.nonEmpty)
    // label-mismatch holds on every returned pair
    got.foreach { case (_, _, nl, _) => assert(nl == 1) }
    // the planted near-boundary opposite-label vector wins rank 1
    // wherever it shares a band with the query
    val rank1 = got.filter(_._4 == 1L).map(_._2).toSet
    assert(rank1.contains(100L),
      s"planted boundary negative must rank first somewhere, got $rank1")
  }

  test("ivfKnn achieves high recall vs brute force on clustered vectors") {
    val base = (0 until 30).map { i =>
      val cluster = i % 2
      val vec = (0 until 8).map(d =>
        (if (cluster == 0) 1.0f else -1.0f) * (1.0f + 0.01f * ((i * 7 + d) % 5)))
      (i.toLong, vec)
    }
    val df = base.toDF("id", "vec")
    val q = df.filter($"id" < 4)
    val brute = Similarity.bruteKnn(q, df, 3)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfKnn(q, df, 3, nCentroids = 4, nProbe = 2)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val recall = brute.intersect(ivf).size.toDouble / brute.size
    assert(recall >= 0.75, s"recall $recall")
  }

  test("pqKnn achieves high recall vs brute force on clustered vectors") {
    val base = (0 until 30).map { i =>
      val cluster = i % 2
      val vec = (0 until 8).map(d =>
        (if (cluster == 0) 1.0f else -1.0f) * (1.0f + 0.01f * ((i * 7 + d) % 5)))
      (i.toLong, vec)
    }
    val df = base.toDF("id", "vec")
    val q = df.filter($"id" < 4)
    val brute = Similarity.bruteKnn(q, df, 3)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val pq = Similarity.pqKnn(q, df, 3, m = 4, kCent = 4, dims = 8)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val recall = brute.intersect(pq).size.toDouble / brute.size
    assert(recall >= 0.75, s"pq recall $recall")
    // every query ranks the full corpus: exactly k rows per query with
    // ranks 1..k (ADC is a compression scheme, not a candidate filter)
    val ranks = Similarity.pqKnn(q, df, 3, m = 4, kCent = 4, dims = 8)
      .groupBy($"qid").agg(count(lit(1)), max($"rank"))
      .as[(Long, Long, Long)].collect()
    assert(ranks.forall { case (_, n, mx) => n == 3 && mx == 3 })
  }

  test("ivfPqKnn achieves high recall vs brute force on clustered vectors") {
    val base = (0 until 30).map { i =>
      val cluster = i % 2
      val vec = (0 until 8).map(d =>
        (if (cluster == 0) 1.0f else -1.0f) * (1.0f + 0.01f * ((i * 7 + d) % 5)))
      (i.toLong, vec)
    }
    val df = base.toDF("id", "vec")
    val q = df.filter($"id" < 4)
    val brute = Similarity.bruteKnn(q, df, 3)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val ivfpq = Similarity.ivfPqKnn(q, df, 3, nCentroids = 4, nProbe = 2,
      m = 4, kCent = 4, dims = 8)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val recall = brute.intersect(ivfpq).size.toDouble / brute.size
    assert(recall >= 0.75, s"ivf+pq recall $recall")
    // IVF prunes candidates (unlike full-scan pqKnn) but within the
    // probed buckets every query still gets k ranked rows 1..k
    val ranks = Similarity.ivfPqKnn(q, df, 3, nCentroids = 4, nProbe = 2,
      m = 4, kCent = 4, dims = 8)
      .groupBy($"qid").agg(count(lit(1)), max($"rank"))
      .as[(Long, Long, Long)].collect()
    assert(ranks.forall { case (_, n, mx) => n == 3 && mx == 3 })
  }

  test("randomProject preserves norms in expectation (JL) and LSH signs") {
    val base = (0 until 30).map { i =>
      (i.toLong, (0 until 64).map(d =>
        (((i * 31 + d * 7) % 11) - 5).toFloat / 3.0f))
    }
    val df = base.toDF("id", "vec")
    val out = df.select($"id",
        Similarity.randomProject($"vec", 64, 16).as("p"),
        $"vec")
      .as[(Long, Seq[Double], Seq[Float])].collect()
    // mean squared-norm ratio over 30 vectors: E=1, sd ~ 25%/sqrt(30)
    val ratios = out.map { case (_, p, v) =>
      val pn = p.map(x => x * x).sum
      val vn = v.map(x => x.toDouble * x).sum
      pn / vn
    }
    val mean = ratios.sum / ratios.length
    assert(mean > 0.7 && mean < 1.3, s"JL norm ratio $mean")
    // sign structure equals the LSH signature bits (same planes)
    val sigs = df.select($"id",
        Similarity.lshSignature($"vec", 64, 16).as("sig"))
      .as[(Long, Long)].collect().toMap
    out.foreach { case (id, p, _) =>
      p.zipWithIndex.filter { case (c, _) => math.abs(c) > 1e-5 }
        .foreach { case (c, i) =>
          val bit = (sigs(id) >> i) & 1L
          assert((c >= 0) == (bit == 1L), s"id $id plane $i")
        }
    }
  }

  test("kmeans recovers two well-separated clusters deterministically") {
    val base = (0 until 30).map { i =>
      val cluster = i % 2
      val vec = (0 until 8).map(d =>
        (if (cluster == 0) 1.0f else -1.0f) * (1.0f + 0.01f * ((i * 7 + d) % 5)))
      (i.toLong, vec)
    }
    val df = base.toDF("id", "vec")
    val out = Similarity.kmeans(df, k = 2, iters = 3, dims = 8)
      .select($"id", $"cid").as[(Long, Int)].collect().toMap
    // every member of a true cluster lands in the same learned cluster,
    // and the two true clusters land in different ones
    val byTrue = base.map(_._1).groupBy(_ % 2)
      .map { case (t, ids) => t -> ids.map(out).toSet }
    assert(byTrue.values.forall(_.size == 1), s"split cluster: $byTrue")
    assert(byTrue(0L) != byTrue(1L), "clusters merged")
    // refit is bit-identical (decimal-exact sums are order-independent)
    val c1 = Similarity.kmeansFit(df.repartition(7), 2, 3, 8)
    val c2 = Similarity.kmeansFit(df.repartition(3), 2, 3, 8)
    assert(c1.map(_.toSeq).toSeq == c2.map(_.toSeq).toSeq)
    // element-type-agnostic: an array<double> corpus fits identically
    // (the init collect used to hardcode getSeq[Float] and throw)
    val dfD = base.map { case (id, v) => (id, v.map(_.toDouble)) }
      .toDF("id", "vec")
    val cD = Similarity.kmeansFit(dfD.repartition(5), 2, 3, 8)
    assert(cD.map(_.toSeq).toSeq == c1.map(_.toSeq).toSeq)
  }

  test("stripBoilerplate cuts covered spans, keeps unique text in order") {
    // "terms of service apply" appears in all 3 docs -> its 3-grams are
    // hot at maxDf=2; the unique tails must survive verbatim, in order
    val docs = Seq(
      (1L, "terms of service apply alpha beta gamma"),
      (2L, "terms of service apply delta epsilon"),
      (3L, "terms of service apply zeta")
    ).toDF("doc_id", "text")
    val out = Dedup.stripBoilerplate(docs, "doc_id", "text", n = 3,
      maxDf = 2).orderBy("doc").collect()
    def fp(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(out(0).getAs[String]("clean_fp") == fp("alpha beta gamma"))
    assert(out(0).getAs[Long]("n_removed") == 4L)
    assert(out(1).getAs[String]("clean_fp") == fp("delta epsilon"))
    assert(out(2).getAs[String]("clean_fp") == fp("zeta"))
    // fully-boilerplate doc -> empty string, still present in the output
    val all = Seq((1L, "a b c"), (2L, "a b c"), (3L, "a b c"))
      .toDF("doc_id", "text")
    val stripped = Dedup.stripBoilerplate(all, "doc_id", "text", 3, 2)
      .collect()
    assert(stripped.length == 3)
    assert(stripped.forall(_.getAs[String]("clean_fp") == fp("")))
    assert(stripped.forall(_.getAs[Long]("n_removed") == 3L))
  }

  test("vocabEncode: deterministic ids, OOV to 0, order-preserving digest") {
    val docs = Seq(
      (1L, "b a b c"),   // b:2 within doc
      (2L, "a b a"),     // a:2
      (3L, "z a")
    ).toDF("doc_id", "text")
    // corpus counts: a=4, b=3, c=1, z=1 -> vocab(2): a->1, b->2; c,z OOV
    val out = TextOps.vocabEncode(docs, "doc_id", col("text"), 2)
      .orderBy("doc").collect()
    def fp(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(out(0).getAs[Long]("n_oov") == 1L)
    assert(out(0).getAs[String]("ids_fp") == fp("2,1,2,0"))
    assert(out(1).getAs[Long]("n_oov") == 0L)
    assert(out(1).getAs[String]("ids_fp") == fp("1,2,1"))
    assert(out(2).getAs[Long]("n_oov") == 1L)
    assert(out(2).getAs[String]("ids_fp") == fp("0,1"))
  }

  test("sparseCosinePairs: identical docs hit 1.0, rare phrase beats boilerplate") {
    // all docs share the boilerplate prefix; only 1/2 also share a rare
    // 3-gram phrase. tf-idf cosine must rank the rare-phrase pair above
    // the boilerplate-only pairs; identical docs score exactly 1.0.
    val boiler = "terms of service apply to all users of this site"
    val docs = Seq(
      (1L, s"$boiler unique alpha payload"),
      (2L, s"$boiler unique alpha payload"), // identical to 1
      (3L, s"$boiler rare shared phrase here"),
      (4L, s"$boiler rare shared phrase elsewhere"),
      (5L, s"$boiler completely different tail words")
    ).toDF("doc_id", "text")
    val pairs = Relevance.sparseCosinePairs(docs, "doc_id",
        TextOps.tokens(col("text")), n = 3, threshold = 0.0,
        maxPostings = 10)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
      .toMap
    assert(pairs((1L, 2L)) == 1.0)
    // (3,4) share the rare "rare shared phrase" 3-gram on top of the
    // boilerplate; (3,5) share boilerplate only
    assert(pairs((3L, 4L)) > pairs((3L, 5L)))
    assert(pairs((3L, 5L)) > 0.0) // boilerplate still overlaps
  }

  test("lshNearDupPairs matches exact all-pairs on near-dups, no nested loop") {
    // near-identical pairs (0,1) and (2,3) plus unrelated vectors — scaled
    // copies share every sign bit, so banding must surface both pairs
    val vecs = Seq(
      (0L, Seq(1.0f, 0.2f, -0.3f, 0.5f, 0.1f, -0.7f, 0.4f, 0.9f)),
      (1L, Seq(2.0f, 0.41f, -0.6f, 1.0f, 0.2f, -1.4f, 0.8f, 1.8f)),
      (2L, Seq(-0.5f, 0.8f, 0.8f, -0.2f, 0.6f, 0.3f, -0.9f, 0.1f)),
      (3L, Seq(-0.49f, 0.81f, 0.79f, -0.2f, 0.61f, 0.3f, -0.9f, 0.1f)),
      (4L, Seq(0.3f, -0.9f, 0.2f, 0.7f, -0.5f, 0.6f, 0.1f, -0.8f)),
      (5L, Seq(-0.7f, -0.1f, 0.9f, 0.3f, 0.8f, -0.2f, 0.5f, 0.4f)))
      .toDF("id", "vec")
    val banded = Similarity.lshNearDupPairs(vecs, 0.95, dims = 8,
      planes = 16, bands = 4)
    val exact = Similarity.cosineNearDupExact(vecs, 0.95)
    val bandedSet = banded.select("a", "b").as[(Long, Long)].collect().toSet
    val exactSet = exact.select("a", "b").as[(Long, Long)].collect().toSet
    assert(exactSet == Set((0L, 1L), (2L, 3L)))
    // exact verify stage → banded never reports a false positive, and on
    // these near-parallel pairs it must reach full recall
    assert(bandedSet == exactSet)
    // the point of the banded form: candidate generation is an EQUI-join —
    // the all-pairs form is the nested loop we refuse at scale
    val bandedPlan = banded.queryExecution.executedPlan.toString
    assert(!bandedPlan.contains("BroadcastNestedLoopJoin"),
      s"banded plan fell back to a nested loop:\n$bandedPlan")
    assert(exact.queryExecution.executedPlan.toString
      .contains("BroadcastNestedLoopJoin"))
  }

  test("lshNearDupPairs salt-split: identical below the cap, bounded " +
      "sub-buckets above it, never empty on a hot corpus") {
    // e26's contract: at or under the cap every salt is 0, so the salted
    // pipeline equals the baseline bit for bit
    val vecs = Seq(
      (0L, Seq(1.0f, 0.2f, -0.3f, 0.5f, 0.1f, -0.7f, 0.4f, 0.9f)),
      (1L, Seq(2.0f, 0.41f, -0.6f, 1.0f, 0.2f, -1.4f, 0.8f, 1.8f)),
      (2L, Seq(-0.5f, 0.8f, 0.8f, -0.2f, 0.6f, 0.3f, -0.9f, 0.1f)),
      (3L, Seq(-0.49f, 0.81f, 0.79f, -0.2f, 0.61f, 0.3f, -0.9f, 0.1f)))
      .toDF("id", "vec")
    val base = Similarity.lshNearDupPairs(vecs, 0.95, dims = 8,
      planes = 16, bands = 4)
      .select("a", "b").as[(Long, Long)].collect().toSet
    val salted = Similarity.lshNearDupPairs(vecs, 0.95, dims = 8,
      planes = 16, bands = 4, maxBandPostings = 64)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(salted == base && base == Set((0L, 1L), (2L, 3L)))
    // a HOT corpus — many scaled copies of one direction, every band
    // bucket far over the cap: the drop-the-key move would return zero
    // pairs; the salt-split must keep finding pairs inside sub-buckets
    // while generating far fewer candidates than all-pairs
    val hot = (0L until 64L).map(i =>
      (i, Seq(1.0f + i * 0.001f, 0.5f, -0.3f, 0.2f,
        0.1f, -0.7f, 0.4f, 0.9f))).toDF("id", "vec")
    val hotPairs = Similarity.lshNearDupPairs(hot, 0.99, dims = 8,
      planes = 16, bands = 4, maxBandPostings = 8)
      .select("a", "b").as[(Long, Long)].collect()
    assert(hotPairs.nonEmpty,
      "salt-split must degrade gracefully, not to an empty result")
    // bounded: 64 vectors over ceil(64/8)=8 salts per band -> each pair
    // count well under the 2016 all-pairs
    assert(hotPairs.length < 2016 / 2,
      s"salting should prune the dense region: ${hotPairs.length}")
  }

  test("hashFamilyAudit: healthy family agrees, broken family is caught") {
    // two exact-duplicate doc pairs + unrelated filler: identical shingle
    // sets force identical signatures under ANY hash family, so every
    // family must band-collide the true pairs — the verdict booleans are
    // true with zero dependence on the S-curve (a merely-similar pair at
    // k=16/bands=4 collides per family with only ~0.7 probability, which
    // is exactly the legitimate disagreement the audit tolerates)
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "one two three four five six seven eight nine"),
      (4L, "one two three four five six seven eight nine"),
      (5L, "completely unrelated filler content goes here now"),
      (6L, "another standalone document with its own words"))
      .toDF("doc_id", "text")
    val ok = Dedup.hashFamilyAudit(docs, "doc_id", "text", n = 3,
      k = 16, bands = 4, family = Dedup.xxhashFamily).head()
    assert(ok.getAs[Long]("n_pairs_md5") >= 2L)
    assert(ok.getAs[Boolean]("family_jaccard_ok"))
    assert(ok.getAs[Boolean]("strong_recall_ok"))
    // a BROKEN family (constant hash: every signature identical) floods
    // the production-side pair set with every doc pair, so the pair-set
    // Jaccard collapses and the audit verdict flips — this is the failure
    // the rows-only registration of rounds 1-6 could never surface
    val broken = Dedup.hashFamilyAudit(docs, "doc_id", "text", n = 3,
      k = 16, bands = 4, family = (_, _) => lit(42L)).head()
    assert(!broken.getAs[Boolean]("family_jaccard_ok"))
  }

  test("ngramNovelty credits first occurrence by id; dup content scores 0") {
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon"),   // all shingles first here
      (2L, "alpha beta gamma delta epsilon"),   // exact dup of 1 -> 0.0
      (3L, "zeta eta theta iota"),              // unique -> 1.0
      (4L, "alpha beta gamma kappa lambda mu"), // 1 of 4 shingles shared
      (5L, "xy")                                // < n tokens -> no grams
    ).toDF("doc_id", "text")
    val out = Dedup.ngramNovelty(df, "doc_id", "text", n = 3)
      .collect().map(r => r.getAs[Long]("doc") ->
        (r.getAs[Long]("n_grams"), r.getAs[Long]("n_novel"),
          r.getAs[Double]("novelty"))).toMap
    assert(out(1L) == ((3L, 3L, 1.0)))
    assert(out(2L) == ((3L, 0L, 0.0)))   // min doc_id owns every shingle
    assert(out(3L) == ((2L, 2L, 1.0)))
    // doc 4: shingles "alpha beta gamma" (seen in 1), + 3 novel ones
    assert(out(4L) == ((4L, 3L, 0.75)))
    assert(out(5L) == ((0L, 0L, 0.0)))   // gram-less docs still report
    assert(out.size == 5)
  }

  test("sourceOverlap: mirrored source hits 1.0, disjoint sources absent") {
    val df = Seq(
      ("wiki", "alpha beta gamma delta"),
      ("wiki", "epsilon zeta eta theta"),
      ("mirror", "alpha beta gamma delta"),      // strict subset of wiki
      ("other", "iota kappa lambda mu nu")       // disjoint
    ).toDF("source", "text")
    val out = Dedup.sourceOverlap(df, "source", "text", n = 3)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Long]("n_shared"), r.getAs[Double]("overlap"))).toMap
    // mirror's 2 shingles are all inside wiki's 4 -> containment 1.0
    assert(out(("mirror", "wiki")) == ((2L, 1.0)))
    // disjoint pairs produce NO row (inner gram join), not a zero row
    assert(out.size == 1)
  }

  test("langId picks the dominant stopword language, und when none") {
    val df = Seq("the cat and the dog is in a house",
      "der hund und die katze ist nicht da",
      "xyzzy qwerty asdf").toDF("text")
    val got = df.select(TextOps.langId(TextOps.tokens($"text")))
      .as[String].collect()
    assert(got.toSeq == Seq("en", "de", "und"))
  }

  test("decodeBatched md5 features match the declarative md5 expressions") {
    val df = Seq((1L, "abc"), (2L, ""), (3L, "hello world"))
      .toDF("doc_id", "text")
      .withColumn("payload", $"text".cast("binary"))
    val got = Multimodal.decodeBatched(df, "doc_id", "payload", batchSize = 2)
      .orderBy("doc_id")
      .select("f0", "f1", "f2", "f3").as[(Double, Double, Double, Double)]
      .collect()
    // independent witness: the same features from Spark's own md5()/conv()
    val want = df.orderBy("doc_id").select(
        octet_length($"payload").cast("double") / 1024.0,
        (conv(substring(md5($"payload"), 1, 15), 16, 10).cast("long") % 997L)
          .cast("double"),
        (conv(substring(md5($"payload"), 1, 15), 16, 10).cast("long") % 251L)
          .cast("double"),
        (conv(substring(md5($"payload"), 1, 15), 16, 10).cast("long") % 127L)
          .cast("double"))
      .as[(Double, Double, Double, Double)].collect()
    assert(got.toSeq == want.toSeq)
  }
}
