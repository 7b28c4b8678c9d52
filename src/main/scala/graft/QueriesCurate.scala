package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.CrossRound.round // shadows functions.round: cross-engine form
import graft.ops._
import graft.schema.Tables
import graft.QueriesText._

/** Registry slice d41-d56 + c01: weighted near-dup + its recall audit, fuzzy
  * decontamination, boilerplate stripping, vocab encoding, mixture
  * sampling, release assembly, HLL, the production-hash bench row, the
  * training-shard manifest, the per-group fixed-count sample, the
  * fold-leakage audit, duplicate-span excision, the persisted
  * inverted index, BPE subword encoding + merge learning and the
  * end-to-end curation funnel.
  * Shared helpers live in [[QueriesText]]; registration order is
  * assembled there. */
private[graft] object QueriesCurate {

  // ---------------------------------------- MinHash, production hash family
  // Through round 6 this registered d06's pipeline with hashFamily =
  // xxhash64 (Dedup.scala:33: codegen'd, one pass, no hex round-trip; the
  // md5-hex conv() family exists only so DuckDB can replay signatures) and
  // shipped WITHOUT an oracle — rows-only, so nothing driver-visible would
  // have caught broken xxhash64 banding. Now the EQUIVALENCE is the query
  // (the e09/d48/q76 composition move): run the full LSH pipeline under
  // BOTH families and emit one row — md5-side counts the oracle replays
  // exactly, plus wide-margin set-agreement verdicts the oracle expects as
  // literal `true` (DuckDB cannot compute xxhash64, but it CAN check that
  // the family the production path runs still finds the same near-dups).
  // Measured at sf0.001/sf0.01: the two pair sets are IDENTICAL, so the
  // 0.8 pair-set-Jaccard floor and est≥0.9 strong-recall checks have full
  // margin. The isolated xxhash-vs-md5 primitive cost is recorded in
  // SCALE.md ("Production hash family", bench_hash_r15.json); this row's
  // bench time now covers both pipelines.
  private val d49: (String, QFn, Option[String]) = ("d49_minhash_xxhash",
    (s, d) => Dedup.hashFamilyAudit(docs(s, d), "doc_id", "text", n = 3,
      k = MINHASH_K, bands = MINHASH_BANDS,
      family = Dedup.xxhashFamily),
    Some(s"""WITH mp AS (${QueriesDocs.minhashPairsSql})
      |SELECT count(*)::BIGINT AS n_pairs_md5,
      | coalesce(sum(CASE WHEN est_jaccard >= 0.9 THEN 1 ELSE 0 END),
      |   0)::BIGINT AS n_strong_md5,
      | true AS family_jaccard_ok,
      | true AS strong_recall_ok
      |FROM mp""".stripMargin))

  // ------------------------------------ sparse TF-IDF cosine near-dup
  // Weighted sibling of d05: shared shingles weighted by rarity (smoothed
  // sklearn idf, d21's formula), cosine over the FULL weighted vectors;
  // candidate pairs must share >= 2 distinct shingles with df <= 10 (both
  // knobs mirrored in the oracle). One rare hit is weak evidence on this
  // repetitive vocabulary — at sf0.1 the single-hit df<=50 rule emitted
  // 1.13M candidates for 256 true pairs (13 s, 72M verify rows); the
  // two-hit rule emits 17k candidates at 255/256 recall. Boilerplate
  // shared by everything barely moves the score; shared rare phrases
  // dominate.
  /** d41's oracle, parametrized by the minimum shared-rare-shingle count
    * so d48's recall audit can replay the single-hit truth set with the
    * same SQL text (nested as a WITH subquery, like e09 does for e01/e02). */
  private def sparseCosineSql(minShared: Int,
                              table: String = "documents",
                              withShared: Boolean = false): String = {
    val nsCol = if (withShared) ", ns" else ""
    s"""WITH toks AS (SELECT doc_id, $tokSql AS w FROM $table),
      |tf AS (SELECT doc_id, s, count(*)::BIGINT AS tf FROM (
      |  SELECT doc_id, unnest(list_transform(
      |    range(1, greatest(len(w) - 1, 1)),
      |    i -> array_to_string(list_slice(w, i, i + 2), ' '))) AS s
      |  FROM toks) GROUP BY 1, 2),
      |nd AS (SELECT count(*)::DOUBLE AS n FROM $table),
      |dfq AS (SELECT s, count(*)::BIGINT AS df FROM tf GROUP BY 1),
      |wt AS (SELECT doc_id, s, df,
      |  tf::DOUBLE * (ln((n + 1.0) / (df::DOUBLE + 1.0)) + 1.0) AS w
      |  FROM tf JOIN dfq USING (s), nd),
      |nrm AS (SELECT doc_id, round(sqrt(sum(w * w)), 9) AS nrm
      |  FROM wt GROUP BY 1),
      |cand AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS ns
      |  FROM wt x JOIN wt y ON x.s = y.s AND x.doc_id < y.doc_id
      |  WHERE x.df <= 10 AND y.df <= 10
      |  GROUP BY 1, 2 HAVING count(*) >= $minShared),
      |num AS (SELECT c.a, c.b$nsCol, sum(x.w * y.w) AS num
      |  FROM cand c JOIN wt x ON x.doc_id = c.a
      |  JOIN wt y ON y.doc_id = c.b AND y.s = x.s
      |  GROUP BY ALL)
      |SELECT a, b, round(num / (na.nrm * nb.nrm), 6) AS sim$nsCol
      |FROM num JOIN nrm na ON na.doc_id = a JOIN nrm nb ON nb.doc_id = b
      |WHERE round(num / (na.nrm * nb.nrm), 6) >= 0.3""".stripMargin
  }

  private val d41: (String, QFn, Option[String]) = ("d41_sparse_cosine",
    (s, d) => Relevance.sparseCosinePairs(docs(s, d), "doc_id",
      TextOps.tokens(col("text")), n = 3, threshold = 0.3,
      maxPostings = 10, minShared = 2),
    Some(sparseCosineSql(minShared = 2)))

  // ------------------------------------ d41 candidate-rule recall audit
  // The two-hit rule buys 66× fewer candidates (measured: 1.13M -> 17k at
  // sf0.1) at a recall cost this query makes DRIVER-VISIBLE instead of a
  // code-comment claim: truth = the single-hit candidate rule's output
  // (every pair >= threshold reachable through any df<=10 shingle), found
  // = the two-hit rule's output. Same composition move as e09 for the
  // ANN index: both sides reuse the audited query's own fn/SQL, so the
  // audit can't drift from the thing it audits.
  //
  // SAMPLED + SINGLE-PASS: recall is a RATE, and the truth side
  // deliberately replays the rejected single-hit rule — at sf0.1 that was
  // 1.13M candidates / 72M verify rows, 11.7 s, 7.5% of the whole bench
  // for one audit row. Two cost levers, both exact:
  //  (1) Both rules run on a content-addressed 1-of-4 document sample
  //      (hashFold(doc_id, 4) = 0 — same fold family as d52/q41, so the
  //      oracle replays the draw exactly). Pair-stage work drops ~16×
  //      (both endpoints must survive the draw); df/idf statistics are
  //      computed WITHIN the sample so both rules see identical weights.
  //  (2) One pipeline, not two: the two-hit rule's verified output IS the
  //      single-hit output filtered to n_shared >= 2 (same weights, same
  //      verify — only the candidate HAVING differs), so `keepShared`
  //      carries the shared-rare-shingle count through the verify and
  //      found/truth are two conditional counts over ONE result.
  // When the sample holds no qualifying pair at all (sf0.001) recall is
  // NULL, guarded on both engines. d41 itself still runs the full corpus.
  private val d48: (String, QFn, Option[String]) = ("d48_sparse_recall",
    (s, d) => {
      val sampled = docs(s, d)
        .filter(Sampling.hashFold(col("doc_id"), 4) === 0)
      Relevance.sparseCosinePairs(sampled, "doc_id",
          TextOps.tokens(col("text")), n = 3, threshold = 0.3,
          maxPostings = 10, minShared = 1, keepShared = true)
        .agg(coalesce(sum(when(col("n_shared") >= 2, 1).otherwise(0)),
            lit(0)).as("found"),
          count(lit(1)).as("true_pairs"))
        .select(col("found"), col("true_pairs"),
          when(col("true_pairs") === 0, lit(null).cast("double"))
            .otherwise(round(col("found").cast("double") /
              col("true_pairs").cast("double"), 6)).as("recall"))
    },
    Some(s"""WITH ds AS (SELECT * FROM documents
      |  WHERE ${md5HashSql("doc_id::VARCHAR || '#fold'")} % 4 = 0),
      |v AS (${sparseCosineSql(minShared = 1, table = "ds",
                withShared = true)})
      |SELECT coalesce(sum(CASE WHEN ns >= 2 THEN 1 ELSE 0 END),
      |   0)::BIGINT AS found,
      | count(*)::BIGINT AS true_pairs,
      | CASE WHEN count(*) = 0 THEN NULL
      |   ELSE round(sum(CASE WHEN ns >= 2 THEN 1 ELSE 0 END)::DOUBLE
      |     / count(*)::DOUBLE, 6) END AS recall
      |FROM v""".stripMargin))

  // ------------------------------------ fuzzy benchmark decontamination
  // d14's exact 4-gram probe misses paraphrased leakage; this flags train
  // docs whose MinHash signature estimates Jaccard >= 0.5 against any
  // eval doc (doc_id % 25 = 0) sharing an LSH band. Train×eval band join
  // only — never train×train — with the eval side broadcast.
  private val d42: (String, QFn, Option[String]) =
    ("d42_fuzzy_decontaminate",
      (s, d) => Dedup.fuzzyDecontaminate(docs(s, d), "doc_id", "text",
        isEval = col("doc_id") % 25 === 0, n = 3, k = MINHASH_K,
        bands = MINHASH_BANDS, minEstJaccard = 0.5),
      Some(s"""WITH $shCte,
        |mh AS (SELECT doc_id, j,
        |    min(${md5HashSql("s || '#' || j")}) AS sig
        |  FROM sh, (SELECT unnest(range(0, $MINHASH_K)) AS j) js
        |  GROUP BY doc_id, j),
        |bk AS (SELECT doc_id, j // ${MINHASH_K / MINHASH_BANDS} AS band,
        |    md5(string_agg(sig::VARCHAR, ',' ORDER BY j)) AS bkey
        |  FROM mh GROUP BY doc_id, band),
        |cand AS (SELECT DISTINCT t.doc_id AS t, e.doc_id AS e
        |  FROM bk t JOIN bk e ON t.band = e.band AND t.bkey = e.bkey
        |  WHERE t.doc_id % 25 <> 0 AND e.doc_id % 25 = 0),
        |m AS (SELECT c.t, c.e,
        |    sum(CASE WHEN a.sig = b.sig THEN 1 ELSE 0 END) AS eq
        |  FROM cand c JOIN mh a ON a.doc_id = c.t
        |  JOIN mh b ON b.doc_id = c.e AND b.j = a.j
        |  GROUP BY 1, 2),
        |f AS (SELECT t, count(*) AS n_flagged FROM m
        |  WHERE round(eq / ${MINHASH_K}.0, 6) >= 0.5 GROUP BY 1)
        |SELECT d.doc_id AS doc, coalesce(n_flagged, 0)::BIGINT AS n_flagged,
        | (coalesce(n_flagged, 0) > 0)::BIGINT AS contaminated
        |FROM documents d LEFT JOIN f ON f.t = d.doc_id
        |WHERE d.doc_id % 25 <> 0""".stripMargin))

  // ------------------------------------- boilerplate strip + reconstruct
  // d30 measures the duplicated-span fraction; this REWRITES the corpus:
  // tokens covered by any 3-gram present in more than 10 documents are
  // cut and the survivors reassemble in order (the header/footer removal
  // pass of a web pipeline). The oracle rebuilds every document with the
  // same zipped positional unnest and compares md5 digests of the cleaned
  // text — a full-text equality check in 16 bytes per row.
  private val d44: (String, QFn, Option[String]) =
    ("d44_boilerplate_strip",
      (s, d) => Dedup.stripBoilerplate(docs(s, d), "doc_id", "text",
        n = 3, maxDf = 10),
      Some(s"""WITH toks AS (SELECT doc_id AS doc, $tokSql AS w
        |  FROM documents),
        |tok AS (SELECT doc, unnest(range(1, len(w) + 1)) AS pos,
        |    unnest(w) AS t FROM toks),
        |sh AS (SELECT doc,
        |    unnest(range(1, greatest(len(w) - 1, 1))) AS spos,
        |    unnest(list_transform(range(1, greatest(len(w) - 1, 1)),
        |      i -> array_to_string(list_slice(w, i, i + 2), ' '))) AS s
        |  FROM toks),
        |hot AS (SELECT s FROM (SELECT s, count(DISTINCT doc) AS df
        |  FROM sh GROUP BY 1) WHERE df > 10),
        |cov AS (SELECT DISTINCT doc, spos + o AS pos
        |  FROM sh JOIN hot USING (s),
        |       (SELECT unnest(range(0, 3)) AS o) os),
        |kept AS (SELECT tok.doc, tok.pos, tok.t FROM tok
        |  LEFT JOIN cov ON cov.doc = tok.doc AND cov.pos = tok.pos
        |  WHERE cov.doc IS NULL),
        |reb AS (SELECT doc, string_agg(t, ' ' ORDER BY pos) AS clean
        |  FROM kept GROUP BY 1),
        |rem AS (SELECT doc, count(*) AS n_removed FROM cov GROUP BY 1)
        |SELECT t.doc, len(t.w)::BIGINT AS n_tokens,
        | coalesce(rem.n_removed, 0)::BIGINT AS n_removed,
        | md5(coalesce(reb.clean, '')) AS clean_fp
        |FROM toks t LEFT JOIN rem USING (doc)
        |LEFT JOIN reb USING (doc)""".stripMargin))

  // --------------------------------------------- vocabulary-id encoding
  // The text→token-ids step between cleaning (d44) and sequence packing
  // (d11/d37): top-256 vocabulary by (count desc, term asc) — ids are
  // fully deterministic — OOV → 0, and the per-doc id sequence ships as
  // an md5 digest with OOV accounting. The vocabulary is a TakeOrdered
  // top-V broadcast to the positional token table; the oracle rebuilds
  // the identical vocabulary and digests the same comma-joined stream.
  private val d45: (String, QFn, Option[String]) = ("d45_vocab_encode",
    (s, d) => TextOps.vocabEncode(docs(s, d), "doc_id", col("text"),
      vocabSize = 256),
    Some(s"""WITH toks AS (SELECT doc_id AS doc, $tokSql AS w
      |  FROM documents),
      |tok AS (SELECT doc, unnest(range(1, len(w) + 1)) AS pos,
      |    unnest(w) AS t FROM toks),
      |cnt AS (SELECT t, count(*) AS c FROM tok GROUP BY 1),
      |voc AS (SELECT t, row_number() OVER (ORDER BY c DESC, t) AS tid
      |  FROM (SELECT t, c FROM cnt ORDER BY c DESC, t LIMIT 256)),
      |enc AS (SELECT tok.doc, tok.pos, coalesce(voc.tid, 0) AS tid
      |  FROM tok LEFT JOIN voc USING (t)),
      |agg AS (SELECT doc, count(*)::BIGINT AS n_tokens,
      |  sum(CASE WHEN tid = 0 THEN 1 ELSE 0 END)::BIGINT AS n_oov,
      |  md5(string_agg(tid::VARCHAR, ',' ORDER BY pos)) AS ids_fp
      |  FROM enc GROUP BY doc)
      |SELECT doc_id AS doc, coalesce(n_tokens, 0) AS n_tokens,
      | coalesce(n_oov, 0) AS n_oov, coalesce(ids_fp, md5('')) AS ids_fp
      |FROM documents LEFT JOIN agg ON doc_id = doc""".stripMargin))

  // --------------------------------------- temperature mixture sampling
  // d15 reweights toward EXPLICIT target shares; this is the
  // temperature form multilingual/multi-source training uses: keep rate
  // ∝ cnt^(1/T)/cnt with T = 2 (sqrt — correctly rounded IEEE, so the
  // oracle replays rates exactly), flattening the mix so small sources
  // upsample. Same broadcast-rates + content-addressed membership as
  // d15: re-runs and re-partitionings keep the identical set.
  private val d47: (String, QFn, Option[String]) = ("d47_temperature_mix",
    (s, d) => Sampling.domainMixByCount(
        docs(s, d).select(col("doc_id"), col("source")),
        key = col("doc_id"), domain = col("source"),
        weightOfCount = sqrt(_), frac = 0.6, salt = "tmix")
      .select(col("doc_id"), col("source"), col("rate")),
    Some("""WITH c AS (SELECT source, count(*)::BIGINT AS cnt,
      |  sqrt(count(*)::DOUBLE) AS w
      |  FROM documents GROUP BY source),
      |t AS (SELECT sum(cnt)::DOUBLE AS total, sum(w) AS sumw FROM c),
      |r AS (SELECT source, least(1.0::DOUBLE,
      |  round(0.6::DOUBLE * w * total / (sumw * cnt::DOUBLE), 6)) AS rate
      |  FROM c, t)
      |SELECT d.doc_id, d.source, r.rate
      |FROM documents d JOIN r USING (source)
      |WHERE ('0x' || substr(md5(d.doc_id::VARCHAR || '#tmix'), 1, 15))::BIGINT
      |  / 1152921504606846976.0 < r.rate""".stripMargin))

  // ------------------------------------------ release-set materialization
  // The capstone composition — what a user actually runs to cut a corpus
  // release: exact-dup keepers (d01) ∩ decontaminated (d14) ∩ quality
  // floor (d03's score), rolled up per source with token budgets. Every
  // stage is individually oracle-verified; this query verifies the
  // PLUMBING between them (joins, filters, the decimal-exact quality
  // mean). Per-source output rows: the release manifest.
  /** d46's release-gate CTEs (exact-dup keepers, decontamination hits,
    * per-doc tokens + quality) as one factored SQL text — shared by
    * d46's own manifest and c02's trainer-handoff funnel, so both
    * replay literally the same survivor definition. */
  private val releaseCtesSql: String =
    s"""exg AS (SELECT min(doc_id) AS keep_id FROM documents
      |  GROUP BY md5(trim(regexp_replace(lower(text),
      |    '[^a-z0-9]+', ' ', 'g')))),
      |toks AS (SELECT doc_id, $tokSql AS w FROM documents),
      |sh AS (SELECT DISTINCT doc_id, s FROM (SELECT doc_id,
      |  unnest(list_transform(range(1, greatest(len(w) - 2, 1)),
      |    i -> array_to_string(list_slice(w, i, i + 3), ' '))) AS s
      |  FROM toks)),
      |evs AS (SELECT DISTINCT s FROM sh WHERE doc_id % 25 = 0),
      |hit AS (SELECT doc_id, count(*) AS n_overlap
      |  FROM sh JOIN evs USING (s) WHERE doc_id % 25 <> 0 GROUP BY 1),
      |q AS (SELECT doc_id, source, len($tokSql)::BIGINT AS n_tokens,
      |  $qScoreSql AS quality_score FROM documents)""".stripMargin

  /** The Spark twin of [[releaseCtesSql]]: the per-doc release survivor
    * set (doc_id, source, n_tokens, quality_score) — d46 aggregates it
    * into the manifest, c02 packs it for the trainer handoff. */
  private def releaseDocs(s: SparkSession, d: String): DataFrame = {
    val base = docs(s, d)
    val keepers = Dedup.exact(base, "doc_id",
        TextOps.fingerprint(col("text")))
      .select(col("keep_id").as("doc_id"))
    val clean = Dedup.decontaminate(base, "doc_id", "text", n = 4,
        isEval = col("doc_id") % 25 === 0)
      .filter(col("contaminated") === 0)
      .select(col("doc").as("doc_id"))
    base.select(col("doc_id"), col("source"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"),
        TextOps.qualityCols(col("text"), TextOps.tokens(col("text"))).last)
      .join(keepers, Seq("doc_id"))
      .join(clean, Seq("doc_id"))
      .filter(col("quality_score") >= 0.5)
  }

  private val d46: (String, QFn, Option[String]) = ("d46_release_set",
    (s, d) => {
      releaseDocs(s, d)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("n_tokens"),
          round(sum(col("quality_score").cast("decimal(18,9)"))
            .cast("double") / count(lit(1)), 6).as("mean_quality"))
    },
    Some(s"""WITH $releaseCtesSql
      |SELECT source, count(*)::BIGINT AS n_docs,
      | sum(n_tokens)::BIGINT AS n_tokens,
      | round(CAST(sum(CAST(quality_score AS DECIMAL(18,9))) AS DOUBLE)
      |   / count(*), 6) AS mean_quality
      |FROM q JOIN exg ON q.doc_id = exg.keep_id
      |LEFT JOIN hit h ON q.doc_id = h.doc_id
      |WHERE q.doc_id % 25 <> 0 AND coalesce(h.n_overlap, 0) = 0
      | AND quality_score >= 0.5
      |GROUP BY source""".stripMargin))

  // ------------------------------------- HyperLogLog distinct sketch
  // Per-event-type distinct users via 64-register HLL. Register build is
  // ALL-INTEGER (rho via the exact bitlen identity), the harmonic sum is
  // an exact long sum of powers of two (order-independent — partial aggs
  // can't move it), so the oracle replays the whole sketch bit-for-bit;
  // the only floats are the final estimator division and the
  // linear-counting ln, rounded 4 dp. Registers merge by MAX — this is
  // the sketch a 1000-executor rollup (or a streaming window union)
  // composes without re-reading raw data.
  private val d43: (String, QFn, Option[String]) = ("d43_hll_distinct",
    (s, d) => Sketches.hllDistinct(Tables.events(s, d), col("event_type"),
      col("user_id"), p = 6)
      .select(col("grp").as("event_type"), col("n_exact"),
        col("est_distinct")),
    Some {
      val m = 64
      val numConst = 0.709 * m * m * math.pow(2.0, 55)
      s"""WITH h AS (SELECT event_type AS grp,
        |    ${md5HashSql("user_id::VARCHAR || '#hll'")} AS h
        |  FROM events WHERE user_id IS NOT NULL),
        |rr AS (SELECT grp, h & 63 AS j,
        |    CASE WHEN (h >> 6) = 0 THEN 55
        |         ELSE 55 - length(bin(h >> 6)) END AS rho
        |  FROM h),
        |regs AS (SELECT grp, j, max(rho) AS mj FROM rr GROUP BY 1, 2),
        |grid AS (SELECT g.grp, gs.j
        |  FROM (SELECT DISTINCT grp FROM regs) g,
        |       (SELECT unnest(range(0, $m)) AS j) gs),
        |fl AS (SELECT grid.grp, coalesce(regs.mj, 0) AS mj
        |  FROM grid LEFT JOIN regs USING (grp, j)),
        |agg AS (SELECT grp,
        |    sum(1::BIGINT << (55 - mj))::BIGINT AS sint,
        |    sum(CASE WHEN mj = 0 THEN 1 ELSE 0 END) AS v
        |  FROM fl GROUP BY 1),
        |est AS (SELECT grp,
        |    CASE WHEN $numConst / sint::DOUBLE <= ${2.5 * m} AND v > 0
        |      THEN round($m.0 * ln($m.0 / v::DOUBLE), 4)
        |      ELSE round($numConst / sint::DOUBLE, 4) END AS est_distinct
        |  FROM agg),
        |ex AS (SELECT event_type AS grp,
        |    count(DISTINCT user_id) AS n_exact
        |  FROM events GROUP BY 1)
        |SELECT ex.grp AS event_type, n_exact, est_distinct
        |FROM ex JOIN est USING (grp)""".stripMargin
    })

  // --------------------------------------------- training-shard manifest
  // The WRITE side of a curation run: a 100 TB release ships as N shards,
  // and the shard a document lands in must be CONTENT-ADDRESSED (hashFold
  // — stable across runs, engines, partitionings and re-ingests) so
  // incremental rebuilds touch only changed shards and a re-run is
  // byte-reproducible. The query assigns shards, writes the corpus
  // partitioned BY shard (each task writes only its own shard dirs;
  // readers prune to the shards they want — q60's directory pruning),
  // re-reads the written layout, and emits the per-shard release
  // manifest: doc count, char volume, and an order-independent bit_xor
  // id digest proving the write→read roundtrip lost nothing. The oracle
  // replays assignment + manifest straight from the source table, so a
  // dropped or duplicated row in the roundtrip fails the hash compare.
  private val d50: (String, QFn, Option[String]) = ("d50_shard_manifest",
    (s, d) => {
      val nShards = 16
      val dir = Queries.rtDir("d50", d)
      docs(s, d).select(col("doc_id"), col("n_chars"),
          Sampling.hashFold(col("doc_id"), nShards, "shard").as("shard"))
        .repartition(col("shard"))
        .write.mode("overwrite").partitionBy("shard").parquet(dir)
      s.read.parquet(dir)
        .withColumn("_h",
          Dedup.md5Hash(col("doc_id").cast("string"), lit("d50")))
        .groupBy(col("shard").cast("long").as("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          expr("bit_xor(_h)").as("id_digest"))
    },
    Some(s"""WITH a AS (SELECT doc_id, n_chars,
      |  ${md5HashSql("doc_id::VARCHAR || '#shard'")} % 16 AS shard
      |  FROM documents)
      |SELECT shard, count(*)::BIGINT AS n_docs,
      | sum(n_chars)::BIGINT AS total_chars,
      | bit_xor(${md5HashSql("doc_id::VARCHAR || '#d50'")}) AS id_digest
      |FROM a GROUP BY shard""".stripMargin))

  // --------------------------------------- per-group fixed-count sample
  // "Ten example docs per source" — the eval-set / spot-check draw.
  // stratifiedKeep's rate gives a BINOMIAL per-group count; this gives
  // exactly min(n, |group|) via a content-addressed rank (hash, then
  // doc_id against 60-bit collisions), so the same docs are drawn across
  // runs, engines and partitionings. The rank filter compiles to
  // WindowGroupLimit (q24's pushdown — per-task state is n rows per
  // group, never the group; PlanShapeSpec asserts it for this exact fn).
  private val d51: (String, QFn, Option[String]) = ("d51_group_sample",
    (s, d) => Sampling.groupSample(docs(s, d).select(col("doc_id"),
        col("source")), col("source"), col("doc_id"), n = 10)
      .select(col("doc_id"), col("source"), col("rank")),
    Some(s"""WITH r AS (SELECT doc_id, source, row_number() OVER (
      |  PARTITION BY source
      |  ORDER BY ${md5HashSql("doc_id::VARCHAR || '#gsamp'")}, doc_id)
      |  AS rank FROM documents)
      |SELECT doc_id, source, rank FROM r WHERE rank <= 10"""
      .stripMargin))

  // ------------------------------------------------ fold-leakage audit
  // Near-dup pairs that STRADDLE a train/eval fold boundary are test-set
  // contamination q41's split can't see: the split is per-document, but
  // near-duplicate content leaks across documents. Truth side = d06's
  // registered MinHash pairs at est-Jaccard >= 0.5; fold side needs NO
  // corpus join at all — the content-addressed payoff: fold =
  // hashFold(doc_id) is DERIVED, so both folds compute as projections on
  // the (tiny) pair list. Output = leaked-pair counts per (fold_a,
  // fold_b); the fix for flagged mass is d10-style clustering before
  // splitting (assign clusters, not docs, to folds).
  private val d52: (String, QFn, Option[String]) = ("d52_fold_leakage",
    (s, d) => Dedup.minhashLsh(docs(s, d), "doc_id", "text", n = 3,
        k = MINHASH_K, bands = MINHASH_BANDS)
      .filter(col("est_jaccard") >= 0.5)
      .select(col("a"), col("b"),
        Sampling.hashFold(col("a"), 5).as("fold_a"),
        Sampling.hashFold(col("b"), 5).as("fold_b"))
      .filter(col("fold_a") =!= col("fold_b"))
      .groupBy(col("fold_a"), col("fold_b"))
      .agg(count(lit(1)).as("leaked_pairs")),
    Some(s"""WITH p AS (${QueriesDocs.minhashPairsSql}),
      |f AS (SELECT a, b,
      |  ${md5HashSql("a::VARCHAR || '#fold'")} % 5 AS fold_a,
      |  ${md5HashSql("b::VARCHAR || '#fold'")} % 5 AS fold_b
      |  FROM p WHERE est_jaccard >= 0.5)
      |SELECT fold_a, fold_b, count(*)::BIGINT AS leaked_pairs
      |FROM f WHERE fold_a <> fold_b GROUP BY 1, 2""".stripMargin))

  // ------------------------------------- duplicate-span excision (substring dedup)
  // d44 strips spans hot across MANY docs; d30 only MEASURES duplication.
  // This is the rewrite pass between them — the suffix-array substring
  // dedup of Lee et al. 2022 as posting arithmetic: every 8-token span
  // occurring more than once in the corpus survives only at its first
  // occurrence (min packed doc·10⁶+spos key), other occurrences' tokens
  // are cut, survivors reassemble in order, and the cleaned text ships
  // as md5 so the whole rewrite is hash-verified.
  private val d53: (String, QFn, Option[String]) = ("d53_span_excise",
    (s, d) => Dedup.exciseDupSpans(docs(s, d), "doc_id", "text", k = 8),
    Some(s"""WITH toks AS (SELECT doc_id AS doc, $tokSql AS w
      |  FROM documents),
      |tok AS (SELECT doc, unnest(range(1, len(w) + 1)) AS pos,
      |    unnest(w) AS t FROM toks),
      |gr AS (SELECT doc,
      |    unnest(range(1, greatest(len(w) - 6, 1))) AS spos,
      |    unnest(list_transform(range(1, greatest(len(w) - 6, 1)),
      |      i -> array_to_string(list_slice(w, i, i + 7), ' '))) AS g
      |  FROM toks),
      |kp AS (SELECT g, min(doc * 1000000 + spos) AS keep,
      |    count(*) AS occ FROM gr GROUP BY 1),
      |exc AS (SELECT doc, spos FROM gr JOIN kp USING (g)
      |  WHERE occ >= 2 AND doc * 1000000 + spos <> keep),
      |cov AS (SELECT DISTINCT doc, spos + o AS pos
      |  FROM exc, (SELECT unnest(range(0, 8)) AS o) os),
      |kept AS (SELECT tok.doc, tok.pos, tok.t FROM tok
      |  LEFT JOIN cov ON cov.doc = tok.doc AND cov.pos = tok.pos
      |  WHERE cov.doc IS NULL),
      |reb AS (SELECT doc, string_agg(t, ' ' ORDER BY pos) AS clean
      |  FROM kept GROUP BY 1),
      |nx AS (SELECT doc, count(*) AS n_excised FROM cov GROUP BY 1)
      |SELECT t.doc, len(t.w)::BIGINT AS n_tokens,
      | coalesce(nx.n_excised, 0)::BIGINT AS n_excised,
      | md5(coalesce(reb.clean, '')) AS clean_fp
      |FROM toks t LEFT JOIN nx USING (doc)
      |LEFT JOIN reb USING (doc)""".stripMargin))

  // ---------------------------------- persisted inverted index (text e13)
  // Build-once-serve-many for lexical retrieval: impact-pruned BM25
  // postings (top-50 docs per term by weight — the Lucene/WAND static
  // pruning trade) written to parquet, re-read, and served for d23's
  // query terms. Weights are integer micros (floor(w·1e6) — tie-free
  // cross-engine), so serving is an exact integer sum; the top-10 also
  // carries each doc's FULL unpruned BM25 (d23's formula) so the driver
  // hash locks index path and direct path together — pruning loss on
  // this corpus is visible as score_micro/1e6 vs bm25_full divergence.
  /** d54's impact-pruned postings as factored DuckDB CTEs (t, dl, tfc,
    * st, dft, wt, pr) — shared by d54's own lock and d90's RAG pack, so
    * the retrieval substrate both replay is literally one SQL text. */
  private val postingsCtesSql: String =
    s"""t AS (SELECT doc_id AS doc, $tokSql AS w FROM documents),
      |dl AS (SELECT doc, len(w)::DOUBLE AS dl FROM t),
      |tfc AS (SELECT doc, term, count(*)::DOUBLE AS tf
      |  FROM (SELECT doc, unnest(w) AS term FROM t) GROUP BY 1, 2),
      |st AS (SELECT count(*)::DOUBLE AS nd, avg(dl) AS avgdl FROM dl),
      |dft AS (SELECT term, count(*)::DOUBLE AS dft FROM tfc GROUP BY 1),
      |wt AS (SELECT tfc.doc, tfc.term,
      |  floor(ln(1.0 + (nd - dft + 0.5) / (dft + 0.5))
      |    * (tf * (1.2 + 1.0)
      |       / (tf + 1.2 * ((1 - 0.75) + 0.75 * dl / avgdl)))
      |    * 1e6)::BIGINT AS wm
      |  FROM tfc JOIN dl USING (doc) JOIN dft USING (term), st),
      |pr AS (SELECT term, doc, wm, row_number() OVER (
      |    PARTITION BY term ORDER BY wm DESC, doc ASC) AS rn FROM wt)"""
      .stripMargin

  private val d54: (String, QFn, Option[String]) = ("d54_inverted_index",
    (s, d) => {
      val dir = Queries.rtDir("d54", d)
      Relevance.bm25IndexPostings(docs(s, d), "doc_id", "text",
        maxPostings = 50).write.mode("overwrite").parquet(dir)
      val top = Relevance.bm25IndexQuery(s.read.parquet(dir),
        QueriesDocs.bm25Terms, k = 10)
      val full = Relevance.bm25(docs(s, d), "doc_id", "text",
        QueriesDocs.bm25Terms)
      top.join(full, top("doc") === full("doc_id"))
        .select(col("doc"), col("score_micro"),
          col("rank").cast("long").as("rank"),
          col("bm25").as("bm25_full"))
    },
    Some {
      val qTerms = QueriesDocs.bm25Terms.map(t => s"'$t'").mkString(", ")
      s"""WITH $postingsCtesSql,
        |q AS (SELECT doc, sum(wm)::BIGINT AS score_micro FROM pr
        |  WHERE rn <= 50 AND term IN ($qTerms) GROUP BY doc),
        |top AS (SELECT doc, score_micro, row_number() OVER (
        |    ORDER BY score_micro DESC, doc ASC) AS rank
        |  FROM q ORDER BY score_micro DESC, doc ASC LIMIT 10),
        |fl AS (SELECT doc_id, bm25 FROM (${QueriesDocs.bm25FullSql}))
        |SELECT top.doc, top.score_micro, top.rank, fl.bm25 AS bm25_full
        |FROM top JOIN fl ON fl.doc_id = top.doc""".stripMargin
    })

  // ------------------------------- BPE-style subword encoding (d45's gap)
  // d45 encodes whole-token ids; real tokenizers encode SUBWORDS against a
  // committed merge table. Subword.encode applies the merge list in rank
  // order, each exhaustively (= standard BPE encode — see Subword.scala for
  // the equivalence argument), as a pure chain of native replace() calls:
  // no UDF, no shuffle, embarrassingly parallel per document, and replayed
  // VERBATIM by the oracle because replace() has identical
  // non-overlapping left-scan semantics in both engines. Published as
  // counts + an md5 of the full encoded stream so the driver hash locks
  // the entire encoding, not a summary.
  private val d55: (String, QFn, Option[String]) = ("d55_bpe_subwords",
    (s, d) => {
      val toks = TextOps.tokens(col("text"))
      val enc = Subword.encode(array_join(toks, " "),
        Subword.defaultMerges)
      docs(s, d).select(col("doc_id"), toks.as("_t"), enc.as("_e"))
        .select(col("doc_id"),
          size(col("_t")).cast("long").as("n_tokens"),
          Subword.unitCount(col("_e"), size(col("_t"))).as("n_subwords"),
          md5(col("_e")).as("enc_fp"))
    },
    Some(s"""WITH e AS (SELECT doc_id, len($tokSql)::BIGINT AS n_tokens,
      |  $bpeEncSql AS enc FROM documents)
      |SELECT doc_id, n_tokens,
      | CASE WHEN n_tokens = 0 THEN 0 ELSE
      |   length(enc) - length(replace(enc, '·', '')) - 1
      |   - (n_tokens - 1) END::BIGINT AS n_subwords,
      | md5(enc) AS enc_fp FROM e""".stripMargin))

  // d55/d83's shared oracle fragment: the committed merge table applied
  // as d55's sentinel-framed replace chain (lazy: referenced from d55's
  // initializer, which runs first in declaration order).
  private lazy val bpeEncSql: String = {
    val framed =
      s"'·' || regexp_replace(array_to_string($tokSql, ' '), " +
        "'(.)', '\\1·', 'g')"
    Subword.defaultMerges.foldLeft(framed) {
      case (acc, (x, y)) =>
        (1 to 6).foldLeft(acc)((c, _) =>
          s"replace($c, '·${x}·${y}·', '·${x}${y}·')")
    }
  }

  // ------------------------------------------ tokenizer fertility audit
  // The tokenizer-health table per source: bytes, whitespace words, BPE
  // subwords (d55's committed merge table), and the two ratios every
  // multilingual tokenizer review reads — FERTILITY (subwords per word;
  // high = the tokenizer fragments this source, its effective context
  // shrinks and its per-token price rises) and BYTES PER SUBWORD
  // (compression; low = the vocabulary undersells this source). One
  // linear projection + a source-count aggregation, decimal-free since
  // the counts are integers and the ratios round at publish.
  private val d83: (String, QFn, Option[String]) = ("d83_bpe_fertility",
    (s, d) => {
      val toks = TextOps.tokens(col("text"))
      val enc = Subword.encode(array_join(toks, " "),
        Subword.defaultMerges)
      docs(s, d).select(col("source"),
          octet_length(coalesce(col("text"), lit(""))).cast("long")
            .as("_nb"),
          size(toks).cast("long").as("_nt"),
          Subword.unitCount(enc, size(toks)).as("_ns"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("_nb")).as("n_bytes"),
          sum(col("_nt")).as("n_tokens"), sum(col("_ns")).as("n_subwords"))
        .withColumn("fertility", when(col("n_tokens") > 0,
          round(col("n_subwords").cast("double") / col("n_tokens"), 6)))
        .withColumn("bytes_per_subword", when(col("n_subwords") > 0,
          round(col("n_bytes").cast("double") / col("n_subwords"), 6)))
    },
    Some(s"""WITH e AS (SELECT source,
      |    octet_length(encode(coalesce(text, '')))::BIGINT AS nb,
      |    len($tokSql)::BIGINT AS nt, $bpeEncSql AS enc
      |  FROM documents),
      |u AS (SELECT source, nb, nt,
      |    CASE WHEN nt = 0 THEN 0 ELSE
      |      length(enc) - length(replace(enc, '·', '')) - 1 - (nt - 1)
      |    END::BIGINT AS ns
      |  FROM e)
      |SELECT source, count(*)::BIGINT AS n_docs, sum(nb)::BIGINT AS n_bytes,
      |  sum(nt)::BIGINT AS n_tokens, sum(ns)::BIGINT AS n_subwords,
      |  CASE WHEN sum(nt) > 0 THEN
      |    round(sum(ns)::DOUBLE / sum(nt), 6) END AS fertility,
      |  CASE WHEN sum(ns) > 0 THEN
      |    round(sum(nb)::DOUBLE / sum(ns), 6) END AS bytes_per_subword
      |FROM u GROUP BY source""".stripMargin))

  // ----------------------------------------------- BPE merge LEARNING
  // d55 encodes against a committed merge table; this derives one — the
  // trainer half of the tokenizer story. The corpus collapses ONCE to
  // its word histogram (the only corpus-sized step: one map-side-
  // combinable shuffle), then each of the 6 learning iterations runs
  // over that vocabulary-sized table: explode adjacent sentinel-unit
  // pairs weighted by word count, argmax under (count DESC, x, y) — a
  // total order, so both engines pick the same winner on ties — and
  // rewrite the histogram with the winning merge through the same
  // native replace chain d55 applies (column-arg replace over the
  // broadcast 1-row winner; nothing is collected). The oracle replays
  // the entire loop as a CTE chain, its own argmax included — integer
  // counts and ASCII ordering make every iteration engine-identical.
  private val d56: (String, QFn, Option[String]) = ("d56_bpe_learn",
    (s, d) => {
      val words = docs(s, d)
        .select(explode(TextOps.tokens(col("text"))).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      Subword.learnMerges(words, "word", "cnt", nMerges = 6)
    },
    Some {
      def rep6(src: String): String = (1 to 6).foldLeft(src)((c, _) =>
        s"replace($c, '·' || t.x || '·' || t.y || '·', " +
          "'·' || t.x || t.y || '·')")
      val its = (1 to 6).map { k =>
        s"""p$k AS (SELECT u[i] AS x, u[i + 1] AS y, cnt FROM (
           |  SELECT u, cnt, unnest(range(1, len(u))) AS i FROM (
           |    SELECT str_split(trim(enc, '·'), '·') AS u, cnt
           |    FROM it${k - 1}))),
           |t$k AS (SELECT $k::BIGINT AS rank, x, y, x || y AS merged,
           |   sum(cnt)::BIGINT AS cnt
           |  FROM p$k WHERE x <> y GROUP BY x, y
           |  ORDER BY cnt DESC, x, y LIMIT 1),
           |it$k AS (SELECT ${rep6("enc")} AS enc, it${k - 1}.cnt AS cnt
           |  FROM it${k - 1}, t$k t)""".stripMargin
      }.mkString(",\n")
      s"""WITH w AS (SELECT word, count(*)::BIGINT AS cnt FROM (
        |  SELECT unnest($tokSql) AS word FROM documents) GROUP BY 1),
        |it0 AS (SELECT '·' || regexp_replace(word, '(.)', '\\1·', 'g')
        |    AS enc, cnt FROM w),
        |$its
        |${(1 to 6).map(k => s"SELECT * FROM t$k").mkString(" UNION ALL ")}"""
        .stripMargin
    })

  // ------------------------------------------- end-to-end curation funnel
  // The pipeline a 100 TB pre-training run actually executes, as ONE
  // registered query: quality floor → exact dedup → MinHash near-dup
  // prune → decontamination, with one summary row PER STAGE (survivor
  // count, token total, and two order-independent id checksums) so the
  // driver hash locks the exact surviving document SET after every stage,
  // not just the final rollup (d46 verifies the final rollup; this
  // verifies the funnel). Each stage runs on the previous stage's
  // survivors — the realistic composition order — and reuses the
  // registered op shapes: the corpus is scanned ONCE into an eager
  // checkpoint; exact keepers are a fingerprint groupBy; near-dup drops
  // are d06's band-join pairs (pair-prune policy: drop the greater id of
  // each ≥0.5-est pair — the cheap pass; d10 is the registered
  // full-connected-components shape); contamination is d14's eval-shingle
  // semi-join against the FULL corpus eval set (the eval set is external
  // to the funnel). Stage summaries are 1-row aggregates unioned —
  // nothing driver-side. id_chk sums md5Hash(id) % p — the hash makes it
  // NONLINEAR in id (a plain multiplicative ((id%p)*K)%p form collides on
  // equal-sum set swaps like {1,4}→{2,3}; FunnelSpec pins this), the mod
  // keeps terms < 1e9 so the BIGINT sum is safe to ~9e9 docs per stage.
  private val c01: (String, QFn, Option[String]) = ("c01_curation_funnel",
    (s, d) => {
      val P = 1000000007L
      val base = docs(s, d).select(col("doc_id"), col("text"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"),
          TextOps.qualityCols(col("text"), TextOps.tokens(col("text"))).last,
          TextOps.fingerprint(col("text")).as("_fp"),
          (col("doc_id") % 25 === 0).as("_eval"))
        .localCheckpoint(true)
      def stage(id: Int, name: String, df: DataFrame): DataFrame =
        df.agg(count(lit(1)).as("n_docs"),
            coalesce(sum(col("n_tokens")), lit(0L)).as("n_tokens"),
            coalesce(sum(col("doc_id")), lit(0L)).as("id_sum"),
            coalesce(sum(
              Dedup.md5Hash(col("doc_id").cast("string"), lit(0)) % P),
              lit(0L)).as("id_chk"))
          .select(lit(id.toLong).as("stage_id"), lit(name).as("stage"),
            col("n_docs"), col("n_tokens"), col("id_sum"), col("id_chk"))
      val s1 = base.filter(col("quality_score") >= 0.5)
      val keep = s1.groupBy(col("_fp")).agg(min(col("doc_id")).as("doc_id"))
      val s2 = s1.join(keep.select(col("doc_id")), Seq("doc_id"))
      val drops = Dedup.minhashLsh(s2.select(col("doc_id"), col("text")),
          "doc_id", "text", n = 3, k = MINHASH_K, bands = MINHASH_BANDS)
        .filter(col("est_jaccard") >= 0.5)
        .select(col("b").as("doc_id")).distinct()
      // stage(3) AND the release stage both consume s3, and the physical
      // plan duplicated the ENTIRE minhash-prune subtree per consumer
      // (measured r18: plan nodes 28-73 re-execute verbatim as 87-132,
      // zero ReusedExchange across the union branches). Checkpoint the
      // NARROW survivor projection — just the columns the stage
      // aggregates and the release filter read — so the band join and
      // est-jaccard scoring run once (guide §2.3/§2.4; survivor-count
      // rows × 3 columns, tiny).
      val s3 = s2.join(drops, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("n_tokens"), col("_eval"))
        .localCheckpoint(true)
      val contam = Dedup.decontaminate(docs(s, d), "doc_id", "text", n = 4,
          isEval = col("doc_id") % 25 === 0)
        .filter(col("contaminated") === 1)
        .select(col("doc").as("doc_id"))
      val s4 = s3.filter(!col("_eval"))
        .join(contam, Seq("doc_id"), "left_anti")
      Seq(stage(0, "raw", base), stage(1, "quality", s1),
        stage(2, "exact_dedup", s2), stage(3, "neardup_prune", s3),
        stage(4, "release", s4)).reduce(_.unionByName(_))
    },
    Some {
      val chk = s"${md5HashSql("doc_id::VARCHAR || '#0'")} % 1000000007"
      def st(id: Int, name: String, src: String) =
        s"""SELECT $id::BIGINT AS stage_id, '$name' AS stage,
           | count(*)::BIGINT AS n_docs,
           | coalesce(sum(n_tokens), 0)::BIGINT AS n_tokens,
           | coalesce(sum(doc_id), 0)::BIGINT AS id_sum,
           | coalesce(sum($chk), 0)::BIGINT AS id_chk FROM $src""".stripMargin
      s"""WITH base AS (SELECT doc_id, text,
        |  len($tokSql)::BIGINT AS n_tokens, $qScoreSql AS q,
        |  md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))
        |    AS fp,
        |  (doc_id % 25 = 0) AS is_eval FROM documents),
        |s1 AS (SELECT * FROM base WHERE q >= 0.5),
        |keep AS (SELECT min(doc_id) AS doc_id FROM s1 GROUP BY fp),
        |s2 AS (SELECT s1.* FROM s1 JOIN keep USING (doc_id)),
        |toks AS (SELECT doc_id, $tokSql AS w FROM s2),
        |sh AS (SELECT DISTINCT doc_id, s FROM (SELECT doc_id,
        |  unnest(list_transform(range(1, greatest(len(w) - 1, 1)),
        |    i -> array_to_string(list_slice(w, i, i + 2), ' '))) AS s
        |  FROM toks)),
        |mh AS (SELECT doc_id, j,
        |    min(${md5HashSql("s || '#' || j")}) AS sig
        |  FROM sh, (SELECT unnest(range(0, $MINHASH_K)) AS j) js
        |  GROUP BY doc_id, j),
        |bk AS (SELECT doc_id, j // ${MINHASH_K / MINHASH_BANDS} AS band,
        |    md5(string_agg(sig::VARCHAR, ',' ORDER BY j)) AS bkey
        |  FROM mh GROUP BY doc_id, band),
        |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        |  FROM bk x JOIN bk y ON x.band = y.band AND x.bkey = y.bkey
        |   AND x.doc_id < y.doc_id),
        |drops AS (SELECT DISTINCT b AS doc_id FROM (
        |  SELECT c.a, c.b,
        |   round(sum(CASE WHEN ma.sig = mb.sig THEN 1 ELSE 0 END)
        |     / ${MINHASH_K.toDouble}, 6) AS ej
        |  FROM cand c JOIN mh ma ON ma.doc_id = c.a
        |   JOIN mh mb ON mb.doc_id = c.b AND mb.j = ma.j
        |  GROUP BY c.a, c.b) WHERE ej >= 0.5),
        |s3 AS (SELECT s2.* FROM s2 ANTI JOIN drops USING (doc_id)),
        |ctoks AS (SELECT doc_id, $tokSql AS w FROM documents),
        |csh AS (SELECT DISTINCT doc_id, s FROM (SELECT doc_id,
        |  unnest(list_transform(range(1, greatest(len(w) - 2, 1)),
        |    i -> array_to_string(list_slice(w, i, i + 3), ' '))) AS s
        |  FROM ctoks)),
        |evs AS (SELECT DISTINCT s FROM csh WHERE doc_id % 25 = 0),
        |contam AS (SELECT DISTINCT csh.doc_id FROM csh JOIN evs USING (s)
        |  WHERE doc_id % 25 <> 0),
        |s4 AS (SELECT s3.* FROM s3 ANTI JOIN contam USING (doc_id)
        |  WHERE NOT is_eval)
        |${st(0, "raw", "base")} UNION ALL ${st(1, "quality", "s1")}
        |UNION ALL ${st(2, "exact_dedup", "s2")}
        |UNION ALL ${st(3, "neardup_prune", "s3")}
        |UNION ALL ${st(4, "release", "s4")}""".stripMargin
    })

  // ------------------------------------------- deterministic epoch shuffle
  // The global training-order shuffle before each pass: content-addressed
  // (shard, pos) from two independent md5 salts — d50 assigns shards, this
  // ALSO orders within them, and a new epoch value re-permutes everything
  // with zero RNG state. The only exchange is the window's hash partition
  // on 8 shard keys (never a global range sort — orderBy(hash) would have
  // the range partitioner sample the corpus; zipWithIndex would serialize
  // on the driver). Readers consume shards round-robin.
  private val d57: (String, QFn, Option[String]) = ("d57_epoch_shuffle",
    (s, d) => Sampling.epochShuffle(docs(s, d).select(col("doc_id")),
        col("doc_id"), shards = 8, epoch = 2)
      .select(col("doc_id"), col("shard"), col("pos")),
    Some(s"""WITH a AS (SELECT doc_id,
      |  ${md5HashSql("doc_id::VARCHAR || '#shuf2.s'")} % 8 AS shard
      |  FROM documents)
      |SELECT doc_id, shard, row_number() OVER (PARTITION BY shard
      |  ORDER BY ${md5HashSql("doc_id::VARCHAR || '#shuf2.p'")}, doc_id)
      |  AS pos FROM a""".stripMargin))

  // --------------------------------------------- sequence packing
  // The concat-and-chunk step between curation and the trainer (the
  // GPT-style packing every LLM pipeline runs): docs concatenated in a
  // deterministic order within (source, shard) streams and cut into
  // 128-token chunks — d74 publishes each doc's placement (first_chunk /
  // chunk_offset / last_chunk, all from one per-stream long cumsum), d75
  // the per-stream operational readout (chunks the trainer sees + the
  // exact padding waste the last partial chunk costs, the number
  // capacity is tuned against). Packing is per-shard BY DESIGN — the
  // 100 TB form cannot have a corpus-wide token cumsum; shards are
  // content-addressed (d57's md5 idiom) so the layout is stable across
  // runs, engines and partitionings, and both oracles replay the exact
  // cumsum/floor-div arithmetic.
  private val packCap = 128
  private val packShards = 4
  private val packStreamsSql =
    s"""pk AS (SELECT doc_id, source,
      |    len($tokSql)::BIGINT AS n_tokens,
      |    ${md5HashSql("doc_id::VARCHAR || '#pack.s'")} % $packShards
      |      AS shard
      |  FROM documents),
      |pko AS (SELECT doc_id, source, shard, n_tokens,
      |    coalesce(sum(n_tokens) OVER (PARTITION BY source, shard
      |      ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
      |      AS st
      |  FROM pk WHERE n_tokens > 0)""".stripMargin

  private val d74: (String, QFn, Option[String]) = ("d74_sequence_packing",
    (s, d) => Sampling.packSequences(
        docs(s, d).select(col("doc_id"), col("source"), col("text")),
        col("doc_id"), col("source"),
        size(TextOps.tokens(col("text"))), capacity = packCap,
        shards = packShards)
      .select(col("doc_id"), col("source"), col("shard"), col("n_tokens"),
        col("first_chunk"), col("chunk_offset"), col("last_chunk")),
    Some(s"""WITH $packStreamsSql
      |SELECT doc_id, source, shard, n_tokens,
      |  (st // $packCap)::BIGINT AS first_chunk,
      |  (st % $packCap)::BIGINT AS chunk_offset,
      |  ((st + n_tokens - 1) // $packCap)::BIGINT AS last_chunk
      |FROM pko""".stripMargin))

  private val d76: (String, QFn, Option[String]) = ("d76_chunk_manifest",
    (s, d) => Sampling.chunkManifest(
        Sampling.packSequences(
          docs(s, d).select(col("doc_id"), col("source"), col("text")),
          col("doc_id"), col("source"),
          size(TextOps.tokens(col("text"))), capacity = packCap,
          shards = packShards),
        capacity = packCap)
      .select(col("doc_id"), col("source"), col("shard"), col("chunk"),
        col("tok_begin"), col("tok_len")),
    Some(s"""WITH $packStreamsSql,
      |sp AS (SELECT doc_id, source, shard, st, st + n_tokens AS en,
      |    unnest(range(st // $packCap, (st + n_tokens - 1) // $packCap + 1))
      |      AS chunk
      |  FROM pko)
      |SELECT doc_id, source, shard, chunk::BIGINT AS chunk,
      |  (greatest(st, chunk * $packCap) - chunk * $packCap)::BIGINT
      |    AS tok_begin,
      |  (least(en, (chunk + 1) * $packCap)
      |    - greatest(st, chunk * $packCap))::BIGINT AS tok_len
      |FROM sp""".stripMargin))

  private val d75: (String, QFn, Option[String]) = ("d75_packing_stats",
    (s, d) => Sampling.packingStats(
      Sampling.packSequences(
        docs(s, d).select(col("doc_id"), col("source"), col("text")),
        col("doc_id"), col("source"),
        size(TextOps.tokens(col("text"))), capacity = packCap,
        shards = packShards),
      col("source"), capacity = packCap),
    Some(s"""WITH $packStreamsSql
      |SELECT source, shard, count(*)::BIGINT AS n_docs,
      |  sum(n_tokens)::BIGINT AS n_tokens,
      |  ((sum(n_tokens) + ${packCap - 1}) // $packCap)::BIGINT AS n_chunks,
      |  (((sum(n_tokens) + ${packCap - 1}) // $packCap) * $packCap
      |    - sum(n_tokens))::BIGINT AS waste_tokens
      |FROM pko GROUP BY source, shard""".stripMargin))

  // --------------------------------- data-parallel training schedule
  // Closes the curation → trainer lineage: d74's packed chunks, epoch-
  // shuffled (content-addressed, the d57/epochShuffle idiom) and
  // round-robin-linearized into the DDP consumption order — one row per
  // chunk with (shuffle_shard, pos, global_idx, rank, step), so "what
  // does GPU r compute at step t" is answerable — and auditable —
  // on any engine. global_idx = (pos−1)·shards + shard is injective
  // (shard is the residue); rank/step are its mod/div by world size 4.
  // Tail gaps in global_idx are the sampler's drop_last artifact,
  // surfaced not hidden. One shard-hash exchange beyond the pack.
  private val d81: (String, QFn, Option[String]) = ("d81_train_schedule",
    (s, d) => {
      val chunks = Sampling.chunkManifest(
          Sampling.packSequences(
            docs(s, d).select(col("doc_id"), col("source"), col("text")),
            col("doc_id"), col("source"),
            size(TextOps.tokens(col("text"))), capacity = packCap,
            shards = packShards),
          capacity = packCap)
        .select(col("source"), col("shard").as("pack_shard"), col("chunk"))
        .distinct()
      Sampling.trainSchedule(chunks,
          concat_ws("|", col("source"), col("pack_shard"), col("chunk")),
          shards = 8, epoch = 1, worldSize = 4)
        .select(col("source"), col("pack_shard"), col("chunk"),
          col("shard").as("shuffle_shard"), col("pos"), col("global_idx"),
          col("rank"), col("step"))
    },
    Some(s"""WITH $packStreamsSql,
      |ch0 AS (SELECT source, shard AS pack_shard,
      |    unnest(range(st // $packCap,
      |      (st + n_tokens - 1) // $packCap + 1)) AS chunk
      |  FROM pko),
      |ch AS (SELECT DISTINCT source, pack_shard, chunk FROM ch0),
      |k AS (SELECT source, pack_shard, chunk,
      |    source || '|' || pack_shard::VARCHAR || '|' || chunk::VARCHAR
      |      AS ck
      |  FROM ch),
      |sh AS (SELECT source, pack_shard, chunk, ck,
      |    ${md5HashSql("ck || '#sched1.s'")} % 8 AS shuffle_shard,
      |    ${md5HashSql("ck || '#sched1.p'")} AS hp
      |  FROM k),
      |o AS (SELECT source, pack_shard, chunk, shuffle_shard,
      |    row_number() OVER (PARTITION BY shuffle_shard
      |      ORDER BY hp, ck)::BIGINT AS pos
      |  FROM sh)
      |SELECT source, pack_shard, chunk, shuffle_shard, pos,
      |  ((pos - 1) * 8 + shuffle_shard)::BIGINT AS global_idx,
      |  (((pos - 1) * 8 + shuffle_shard) % 4)::BIGINT AS rank,
      |  (((pos - 1) * 8 + shuffle_shard) // 4)::BIGINT AS step
      |FROM o""".stripMargin))

  // ------------------------------------- training-time mix visibility
  // The audit on top of d81: join the schedule with each chunk's actual
  // token mass (manifest segment sums — capacity everywhere except each
  // stream's last partial chunk) and aggregate per (50-step bucket ×
  // source): the data mix AS THE MODEL SEES IT over training time. A
  // well-shuffled schedule shows every source in every bucket at its
  // corpus share; drift here means the shuffle or the packing leaks
  // order. Same content-addressed schedule as d81 (identical chunk keys
  // → identical positions), so the two rows cross-check each other.
  private val d82: (String, QFn, Option[String]) = ("d82_step_mix",
    (s, d) => {
      val cm = Sampling.chunkManifest(
          Sampling.packSequences(
            docs(s, d).select(col("doc_id"), col("source"), col("text")),
            col("doc_id"), col("source"),
            size(TextOps.tokens(col("text"))), capacity = packCap,
            shards = packShards),
          capacity = packCap)
        .groupBy(col("source"), col("shard").as("pack_shard"),
          col("chunk"))
        .agg(sum(col("tok_len")).as("chunk_tokens"))
      Sampling.trainSchedule(cm,
          concat_ws("|", col("source"), col("pack_shard"), col("chunk")),
          shards = 8, epoch = 1, worldSize = 4)
        .withColumn("step_bucket", expr("step div 50"))
        .groupBy(col("step_bucket"), col("source"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(col("chunk_tokens")).as("n_tokens"))
    },
    Some(s"""WITH $packStreamsSql,
      |sp AS (SELECT source, shard AS pack_shard, st,
      |    st + n_tokens AS en,
      |    unnest(range(st // $packCap,
      |      (st + n_tokens - 1) // $packCap + 1)) AS chunk
      |  FROM pko),
      |cm AS (SELECT source, pack_shard, chunk,
      |    sum(least(en, (chunk + 1) * $packCap)
      |      - greatest(st, chunk * $packCap))::BIGINT AS chunk_tokens
      |  FROM sp GROUP BY source, pack_shard, chunk),
      |k AS (SELECT source, pack_shard, chunk, chunk_tokens,
      |    source || '|' || pack_shard::VARCHAR || '|' || chunk::VARCHAR
      |      AS ck
      |  FROM cm),
      |sh AS (SELECT source, chunk_tokens, ck,
      |    ${md5HashSql("ck || '#sched1.s'")} % 8 AS shuffle_shard,
      |    ${md5HashSql("ck || '#sched1.p'")} AS hp
      |  FROM k),
      |o AS (SELECT source, chunk_tokens, shuffle_shard,
      |    row_number() OVER (PARTITION BY shuffle_shard
      |      ORDER BY hp, ck)::BIGINT AS pos
      |  FROM sh)
      |SELECT ((((pos - 1) * 8 + shuffle_shard) // 4) // 50)::BIGINT
      |    AS step_bucket, source,
      |  count(*)::BIGINT AS n_chunks, sum(chunk_tokens)::BIGINT AS n_tokens
      |FROM o GROUP BY step_bucket, source""".stripMargin))

  // ------------------------------------------- UniMax epoch allocation
  // The budget-CONSTRAINED member of the mix family (Chung et al., ICLR
  // 2023): given per-source token mass, a total token budget of 180% of
  // the corpus and a 2-epoch repeat cap, derive each source's epoch
  // count — small sources saturate at the cap, every larger source gets
  // the SAME fair share of what's left (the closed prefix-sum form,
  // ops/Sampling.uniMaxAllocation). d47 flattens with no budget, d58
  // takes epochs as GIVEN — d77 is where those epochs come from. All
  // branch decisions are 64-bit-integer exact (budget = total*9 DIV 5);
  // the oracle replays rank, prefix sum, r* and the fair share verbatim.
  /** d77's allocation as a factored function + SQL (source, n_tokens,
    * cap_tokens, alloc_tokens, epochs, saturated) — d88's repeat-value
    * audit consumes the SAME allocation its own d77 row verifies. */
  private def uniMaxDf(s: SparkSession, d: String): DataFrame =
    Sampling.uniMaxAllocation(
        docs(s, d).select(col("source"), col("text")),
        col("source"), size(TextOps.tokens(col("text"))),
        maxEpochs = 2, budgetNum = 9, budgetDen = 5)
      .select(col("source"), col("n_tokens"), col("cap_tokens"),
        col("alloc_tokens"), col("epochs"), col("saturated"))

  private val uniMaxSql: String =
    s"""WITH tok AS (SELECT source,
      |    sum(len($tokSql))::BIGINT AS n_tokens
      |  FROM documents GROUP BY source),
      |t AS (SELECT ((sum(n_tokens) * 9) // 5)::BIGINT AS budget,
      |    count(*)::BIGINT AS nd FROM tok),
      |o AS (SELECT source, n_tokens, (n_tokens * 2)::BIGINT AS cap_tokens,
      |    row_number() OVER (ORDER BY n_tokens, source)::BIGINT AS r,
      |    coalesce(sum(n_tokens * 2) OVER (ORDER BY n_tokens, source
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
      |      AS p
      |  FROM tok),
      |rs AS (SELECT min(CASE WHEN cap_tokens * (nd - r + 1) > budget - p
      |    THEN r END) AS rstar FROM o, t),
      |fs AS (SELECT min(CASE WHEN r = rstar
      |    THEN (budget - p)::DOUBLE / (nd - rstar + 1) END) AS fs
      |  FROM o, t, rs),
      |a AS (SELECT source, n_tokens, cap_tokens,
      |    round(CASE WHEN rstar IS NULL OR r < rstar
      |      THEN cap_tokens::DOUBLE ELSE fs END, 6) AS alloc_tokens,
      |    (CASE WHEN rstar IS NULL OR r < rstar
      |      THEN 1 ELSE 0 END)::BIGINT AS saturated
      |  FROM o, t, rs, fs)
      |SELECT source, n_tokens, cap_tokens, alloc_tokens,
      |  round(alloc_tokens / n_tokens, 6) AS epochs, saturated
      |FROM a""".stripMargin

  private val d77: (String, QFn, Option[String]) = ("d77_unimax_epochs",
    (s, d) => uniMaxDf(s, d),
    Some(uniMaxSql))

  // --------------------------------- Bradley–Terry preference strength
  // The leaderboard computation over preference data (the RLHF/arena
  // shape: pairwise "which is better" outcomes → per-item strength).
  // Comparisons are built deterministically — content-addressed buckets,
  // hash-order neighbour pairing (each doc compared at most once, LINEAR,
  // never a pairwise join), cross-source pairs only, winner = higher d03
  // quality score with a doc_id tie-break — then three Bradley–Terry MM
  // iterations on the source-pair table (sources² rows, broadcast-scale
  // forever), anchored by one virtual win+loss against a dummy at 1.0.
  // The oracle replays pairing, aggregation and all three iterations as
  // a finite CTE chain (the q62 decimal-sandwich float policy).
  private val d78: (String, QFn, Option[String]) = ("d78_bradley_terry",
    (s, d) => {
      val base = docs(s, d)
      Preference.bradleyTerry(
        Preference.pairComparisons(
          base.select(col("doc_id"), col("source"),
            TextOps.qualityCols(col("text"), TextOps.tokens(col("text")))
              .last),
          col("doc_id"), col("source"), col("quality_score"),
          buckets = 64, salt = "bt"),
        iters = 3)
        .select(col("item").as("source"), col("n_games"), col("n_wins"),
          col("strength"))
    },
    Some(s"""WITH $btCtesSql
      |SELECT st.item AS source, st.n_games, st.n_wins, s3.s AS strength
      |FROM st JOIN s3 USING (item)""".stripMargin))

  // d78/d80's shared oracle stack: pairing → pair aggregation → three
  // Bradley–Terry MM iterations (s0..s3), as CTE bodies for a WITH.
  // lazy: referenced from d78's initializer, which runs first in
  // declaration order.
  private lazy val btCtesSql: String = {
    val iterCtes = (1 to 3).map { k =>
      s"""d$k AS (SELECT item, CAST(round(sum(t), 6) AS DOUBLE) AS d
         |  FROM (SELECT p.i AS item,
         |      CAST(p.n::DOUBLE / (a.s + b.s) AS DECIMAL(20,10)) AS t
         |    FROM p JOIN s${k - 1} a ON a.item = p.i
         |    JOIN s${k - 1} b ON b.item = p.j
         |    UNION ALL
         |    SELECT p.j AS item,
         |      CAST(p.n::DOUBLE / (a.s + b.s) AS DECIMAL(20,10)) AS t
         |    FROM p JOIN s${k - 1} a ON a.item = p.i
         |    JOIN s${k - 1} b ON b.item = p.j)
         |  GROUP BY item),
         |s$k AS (SELECT st.item,
         |    round((st.n_wins + 1)::DOUBLE
         |      / (d.d + 2.0 / (sp.s + 1.0)), 6) AS s
         |  FROM st JOIN d$k d USING (item)
         |  JOIN s${k - 1} sp USING (item))""".stripMargin
    }.mkString(",\n")
    s"""q AS (SELECT doc_id, source, $qScoreSql AS q
      |  FROM documents),
      |bk AS (SELECT doc_id, source, q,
      |    ${md5HashSql("doc_id::VARCHAR || '#bt'")} % 64 AS bucket,
      |    ${md5HashSql("doc_id::VARCHAR || '#bt.o'")} AS h
      |  FROM q),
      |w AS (SELECT doc_id, source, q, bucket,
      |    row_number() OVER win AS pos,
      |    lead(doc_id) OVER win AS doc_b,
      |    lead(source) OVER win AS src_b,
      |    lead(q) OVER win AS q_b
      |  FROM bk WINDOW win AS (PARTITION BY bucket ORDER BY h, doc_id)),
      |pr AS (SELECT least(source, src_b) AS i,
      |    greatest(source, src_b) AS j,
      |    CASE WHEN q > q_b THEN source WHEN q_b > q THEN src_b
      |      WHEN doc_id < doc_b THEN source ELSE src_b END AS winner
      |  FROM w WHERE pos % 2 = 1 AND doc_b IS NOT NULL
      |    AND source <> src_b),
      |p AS (SELECT i, j, count(*)::BIGINT AS n,
      |    sum(CASE WHEN winner = i THEN 1 ELSE 0 END)::BIGINT AS wi
      |  FROM pr GROUP BY i, j),
      |st AS (SELECT item, sum(n)::BIGINT AS n_games,
      |    sum(w)::BIGINT AS n_wins
      |  FROM (SELECT i AS item, n, wi AS w FROM p
      |    UNION ALL SELECT j AS item, n, n - wi AS w FROM p)
      |  GROUP BY item),
      |s0 AS (SELECT item, 1.0::DOUBLE AS s FROM st),
      |$iterCtes""".stripMargin
  }

  // --------------------------------- Bradley–Terry calibration audit
  // Goodness-of-fit for the d78 leaderboard: per source pair, the
  // model-PREDICTED win probability s_i/(s_i+s_j) against the OBSERVED
  // win rate wi/n, plus the absolute gap — the calibration table an
  // arena operator reads before trusting the ratings (systematic gaps =
  // intransitivity or confounds the scalar model can't express; d79
  // names one). Reuses the fitted strengths; sources² rows, broadcast
  // joins, corpus untouched beyond the shared pairing pass.
  private val d80: (String, QFn, Option[String]) = ("d80_bt_calibration",
    (s, d) => {
      val base = docs(s, d)
      // checkpoint the pair table: it feeds BOTH the fit and the final
      // calibration join — without this the corpus pairing runs twice
      val pairs = Preference.pairComparisons(
        base.select(col("doc_id"), col("source"),
          TextOps.qualityCols(col("text"), TextOps.tokens(col("text")))
            .last),
        col("doc_id"), col("source"), col("quality_score"),
        buckets = 64, salt = "bt").coalesce(1).localCheckpoint(true)
      val str = Preference.bradleyTerry(pairs, iters = 3)
        .select(col("item"), col("strength"))
      pairs
        .join(broadcast(str.toDF("i", "_si")), Seq("i"))
        .join(broadcast(str.toDF("j", "_sj")), Seq("j"))
        .withColumn("p_pred",
          round(col("_si") / (col("_si") + col("_sj")), 6))
        .withColumn("p_obs",
          round(col("wins_i").cast("double") / col("n"), 6))
        .select(col("i"), col("j"), col("n"), col("wins_i"),
          col("p_pred"), col("p_obs"),
          round(abs(col("p_pred") - col("p_obs")), 6).as("abs_err"))
    },
    Some(s"""WITH $btCtesSql,
      |cal AS (SELECT p.i, p.j, p.n, p.wi AS wins_i,
      |    round(a.s / (a.s + b.s), 6) AS p_pred,
      |    round(p.wi::DOUBLE / p.n, 6) AS p_obs
      |  FROM p JOIN s3 a ON a.item = p.i JOIN s3 b ON b.item = p.j)
      |SELECT i, j, n, wins_i, p_pred, p_obs,
      |  round(abs(p_pred - p_obs), 6) AS abs_err
      |FROM cal""".stripMargin))

  // --------------------------------- preference length-bias audit
  // The standard verbosity check on preference data: over d78's EXACT
  // comparison set, does the longer document win more often than its
  // overall win rate says it should? Per source: games, wins, games
  // fielded as the longer side, wins-while-longer/-shorter, and the
  // longer-win share. Here the "preference" is the d03 quality score —
  // whose length-sensitive terms (TTR and stopword ratio fall as docs
  // grow) make it length-CONFOUNDED, and the audit surfaces it hard:
  // the longer side wins ~11% of games against a 50% base rate. Two
  // doc_id equi-joins + one aggregation; counts integer-exact.
  private val d79: (String, QFn, Option[String]) = ("d79_length_bias",
    (s, d) => {
      val base = docs(s, d)
      Preference.lengthBiasAudit(
        Preference.pairOutcomes(
          base.select(col("doc_id"), col("source"),
            TextOps.qualityCols(col("text"), TextOps.tokens(col("text")))
              .last),
          col("doc_id"), col("source"), col("quality_score"),
          buckets = 64, salt = "bt"),
        base.select(col("doc_id"),
          size(TextOps.tokens(col("text"))).cast("long")))
        .select(col("grp").as("source"), col("n_games"), col("n_wins"),
          col("n_longer"), col("wins_longer"), col("wins_shorter"),
          col("longer_win_share"))
    },
    Some(s"""WITH q AS (SELECT doc_id, source, $qScoreSql AS q,
      |    len($tokSql)::BIGINT AS nt FROM documents),
      |bk AS (SELECT doc_id, source, q, nt,
      |    ${md5HashSql("doc_id::VARCHAR || '#bt'")} % 64 AS bucket,
      |    ${md5HashSql("doc_id::VARCHAR || '#bt.o'")} AS h
      |  FROM q),
      |w AS (SELECT doc_id, source, q, nt, bucket,
      |    row_number() OVER win AS pos,
      |    lead(doc_id) OVER win AS doc_b,
      |    lead(source) OVER win AS src_b,
      |    lead(q) OVER win AS q_b,
      |    lead(nt) OVER win AS nt_b
      |  FROM bk WINDOW win AS (PARTITION BY bucket ORDER BY h, doc_id)),
      |oc AS (SELECT doc_id AS ka, source AS ga, nt AS la,
      |    doc_b AS kb, src_b AS gb, nt_b AS lb,
      |    CASE WHEN q > q_b THEN doc_id WHEN q_b > q THEN doc_b
      |      WHEN doc_id < doc_b THEN doc_id ELSE doc_b END AS wk
      |  FROM w WHERE pos % 2 = 1 AND doc_b IS NOT NULL
      |    AND source <> src_b),
      |pa AS (SELECT ga AS source, (wk = ka) AS won,
      |    (la > lb) AS longer, (la < lb) AS shorter FROM oc
      |  UNION ALL SELECT gb, (wk = kb), (lb > la), (lb < la) FROM oc)
      |SELECT source, count(*)::BIGINT AS n_games,
      |  sum(CASE WHEN won THEN 1 ELSE 0 END)::BIGINT AS n_wins,
      |  sum(CASE WHEN longer THEN 1 ELSE 0 END)::BIGINT AS n_longer,
      |  sum(CASE WHEN longer AND won THEN 1 ELSE 0 END)::BIGINT
      |    AS wins_longer,
      |  sum(CASE WHEN shorter AND won THEN 1 ELSE 0 END)::BIGINT
      |    AS wins_shorter,
      |  CASE WHEN sum(CASE WHEN longer THEN 1 ELSE 0 END) > 0 THEN
      |    round(sum(CASE WHEN longer AND won THEN 1 ELSE 0 END)::DOUBLE
      |      / sum(CASE WHEN longer THEN 1 ELSE 0 END), 6) END
      |    AS longer_win_share
      |FROM pa GROUP BY source""".stripMargin))

  // --------------------------------------- fractional-epoch replication
  // The "epochs per domain" mix (weight 2.5 -> two copies each + a
  // deterministic 50% of docs a third; 0.4 -> 40% of docs once): one
  // operator for up- AND down-sampling, copies = floor(w) + (md5-uniform
  // < frac(w)), so E[copies] = w exactly and the multiset is stable
  // across runs/engines/partitionings. d47 can only thin (rate <= 1);
  // this is how low-resource languages actually upsample. The frac
  // thresholds are embedded as exact Scala-computed double literals
  // (Double.toString round-trips bit-exactly — poissonThresholds'
  // discipline), so the oracle replays every copy decision.
  private val langEpochs = Map("en" -> 1.0, "zh" -> 2.5, "de" -> 1.7,
    "es" -> 0.4, "fr" -> 2.0)

  private val d58: (String, QFn, Option[String]) = ("d58_epoch_replicate",
    (s, d) => Sampling.epochReplicate(
        docs(s, d).select(col("doc_id"), col("lang")),
        col("doc_id"), col("lang"), langEpochs)
      .select(col("doc_id"), col("lang"), col("copy")),
    Some {
      val vals = langEpochs.toSeq.sortBy(_._1).map { case (l, w) =>
        s"('$l', ${math.floor(w).toLong}, ${Sampling.fracThreshold(w)})"
      }.mkString(", ")
      s"""WITH w(lang, whole, fracp) AS (VALUES $vals),
        |a AS (SELECT doc_id, d.lang, whole + CASE WHEN
        |    ${md5HashSql("doc_id::VARCHAR || '#rep'")}
        |      / 1152921504606846976.0 < fracp
        |    THEN 1 ELSE 0 END AS n
        |  FROM documents d JOIN w USING (lang))
        |SELECT doc_id, lang, unnest(range(1, n + 1)) AS copy
        |FROM a WHERE n >= 1""".stripMargin
    })

  // ------------------------------------------------ n-gram novelty score
  // "What does this doc ADD" — fraction of a doc's distinct 3-gram
  // shingles first seen (min doc_id) in this doc. Near-zero novelty =
  // content that already exists elsewhere, spread across MANY docs —
  // the mass-duplication signal pairwise dedup (which needs one similar
  // PAIR) dilutes away. Linear in corpus shingle volume: explode → one
  // posting-sized min-agg → join back on the shingle key; no pairs.
  private val d59: (String, QFn, Option[String]) = ("d59_ngram_novelty",
    (s, d) => Dedup.ngramNovelty(docs(s, d), "doc_id", "text", n = 3),
    Some(s"""WITH $shCte,
      |fst AS (SELECT s, min(doc_id) AS first_doc FROM sh GROUP BY s),
      |per AS (SELECT doc_id, count(*)::BIGINT AS n_grams,
      |  sum(CASE WHEN doc_id = first_doc THEN 1 ELSE 0 END)::BIGINT
      |    AS n_novel
      |  FROM sh JOIN fst USING (s) GROUP BY doc_id)
      |SELECT d.doc_id AS doc, coalesce(n_grams, 0) AS n_grams,
      | coalesce(n_novel, 0) AS n_novel,
      | round(coalesce(n_novel::DOUBLE / n_grams::DOUBLE, 0.0), 6)
      |   AS novelty
      |FROM documents d LEFT JOIN per USING (doc_id)""".stripMargin))

  // --------------------------------- cross-source contamination matrix
  // Which sources mirror which: distinct shared 3-gram shingles per source
  // pair, normalized by the smaller side's vocabulary (containment — size
  // imbalance washes Jaccard out). High cells mean per-source mixing
  // weights double-count that content. Pair fan-out is keyed on the
  // shingle and bounded by C(S,2) per shingle, S = #sources — never doc
  // pairs.
  private val d60: (String, QFn, Option[String]) = ("d60_source_overlap",
    (s, d) => Dedup.sourceOverlap(docs(s, d), "source", "text", n = 3),
    Some(s"""WITH sh0 AS (SELECT DISTINCT d.source AS src, s FROM (
      |    SELECT source, unnest(list_transform(
      |      range(1, greatest(len($tokSql) - 1, 1)),
      |      i -> array_to_string(list_slice($tokSql, i, i + 2), ' '))) AS s
      |    FROM documents) d),
      |voc AS (SELECT src, count(*)::BIGINT AS n_grams FROM sh0 GROUP BY 1),
      |pr AS (SELECT x.src AS src_a, y.src AS src_b, count(*)::BIGINT
      |    AS n_shared
      |  FROM sh0 x JOIN sh0 y ON x.s = y.s AND x.src < y.src
      |  GROUP BY 1, 2)
      |SELECT src_a, src_b, n_shared,
      | round(n_shared::DOUBLE / least(va.n_grams, vb.n_grams)::DOUBLE, 6)
      |   AS overlap
      |FROM pr JOIN voc va ON va.src = src_a
      | JOIN voc vb ON vb.src = src_b""".stripMargin))

  // ------------------------------------------ curriculum phase carving
  // Curriculum training prep: order the corpus by quality (best first,
  // doc_id tiebreak, both packed into ONE integer sort key so the order
  // is total and engine-exact), running-sum the token counts with the
  // d37 distributed prefix sum (range partitions + broadcast offsets —
  // never a global single-task window), and carve phases every BUDGET
  // tokens: phase k = the k-th training stage's document set. The
  // greatest(cum-1, 0) guard pins the zero-token prefix edge where
  // DuckDB's floor division and Spark's truncating div would disagree.
  private val d61: (String, QFn, Option[String]) = ("d61_curriculum",
    (s, d) => {
      val budget = 5000L
      val scored = docs(s, d).select(col("doc_id"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"),
        TextOps.qualityCols(col("text"), TextOps.tokens(col("text"))).last)
      val keyed = scored.withColumn("ord",
        (lit(1000000L) - round(col("quality_score") * 1e6, 0).cast("long"))
          * 10000000L + col("doc_id"))
      Sequences.globalCumsum(keyed, "ord", col("n_tokens"), "cum_tokens")
        .select(col("doc_id"), col("n_tokens"), col("cum_tokens"),
          expr(s"greatest(cum_tokens - 1, 0L) div $budget").as("phase"))
    },
    Some(s"""WITH t AS (SELECT doc_id, len($tokSql)::BIGINT AS n_tokens,
      |  $qScoreSql AS q FROM documents),
      |k AS (SELECT doc_id, n_tokens,
      |  (1000000 - round(q * 1e6)::BIGINT) * 10000000 + doc_id AS ord
      |  FROM t),
      |c AS (SELECT doc_id, n_tokens, sum(n_tokens) OVER (ORDER BY ord
      |  ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_tokens FROM k)
      |SELECT doc_id, n_tokens, cum_tokens,
      | (greatest(cum_tokens - 1, 0) // 5000)::BIGINT AS phase
      |FROM c""".stripMargin))

  // ----------------------------------------- MinHash k-sensitivity audit
  // The dedup-side tuning table (e19's move for the signature width knob):
  // |est_jaccard − true_jaccard| at k = 8 vs 16 over d05's exact truth
  // pairs — the error a deployment trades against signature bytes
  // (theory: sd ≈ sqrt(J(1−J)/k)). Truth replays d05's own factored SQL;
  // signatures are computed on the UNCUT shingle set (d06's convention).
  // Mean error sums in DECIMAL(18,9) (order-free) per the d46 pattern.
  // The k=8 estimate is the PREFIX of the k=16 signature (sig_j depends
  // only on j, never on k — the minhash prefix property), so the whole
  // sweep is ONE signature stack, one pair join, and one ungrouped
  // aggregate exploded into the two k rows. The ungrouped aggregate also
  // anchors the output at exactly two rows when the truth set is empty
  // (count 0, NULL means), matching the oracle's ungrouped aggregate —
  // a grouped form would emit zero rows and red the round on regenerated
  // testdata with no >=0.2 pairs.
  private val d62: (String, QFn, Option[String]) = ("d62_minhash_k_audit",
    (s, d) => {
      val base = docs(s, d)
      // MATERIALIZED truth (r11 ask): in production the exact-Jaccard
      // pair set is an artifact of the dedup run (d05), and the k-audit
      // READS it — it never recomputes it per audit. Model that here:
      // the truth table lands once per JVM as parquet under a runtime
      // dir (the q27/S3 materialize-and-rescan pattern) and every
      // subsequent execution — bench iterations 2..n, repeated audits —
      // pays only the scan + signature join. Doubles roundtrip parquet
      // bit-exactly, so the oracle hash is unchanged (verified at
      // sf0.001/sf0.01). At sf1 this cuts the steady-state cost from
      // ~12 s (recomputing d05's posting join every run) to the ~3 s
      // signature stack the audit actually owns.
      // Atomic materialization: a crashed first write would leave a
      // partial dir a bare isDirectory test happily reuses. Gate the
      // skip on parquet's _SUCCESS marker, and publish via
      // write-to-temp + atomic rename so a reader never sees a
      // half-written truth table.
      val truthDir = Queries.rtDir("d62truth", d)
      if (!new java.io.File(truthDir, "_SUCCESS").isFile) {
        // the temp path is registered with the shutdown-hook cleanup
        // BEFORE the write: a write that dies mid-job must not leak
        // its partial dir past the JVM
        Queries.rtRegister(truthDir + ".tmp")
        val tmp = java.nio.file.Paths.get(truthDir + ".tmp")
        val dst = java.nio.file.Paths.get(truthDir)
        Dedup.jaccardPairs(base, "doc_id", "text", n = 3,
          threshold = 0.2, maxPostings = 50)
          .write.mode("overwrite").parquet(tmp.toString)
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
        }
        if (java.nio.file.Files.isDirectory(dst)) // stale partial dir
          rm(dst.toFile)
        try java.nio.file.Files.move(tmp, dst,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        catch { case _: java.nio.file.AtomicMoveNotSupportedException =>
          java.nio.file.Files.move(tmp, dst) }
      }
      val truth = s.read.parquet(truthDir)
      // signatures as the NATIVE wide projection (no explode, no
      // signature shuffle) — the same stack d06 uses; the truth posting
      // join is now the query's only exchange-heavy stage
      val sig = Dedup.minhashWideSigs(base, "doc_id", "text", n = 3, k = 16)
      def err(k: Int) = {
        val matches = (0 until k).map(j =>
          when(col(s"xa.sig$j") === col(s"xb.sig$j"), 1L).otherwise(0L))
          .reduce(_ + _)
        graft.ops.CrossRound.round(abs(
          graft.ops.CrossRound.round(matches.cast("double") / k, 6)
            - col("jaccard")), 6)
      }
      def stats(k: Int, sfx: String) = Seq(
        graft.ops.CrossRound.round(
          sum(err(k).cast("decimal(18,9)")).cast("double")
            / count(lit(1)), 6).as(s"mean$sfx"),
        max(err(k)).as(s"max$sfx"))
      val one = truth.join(sig.as("xa"), col("a") === col("xa.doc"))
        .join(sig.as("xb"), col("b") === col("xb.doc"))
        .agg(count(lit(1)).as("n_pairs"),
          (stats(8, "8") ++ stats(16, "16")): _*)
      one.select(explode(array(
          struct(lit(8L).as("k"), col("n_pairs"),
            col("mean8").as("mean_abs_err"), col("max8").as("max_abs_err")),
          struct(lit(16L).as("k"), col("n_pairs"),
            col("mean16").as("mean_abs_err"),
            col("max16").as("max_abs_err")))).as("r"))
        .select(col("r.k"), col("r.n_pairs"), col("r.mean_abs_err"),
          col("r.max_abs_err"))
    },
    Some {
      def estCtes(k: Int, sfx: String) =
        s"""mh$sfx AS (SELECT doc_id, j,
          |    min(${md5HashSql("s || '#' || j")}) AS sig
          |  FROM sh, (SELECT unnest(range(0, $k)) AS j) js
          |  GROUP BY doc_id, j),
          |er$sfx AS (SELECT t.a, t.b,
          |  round(abs(round(sum(CASE WHEN ma.sig = mb.sig THEN 1
          |      ELSE 0 END) / $k.0, 6) - t.jaccard), 6) AS err
          |  FROM trth t JOIN mh$sfx ma ON ma.doc_id = t.a
          |   JOIN mh$sfx mb ON mb.doc_id = t.b AND mb.j = ma.j
          |  GROUP BY t.a, t.b, t.jaccard)""".stripMargin
      def row(k: Int, sfx: String) =
        s"""SELECT $k::BIGINT AS k, count(*)::BIGINT AS n_pairs,
          | round(CAST(sum(CAST(err AS DECIMAL(18,9))) AS DOUBLE)
          |   / count(*), 6) AS mean_abs_err,
          | max(err) AS max_abs_err FROM er$sfx""".stripMargin
      s"""WITH trth AS (${QueriesDocs.jaccardPairsSql}),
        |$shCte,
        |${estCtes(8, "a")},
        |${estCtes(16, "b")}
        |${row(8, "a")} UNION ALL ${row(16, "b")}""".stripMargin
    })

  // ----------------------------------------- LSH hot-band management
  // The persisted-index production story (d22/e13 proved appends; this is
  // the skew side): d67 audits per-band posting depths — n_keys,
  // max_depth, hot keys past the cap, and the EXACT candidate-pair mass
  // Σ C(depth,2) each band would feed the join, with the share the cap
  // removes — and d68 runs the pipeline WITH the cap (hot buckets purged
  // before candidate generation, the docShingles df-cutoff applied to the
  // index side; their residents stay covered by d01's exact pass and
  // their remaining bands). hotCap = 2 so the purge provably bites on
  // this corpus (max depth 3 at sf0.01): the driver checks behavior, not
  // just plumbing. All integer-exact; both oracles extend d06's replayed
  // CTE stack so the three queries cannot drift.
  private val lshHotCap = 2
  private val bandCtesSql =
    s"""$shCte,
      |mh AS (SELECT doc_id, j,
      |    min(${md5HashSql("s || '#' || j")}) AS sig
      |  FROM sh, (SELECT unnest(range(0, $MINHASH_K)) AS j) js
      |  GROUP BY doc_id, j),
      |bk AS (SELECT doc_id, j // ${MINHASH_K / MINHASH_BANDS} AS band,
      |    md5(string_agg(sig::VARCHAR, ',' ORDER BY j)) AS bkey
      |  FROM mh GROUP BY doc_id, band)""".stripMargin

  private val d67: (String, QFn, Option[String]) = ("d67_band_depth_audit",
    (s, d) => Dedup.bandDepthAudit(docs(s, d), "doc_id", "text", n = 3,
        k = MINHASH_K, bands = MINHASH_BANDS, hotCap = lshHotCap)
      .select(col("band").cast("long").as("band"), col("n_keys"),
        col("n_postings"), col("max_depth"), col("n_hot_keys"),
        col("pair_slots"), col("hot_pair_slots")),
    Some(s"""WITH $bandCtesSql,
      |dep AS (SELECT band, bkey, count(*)::BIGINT AS depth
      |  FROM bk GROUP BY 1, 2)
      |SELECT band, count(*)::BIGINT AS n_keys,
      | sum(depth)::BIGINT AS n_postings,
      | max(depth)::BIGINT AS max_depth,
      | sum((depth > $lshHotCap)::INT)::BIGINT AS n_hot_keys,
      | sum(depth * (depth - 1) // 2)::BIGINT AS pair_slots,
      | sum(CASE WHEN depth > $lshHotCap
      |     THEN depth * (depth - 1) // 2 ELSE 0 END)::BIGINT
      |   AS hot_pair_slots
      |FROM dep GROUP BY band""".stripMargin))

  private val d68: (String, QFn, Option[String]) = ("d68_lsh_band_cap",
    (s, d) => Dedup.minhashLsh(docs(s, d), "doc_id", "text", n = 3,
      k = MINHASH_K, bands = MINHASH_BANDS, maxBandPostings = lshHotCap),
    Some(s"""WITH $bandCtesSql,
      |ok AS (SELECT band, bkey FROM bk GROUP BY band, bkey
      |  HAVING count(*) <= $lshHotCap),
      |bkc AS (SELECT bk.* FROM bk JOIN ok USING (band, bkey)),
      |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
      |  FROM bkc x JOIN bkc y ON x.band = y.band AND x.bkey = y.bkey
      |   AND x.doc_id < y.doc_id)
      |SELECT c.a, c.b,
      | round(sum(CASE WHEN ma.sig = mb.sig THEN 1 ELSE 0 END)
      |   / ${MINHASH_K.toDouble}, 6) AS est_jaccard
      |FROM cand c JOIN mh ma ON ma.doc_id = c.a
      | JOIN mh mb ON mb.doc_id = c.b AND mb.j = ma.j
      |GROUP BY c.a, c.b""".stripMargin))

  // --------------------------------------- cap policy closed loop
  // d67 told the operator WHAT the skew is; d72/d73 close the loop the
  // production runbook was leaving to a human: d72 is the POLICY TABLE —
  // one row per observed posting depth (the candidate caps) with the
  // exact pair mass a cap at that depth purges and `recommended`=1 on
  // the smallest cap whose removed share fits an integer percent budget
  // — and d73 runs the LSH index WITH the recommended cap, nothing
  // hand-chosen. The budget (20%) is picked so the policy provably BITES
  // at both graded scales with DIFFERENT answers (sf0.001: cap 3 of max
  // depth 4; sf0.01: cap 2 of max depth 3) — the driver checks the loop
  // decides, not that plumbing exists. d73's one-row cap pull is a
  // bounded driver-side scalar (the e12 centroid precedent); its oracle
  // recomputes the same cap as a scalar subquery over the same CTEs, so
  // a policy drift on EITHER engine hash-fails both rows.
  private val capBudgetPct = 20
  private val capPolicyCtesSql =
    s"""dep AS (SELECT band, bkey, count(*)::BIGINT AS depth
      |  FROM bk GROUP BY 1, 2),
      |hist AS (SELECT depth, count(*)::BIGINT AS n_keys,
      |    (count(*) * (depth * (depth - 1) // 2))::BIGINT AS slots
      |  FROM dep GROUP BY depth),
      |cum AS (SELECT depth AS cap,
      |    coalesce(sum(n_keys) OVER w, 0)::BIGINT AS keys_over,
      |    coalesce(sum(slots) OVER w, 0)::BIGINT AS removed_pair_slots,
      |    (sum(slots) OVER ())::BIGINT AS total_pair_slots
      |  FROM hist
      |  WINDOW w AS (ORDER BY depth DESC
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))""".stripMargin

  private val d72: (String, QFn, Option[String]) = ("d72_band_cap_policy",
    (s, d) => Dedup.recommendBandCap(docs(s, d), "doc_id", "text", n = 3,
      k = MINHASH_K, bands = MINHASH_BANDS, maxRemovedPct = capBudgetPct),
    Some(s"""WITH $bandCtesSql,
      |$capPolicyCtesSql
      |SELECT cap, keys_over, removed_pair_slots, total_pair_slots,
      |  (CASE WHEN removed_pair_slots * 100
      |        <= total_pair_slots * $capBudgetPct
      |    AND cap = (SELECT min(cap) FROM cum
      |      WHERE removed_pair_slots * 100
      |        <= total_pair_slots * $capBudgetPct)
      |   THEN 1 ELSE 0 END)::BIGINT AS recommended
      |FROM cum""".stripMargin))

  private val d73: (String, QFn, Option[String]) = ("d73_self_tuned_lsh",
    (s, d) => {
      // ONE signature pass (r18): the cap-policy histogram and the capped
      // run both consume the same wide signature table (minhashWideSigs
      // checkpoints it), instead of hashing the corpus k·|shingles| times
      // once per phase — the band keys derived from it are a cheap
      // projection per consumer
      val sigs = Dedup.minhashWideSigs(docs(s, d), "doc_id", "text",
        n = 3, k = MINHASH_K)
      val bk = Dedup.lshBandKeys(sigs, MINHASH_K, MINHASH_BANDS)
      // bounded one-row pull: the policy's histogram is <= max_depth rows
      val cap = Dedup.recommendBandCapFromBandKeys(bk,
          maxRemovedPct = capBudgetPct)
        .filter(col("recommended") === 1L)
        .select(col("cap")).head().getLong(0).toInt
      Dedup.minhashLshFromSigs(sigs, MINHASH_K, MINHASH_BANDS,
        maxBandPostings = cap)
    },
    Some(s"""WITH $bandCtesSql,
      |$capPolicyCtesSql,
      |rec AS (SELECT min(cap) AS cap FROM cum
      |  WHERE removed_pair_slots * 100 <= total_pair_slots * $capBudgetPct),
      |okb AS (SELECT band, bkey FROM bk GROUP BY band, bkey
      |  HAVING count(*) <= (SELECT cap FROM rec)),
      |bkc AS (SELECT bk.* FROM bk JOIN okb USING (band, bkey)),
      |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
      |  FROM bkc x JOIN bkc y ON x.band = y.band AND x.bkey = y.bkey
      |   AND x.doc_id < y.doc_id)
      |SELECT c.a, c.b,
      | round(sum(CASE WHEN ma.sig = mb.sig THEN 1 ELSE 0 END)
      |   / ${MINHASH_K.toDouble}, 6) AS est_jaccard
      |FROM cand c JOIN mh ma ON ma.doc_id = c.a
      | JOIN mh mb ON mb.doc_id = c.b AND mb.j = ma.j
      |GROUP BY c.a, c.b""".stripMargin))

  // ------------------------------------------- release diff (d71)
  // Dataset versioning's core report: what changed between two corpus
  // releases — per source, how many documents were ADDED, REMOVED,
  // CHANGED (same id, different content digest) or UNCHANGED. Releases
  // here are deterministic slices of the one corpus (the d22 synthetic-
  // delta move): release A drops ids ≡0 (mod 7), release B drops ids ≡0
  // (mod 5) and rewrites the text of ids ≡0 (mod 11) — so all four
  // change classes are exercised and the oracle replays the exact same
  // construction. Shape: ONE full-outer equi-join on doc_id comparing
  // 16-byte digests (never the texts), then a source-sized aggregate —
  // linear in the union of the releases, the plan a 100 TB
  // release-to-release audit runs. Digests make the comparison O(1) per
  // row and transportable: a real deployment diffs stored digest
  // manifests without touching payload bytes at all.
  private val d71: (String, QFn, Option[String]) = ("d71_release_diff",
    (s, d) => {
      val base = docs(s, d)
      val relA = base.filter(col("doc_id") % 7 =!= 0)
        .select(col("doc_id"), col("source"),
          md5(col("text").cast("binary")).as("dig_a"))
      val relB = base.filter(col("doc_id") % 5 =!= 0)
        .select(col("doc_id"), col("source").as("source_b"),
          md5(when(col("doc_id") % 11 === 0,
              concat(col("text"), lit(" [rev2]")))
            .otherwise(col("text")).cast("binary")).as("dig_b"))
      relA.join(relB, Seq("doc_id"), "full_outer")
        .select(coalesce(col("source"), col("source_b")).as("source"),
          when(col("dig_a").isNull, "added")
            .when(col("dig_b").isNull, "removed")
            .when(col("dig_a") =!= col("dig_b"), "changed")
            .otherwise("unchanged").as("change"))
        .groupBy(col("source"), col("change"))
        .agg(count(lit(1)).as("n"))
    },
    Some("""WITH a AS (SELECT doc_id, source, md5(text) AS dig
      |  FROM documents WHERE doc_id % 7 <> 0),
      |b AS (SELECT doc_id, source,
      |    md5(CASE WHEN doc_id % 11 = 0 THEN text || ' [rev2]'
      |        ELSE text END) AS dig
      |  FROM documents WHERE doc_id % 5 <> 0),
      |j AS (SELECT coalesce(a.source, b.source) AS source,
      |    CASE WHEN a.dig IS NULL THEN 'added'
      |         WHEN b.dig IS NULL THEN 'removed'
      |         WHEN a.dig <> b.dig THEN 'changed'
      |         ELSE 'unchanged' END AS change
      |  FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id)
      |SELECT source, change, count(*) AS n
      |FROM j GROUP BY source, change""".stripMargin))

  // ----------------------------- release PSI drift audit (d96)
  // The drift gate beside d71's membership diff: d71 counts which docs
  // changed between releases; d96 measures whether the QUALITY
  // DISTRIBUTION moved — the Population Stability Index over d03's
  // score on a 20-bucket micro grid (the d87 lift), per source, between
  // the same release pair d71 defines. Each release contributes its own
  // bucketed rows (release B's perturbed docs re-score their REVISED
  // text), so the audit sees metric drift, not just adds/removes. PSI
  // conventions: Laplace-smoothed shares, contributions ≥ 0, > 0.25 =
  // block the release. One corpus exchange; the grid is |sources|×20.
  private val d96: (String, QFn, Option[String]) = ("d96_psi_drift",
    (s, d) => {
      val base = docs(s, d)
      def bucketOf(text: Column): Column = {
        val q = TextOps.qualityCols(text, TextOps.tokens(text)).last
        val sm = floor(q * lit(1000000.0) + lit(0.5))
        least(lit(19L), floor(sm.cast("double") / lit(50000.0)))
      }
      val relA = base.filter(col("doc_id") % 7 =!= 0)
        .select(col("source"), bucketOf(col("text")).as("bucket"),
          lit(1L).as("ia"), lit(0L).as("ib"))
      val textB = when(col("doc_id") % 11 === 0,
        concat(col("text"), lit(" [rev2]"))).otherwise(col("text"))
      val relB = base.filter(col("doc_id") % 5 =!= 0)
        .select(col("source"), bucketOf(textB).as("bucket"),
          lit(0L).as("ia"), lit(1L).as("ib"))
      Prep.psiDrift(relA.unionAll(relB), col("source"), col("bucket"),
          col("ia"), col("ib"), buckets = 20)
        .withColumnRenamed("grp", "source")
    },
    Some {
      val bucket = s"least(19, floor(($qScoreSql) * 1000000.0 + 0.5)" +
        "::BIGINT // 50000)::BIGINT"
      s"""WITH asrc AS (SELECT doc_id, source, text FROM documents
        |  WHERE doc_id % 7 <> 0),
        |bsrc AS (SELECT doc_id, source,
        |    CASE WHEN doc_id % 11 = 0 THEN text || ' [rev2]'
        |      ELSE text END AS text
        |  FROM documents WHERE doc_id % 5 <> 0),
        |u AS (SELECT source, $bucket AS bucket,
        |    1::BIGINT AS ia, 0::BIGINT AS ib FROM asrc
        |  UNION ALL
        |  SELECT source, $bucket AS bucket,
        |    0::BIGINT AS ia, 1::BIGINT AS ib FROM bsrc),
        |cg AS (SELECT source, bucket, sum(ia)::BIGINT AS n_a,
        |    sum(ib)::BIGINT AS n_b FROM u GROUP BY 1, 2),
        |sp AS (SELECT s.source, b.bucket::BIGINT AS bucket
        |  FROM (SELECT DISTINCT source FROM u) s,
        |    (SELECT unnest(range(0, 20)) AS bucket) b),
        |dn AS (SELECT sp.source, sp.bucket,
        |    coalesce(n_a, 0)::BIGINT AS n_a,
        |    coalesce(n_b, 0)::BIGINT AS n_b
        |  FROM sp LEFT JOIN cg ON cg.source = sp.source
        |    AND cg.bucket = sp.bucket),
        |tw AS (SELECT source, bucket, n_a, n_b,
        |    (n_a + 1)::DOUBLE
        |      / ((sum(n_a) OVER (PARTITION BY source)) + 20)::DOUBLE
        |      AS pa,
        |    (n_b + 1)::DOUBLE
        |      / ((sum(n_b) OVER (PARTITION BY source)) + 20)::DOUBLE
        |      AS pb
        |  FROM dn),
        |f AS (SELECT source, bucket, n_a, n_b,
        |    round(pa, 6) AS p_a, round(pb, 6) AS p_b,
        |    round((pa - pb) * ln(pa / pb), 6) + 0.0 AS contrib FROM tw)
        |SELECT source, bucket, n_a, n_b, p_a, p_b, contrib,
        |  round(CAST(sum(CAST(contrib AS DECIMAL(18,9)))
        |    OVER (PARTITION BY source) AS DOUBLE), 6) + 0.0 AS psi
        |FROM f""".stripMargin
    })

  // --------------------------- group-relative advantage, GRPO (d85)
  // The critic-free RL normalization (Shao et al. 2024, DeepSeekMath)
  // beside the preference family d78-d80: sample groups stand in as
  // content-addressed (source, md5 % 16) buckets — each bucket plays
  // "k completions of one prompt" — and the reward is the integer-exact
  // type-token ratio in ppm, (n_distinct * 1e6) DIV n_tokens, so the
  // window sums feeding mean/σ are BIGINT-exact (the helper's
  // determinism contract; Preference.groupAdvantage scaladoc). One
  // exchange on the group key; singleton / constant-reward groups emit
  // advantage 0, the zero-gradient convention.
  private val d85: (String, QFn, Option[String]) = ("d85_grpo_advantage",
    (s, d) => {
      val t = docs(s, d)
      val toks = TextOps.tokens(col("text"))
      val base = t.select(col("doc_id"), col("source"),
          size(array_distinct(toks)).cast("long").as("_nd"),
          size(toks).cast("long").as("_nt"))
        .filter(col("_nt") > 0)
      // `div`, not `/`: Divide is double-typed, and truncating a
      // round-to-nearest double can disagree with the oracle's integer
      // floor `//` once _nt is large enough that the quotient sits
      // within an ulp of an integer — `div` keeps the quotient exact
      Preference.groupAdvantage(base,
        col("doc_id"),
        concat(col("source"), lit("#"),
          (Dedup.md5Hash(col("doc_id").cast("string"), lit("grpo")) % 16)
            .cast("string")),
        expr("_nd * 1000000L div _nt"))
        .withColumnRenamed("key", "doc_id")
    },
    Some(s"""WITH $grpoRewardCtesSql,
      |w AS (SELECT doc_id, grp, reward,
      |    count(*) OVER (PARTITION BY grp)::BIGINT AS n_group,
      |    sum(reward) OVER (PARTITION BY grp)::BIGINT AS s1,
      |    sum(reward * reward) OVER (PARTITION BY grp)::BIGINT AS s2
      |  FROM r),
      |m AS (SELECT *, s1::DOUBLE / n_group::DOUBLE AS mean,
      |    sqrt(greatest(s2::DOUBLE / n_group::DOUBLE
      |      - (s1::DOUBLE / n_group::DOUBLE)
      |        * (s1::DOUBLE / n_group::DOUBLE), 0.0)) AS std
      |  FROM w)
      |SELECT doc_id, grp, reward, n_group,
      |  round(mean, 6) AS r_mean, round(std, 6) AS r_std,
      |  round(CASE WHEN std > 0.0 THEN (reward::DOUBLE - mean) / std
      |    ELSE 0.0 END, 6) + 0.0 AS advantage
      |FROM m""".stripMargin))

  /** d85's candidate-group + integer reward CTEs (content-addressed
    * (source, md5 % 16) groups, ppm TTR reward) as one factored text —
    * shared by d85's advantage normalization and d97's best-of-n
    * selection, so the two RL-prep rows replay the same sample-set
    * definition. Final CTE `r`: (doc_id, grp, reward). */
  private lazy val grpoRewardCtesSql: String =
    s"""q AS (SELECT doc_id, source,
      |    len(list_distinct($tokSql))::BIGINT AS nd,
      |    len($tokSql)::BIGINT AS nt
      |  FROM documents),
      |r AS (SELECT doc_id,
      |    source || '#' ||
      |      (${md5HashSql("doc_id::VARCHAR || '#grpo'")} % 16)::VARCHAR
      |      AS grp,
      |    ((nd * 1000000) // nt)::BIGINT AS reward
      |  FROM q WHERE nt > 0)""".stripMargin

  // --------------------------------- best-of-n selection (d97)
  // The rejection-sampling / RFT step beside d85: where GRPO normalizes
  // every candidate's reward, best-of-n KEEPS only the argmax candidate
  // per sample group (Touvron et al. 2023's rejection sampling, RFT) —
  // deterministic tie-break (min doc_id among the max rewards), with
  // the audit stats a selection review reads: group size, exact-ratio
  // mean reward, and the winner's margin over the runner-up (NULL for
  // singleton groups — no second candidate to beat). Same factored
  // group/reward definition as d85; one window over the group key.
  /** d97's ranked candidate frame BEFORE the localCheckpoint — exposed
    * so PlanShapeSpec can pin the registered query's own operator shape
    * (one grp hash exchange, window-local sort), not a synthetic
    * stand-in's. */
  private[graft] def bestOfNRanked(s: SparkSession, d: String)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = docs(s, d)
    val toks = TextOps.tokens(col("text"))
    val base = t.select(col("doc_id"), col("source"),
        size(array_distinct(toks)).cast("long").as("_nd"),
        size(toks).cast("long").as("_nt"))
      .filter(col("_nt") > 0)
      .select(col("doc_id"),
        concat(col("source"), lit("#"),
          (Dedup.md5Hash(col("doc_id").cast("string"), lit("grpo"))
            % 16).cast("string")).as("grp"),
        expr("_nd * 1000000L div _nt").as("reward"))
    val win = Window.partitionBy(col("grp"))
      .orderBy(col("reward").desc, col("doc_id"))
    base.withColumn("_rn", row_number().over(win))
  }

  private val d97: (String, QFn, Option[String]) = ("d97_best_of_n",
    (s, d) => {
      // feeds winner, runner-up AND group stats; profiled per the r12
      // rule: sf1 isolated 0.82s with vs 1.39s without (three window
      // recomputes) — the checkpoint wins
      val ranked = bestOfNRanked(s, d).localCheckpoint(true)
      val gs = ranked.groupBy(col("grp")).agg(
        count(lit(1)).as("n_candidates"),
        sum(col("reward")).as("_s"))
      val best = ranked.filter(col("_rn") === 1)
        .select(col("grp"), col("doc_id").as("best_doc_id"),
          col("reward").as("best_reward"))
      val second = ranked.filter(col("_rn") === 2)
        .select(col("grp"), col("reward").as("_r2"))
      gs.join(best, Seq("grp")).join(second, Seq("grp"), "left")
        .select(col("grp"), col("n_candidates"), col("best_doc_id"),
          col("best_reward"),
          round(col("_s").cast("double")
            / col("n_candidates").cast("double"), 6).as("mean_reward"),
          (col("best_reward") - col("_r2")).as("margin"))
    },
    Some(s"""WITH $grpoRewardCtesSql,
      |rk AS (SELECT doc_id, grp, reward, row_number() OVER (
      |    PARTITION BY grp ORDER BY reward DESC, doc_id) AS rn
      |  FROM r),
      |gs AS (SELECT grp, count(*)::BIGINT AS n_candidates,
      |    sum(reward)::BIGINT AS s FROM rk GROUP BY grp),
      |b1 AS (SELECT grp, doc_id AS best_doc_id, reward AS best_reward
      |  FROM rk WHERE rn = 1),
      |b2 AS (SELECT grp, reward AS r2 FROM rk WHERE rn = 2)
      |SELECT gs.grp, n_candidates, best_doc_id, best_reward,
      |  round(s::DOUBLE / n_candidates::DOUBLE, 6) AS mean_reward,
      |  (best_reward - r2)::BIGINT AS margin
      |FROM gs JOIN b1 USING (grp) LEFT JOIN b2 USING (grp)"""
      .stripMargin))

  // --------------------------- DoReMi excess-loss reweighting (d86)
  // The mix family's fourth member: d47 flattens by temperature, d58
  // applies given epochs, d77 allocates under a budget — d86 DERIVES a
  // mix from model-facing signal (Xie et al., NeurIPS 2023), using
  // d29's KL(source ‖ corpus) as the static excess-loss proxy via the
  // FACTORED d29 computation (QueriesCorpus.sourceKlDf/sourceKlSql — the
  // oracle replays the same KL its own d29 row verifies, then the
  // 2^(λ·KL) boost and the decimal-sandwich normalization). boost > 1 =
  // the corpus LM underfits this source, give it more epochs.
  private val d86: (String, QFn, Option[String]) = ("d86_doremi_mix",
    (s, d) => Sampling.doremiWeights(QueriesCorpus.sourceKlDf(s, d),
      lambda = 1.0),
    Some(s"""WITH kl AS (${QueriesCorpus.sourceKlSql}),
      |tt AS (SELECT sum(n_tokens)::BIGINT AS tot FROM kl),
      |b AS (SELECT source, n_tokens, kl_bits,
      |    n_tokens::DOUBLE / tot::DOUBLE AS share,
      |    round((n_tokens::DOUBLE / tot::DOUBLE)
      |      * pow(2.0, 1.0 * kl_bits), 6)::DECIMAL(20,10) AS term
      |  FROM kl, tt),
      |nm AS (SELECT sum(term) AS norm FROM b)
      |SELECT source, n_tokens, round(share, 6) AS token_share, kl_bits,
      |  round(term::DOUBLE / norm::DOUBLE, 6) AS weight,
      |  round((term::DOUBLE / norm::DOUBLE) / share, 6) AS boost
      |FROM b, nm""".stripMargin))

  // ------------------------ quality-filter threshold sweep (d87)
  // The operating-point table every learned quality filter ships with
  // (the fastText/classifier-distillation workflow): sweep the d03
  // quality score against the d13 rule labels and publish precision /
  // recall / F1 at 21 thresholds — the curve an operator reads to pick
  // the keep cutoff. d31 calibrates the score per source; d87 grades it
  // as a CLASSIFIER of the rule verdict. Integer-exact throughout: the
  // 6-dp score is lifted to an exact BIGINT grid (floor(q·1e6 + 0.5) —
  // the published double sits within 1e-10 of its 6-dp decimal, so the
  // +0.5 floor recovers the integer EXACTLY), counts accumulate per
  // 0.05-wide bucket (score ≥ t ⇔ bucket ≥ k, the grid aligns), and
  // every published ratio is ONE double division of exact BIGINTs
  // (F1 via 2·TP/(pred+pos) — single-division form, no P·R compound).
  // Scale shape: ONE corpus aggregation to a 21-row histogram
  // (map-side combined); the sweep is a 21×21 broadcast triangle join —
  // the corpus is never scanned per threshold.
  private val d87: (String, QFn, Option[String]) = ("d87_quality_pr_sweep",
    (s, d) => {
      val toks = TextOps.tokens(col("text"))
      val base = docs(s, d).select(
        TextOps.qualityCols(col("text"), toks).last,
        TextOps.ruleFilterCols(col("text"), toks).last)
      Prep.thresholdSweep(base,
        floor(col("quality_score") * lit(1000000.0) + lit(0.5)),
        col("keep"), steps = 20)
    },
    Some {
      val stopList = TextOps.langStopwords.flatMap(_._2)
        .map(w => s"'$w'").mkString(", ")
      s"""WITH m AS (SELECT doc_id, $qScoreSql AS q,
        |    len($tokSql)::BIGINT AS n,
        |    CASE WHEN len($tokSql) > 0 THEN
        |      list_sum(list_transform($tokSql, x -> len(x)))::DOUBLE
        |        / len($tokSql)::DOUBLE ELSE 0 END AS mtl,
        |    CASE WHEN len($tokSql) > 0 THEN
        |      len(list_filter($tokSql,
        |        x -> list_contains([$stopList], x)))::DOUBLE
        |        / len($tokSql)::DOUBLE ELSE 0 END AS sr,
        |    CASE WHEN len($tokSql) > 0 THEN
        |      len(list_distinct($tokSql))::DOUBLE / len($tokSql)::DOUBLE
        |      ELSE 0 END AS ttr,
        |    CASE WHEN length(text) > 0 THEN
        |      len(regexp_extract_all(text, '[0-9]'))::DOUBLE
        |        / length(text)::DOUBLE ELSE 0 END AS dr
        |  FROM documents),
        |s AS (SELECT floor(q * 1000000.0 + 0.5)::BIGINT AS sm,
        |    (NOT (n < 20 OR n > 1000 OR mtl < 3.0 OR mtl > 10.0
        |      OR dr > 0.2 OR sr < 0.01 OR ttr < 0.35))::BIGINT AS keep
        |  FROM m),
        |h AS (SELECT (sm // 50000)::BIGINT AS bucket,
        |    count(*)::BIGINT AS n, sum(keep)::BIGINT AS pos
        |  FROM s GROUP BY 1),
        |tt AS (SELECT sum(pos)::BIGINT AS tp_all FROM h),
        |kk AS (SELECT range::BIGINT AS k FROM range(0, 21)),
        |agg AS (SELECT kk.k, coalesce(sum(h.n), 0)::BIGINT AS n_pred,
        |    coalesce(sum(h.pos), 0)::BIGINT AS tp
        |  FROM kk LEFT JOIN h ON h.bucket >= kk.k GROUP BY kk.k)
        |SELECT k::DOUBLE / 20.0 AS threshold, n_pred, tp,
        |  (n_pred - tp)::BIGINT AS fp, (tp_all - tp)::BIGINT AS fn,
        |  CASE WHEN n_pred > 0
        |    THEN round(tp::DOUBLE / n_pred::DOUBLE, 6) END AS prec,
        |  CASE WHEN tp_all > 0
        |    THEN round(tp::DOUBLE / tp_all::DOUBLE, 6) END AS rec,
        |  CASE WHEN n_pred + tp_all > 0
        |    THEN round(2.0 * tp::DOUBLE / (n_pred + tp_all)::DOUBLE, 6)
        |    END AS f1
        |FROM agg, tt""".stripMargin
    })

  // ----------------------- repeated-epoch value audit (d88)
  // The budget review OVER d77's allocation: Muennighoff et al. 2023's
  // data-constrained scaling law says repeated epochs decay in value
  // (R* ≈ 15.39); d88 grades each source's allocation by how many of
  // its scheduled tokens still teach (Sampling.dataConstrainedValue
  // scaladoc — the multiplier is published 6-dp so the one exp() is
  // scale-independent). Consumes the FACTORED d77 computation, so the
  // oracle replays the identical allocation d77's own row verifies.
  private val d88: (String, QFn, Option[String]) = ("d88_repeat_value",
    (s, d) => Sampling.dataConstrainedValue(uniMaxDf(s, d)),
    Some(s"""WITH a AS ($uniMaxSql),
      |e AS (SELECT source, n_tokens, epochs, saturated,
      |    round(CASE WHEN epochs <= 1.0 THEN epochs
      |      ELSE 1.0 + 15.39 * (1.0 - exp((greatest(epochs - 1.0, 0.0)
      |        * -1.0) / 15.39)) END, 6) AS eff_epochs
      |  FROM a)
      |SELECT source, n_tokens, epochs, saturated, eff_epochs,
      |  round(n_tokens::DOUBLE * eff_epochs, 6) AS effective_tokens,
      |  CASE WHEN epochs > 0.0 THEN round(eff_epochs / epochs, 6) END
      |    AS utilization
      |FROM e""".stripMargin))

  // ------------------------- trainer-handoff funnel capstone (c02)
  // c01 verifies the CURATION funnel's plumbing; c02 verifies the
  // handoff from curation to the trainer: raw corpus → d46's release
  // gates (exact-dup keepers ∩ decontaminated ∩ quality floor, the
  // FACTORED releaseDocs/releaseCtesSql both rows replay) → d74/d75's
  // 128-token packing of the SURVIVORS (the real pipeline order: pack
  // what you ship, not what you crawled) — per source: docs and tokens
  // at each stage, chunk count, padding waste, and the two shares a
  // budget review reads (release_share = survived tokens, waste_share
  // = padding overhead of the shipped chunks). Every count exact; the
  // two shares are one double division each.
  // ----------------------- learned-vs-rule selection report (c03)
  // The question a team adopting a learned quality filter (d95) asks
  // before flipping the switch: per source, how does the model's gate
  // differ from the rule gate it distilled — rule∧model agreement,
  // what ONLY the model admits (the DCLM pitch: learned filters
  // recover docs rules kill), what ONLY the rules keep (the model's
  // misses), with token masses for the budget view. Pure composition:
  // per-doc label and score come from the SAME fitted model d95
  // verifies (memoized qcModel; oracle replays the whole fit through
  // the factored qcCtesSql), then ONE source-sized aggregation.
  private val c03: (String, QFn, Option[String]) = ("c03_selection_report",
    (s, d) => {
      val (fx, w, stats) = QueriesPrep.qcModel(s, d)
      val raw = (1 to 4).map(j => col(s"r$j"))
      val xs = lit(1.0) +: raw.zip(stats).map { case (r, (mu, sd)) =>
        (r - lit(mu)) / lit(sd)
      }
      val pred = (Learn.score(w.toSeq, xs) >= 0.5).cast("long")
      fx.select(col("source"), col("label"), pred.as("_p"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("label")).as("rule_keep"),
          sum(col("_p")).as("model_keep"),
          sum(col("label") * col("_p")).as("keep_both"),
          sum(col("label") * (lit(1L) - col("_p"))).as("only_rule"),
          sum((lit(1L) - col("label")) * col("_p")).as("only_model"),
          round((sum(col("label") * col("_p"))
            + sum((lit(1L) - col("label")) * (lit(1L) - col("_p"))))
            .cast("double") / count(lit(1)).cast("double"), 6)
            .as("agreement"))
    },
    Some {
      val p = QueriesPrep.qcScoreSql
      s"""WITH ${QueriesPrep.qcCtesSql},
        |pd AS (SELECT source, label,
        |    (CASE WHEN $p >= 0.5 THEN 1 ELSE 0 END)::BIGINT AS p
        |  FROM fs, w${QueriesPrep.QC_ITERS})
        |SELECT source, count(*)::BIGINT AS n_docs,
        |  sum(label)::BIGINT AS rule_keep,
        |  sum(p)::BIGINT AS model_keep,
        |  sum(label * p)::BIGINT AS keep_both,
        |  sum(label * (1 - p))::BIGINT AS only_rule,
        |  sum((1 - label) * p)::BIGINT AS only_model,
        |  round((sum(label * p) + sum((1 - label) * (1 - p)))::DOUBLE
        |    / count(*)::DOUBLE, 6) AS agreement
        |FROM pd GROUP BY source""".stripMargin
    })

  private val c02: (String, QFn, Option[String]) = ("c02_training_funnel",
    (s, d) => {
      val raw = docs(s, d).groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs_raw"),
          sum(size(TextOps.tokens(col("text"))).cast("long"))
            .as("n_tokens_raw"))
      // the survivor set feeds the release aggregate AND the packing
      // stats; both consumers share the gate pipeline's exchanges via
      // ReusedExchange, and an explicit localCheckpoint measured
      // slightly NET-NEGATIVE at sf1 (4.3s -> 4.7s) — keep the lineage
      val rel = releaseDocs(s, d)
      val relAgg = rel.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs_release"),
          sum(col("n_tokens")).as("n_tokens_release"))
      val pk = Sampling.packingStatsRaw(rel, col("doc_id"), col("source"),
          col("n_tokens"), capacity = 128, shards = 4)
        .groupBy(col("source"))
        .agg(sum(col("n_chunks")).as("n_chunks"),
          sum(col("waste_tokens")).as("waste_tokens"))
      raw.join(relAgg, Seq("source")).join(pk, Seq("source"))
        .select(col("source"), col("n_docs_raw"), col("n_tokens_raw"),
          col("n_docs_release"), col("n_tokens_release"),
          col("n_chunks"), col("waste_tokens"),
          round(col("n_tokens_release").cast("double")
            / col("n_tokens_raw").cast("double"), 6).as("release_share"),
          round(col("waste_tokens").cast("double")
            / (col("n_chunks") * 128).cast("double"), 6).as("waste_share"))
    },
    Some(s"""WITH $releaseCtesSql,
      |rel AS (SELECT q.doc_id, q.source, q.n_tokens
      |  FROM q JOIN exg ON q.doc_id = exg.keep_id
      |  LEFT JOIN hit h ON q.doc_id = h.doc_id
      |  WHERE q.doc_id % 25 <> 0 AND coalesce(h.n_overlap, 0) = 0
      |    AND quality_score >= 0.5),
      |raw AS (SELECT source, count(*)::BIGINT AS n_docs_raw,
      |    sum(len($tokSql))::BIGINT AS n_tokens_raw
      |  FROM documents GROUP BY 1),
      |relagg AS (SELECT source, count(*)::BIGINT AS n_docs_release,
      |    sum(n_tokens)::BIGINT AS n_tokens_release
      |  FROM rel GROUP BY 1),
      |pk AS (SELECT source,
      |    ${md5HashSql("doc_id::VARCHAR || '#pack.s'")} % 4 AS shard,
      |    sum(n_tokens)::BIGINT AS st
      |  FROM rel WHERE n_tokens > 0 GROUP BY 1, 2),
      |pka AS (SELECT source,
      |    sum((st + 127) // 128)::BIGINT AS n_chunks,
      |    sum(((st + 127) // 128) * 128 - st)::BIGINT AS waste_tokens
      |  FROM pk GROUP BY 1)
      |SELECT r.source, n_docs_raw, n_tokens_raw, n_docs_release,
      |  n_tokens_release, n_chunks, waste_tokens,
      |  round(n_tokens_release::DOUBLE / n_tokens_raw::DOUBLE, 6)
      |    AS release_share,
      |  round(waste_tokens::DOUBLE / (n_chunks * 128)::DOUBLE, 6)
      |    AS waste_share
      |FROM raw r JOIN relagg USING (source) JOIN pka USING (source)"""
      .stripMargin))

  // ------------------------ span-corruption objective prep (d91)
  // The denoising-objective sibling of d74's GPT packing: T5-style span
  // corruption (Raffel et al. 2020) with block-aligned content-addressed
  // masking — block b masked iff md5(doc#b#span) % 7 = 0 (≈14%, the
  // paper's 15% ballpark), sentinels block-addressed so the whole op is
  // a pure order-free projection (TextOps.spanCorruptionCols scaladoc).
  // Published as full-stream digests (input_fp/target_fp — the d55
  // policy: the hash locks the entire corruption, not a summary).
  private val d91: (String, QFn, Option[String]) = ("d91_span_corruption",
    (s, d) => docs(s, d).select(col("doc_id") +:
      TextOps.spanCorruptionCols(col("doc_id"),
        TextOps.tokens(col("text")), block = 3, modulus = 7,
        salt = "span"): _*),
    Some(s"""WITH t AS (SELECT doc_id, $tokSql AS w FROM documents),
      |b AS (SELECT doc_id, w, len(w)::BIGINT AS n,
      |    CASE WHEN len(w) > 0 THEN range((len(w) + 2) // 3)
      |      ELSE range(0) END AS bs
      |  FROM t),
      |m AS (SELECT doc_id, w, n, bs,
      |    list_filter(bs, x -> ('0x' || substr(md5(doc_id::VARCHAR
      |      || '#' || x::VARCHAR || '#span'), 1, 15))::BIGINT % 7 = 0)
      |      AS mb
      |  FROM b),
      |r AS (SELECT doc_id, n,
      |    coalesce(array_to_string(flatten(list_transform(bs, x ->
      |      CASE WHEN list_contains(mb, x)
      |        THEN ['<extra_id_' || x::VARCHAR || '>']
      |        ELSE list_slice(w, x * 3 + 1, x * 3 + 3) END)), ' '), '')
      |      AS input_str,
      |    coalesce(array_to_string(list_transform(mb, x ->
      |      '<extra_id_' || x::VARCHAR || '> '
      |        || coalesce(array_to_string(
      |          list_slice(w, x * 3 + 1, x * 3 + 3), ' '), '')), ' '),
      |      '') AS target_str,
      |    len(mb)::BIGINT AS n_spans,
      |    len(flatten(list_transform(mb,
      |      x -> list_slice(w, x * 3 + 1, x * 3 + 3))))::BIGINT
      |      AS n_masked
      |  FROM m)
      |SELECT doc_id, n AS n_tokens, n_spans, n_masked,
      |  CASE WHEN n > 0 THEN round(n_masked::DOUBLE / n::DOUBLE, 6)
      |    ELSE 0.0 END AS corruption_rate,
      |  md5(input_str) AS input_fp, md5(target_str) AS target_fp
      |FROM r""".stripMargin))

  // ------------------------------ RAG context packing (d90)
  // The step between retrieval and the training example: a query batch
  // hits the d54 impact-pruned index (REBUILT and persisted here, then
  // re-read — the production read path), per-query top-k by exact
  // integer posting sums, then greedy rank-order packing into a token
  // budget. Rows past the budget stay visible with in_context = 0 — the
  // truncation audit. Query-time work is bounded BY CONSTRUCTION at
  // |terms|·maxPostings candidates per query (see
  // Relevance.ragContextPack scaladoc); zero query-time floats. The
  // oracle replays the postings via the SAME factored CTEs d54 locks.
  private val ragQueries: Seq[(String, Seq[String])] = Seq(
    ("q1", Seq("spark", "join", "data")),
    ("q2", Seq("window", "stream", "batch")),
    ("q3", Seq("hash", "sort", "merge")))

  private val d90: (String, QFn, Option[String]) = ("d90_rag_context",
    (s, d) => {
      import s.implicits._
      val dir = Queries.rtDir("d90", d)
      Relevance.bm25IndexPostings(docs(s, d), "doc_id", "text",
        maxPostings = 50).write.mode("overwrite").parquet(dir)
      val qt = ragQueries
        .flatMap { case (q, ts) => ts.map(t => (q, t)) }
        .toDF("qid", "term")
      val docTokens = docs(s, d).select(col("doc_id").as("doc"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
      Relevance.ragContextPack(s.read.parquet(dir), qt, docTokens,
        k = 8, budgetTokens = 96L)
    },
    Some {
      val qtVals = ragQueries.flatMap { case (q, ts) =>
        ts.map(t => s"('$q', '$t')") }.mkString(", ")
      s"""WITH $postingsCtesSql,
        |ix AS (SELECT term, doc, wm FROM pr WHERE rn <= 50),
        |qt(qid, term) AS (VALUES $qtVals),
        |sc AS (SELECT qid, doc, sum(wm)::BIGINT AS score_micro
        |  FROM ix JOIN qt USING (term) GROUP BY 1, 2),
        |tp AS (SELECT qid, doc, score_micro, row_number() OVER (
        |    PARTITION BY qid ORDER BY score_micro DESC, doc ASC)::BIGINT
        |    AS rank
        |  FROM sc QUALIFY rank <= 8),
        |tk AS (SELECT doc_id AS doc, len($tokSql)::BIGINT AS n_tokens
        |  FROM documents),
        |fin AS (SELECT tp.qid, tp.rank, tp.doc, tp.score_micro,
        |    tk.n_tokens,
        |    sum(tk.n_tokens) OVER (PARTITION BY tp.qid
        |      ORDER BY tp.rank)::BIGINT AS cum_tokens
        |  FROM tp JOIN tk USING (doc))
        |SELECT qid, rank, doc, score_micro, n_tokens, cum_tokens,
        |  (cum_tokens <= 96)::BIGINT AS in_context
        |FROM fin""".stripMargin
    })

  lazy val defs: Seq[(String, QFn, Option[String])] = Seq(d41, d42, d43, d44, d45, d46, d47, d48, d49, d50, d51, d52, d53, d54, d55, d56, d57, d58, d59, d60, d61, d62, d67, d68, d71, d72, d73, d74, d75, d76, d77, d78, d79, d80, d81, d82, d83, d85, d86, d87, d88, d90, d91, d96, d97, c01, c02, c03)
}
