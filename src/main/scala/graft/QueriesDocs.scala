package graft

import org.apache.spark.sql.functions._
import graft.ops.CrossRound.round // shadows functions.round: cross-engine form
import graft.ops._
import graft.schema.Tables
import graft.QueriesText._

/** Registry slice d01-d24: per-document dedup, text quality, sampling and relevance operators over the documents table.
  * Shared helpers (docs/emb/tokSql/shCte/md5HashSql/quality+lang SQL and
  * the MinHash constants) live in [[QueriesText]]; registration order is
  * assembled there. */
private[graft] object QueriesDocs {

  // ------------------------------------------------------- exact dedup
  private val d01: (String, QFn, Option[String]) = ("d01_exact_dedup",
    (s, d) => Dedup.exact(docs(s, d), "doc_id", md5(col("text"))),
    Some("""SELECT md5(text) AS fp, min(doc_id) AS keep_id,
      | count(*) AS dup_count
      |FROM documents GROUP BY md5(text)""".stripMargin))

  // ----------------------------------------------------- token counting
  private val d02: (String, QFn, Option[String]) = ("d02_token_counts",
    (s, d) => TextOps.withTokenCounts(docs(s, d), "text")
      .select(col("doc_id"), col("n_tokens_regex"), col("n_tokens_ws"),
        col("n_distinct_tokens")),
    Some(s"""SELECT doc_id, len($tokSql) AS n_tokens_regex,
      | len(list_filter(string_split(text, ' '), x -> len(x) > 0))
      |   AS n_tokens_ws,
      | len(list_distinct($tokSql)) AS n_distinct_tokens
      |FROM documents""".stripMargin))

  // ----------------------------------------------------- quality scoring
  private val d03: (String, QFn, Option[String]) = ("d03_quality_score",
    (s, d) => {
      val t = docs(s, d)
      t.select(col("doc_id") +:
        TextOps.qualityCols(col("text"), TextOps.tokens(col("text"))): _*)
    },
    Some {
      val stopList = TextOps.langStopwords.flatMap(_._2)
        .map(w => s"'$w'").mkString(", ")
      val t = tokSql
      val nToks = s"len($t)"
      val meanLen = s"CASE WHEN $nToks > 0 THEN " +
        s"list_sum(list_transform($t, x -> len(x))) / $nToks ELSE 0 END"
      val stopRatio = s"CASE WHEN $nToks > 0 THEN " +
        s"len(list_filter($t, x -> list_contains([$stopList], x))) / $nToks ELSE 0 END"
      val ttr = s"CASE WHEN $nToks > 0 THEN " +
        s"len(list_distinct($t)) / $nToks ELSE 0 END"
      val digitRatio = s"CASE WHEN length(text) > 0 THEN " +
        s"len(regexp_extract_all(text, '[0-9]')) / length(text) ELSE 0 END"
      s"""SELECT doc_id,
        | length(text)::BIGINT AS n_chars_calc,
        | len($t)::BIGINT AS n_tokens,
        | len(list_distinct($t))::BIGINT AS n_distinct_tokens,
        | round($meanLen, 6) AS mean_token_len,
        | round($stopRatio, 6) AS stopword_ratio,
        | round($ttr, 6) AS type_token_ratio,
        | round($digitRatio, 6) AS digit_ratio,
        | round(0.35 * ($ttr) + 0.35 * ($stopRatio)
        |   + 0.2 * (1.0 - ($digitRatio))
        |   + 0.1 * least(($meanLen) / 10.0, 1.0), 6) AS quality_score
        |FROM documents""".stripMargin
    })

  // --------------------------------------------------------- language ID
  private val d04: (String, QFn, Option[String]) = ("d04_lang_id",
    (s, d) => docs(s, d).select(col("doc_id"),
      TextOps.langId(TextOps.tokens(col("text"))).as("lang_pred")),
    Some(s"""WITH sc AS (SELECT doc_id, $langScoreDefsSql FROM documents)
      |SELECT doc_id, $langCaseSql AS lang_pred FROM sc""".stripMargin))

  // --------------------------------------------- n-gram Jaccard near-dup
  // Hot-shingle df-cutoff (maxPostings=50) mirrored in the oracle: a
  // shingle appearing in >50 docs carries no dedup signal but makes the
  // pair join quadratic in its posting list — the standard scale guard.
  /** d05's full oracle text, shared with d62's k-sensitivity audit
    * (nested there as the truth side — the composition move). */
  private[graft] val jaccardPairsSql: String =
    s"""WITH $shCte,
      |shc AS (SELECT sh.* FROM sh JOIN (SELECT s FROM sh GROUP BY s
      |  HAVING count(*) <= 50) ok ON sh.s = ok.s),
      |sz AS (SELECT doc_id, count(*) AS n_sh FROM shc GROUP BY doc_id),
      |inter AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS i
      |  FROM shc x JOIN shc y ON x.s = y.s AND x.doc_id < y.doc_id
      |  GROUP BY 1, 2)
      |SELECT a, b, round(i / (sa.n_sh + sb.n_sh - i), 6) AS jaccard
      |FROM inter JOIN sz sa ON sa.doc_id = a JOIN sz sb ON sb.doc_id = b
      |WHERE round(i / (sa.n_sh + sb.n_sh - i), 6) >= 0.2""".stripMargin

  private val d05: (String, QFn, Option[String]) = ("d05_ngram_jaccard",
    (s, d) => Dedup.jaccardPairs(docs(s, d), "doc_id", "text", n = 3,
      threshold = 0.2, maxPostings = 50),
    Some(jaccardPairsSql))

  /** d06's full oracle text, shared with d52's fold-leakage audit (nested
    * there as a WITH subquery — the e09/d48/q76 composition move: the
    * audit replays the audited query's own SQL so the two can't drift). */
  private[graft] val minhashPairsSql: String =
    s"""WITH $shCte,
      |mh AS (SELECT doc_id, j,
      |    min(${md5HashSql("s || '#' || j")}) AS sig
      |  FROM sh, (SELECT unnest(range(0, $MINHASH_K)) AS j) js
      |  GROUP BY doc_id, j),
      |bk AS (SELECT doc_id, j // ${MINHASH_K / MINHASH_BANDS} AS band,
      |    md5(string_agg(sig::VARCHAR, ',' ORDER BY j)) AS bkey
      |  FROM mh GROUP BY doc_id, band),
      |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
      |  FROM bk x JOIN bk y ON x.band = y.band AND x.bkey = y.bkey
      |   AND x.doc_id < y.doc_id)
      |SELECT c.a, c.b,
      | round(sum(CASE WHEN ma.sig = mb.sig THEN 1 ELSE 0 END)
      |   / ${MINHASH_K.toDouble}, 6) AS est_jaccard
      |FROM cand c JOIN mh ma ON ma.doc_id = c.a
      | JOIN mh mb ON mb.doc_id = c.b AND mb.j = ma.j
      |GROUP BY c.a, c.b""".stripMargin

  private val d06: (String, QFn, Option[String]) = ("d06_minhash_lsh",
    (s, d) => Dedup.minhashLsh(docs(s, d), "doc_id", "text", n = 3,
      k = MINHASH_K, bands = MINHASH_BANDS),
    Some(minhashPairsSql))

  // ------------------------------------------------------------ SimHash
  private val SIMHASH_BITS = 60

  private val d07: (String, QFn, Option[String]) = ("d07_simhash",
    (s, d) => Dedup.simhash(docs(s, d), "doc_id", "text", SIMHASH_BITS)
      .select(col("doc").as("doc_id"), col("simhash")),
    Some {
      val bitSums = (0 until SIMHASH_BITS)
        .map(i => s"sum((hv >> $i) & 1) AS b$i").mkString(", ")
      val hash = (0 until SIMHASH_BITS)
        .map(i => s"CASE WHEN b$i * 2 > n THEN ${1L << i} ELSE 0 END")
        .mkString(" + ")
      s"""WITH tok AS (SELECT doc_id, unnest(list_distinct($tokSql)) AS w
        |  FROM documents),
        |h AS (SELECT doc_id, ${md5HashSql("w || '#0'")} AS hv FROM tok),
        |agg AS (SELECT doc_id, count(*) AS n, $bitSums FROM h
        |  GROUP BY doc_id)
        |SELECT doc_id, ($hash)::BIGINT AS simhash FROM agg""".stripMargin
    })

  private val d08: (String, QFn, Option[String]) = ("d08_simhash_pairs",
    (s, d) => Dedup.simhashPairs(
      Dedup.simhash(docs(s, d), "doc_id", "text", SIMHASH_BITS),
      maxDist = 4, bits = SIMHASH_BITS),
    Some {
      val simhashSql = d07._3.get
      s"""WITH s AS ($simhashSql)
        |SELECT x.doc_id AS a, y.doc_id AS b,
        | bit_count(xor(x.simhash, y.simhash))::BIGINT AS hamming
        |FROM s x JOIN s y ON x.doc_id < y.doc_id
        |WHERE bit_count(xor(x.simhash, y.simhash)) <= 4""".stripMargin
    })

  // ------------------------------------------ end-to-end corpus dedup
  // Exact groups + LSH near-dup edges → connected components → one
  // representative per cluster. The fixpoint RESULT is deterministic
  // (components are well-defined), so the oracle reproduces it with a
  // recursive CTE over the same edge set: enumerate reachable labels,
  // take the minimum per doc.
  private val d10: (String, QFn, Option[String]) = ("d10_dedup_corpus",
    (s, d) => Dedup.dedupCorpus(docs(s, d), "doc_id", "text", n = 3,
      k = MINHASH_K, bands = MINHASH_BANDS, minEstJaccard = 0.5),
    Some(s"""WITH RECURSIVE $shCte,
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
      |near AS (SELECT a, b FROM (
      |  SELECT c.a, c.b,
      |   round(sum(CASE WHEN ma.sig = mb.sig THEN 1 ELSE 0 END)
      |     / ${MINHASH_K.toDouble}, 6) AS ej
      |  FROM cand c JOIN mh ma ON ma.doc_id = c.a
      |   JOIN mh mb ON mb.doc_id = c.b AND mb.j = ma.j
      |  GROUP BY c.a, c.b) WHERE ej >= 0.5),
      |exg AS (SELECT md5(text) AS fp, min(doc_id) AS keep_id
      |  FROM documents GROUP BY 1),
      |exp AS (SELECT d.doc_id AS doc, g.keep_id AS peer FROM documents d
      |  JOIN exg g ON md5(d.text) = g.fp WHERE d.doc_id <> g.keep_id),
      |edges AS (SELECT doc, peer FROM exp
      |  UNION SELECT peer, doc FROM exp
      |  UNION SELECT a, b FROM near
      |  UNION SELECT b, a FROM near),
      |cc(doc, label) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT e.doc, c.label FROM edges e JOIN cc c ON c.doc = e.peer)
      |SELECT doc, min(label) AS keep_id FROM cc GROUP BY doc"""
      .stripMargin))

  // ------------------------------------------------------ fingerprinting
  private val d09: (String, QFn, Option[String]) = ("d09_fingerprint",
    (s, d) => docs(s, d).select(col("doc_id"),
      TextOps.fingerprint(col("text")).as("fp")),
    Some("""SELECT doc_id,
      | md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
      |FROM documents""".stripMargin))

  // ------------------------------------------- token-budget packing
  // LLM-training sequence packing: per shard, consecutive documents (by
  // doc_id) accumulate until the running token total crosses the budget;
  // pack_id = floor((cumsum - 1) / budget). The streaming-greedy shape
  // that fills fixed-length context windows — one window per shard, no
  // driver participation, oracle = the same window SQL.
  private val d11: (String, QFn, Option[String]) = ("d11_pack_budget",
    (s, d) => {
      val t = docs(s, d)
        .withColumn("n_tok", size(TextOps.tokens(col("text"))).cast("long"))
        .withColumn("shard", (col("doc_id") % 8).cast("long"))
      Sequences.packByBudget(t, Seq("shard"), Seq(col("doc_id")),
          col("n_tok"), 256)
        .select(col("doc_id"), col("shard"), col("n_tok"), col("pack_id"))
    },
    Some(s"""WITH t AS (SELECT doc_id, doc_id % 8 AS shard,
      |  len($tokSql)::BIGINT AS n_tok FROM documents)
      |SELECT doc_id, shard, n_tok,
      | ((sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
      |    ROWS UNBOUNDED PRECEDING) - 1) // 256)::BIGINT AS pack_id
      |FROM t""".stripMargin))

  // ------------------------------------------- repetition filtering
  // Gopher-style repetition metrics (top unigram/bigram fraction,
  // duplicate-token fraction) + keep flag. Pure projection — the keep
  // decision compares UNROUNDED int/int ratios (exact in any engine).
  private val d12: (String, QFn, Option[String]) = ("d12_repetition",
    (s, d) => TextOps.repetitionStats(docs(s, d), "doc_id", col("text")),
    Some(s"""WITH toks AS (SELECT doc_id, $tokSql AS w FROM documents),
      |uni AS (SELECT doc_id, max(c) AS topu FROM (
      |  SELECT doc_id, t, count(*) AS c FROM (
      |    SELECT doc_id, unnest(w) AS t FROM toks) GROUP BY 1, 2)
      |  GROUP BY 1),
      |big AS (SELECT doc_id, max(c) AS topb FROM (
      |  SELECT doc_id, s, count(*) AS c FROM (
      |    SELECT doc_id, unnest(list_transform(range(1, greatest(len(w), 1)),
      |      i -> array_to_string(list_slice(w, i, i + 1), ' '))) AS s
      |    FROM toks) GROUP BY 1, 2) GROUP BY 1),
      |m AS (SELECT t.doc_id, len(w)::BIGINT AS n,
      |  len(list_distinct(w))::BIGINT AS nd,
      |  coalesce(topu, 0)::BIGINT AS topu, coalesce(topb, 0)::BIGINT AS topb,
      |  greatest(len(w) - 1, 0)::BIGINT AS nb
      |  FROM toks t LEFT JOIN uni USING (doc_id) LEFT JOIN big USING (doc_id)),
      |f AS (SELECT doc_id, n, topu, topb,
      |  CASE WHEN n > 0 THEN topu::DOUBLE / n::DOUBLE ELSE 0 END AS fu,
      |  CASE WHEN nb > 0 THEN topb::DOUBLE / nb::DOUBLE ELSE 0 END AS fb,
      |  CASE WHEN n > 0 THEN 1.0::DOUBLE - nd::DOUBLE / n::DOUBLE
      |    ELSE 0 END AS fd FROM m)
      |SELECT doc_id, n AS n_tokens, topu AS top_token_count,
      | topb AS top_bigram_count, round(fu, 6) AS top_token_frac,
      | round(fb, 6) AS top_bigram_frac, round(fd, 6) AS dup_token_frac,
      | (fu <= 0.12 AND fb <= 0.10 AND fd <= 0.6)::BIGINT AS keep_repetition
      |FROM f""".stripMargin))

  // --------------------------------------------- rule-based quality filter
  // C4-style ordered reject rules with first-fail reason ('ok' = keep).
  // Stopword rule is C4-directional: reject docs LACKING stopwords.
  /** d13's per-doc metric + rule CTEs (`m`: unrounded n/mtl/sr/ttr/dr,
    * `r`: m + first-fail reject_reason) as one factored SQL text —
    * shared by d13's own filter table and d95's quality-classifier
    * oracle, so the classifier's pseudo-labels replay literally the
    * same rule text d13 verifies. */
  private[graft] lazy val ruleCtesSql: String = {
    val stopList = TextOps.langStopwords.flatMap(_._2)
      .map(w => s"'$w'").mkString(", ")
    s"""m AS (SELECT doc_id, len($tokSql)::BIGINT AS n,
      | CASE WHEN len($tokSql) > 0 THEN
      |   list_sum(list_transform($tokSql, x -> len(x)))::DOUBLE
      |     / len($tokSql)::DOUBLE ELSE 0 END AS mtl,
      | CASE WHEN len($tokSql) > 0 THEN
      |   len(list_filter($tokSql, x -> list_contains([$stopList], x)))::DOUBLE
      |     / len($tokSql)::DOUBLE ELSE 0 END AS sr,
      | CASE WHEN len($tokSql) > 0 THEN
      |   len(list_distinct($tokSql))::DOUBLE / len($tokSql)::DOUBLE
      |   ELSE 0 END AS ttr,
      | CASE WHEN length(text) > 0 THEN
      |   len(regexp_extract_all(text, '[0-9]'))::DOUBLE
      |     / length(text)::DOUBLE ELSE 0 END AS dr
      | FROM documents),
      |r AS (SELECT *, CASE WHEN n < 20 THEN 'too_short'
      |  WHEN n > 1000 THEN 'too_long'
      |  WHEN mtl < 3.0 OR mtl > 10.0 THEN 'token_len'
      |  WHEN dr > 0.2 THEN 'digit'
      |  WHEN sr < 0.01 THEN 'stopword'
      |  WHEN ttr < 0.35 THEN 'repetition'
      |  ELSE 'ok' END AS reject_reason FROM m)""".stripMargin
  }

  private val d13: (String, QFn, Option[String]) = ("d13_rule_filter",
    (s, d) => docs(s, d).select(col("doc_id") +:
      TextOps.ruleFilterCols(col("text"), TextOps.tokens(col("text"))): _*),
    Some(s"""WITH $ruleCtesSql
      |SELECT doc_id, n AS n_tokens, round(mtl, 6) AS mean_token_len,
      | round(sr, 6) AS stopword_ratio, round(ttr, 6) AS type_token_ratio,
      | reject_reason, (reject_reason = 'ok')::BIGINT AS keep
      |FROM r""".stripMargin))

  // ------------------------------------------- benchmark decontamination
  // Train docs sharing any word 4-gram with the eval slice (doc_id % 25 = 0)
  // are flagged — the test-set-leakage guard. Eval n-gram set is broadcast
  // (benchmarks are KBs, corpora are TBs).
  private val d14: (String, QFn, Option[String]) = ("d14_decontaminate",
    (s, d) => Dedup.decontaminate(docs(s, d), "doc_id", "text", n = 4,
        isEval = col("doc_id") % 25 === 0)
      .select(col("doc").as("doc_id"), col("n_overlap"), col("contaminated")),
    Some(s"""WITH toks AS (SELECT doc_id, $tokSql AS w FROM documents),
      |sh AS (SELECT DISTINCT doc_id, s FROM (SELECT doc_id,
      |  unnest(list_transform(range(1, greatest(len(w) - 2, 1)),
      |    i -> array_to_string(list_slice(w, i, i + 3), ' '))) AS s
      |  FROM toks)),
      |ev AS (SELECT DISTINCT s FROM sh WHERE doc_id % 25 = 0),
      |hit AS (SELECT doc_id, count(*) AS n_overlap FROM sh JOIN ev USING (s)
      |  WHERE doc_id % 25 <> 0 GROUP BY 1)
      |SELECT d.doc_id, coalesce(h.n_overlap, 0)::BIGINT AS n_overlap,
      | (coalesce(h.n_overlap, 0) > 0)::BIGINT AS contaminated
      |FROM documents d LEFT JOIN hit h ON d.doc_id = h.doc_id
      |WHERE d.doc_id % 25 <> 0""".stripMargin))

  // ----------------------------------------------- domain-mix sampling
  // Deterministic re-weighting toward a target source mix: keep rate per
  // source = frac × targetShare / actualShare (target ∝ 1 + srcnum % 3),
  // membership via content-addressed md5 uniform — bit-replayable.
  private val d15: (String, QFn, Option[String]) = ("d15_domain_mix",
    (s, d) => Sampling.domainMix(
        docs(s, d).select(col("doc_id"), col("source")),
        key = col("doc_id"), domain = col("source"),
        // digit-free sources: regexp_extract yields "" → null after cast;
        // coalesce to 0 so the domain gets weight 1 instead of silently
        // vanishing (and the oracle's try_cast mirrors it, where a plain
        // ''::BIGINT would abort the whole DuckDB query)
        weightOf = dom => lit(1) +
          coalesce(regexp_extract(dom, "[0-9]+", 0).cast("long"), lit(0L)) % 3,
        frac = 0.6)
      .select(col("doc_id"), col("source"), col("rate")),
    Some("""WITH c AS (SELECT source, count(*)::BIGINT AS cnt,
      |  (1 + (coalesce(try_cast(regexp_extract(source, '[0-9]+') AS BIGINT),
      |                 0) % 3))::DOUBLE AS w
      |  FROM documents GROUP BY source),
      |t AS (SELECT sum(cnt)::DOUBLE AS total, sum(w) AS sumw FROM c),
      |r AS (SELECT source, least(1.0::DOUBLE,
      |  round(0.6::DOUBLE * w * total / (sumw * cnt::DOUBLE), 6)) AS rate
      |  FROM c, t)
      |SELECT d.doc_id, d.source, r.rate
      |FROM documents d JOIN r USING (source)
      |WHERE ('0x' || substr(md5(d.doc_id::VARCHAR || '#mix'), 1, 15))::BIGINT
      |  / 1152921504606846976.0 < r.rate""".stripMargin))

  // ------------------------------------------------------ PII scrub
  // Email + long-digit-run detection/redaction. The redacted text is
  // compared by digest (scrubbed corpora are TB-sized; digests are 32B).
  // Patterns are RE2-safe so the oracle replays them verbatim.
  private val d16: (String, QFn, Option[String]) = ("d16_pii_redact",
    (s, d) => docs(s, d).select(col("doc_id") +:
      TextOps.piiCols(col("text")): _*),
    Some {
      val em = TextOps.emailPattern // backslash survives the SQL literal
      val dr = TextOps.digitRunPattern
      s"""WITH t AS (SELECT doc_id,
        |  len(regexp_extract_all(text, '$em'))::BIGINT AS n_emails,
        |  regexp_replace(text, '$em', '<EMAIL>', 'g') AS er
        |  FROM documents)
        |SELECT doc_id, n_emails,
        | len(regexp_extract_all(er, '$dr'))::BIGINT AS n_digit_runs,
        | (n_emails = 0
        |  AND len(regexp_extract_all(er, '$dr')) = 0)::BIGINT AS pii_free,
        | md5(regexp_replace(er, '$dr', '<ID>', 'g')) AS redacted_digest
        |FROM t""".stripMargin
    })

  // --------------------------- consistent pseudonymization (d93)
  // d16 REDACTS (every email becomes the same `<EMAIL>`); d93
  // PSEUDONYMIZES — each entity maps to a content-addressed placeholder
  // (`<user_K>` / `<id_K>`, K = md5(entity)%997), so the same entity
  // carries the same token in every document and cross-document
  // structure ("these two docs mention the same account") survives the
  // privacy pass. Span-exact two-pass rewrite (emails, then digit runs
  // on the email-pseudonymized text — d16's ordering), no string fold,
  // no residue (TextOps.pseudonymize scaladoc). Text travels as a
  // digest (the d16 policy); n_entities counts the doc's DISTINCT
  // placeholders — the per-doc entity diversity an anonymization
  // review reads next to k-anonymity (d66).
  private val d93: (String, QFn, Option[String]) = ("d93_pseudonymize",
    (s, d) => {
      val em = TextOps.pseudonymize(col("text"), TextOps.emailPattern,
        "user", 997, "piiem")
      val out = TextOps.pseudonymize(em, TextOps.digitRunPattern,
        "id", 997, "piiid")
      docs(s, d).select(col("doc_id"),
        size(regexp_extract_all(col("text"), lit(TextOps.emailPattern),
          lit(0))).cast("long").as("n_emails"),
        size(regexp_extract_all(em, lit(TextOps.digitRunPattern),
          lit(0))).cast("long").as("n_digit_runs"),
        size(array_distinct(regexp_extract_all(out,
          lit("<(user|id)_[0-9]+>"), lit(0)))).cast("long")
          .as("n_entities"),
        md5(out.cast("binary")).as("pseudo_digest"))
    },
    Some {
      val em = TextOps.emailPattern
      val dr = TextOps.digitRunPattern
      def pse(src: String, pat: String, tag: String, salt: String) =
        s"""array_to_string(list_transform(
           |  string_split(regexp_replace(replace($src, chr(1), ''),
           |    '$pat', chr(1) || '\\0' || chr(1), 'g'), chr(1)),
           |  p -> CASE WHEN regexp_full_match(p, '$pat')
           |    THEN '<${tag}_' ||
           |      (${md5HashSql(s"p || '#$salt'")} % 997)::VARCHAR || '>'
           |    ELSE p END), '')""".stripMargin
      s"""WITH a AS (SELECT doc_id, text,
        |    ${pse("text", em, "user", "piiem")} AS em_txt
        |  FROM documents),
        |b AS (SELECT doc_id, text, em_txt,
        |    ${pse("em_txt", dr, "id", "piiid")} AS out_txt
        |  FROM a)
        |SELECT doc_id,
        |  len(regexp_extract_all(text, '$em'))::BIGINT AS n_emails,
        |  len(regexp_extract_all(em_txt, '$dr'))::BIGINT AS n_digit_runs,
        |  len(list_distinct(regexp_extract_all(out_txt,
        |    '<(user|id)_[0-9]+>')))::BIGINT AS n_entities,
        |  md5(out_txt) AS pseudo_digest
        |FROM b""".stripMargin
    })

  // ------------------------------- token-F1 eval kernel (d94)
  // The SQuAD-style eval metric (Rajpurkar et al. 2016) as a corpus
  // operator — the kernel an at-scale eval harness runs over millions
  // of (prediction, gold) pairs: per pair, multiset token overlap
  // Σ_t min(c_pred, c_gold), then single-division precision/recall/F1
  // and the exact-match flag. Pairs here are deterministic: gold = the
  // doc's text, pred = d71's release-B perturbation (ids ≡0 mod 11
  // rewritten, so the metric sees true 1.0s AND true <1.0s). Scale
  // shape: two explodes to (doc, token, count) with map-side combine,
  // ONE equi-join on (doc, token) — never a per-doc quadratic scan;
  // counts exact BIGINT, three divisions at publish.
  private val d94: (String, QFn, Option[String]) = ("d94_token_f1",
    (s, d) => {
      // prediction and gold derive from the SAME document row, so the
      // multiset overlap is row-local: one native hash pass per row
      // (TokenOverlap) replaces two corpus-sized explode shuffles plus
      // the (doc, token) equi-join the operator shipped through r18 —
      // the whole metric is now a pure projection over the scan (guide
      // §2.4; 48.6 → 9.4 CPU-s at sf0.1). The expression is the generic
      // Σ_t min(c_pred, c_gold) kernel, bit-identical to the relational
      // form (TokenOverlapSpec), so arbitrary (pred, gold) pairs score
      // the same — nothing here exploits what THIS corpus's predictions
      // look like.
      val sizes = docs(s, d).select(col("doc_id"),
          TextOps.tokens(col("text")).as("_g"),
          TextOps.tokens(when(col("doc_id") % 11 === 0,
            concat(col("text"), lit(" [rev2]")))
            .otherwise(col("text"))).as("_p"))
        .select(col("doc_id"),
          size(col("_g")).cast("long").as("n_gold"),
          array_join(col("_g"), " ").as("_gs"),
          size(col("_p")).cast("long").as("n_pred"),
          array_join(col("_p"), " ").as("_ps"),
          // null array on either side → null → 0, the old
          // left-join-then-coalesce semantics
          coalesce(graft.functions.TokenOverlap.tokenOverlap(
            col("_p"), col("_g")), lit(0L)).as("n_overlap"))
      sizes
        .select(col("doc_id"), col("n_pred"), col("n_gold"),
          col("n_overlap"),
          when(col("n_pred") > 0, round(col("n_overlap").cast("double")
            / col("n_pred").cast("double"), 6)).as("prec"),
          when(col("n_gold") > 0, round(col("n_overlap").cast("double")
            / col("n_gold").cast("double"), 6)).as("rec"),
          when(col("n_pred") + col("n_gold") > 0,
            round(lit(2.0) * col("n_overlap").cast("double")
              / (col("n_pred") + col("n_gold")).cast("double"), 6))
            .as("f1"),
          // SQuAD EM is normalized STRING equality (normalizer here =
          // the tokenizer), not multiset equality — a token-permuted
          // prediction must score EM 0 even at F1 1.0
          (col("_ps") === col("_gs")).cast("long").as("exact_match"))
    },
    Some(s"""WITH g AS (SELECT doc_id, $tokSql AS w FROM documents),
      |p AS (SELECT doc_id, regexp_extract_all(lower(
      |    CASE WHEN doc_id % 11 = 0 THEN text || ' [rev2]'
      |      ELSE text END), '[a-z0-9]+') AS w
      |  FROM documents),
      |gc AS (SELECT doc_id, tok, count(*)::BIGINT AS c_g
      |  FROM (SELECT doc_id, unnest(w) AS tok FROM g) GROUP BY 1, 2),
      |pc AS (SELECT doc_id, tok, count(*)::BIGINT AS c_p
      |  FROM (SELECT doc_id, unnest(w) AS tok FROM p) GROUP BY 1, 2),
      |ov AS (SELECT doc_id, sum(least(c_p, c_g))::BIGINT AS n_overlap
      |  FROM pc JOIN gc USING (doc_id, tok) GROUP BY 1),
      |sz AS (SELECT g.doc_id, len(p.w)::BIGINT AS n_pred,
      |    len(g.w)::BIGINT AS n_gold,
      |    (coalesce(array_to_string(p.w, ' '), '')
      |      = coalesce(array_to_string(g.w, ' '), ''))::BIGINT AS em
      |  FROM g JOIN p USING (doc_id))
      |SELECT s.doc_id, s.n_pred, s.n_gold,
      |  coalesce(o.n_overlap, 0)::BIGINT AS n_overlap,
      |  CASE WHEN s.n_pred > 0 THEN round(coalesce(o.n_overlap, 0)::DOUBLE
      |    / s.n_pred::DOUBLE, 6) END AS prec,
      |  CASE WHEN s.n_gold > 0 THEN round(coalesce(o.n_overlap, 0)::DOUBLE
      |    / s.n_gold::DOUBLE, 6) END AS rec,
      |  CASE WHEN s.n_pred + s.n_gold > 0
      |    THEN round(2.0 * coalesce(o.n_overlap, 0)::DOUBLE
      |      / (s.n_pred + s.n_gold)::DOUBLE, 6) END AS f1,
      |  s.em AS exact_match
      |FROM sz s LEFT JOIN ov o USING (doc_id)""".stripMargin))

  // ------------------------------------------------ token chunking
  // Overlapping context windows (size 64, stride 48) — the sequence-prep
  // step between curation and tokenized training shards. Rows ≈ n/stride
  // per doc; chunk text travels as a digest.
  private val d17: (String, QFn, Option[String]) = ("d17_chunking",
    (s, d) => docs(s, d)
      .select(col("doc_id"),
        explode(TextOps.chunkCols(TextOps.tokens(col("text")), 64, 48))
          .as("c"))
      .select(col("doc_id"), col("c.chunk_id"), col("c.n_chunk_tokens"),
        col("c.chunk_digest")),
    Some(s"""WITH toks AS (SELECT doc_id, $tokSql AS w FROM documents),
      |c AS (SELECT doc_id, w, unnest(range(1, len(w) + 1, 48)) AS s
      |  FROM toks)
      |SELECT doc_id, ((s - 1) // 48)::BIGINT AS chunk_id,
      | len(list_slice(w, s, s + 63))::BIGINT AS n_chunk_tokens,
      | md5(array_to_string(list_slice(w, s, s + 63), ' ')) AS chunk_digest
      |FROM c""".stripMargin))

  // ------------------------------------------- token-entropy scoring
  // Unigram Shannon entropy + length-normalized ratio. Spark computes
  // Σ c·log2(c) in ONE sorted-run aggregate pass per row (no per-doc
  // group-by); the oracle takes the classic unnest → count route.
  private val d18: (String, QFn, Option[String]) = ("d18_token_entropy",
    (s, d) => docs(s, d).select(col("doc_id") +:
      TextOps.entropyCols(TextOps.tokens(col("text"))): _*),
    Some(s"""WITH toks AS (SELECT doc_id, $tokSql AS w FROM documents),
      |u AS (SELECT doc_id, unnest(w) AS t FROM toks),
      |cnt AS (SELECT doc_id, t, count(*)::DOUBLE AS c FROM u GROUP BY 1, 2),
      |s AS (SELECT doc_id, sum(c * log2(c)) AS sl, sum(c) AS n
      |  FROM cnt GROUP BY 1)
      |SELECT t.doc_id, len(t.w)::BIGINT AS n_tokens,
      | CASE WHEN s.n > 0 THEN round(log2(s.n) - sl / s.n, 6)
      |   ELSE 0.0 END AS token_entropy,
      | CASE WHEN s.n > 1 THEN round((log2(s.n) - sl / s.n) / log2(s.n), 6)
      |   ELSE 0.0 END AS entropy_ratio
      |FROM toks t LEFT JOIN s USING (doc_id)""".stripMargin))

  // --------------------------------------------- KMV distinct sketch
  // Distinct users per event_type, estimated from the k smallest 60-bit
  // md5 hashes (integer ranking → exact cross-engine selection; the lone
  // division is round-6). n_exact kept alongside for error inspection.
  private val d19: (String, QFn, Option[String]) = ("d19_kmv_sketch",
    (s, d) => Sketches.kmvDistinct(Tables.events(s, d),
        col("event_type"), col("user_id"), k = 64)
      .select(col("grp").as("event_type"), col("n_exact"),
        col("est_distinct")),
    Some(s"""WITH h AS (SELECT DISTINCT event_type,
      |  ('0x'||substr(md5(user_id::VARCHAR||'#kmv'),1,15))::BIGINT AS h
      |  FROM events),
      |r AS (SELECT event_type, h,
      |  row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
      |  FROM h),
      |sk AS (SELECT event_type, count(*)::BIGINT AS m, max(h) AS hk
      |  FROM r WHERE rn <= 64 GROUP BY 1),
      |ex AS (SELECT event_type, count(DISTINCT user_id)::BIGINT AS n_exact
      |  FROM events GROUP BY 1)
      |SELECT ex.event_type, ex.n_exact,
      | round(CASE WHEN sk.m >= 64
      |   THEN 63.0 * 1152921504606846976.0 / sk.hk::DOUBLE
      |   ELSE sk.m::DOUBLE END, 6) AS est_distinct
      |FROM ex JOIN sk USING (event_type)""".stripMargin))

  // ------------------------------------------ weighted priority sample
  // Per-source weighted top-k sample: longer docs carry weight 1..3 and
  // are proportionally likelier to survive. Integer-only ranking
  // (h·6 div w) — no float boundary can flip the kept set.
  private val d20: (String, QFn, Option[String]) = ("d20_weighted_sample",
    (s, d) => Sampling.prioritySample(
        docs(s, d).select(col("doc_id"), col("source"), col("n_chars")),
        group = col("source"), key = col("doc_id"),
        weight = least(lit(3L), lit(1L) + expr("n_chars div 500")),
        lcm = 6, k = 20)
      .select(col("doc_id"), col("source"), col("_w").as("w"),
        col("priority")),
    Some("""WITH t AS (SELECT doc_id, source,
      |  least(3, 1 + n_chars // 500)::BIGINT AS w,
      |  ('0x'||substr(md5(doc_id::VARCHAR||'#wps'),1,15))::BIGINT AS h
      |  FROM documents),
      |p AS (SELECT doc_id, source, w, (h * 6) // w AS priority,
      |  row_number() OVER (PARTITION BY source
      |    ORDER BY (h * 6) // w, doc_id) AS rn FROM t)
      |SELECT doc_id, source, w, priority FROM p WHERE rn <= 20"""
      .stripMargin))

  // ----------------------------------------------------------- TF-IDF
  // Corpus-level term weighting: exact tf/df counts, one ln in the value
  // (round-6), df table joined SHUFFLED on term (vocabulary-sized at
  // corpus scale — deliberately not broadcast).
  private val d21: (String, QFn, Option[String]) = ("d21_tfidf",
    (s, d) => TextOps.tfidf(docs(s, d), "doc_id",
      TextOps.tokens(col("text"))),
    Some(s"""WITH toks AS (SELECT doc_id, $tokSql AS w FROM documents),
      |t AS (SELECT doc_id, unnest(w) AS term FROM toks),
      |tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf
      |  FROM t GROUP BY 1, 2),
      |dfq AS (SELECT term, count(*)::BIGINT AS df_count FROM tf GROUP BY 1),
      |n AS (SELECT count(*)::DOUBLE AS nd FROM documents)
      |SELECT tf.doc_id, tf.term, tf.tf, dfq.df_count,
      | round(tf.tf * (ln((nd + 1.0) / (df_count::DOUBLE + 1.0)) + 1.0), 6)
      |   AS tfidf
      |FROM tf JOIN dfq USING (term), n""".stripMargin))

  // --------------------------------------------- incremental dedup
  // Continuous-curation shape: docs with doc_id % 10 = 7 arrive as the
  // NEW batch; the rest are the standing corpus, reduced to a distinct
  // digest index. Anti-join on the 16-byte fp at corpus scale; the
  // batch-internal first-wins window runs over the batch only.
  private val d22: (String, QFn, Option[String]) = ("d22_incremental_dedup",
    (s, d) => Dedup.incrementalDedup(docs(s, d), "doc_id",
      TextOps.fingerprint(col("text")), col("doc_id") % 10 === 7),
    Some("""WITH f AS (SELECT doc_id,
      |  md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))
      |    AS fp,
      |  (doc_id % 10 = 7) AS isnew FROM documents),
      |c AS (SELECT DISTINCT fp FROM f WHERE NOT isnew),
      |b AS (SELECT doc_id, fp,
      |  row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
      |  FROM f WHERE isnew)
      |SELECT b.doc_id AS doc, b.fp,
      | CASE WHEN c.fp IS NOT NULL THEN 'dup_corpus'
      |      WHEN b.rn > 1 THEN 'dup_batch'
      |      ELSE 'new' END AS reason,
      | (CASE WHEN c.fp IS NOT NULL THEN 'dup_corpus'
      |       WHEN b.rn > 1 THEN 'dup_batch'
      |       ELSE 'new' END = 'new')::BIGINT AS admitted
      |FROM b LEFT JOIN c USING (fp)""".stripMargin))

  // ------------------------------------------------- BM25 relevance
  // Okapi/Lucene BM25 of every document against a fixed query bag —
  // the seed-set mining primitive. Corpus stats (N, avgdl, per-term df)
  // are ONE 1-row aggregate broadcast to a map-side scoring projection.
  // The oracle spells the literals as the same arithmetic ((1.2 + 1.0),
  // (1 - 0.75)) so both engines run the identical double expression.
  private[graft] val bm25Terms = Seq("spark", "join", "data")

  /** d23's full oracle text, shared with d54's bm25_full lock (nested
    * there as a WITH subquery — same drift-proofing as minhashPairsSql:
    * the audit replays the audited query's own SQL). */
  private[graft] val bm25FullSql: String = {
    val tfs = bm25Terms.indices.map(i =>
      s"len(list_filter(w, x -> x = '${bm25Terms(i)}'))::DOUBLE AS tf$i")
      .mkString(", ")
    val dfs = bm25Terms.indices.map(i =>
      s"sum((tf$i > 0)::INT)::DOUBLE AS df$i").mkString(", ")
    val score = bm25Terms.indices.map(i =>
      s"""ln(1.0 + (nd - df$i + 0.5) / (df$i + 0.5)) * tf$i * (1.2 + 1.0)
         | / (tf$i + 1.2 * ((1 - 0.75) + 0.75 * n / avgdl))"""
        .stripMargin.replaceAll("\n", "")).mkString(" + ")
    s"""WITH t AS (SELECT doc_id, $tokSql AS w FROM documents),
      |p AS (SELECT doc_id, len(w)::DOUBLE AS n, $tfs FROM t),
      |s AS (SELECT count(*)::DOUBLE AS nd, avg(n) AS avgdl, $dfs FROM p)
      |SELECT doc_id, n::BIGINT AS n_tokens, round($score, 6) AS bm25
      |FROM p, s""".stripMargin
  }

  private val d23: (String, QFn, Option[String]) = ("d23_bm25",
    (s, d) => Relevance.bm25(docs(s, d), "doc_id", "text", bm25Terms),
    Some(bm25FullSql))

  // ------------------------------------------------- rank fusion
  // Reciprocal-rank fusion of two top-100 rankings: BM25 (rounded score)
  // and raw query-term hit count. Each list is a TakeOrdered top-k —
  // never a global-sort single-partition window over the corpus — so the
  // fusion aggregate sees 2k rows regardless of corpus size.
  private val d24: (String, QFn, Option[String]) = ("d24_rrf_fusion",
    (s, d) => {
      val terms = bm25Terms
      val byBm25 = Relevance.topKRanks(
        Relevance.bm25(docs(s, d), "doc_id", "text", terms),
        "bm25", "doc_id", 100)
      val hits = docs(s, d).select(col("doc_id"),
        size(filter(TextOps.tokens(col("text")),
          x => x.isin(terms.map(lit): _*).cast("boolean")))
          .cast("double").as("hits"))
      val byHits = Relevance.topKRanks(hits, "hits", "doc_id", 100)
      Relevance.rrfFuse(Seq(byBm25, byHits), "doc_id", "rank")
    },
    Some {
      val terms = bm25Terms
      val tfs = terms.indices.map(i =>
        s"len(list_filter(w, x -> x = '${terms(i)}'))::DOUBLE AS tf$i")
        .mkString(", ")
      val dfs = terms.indices.map(i =>
        s"sum((tf$i > 0)::INT)::DOUBLE AS df$i").mkString(", ")
      val score = terms.indices.map(i =>
        s"""ln(1.0 + (nd - df$i + 0.5) / (df$i + 0.5)) * tf$i * (1.2 + 1.0)
           | / (tf$i + 1.2 * ((1 - 0.75) + 0.75 * n / avgdl))"""
          .stripMargin.replaceAll("\n", "")).mkString(" + ")
      val list = terms.map(t => s"'$t'").mkString(", ")
      s"""WITH t AS (SELECT doc_id, $tokSql AS w FROM documents),
        |p AS (SELECT doc_id, len(w)::DOUBLE AS n, $tfs,
        |  len(list_filter(w, x -> list_contains([$list], x)))::DOUBLE
        |    AS hits FROM t),
        |s AS (SELECT count(*)::DOUBLE AS nd, avg(n) AS avgdl, $dfs FROM p),
        |b AS (SELECT doc_id, round($score, 6) AS sc, hits FROM p, s),
        |ra AS (SELECT doc_id, row_number()
        |    OVER (ORDER BY sc DESC, doc_id ASC) AS r
        |  FROM (SELECT * FROM b ORDER BY sc DESC, doc_id ASC LIMIT 100)),
        |rb AS (SELECT doc_id, row_number()
        |    OVER (ORDER BY hits DESC, doc_id ASC) AS r
        |  FROM (SELECT * FROM b ORDER BY hits DESC, doc_id ASC LIMIT 100)),
        |u AS (SELECT doc_id, 1.0::DOUBLE / (60.0 + r::DOUBLE) AS c FROM ra
        |  UNION ALL
        |  SELECT doc_id, 1.0::DOUBLE / (60.0 + r::DOUBLE) AS c FROM rb)
        |SELECT doc_id, round(sum(c), 6) AS rrf_score,
        | count(*) AS n_lists
        |FROM u GROUP BY doc_id""".stripMargin
    })

  lazy val defs: Seq[(String, QFn, Option[String])] = Seq(d01, d02, d03, d04, d05, d06, d07, d08, d09, d10, d11, d12, d13, d14, d15, d16, d17, d18, d19, d20, d21, d22, d23, d24, d93, d94)
}
