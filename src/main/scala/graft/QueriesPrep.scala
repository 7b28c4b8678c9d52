package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.CrossRound.round // shadows functions.round: cross-engine form
import graft.ops._
import graft.schema.Tables
import graft.QueriesText.md5HashSql

/** Registry slice d63–d66: supervised-training data preparation — the
  * label-side counterpart to the d41–d62 corpus-curation family. These are
  * the operations that sit between a curated corpus and a training run:
  * leakage-free categorical target encoding, a temporal train/val/test cut
  * with embargo gaps, annotation majority-vote aggregation (the RLHF /
  * labeling-vendor shape), and the k-anonymity / l-diversity audit a data
  * release gates on.
  *
  * Shared determinism discipline (see Queries scaladoc): every mean is a
  * ratio of EXACT integer sums rounded once through the cross-engine
  * multiply form — no floating-point accumulation anywhere, so results are
  * bit-identical on 1 core or 1000 executors. */
private[graft] object QueriesPrep {
  type QFn = (SparkSession, String) => DataFrame

  private def ev(s: SparkSession, d: String): DataFrame = Tables.events(s, d)

  // --------------------------------- out-of-fold target encoding (d63)
  // Mean-target encoding is the classic high-cardinality categorical
  // feature (CatBoost's core trick — the reference's own model family,
  // run.py:466-468), and the classic LEAKAGE bug: encoding a row with a
  // mean that includes its own label. The leakage-free form encodes each
  // fold with the OTHER folds' statistics: enc(c, f) =
  // (pos(c) − pos(c,f) + m·prior) / (cnt(c) − cnt(c,f) + m), smoothing
  // m = 10 toward the global prior so rare categories shrink to it.
  //
  // Scale shape: ONE corpus-sized exchange — the (category, fold) partial
  // count/sum aggregation with map-side combine. Everything after runs on
  // the |categories|×k aggregate: per-category totals are a second tiny
  // aggregation of THAT, the global prior is a broadcast 1-row reduction
  // of the same, and the out-of-fold subtraction (total − own fold) means
  // NO per-row second pass — the trick that makes k-fold encoding O(1)
  // extra work instead of k recomputations. Folds are content-addressed
  // (Sampling.hashFold md5, stable across runs/engines/partitionings —
  // the same discipline as q41/d52), so the encoding is reproducible and
  // the oracle replays the fold assignment exactly. The encoded value is
  // a ratio of exact integer sums: deterministic at any parallelism.
  private val d63: (String, QFn, Option[String]) = ("d63_target_encode",
    (s, d) => Prep.outOfFoldTargetEncode(
      ev(s, d).select(
        col("event_type").as("category"),
        Sampling.hashFold(col("event_id"), 5).as("fold"),
        (col("value") > 50).cast("long").as("y")),
      m = 10.0),
    Some(s"""WITH s AS (SELECT event_type AS category,
      |    ${md5HashSql("event_id::VARCHAR || '#fold'")} % 5 AS fold,
      |    CASE WHEN value > 50 THEN 1 ELSE 0 END AS y FROM events),
      |  f AS (SELECT category, fold, count(*)::BIGINT AS n,
      |    sum(y)::BIGINT AS pos FROM s GROUP BY 1, 2),
      |  t AS (SELECT category, sum(n)::BIGINT AS tn,
      |    sum(pos)::BIGINT AS tp FROM f GROUP BY 1),
      |  g AS (SELECT sum(n)::BIGINT AS gn, sum(pos)::BIGINT AS gp FROM f)
      |SELECT f.category, fold, n, pos,
      |  round((tp - pos + 10.0 * (gp::DOUBLE / gn)) /
      |        (tn - n + 10.0), 6) AS encoded
      |FROM f JOIN t USING (category) CROSS JOIN g""".stripMargin))

  // ------------------------------ temporal split with embargo (d64)
  // Random splits leak future into past on time-series data (the
  // reference's transactions ARE a time-series, FIXTURES.md §1); the
  // standard fix is a chronological cut with EMBARGO gaps dropped around
  // each boundary so near-boundary correlation (a user's behavior just
  // before/after the cut) can't bridge train and eval. Cuts are at count
  // fractions 70% | 2% gap | 13% | 2% gap | 13%, and land on DISTINCT-
  // TIMESTAMP boundaries — a split that separates two simultaneous events
  // is not a temporal split, and whole-timestamp assignment is also what
  // makes the cut deterministic without a row-level tiebreaker.
  //
  // Scale shape: the global event rank is NEVER materialized per row —
  // ranks live on the distinct-timestamp table (one corpus-sized exchange
  // to build), whose cumulative count comes from the d37/d61 distributed
  // prefix sum (range partitions + broadcast per-partition offsets, no
  // single-task global window). Split labels then flow back to events via
  // a plain ts equi-join and the summary is one more aggregation. A
  // sortWithinPartitions/orderBy global sort of the corpus never happens.
  private val d64: (String, QFn, Option[String]) = ("d64_temporal_split",
    (s, d) => {
      val split = Prep.temporalSplitByTs(ev(s, d), "ts",
        Seq(0.70 -> "train", 0.72 -> "embargo1",
          0.85 -> "val", 0.87 -> "embargo2"), last = "test")
      ev(s, d).join(split, "ts").groupBy("split")
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("user_id")).as("n_users"),
          countDistinct(col("ts")).as("n_ts"))
    },
    Some("""WITH tc AS (SELECT ts, count(*)::BIGINT AS cnt
      |    FROM events GROUP BY ts),
      |  cu AS (SELECT ts, sum(cnt) OVER (ORDER BY ts)::BIGINT AS cum
      |    FROM tc),
      |  tot AS (SELECT sum(cnt)::BIGINT AS n FROM tc),
      |  sp AS (SELECT ts, CASE
      |      WHEN cum <= floor(0.70 * n) THEN 'train'
      |      WHEN cum <= floor(0.72 * n) THEN 'embargo1'
      |      WHEN cum <= floor(0.85 * n) THEN 'val'
      |      WHEN cum <= floor(0.87 * n) THEN 'embargo2'
      |      ELSE 'test' END AS split
      |    FROM cu CROSS JOIN tot)
      |SELECT split, count(*)::BIGINT AS n_rows,
      |  count(DISTINCT user_id)::BIGINT AS n_users,
      |  count(DISTINCT e.ts)::BIGINT AS n_ts
      |FROM events e JOIN sp USING (ts) GROUP BY split""".stripMargin))

  // ----------------------------- annotation majority vote (d65)
  // Label aggregation for multi-annotator data (the RLHF / labeling-vendor
  // shape): each item gets several categorical votes; the consensus label
  // is the modal vote with a DETERMINISTIC tie-break (higher count wins,
  // then lower vocabulary index — ties are where naive argmax
  // implementations go nondeterministic across engines, FIXTURES.md's A8
  // mode lesson). Stand-in data: user_id = item, event_type = vote.
  //
  // Scale shape: ONE corpus-sized exchange. The closed vote vocabulary
  // (|V| = 5) turns per-item vote counting into a conditional aggregation
  // (the Pivots move — map-side combined, no (item, label) pre-shuffle),
  // and the argmax-with-tiebreak is a PACKED-SCORE projection on the
  // aggregate row: score_i = cnt_i·8 − i, g = greatest(scores) recovers
  // i = (8 − g mod 8) mod 8 and cnt = (g + i)/8 — pure integer algebra
  // both engines replay bit-for-bit, no window, no second shuffle. The
  // summary micro-agreement is a ratio of exact BIGINT sums (top votes /
  // total votes), not an average of per-item doubles.
  private val d65: (String, QFn, Option[String]) = ("d65_label_vote",
    (s, d) => Prep.majorityVote(ev(s, d), "user_id", "event_type",
        Tables.eventTypeVocab)
      .groupBy("majority")
      .agg(count(lit(1)).as("n_items"),
        sum((col("top") === col("total")).cast("long")).as("n_unanimous"),
        sum("top").as("sum_top"), sum("total").as("sum_votes"))
      .withColumn("micro_agreement",
        round(col("sum_top").cast("double") / col("sum_votes"), 6)),
    Some {
      val vocab = Tables.eventTypeVocab
      val cnts = vocab.zipWithIndex.map { case (v, i) =>
        s"sum(CASE WHEN event_type = '$v' THEN 1 ELSE 0 END)::BIGINT AS c$i"
      }.mkString(", ")
      val scores = vocab.indices.map(i => s"c$i * 8 - $i").mkString(", ")
      val majCase = vocab.zipWithIndex
        .map { case (v, i) => s"WHEN idx = $i THEN '$v'" }
        .mkString(" ")
      s"""WITH counted AS (SELECT user_id, count(*)::BIGINT AS total, $cnts
        |    FROM events GROUP BY user_id),
        |  scored AS (SELECT *, greatest($scores) AS g FROM counted),
        |  arg AS (SELECT *, (8 - (g % 8)) % 8 AS idx FROM scored),
        |  item AS (SELECT CASE $majCase END AS majority, total,
        |      ((g + idx) // 8)::BIGINT AS top FROM arg)
        |SELECT majority, count(*)::BIGINT AS n_items,
        |  sum(CASE WHEN top = total THEN 1 ELSE 0 END)::BIGINT
        |    AS n_unanimous,
        |  sum(top)::BIGINT AS sum_top, sum(total)::BIGINT AS sum_votes,
        |  round(sum_top::DOUBLE / sum_votes, 6) AS micro_agreement
        |FROM item GROUP BY majority""".stripMargin
    })

  // ------------------------- inter-annotator agreement kappa (d84)
  // The QA audit over the SAME multi-annotator stand-in d65 votes on
  // (user_id = item, event_type = vote): Fleiss-style chance-corrected
  // agreement, pooled pairwise form, grouped by panel size so redundancy
  // buys visibility (does agreement hold when more raters weigh in?).
  // kappa near 0 = the votes are chance-level noise and d65's majority
  // is not a usable label; the gate labeling vendors are paid against.
  // All inputs exact BIGINTs, two double divisions + IEEE arithmetic at
  // publish (ops/Prep.agreementByPanel scaladoc); kappa is
  // negative-zero-normalized (exact-chance agreement cancels to ~0).
  private val d84: (String, QFn, Option[String]) = ("d84_rater_kappa",
    (s, d) => Prep.agreementByPanel(ev(s, d), "user_id", "event_type"),
    Some("""WITH c AS (SELECT user_id AS i, event_type AS v,
      |    count(*)::BIGINT AS nij FROM events GROUP BY 1, 2),
      |  it AS (SELECT i, sum(nij)::BIGINT AS ni,
      |      (sum(nij * (nij - 1)) // 2)::BIGINT AS agree
      |    FROM c GROUP BY 1 HAVING sum(nij) >= 2),
      |  g AS (SELECT ni AS n_raters, count(*)::BIGINT AS n_items,
      |      sum(agree)::BIGINT AS agree_pairs,
      |      (sum(ni * (ni - 1)) // 2)::BIGINT AS total_pairs
      |    FROM it GROUP BY ni),
      |  m AS (SELECT it.ni AS n_raters, c.v, sum(c.nij)::BIGINT AS mj
      |    FROM c JOIN it USING (i) GROUP BY 1, 2),
      |  e AS (SELECT n_raters, sum(mj * mj)::BIGINT AS pe_num,
      |      sum(mj)::BIGINT AS mm FROM m GROUP BY 1),
      |  k AS (SELECT n_raters, n_items, agree_pairs, total_pairs,
      |      agree_pairs::DOUBLE / total_pairs::DOUBLE AS po,
      |      pe_num::DOUBLE / (mm::DOUBLE * mm::DOUBLE) AS pe
      |    FROM g JOIN e USING (n_raters))
      |SELECT n_raters, n_items, agree_pairs, total_pairs,
      |  round(po, 6) AS po, round(pe, 6) AS pe,
      |  CASE WHEN pe < 1.0 THEN round((po - pe) / (1.0 - pe), 6) + 0.0
      |    END AS kappa
      |FROM k""".stripMargin))

  // ------------------------------- SFT example assembly (d89)
  // The step that turns interaction logs into instruction-tuning rows:
  // each user's event stream is a "conversation", every turn with
  // context becomes (context = last ≤3 turns, target = turn) plus the
  // loss-mask boundary n_ctx and a content-addressed example_fp that
  // makes the emitted dataset d01-dedupable. ONE user-key exchange
  // (Prep.sftExamples scaladoc); ordering is the total (ts, event_id)
  // so the context strings are engine-independent.
  /** d89's oracle text, shared with s15's streaming twin — the batch
    * window form both the window query and the stateful processor must
    * equal. */
  private[graft] val sftSql: String =
    """WITH o AS (SELECT user_id, event_id, event_type,
      |    array_to_string(list(event_type) OVER w, ' ') AS context,
      |    count(*) OVER w AS n_ctx
      |  FROM events WINDOW w AS (PARTITION BY user_id
      |    ORDER BY ts, event_id
      |    ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING))
      |SELECT user_id AS convo_id, event_id AS example_id, context,
      |  event_type AS target, n_ctx::BIGINT AS n_ctx,
      |  md5(context || ' => ' || event_type) AS example_fp
      |FROM o WHERE n_ctx >= 1""".stripMargin

  private val d89: (String, QFn, Option[String]) = ("d89_sft_examples",
    (s, d) => Prep.sftExamples(ev(s, d), col("user_id"), col("event_id"),
      Seq(col("ts"), col("event_id")), col("event_type"), k = 3),
    Some(sftSql))

  // --------------------------------- k-anonymity release audit (d66)
  // The privacy gate beside d16's PII redaction and d46's release set:
  // one row per occupied quasi-identifier combination — (market segment,
  // nation) here — with group size, l-diversity of the sensitive account
  // balance, and the n < k re-identification flag. ONE aggregation on
  // the QI key (count map-side-combined, countDistinct partial-distinct
  // before the exchange); the result is QI-space-sized, so the
  // suppress/generalize join-back broadcasts at any corpus scale.
  private val d66: (String, QFn, Option[String]) = ("d66_k_anonymity",
    (s, d) => Prep.kAnonymity(Tables.customer(s, d),
        Seq("c_mktsegment", "c_nationkey"), col("c_acctbal"), k = 5L)
      .select(col("c_mktsegment"), col("c_nationkey"), col("n"),
        col("l_div"), col("at_risk")),
    Some("""SELECT c_mktsegment, c_nationkey, count(*) AS n,
      | count(DISTINCT c_acctbal) AS l_div,
      | (count(*) < 5)::BIGINT AS at_risk
      |FROM customer GROUP BY 1, 2""".stripMargin))

  // --------------------------- DSIR importance selection (d69, d70)
  // Data Selection via Importance Resampling (Xie et al., NeurIPS 2023):
  // the published answer to "which slice of a 100 TB crawl most resembles
  // my target domain". d69 scores every document with the hashed-n-gram
  // log importance weight log w(d) = Σ_f c_f(d)·(ln p_f − ln q_f) — p fit
  // on the TARGET slice (lang = 'en' here), q on the full raw corpus,
  // add-one smoothing over DSIR_B hash buckets — and d70 performs the
  // paper's resampling step: Gumbel-top-k on the weights (sampling ∝ w
  // without replacement), with CONTENT-ADDRESSED noise so the draw is an
  // engine-independent pure function of the corpus. Scale shape (see
  // ops/Dsir.scala): explodes are linear in corpus tokens with map-side
  // combine, the ratio table is DSIR_B rows broadcast, selection is
  // TakeOrdered — no window over the corpus, no all-pairs. Production
  // raises DSIR_B to the paper's 10k and swaps the md5 bucket hash for
  // xxhash64; nothing else changes.
  private val DSIR_B = 64

  private val DSIR_K = 100

  private def dsirDocs(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)

  private def dsirWeights(s: SparkSession, d: String): DataFrame = {
    // ONE token explosion total: the (doc, bucket, c) table is
    // materialized once (docs × ≤B rows — far smaller than the token
    // stream it summarizes) and the target slice's counts derive from it
    // by a semi-join on the target doc ids, exactly like the oracle's
    // `bc JOIN tgtd` CTE. Without the checkpoint the three consumers
    // (target sums, raw sums, per-doc weights) would re-run the corpus
    // explode per branch — the same join-inferred-filter reuse failure
    // PlanShapeSpec caught on d63.
    val raw = Dsir.bucketCounts(dsirDocs(s, d), "doc_id", "text", DSIR_B)
      .localCheckpoint(true)
    val tgt = raw.join(
      dsirDocs(s, d).filter(col("lang") === "en")
        .select(col("doc_id").as("doc")),
      Seq("doc"), "left_semi")
    Dsir.logWeights(raw, Dsir.logRatios(tgt, raw, DSIR_B))
  }

  /** d69's oracle CTE stack, replayed verbatim inside d70 (the composition
    * move — consumer nests producer so the two cannot drift). */
  private val dsirLwSql: String = {
    val bigramSql = """list_transform(range(1, greatest(len(w), 1)),
      | i -> array_to_string(list_slice(w, i, i + 1), ' '))"""
      .stripMargin.replaceAll("\n", "")
    s"""toks AS (SELECT doc_id, ${QueriesText.tokSql} AS w FROM documents),
      |f AS (SELECT doc_id, unnest(w) AS f FROM toks
      |  UNION ALL
      |  SELECT doc_id, unnest($bigramSql) AS f FROM toks),
      |bc AS (SELECT doc_id,
      |    ${md5HashSql("f || '#dsir'")} % $DSIR_B AS bucket,
      |    count(*)::BIGINT AS c
      |  FROM f GROUP BY 1, 2),
      |tb AS (SELECT bucket, sum(c)::BIGINT AS ct FROM bc
      |  JOIN (SELECT doc_id FROM documents WHERE lang = 'en') t
      |  USING (doc_id) GROUP BY 1),
      |rb AS (SELECT bucket, sum(c)::BIGINT AS cr FROM bc GROUP BY 1),
      |dense AS (SELECT s.bucket, coalesce(ct, 0)::BIGINT AS ct,
      |    coalesce(cr, 0)::BIGINT AS cr
      |  FROM (SELECT unnest(range(0, $DSIR_B)) AS bucket) s
      |  LEFT JOIN tb ON tb.bucket = s.bucket
      |  LEFT JOIN rb ON rb.bucket = s.bucket),
      |tot AS (SELECT sum(ct)::BIGINT AS nt, sum(cr)::BIGINT AS nr
      |  FROM dense),
      |lr AS (SELECT bucket,
      |    round(ln(((ct + 1)::DOUBLE * (nr + $DSIR_B)::DOUBLE)
      |      / ((cr + 1)::DOUBLE * (nt + $DSIR_B)::DOUBLE)), 8) AS lr
      |  FROM dense, tot),
      |lw AS (SELECT doc_id, sum(c)::BIGINT AS n_feats,
      |    round(CAST(sum(CAST(c::DOUBLE * lr AS DECIMAL(25,10)))
      |      AS DOUBLE), 6) AS logw
      |  FROM bc JOIN lr USING (bucket) GROUP BY doc_id)""".stripMargin
  }

  private val d69: (String, QFn, Option[String]) = ("d69_dsir_weights",
    (s, d) => dsirWeights(s, d).select(col("doc").as("doc_id"),
      col("n_feats"), col("logw")),
    Some(s"""WITH $dsirLwSql
      |SELECT doc_id, n_feats, logw FROM lw""".stripMargin))

  private val d70: (String, QFn, Option[String]) = ("d70_dsir_resample",
    (s, d) => Dsir.gumbelTopK(dsirWeights(s, d), DSIR_K, "dsirsel")
      .select(col("doc").as("doc_id"), col("logw"), col("score"),
        col("rank").cast("long").as("rank")),
    Some(s"""WITH $dsirLwSql,
      |g AS (SELECT doc_id, logw,
      |    round(logw + -ln(-ln(
      |      ((${md5HashSql("doc_id::VARCHAR || '#dsirsel'")} >> 8)
      |        + 1)::DOUBLE / 4503599627370497::DOUBLE)), 6) AS score
      |  FROM lw)
      |SELECT doc_id, logw, score, row_number() OVER
      |  (ORDER BY score DESC, doc_id) AS rank
      |FROM g ORDER BY score DESC, doc_id LIMIT $DSIR_K""".stripMargin))

  // --------------------------------- trained quality classifier (d95)
  // The data-selection model stage every pretraining pipeline runs
  // (GPT-3's reference-vs-crawl logistic filter, DCLM's fastText gate),
  // with the FIT inside the verified surface: distill d13's C4-style
  // rule filter into a smooth logistic-like scorer — features are d03's
  // published 6-dp quality ratios plus a rational length saturation,
  // pseudo-labels are d13's keep flag, and QC_ITERS (= 10) full-batch
  // gradient steps of Learn.logisticFit produce 6-dp-grid weights the
  // output row carries (w0..w4), so the DuckDB oracle — which REPLAYS
  // the entire training loop as a w0→w1→…→w10 fused CTE chain over
  // literally the same rule text d13 verifies (factored ruleCtesSql) —
  // hash-checks the learned model itself, not just the scoring pass.
  // No exp() anywhere: the squash is the rational fast sigmoid and
  // every gradient is an exact DECIMAL(20,10) sum, so the fit is
  // bit-identical at any parallelism (see Learn scaladoc).
  //
  // Scale shape: one feature projection (localCheckpoint'd — it feeds
  // 3 gradient passes + the scoring pass), each pass a map-side-
  // combinable aggregation to ONE driver row; scoring is a pure
  // projection with the weights as literals. At 100 TB: fit on a
  // deterministic sample (d20/d51), score the corpus — same code.
  // Raw features: d03's published 6-dp ratios (stopword, type-token),
  // mean token length scaled to O(1), and a saturating short-doc length
  // ramp min(n,25)/25 (the distiller's knowledge that doc length stops
  // mattering past ~the rule threshold — without it the best LINEAR
  // model is 0.70 accurate; with it 0.85, measured at sf0.01). Features
  // are then STANDARDIZED on the 6-dp grid (Learn.standardStats) —
  // unscaled full-batch GD on these ratios oscillates at any usable lr
  // and never beats the base rate.
  // --------------------------------- DP-style noisy release (d99)
  // The privacy family's release step (d16 redacts, d66 audits
  // k-anonymity, d93 pseudonymizes — d99 RELEASES aggregate stats under
  // the Laplace mechanism): per source, doc count (sensitivity 1,
  // scale 1/ε) and the per-doc-CLIPPED token sum (clip at 1000 = the
  // d13 length cap, so one doc moves the sum by ≤1000 → scale 1000/ε),
  // ε = 1. Noise is the content-addressed inverse-CDF draw
  // (Prep.laplaceNoise, the d70 Gumbel idiom) so the oracle verifies
  // the MECHANISM — clipping, sensitivity scaling, inverse CDF —
  // bit-for-bit; a production release swaps in a real entropy source
  // and publishes ONLY the noisy columns (the true columns here exist
  // for the verification harness). One source-sized aggregation.
  /** d99's computation over ANY (source, text) frame — the aggregation
    * is a keyed count/sum and the noise a post-aggregate projection, so
    * the SAME call runs in complete output mode on a STREAM of
    * documents (s17's twin; state bounded by |sources|): the
    * continuously-updated noisy telemetry shape. */
  private[graft] def dpReleaseDf(docsDf: DataFrame): DataFrame =
    docsDf
      .groupBy(col("source"))
      // coalesce: a NULL-text doc must contribute 0 tokens (and still
      // count in n_docs) — without it both engines would SKIP the row
      // in the sum (size(null) = null), a released stat silently
      // excluding documents the count includes
      .agg(count(lit(1)).as("n_docs"),
        sum(least(size(TextOps.tokens(coalesce(col("text"), lit(""))))
          .cast("long"), lit(1000L))).as("tok_clipped"))
      .select(col("source"), col("n_docs"), col("tok_clipped"),
        round(col("n_docs")
          + Prep.laplaceNoise(col("source"), "dp.n", 1.0), 6)
          .as("noisy_docs"),
        round(col("tok_clipped")
          + Prep.laplaceNoise(col("source"), "dp.t", 1000.0), 6)
          .as("noisy_tokens"))

  /** d99's oracle text, shared verbatim by s17's batch twin (the
    * s15/sftSql precedent: one definition, two execution modes, one
    * oracle). */
  private[graft] lazy val dpReleaseSql: String = {
    def lap(salt: String, scale: String) = {
      val u = s"(((${md5HashSql(s"source || '#$salt'")} >> 8) + 1)" +
        "::DOUBLE / 4503599627370497::DOUBLE)"
      s"(-$scale) * sign($u - 0.5) * ln(1.0 - 2.0 * abs($u - 0.5))"
    }
    s"""WITH a AS (SELECT source, count(*)::BIGINT AS n_docs,
      |    sum(least(len(${QueriesText.tokSql}), 1000))::BIGINT
      |      AS tok_clipped
      |  FROM (SELECT source, coalesce(text, '') AS text
      |    FROM documents) dd GROUP BY source)
      |SELECT source, n_docs, tok_clipped,
      |  round(n_docs + ${lap("dp.n", "1.0")}, 6) AS noisy_docs,
      |  round(tok_clipped + ${lap("dp.t", "1000.0")}, 6)
      |    AS noisy_tokens
      |FROM a""".stripMargin
  }

  private val d99: (String, QFn, Option[String]) = ("d99_dp_release",
    (s, d) => dpReleaseDf(Tables.documents(s, d)),
    Some(dpReleaseSql))

  /** d95's raw per-doc feature projection (doc_id, source, label, y,
    * r1..r4) — the Spark twin of the oracle's `fx` CTE. Shared by the
    * fit (d95) and the streaming gate's batch twin (s16), which carries
    * `source` through to its per-source pass-rate aggregate. */
  private[graft] def qcFeatures(s: SparkSession, d: String): DataFrame =
    qcRawFeatures(Tables.documents(s, d))

  /** The same projection over ANY frame with (doc_id, source, text) —
    * a pure per-row map, so it runs unchanged on a STREAM of documents
    * (EventStreamSpec drives the s16 gate through it). */
  private[graft] def qcRawFeatures(docsDf: DataFrame): DataFrame = {
    val toks = TextOps.tokens(col("text"))
    docsDf.select(
        Seq(col("doc_id"), col("source"))
          ++ TextOps.qualityCols(col("text"), toks)
          :+ TextOps.ruleFilterCols(col("text"), toks).last: _*)
      .select(col("doc_id"), col("source"), col("keep").as("label"),
        col("keep").cast("double").as("y"),
        col("stopword_ratio").as("r1"),
        col("type_token_ratio").as("r2"),
        (col("mean_token_len") / lit(10.0)).as("r3"),
        (least(col("n_tokens"), lit(25L)).cast("double") / lit(25.0))
          .as("r4"))
  }

  private[graft] val QC_ITERS = 10
  private[graft] val QC_LR = 8.0

  /** The fitted d95 model over a scale dir: (checkpointed features,
    * weights w0..w4, per-feature (mean, std)) — s16 serves literally
    * the model d95 verifies. Memoized per (JVM, dir): the fit is
    * deterministic (Learn scaladoc), so d95 and s16 in one
    * bench/verify run pay the 11 training passes once (the d62
    * materialize-once pattern; entries live for the JVM, bounded by
    * the handful of scale dirs a process touches). Keyed by
    * (applicationId, dir), not dir alone: the cached frame is a
    * localCheckpoint bound to its SparkContext, so an entry from a
    * stopped context must NOT be served to a new session in the same
    * JVM (it would fail with "SparkContext has been shut down" instead
    * of re-fitting) — a fresh context gets a fresh applicationId and
    * therefore a fresh fit. */
  /** Per-key lazy cell: the map only ever holds cheap cells, so
    * concurrent fits on DIFFERENT dirs never serialize on a map-wide
    * lock; the fit itself runs under the cell's own lazy-val lock. */
  private final class QcCell(thunk: () =>
      (DataFrame, Array[Double], Array[(Double, Double)])) {
    lazy val value: (DataFrame, Array[Double], Array[(Double, Double)]) =
      thunk()
  }
  private val qcModelMemo =
    new java.util.concurrent.ConcurrentHashMap[String, QcCell]

  private[graft] def qcModel(s: SparkSession, d: String)
      : (DataFrame, Array[Double], Array[(Double, Double)]) = {
    val appId = s.sparkContext.applicationId
    // Evict entries keyed to stopped contexts: only one SparkContext is
    // live per JVM, so any key with a different applicationId holds a
    // localCheckpoint'd frame of a dead session — unusable and otherwise
    // retained for the JVM lifetime.
    qcModelMemo.keySet.removeIf(k => !k.startsWith(s"$appId:"))
    qcModelMemo.computeIfAbsent(s"$appId:$d",
      _ => new QcCell(() => fitQcModel(s, d))).value
  }

  /** The d95 fit WITHOUT the memo — Bench's cold-fit probe, so the
    * published decade numbers can show the true first-fit cost beside
    * the warm serving cost the memoized family rows measure. */
  private[graft] def qcModelCold(s: SparkSession, d: String)
      : (DataFrame, Array[Double], Array[(Double, Double)]) =
    fitQcModel(s, d)

  private def fitQcModel(s: SparkSession, d: String)
      : (DataFrame, Array[Double], Array[(Double, Double)]) = {
    val fx = qcFeatures(s, d).localCheckpoint(true)
    val raw = (1 to 4).map(j => col(s"r$j"))
    val stats = Learn.standardStats(fx, raw)
    val xs = lit(1.0) +: raw.zip(stats).map { case (r, (mu, sd)) =>
      (r - lit(mu)) / lit(sd)
    }
    val w = Learn.logisticFit(fx, col("y"), xs, QC_ITERS, QC_LR)
    (fx, w, stats)
  }

  private val d95: (String, QFn, Option[String]) = ("d95_quality_classifier",
    (s, d) => {
      val (fx, w, stats) = qcModel(s, d)
      val raw = (1 to 4).map(j => col(s"r$j"))
      val xs = lit(1.0) +: raw.zip(stats).map { case (r, (mu, sd)) =>
        (r - lit(mu)) / lit(sd)
      }
      val p = Learn.score(w.toSeq, xs)
      fx.select(Seq(col("doc_id"), col("label"),
        round(p, 6).as("score"),
        (p >= 0.5).cast("long").as("pred")) ++
        w.zipWithIndex.map { case (wj, j) => lit(wj).as(s"w$j") }: _*)
    },
    Some(s"""WITH $qcCtesSql
      |SELECT f.doc_id, f.label, round($qcScoreSql, 6) AS score,
      |  ($qcScoreSql >= 0.5)::BIGINT AS pred,
      |  a0 AS w0, a1 AS w1, a2 AS w2, a3 AS w3, a4 AS w4
      |FROM fs f, w$QC_ITERS""".stripMargin))

  /** The fast-sigmoid score expression over fs columns x0..x4 and a
    * weights CTE's a0..a4 — shared by d95's per-doc scoring and s16's
    * gate aggregate, both FROM fs, w$QC_ITERS. */
  private[graft] lazy val qcScoreSql: String = {
    val z = "(a0*x0 + a1*x1 + a2*x2 + a3*x3 + a4*x4)"
    s"(0.5 + $z / (2.0 * (1.0 + abs($z))))"
  }

  /** d95's full training replay as factored CTE bodies (rule filter →
    * features fx → standardization st → fs → gradient chain w0..wN) —
    * d95 scores per doc from it, s16's streaming-gate batch twin
    * aggregates per source from it, so the consumer replays literally
    * the fit its producer row verifies (the btCtesSql move). */
  private[graft] lazy val qcCtesSql: String = {
      val p = qcScoreSql
      val statAggs = (1 to 4).flatMap(j => Seq(
        s"CAST(round(sum(CAST(r$j AS DECIMAL(20,10))), 6) AS DOUBLE)"
          + s" AS s1_$j",
        s"CAST(round(sum(CAST(r$j * r$j AS DECIMAL(20,10))), 6) AS DOUBLE)"
          + s" AS s2_$j")).mkString(",\n    ")
      val muSds = (1 to 4).map(j =>
        s"round(s1_$j / nn, 6) AS mu$j").mkString(",\n    ")
      val sds = (1 to 4).map(j =>
        s"round(sqrt(greatest(s2_$j / nn - mu$j * mu$j, 1e-12)), 6)"
          + s" AS sd$j").mkString(",\n    ")
      val stdFeats = (1 to 4).map(j =>
        s"(r$j - mu$j) / sd$j AS x$j").mkString(",\n    ")
      // Each iteration is ONE aggregate CTE that references w(k-1)
      // exactly once (gradient and update fused; the constant weight
      // columns ride through max()) — a gradient/update CTE pair
      // references w(k-1) twice, and DuckDB's inlining then expands the
      // chain 2^iters times (measured: 453 s at 10 iterations vs <1 s
      // for this form). fx/fs are MATERIALIZED for the same reason:
      // 11 passes read the feature table, not re-tokenize the corpus.
      val iterCtes = (1 to QC_ITERS).map { k =>
        val upds = (0 to 4).map(j =>
          s"round(max(a$j) + $QC_LR * CAST(round(sum(CAST((y - $p) * x$j"
            + s" AS DECIMAL(20,10))), 6) AS DOUBLE) / max(nn), 6) AS a$j")
          .mkString(",\n    ")
        s"""w$k AS (SELECT $upds
           |  FROM fs, w${k - 1}, nc)""".stripMargin
      }.mkString(",\n")
      s"""${QueriesDocs.ruleCtesSql},
        |fx AS MATERIALIZED (SELECT doc_id, source,
        |    (reject_reason = 'ok')::BIGINT AS label,
        |    CASE WHEN reject_reason = 'ok' THEN 1.0 ELSE 0.0 END AS y,
        |    round(sr, 6) AS r1, round(ttr, 6) AS r2,
        |    round(mtl, 6) / 10.0 AS r3,
        |    least(n, 25)::DOUBLE / 25.0 AS r4
        |  FROM r JOIN documents USING (doc_id)),
        |nc AS (SELECT count(*)::BIGINT AS nn FROM fx),
        |st1 AS (SELECT $statAggs
        |  FROM fx),
        |st2 AS (SELECT $muSds
        |  FROM st1, nc),
        |st AS (SELECT $sds
        |  FROM st1, st2, nc),
        |fs AS MATERIALIZED (SELECT doc_id, source, label, y,
        |    1.0::DOUBLE AS x0,
        |    $stdFeats
        |  FROM fx, st2, st),
        |w0 AS (SELECT 0.0::DOUBLE AS a0, 0.0::DOUBLE AS a1,
        |  0.0::DOUBLE AS a2, 0.0::DOUBLE AS a3, 0.0::DOUBLE AS a4),
        |$iterCtes""".stripMargin
  }

  // --------------------------- classifier calibration curve (d100)
  // The reliability diagram for d95 — the d80-calibration move applied
  // to the learned filter: bucket the model score on a 20-cell micro
  // grid (the d87 lift), and per cell compare the exact-decimal mean
  // PREDICTED score against the OBSERVED rule-keep rate, with the
  // absolute gap. Systematic gaps = the smooth scorer is over/under-
  // confident in that score band — the table a filter-adoption review
  // reads next to c03's agreement counts before trusting d95's 0.5
  // threshold. Same memoized fit; ONE corpus aggregation to the
  // 20-cell grid; oracle replays fit + curve through qcCtesSql.
  private val d100: (String, QFn, Option[String]) = ("d100_calibration",
    (s, d) => {
      val (fx, w, stats) = qcModel(s, d)
      val raw = (1 to 4).map(j => col(s"r$j"))
      val xs = lit(1.0) +: raw.zip(stats).map { case (r, (mu, sd)) =>
        (r - lit(mu)) / lit(sd)
      }
      val p = Learn.score(w.toSeq, xs)
      val sm = floor(p * lit(1000000.0) + lit(0.5))
      fx.select(col("label"),
          least(lit(19L), floor(sm.cast("double") / lit(50000.0)))
            .as("bucket"),
          round(p, 6).cast("decimal(18,9)").as("_p6"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("label")).as("n_keep"),
          round(sum(col("_p6")).cast("double")
            / count(lit(1)).cast("double"), 6).as("mean_score"))
        .withColumn("keep_rate",
          round(col("n_keep").cast("double")
            / col("n_docs").cast("double"), 6))
        .withColumn("abs_gap",
          round(abs(col("mean_score") - col("keep_rate")), 6))
    },
    Some {
      val p = qcScoreSql
      s"""WITH $qcCtesSql,
        |pb AS (SELECT label,
        |    least(19, floor($p * 1000000.0 + 0.5)::BIGINT // 50000)
        |      ::BIGINT AS bucket,
        |    CAST(round($p, 6) AS DECIMAL(18,9)) AS p6
        |  FROM fs, w$QC_ITERS),
        |ag AS (SELECT bucket, count(*)::BIGINT AS n_docs,
        |    sum(label)::BIGINT AS n_keep,
        |    round(CAST(sum(p6) AS DOUBLE) / count(*)::DOUBLE, 6)
        |      AS mean_score
        |  FROM pb GROUP BY bucket)
        |SELECT bucket, n_docs, n_keep, mean_score,
        |  round(n_keep::DOUBLE / n_docs::DOUBLE, 6) AS keep_rate,
        |  round(abs(mean_score - round(n_keep::DOUBLE / n_docs::DOUBLE,
        |    6)), 6) AS abs_gap
        |FROM ag""".stripMargin
    })

  // --------------------------- gradient-alignment influence (d101)
  // Targeted data selection by first-order influence (the LESS / DsDm
  // shape, Xia et al. 2024): at d95's fitted weights, a training doc's
  // per-example gradient is g_i = (y_i − σ̃(w·x_i))·x_i and the target
  // slice's mean gradient ḡ_T is the same sum over the held-out eval
  // docs (doc_id % 25 = 0, the d14 eval convention) — influence_i =
  // g_i · ḡ_T: upweighting a positively-aligned doc moves the model in
  // the direction that improves the target slice. Exactly the "which
  // training data helps THIS eval" question targeted-selection
  // pipelines answer, over the engine's own verified fit.
  //
  // Determinism: ḡ_T components are round6(exact DECIMAL sums)/n_T (the
  // Learn gradient discipline); per-doc influence is a fixed-order
  // 5-term dot product of IEEE doubles rounded once. Scale: ONE
  // aggregation over the target slice to a broadcast 1-row vector,
  // then a pure per-doc projection — no join, no second exchange.
  private val d101: (String, QFn, Option[String]) = ("d101_influence",
    (s, d) => {
      val (fx, w, stats) = qcModel(s, d)
      val raw = (1 to 4).map(j => col(s"r$j"))
      val xs = lit(1.0) +: raw.zip(stats).map { case (r, (mu, sd)) =>
        (r - lit(mu)) / lit(sd)
      }
      val res = col("y") - Learn.score(w.toSeq, xs)
      val tAggs = xs.zipWithIndex.map { case (xj, j) =>
        sum((res * xj).cast("decimal(20,10)")).as(s"t$j")
      } :+ count(lit(1)).as("nt")
      val tRow = fx.filter(col("doc_id") % 25 === 0)
        .agg(tAggs.head, tAggs.tail: _*).collect()(0)
      val ntD = tRow.getLong(5).toDouble
      val tg = Array.tabulate(5) { j =>
        val s6 = if (tRow.isNullAt(j)) 0.0
          else tRow.getDecimal(j)
            .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
        s6 / ntD
      }
      val infl = xs.zipWithIndex
        .map { case (xj, j) => res * xj * lit(tg(j)) }.reduce(_ + _)
      // roundNz: influence is a signed alignment that CAN round to zero
      // from below (tiny-residual docs) — the q87 −0.0 class
      fx.select(col("doc_id"), col("label"),
        (col("doc_id") % 25 === 0).cast("long").as("in_target"),
        CrossRound.roundNz(infl, 6).as("influence"))
    },
    Some {
      val p = qcScoreSql
      val tAggs = (0 to 4).map(j =>
        s"CAST(round(sum(CAST((y - $p) * x$j AS DECIMAL(20,10))), 6)"
          + s" AS DOUBLE) / count(*)::DOUBLE AS t$j").mkString(",\n    ")
      val dot = (0 to 4).map(j => s"(f.y - $p) * f.x$j * tg.t$j")
        .mkString(" + ")
      s"""WITH $qcCtesSql,
        |tg AS (SELECT $tAggs
        |  FROM fs, w$QC_ITERS WHERE doc_id % 25 = 0)
        |SELECT f.doc_id, f.label,
        |  (f.doc_id % 25 = 0)::BIGINT AS in_target,
        |  round($dot, 6) + 0.0 AS influence
        |FROM fs f, w$QC_ITERS, tg""".stripMargin
    })

  lazy val defs: Seq[(String, QFn, Option[String])] =
    Seq(d63, d64, d65, d66, d69, d70, d84, d89, d95, d99, d100, d101)
}
