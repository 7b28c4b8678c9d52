package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.CrossRound.round // shadows functions.round: cross-engine form

/**
 * Text-analysis operators for a large-scale training-data pipeline:
 * tokenization, shingling, quality scoring, language ID, fingerprinting.
 *
 * These go beyond the reference's own surface (its only string handling is
 * column-name formatting) — they are the capability layer a 100 TB document
 * corpus needs. Everything here is a pure projection (`Column` functions over
 * built-ins), so it stays inside whole-stage codegen with zero shuffles and
 * scales linearly with the scan.
 */
object TextOps {

  /** Word tokens: maximal [a-z0-9]+ runs of the lowercased text. Regex-based
    * (not split-on-space) so repeated/edge whitespace can't produce empty
    * tokens — and the same regex is expressible in the DuckDB oracle. */
  def tokens(text: Column): Column =
    regexp_extract_all(lower(text), lit("[a-z0-9]+"), lit(0))

  /** Word n-gram shingles (space-joined) over the token array; documents with
    * fewer than `n` tokens yield an empty set. Character shingles are too
    * dense for natural text (every doc shares them); word shingles keep the
    * per-shingle posting lists short, which is what bounds the dedup
    * shingle-join at scale. */
  def shingles(toks: Column, n: Int): Column =
    // native one-pass expression (r18): the transform+slice+concat_ws
    // relational form ran interpreted per shingle — measured 3.9 s for
    // one corpus pass at sf0.1 against 0.15 s for the whole tokenize —
    // and shingling fronts every shingle-join operator family.
    // WordShinglesSpec pins bit-for-bit parity with the old form,
    // including the short-doc, null-token and null-array edges; the
    // coalesce restores the legacy null-array → empty-array semantics
    // (the old when-guard's otherwise branch).
    coalesce(graft.functions.WordShingles.wordShingles(toks, n),
      array().cast("array<string>"))

  /** Canonical-form fingerprint: lowercase, non-alphanumerics collapsed to
    * single spaces, trimmed, then md5 — robust to whitespace/punctuation
    * edits, O(len) per row, join-key-sized (16 bytes) for exact dedup at any
    * scale. */
  def fingerprint(text: Column): Column =
    md5(trim(regexp_replace(lower(text), "[^a-z0-9]+", " ")))

  /** Stopword hit count over the token array (integer — exact cross-engine). */
  private def stopwordHits(toks: Column, stopwords: Seq[String]): Column =
    size(filter(toks, t => t.isin(stopwords.map(lit): _*).cast("boolean")))

  /** Per-language stopword lists for the heuristic language ID. Tiny
    * closed-world lists (reference-style fixed vocabularies, §1.4): the
    * point is the operator shape — score per language, argmax with a fixed
    * preference order — not lexicographic coverage. */
  val langStopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "to", "and", "in", "is", "it"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "nicht"),
    "fr" -> Seq("le", "la", "les", "et", "est", "une", "pas"),
    "es" -> Seq("el", "la", "los", "y", "es", "una", "no"))

  /** Heuristic language ID: stopword-hit score per language; winner must be
    * strictly positive, ties broken by list order; otherwise "und". */
  def langId(toks: Column): Column = {
    val scores = langStopwords.map { case (l, sw) => l -> stopwordHits(toks, sw) }
    // first language (in list order) whose score is >= all others and > 0
    val candidates = scores.map { case (l, s) =>
      val beatsAll = scores.collect { case (o, os) if o != l => s >= os }
        .reduce(_ && _)
      when(s > 0 && beatsAll, lit(l))
    }
    coalesce(candidates :+ lit("und"): _*)
  }

  /** Quality-scoring feature bundle (length, digit ratio, stopword ratio,
    * mean token length, type/token ratio) + a fixed linear score. All ratios
    * are integer/integer divisions — exact cross-engine. */
  def qualityCols(text: Column, toks: Column): Seq[Column] = {
    val nChars = length(text).cast("long")
    val nToks = size(toks).cast("long")
    val nDistinct = size(array_distinct(toks)).cast("long")
    val tokChars = aggregate(transform(toks, t => length(t)), lit(0),
      (a, x) => a + x)
    val nDigits = size(regexp_extract_all(text, lit("[0-9]"), lit(0))).cast("long")
    val stop = stopwordHits(toks, langStopwords.flatMap(_._2)).cast("long")
    val nToksD = nToks.cast("double")
    val meanTokLen = when(nToks > 0, tokChars.cast("double") / nToksD).otherwise(lit(0.0))
    val stopRatio = when(nToks > 0, stop.cast("double") / nToksD).otherwise(lit(0.0))
    val ttr = when(nToks > 0, nDistinct.cast("double") / nToksD).otherwise(lit(0.0))
    val digitRatio = when(nChars > 0, nDigits.cast("double") / nChars.cast("double"))
      .otherwise(lit(0.0))
    val score = round(
      lit(0.35) * ttr + lit(0.35) * stopRatio
        + lit(0.2) * (lit(1.0) - digitRatio)
        + lit(0.1) * least(meanTokLen / lit(10.0), lit(1.0)), 6)
    Seq(nChars.as("n_chars_calc"), nToks.as("n_tokens"),
      nDistinct.as("n_distinct_tokens"),
      round(meanTokLen, 6).as("mean_token_len"),
      round(stopRatio, 6).as("stopword_ratio"),
      round(ttr, 6).as("type_token_ratio"),
      round(digitRatio, 6).as("digit_ratio"),
      score.as("quality_score"))
  }

  /** Count of the most frequent element of an array (0 for empty) — a pure
    * projection: sort the array, then one `aggregate` pass tracking the
    * longest run of equal neighbours. O(n log n) per row; the naive
    * per-distinct rescan (transform(array_distinct, t => count(=t))) is
    * O(distinct × total) and measured 50s vs <1s on d12 at sf0.1. */
  private def topCount(arr: Column): Column = {
    val acc0 = struct(lit(null).cast("string").as("prev"),
      lit(0L).as("run"), lit(0L).as("best"))
    coalesce(aggregate(array_sort(arr), acc0,
      (a, x) => {
        val run = when(a.getField("prev") <=> x, a.getField("run") + 1L)
          .otherwise(lit(1L))
        struct(x.as("prev"), run.as("run"),
          greatest(a.getField("best"), run).as("best"))
      },
      a => a.getField("best")), lit(0L))
  }

  /** DataFrame form of [[repetitionCols]] with SINGLE-EVALUATION staging
    * (see [[Stage]]): the token array, both sort+fold passes and the
    * distinct count each run exactly once per row, instead of once per
    * referencing output column — the interpreted HOF path has no
    * subexpression elimination to save us (measured 3.3 s → ~1.2 s on
    * d12 at sf0.1). Output: idCols ++ repetitionCols' columns. */
  def repetitionStats(df: org.apache.spark.sql.DataFrame, idCol: String,
                      text: Column,
                      maxTopTokenFrac: Double = 0.12,
                      maxTopBigramFrac: Double = 0.10,
                      maxDupTokenFrac: Double = 0.6)
  : org.apache.spark.sql.DataFrame = {
    val toked = Stage.materialize(df.select(col(idCol), text.as("_t")),
      tokens(col("_t")) -> "_w")
    val counted = Stage.materialize(toked,
      size(col("_w")).cast("long") -> "_n",
      size(array_distinct(col("_w"))).cast("long") -> "_nd",
      topCount(col("_w")) -> "_topu",
      topCount(shingles(col("_w"), 2)) -> "_topb")
    val n = col("_n")
    val nb = greatest(n - 1, lit(0L))
    val nD = n.cast("double")
    val topuFrac = when(n > 0, col("_topu").cast("double") / nD)
      .otherwise(lit(0.0))
    val topbFrac = when(nb > 0, col("_topb").cast("double")
      / nb.cast("double")).otherwise(lit(0.0))
    val dupFrac = when(n > 0, lit(1.0) - col("_nd").cast("double") / nD)
      .otherwise(lit(0.0))
    val keep = topuFrac <= maxTopTokenFrac &&
      topbFrac <= maxTopBigramFrac && dupFrac <= maxDupTokenFrac
    counted.select(col(idCol), n.as("n_tokens"),
      col("_topu").as("top_token_count"),
      col("_topb").as("top_bigram_count"),
      round(topuFrac, 6).as("top_token_frac"),
      round(topbFrac, 6).as("top_bigram_frac"),
      round(dupFrac, 6).as("dup_token_frac"),
      keep.cast("long").as("keep_repetition"))
  }

  /** Vocabulary-id encoding — the text→ids step between cleaning and
    * sequence packing: build the top-`vocabSize` vocabulary (count desc,
    * term asc — fully deterministic ids 1..V), map every token position
    * through it (OOV → `unkId` = 0), and ship the id sequence as a digest
    * plus OOV accounting. The id stream is what a trainer consumes; the
    * digest keeps verification rows narrow (same policy as d44).
    *
    * Scale shape: the vocabulary is a vocabulary-sized aggregate + one
    * TakeOrdered-style top-V (never a corpus-wide window) and BROADCASTS
    * to the positional token table; encoding is then map-side. One
    * doc-key shuffle reassembles sequences, order restored row-locally. */
  def vocabEncode(df: org.apache.spark.sql.DataFrame, idCol: String,
                  text: Column, vocabSize: Int)
  : org.apache.spark.sql.DataFrame = {
    val tok = df.select(col(idCol).as("doc"),
      posexplode(tokens(text)).as(Seq("pos", "t")))
    // top-V by (count desc, term asc): TakeOrdered (orderBy+limit — a
    // distributed partial top-k, same as Relevance.topKRanks), then the
    // ranking window runs over V rows only, never the vocabulary
    val ord = Seq(col("_c").desc, col("t").asc)
    val vocab = tok.groupBy(col("t")).agg(count(lit(1)).as("_c"))
      .orderBy(ord: _*).limit(vocabSize)
      .withColumn("tid",
        row_number().over(Window.orderBy(ord: _*)).cast("long"))
      .select(col("t"), col("tid"))
    val enc = tok.join(broadcast(vocab), Seq("t"), "left")
      .select(col("doc"), col("pos"),
        coalesce(col("tid"), lit(0L)).as("tid"))
      .groupBy(col("doc"))
      .agg(count(lit(1)).cast("long").as("n_tokens"),
        sum(when(col("tid") === 0, 1L).otherwise(0L)).as("n_oov"),
        md5(array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("tid")))),
          x => x.getField("tid").cast("string")), ",")).as("ids_fp"))
    // retain zero-token docs (posexplode emits no rows for them, so they
    // are absent from `enc`): left-join back to the corpus — same policy
    // as stripBoilerplate — so a consumer joining encodings to documents
    // never silently loses docs. Empty sequence = n_tokens 0, n_oov 0,
    // ids_fp md5('').
    df.select(col(idCol).as("doc")).join(enc, Seq("doc"), "left")
      .select(col("doc"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"),
        coalesce(col("ids_fp"), md5(lit(""))).as("ids_fp"))
  }

  /** PII scrub pass: count and redact email addresses and long (≥6) digit
    * runs (phone/account/ID shapes). Pure projection — the patterns are
    * RE2-safe (no backrefs/lookaround) so the DuckDB oracle replays them
    * verbatim, and the redacted text is digest-compared rather than
    * shipped. At corpus scale redaction is the cheap half; the counts feed
    * the audit aggregate that decides whether a SOURCE is quarantined. */
  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val digitRunPattern = "[0-9]{6,}"
  def piiCols(text: Column): Seq[Column] = {
    val nEmail = size(regexp_extract_all(text, lit(emailPattern), lit(0)))
      .cast("long")
    // count digit runs on the email-redacted text, in redaction order, so
    // n_digit_runs equals the number of <ID> tokens in the output (a digit
    // run inside an email local-part is already covered by <EMAIL>)
    val emailRedacted = regexp_replace(text, emailPattern, "<EMAIL>")
    val nDigitRun =
      size(regexp_extract_all(emailRedacted, lit(digitRunPattern), lit(0)))
        .cast("long")
    val redacted = regexp_replace(emailRedacted, digitRunPattern, "<ID>")
    Seq(nEmail.as("n_emails"), nDigitRun.as("n_digit_runs"),
      (nEmail === 0 && nDigitRun === 0).cast("long").as("pii_free"),
      md5(redacted.cast("binary")).as("redacted_digest"))
  }

  /** Overlapping token windows for LLM context packing: chunk k covers
    * tokens [1 + k·stride, 1 + k·stride + size). Every token is covered,
    * trailing chunks may be short. One `posexplode`-free projection +
    * explode — output rows ≈ n/stride per doc, no shuffle, and the chunk
    * text travels as an md5 digest so the exploded width stays join-key
    * sized. */
  def chunkCols(toks: Column, size_ : Int, stride: Int): Column = {
    val n = size(toks)
    val starts = when(n > 0, sequence(lit(1), n, lit(stride)))
      .otherwise(array().cast("array<int>"))
    transform(starts, s => struct(
      ((s - 1) / stride).cast("long").as("chunk_id"),
      size(slice(toks, s, lit(size_))).cast("long").as("n_chunk_tokens"),
      md5(concat_ws(" ", slice(toks, s, lit(size_))).cast("binary"))
        .as("chunk_digest")))
  }

  /** Shannon entropy (bits) of the token unigram distribution, plus the
    * length-normalized form H/log2(n) — the information-density signal that
    * separates natural prose from boilerplate and generator loops. Same
    * sort + run-length trick as [[topCount]]: accumulate Σ c·log2(c) over
    * runs of the sorted array, then H = log2(n) − Σ/n. O(n log n) per row,
    * zero shuffles. */
  def entropyCols(toks: Column): Seq[Column] = {
    val n = size(toks).cast("double")
    val acc0 = struct(lit(null).cast("string").as("prev"),
      lit(0L).as("run"), lit(0.0).as("sum"))
    def flush(run: Column, sum: Column): Column =
      when(run > 0, sum + run.cast("double") * log2(run.cast("double")))
        .otherwise(sum)
    val sumClogC = aggregate(array_sort(toks), acc0,
      (a, x) => {
        val cont = a.getField("prev") <=> x
        struct(x.as("prev"),
          when(cont, a.getField("run") + 1L).otherwise(lit(1L)).as("run"),
          when(cont, a.getField("sum"))
            .otherwise(flush(a.getField("run"), a.getField("sum"))).as("sum"))
      },
      a => flush(a.getField("run"), a.getField("sum")))
    val h = when(n > 0, log2(n) - sumClogC / n).otherwise(lit(0.0))
    val hNorm = when(n > 1, h / log2(n)).otherwise(lit(0.0))
    Seq(size(toks).cast("long").as("n_tokens"),
      round(h, 6).as("token_entropy"),
      round(hNorm, 6).as("entropy_ratio"))
  }

  /** Repetition-quality metrics (Gopher-style, Rae et al. 2021 §A1.1):
    * fraction of tokens taken by the most frequent unigram/bigram and the
    * duplicate-token fraction, plus a keep flag under fixed thresholds.
    * Excessively repetitive documents are the highest-yield removal class
    * for LLM training corpora. All ratios are int/int single divisions —
    * bit-identical cross-engine; the keep flag compares the UNROUNDED
    * values (also exact) so rounding never flips it. */
  def repetitionCols(toks: Column,
                     maxTopTokenFrac: Double = 0.12,
                     maxTopBigramFrac: Double = 0.10,
                     maxDupTokenFrac: Double = 0.6): Seq[Column] = {
    val n = size(toks).cast("long")
    val bigrams = shingles(toks, 2)
    val nb = size(bigrams).cast("long")
    val topu = topCount(toks)
    val topb = topCount(bigrams)
    val nD = n.cast("double")
    val topuFrac = when(n > 0, topu.cast("double") / nD).otherwise(lit(0.0))
    val topbFrac = when(nb > 0, topb.cast("double") / nb.cast("double"))
      .otherwise(lit(0.0))
    val dupFrac = when(n > 0,
      lit(1.0) - size(array_distinct(toks)).cast("double") / nD)
      .otherwise(lit(0.0))
    val keep = topuFrac <= maxTopTokenFrac && topbFrac <= maxTopBigramFrac &&
      dupFrac <= maxDupTokenFrac
    Seq(n.as("n_tokens"), topu.as("top_token_count"),
      topb.as("top_bigram_count"),
      round(topuFrac, 6).as("top_token_frac"),
      round(topbFrac, 6).as("top_bigram_frac"),
      round(dupFrac, 6).as("dup_token_frac"),
      keep.cast("long").as("keep_repetition"))
  }

  /** C4-style rule filter (Raffel et al. 2020 §2.2 shape): ordered reject
    * rules over cheap per-doc statistics, emitting the FIRST failing rule
    * as the reject reason ('ok' = keep). The stopword rule follows C4's
    * direction — reject pages LACKING stopwords (non-natural text), i.e.
    * stopword ratio below a floor, not above a cap. Pure projection — the
    * decision and its audit trail cost one linear scan at any corpus
    * size. */
  def ruleFilterCols(text: Column, toks: Column): Seq[Column] = {
    val n = size(toks).cast("long")
    val nD = n.cast("double")
    val tokChars = aggregate(transform(toks, t => length(t)), lit(0),
      (a, x) => a + x)
    val mtl = when(n > 0, tokChars.cast("double") / nD).otherwise(lit(0.0))
    val stopRatio = when(n > 0,
      stopwordHits(toks, langStopwords.flatMap(_._2)).cast("double") / nD)
      .otherwise(lit(0.0))
    val ttr = when(n > 0, size(array_distinct(toks)).cast("double") / nD)
      .otherwise(lit(0.0))
    val digitRatio = when(length(text) > 0,
      size(regexp_extract_all(text, lit("[0-9]"), lit(0))).cast("double")
        / length(text).cast("double"))
      .otherwise(lit(0.0))
    val reason = when(n < 20, "too_short").when(n > 1000, "too_long")
      .when(mtl < 3.0 || mtl > 10.0, "token_len")
      .when(digitRatio > 0.2, "digit")
      .when(stopRatio < 0.01, "stopword")
      .when(ttr < 0.35, "repetition")
      .otherwise(lit("ok"))
    Seq(n.as("n_tokens"), round(mtl, 6).as("mean_token_len"),
      round(stopRatio, 6).as("stopword_ratio"),
      round(ttr, 6).as("type_token_ratio"),
      reason.as("reject_reason"),
      (reason === "ok").cast("long").as("keep"))
  }

  /** TF-IDF term weighting over the corpus: tf = in-doc term count,
    * idf = ln((N+1)/(df+1)) + 1 (the smoothed sklearn form — no
    * division-by-zero branch, unseen terms still score), emitted per
    * (doc, term). The VALUE is floating (round-6 like every derived stat);
    * every COUNT feeding it is exact, so the only cross-engine surface is
    * one ln call.
    *
    * Scale shape: explode → two hash aggregations (doc×term, then term) →
    * one equi-join on term. The document-frequency table is vocabulary-
    * sized (can be billions of terms at 100 TB), so it joins SHUFFLED on
    * term — deliberately not broadcast; tf is already partitioned by
    * (doc, term) and AQE picks the join strategy when a small vocab makes
    * broadcast viable. The corpus count N rides in via a 1-row broadcast
    * crossJoin (the A14/global-stat pattern). */
  def tfidf(docsDf: DataFrame, idCol: String, toks: Column): DataFrame = {
    val terms = docsDf.select(col(idCol).as("doc_id"), explode(toks)
      .as("term"))
    // output-sized, and BOTH the df aggregate and the final join consume
    // it — checkpoint so the corpus explode+count runs once (d21:
    // 15.8 -> 3.8 CPU-s at sf0.1)
    val tf = terms.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint(true)
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df_count"))
    val nDocs = docsDf.agg(count(lit(1)).cast("double").as("_n"))
    tf.join(dfreq, Seq("term"))
      .crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("term"), col("tf"), col("df_count"),
        round(col("tf").cast("double") *
          (log((col("_n") + 1.0) / (col("df_count").cast("double") + 1.0))
            + 1.0), 6).as("tfidf"))
  }

  /** Consistent pseudonymization of one PII pattern: every match is
    * replaced by a CONTENT-ADDRESSED placeholder `<tag_K>`,
    * K = md5(match#salt) % mod — so the same entity maps to the same
    * placeholder in every document (referential integrity survives:
    * "same user appears in doc A and doc B" is still a join), which
    * plain redaction (d16's `<EMAIL>`) destroys. Span-exact by
    * construction: matches are delimited in ONE regexp pass
    * with a \\u0001 sentinel (any pre-existing sentinel stripped first),
    * the text splits on the delimiter, and exactly the full-match
    * segments rewrite — no string-fold, so an entity re-occurring
    * inside a longer entity can never leave a partial residue. Pure
    * projection: codegen'd regex + HOFs, no shuffle at any scale. */
  def pseudonymize(text: Column, pattern: String, tag: String, mod: Int,
                   salt: String): Column = {
    require(mod >= 2, "pseudonymize: mod must be >= 2")
    val sep = "\u0001"
    val marked = regexp_replace(
      regexp_replace(text, sep, ""), pattern, sep + "$0" + sep)
    array_join(transform(split(marked, sep), p =>
      when(p.rlike("^(" + pattern + ")$"),
        concat(lit("<" + tag + "_"),
          (Dedup.md5Hash(p, lit(salt)) % mod).cast("string"), lit(">")))
        .otherwise(p)), "")
  }

  /** T5-style span-corruption prep (Raffel et al. 2020 §3.1.4): the
    * denoising-objective sibling of the d74 GPT packing — mask spans of
    * the input, emit (corrupted input, span targets). Spans are
    * BLOCK-ALIGNED and CONTENT-ADDRESSED: tokens group into fixed
    * `block`-length blocks, block b of a doc is masked iff
    * md5(doc#b#salt) % modulus == 0 — no greedy left-to-right scan, so
    * the selection is order-free, overlap-free by construction, and an
    * external engine replays it from the hash spec alone. Sentinels are
    * block-addressed (`<extra_id_b>`) rather than densely renumbered —
    * dense ids need a per-doc prefix count; block addressing keeps the
    * whole op a pure projection, and a T5-exact renumbering is a
    * downstream per-doc transform over ≤ blocks elements.
    *
    * Returns columns: n_tokens, n_spans, n_masked, corruption_rate
    * (6-dp), input_fp / target_fp — md5 digests of the full rendered
    * input/target streams, so the driver hash locks the entire
    * corruption, not a summary (the d55 policy). Zero-token docs emit
    * 0/0/empty-string digests. Per-row projection: embarrassingly
    * parallel, no shuffle at any corpus size. */
  def spanCorruptionCols(docId: Column, toks: Column, block: Int,
                         modulus: Int, salt: String): Seq[Column] = {
    require(block >= 1 && modulus >= 2, "spanCorruption: bad params")
    val n = size(toks)
    val nb = ((n + block - 1) / block).cast("int")
    val blockIdx = when(n > 0, sequence(lit(0), nb - 1))
      .otherwise(array().cast("array<int>"))
    def maskedB(b: Column): Column =
      Dedup.md5Hash(concat(docId.cast("string"), lit("#"),
        b.cast("string")), lit(salt)) % modulus === 0
    def blockToks(b: Column): Column =
      slice(toks, b * block + 1, lit(block))
    def sentinel(b: Column): Column =
      concat(lit("<extra_id_"), b.cast("string"), lit(">"))
    val inputStr = array_join(flatten(transform(blockIdx,
      b => when(maskedB(b), array(sentinel(b))).otherwise(blockToks(b)))),
      " ")
    val maskedBlocks = filter(blockIdx, b => maskedB(b))
    val targetStr = array_join(transform(maskedBlocks,
      b => concat(sentinel(b), lit(" "), array_join(blockToks(b), " "))),
      " ")
    val nMasked = size(flatten(transform(maskedBlocks, b => blockToks(b))))
      .cast("long")
    Seq(n.cast("long").as("n_tokens"),
      size(maskedBlocks).cast("long").as("n_spans"),
      nMasked.as("n_masked"),
      when(n > 0, round(nMasked.cast("double") / n.cast("double"), 6))
        .otherwise(lit(0.0)).as("corruption_rate"),
      md5(inputStr.cast("binary")).as("input_fp"),
      md5(targetStr.cast("binary")).as("target_fp"))
  }

  /** Token count via whitespace split and via the token regex — the two
    * "token counting" conventions (SURVEY-plus scope), both exact ints. */
  def withTokenCounts(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    df.withColumn("n_tokens_regex", size(tokens(t)).cast("long"))
      .withColumn("n_tokens_ws",
        size(filter(split(t, " "), x => length(x) > 0)).cast("long"))
      .withColumn("n_distinct_tokens",
        size(array_distinct(tokens(t))).cast("long"))
  }
}
