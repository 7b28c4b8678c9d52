package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * E3 + A13: bootstrap resampling for prediction smoothing
 * (reference `model.py:279-281`: ×50 `df.sample(frac=0.95, replace=True,
 * random_state=seed+i)`, then per-user mean over the runs, `model.py:293`).
 *
 * Spark's with-replacement sample is per-row Poisson — statistically
 * equivalent to pandas' exact-count draw but not row-identical, and fully
 * distributed (no global shuffle, no driver collect). Document, don't fight
 * it (SURVEY.md §2.8 E3).
 */
object Sampling {

  def bootstrap(df: DataFrame, fraction: Double, seed: Long): DataFrame =
    df.sample(withReplacement = true, fraction, seed)

  /** The ×k ensemble union, tagged by run id; downstream takes
    * groupBy(key).avg (A13). */
  def bootstrapRuns(df: DataFrame, k: Int, fraction: Double, seed: Long): DataFrame = {
    (0 until k).map(i => bootstrap(df, fraction, seed + i)
      .withColumn("run_id", lit(i))).reduce(_ unionByName _)
  }

  /** Cumulative Poisson(lambda) CDF values P(X <= i) for i = 0..kMax-1 —
    * the inverse-CDF thresholds for [[deterministicBootstrapRuns]]. Exposed
    * so an external oracle can embed the EXACT same double literals
    * (Double.toString round-trips bit-exactly through any IEEE-754 parser). */
  def poissonThresholds(lambda: Double, kMax: Int): Seq[Double] = {
    var pmf = math.exp(-lambda)
    var cum = pmf
    (0 until kMax).map { i =>
      if (i > 0) { pmf = pmf * lambda / i; cum += pmf }
      cum
    }
  }

  /** 60-bit-md5-derived uniform in [0, 1): `u = md5Hash(key#run) / 2^60`.
    * Division by a power of two is exact, so u is bit-identical in any
    * engine that reproduces the md5 trick (DuckDB:
    * `('0x'||substr(md5(key||'#'||run),1,15))::BIGINT / 1152921504606846976.0`). */
  def hashUniform(key: Column, run: Column): Column =
    Dedup.md5Hash(key.cast("string"), run) / lit(1152921504606846976.0)

  /** Inverse-CDF replication count from a uniform: count = the number of
    * thresholds at or below u (CASE u < t0 -> 0, u < t1 -> 1, ..., else kMax). */
  private def inverseCdfCount(u: Column, thresholds: Seq[Double]): Column =
    thresholds.zipWithIndex.foldRight(lit(thresholds.size): Column) {
      case ((t, i), elseC) => when(u < t, i).otherwise(elseC)
    }

  /** Deterministic train/test/fold assignment: fold = 60-bit md5 of the
    * key mod k. Content-addressed, so the split is stable across runs,
    * engines, partitionings and re-ingests — the property a reproducible
    * training pipeline needs from its splits (seeded RNG splits lose it
    * the moment row order changes). Pure projection, no shuffle. */
  def hashFold(key: Column, k: Int, salt: String = "fold"): Column =
    (Dedup.md5Hash(key.cast("string"), lit(salt)) % k).cast("long")

  /** Deterministic per-group FIXED-COUNT sample: rank each group's rows
    * by content-addressed hash (then by key, so a 60-bit hash collision
    * can't make the cut nondeterministic) and keep the first `n` — "10
    * example docs per source", the eval-set / spot-check shape that
    * rate-based [[stratifiedKeep]] can't express (a rate gives a
    * BINOMIAL count per group; this gives exactly min(n, |group|)).
    * Content-addressed like the other samplers: the same rows are kept
    * across runs, engines and partitionings. Appends (or overwrites) a
    * 1-based `rank` column with each row's position in its group's draw.
    * Scale shape: the rank filter is a `row_number` ≤ n, which Catalyst
    * pushes into the sort as WindowGroupLimit (same as q24's top-k) —
    * per-task state is n rows per group, never the group. */
  def groupSample(df: DataFrame, group: Column, key: Column, n: Int,
                  salt: String = "gsamp"): DataFrame = {
    require(n > 0, "groupSample: n must be positive")
    val w = Window.partitionBy(group)
      .orderBy(Dedup.md5Hash(key.cast("string"), lit(salt)), key)
    df.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= n)
      .withColumn("rank", col("_rn").cast("long")).drop("_rn")
  }

  /** Deterministic stratified subsampling: keep a row iff its md5-derived
    * uniform is below the stratum's rate. Replays exactly in any engine
    * with md5 (same trick as the bootstrap); no shuffle, no RNG state,
    * and the kept set is stable under reordering and re-ingestion. */
  def stratifiedKeep(df: DataFrame, key: Column, stratum: Column,
                     rates: Map[String, Double],
                     salt: String = "strat"): DataFrame = {
    val rate = rates.toSeq.sortBy(_._1).foldLeft(lit(0.0)) {
      case (acc, (s, r)) => when(stratum === s, r).otherwise(acc)
    }
    df.filter(hashUniform(key, lit(salt)) < rate)
  }

  /** Domain-mixture subsampling: re-weight a corpus toward a target domain
    * mix (the data-mixing step of LLM training pipelines). Each domain's
    * keep rate is `frac × targetShare(domain) / actualShare(domain)`,
    * capped at 1, where targetShare ∝ `weightOf(domain)`; rows keep iff
    * their content-addressed md5 uniform is below the domain's rate — so
    * the sample is deterministic, engine-independent and stable under
    * reordering (no RNG state).
    *
    * Scale shape: domain statistics are ONE aggregation (domains are
    * few — sources, languages, buckets), shipped back via broadcast joins;
    * the corpus itself sees a single linear filter pass, no corpus-wide
    * shuffle. Rates round to 6 dp on the exact integer-derived doubles, so
    * an external engine replays the keep set bit-for-bit. */
  def domainMix(df: DataFrame, key: Column, domain: Column,
                weightOf: Column => Column, frac: Double,
                salt: String = "mix"): DataFrame = {
    val counts = df.groupBy(domain.as("_dom"))
      .agg(count(lit(1)).as("_cnt"))
      .withColumn("_w", weightOf(col("_dom")).cast("double"))
    val tot = counts.agg(sum(col("_cnt")).cast("double").as("_total"),
      sum(col("_w")).as("_sumw"))
    val rates = counts.crossJoin(broadcast(tot))
      .withColumn("rate", least(lit(1.0), graft.ops.CrossRound.round(
        lit(frac) * col("_w") * col("_total")
          / (col("_sumw") * col("_cnt").cast("double")), 6)))
      .select(col("_dom"), col("rate"))
    df.join(broadcast(rates), domain === col("_dom"))
      .filter(hashUniform(key, lit(salt)) < col("rate"))
      .drop("_dom")
  }

  /** [[domainMix]] with the weight derived from the domain's observed
    * COUNT — the temperature-sampling form (Lample & Conneau 2019 §3.1):
    * w = cnt^(1/T), T > 1 flattens the mix toward uniform so
    * low-resource domains are upsampled relative to their share. Same
    * one-aggregation + broadcast-rates + linear-filter shape as
    * domainMix. For T = 2 pass `sqrt` — correctly rounded in IEEE-754,
    * so the oracle replays the rates bit-for-bit; arbitrary T needs
    * pow(), whose last ulp is libm-specific (the 6-dp rate round then
    * absorbs it in practice but not by construction). */
  def domainMixByCount(df: DataFrame, key: Column, domain: Column,
                       weightOfCount: Column => Column, frac: Double,
                       salt: String = "mix"): DataFrame = {
    val counts = df.groupBy(domain.as("_dom"))
      .agg(count(lit(1)).as("_cnt"))
      .withColumn("_w", weightOfCount(col("_cnt").cast("double")))
    val tot = counts.agg(sum(col("_cnt")).cast("double").as("_total"),
      sum(col("_w")).as("_sumw"))
    val rates = counts.crossJoin(broadcast(tot))
      .withColumn("rate", least(lit(1.0), graft.ops.CrossRound.round(
        lit(frac) * col("_w") * col("_total")
          / (col("_sumw") * col("_cnt").cast("double")), 6)))
      .select(col("_dom"), col("rate"))
    df.join(broadcast(rates), domain === col("_dom"))
      .filter(hashUniform(key, lit(salt)) < col("rate"))
      .drop("_dom")
  }

  /** DoReMi-flavored domain reweighting (Xie et al., NeurIPS 2023): the
    * one-shot exponentiated-gradient step of the published minimax
    * recipe, driven by a STATIC excess-loss proxy instead of a trained
    * proxy model. Input: one row per domain (source, n_tokens,
    * kl_bits) — kl_bits = KL(domain ‖ corpus) in bits (d29's drift
    * stat) stands in for the per-domain excess loss (a domain far from
    * the corpus LM is exactly a domain the corpus LM underfits). The
    * update is DoReMi's: weight_s ∝ share_s · 2^(λ·excess_s),
    * normalized over domains; λ = 0 returns the natural mix, larger λ
    * shifts budget toward high-excess domains. `boost` = weight/share
    * is the epoch multiplier d58's replication step consumes — this row
    * DERIVES the mix the rest of the family applies (d47 flattens by
    * temperature, d77 allocates under a budget, d86 reweights by
    * excess loss).
    *
    * Determinism: share = exact-BIGINT division; the single
    * transcendental (2^λ·kl, libm last-ulp class like d29's log2) is
    * 6-dp-rounded, then the normalization runs the q62 decimal
    * sandwich — DECIMAL(20,10) cast, EXACT decimal sum, ONE double
    * division per domain, 6-dp publish. Scale shape: the input is
    * domain-count-sized (broadcast-scale forever); the two aggregates
    * are over that tiny table, never the corpus. */
  def doremiWeights(kl: DataFrame, lambda: Double = 1.0): DataFrame = {
    val xr = graft.ops.CrossRound
    val tot = kl.agg(sum(col("n_tokens")).as("_tot"))
    val share = col("n_tokens").cast("double") / col("_tot").cast("double")
    val base = kl.crossJoin(broadcast(tot))
      .withColumn("_share", share)
      .withColumn("_term",
        xr.round(col("_share") * pow(lit(2.0), lit(lambda) * col("kl_bits")),
          6).cast("decimal(20,10)"))
    val norm = base.agg(sum(col("_term")).as("_norm"))
    val weightU = col("_term").cast("double") / col("_norm").cast("double")
    base.crossJoin(broadcast(norm))
      .select(col("source"), col("n_tokens"),
        xr.round(col("_share"), 6).as("token_share"),
        col("kl_bits"),
        xr.round(weightU, 6).as("weight"),
        xr.round(weightU / col("_share"), 6).as("boost"))
  }

  /** Data-constrained scaling audit (Muennighoff et al., NeurIPS 2023
    * "Scaling Data-Constrained Language Models"): the value of repeated
    * epochs decays exponentially — with R = epochs and the paper's
    * fitted decay constant R* ≈ 15.39, the effective epoch multiplier
    * is  eff = 1 + R*·(1 − e^(−(R−1)/R*))  for R > 1 (and exactly R for
    * R ≤ 1: a partial first pass is all-new tokens). Consumes an epoch
    * allocation (d77's output: source, n_tokens, epochs, saturated) and
    * answers the question a budget review asks of the mix: how many of
    * the tokens the schedule will spend still TEACH, per source.
    *
    * Published columns: eff_epochs (the multiplier, 6-dp — bounded by
    * 1 + R*, so the exp()'s libm last-ulp is absorbed at ANY corpus
    * scale, unlike a token-denominated exp), effective_tokens =
    * n_tokens · ROUNDED multiplier (one deterministic product of an
    * exact BIGINT and the published 6-dp double), utilization =
    * eff_epochs / epochs (≤ 1; the wasted-compute share is 1 − this).
    * Domain-table-sized input → broadcast-scale forever. */
  def dataConstrainedValue(alloc: DataFrame, rStar: Double = 15.39)
  : DataFrame = {
    val xr = graft.ops.CrossRound
    val reps = greatest(col("epochs") - lit(1.0), lit(0.0))
    val effRaw = when(col("epochs") <= 1.0, col("epochs"))
      .otherwise(lit(1.0) + lit(rStar)
        * (lit(1.0) - exp((reps * lit(-1.0)) / lit(rStar))))
    alloc.select(col("source"), col("n_tokens"), col("epochs"),
        col("saturated"), xr.round(effRaw, 6).as("eff_epochs"))
      .withColumn("effective_tokens",
        xr.round(col("n_tokens").cast("double") * col("eff_epochs"), 6))
      .withColumn("utilization",
        when(col("epochs") > 0.0,
          xr.round(col("eff_epochs") / col("epochs"), 6)))
  }

  /** Weighted priority sampling (Duffield–Lund–Thorup shape): per group,
    * keep the k rows with the smallest priority u/w, where u is the
    * content-addressed md5 uniform and w an integer weight — selection
    * probability grows with weight, and the kept set is stable under
    * reordering/re-ingestion like every sampler here.
    *
    * Determinism is INTEGER-exact: for weights dividing `lcm`
    * (e.g. w ∈ {1,2,3}, lcm 6), rank by h·lcm DIV w — pure 64-bit
    * arithmetic, so no cross-engine pow/log last-bit flip can ever move
    * the selection boundary (the float form u^(1/w) of Efraimidis–
    * Spiliotis cannot make that guarantee). h·lcm must stay under 2^63:
    * the 60-bit hash allows lcm ≤ 7. Ties (floor collisions) break on the
    * key, deterministically.
    *
    * Scale shape: projection + one per-group top-k window — the same
    * single-exchange pattern as q24; no corpus-wide sort. */
  def prioritySample(df: DataFrame, group: Column, key: Column,
                     weight: Column, lcm: Int, k: Int,
                     salt: String = "wps"): DataFrame = {
    require(lcm >= 1 && lcm <= 7, s"lcm=$lcm would overflow h*lcm past 2^63")
    val pri = expr(s"_h * $lcm div _w")
    val byPriority = Window.partitionBy(col("_grp"))
      .orderBy(col("priority").asc, col("_key").asc)
    // a null/zero weight would make the priority NULL, and ASC NULLS FIRST
    // would hand those rows the sample slots — fail loudly instead
    val wGuarded = {
      val w = weight.cast("long")
      when(w >= 1L, w).otherwise(raise_error(concat(
        lit("prioritySample: weight must be >= 1, got "), w.cast("string"))))
    }
    df.withColumn("_grp", group)
      .withColumn("_key", key)
      .withColumn("_h", Dedup.md5Hash(key.cast("string"), lit(salt)))
      .withColumn("_w", wGuarded)
      .withColumn("priority", pri)
      .withColumn("_rn", row_number().over(byPriority))
      .filter(col("_rn") <= k)
      .drop("_grp", "_key", "_h", "_rn")
  }

  /** Deterministic epoch shuffle: the global training-order shuffle a
    * corpus needs before each pass, without any RNG state. Each row gets a
    * content-addressed (shard, pos): shard = 60-bit md5 of the key mod
    * `shards`, pos = rank within the shard by a SECOND independent hash
    * (then by key, so a hash collision can't make the order
    * nondeterministic). Readers consume shards round-robin — the standard
    * sharded-shuffle consumption order; a NEW epoch (different `epoch`
    * value → different salts) re-permutes everything.
    *
    * Scale shape: the only exchange is the window's hash partition on
    * `shards` keys — never a global single-task sort. A 100 TB corpus at
    * shards = O(executors × few) keeps every partition pipeline-sized;
    * contrast with `orderBy(hash)`, whose range partitioner must sample
    * globally, or zipWithIndex, which serializes on a driver count. Stable
    * across runs, engines and partitionings like every content-addressed
    * op here. */
  def epochShuffle(df: DataFrame, key: Column, shards: Int, epoch: Int,
                   salt: String = "shuf"): DataFrame = {
    require(shards >= 1, "epochShuffle: shards must be positive")
    val es = s"$salt$epoch"
    val w = Window.partitionBy(col("shard"))
      .orderBy(Dedup.md5Hash(key.cast("string"), lit(s"$es.p")), key)
    df.withColumn("shard",
        (Dedup.md5Hash(key.cast("string"), lit(s"$es.s")) % shards)
          .cast("long"))
      .withColumn("pos", row_number().over(w).cast("long"))
  }

  /** Fractional-epoch replication: the "epochs per domain" data-mix form
    * (domain weight 2.5 → every doc appears twice, and a deterministic 50%
    * of docs a third time; weight 0.4 → no guaranteed copy, 40% of docs
    * appear once). One operator covers up- AND down-sampling: copies =
    * floor(w) + (u < frac(w)), u the content-addressed md5 uniform — so
    * the replicated multiset is stable across runs, engines and
    * partitionings, and E[copies] = w exactly.
    *
    * Emits one row per copy with a 1-based `copy` index (distinct rows, so
    * downstream exact-dedup doesn't silently undo the upsampling; shuffle
    * the result with [[epochShuffle]] on (key, copy) to interleave copies).
    * Scale shape: broadcast when-chain for the per-domain constants + one
    * generator projection (`explode(sequence)`) — no shuffle, expansion
    * proportional to the target epochs by construction.
    *
    * `fracThreshold` exposes the exact per-domain threshold doubles
    * (`w - floor(w)`) so an external oracle embeds the same literals
    * (Double.toString round-trips bit-exactly, the poissonThresholds
    * discipline). */
  def fracThreshold(epochs: Double): Double = epochs - math.floor(epochs)

  /** `defaultEpochs` is the weight for rows whose domain is NOT in
    * `epochsOf`. The default 0.0 keeps the data-mix convention (a domain
    * absent from the mix table gets no epochs, i.e. is dropped — the same
    * semantics as an inner join against the mix table); pass e.g. 1.0 to
    * carry unknown domains through unchanged. `strictDomains = true`
    * instead makes an unknown domain a RUNTIME ERROR (`raise_error` in the
    * fallback branch), for call sites where a domain outside the table
    * means a typo'd mix config rather than intentional exclusion — silent
    * data deletion is the failure mode this flag exists to catch. */
  def epochReplicate(df: DataFrame, key: Column, domain: Column,
                     epochsOf: Map[String, Double],
                     salt: String = "rep",
                     defaultEpochs: Double = 0.0,
                     strictDomains: Boolean = false): DataFrame = {
    require(epochsOf.values.forall(w => w >= 0.0 && w <= 100.0),
      "epochReplicate: epochs per domain must be in [0, 100]")
    require(defaultEpochs >= 0.0 && defaultEpochs <= 100.0,
      "epochReplicate: defaultEpochs must be in [0, 100]")
    def unknown(asDouble: Boolean): Column =
      if (strictDomains)
        raise_error(concat(lit("epochReplicate: domain not in mix table: "),
          domain.cast("string"))).cast(if (asDouble) "double" else "long")
      else if (asDouble) lit(fracThreshold(defaultEpochs))
      else lit(math.floor(defaultEpochs).toLong)
    val whole = epochsOf.toSeq.sortBy(_._1).foldLeft(unknown(asDouble = false)) {
      case (acc, (dom, w)) =>
        when(domain === dom, math.floor(w).toLong).otherwise(acc)
    }
    val frac = epochsOf.toSeq.sortBy(_._1).foldLeft(unknown(asDouble = true)) {
      case (acc, (dom, w)) =>
        when(domain === dom, fracThreshold(w)).otherwise(acc)
    }
    val extra = when(hashUniform(key, lit(salt)) < frac, 1L).otherwise(0L)
    df.withColumn("n_copies", whole + extra)
      .filter(col("n_copies") >= 1L)
      .withColumn("copy", explode(sequence(lit(1L), col("n_copies"))))
      .drop("n_copies")
  }

  /** E3, DETERMINISTIC form: bootstrap-with-replacement where each row's
    * replication count in run `r` is the inverse Poisson(lambda) CDF of an
    * md5-derived uniform over (key, r) — the same per-row Poisson model
    * Spark's seeded `sample(withReplacement)` draws from, but with the
    * randomness derived from DATA instead of RNG state, so any engine can
    * replay it bit-for-bit (the trick that made the e02/e04 ANN oracles
    * exact). Rows with count 0 drop out via explode of an empty array; no
    * shuffle, no driver round-trip — a pure projection + generator, same
    * scale shape as Spark's native sampler. */
  def deterministicBootstrapRuns(df: DataFrame, key: Column, runs: Int,
                                 lambda: Double, kMax: Int = 8): DataFrame = {
    val thresholds = poissonThresholds(lambda, kMax)
    val u = hashUniform(key, col("run_id"))
    df.withColumn("run_id", explode(array((0 until runs).map(lit): _*)))
      .withColumn("_cnt", inverseCdfCount(u, thresholds))
      .withColumn("_dup", explode(array_repeat(lit(1), col("_cnt"))))
      .drop("_cnt", "_dup")
  }

  /** GPT-style sequence packing — the concat-and-chunk step between
    * curation and the trainer: documents are concatenated in a
    * deterministic order within each pack STREAM and cut into fixed
    * `capacity`-token training chunks; each doc's placement comes back as
    * (`first_chunk`, `chunk_offset`, `last_chunk`), chunk ids local to
    * the stream. Streams are (domain, shard), shard = content-addressed
    * md5 of the key mod `shards` — production packs per shard precisely
    * because a corpus-wide token cumsum cannot exist at 100 TB; with
    * shards = O(executors × few) every stream's window partition stays
    * pipeline-sized (the [[epochShuffle]] scale argument), and in-stream
    * order is the key itself, so the layout is stable across runs,
    * engines and partitionings. Zero-token docs are dropped: they pack
    * nothing and would otherwise alias the next doc's offset.
    *
    * Integer-exact: start positions are long cumsums; the chunk
    * floor-divs pass through float64 division, exact while a STREAM's
    * token total stays under 2^53 (9 petatokens per shard — far past any
    * real stream; shard more before that). */
  def packSequences(df: DataFrame, key: Column, domain: Column,
                    nTokens: Column, capacity: Int, shards: Int,
                    salt: String = "pack"): DataFrame = {
    require(capacity >= 1, "packSequences: capacity must be positive")
    require(shards >= 1, "packSequences: shards must be positive")
    val base = df.withColumn("n_tokens", nTokens.cast("long"))
      .filter(col("n_tokens") > 0)
      .withColumn("shard",
        (Dedup.md5Hash(key.cast("string"), lit(s"$salt.s")) % shards)
          .cast("long"))
    val w = Window.partitionBy(domain, col("shard")).orderBy(key)
      .rowsBetween(Window.unboundedPreceding, -1)
    base
      .withColumn("_start", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("first_chunk",
        floor(col("_start") / capacity).cast("long"))
      .withColumn("chunk_offset", (col("_start") % capacity).cast("long"))
      .withColumn("last_chunk",
        floor((col("_start") + col("n_tokens") - 1) / capacity)
          .cast("long"))
      .drop("_start")
  }

  /** The trainer-facing artifact of a [[packSequences]] layout: the CHUNK
    * MANIFEST — one row per (doc, chunk) the doc occupies, with the
    * doc's segment inside that chunk as a local token interval
    * [`tok_begin`, `tok_begin` + `tok_len`). This is what the training
    * loader actually consumes: per chunk, the segment list IS the
    * document-boundary/loss-mask metadata (cross-document attention is
    * masked at exactly these boundaries). Pure per-row arithmetic over
    * the placement columns plus one `explode(sequence(first, last))` —
    * no shuffle beyond packSequences' own; fan-out = chunks spanned,
    * ~ n_tokens/capacity per doc, linear in corpus tokens. */
  def chunkManifest(packed: DataFrame, capacity: Int): DataFrame = {
    val start = col("first_chunk") * capacity + col("chunk_offset")
    val end = start + col("n_tokens") // exclusive, global token coords
    val cBase = col("chunk") * capacity
    packed
      .withColumn("chunk",
        explode(sequence(col("first_chunk"), col("last_chunk"))))
      .withColumn("tok_begin",
        (greatest(start, cBase) - cBase).cast("long"))
      .withColumn("tok_len",
        (least(end, cBase + capacity) - greatest(start, cBase))
          .cast("long"))
      .drop("first_chunk", "chunk_offset", "last_chunk")
  }

  /** Operational readout of a [[packSequences]] layout: per stream, the
    * doc count, token total, the chunk count ceil(total/capacity) the
    * trainer will actually see, and the exact padding waste the last
    * partial chunk costs — the number an operator tunes `capacity`
    * against (waste share up → capacity too large for the shard's token
    * mass). Stream-count-sized aggregate, integer-exact. */
  def packingStats(packed: DataFrame, domain: Column, capacity: Int)
  : DataFrame =
    packed.groupBy(domain, col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"))
      .withColumn("n_chunks",
        floor((col("n_tokens") + capacity - 1) / capacity).cast("long"))
      .withColumn("waste_tokens",
        col("n_chunks") * capacity - col("n_tokens"))

  /** [[packingStats]] computed straight from the RAW doc table — no
    * placement window, just the shard hash, the zero-token filter and one
    * keyed aggregation — so the SAME plan runs over a STREAM (update/
    * complete mode: a windowed cumsum can't stream, a keyed integer sum
    * can). Batch result ≡ packingStats(packSequences(...)) by
    * construction: chunks/waste depend only on each stream's token TOTAL,
    * not on the placement. This is the production monitoring shape —
    * shards land continuously, the padding-waste readout stays current
    * without ever re-reading the corpus. */
  def packingStatsRaw(df: DataFrame, key: Column, domain: Column,
                      nTokens: Column, capacity: Int, shards: Int,
                      salt: String = "pack"): DataFrame = {
    require(capacity >= 1, "packingStatsRaw: capacity must be positive")
    require(shards >= 1, "packingStatsRaw: shards must be positive")
    df.withColumn("n_tokens", nTokens.cast("long"))
      .filter(col("n_tokens") > 0)
      .withColumn("shard",
        (Dedup.md5Hash(key.cast("string"), lit(s"$salt.s")) % shards)
          .cast("long"))
      .groupBy(domain, col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
      .withColumn("n_chunks",
        floor((col("n_tokens") + capacity - 1) / capacity).cast("long"))
      .withColumn("waste_tokens",
        col("n_chunks") * capacity - col("n_tokens"))
  }

  /** Data-parallel training schedule over a chunk universe: the answer to
    * "what does GPU r compute at optimizer step t?", derivable on any
    * engine. [[epochShuffle]] gives each chunk a content-addressed
    * (shuffle_shard, pos); the round-robin interleave
    * `global_idx = (pos−1)·shards + shard` (injective: shard is the
    * residue) linearizes the shards exactly like a distributed sampler
    * interleaves its workers, and `rank = global_idx mod worldSize`,
    * `step = global_idx div worldSize` is the DDP consumption order at
    * one sample per rank per step. Unequal shard tails leave gaps high in
    * `global_idx` — the standard drop_last/padding artifact, surfaced
    * rather than hidden. Pure integer arithmetic after the shuffle's one
    * shard-hash exchange; shards scale with the cluster. */
  def trainSchedule(df: DataFrame, key: Column, shards: Int, epoch: Int,
                    worldSize: Int, salt: String = "sched"): DataFrame = {
    require(worldSize >= 1, "trainSchedule: worldSize must be positive")
    epochShuffle(df, key, shards, epoch, salt)
      .withColumn("global_idx", (col("pos") - 1) * shards + col("shard"))
      .withColumn("rank", col("global_idx") % worldSize)
      .withColumn("step", expr(s"global_idx div $worldSize"))
  }

  /** UniMax epoch allocation (Chung et al., ICLR 2023): given per-domain
    * token counts, a total token BUDGET and a per-domain repeat cap of
    * `maxEpochs`, allocate the budget so every domain is as close to
    * uniform as the cap allows — small domains saturate at
    * `maxEpochs × n_tokens`, every remaining (larger) domain gets the
    * SAME fair share of what's left. This is the budget-CONSTRAINED
    * member of the mix family: d47's temperature flattening has no
    * budget, [[epochReplicate]] takes the epochs as given — UniMax
    * derives them.
    *
    * Closed form instead of the paper's sequential loop: in ascending
    * token order, once one domain's capped demand exceeds the current
    * fair share, allocating exactly the fair share leaves the NEXT fair
    * share unchanged ((B − B/N) / (N−1) = B/N) — so the saturated set is
    * a prefix, found with one prefix-sum window: the first rank r* where
    * `cap_r × (N − r + 1) > budget − prefix_cap(<r)`. Ranks r < r* get
    * their full cap; r ≥ r* all get the constant fair share
    * `(budget − prefix_cap(<r*)) / (N − r* + 1)`.
    *
    * The budget is `total_tokens × budgetNum DIV budgetDen` — integer
    * floor-division on longs, so every branch decision is 64-bit-integer
    * exact on both engines (the only float is the published fair share
    * itself, rounded per the CrossRound policy; epochs divide the
    * ROUNDED allocation so both engines divide identical doubles).
    * Ties in token count break on the domain name — deterministic,
    * engine-independent.
    *
    * Scale shape: one domain-count aggregation, then windows over the
    * DOMAIN table only (domains are sources/languages — O(100s); the d72
    * histogram-sized single-partition-window precedent); scalar stats
    * ride broadcast crossJoins. The corpus is touched exactly once. */
  def uniMaxAllocation(df: DataFrame, domain: Column, nTokens: Column,
                       maxEpochs: Int, budgetNum: Long, budgetDen: Long)
  : DataFrame = {
    require(maxEpochs >= 1, "uniMaxAllocation: maxEpochs must be >= 1")
    require(budgetNum > 0 && budgetDen > 0,
      "uniMaxAllocation: budget fraction must be positive")
    val counts = df.groupBy(domain)
      .agg(sum(nTokens.cast("long")).as("n_tokens"))
    val domName = counts.columns.head
    val tot = counts.agg(
      expr(s"sum(n_tokens) * $budgetNum div $budgetDen").as("_budget"),
      count(lit(1)).as("_nd"))
    val w = Window.orderBy(col("n_tokens"), col(domName))
    val o = counts
      .withColumn("cap_tokens", col("n_tokens") * maxEpochs)
      .withColumn("_r", row_number().over(w).cast("long"))
      .withColumn("_p", coalesce(sum(col("cap_tokens"))
        .over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .crossJoin(broadcast(tot))
    val rstar = o.agg(min(when(
      col("cap_tokens") * (col("_nd") - col("_r") + 1)
        > col("_budget") - col("_p"), col("_r"))).as("_rstar"))
    val o2 = o.crossJoin(broadcast(rstar))
    val fair = o2.agg(min(when(col("_r") === col("_rstar"),
      (col("_budget") - col("_p")).cast("double")
        / (col("_nd") - col("_rstar") + 1))).as("_fs"))
    o2.crossJoin(broadcast(fair))
      .withColumn("saturated",
        (col("_rstar").isNull || col("_r") < col("_rstar")).cast("long"))
      .withColumn("alloc_tokens", CrossRound.round(
        when(col("saturated") === 1L, col("cap_tokens").cast("double"))
          .otherwise(col("_fs")), 6))
      .withColumn("epochs",
        CrossRound.round(col("alloc_tokens") / col("n_tokens"), 6))
      .select(col(domName), col("n_tokens"), col("cap_tokens"),
        col("alloc_tokens"), col("epochs"), col("saturated"))
  }

  /** U3 batch-pad resampling (reference `run.py:128-133`): the torch
    * DataLoader wants `len(X_train) % 32 == 0`, so the reference appends
    * `pad_len = (32 - n % 32) % 32` rows drawn i.i.d. uniform WITH
    * replacement (`np.random.randint(0, n, pad_len)`). The deterministic
    * Spark twin replaces the unseeded RNG with the registry's
    * content-addressed draw (the q20/E3 move): slot i's pick is the key
    * minimizing `md5Hash(key, "<salt><i>")` — hash-uniformity makes each
    * slot's winner uniform over keys, independent salts make slots
    * independent, and two slots may pick the same key (with replacement),
    * exactly np.random.randint's distributional semantics.
    *
    * Scale shape: NO global index, NO sort, NO window — one scan feeding
    * one 1-row aggregate (count + `batch` min(struct(hash, key)) columns,
    * partial per partition), then an explode of that single row into
    * `batch` slot rows. The selection would run unchanged over 10^11 keys.
    * Returns exactly `batch` rows: (slot, pick_key, orig_n, pad_len,
    * used) — used = 1 iff slot < pad_len (slots ≥ pad_len are published so
    * the frame's shape is scale-independent and the mod arithmetic is
    * itself hash-checked). Ties on the 60-bit hash break by key string,
    * so the pick is deterministic even under collision. Empty input:
    * orig_n = 0, pad_len = 0, picks null, used = 0 everywhere. */
  def batchPadSlots(df: DataFrame, key: Column, batch: Int,
                    salt: String = "pad"): DataFrame = {
    require(batch >= 1, "batchPadSlots: batch must be >= 1")
    val ks = key.cast("string")
    val winners = (0 until batch).map(i => min(struct(
      Dedup.md5Hash(ks, lit(s"$salt$i")).as("h"), ks.as("k"))).as(s"_w$i"))
    val one = df.agg(count(lit(1)).cast("long").as("orig_n"), winners: _*)
      .withColumn("pad_len",
        ((lit(batch) - col("orig_n") % batch) % batch).cast("long"))
    val slotArr = array((0 until batch).map(i => struct(
      lit(i.toLong).as("slot"), col(s"_w$i").getField("k").as("k"))): _*)
    one.select(col("orig_n"), col("pad_len"), explode(slotArr).as("_s"))
      .select(col("_s.slot").as("slot"), col("_s.k").as("pick_key"),
        col("orig_n"), col("pad_len"),
        when(col("_s.slot") < col("pad_len"), 1L).otherwise(0L).as("used"))
  }

  /** The materialized form a trainer consumes: `df` plus one appended copy
    * of each picked row per winning slot — `count % batch == 0` afterwards
    * (whole-key rows, so a key picked twice appends twice, like
    * `np.concatenate((X_train, X_train[random_indices]))`). The pick
    * multiplicity table is ≤ batch rows — broadcast by construction.
    *
    * PRECONDITION: `key` must be UNIQUE per row (the reference resamples
    * by row INDEX — `np.random.randint` picks rows, not key values). A
    * duplicated key appends one copy per matching row × slot
    * multiplicity, silently over-padding past the `% batch == 0`
    * target; deduplicate or synthesize a unique key first
    * (e.g. `monotonically_increasing_id` persisted once). */
  def batchPadResample(df: DataFrame, key: Column, batch: Int,
                       salt: String = "pad"): DataFrame = {
    val mult = batchPadSlots(df, key, batch, salt)
      .where(col("used") === 1L)
      .groupBy(col("pick_key"))
      .agg(count(lit(1)).cast("int").as("_mult"))
    val pads = df.join(broadcast(mult), key.cast("string") === col("pick_key"))
      .withColumn("_rep", explode(sequence(lit(1), col("_mult"))))
      .select(df.columns.map(col).toSeq: _*)
    df.unionByName(pads)
  }
}
