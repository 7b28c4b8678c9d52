package graft

import org.apache.spark.sql.functions._
import graft.schema.Tables
import graft.streaming.EventStream

/**
 * Driver-contract query registry, part 3: BATCH TWINS of the streaming
 * surface (SURVEY.md §2.10). Each query here calls the SAME EventStream
 * function the streaming specs drive — `withWatermark` is a no-op on a
 * batch Dataset (Catalyst's EliminateEventTimeWatermark) and
 * `mapGroupsWithState` runs in batch with empty initial state — so the
 * driver's DuckDB hash check covers the exact plan the stream executes.
 * One definition, two execution modes; the remaining twins (q25/d01/q29/
 * d43/d36) live in Queries/QueriesText for historical ordering.
 *
 * Determinism notes:
 *  - s01 outputs timestamps as `unix_micros` (exact integers; DuckDB's
 *    `epoch_us`) — second-level `epoch(ts)::BIGINT` would ROUND the
 *    microsecond fraction in DuckDB but TRUNCATE in Spark.
 *  - s02 folds per-event values in shuffle order, so the summed value is
 *    pre-scaled to CENTS (`round(value*100)` — integer-valued doubles):
 *    integer-double addition is exact and order-independent up to 2^53,
 *    and the final mean is a single IEEE division both engines replay.
 */
object QueriesStream {
  import Queries.QFn

  // --------------------------------------------- stream-stream interval join
  // Streaming attribution (EventStream.clickAttribution): each purchase
  // pairs with the same user's clicks from the preceding hour. In batch
  // the interval join degenerates to a plain range-predicate equi-join on
  // user_id — the shape AQE broadcasts when one side is small.
  private val s01: (String, QFn, Option[String]) = ("s01_click_attribution",
    (s, d) => {
      val e = Tables.events(s, d)
      EventStream.clickAttribution(
        e.filter(col("event_type") === "click"),
        e.filter(col("event_type") === "purchase"))
        .select(col("user_id"), col("click_id"), col("purchase_id"),
          unix_micros(col("click_ts")).as("click_us"),
          unix_micros(col("purchase_ts")).as("purchase_us"),
          col("purchase_value"))
    },
    Some("""SELECT c.user_id, c.event_id AS click_id,
      | p.event_id AS purchase_id,
      | epoch_us(c.ts) AS click_us, epoch_us(p.ts) AS purchase_us,
      | p.value AS purchase_value
      |FROM events c JOIN events p
      | ON c.user_id = p.user_id AND c.ts <= p.ts
      | AND c.ts >= p.ts - INTERVAL 1 HOUR
      |WHERE c.event_type = 'click' AND p.event_type = 'purchase'"""
      .stripMargin))

  // --------------------------------------------------- mapGroupsWithState
  // Per-user running stats (EventStream.runningUserStats): the batch run
  // processes each user's whole history in one state update, so the final
  // snapshot equals the streaming query's last emitted row per user.
  private val s02: (String, QFn, Option[String]) = ("s02_running_stats",
    (s, d) => {
      import s.implicits._
      val evs = Tables.events(s, d)
        .select(col("user_id"),
          round(col("value") * 100).cast("double").as("value"))
        .as[EventStream.Event]
      EventStream.runningUserStats(evs).toDF()
        .select(col("user_id"), col("n"), col("total").as("total_cents"),
          col("mean").as("mean_cents"))
    },
    Some("""SELECT user_id, count(*) AS n,
      | sum(round(value * 100)) AS total_cents,
      | sum(round(value * 100)) / count(*) AS mean_cents
      |FROM events GROUP BY user_id""".stripMargin))

  // ------------------------------------------ windowed drift histogram
  // EventStream.histogramCounts with pinned bounds [0, 500) x 20 bins:
  // per (hour, event_type, bin) counts, the fixed-bound streaming form of
  // q44's histogram sketch. (hi-lo)/bins = 25.0 is exact in binary, so
  // the bin arithmetic replays bit-for-bit in DuckDB.
  private val s03: (String, QFn, Option[String]) = ("s03_histogram_counts",
    (s, d) => EventStream.histogramCounts(Tables.events(s, d),
        lo = 0.0, hi = 500.0, bins = 20)
      .select(unix_timestamp(col("hour_start")).as("hour_start"),
        col("event_type"), col("bin"), col("cnt")),
    Some("""WITH b AS (SELECT time_bucket(INTERVAL '1 hour', ts) AS h,
      |  event_type,
      |  least(19, greatest(0, floor(value / 25.0)))::INT AS bin
      |  FROM events)
      |SELECT epoch(h)::BIGINT AS hour_start, event_type, bin,
      | count(*) AS cnt
      |FROM b GROUP BY 1, 2, 3""".stripMargin))

  // ------------------------------------------ stream-static enrichment
  // EventStream.enrichWithDim: events pick up customer profile columns
  // via a broadcast join against the STATIC dimension table — the only
  // join shape with zero state store (the static side re-plans per
  // micro-batch). In batch the same plan is a plain broadcast left join;
  // events whose user_id has no customer row surface NULL dims.
  private val s04: (String, QFn, Option[String]) = ("s04_stream_enrich",
    (s, d) => {
      val dim = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment"), col("c_nationkey"))
      EventStream.enrichWithDim(Tables.events(s, d), dim,
        col("user_id"), col("c_custkey"))
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), col("c_mktsegment"), col("c_nationkey"))
    },
    Some("""SELECT e.event_id, e.user_id, e.event_type, e.value,
      | c.c_mktsegment, c.c_nationkey
      |FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey"""
      .stripMargin))

  // --------------------------------- windowed HLL registers (drift HLL)
  // EventStream.hllWindowedRegisters: distinct users per hour with
  // CONSTANT per-window state (64 registers, never the user set). The
  // twin hash-checks the REGISTER table itself — registers are the
  // mergeable contract (shards/windows max-merge; d43 checks the
  // estimator over the same register arithmetic), so verifying registers
  // verifies what a downstream rollup actually consumes.
  private val s05: (String, QFn, Option[String]) = ("s05_hll_windowed",
    (s, d) => EventStream.hllWindowedRegisters(Tables.events(s, d),
        col("user_id"), p = 6)
      .select(unix_timestamp(col("grp.start")).as("hour_start"),
        col("j"), col("mj").cast("long").as("mj")),
    Some(s"""WITH h AS (SELECT time_bucket(INTERVAL '1 hour', ts) AS w,
      |  ${QueriesText.md5HashSql("user_id::VARCHAR || '#hll'")} AS h
      |  FROM events WHERE user_id IS NOT NULL),
      |rr AS (SELECT w, h & 63 AS j,
      |  CASE WHEN (h >> 6) = 0 THEN 55
      |       ELSE 55 - length(bin(h >> 6)) END AS rho
      |  FROM h)
      |SELECT epoch(w)::BIGINT AS hour_start, j, max(rho) AS mj
      |FROM rr GROUP BY 1, 2""".stripMargin))

  // --------------------------------- unattributed clicks (outer interval)
  // s01's left-outer form: clicks that converted to NO purchase within
  // the hour — the funnel-drop-off stream. In streaming the NULL-extended
  // rows emit only after the watermark proves no in-horizon purchase can
  // still arrive; in batch the same plan is an outer range join filtered
  // to the null side. Output is the unmatched click list.
  private val s06: (String, QFn, Option[String]) = ("s06_unattributed",
    (s, d) => {
      val e = Tables.events(s, d)
      EventStream.clickAttribution(
        e.filter(col("event_type") === "click"),
        e.filter(col("event_type") === "purchase"),
        joinType = "leftOuter")
        .filter(col("purchase_id").isNull)
        .select(col("user_id"), col("click_id"),
          unix_micros(col("click_ts")).as("click_us"))
    },
    Some("""SELECT c.user_id, c.event_id AS click_id,
      | epoch_us(c.ts) AS click_us
      |FROM events c LEFT JOIN events p
      | ON c.user_id = p.user_id AND p.event_type = 'purchase'
      | AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 1 HOUR
      |WHERE c.event_type = 'click' AND p.event_id IS NULL"""
      .stripMargin))

  // ------------------------------------- windowed Count-Min counters
  // EventStream.cmsCounts: per-hour depth×width counter tables with the
  // batch sketch's md5 family (d36), so windows merge into a standing
  // sketch by plain addition. The twin hash-checks the counter table —
  // like s05, verifying the mergeable form a rollup consumes.
  private val s07: (String, QFn, Option[String]) = ("s07_cms_windowed",
    (s, d) => EventStream.cmsCounts(Tables.events(s, d),
        col("event_type"), depth = 4, width = 256)
      .select(unix_timestamp(col("hour_start")).as("hour_start"),
        col("j").cast("long").as("j"), col("b"), col("cnt")),
    Some(s"""WITH r AS (SELECT time_bucket(INTERVAL '1 hour', ts) AS w,
      |  event_type AS val, unnest(range(0, 4)) AS j FROM events)
      |SELECT epoch(w)::BIGINT AS hour_start, j,
      | ${QueriesText.md5HashSql("val || '#cms' || j::VARCHAR")} % 256 AS b,
      | count(*)::BIGINT AS cnt
      |FROM r GROUP BY 1, 2, 3""".stripMargin))

  // --------------------------------------- watermark-bounded exact dedup
  // EventStream.dedupStream: the streaming form of d01 with the watermark
  // bounding fingerprint state (at 100 TB/day, UNBOUNDED dedup state is
  // the failure mode — the watermark is the documented retention/recall
  // trade). Spark rejects dropDuplicatesWithinWatermark on batch
  // Datasets, so the batch twin replays the canonical arrival order
  // (event time, event_id tiebreak) and keeps the first row per
  // fingerprint — the exact streaming result when the dataset's span
  // fits in the horizon; EventStreamSpec proves the two paths keep the
  // same rows on ts-ordered micro-batches. One shuffle on the
  // fingerprint; survivor choice is deterministic, so the hash check
  // covers it.
  private val s08: (String, QFn, Option[String]) = ("s08_stream_dedup",
    (s, d) => {
      val e = Tables.events(s, d).withColumn("fp",
        md5(concat_ws("|", col("user_id"), col("event_type"))))
      EventStream.dedupStream(e, "ts", Seq("fp"), tieCol = Some("event_id"))
        .select(col("fp"), col("event_id"),
          unix_micros(col("ts")).as("first_us"),
          col("user_id"), col("event_type"))
    },
    Some("""WITH f AS (SELECT *,
      |  md5(user_id::VARCHAR || '|' || event_type) AS fp FROM events),
      |r AS (SELECT fp, event_id, ts, user_id, event_type,
      |  row_number() OVER (PARTITION BY fp ORDER BY ts, event_id) AS rn
      |  FROM f)
      |SELECT fp, event_id, epoch_us(ts) AS first_us, user_id, event_type
      |FROM r WHERE rn = 1""".stripMargin))

  // ----------------------------------------------- windowed heavy hitters
  // EventStream.heavyHitters: per hour window, the users with >= 2 events
  // — the trending/alerting aggregation, append-mode legal (the filter
  // rides ABOVE the windowed count, so results emit when the watermark
  // closes the window). Exact per-key counters where the key domain is
  // operationally small; the unbounded-domain form is s07's CMS. Batch
  // twin = the identical plan over the static table, hash-checked here;
  // EventStreamSpec proves stream≡batch on replayed micro-batches.
  private val s09: (String, QFn, Option[String]) = ("s09_heavy_hitters",
    (s, d) => EventStream.heavyHitters(Tables.events(s, d),
        col("user_id"), threshold = 2L)
      .select(unix_timestamp(col("hour_start")).as("hour_start"),
        col("key").as("user_id"), col("cnt")),
    Some("""SELECT epoch(time_bucket(INTERVAL '1 hour', ts))::BIGINT
      |   AS hour_start,
      | user_id, count(*) AS cnt
      |FROM events GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin))

  // --------------------------------------- windowed majority vote (s10)
  // d65's streaming twin (EventStream.windowedVote): per (day, item)
  // vote tallies accumulate as ONE stateful conditional aggregation over
  // the closed vocabulary; the consensus label is the Prep.packedArgmax
  // projection on the aggregate row (no second stateful operator, so
  // append-mode stays legal), and minVotes = 3 suppresses 1-vote
  // "majorities" post-agg. Window starts are exact UTC midnights, so
  // second-level epoch is fraction-free on both engines (the s01 note).
  private val s10: (String, QFn, Option[String]) = ("s10_windowed_vote",
    (s, d) => EventStream.windowedVote(Tables.events(s, d),
        col("user_id"), col("event_type"), Tables.eventTypeVocab,
        minVotes = 3L, win = "1 day")
      .select(unix_timestamp(col("win_start")).as("win_start"),
        col("item").as("user_id"), col("majority"), col("total"),
        col("top")),
    Some {
      val vocab = Tables.eventTypeVocab
      val cnts = vocab.zipWithIndex.map { case (v, i) =>
        s"sum(CASE WHEN event_type = '$v' THEN 1 ELSE 0 END)::BIGINT AS c$i"
      }.mkString(", ")
      val scores = vocab.indices.map(i => s"c$i * 8 - $i").mkString(", ")
      val majCase = vocab.zipWithIndex
        .map { case (v, i) => s"WHEN idx = $i THEN '$v'" }
        .mkString(" ")
      s"""WITH counted AS (SELECT date_trunc('day', ts) AS d, user_id,
        |    count(*)::BIGINT AS total, $cnts
        |    FROM events GROUP BY 1, 2),
        |  scored AS (SELECT *, greatest($scores) AS g FROM counted),
        |  arg AS (SELECT *, (8 - (g % 8)) % 8 AS idx FROM scored)
        |SELECT epoch(d)::BIGINT AS win_start, user_id,
        |  CASE $majCase END AS majority, total,
        |  ((g + idx) // 8)::BIGINT AS top
        |FROM arg WHERE total >= 3""".stripMargin
    })

  // ------------------------------------------- native session windows
  // EventStream.sessionStats — Spark's `session_window` operator (state
  // MERGES adjacent windows closer than the gap; the watermark closes
  // sessions and evicts their state). Batch twin = the identical plan
  // over the static table. Merge rule is INCLUSIVE: an event at exactly
  // prev_ts + gap still merges (measured, pinned in EventStreamSpec
  // "session_window break is > gap"), so the oracle's break condition is
  // strictly `>` — the same convention q29's hand-rolled sessionize
  // pins, which is what lets both forms coexist hash-checked. Values
  // pre-scaled to cents (the s02 note) so per-session sums are
  // order-free exact; session end = last ts + gap, microsecond-exact on
  // both engines via unix_micros/epoch_us.
  private val s11: (String, QFn, Option[String]) = ("s11_session_window",
    (s, d) => {
      val e = Tables.events(s, d)
        .withColumn("value", round(col("value") * 100).cast("double"))
      EventStream.sessionStats(e, gap = "30 minutes")
        .select(col("user_id"),
          unix_micros(col("session_start")).as("start_us"),
          unix_micros(col("session_end")).as("end_us"),
          col("n_events"), col("sum_value").cast("long").as("sum_cents"))
    },
    Some("""WITH o AS (SELECT user_id, ts, event_id, epoch_us(ts) AS us,
      |  round(value * 100)::BIGINT AS cents,
      |  lag(epoch_us(ts)) OVER (PARTITION BY user_id
      |    ORDER BY ts, event_id) AS pus FROM events),
      |f AS (SELECT *, CASE WHEN pus IS NULL OR us - pus > 1800000000
      |  THEN 1 ELSE 0 END AS nw FROM o),
      |g AS (SELECT *, sum(nw) OVER (PARTITION BY user_id
      |  ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid FROM f)
      |SELECT user_id, min(us) AS start_us,
      | max(us) + 1800000000 AS end_us, count(*) AS n_events,
      | sum(cents)::BIGINT AS sum_cents
      |FROM g GROUP BY user_id, sid""".stripMargin))

  // --------------------------------------- custom-state session tracker
  // EventStream.sessionTracker — the flatMapGroupsWithState form of s11
  // (richer per-session output / non-gap close conditions; event-time
  // timeout flushes idle users' last sessions). Batch twin runs the SAME
  // fold over each user's full history with `emitOpen = true` (batch
  // timeouts never fire, so the trailing session emits directly — which
  // is the streaming output once the watermark passes). Third execution
  // path pinned to the one session convention (q29 SQL window, s11
  // native operator, s12 custom state); end_us here is the LAST EVENT
  // (the honest span), where s11's native form reports last + gap.
  private val s12: (String, QFn, Option[String]) = ("s12_session_tracker",
    (s, d) => {
      import s.implicits._
      val evs = Tables.events(s, d).select(
        col("user_id"), unix_micros(col("ts")).as("us"),
        round(col("value") * 100).cast("long").as("cents"), col("ts"))
        .as[EventStream.SessEvent]
      EventStream.sessionTracker(evs, gapUs = 1800000000L, emitOpen = true)
        .toDF()
    },
    Some("""WITH o AS (SELECT user_id, ts, event_id, epoch_us(ts) AS us,
      |  round(value * 100)::BIGINT AS cents,
      |  lag(epoch_us(ts)) OVER (PARTITION BY user_id
      |    ORDER BY ts, event_id) AS pus FROM events),
      |f AS (SELECT *, CASE WHEN pus IS NULL OR us - pus > 1800000000
      |  THEN 1 ELSE 0 END AS nw FROM o),
      |g AS (SELECT *, sum(nw) OVER (PARTITION BY user_id
      |  ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid FROM f)
      |SELECT user_id, min(us) AS start_us, max(us) AS end_us,
      | count(*) AS n_events, sum(cents)::BIGINT AS sum_cents
      |FROM g GROUP BY user_id, sid""".stripMargin))

  // ------------------------------- point-in-time rolling feature (s13)
  // EventStream.rollingFeature — transformWithState (the state API v2)
  // computing, per event, the count/sum of the user's previous up-to-3
  // values, current value EXCLUDED: the point-in-time-correct online
  // feature (a training row can't leak its own outcome, and serving
  // reads the same last-n state). Batch twin = the identical processor
  // over full histories, which the trailing window frame below replays
  // exactly: ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING. Integer outputs
  // (count + exact cents sum) — the mean is derived downstream, never
  // hashed as an accumulation-order double.
  private val s13: (String, QFn, Option[String]) = ("s13_rolling_feature",
    (s, d) => {
      import s.implicits._
      val evs = Tables.events(s, d).select(
        col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"),
        round(col("value") * 100).cast("long").as("cents"))
        .as[EventStream.RollEvent]
      // transformWithState needs the RocksDB state store provider even in
      // batch (the ephemeral per-task store it spins up); scope the conf
      // to this query via save/restore around an eager materialize — the
      // q78 pattern (localCheckpoint keeps the result independent of the
      // restored conf).
      val key = "spark.sql.streaming.stateStore.providerClass"
      val prev = s.conf.getOption(key)
      s.conf.set(key, "org.apache.spark.sql.execution.streaming.state" +
        ".RocksDBStateStoreProvider")
      try EventStream.rollingFeature(evs, n = 3).toDF()
        .localCheckpoint(eager = true)
      finally prev match {
        case Some(v) => s.conf.set(key, v)
        case None => s.conf.unset(key)
      }
    },
    Some("""WITH o AS (SELECT user_id, event_id, ts,
      |  round(value * 100)::BIGINT AS cents FROM events)
      |SELECT user_id, event_id,
      | count(cents) OVER w AS n_prev,
      | coalesce(sum(cents) OVER w, 0)::BIGINT AS prev_cents
      |FROM o WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |  ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING)""".stripMargin))

  // ---------------------------------- incremental packing stats (d75)
  // d75's streaming twin: the padding-waste readout maintained as shards
  // land. packingStatsRaw skips the placement window (a cumsum can't
  // stream) and computes chunks/waste from each stream's token TOTAL —
  // which is all they ever depended on — via one keyed integer
  // aggregation, streamable in update/complete mode. The batch row here
  // runs the SAME function over the static table and must equal d75
  // exactly (same salt/capacity/shards; the oracle is d75's minus the
  // placement CTE). EventStreamSpec proves batch ≡ streaming over
  // micro-batches.
  private val s14: (String, QFn, Option[String]) = ("s14_stream_pack_stats",
    (s, d) => graft.ops.Sampling.packingStatsRaw(
        Tables.documents(s, d)
          .select(col("doc_id"), col("source"), col("text")),
        col("doc_id"), col("source"),
        size(graft.ops.TextOps.tokens(col("text"))), capacity = 128,
        shards = 4)
      .select(col("source"), col("shard"), col("n_docs"),
        col("n_tokens"), col("n_chunks"), col("waste_tokens")),
    Some(s"""WITH pk AS (SELECT source,
      |    len(${graft.QueriesText.tokSql})::BIGINT AS n_tokens,
      |    ${graft.QueriesText.md5HashSql(
                "doc_id::VARCHAR || '#pack.s'")} % 4 AS shard
      |  FROM documents)
      |SELECT source, shard, count(*)::BIGINT AS n_docs,
      |  sum(n_tokens)::BIGINT AS n_tokens,
      |  ((sum(n_tokens) + 127) // 128)::BIGINT AS n_chunks,
      |  (((sum(n_tokens) + 127) // 128) * 128 - sum(n_tokens))::BIGINT
      |    AS waste_tokens
      |FROM pk WHERE n_tokens > 0 GROUP BY source, shard""".stripMargin))

  // ---------------------------------- online SFT example emission (s15)
  // d89's streaming twin through the SAME stateful processor the stream
  // runs (EventStream.sftStream scaladoc): batch TWS over full
  // histories == the d89 window form, so this row proves the online
  // example generator emits byte-identical training rows — train/serve
  // equivalence for DATA, not just features (s13). Oracle = d89's SQL,
  // shared verbatim. Same RocksDB-provider scoping as s13.
  private val s15: (String, QFn, Option[String]) = ("s15_stream_sft",
    (s, d) => {
      import s.implicits._
      val evs = Tables.events(s, d).select(
        col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("event_type"))
        .as[EventStream.SftEvent]
      val key = "spark.sql.streaming.stateStore.providerClass"
      val prev = s.conf.getOption(key)
      s.conf.set(key, "org.apache.spark.sql.execution.streaming.state" +
        ".RocksDBStateStoreProvider")
      try EventStream.sftStream(evs, k = 3).toDF()
        .localCheckpoint(eager = true)
      finally prev match {
        case Some(v) => s.conf.set(key, v)
        case None => s.conf.unset(key)
      }
    },
    Some(QueriesPrep.sftSql))

  // ---------------------------------- online quality gate (s16)
  // d95's serve side: the stream applies literally the model the batch
  // fit verified — qcModel re-fits (weights + standardization on the
  // 6-dp grid), then Learn.qualityGateStats aggregates per-source docs
  // seen / docs passing / exact-decimal mean score. The aggregation is
  // a plain keyed count/sum, so the SAME call streams in complete mode
  // with state bounded by |sources| (EventStreamSpec drives it over a
  // MemoryStream and proves stream ≡ batch); this registry row is the
  // batch twin, and the oracle replays the ENTIRE chain — rule labels,
  // standardization, all ten gradient steps, then the gate aggregate —
  // through the factored qcCtesSql, so fit and serve replay one text.
  private val s16: (String, QFn, Option[String]) = ("s16_stream_quality_gate",
    (s, d) => {
      val (fx, w, stats) = QueriesPrep.qcModel(s, d)
      graft.ops.Learn.qualityGateStats(fx, w.toSeq, stats.toSeq)
    },
    Some(s"""WITH ${QueriesPrep.qcCtesSql}
      |SELECT source, count(*)::BIGINT AS n_docs,
      |  sum(CASE WHEN ${QueriesPrep.qcScoreSql} >= 0.5
      |    THEN 1 ELSE 0 END)::BIGINT AS n_pass,
      |  round(CAST(sum(CAST(round(${QueriesPrep.qcScoreSql}, 6)
      |      AS DECIMAL(18,9))) AS DOUBLE) / count(*), 6) AS mean_score
      |FROM fs, w${QueriesPrep.QC_ITERS}
      |GROUP BY source""".stripMargin))

  // ---------------------------------- streaming DP release (s17)
  // d99's streaming twin (the s14/s15 move — one definition, two
  // execution modes, one oracle): the per-source noisy telemetry table
  // updates continuously in complete mode — the aggregation is a keyed
  // count/sum with state bounded by |sources|, and the Laplace noise is
  // a post-aggregate projection whose content-addressed draw depends
  // only on the source key, so every emitted snapshot is the correctly
  // noised release for the data seen so far. EventStreamSpec proves
  // stream ≡ batch across micro-batches; this row is the batch twin.
  private val s17: (String, QFn, Option[String]) = ("s17_stream_dp_release",
    (s, d) => QueriesPrep.dpReleaseDf(Tables.documents(s, d)),
    Some(QueriesPrep.dpReleaseSql))

  // ---------------------------------- streaming audio gate (s18)
  // m08's streaming twin (the s16 move, audio edition — one definition,
  // two execution modes, one oracle): the gate's per-clip path is a pure
  // per-row map (fused encode/decode/moments carrying the source key —
  // QueriesVectors.audioGateScored), so the SAME call runs on a document
  // STREAM; the per-source rollup is a keyed count/sum with state
  // bounded by |sources|, complete mode. EventStreamSpec proves
  // stream ≡ batch across micro-batches; this row is the batch twin.
  // mean_amp is the exact-decimal mean of the published 6-dp per-clip
  // means (the s16 mean_score discipline).
  private val s18: (String, QFn, Option[String]) = ("s18_stream_audio_gate",
    (s, d) => QueriesVectors.audioGateStats(Tables.documents(s, d)),
    Some {
      val byte = "('0x' || substr(md5(t || '#' || (i // 16)::VARCHAR)," +
        " ((i % 16) * 2 + 1)::INT, 2))::BIGINT"
      // the shared helper, NOT an inline copy: this oracle must stay in
      // lockstep with m08's, which uses the same hash form
      val md5h = QueriesText.md5HashSql("doc_id::VARCHAR || '#aud'")
      s"""WITH clip AS (SELECT doc_id, source, coalesce(text, '') AS t,
        |    (64 + $md5h % 192)::BIGINT AS n FROM documents),
        |amp AS (SELECT doc_id, sum($byte)::BIGINT AS amp_sum,
        |    sum($byte * $byte)::BIGINT AS amp_sq
        |  FROM (SELECT doc_id, t, unnest(range(n)) AS i FROM clip)
        |  GROUP BY doc_id),
        |m AS (SELECT c.doc_id, c.source, c.n,
        |    (c.n * 1000 // 8000)::BIGINT AS duration_ms,
        |    amp_sum::DOUBLE / c.n::DOUBLE AS mean,
        |    sqrt(greatest(amp_sq::DOUBLE / c.n::DOUBLE
        |      - (amp_sum::DOUBLE / c.n::DOUBLE)
        |        * (amp_sum::DOUBLE / c.n::DOUBLE), 0.0)) AS sd
        |  FROM clip c JOIN amp USING (doc_id))
        |SELECT source, count(*)::BIGINT AS n_clips,
        |  sum(CASE WHEN n >= 96 AND mean >= 96.0 AND mean <= 160.0
        |    AND sd >= 16.0 THEN 1 ELSE 0 END)::BIGINT AS n_pass,
        |  sum(duration_ms)::BIGINT AS total_ms,
        |  round(CAST(sum(CAST(round(mean, 6) AS DECIMAL(18,9)))
        |    AS DOUBLE) / count(*), 6) AS mean_amp
        |FROM m GROUP BY source""".stripMargin
    })

  // ---------------------------------- streaming VAD (s19)
  // m12's streaming twin, and the family's first APPEND-mode member:
  // encode and detection are stateless per-row maps (no join, no
  // window, no aggregate — QueriesVectors.vadSegments), so a live
  // audio feed emits each clip's utterance segments AS THEY ARRIVE
  // with zero state — the pre-segmentation stage of a live
  // transcription pipeline. EventStreamSpec proves the appended rows
  // across micro-batches equal the batch rows; one definition, two
  // execution modes, one oracle (m12's SQL verbatim).
  private val s19: (String, QFn, Option[String]) = ("s19_stream_vad",
    (s, d) => QueriesVectors.vadSegments(Tables.documents(s, d)),
    Some(QueriesVectors.vadSql))

  // ---------------------------------- streaming quantile sketch (s20)
  // d103's streaming twin, and the proof of the sketch's mergeability
  // claim: Sketches.slotQuantileSnapshot is ONE keyed aggregate (count +
  // 64 min-structs per group — the sketch state IS the streaming state,
  // min merging associatively across micro-batches) plus a projection-
  // only quantile extraction (sorted 64-array, constant-index lerp — no
  // window, no join, no second aggregate), so the SAME call streams in
  // complete mode and every snapshot is the correct sketch of all rows
  // seen so far. Same salt as d103 → this row's q50/q90 equal d103's
  // est side, one draw family across batch audit and live dashboard.
  // EventStreamSpec proves stream ≡ batch including a mid-stream prefix
  // snapshot; this registry row is the batch twin.
  private val s20: (String, QFn, Option[String]) = ("s20_stream_quantiles",
    (s, d) => graft.ops.Sketches.slotQuantileSnapshot(
        Tables.events(s, d).filter(col("value").isNotNull),
        col("event_type"), col("event_id"), col("value"),
        Seq(("q50", 0.5), ("q90", 0.9)), k = 64, salt = "qs")
      .select(col("grp").as("event_type"), col("n_rows"),
        col("q50"), col("q90")),
    Some {
      def interp(q: String) = Queries.interpSql(q, "arr", "64")
      s"""WITH base AS (SELECT event_type, event_id, value FROM events
        |  WHERE value IS NOT NULL),
        |n AS (SELECT event_type, count(*)::BIGINT AS n_rows FROM base
        |  GROUP BY 1),
        |sl AS (SELECT unnest(range(0, 64))::BIGINT AS slot),
        |h AS (SELECT b.event_type, s.slot, b.value,
        |    ${QueriesText.md5HashSql(
                "b.event_id::VARCHAR || '#qs' || s.slot::VARCHAR")} AS hv,
        |    b.event_id::VARCHAR AS k
        |  FROM base b CROSS JOIN sl s),
        |w AS (SELECT event_type, slot, value, row_number() OVER (
        |    PARTITION BY event_type, slot ORDER BY hv, k) AS rn FROM h),
        |g AS (SELECT event_type, list_sort(list(value)) AS arr
        |  FROM w WHERE rn = 1 GROUP BY 1)
        |SELECT g.event_type, n.n_rows,
        | round(${interp("0.5::DOUBLE")}, 6) AS q50,
        | round(${interp("0.9::DOUBLE")}, 6) AS q90
        |FROM g JOIN n USING (event_type)""".stripMargin
    })

  // ------------------------------- windowed quantile sketch (s21)
  // s20's event-time-windowed sibling and the s05/s07 sketch-window
  // family's quantile member: per hour, q50/q90 of value from the same
  // 64 content-addressed draws (state per open window = count + 64
  // min-structs, watermark-evicted — never the value list). One
  // definition (EventStream.windowedQuantiles composes
  // slotQuantileSnapshot with a watermarked window group), two
  // execution modes; EventStreamSpec proves stream ≡ batch per window
  // across micro-batches. This row is the batch twin; the oracle
  // replays every window's slot argmins and the sorted-list lerp.
  private val s21: (String, QFn, Option[String]) = ("s21_windowed_quantiles",
    (s, d) => EventStream.windowedQuantiles(
        Tables.events(s, d).filter(col("value").isNotNull),
        col("event_id"), col("value"), Seq(("q50", 0.5), ("q90", 0.9)))
      .select(unix_timestamp(col("grp.start")).as("hour_start"),
        col("n_rows"), col("q50"), col("q90")),
    Some {
      def interp(q: String) = Queries.interpSql(q, "arr", "64")
      s"""WITH base AS (SELECT time_bucket(INTERVAL '1 hour', ts) AS w,
        |    event_id, value FROM events WHERE value IS NOT NULL),
        |n AS (SELECT w, count(*)::BIGINT AS n_rows FROM base GROUP BY 1),
        |sl AS (SELECT unnest(range(0, 64))::BIGINT AS slot),
        |h AS (SELECT b.w, s.slot, b.value,
        |    ${QueriesText.md5HashSql(
                "b.event_id::VARCHAR || '#qs' || s.slot::VARCHAR")} AS hv,
        |    b.event_id::VARCHAR AS k
        |  FROM base b CROSS JOIN sl s),
        |r AS (SELECT w, slot, value, row_number() OVER (
        |    PARTITION BY w, slot ORDER BY hv, k) AS rn FROM h),
        |g AS (SELECT w, list_sort(list(value)) AS arr
        |  FROM r WHERE rn = 1 GROUP BY 1)
        |SELECT epoch(g.w)::BIGINT AS hour_start, n.n_rows,
        | round(${interp("0.5::DOUBLE")}, 6) AS q50,
        | round(${interp("0.9::DOUBLE")}, 6) AS q90
        |FROM g JOIN n USING (w)""".stripMargin
    })

  // ------------------------- streaming cross-modal matcher (s22)
  // c05's serving twin — the shape a live pair matcher runs in
  // production: the TEXT tower is a stateless per-row map over the
  // arriving document stream, the candidate join is STREAM-STATIC on
  // the 64-value sign-pattern bucket key (the image tower is the
  // indexed static corpus), and the per-source rollup is a keyed
  // aggregate with state bounded by |sources| — complete mode. The
  // published metric is the one a matching dashboard watches: pairs
  // seen / kept and ALIGNED RECALL (0.0, not NaN, for a source with no
  // aligned pair yet mid-stream). EventStreamSpec proves stream ≡ batch
  // across micro-batches; this registry row is the batch twin.
  private val s22: (String, QFn, Option[String]) = ("s22_stream_crossmodal",
    (s, d) => QueriesVectors.crossModalServing(
      Tables.documents(s, d), Tables.documents(s, d)),
    Some(QueriesVectors.crossModalServingSql))

  // ------------------------- streaming video gate (s23)
  // m16's streaming twin (the s18 move, video edition — one definition,
  // two execution modes, one oracle family): the gate's per-clip path is
  // a pure per-row map (fused encode/decode/moments/motion carrying
  // source and variant — QueriesVectors.videoGateScored), so the SAME
  // call runs on a document STREAM; the per-source rollup is a keyed
  // count/sum with state bounded by |sources|, complete mode.
  // mean_motion is the exact-decimal mean of the published 6-dp
  // per-clip motions. EventStreamSpec proves stream ≡ batch across
  // micro-batches; this row is the batch twin.
  private val s23: (String, QFn, Option[String]) = ("s23_stream_video_gate",
    (s, d) => QueriesVectors.videoGateStats(Tables.documents(s, d)),
    Some(s"""${QueriesVectors.videoGateSqlBody}
      |SELECT source, count(*)::BIGINT AS n_clips,
      |  sum((nf >= 6 AND mean >= 32.0 AND mean <= 224.0 AND sd >= 8.0
      |    AND motion >= 8.0)::BIGINT)::BIGINT AS n_pass,
      |  sum(duration_ms)::BIGINT AS total_ms,
      |  round(CAST(sum(CAST(round(motion, 6) AS DECIMAL(18,9)))
      |    AS DOUBLE) / count(*), 6) AS mean_motion
      |FROM m GROUP BY source""".stripMargin))

  // ------------------------- streaming ingest dedup gate (s24)
  // The media-upload door: ARRIVING images (a mix of re-uploads that
  // must be rejected and genuinely new content that must be admitted —
  // QueriesVectors.ingestArrivalDims) go through the REAL codec tower
  // as a stateless per-row map, the dup check is a stream-static LEFT
  // SEMI join on the self-tuned bucket key with c08's exact-parallel
  // integer test, and the per-source rollup is ONE aggregation in
  // complete mode (raw arrivals unioned with semi matches — no second
  // stateful op). EventStreamSpec proves stream ≡ batch; this registry
  // row is the batch twin.
  private val s24: (String, QFn, Option[String]) = ("s24_stream_ingest_dedup",
    (s, d) => QueriesVectors.ingestDedupServing(
      QueriesVectors.ingestArrivalDims(Tables.documents(s, d)),
      Tables.documents(s, d)),
    Some(QueriesVectors.ingestDedupSql))

  // ------------------------- streaming index maintenance (s25)
  // What happens AFTER the s24 door says yes: admitted arrivals APPEND
  // to the served image index, the adaptive bucket width re-derives on
  // the grown corpus (the d73 self-tuning knob, now moving with the
  // index), and every admitted arrival's text must retrieve its own
  // image at top-1 over the NEW index — so a dropped append, a stale
  // width, or a capped bucket shows up as recall_admitted < 1 /
  // n_starved > 0 rather than silently serving a stale index. ONE
  // codec pass per row: re-indexing at the new width re-buckets the
  // persisted tower vectors (a map), never re-runs the codec. The
  // streaming twin appends per micro-batch inside foreachBatch (the
  // production served-index idiom); EventStreamSpec proves the
  // foreachBatch-accumulated index equals this batch operator. This
  // registry row is the batch twin.
  private val s25: (String, QFn, Option[String]) = ("s25_index_maintenance",
    (s, d) => QueriesVectors.ingestIndexUpdateServing(
      QueriesVectors.ingestArrivalDims(Tables.documents(s, d)),
      Tables.documents(s, d)),
    Some(QueriesVectors.ingestIndexUpdateSql))

  lazy val defs: Seq[(String, QFn, Option[String])] =
    Seq(s01, s02, s03, s04, s05, s06, s07, s08, s09, s10, s11, s12, s13,
      s14, s15, s16, s17, s18, s19, s20, s21, s22, s23, s24, s25)
}
