package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.CrossRound.round // shadows functions.round: cross-engine form
import graft.ops._
import graft.schema.Tables
import graft.Queries._

/** Driver-contract registry slice q44-q60: the scale-mechanics rows - sketch quantiles, salting, bucketing, pruning, windows, set ops, ANSI SQL.
  * Shared helpers (sval/dec2/ev/freqCols/repairCtesSql/rtDir and the
  * float-determinism policy) live in [[Queries]]; registration order is
  * assembled there. */
private[graft] object QueriesScale {

  // ------------------------------------- histogram-sketch quantiles
  // The bounded-state percentile path: 32 integer counters per event_type
  // instead of buffering whole groups (q12's exact collect_list sort) —
  // the percentile shape that survives 100 TB. Estimate = linear
  // interpolation inside the first bin whose cumulative count covers q·n.
  /** q44's full oracle text, shared with q76's accuracy audit (nested
    * there as a WITH subquery, the d48/e09 composition move — the audit
    * replays the audited query's own SQL so the two can't drift). */
  private[graft] val histQuantileSql: String =
    """WITH s AS (SELECT min(value::DOUBLE) AS lo,
      |  max(value::DOUBLE) AS hi FROM events),
      |b AS (SELECT event_type,
      |  CASE WHEN hi = lo THEN 0
      |       ELSE least(31, floor((value::DOUBLE - lo)
      |                            / ((hi - lo) / 32))::INT) END AS bin
      |  FROM events, s),
      |c AS (SELECT event_type, bin, count(*) AS cnt FROM b GROUP BY 1, 2),
      |cc AS (SELECT event_type, bin, cnt,
      |  sum(cnt) OVER (PARTITION BY event_type ORDER BY bin
      |    ROWS UNBOUNDED PRECEDING) AS cum,
      |  sum(cnt) OVER (PARTITION BY event_type) AS n FROM c),
      |qq AS (SELECT unnest([0.5::DOUBLE, 0.9::DOUBLE, 0.99::DOUBLE]) AS q),
      |pick AS (SELECT event_type, q, n, floor(greatest(lo, least(hi,
      |    lo + (hi - lo) / 32 * (bin::DOUBLE
      |      + (q * n::DOUBLE - (cum - cnt)::DOUBLE) / cnt::DOUBLE))) * 1e6
      |    )::BIGINT AS est_micros,
      |  row_number() OVER (PARTITION BY event_type, q ORDER BY bin) AS rn
      |  FROM cc CROSS JOIN qq, s WHERE cum::DOUBLE >= q * n::DOUBLE)
      |SELECT event_type, q, n::BIGINT AS n, est_micros FROM pick
      |WHERE rn = 1""".stripMargin

  private val q44: (String, QFn, Option[String]) = ("q44_hist_quantile",
    (s, d) => Histogram.quantiles(Tables.events(s, d), col("event_type"),
        col("value"), 32, Seq(0.5, 0.9, 0.99))
      .select(col("grp").as("event_type"), col("q"), col("n"),
        col("est_micros")),
    Some(histQuantileSql))

  // ------------------------------------------- salted aggregation
  // The skew-resistant two-phase combine, driver-verified: the salted
  // path must produce EXACTLY the plain-aggregation answer (the oracle
  // aggregates flat). Hot keys split across 16 reducers in phase 1;
  // phase 2 merges 16 partials per key.
  private val q45: (String, QFn, Option[String]) = ("q45_salted_stats",
    (s, d) => Skew.saltedStats(Tables.events(s, d), "event_type", "value",
        saltOn = col("event_id"), salts = 16)
      .select(col("event_type"),
        round(col("value_sum"), 6).as("value_sum"),
        col("value_count"),
        col("value_min"), col("value_max"),
        round(col("value_avg"), 6).as("value_avg")),
    Some("""SELECT event_type, round(sum(value), 6) AS value_sum,
      | count(value) AS value_count,
      | min(value) AS value_min, max(value) AS value_max,
      | round(sum(value) / count(value), 6) AS value_avg
      |FROM events GROUP BY event_type""".stripMargin))

  // ------------------------------------------- bucketed co-located join
  // The shuffle-free persisted-join path: two per-user aggregates written
  // as parquet tables BUCKETED 8 ways on user_id, re-read and merge-joined
  // with ZERO exchanges (PlanShapeSpec asserts it). At 100 TB this is the
  // difference between re-shuffling the corpus on every downstream join and
  // paying the partitioning once at write time — the join keys only exact
  // (count / countDistinct / min / max), so the bucketed round-trip must
  // hash-match the flat oracle. External table paths are pid-keyed tmp dirs
  // (rtDir) so concurrent JVMs don't collide and the shutdown hook cleans up.
  private val q46: (String, QFn, Option[String]) = ("q46_bucketed_join",
    (s, d) => {
      val e = ev(s, d)
      val stats = e.groupBy(col("user_id")).agg(
        count(lit(1)).as("n_events"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"))
      val types = e.groupBy(col("user_id")).agg(
        countDistinct(col("event_type")).as("n_types"))
      val tag = d.replaceAll("[^a-zA-Z0-9]", "_")
      val (ta, tb) = (s"graft_q46a_$tag", s"graft_q46b_$tag")
      s.sql(s"DROP TABLE IF EXISTS $ta")
      s.sql(s"DROP TABLE IF EXISTS $tb")
      stats.write.mode("overwrite").option("path", rtDir("q46a", d))
        .bucketBy(8, "user_id").sortBy("user_id").saveAsTable(ta)
      types.write.mode("overwrite").option("path", rtDir("q46b", d))
        .bucketBy(8, "user_id").sortBy("user_id").saveAsTable(tb)
      s.table(ta).hint("merge").join(s.table(tb), Seq("user_id"))
    },
    Some("""WITH a AS (SELECT user_id, count(*)::BIGINT AS n_events,
      |  min(value) AS min_value, max(value) AS max_value
      |  FROM events GROUP BY 1),
      |b AS (SELECT user_id, count(DISTINCT event_type)::BIGINT AS n_types
      |  FROM events GROUP BY 1)
      |SELECT user_id, n_events, min_value, max_value, n_types
      |FROM a JOIN b USING (user_id)""".stripMargin))

  // --------------------------------------------------- salted skew join
  // The plan-level JOIN-skew answer, driver-verified: events (hot
  // event_type keys) join a per-type dimension through Skew.saltedJoin —
  // big side salted 16 ways, dim replicated 16×, shuffle-hash on
  // (key, salt) — and every enriched row must hash-match the flat join
  // oracle. Integer/min/max dim columns keep the compare exact.
  private val q47: (String, QFn, Option[String]) = ("q47_salted_join",
    (s, d) => {
      val e = ev(s, d)
      val dim = e.groupBy(col("event_type")).agg(
        count(lit(1)).as("type_n"),
        min(col("value")).as("type_min"),
        max(col("value")).as("type_max"))
      Skew.saltedJoin(e.select(col("event_id"), col("event_type"),
        col("value")), dim, "event_type", col("event_id"), 16)
        .select(col("event_id"), col("event_type"), col("value"),
          col("type_n"), col("type_min"), col("type_max"))
    },
    Some("""WITH dim AS (SELECT event_type, count(*)::BIGINT AS type_n,
      |  min(value) AS type_min, max(value) AS type_max
      |  FROM events GROUP BY 1)
      |SELECT event_id, event_type, value, type_n, type_min, type_max
      |FROM events JOIN dim USING (event_type)""".stripMargin))

  // --------------------------------------------- trailing range window
  // Velocity features: for EVERY event, count/sum/max of the same user's
  // events in the trailing hour — a RANGE frame on epoch seconds, not a
  // ROWS frame (RANGE is tie-stable: rows sharing a timestamp share a
  // frame, so results are deterministic under any within-tie order).
  // One shuffle on user_id, ordered scan, bounded frame state — the
  // per-entity trailing-window shape that survives 100 TB.
  private val q48: (String, QFn, Option[String]) = ("q48_range_window",
    (s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("sec"))
        .rangeBetween(-3599, 0)
      ev(s, d).select(col("event_id"), col("user_id"),
          col("ts").cast("long").as("sec"), col("value"))
        .withColumn("n_1h", count(lit(1)).over(w))
        .withColumn("sum_1h", round(sum(col("value")).over(w), 6))
        .withColumn("max_1h", max(col("value")).over(w))
        .drop("value")
    },
    Some("""SELECT event_id, user_id, epoch_us(ts) // 1000000 AS sec,
      | count(*) OVER w AS n_1h,
      | round(sum(value) OVER w, 6) AS sum_1h,
      | max(value) OVER w AS max_1h
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts) // 1000000
      |  RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW)""".stripMargin))

  // --------------------------------------------- explicit grouping sets
  // The third multi-level aggregation form next to rollup (q28) and cube
  // (q32): an EXPLICIT set list — per-flag, per-status, and grand total,
  // but NOT the (flag, status) cross — the case rollup/cube can't express.
  // Spark 4's Dataset.groupingSets plans one expand + one shuffle.
  private val q49: (String, QFn, Option[String]) = ("q49_grouping_sets",
    (s, d) => Tables.lineitem(s, d)
      .groupingSets(
        Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq()),
        col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"),
        moneySum(dec2(col("l_quantity"))).as("sum_qty"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("rflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("lstatus"),
        col("n"), col("sum_qty")),
    Some("""SELECT COALESCE(l_returnflag, 'ALL') AS rflag,
      | COALESCE(l_linestatus, 'ALL') AS lstatus,
      | count(*) AS n,
      | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())"""
      .stripMargin))

  // ------------------------------------------------- relational set ops
  // INTERSECT / EXCEPT (distinct semantics) on user key sets between
  // event-type slices — the audience-overlap shape. Spark plans both as
  // hash joins on the key after local distinct; counted per op so the
  // oracle stays compact.
  private val q50: (String, QFn, Option[String]) = ("q50_set_ops",
    (s, d) => {
      val e = ev(s, d)
      def users(t: String) =
        e.filter(col("event_type") === t).select(col("user_id"))
      val both = users("click").intersect(users("view"))
      val pureBuyers = users("purchase").except(users("error"))
      both.agg(count(lit(1)).as("n")).select(lit("click_and_view").as("op"),
          col("n"))
        .unionByName(pureBuyers.agg(count(lit(1)).as("n"))
          .select(lit("purchase_no_error").as("op"), col("n")))
    },
    Some("""SELECT 'click_and_view' AS op, count(*) AS n FROM (
      |  SELECT user_id FROM events WHERE event_type = 'click'
      |  INTERSECT
      |  SELECT user_id FROM events WHERE event_type = 'view')
      |UNION ALL
      |SELECT 'purchase_no_error' AS op, count(*) AS n FROM (
      |  SELECT user_id FROM events WHERE event_type = 'purchase'
      |  EXCEPT
      |  SELECT user_id FROM events WHERE event_type = 'error')"""
      .stripMargin))

  // ------------------------------------------------ SQL-text API surface
  // The same ANSI SQL string runs through spark.sql over temp views AND
  // through the DuckDB oracle over the raw tables — the TPC-H Q3
  // (shipping-priority) shape: segment-filtered customer dim (broadcast
  // after pushdown prunes it) joined into the orders→lineitem chain,
  // decimal-exact revenue. Exercises the SQL entry point end to end;
  // every other query exercises the DataFrame DSL.
  private def q51Sql(c: String, o: String, l: String) =
    s"""SELECT l_orderkey, o_orderpriority,
      | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
      |   * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2))))
      |   AS DOUBLE) AS revenue,
      | count(*) AS n_items
      |FROM $c JOIN $o ON c_custkey = o_custkey
      | JOIN $l ON l_orderkey = o_orderkey
      |WHERE c_mktsegment = 'BUILDING'
      | AND o_orderdate < TIMESTAMP '1997-06-15 00:00:00'
      | AND l_shipdate > TIMESTAMP '1997-06-15 00:00:00'
      |GROUP BY l_orderkey, o_orderpriority""".stripMargin
  private val q51: (String, QFn, Option[String]) =
    ("q51_sql_shipping_priority",
      (s, d) => {
        Tables.customer(s, d).createOrReplaceTempView("v_customer")
        Tables.orders(s, d).createOrReplaceTempView("v_orders")
        Tables.lineitem(s, d).createOrReplaceTempView("v_lineitem")
        s.sql(q51Sql("v_customer", "v_orders", "v_lineitem"))
      },
      Some(q51Sql("customer", "orders", "lineitem")))

  // ---------------------------------------------- null-semantics audit
  // The null contract, driver-verified: NULL group keys form ONE group,
  // count(*) counts rows while count(col)/avg skip nulls, and the
  // null-safe equality (<=> / IS NOT DISTINCT FROM) treats NULL = NULL as
  // true. Money averages go through the decimal-exact sum so the compare
  // is noise-free. Engines genuinely differ on these semantics (e.g.
  // NaN/null sort order), so pinning them against the oracle is cheap
  // insurance for every other query.
  private val q52: (String, QFn, Option[String]) = ("q52_null_semantics",
    (s, d) => {
      val o = Tables.orders(s, d).select(
        when(col("o_orderstatus") === "P", lit(null))
          .otherwise(col("o_orderstatus")).as("st"),
        when(col("o_totalprice") > 400000.0, lit(null))
          .otherwise(col("o_totalprice")).as("tp"))
      o.groupBy(col("st")).agg(
          count(lit(1)).as("n_rows"),
          count(col("tp")).as("n_nonnull"),
          sum(when(col("tp").isNull, 1L).otherwise(0L)).as("n_null"),
          round(moneySum(dec2(col("tp"))) / count(col("tp")), 6)
            .as("avg_tp"))
        .withColumn("is_null_group", (col("st") <=> lit(null)).cast("long"))
    },
    Some("""WITH o AS (SELECT
      |  CASE WHEN o_orderstatus = 'P' THEN NULL
      |    ELSE o_orderstatus END AS st,
      |  CASE WHEN o_totalprice > 400000.0 THEN NULL
      |    ELSE o_totalprice END AS tp FROM orders)
      |SELECT st, count(*) AS n_rows, count(tp) AS n_nonnull,
      | sum(CASE WHEN tp IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_null,
      | round(CAST(sum(CAST(tp AS DECIMAL(18,2))) AS DOUBLE) / count(tp),
      |   6) AS avg_tp,
      | (st IS NOT DISTINCT FROM NULL)::BIGINT AS is_null_group
      |FROM o GROUP BY st""".stripMargin))

  // --------------------------------------------- schema-evolution read
  // The long-lived-dataset reality: generation v1 lacks a column that
  // generation v2 added. Written as two parquet dirs, read back in ONE
  // scan with mergeSchema — v1 rows surface NULL for the new column, and
  // the decimal-exact aggregates must hash-match an oracle computed from
  // the original table. Tmp dirs are pid-keyed (rtDir) with shutdown
  // cleanup.
  private val q53: (String, QFn, Option[String]) = ("q53_schema_evolution",
    (s, d) => {
      val base = ev(s, d).select(col("event_id"), col("user_id"),
        col("value"))
      val dir = rtDir("schevo", d)
      base.filter(col("event_id") % 2 === 0)
        .write.mode("overwrite").parquet(s"$dir/v1")
      base.filter(col("event_id") % 2 === 1)
        .withColumn("boost", col("value") * 2)
        .write.mode("overwrite").parquet(s"$dir/v2")
      s.read.option("mergeSchema", "true").parquet(s"$dir/v1", s"$dir/v2")
        .agg(count(lit(1)).as("n_rows"),
          count(col("boost")).as("n_with_boost"),
          moneySum(dec2(col("value"))).as("sum_value"),
          moneySum(dec2(col("boost"))).as("sum_boost"))
    },
    Some("""SELECT count(*) AS n_rows,
      | sum(CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END)::BIGINT
      |   AS n_with_boost,
      | CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
      | CAST(sum(CASE WHEN event_id % 2 = 1
      |   THEN CAST(value * 2 AS DECIMAL(18,2)) END) AS DOUBLE)
      |   AS sum_boost
      |FROM events""".stripMargin))

  // --------------------------------------------------- funnel analysis
  // First-touch ordered funnel signup → view → click → purchase: a user
  // reaches stage k when the FIRST occurrence of every stage up to k is
  // strictly later than the previous stage's first occurrence. ONE
  // corpus-sized shuffle (per-user conditional mins, map-side combined to
  // 4 timestamps per user); the stage counts are a 1-row aggregate
  // exploded to 4 stage rows, so conversion math never touches the
  // corpus. Counts are integer-exact; conversion ratios divide two longs
  // (round 6).
  private val q54: (String, QFn, Option[String]) = ("q54_funnel",
    (s, d) => EventAnalytics.funnel(ev(s, d), col("user_id"),
      col("event_type"), col("ts"),
      Seq("signup", "view", "click", "purchase")),
    Some("""WITH f AS (SELECT user_id,
      |  min(CASE WHEN event_type = 'signup' THEN ts END) AS t0,
      |  min(CASE WHEN event_type = 'view' THEN ts END) AS t1,
      |  min(CASE WHEN event_type = 'click' THEN ts END) AS t2,
      |  min(CASE WHEN event_type = 'purchase' THEN ts END) AS t3
      |  FROM events GROUP BY user_id),
      |a AS (SELECT
      |  sum((t0 IS NOT NULL)::BIGINT) AS u0,
      |  sum((t0 IS NOT NULL AND t1 > t0)::BIGINT) AS u1,
      |  sum((t0 IS NOT NULL AND t1 > t0 AND t2 > t1)::BIGINT) AS u2,
      |  sum((t0 IS NOT NULL AND t1 > t0 AND t2 > t1 AND t3 > t2)::BIGINT)
      |    AS u3 FROM f)
      |SELECT 1::BIGINT AS stage_idx, 'signup' AS stage,
      |  u0::BIGINT AS users, CAST(NULL AS DOUBLE) AS conv_from_prev FROM a
      |UNION ALL SELECT 2::BIGINT, 'view', u1::BIGINT,
      |  CASE WHEN u0 > 0 THEN round(u1 / u0, 6) END FROM a
      |UNION ALL SELECT 3::BIGINT, 'click', u2::BIGINT,
      |  CASE WHEN u1 > 0 THEN round(u2 / u1, 6) END FROM a
      |UNION ALL SELECT 4::BIGINT, 'purchase', u3::BIGINT,
      |  CASE WHEN u2 > 0 THEN round(u3 / u2, 6) END FROM a""".stripMargin))

  // -------------------------------------------------- cohort retention
  // Weekly cohort retention: cohort = Monday (epoch seconds) of the
  // user's first active week; one output row per (cohort, week offset)
  // counts the users active that week. ONE corpus-sized shuffle: the
  // per-user groupBy collects the user's distinct week set (map-side
  // combined, bounded by weeks-in-history — a few hundred values even for
  // a decade of data); cohort = array_min of that set, and the exploded
  // (user, week) rows that feed the final (cohort, offset) agg are
  // users × weeks, not events. Offsets are exact integer arithmetic on
  // Monday-midnight epochs.
  private val q55: (String, QFn, Option[String]) = ("q55_cohort_retention",
    (s, d) => EventAnalytics.cohortRetention(ev(s, d), col("user_id"),
      col("ts")),
    Some("""WITH w AS (SELECT DISTINCT user_id,
      |  epoch(date_trunc('week', ts))::BIGINT AS wk FROM events),
      |c AS (SELECT user_id, min(wk) AS cohort_week_s FROM w
      |  GROUP BY user_id)
      |SELECT c.cohort_week_s, (w.wk - c.cohort_week_s) // 604800
      |   AS week_offset, count(*) AS n_users
      |FROM w JOIN c USING (user_id)
      |GROUP BY 1, 2""".stripMargin))

  // ------------------------------------- time-decay (half-life) features
  // Recency-weighted user value: each event contributes
  // value × 2^(−age_weeks), age_weeks = whole weeks from the event to a
  // fixed reference instant (integer µs floor-division on BOTH engines —
  // no float boundary). The weight is an exact power of two via shiftleft
  // (never pow(), whose libm rounding is engine-specific), so each term
  // is one exact double scaling and the rounded sum is noise-free. Pure
  // projection + one user shuffle with map-side combine — the standard
  // recency-feature shape for churn/LTV models.
  private val q56: (String, QFn, Option[String]) = ("q56_decay_features",
    // ref = 2024-02-05 00:00:00 UTC (the Monday after the data window)
    (s, d) => EventAnalytics.decayedValue(ev(s, d), col("user_id"),
      col("ts"), col("value"), refEpochUs = 1707091200000000L),
    Some("""WITH t AS (SELECT user_id, value,
      |  least(greatest((1707091200000000 - epoch_us(ts)) // 604800000000,
      |    0), 40) AS age_weeks FROM events)
      |SELECT user_id,
      | round(sum(value / ((1::BIGINT << age_weeks)::DOUBLE)), 6)
      |   AS decayed_value,
      | count(*) AS n_events, min(age_weeks) AS latest_age_weeks
      |FROM t GROUP BY user_id""".stripMargin))

  // ------------------------------------------- arg-max / arg-min agg
  // Per event type: the user with the highest / lowest total spend, via
  // max_by/min_by over a composite (total, user_id) ordering. Totals are
  // decimal-exact so the ordering is noise-free, and the struct tiebreak
  // makes ties (same total, different users) deterministic — the oracle
  // replays the same ordering with ranked windows. Two shuffles, both
  // map-side combined: (type, user) partial sums, then a per-type argmax
  // over user-count-sized input.
  private val q57: (String, QFn, Option[String]) = ("q57_arg_extremes",
    (s, d) => ev(s, d)
      .groupBy(col("event_type"), col("user_id"))
      .agg(sum(dec2(col("value"))).as("tot"))
      .groupBy(col("event_type"))
      .agg(
        max_by(col("user_id"), struct(col("tot"), col("user_id")))
          .as("top_user"),
        max(col("tot")).cast("double").as("top_total"),
        min_by(col("user_id"), struct(col("tot"), col("user_id")))
          .as("bottom_user"),
        min(col("tot")).cast("double").as("bottom_total")),
    Some("""WITH t AS (SELECT event_type, user_id,
      |  sum(CAST(value AS DECIMAL(18,2))) AS tot
      |  FROM events GROUP BY 1, 2),
      |r AS (SELECT *,
      |  row_number() OVER (PARTITION BY event_type
      |    ORDER BY tot DESC, user_id DESC) AS rmax,
      |  row_number() OVER (PARTITION BY event_type
      |    ORDER BY tot ASC, user_id ASC) AS rmin FROM t)
      |SELECT event_type,
      | max(CASE WHEN rmax = 1 THEN user_id END) AS top_user,
      | CAST(max(CASE WHEN rmax = 1 THEN tot END) AS DOUBLE) AS top_total,
      | max(CASE WHEN rmin = 1 THEN user_id END) AS bottom_user,
      | CAST(max(CASE WHEN rmin = 1 THEN tot END) AS DOUBLE)
      |   AS bottom_total
      |FROM r GROUP BY event_type""".stripMargin))

  // ------------------------------------------------- full outer join
  // Reconciling two per-user aggregates where EACH side has keys the
  // other lacks (even-id clickers vs div-3 purchasers): full outer join,
  // null-flagged sides, coalesced totals. Decimal-exact sums make the
  // compare noise-free; both inputs pre-aggregate before the join so the
  // outer join moves user-count-sized rows, never raw events.
  private val q58: (String, QFn, Option[String]) = ("q58_full_outer",
    (s, d) => {
      val clicks = ev(s, d)
        .filter(col("event_type") === "click" && col("user_id") % 2 === 0)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_clicks"),
          moneySum(dec2(col("value"))).as("click_value"))
      val buys = ev(s, d)
        .filter(col("event_type") === "purchase" && col("user_id") % 3 === 0)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_buys"),
          moneySum(dec2(col("value"))).as("buy_value"))
      clicks.join(buys, Seq("user_id"), "full_outer")
        .select(col("user_id"),
          coalesce(col("n_clicks"), lit(0L)).as("n_clicks"),
          coalesce(col("n_buys"), lit(0L)).as("n_buys"),
          round(coalesce(col("click_value"), lit(0.0))
            + coalesce(col("buy_value"), lit(0.0)), 2).as("total_value"),
          when(col("n_clicks").isNull, "buy_only")
            .when(col("n_buys").isNull, "click_only")
            .otherwise(lit("both")).as("side"))
    },
    Some("""WITH c AS (SELECT user_id, count(*) AS n_clicks,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS click_value
      |  FROM events WHERE event_type = 'click' AND user_id % 2 = 0
      |  GROUP BY user_id),
      |b AS (SELECT user_id, count(*) AS n_buys,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS buy_value
      |  FROM events WHERE event_type = 'purchase' AND user_id % 3 = 0
      |  GROUP BY user_id)
      |SELECT coalesce(c.user_id, b.user_id) AS user_id,
      | coalesce(n_clicks, 0)::BIGINT AS n_clicks,
      | coalesce(n_buys, 0)::BIGINT AS n_buys,
      | round(coalesce(click_value, 0) + coalesce(buy_value, 0), 2)
      |   AS total_value,
      | CASE WHEN n_clicks IS NULL THEN 'buy_only'
      |      WHEN n_buys IS NULL THEN 'click_only'
      |      ELSE 'both' END AS side
      |FROM c FULL OUTER JOIN b ON c.user_id = b.user_id"""
      .stripMargin))

  // ------------------------------------------- window-function breadth
  // The remaining ANSI window shapes in one per-user pass: lag/lead,
  // first/last value over the full frame, ntile quartiles, percent_rank,
  // cume_dist — all over the SAME (user, ts, event_id) ordering, so
  // Catalyst fuses them into ONE Window operator after one user_id
  // shuffle (ties impossible: event_id is unique). percent_rank/cume_dist
  // are exact k/n rationals → round 6 both sides.
  private val q59: (String, QFn, Option[String]) = ("q59_window_shapes",
    (s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(ord: _*)
      val full = w.rowsBetween(Window.unboundedPreceding,
        Window.unboundedFollowing)
      ev(s, d).select(col("event_id"), col("user_id"), col("value"),
        lag(col("value"), 1).over(w).as("prev_value"),
        lead(col("value"), 1).over(w).as("next_value"),
        first(col("value")).over(full).as("first_value"),
        last(col("value")).over(full).as("last_value"),
        ntile(4).over(w).cast("long").as("quartile"),
        round(percent_rank().over(w), 6).as("pct_rank"),
        round(cume_dist().over(w), 6).as("cume"))
    },
    Some("""SELECT event_id, user_id, value,
      | lag(value) OVER w AS prev_value,
      | lead(value) OVER w AS next_value,
      | first_value(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      |   AS first_value,
      | last_value(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      |   AS last_value,
      | ntile(4) OVER w AS quartile,
      | round(percent_rank() OVER w, 6) AS pct_rank,
      | round(cume_dist() OVER w, 6) AS cume
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)"""
      .stripMargin))

  // --------------------------------------- partitioned layout + pruning
  // The directory-layout half of the storage story (q46 covers bucketing):
  // write events hive-partitioned by event_type, read back with a
  // partition predicate. The filter resolves against DIRECTORIES at plan
  // time — the scan never opens a non-matching file, which at 100 TB is
  // the difference between reading one partition and reading the lake.
  // PlanShapeSpec asserts the scan carries it as a PartitionFilter (no
  // per-row evaluation); the oracle replays filter+agg over the source.
  private val q60: (String, QFn, Option[String]) = ("q60_partition_prune",
    (s, d) => {
      val dir = rtDir("q60", d)
      ev(s, d).select(col("event_id"), col("user_id"), col("value"),
          col("event_type"))
        .write.mode("overwrite").partitionBy("event_type").parquet(dir)
      s.read.parquet(dir).filter(col("event_type") === "purchase")
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_purchases"),
          moneySum(dec2(col("value"))).as("purchase_value"))
    },
    Some("""SELECT user_id, count(*)::BIGINT AS n_purchases,
      | CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS purchase_value
      |FROM events WHERE event_type = 'purchase'
      |GROUP BY user_id""".stripMargin))


  lazy val defs: Seq[(String, QFn, Option[String])] = Seq(q44, q45, q46, q47, q48, q49, q50, q51, q52, q53, q54, q55, q56, q57, q58, q59, q60)
}
