package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.CrossRound.round // shadows functions.round: cross-engine form
import graft.ops._
import graft.pipeline.{LinearScorer, Pipeline, TreeEnsembleModel,
  TreeEnsembleScorer}
import graft.schema.{Fixtures, Tables}
import graft.Queries._

/** Driver-contract registry slice q21-q43: TPC-H-style relational surface, the fused pipeline spine + tree scoring, and source/sink roundtrips.
  * Shared helpers (sval/dec2/ev/freqCols/repairCtesSql/rtDir and the
  * float-determinism policy) live in [[Queries]]; registration order is
  * assembled there. */
private[graft] object QueriesPipeline {

  // ------------------------------------------- TPC-H-style scan/join/agg
  private val q21: (String, QFn, Option[String]) = ("q21_pricing_summary",
    (s, d) => Tables.lineitem(s, d)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        moneySum(dec2(col("l_quantity"))).as("sum_qty"),
        moneySum(dec2(col("l_extendedprice"))).as("sum_base_price"),
        moneySum(dec2(col("l_extendedprice"))
          * (oneD - rate(col("l_discount")))).as("sum_disc_price"),
        moneySum(dec2(col("l_extendedprice"))
          * (oneD - rate(col("l_discount")))
          * (oneD + rate(col("l_tax")))).as("sum_charge"),
        round(avg(col("l_quantity")), 6).as("avg_qty"),
        round(avg(col("l_extendedprice")), 6).as("avg_price"),
        round(avg(col("l_discount")), 6).as("avg_disc"),
        count(lit(1)).as("count_order")),
    Some("""SELECT l_returnflag, l_linestatus,
      | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
      |   AS sum_base_price,
      | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
      |   * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2))))
      |   AS DOUBLE) AS sum_disc_price,
      | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
      |   * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))
      |   * (CAST(1 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(3,2))))
      |   AS DOUBLE) AS sum_charge,
      | round(avg(l_quantity), 6) AS avg_qty,
      | round(avg(l_extendedprice), 6) AS avg_price,
      | round(avg(l_discount), 6) AS avg_disc,
      | count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus""".stripMargin))

  // small dims explicitly broadcast: map-side join, zero shuffle of customer
  private val q22: (String, QFn, Option[String]) = ("q22_join_broadcast",
    (s, d) => Tables.customer(s, d)
      .join(broadcast(Tables.nation(s, d)),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(count(lit(1)).as("num_customers"),
        moneySum(dec2(col("c_acctbal"))).as("total_acctbal")),
    Some("""SELECT r_name, count(*) AS num_customers,
      | CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
      |   AS total_acctbal
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      | JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name""".stripMargin))

  // big-big shuffle join (AQE picks the strategy) + distinct aggregate
  private val q23: (String, QFn, Option[String]) = ("q23_join_bigbig",
    (s, d) => Tables.orders(s, d)
      .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        countDistinct(col("o_orderkey")).as("n_orders"),
        moneySum(dec2(col("l_extendedprice"))
          * (oneD - rate(col("l_discount")))).as("revenue")),
    Some("""SELECT o_orderpriority, count(*) AS n_items,
      | count(DISTINCT o_orderkey) AS n_orders,
      | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
      |   * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2))))
      |   AS DOUBLE) AS revenue
      |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |GROUP BY o_orderpriority""".stripMargin))

  // ------------------------------------------------------- O-family top-k
  private val q24: (String, QFn, Option[String]) = ("q24_window_topk",
    (s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      Tables.orders(s, d)
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("rk"),
          col("o_totalprice"))
    },
    Some("""WITH r AS (SELECT o_custkey, o_orderkey, o_totalprice,
      |  row_number() OVER (PARTITION BY o_custkey
      |    ORDER BY o_totalprice DESC, o_orderkey) AS rk FROM orders)
      |SELECT o_custkey, o_orderkey, rk, o_totalprice FROM r WHERE rk <= 3"""
      .stripMargin))

  // ---------------------------------------- event-time tumbling window
  // Batch analog of the Structured Streaming aggregation (SURVEY.md §2.10);
  // the same groupBy(window(...)) plan runs unchanged under readStream.
  private val q25: (String, QFn, Option[String]) = ("q25_hourly_window",
    (s, d) => ev(s, d)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 6).as("sum_value"))
      .select(unix_timestamp(col("w.start")).as("hour_start"),
        col("event_type"), col("n"), col("sum_value")),
    Some("""SELECT epoch(time_bucket(INTERVAL '1 hour', ts))::BIGINT
      |   AS hour_start,
      | event_type, count(*) AS n, round(sum(value), 6) AS sum_value
      |FROM events GROUP BY 1, 2""".stripMargin))

  // ------------------------------------------------------------------ A10
  // Horizontal stats over the positive cells of the pivot-count row
  // (reference get_stats, run.py:207-234). The oracle mirrors the exact
  // expression tree of HorizontalStats.statCols — same fold order, same
  // guards — so round(6) absorbs only last-ulp libm noise.
  /** DuckDB replay of HorizontalStats over the FREQ (pivot-count) cells,
    * emitting `<prefix>_<stat>` columns — shared by q26 (intent mode,
    * prefix hs) and q26b (bugCompat mode: the stats carry another family's
    * prefix but still describe the freq cells, exactly the reference
    * closure bug). */
  private def horizontalStatsOracleSql(prefix: String): String = {
      val cells = vocab.map(v =>
        s"(count(value) FILTER (WHERE event_type = '$v'))::DOUBLE")
        .mkString(", ")
      val median = """CASE WHEN n > 0 THEN
        | CASE WHEN n % 2 = 1 THEN arr[CAST((n+1)/2 AS INT)]
        | ELSE (arr[CAST(n/2 AS INT)] + arr[CAST(n/2 AS INT)+1]) / 2 END
        |END""".stripMargin.replaceAll("\n", " ")
      val stats = Seq(
        "mean" -> "mean",
        "median" -> "med",
        "max" -> "mx", "min" -> "mn",
        "std" -> "sqrt(vr)",
        "sem" -> "sqrt(vr)/sqrt(n)",
        "skew" -> "sk",
        "var" -> "vr",
        "amplitude1" -> "mx - mn", "amplitude2" -> "mx - med",
        "amplitude3" -> "mx - mean", "amplitude4" -> "med - mn",
        "amplitude5" -> "mean - mn",
        "divmm1" -> "mx / mn", "divmm2" -> "mx / mean",
        "divmm3" -> "mx / med", "divmm4" -> "mean / mn",
        "divmm5" -> "med / mn")
        .map { case (nme, e) => s"round(COALESCE($e, 0), 6) AS ${prefix}_$nme" }
        .mkString(", ")
      s"""WITH p AS (SELECT user_id,
        |  list_sort(list_filter([$cells], x -> x > 0)) AS arr
        |  FROM events GROUP BY user_id),
        |s1 AS (SELECT user_id, arr, len(arr) AS n FROM p),
        |s2 AS (SELECT *, CASE WHEN n > 0 THEN
        |    list_aggregate(arr, 'sum') / n END AS mean,
        |  $median AS med,
        |  CASE WHEN n > 0 THEN arr[n] END AS mx,
        |  CASE WHEN n > 0 THEN arr[1] END AS mn FROM s1),
        |s3 AS (SELECT *,
        |  list_aggregate(list_transform(arr, x -> pow(x - mean, 2)), 'sum')
        |    AS m2,
        |  list_aggregate(list_transform(arr, x -> pow(x - mean, 3)), 'sum')
        |    AS m3 FROM s2),
        |s4 AS (SELECT *, CASE WHEN n >= 2 THEN m2 / (n - 1) END AS vr,
        |  CASE WHEN n >= 3 AND m2 > 0 THEN
        |    n * sqrt(n - 1) * m3 / ((n - 2) * pow(m2, 1.5)) END AS sk
        |  FROM s3)
        |SELECT user_id, $stats FROM s4""".stripMargin
  }

  private val q26: (String, QFn, Option[String]) = ("q26_horizontal_stats",
    (s, d) => {
      val pv = Pivots.pivotCount(ev(s, d), "user_id", "event_type", vocab,
        "value", "freq")
      val st = HorizontalStats.withStats(pv, freqCols, "hs")
      st.select(col("user_id") +: HorizontalStats.statNames.map(x =>
        round(col(s"hs_$x"), 6).as(s"hs_$x")): _*)
    },
    Some(horizontalStatsOracleSql("hs")))

  // -------------------------------------------------- A10, bugCompat mode
  // The reference closure bug made observable (run.py:207-234): the stats
  // claim to describe the proc (pivot-sum) family — prefix ps — but
  // bugCompat feeds the closed-over mcc_freq columns, so every ps_* value
  // equals the freq-cell statistic, NOT a proc statistic. The oracle is the
  // freq-cell stats under the ps prefix: a hash match proves the bug is
  // reproduced bit-for-bit; intent mode (q26) stays the default.
  private val q26b: (String, QFn, Option[String]) = ("q26b_stats_bugcompat",
    (s, d) => {
      val e = ev(s, d).withColumn("sv", sval)
      val aggs =
        vocab.map(v =>
          count(when(col("event_type") === v, col("value"))).as(s"freq_$v")) ++
        vocab.map(v =>
          coalesce(sum(when(col("event_type") === v, col("sv"))), lit(0.0))
            .as(s"proc_$v"))
      val pv = e.groupBy(col("user_id")).agg(aggs.head, aggs.tail: _*)
      val st = HorizontalStats.withStats(pv, vocab.map(v => s"proc_$v"), "ps",
        bugCompat = true, closureCols = freqCols)
      st.select(col("user_id") +: HorizontalStats.statNames.map(x =>
        round(col(s"ps_$x"), 6).as(s"ps_$x")): _*)
    },
    Some(horizontalStatsOracleSql("ps")))

  // --------------------------------------- §3.1 full pipeline, end to end
  // repair → trim(20) → drop 'error' (the MCC-6012 analog) → feature
  // matrix → linear scorer → max-score fallback for dropped users → sort.
  // The oracle composes the already-verified repair CTEs with the trim /
  // pivot / stats / scoring SQL — the whole run.py dataflow in one query.
  private val pipelineWeights = Map(
    "freq_click" -> 0.1, "freq_purchase" -> 0.2,
    "proc_signup" -> 0.001, "proc_view" -> 0.001,
    "td_mean" -> 0.0001, "td_std" -> 0.0001)

  /** Spark side of the §3.1 pipeline spine (clean → fused matrix), shared
    * by q27 (linear scorer) and q39 (tree scorer through the same spine). */
  private def pipelineFeatureMatrix(s: SparkSession, d: String)
  : (DataFrame, DataFrame) = {
    val e = ev(s, d)
    val in = e.select(col("event_id"), col("user_id"), col("ts"),
      col("event_type"), sval.as("amt"))
    val cleaned = Pipeline.clean(in, "user_id", "event_type", "amt", ord,
      Pipeline.Config(nAmt = 10, nMcc = 10, trimN = 20,
        dropCodes = Seq("error")))
    (Pipeline.featureMatrixFused(cleaned, "user_id", "event_type",
      "amt", TimeFeatures.secondsSinceMidnight(col("ts")), vocab), e)
  }

  /** Oracle CTE stack for the pipeline spine: repair → trim(20) →
    * drop 'error' → per-user features; `scoredSql` plugs the scorer. */
  private def pipelineOracleSql(scoredSql: String): String =
    s"""WITH $repairCtesSql,
      |trm AS (SELECT * FROM (SELECT rep.*,
      |   row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |     AS rn,
      |   count(*) OVER (PARTITION BY user_id) AS cnt FROM rep)
      |  WHERE rn > 20 AND rn <= cnt - 20),
      |kept AS (SELECT * FROM trm WHERE code <> 'error'),
      |feat AS (SELECT user_id,
      |  ${vocab.map(v => s"count(amt) FILTER (WHERE code = '$v') AS freq_$v").mkString(", ")},
      |  ${vocab.map(v => s"COALESCE(sum(amt) FILTER (WHERE code = '$v'), 0) AS proc_$v").mkString(", ")},
      |  avg(hour(ts)*3600 + minute(ts)*60 + second(ts)) AS td_mean,
      |  COALESCE(stddev_samp(hour(ts)*3600 + minute(ts)*60 + second(ts)),
      |    0) AS td_std
      |  FROM kept GROUP BY user_id),
      |scored AS (SELECT user_id, round($scoredSql, 6) AS target FROM feat),
      |v AS (SELECT DISTINCT user_id FROM events
      |      EXCEPT SELECT user_id FROM scored)
      |SELECT user_id, target FROM scored
      |UNION ALL SELECT user_id, (SELECT max(target) FROM scored) FROM v"""
      .stripMargin

  private val q27: (String, QFn, Option[String]) = ("q27_pipeline_submission",
    (s, d) => {
      val (fm, e) = pipelineFeatureMatrix(s, d)
      Pipeline.submission(fm, LinearScorer(pipelineWeights), e, "user_id")
    },
    Some {
      // LinearScorer folds bias + terms in column-name order
      val combo = pipelineWeights.toSeq.sortBy(_._1)
        .map { case (c, w) => s"$w * $c" }.mkString("0.0 + ", " + ", "")
      pipelineOracleSql(combo)
    })

  // --------------------------------------------- parity-plus: ROLLUP
  // Multi-level aggregation (SURVEY.md §2.4 notes cube/rollup come free
  // with the engine); NULL grouping cells normalized to a sentinel so the
  // hash compare is null-free.
  private val q28: (String, QFn, Option[String]) = ("q28_rollup",
    (s, d) => Tables.lineitem(s, d)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"),
        moneySum(dec2(col("l_quantity"))).as("sum_qty"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("rflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("lstatus"),
        col("n"), col("sum_qty")),
    Some("""SELECT COALESCE(l_returnflag, 'ALL') AS rflag,
      | COALESCE(l_linestatus, 'ALL') AS lstatus,
      | count(*) AS n,
      | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)"""
      .stripMargin))

  // ----------------------------------------- sessionization (gap-based)
  // Training-pipeline staple over the event stream: lag → gap predicate →
  // running sum = session id → per-session aggregates. One shuffle on
  // user_id, shared by both the window and the final groupBy.
  private val q29: (String, QFn, Option[String]) = ("q29_sessionize",
    (s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(ord: _*)
      val us = unix_micros(col("ts"))
      val gap = us - lag(us, 1).over(w)
      val isNew = when(gap.isNull || gap > lit(30L * 60 * 1000000L), 1L)
        .otherwise(0L)
      val sid = sum(isNew).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
      ev(s, d).withColumn("_us", us).withColumn("session_id", sid)
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
          min(col("_us")).as("start_us"),
          (max(col("_us")) - min(col("_us"))).as("dur_us"),
          round(sum(col("value")), 6).as("sum_value"))
    },
    Some("""WITH o AS (SELECT user_id, event_id, ts, value, epoch_us(ts) AS us,
      |  lag(epoch_us(ts)) OVER
      |    (PARTITION BY user_id ORDER BY ts, event_id) AS pus FROM events),
      |f AS (SELECT *, CASE WHEN pus IS NULL OR us - pus > 1800000000
      |  THEN 1 ELSE 0 END AS nw FROM o),
      |s AS (SELECT *, sum(nw) OVER (PARTITION BY user_id
      |  ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_id
      |  FROM f)
      |SELECT user_id, session_id::BIGINT AS session_id,
      | count(*) AS n_events, min(us) AS start_us,
      | max(us) - min(us) AS dur_us, round(sum(value), 6) AS sum_value
      |FROM s GROUP BY user_id, s.session_id""".stripMargin))

  // ------------------------------------------- five-way star-schema join
  private val q30: (String, QFn, Option[String]) = ("q30_star_join",
    (s, d) => Tables.lineitem(s, d)
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), year(col("o_orderdate")).cast("long")
        .as("o_year"))
      .agg(count(lit(1)).as("n"),
        moneySum(dec2(col("l_extendedprice"))
          * (oneD - rate(col("l_discount")))).as("revenue")),
    Some("""SELECT r_name, year(o_orderdate) AS o_year, count(*) AS n,
      | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
      |   * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2))))
      |   AS DOUBLE) AS revenue
      |FROM lineitem
      | JOIN orders ON l_orderkey = o_orderkey
      | JOIN customer ON o_custkey = c_custkey
      | JOIN nation ON c_nationkey = n_nationkey
      | JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name, year(o_orderdate)""".stripMargin))

  // ------------------------------------------------ JSON column parsing
  // events.props carries a JSON payload; extract via path (get_json_object)
  // and via schema-full from_json — both stay codegen'd projections, and
  // the parsed attribute feeds a regular aggregate.
  private val q31: (String, QFn, Option[String]) = ("q31_json_extract",
    (s, d) => {
      val e = ev(s, d)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .withColumn("k2",
          from_json(col("props"), lit("k LONG")).getField("k"))
      e.groupBy((col("k") % 10).as("k_mod"))
        .agg(count(lit(1)).as("n"),
          sum(col("k2")).as("sum_k"),
          round(avg(col("value")), 6).as("avg_value"))
    },
    Some("""SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10
      |   AS k_mod,
      | count(*) AS n,
      | sum(CAST(json_extract_string(props, '$.k') AS BIGINT))::BIGINT
      |   AS sum_k,
      | round(avg(value), 6) AS avg_value
      |FROM events GROUP BY 1""".stripMargin))

  // ------------------------------------------------ parity-plus: CUBE
  private val q32: (String, QFn, Option[String]) = ("q32_cube",
    (s, d) => Tables.orders(s, d)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        moneySum(dec2(col("o_totalprice"))).as("sum_price"))
      .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("n"), col("sum_price")),
    Some("""SELECT COALESCE(o_orderstatus, 'ALL') AS status,
      | COALESCE(o_orderpriority, 'ALL') AS priority, count(*) AS n,
      | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |   AS sum_price
      |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)"""
      .stripMargin))

  // ------------------------------------------- semi / anti joins (EXISTS)
  // Customers with at least one high-value order (left_semi = EXISTS) and
  // customers with none (left_anti = NOT EXISTS) — counted per market
  // segment so the oracle is a compact grouped result.
  private val q33: (String, QFn, Option[String]) = ("q33_semi_anti_join",
    (s, d) => {
      val bigOrders = Tables.orders(s, d)
        .filter(col("o_totalprice") > 300000.0)
        .select(col("o_custkey"))
      val c = Tables.customer(s, d)
      val withBig = c.join(bigOrders, col("c_custkey") === col("o_custkey"),
        "left_semi").groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_with_big_order"))
      val withoutBig = c.join(bigOrders, col("c_custkey") === col("o_custkey"),
        "left_anti").groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_without_big_order"))
      withBig.join(withoutBig, Seq("c_mktsegment"), "outer")
        .na.fill(0, Seq("n_with_big_order", "n_without_big_order"))
    },
    Some("""SELECT c_mktsegment,
      | count(*) FILTER (WHERE EXISTS (SELECT 1 FROM orders
      |   WHERE o_custkey = c_custkey AND o_totalprice > 300000.0))
      |   AS n_with_big_order,
      | count(*) FILTER (WHERE NOT EXISTS (SELECT 1 FROM orders
      |   WHERE o_custkey = c_custkey AND o_totalprice > 300000.0))
      |   AS n_without_big_order
      |FROM customer GROUP BY c_mktsegment""".stripMargin))

  // --------------------------------------------------------- as-of join
  // Each event gets the user's most recent prior (inclusive) signup value.
  // Spark side: AsOfJoin's union+carry-forward composition (one shuffle);
  // oracle: DuckDB's NATIVE ASOF LEFT JOIN — two independent formulations
  // of the semantics checking each other.
  private val q34: (String, QFn, Option[String]) = ("q34_asof_join",
    (s, d) => {
      val e = ev(s, d)
      val leftDf = e.select(col("event_id"), col("user_id"), col("ts"))
      val rightDf = e.filter(col("event_type") === "signup")
        .select(col("user_id"), col("ts"), col("value").as("signup_value"))
      AsOfJoin(leftDf, rightDf, Seq("user_id"), "ts",
        tiebreak = col("event_id"))
        .select(col("event_id"), col("user_id"), col("signup_value"))
    },
    Some("""SELECT l.event_id, l.user_id, r.signup_value
      |FROM events l ASOF LEFT JOIN
      | (SELECT user_id, ts, value AS signup_value FROM events
      |  WHERE event_type = 'signup') r
      | ON l.user_id = r.user_id AND l.ts >= r.ts""".stripMargin))

  // --------------------------------------------------------- range join
  // Clicks within ±5 minutes of each error event, per user: Spark side =
  // banded equi-join (RangeJoin, the quadratic-blowup-proof form); oracle =
  // DuckDB's native inequality join.
  private val q35: (String, QFn, Option[String]) = ("q35_range_join",
    (s, d) => {
      val e = ev(s, d).withColumn("us", unix_micros(col("ts")))
      val errors = e.filter(col("event_type") === "error")
        .select(col("user_id"), col("event_id").as("err_id"),
          col("us").as("err_us"))
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"),
          col("us").as("click_us"))
      RangeJoin(errors, clicks, Seq("user_id"), "err_us", "click_us",
        tol = 300000000L)
        .groupBy(col("user_id"), col("err_id"))
        .agg(count(lit(1)).as("n_clicks"),
          min(col("click_id")).as("first_click_id"))
    },
    Some("""SELECT l.user_id, l.event_id AS err_id,
      | count(*) AS n_clicks, min(r.event_id) AS first_click_id
      |FROM events l JOIN events r
      | ON l.user_id = r.user_id
      | AND l.event_type = 'error' AND r.event_type = 'click'
      | AND abs(epoch_us(l.ts) - epoch_us(r.ts)) <= 300000000
      |GROUP BY l.user_id, l.event_id""".stripMargin))

  // --------------------------------- §3.1 VRAE branch, end to end
  // The reference's second feature branch (run.py:90-180): cleaned table →
  // one-hot of the (repaired) category → per-user z-score, cumulative sum,
  // rebased hour index. Composed over the shared repair CTEs like q27
  // composes the CatBoost branch — both §3.1 branches are now oracle-
  // checked end to end.
  private val q36: (String, QFn, Option[String]) = ("q36_vrae_branch",
    (s, d) => {
      val in = ev(s, d).select(col("event_id"), col("user_id"), col("ts"),
        col("event_type"), sval.as("amt"))
      val repaired = Repair(in, "user_id", "event_type", "amt",
        nAmt = 10, nMcc = 10)
      val oh = OneHot.withOneHot(repaired, "event_type", vocab, "et")
      val withRef = oh.crossJoin(broadcast(
        oh.agg(min(unix_micros(col("ts"))).as("_e0"))))
      val td = TimeFeatures.hoursSince(col("ts"), col("_e0"))
      withRef.select(
        col("event_id") +: col("user_id") +:
          vocab.map(v => col(s"et_$v").cast("long").as(s"et_$v")) ++: Seq(
          round(Sequences.cumSum(col("amt"), Seq("user_id"), ord), 6)
            .as("cum_amt"),
          round(Sequences.zScorePop(col("amt"), Seq("user_id")), 6)
            .as("z_amt"),
          Sequences.rebaseToFirst(td, Seq("user_id"), ord).cast("long")
            .as("td_rebased")): _*)
    },
    Some {
      val ohCols = vocab.map(v =>
        s"(CASE WHEN code = '$v' THEN 1 ELSE 0 END)::BIGINT AS et_$v")
        .mkString(", ")
      s"""WITH $repairCtesSql,
        |r2 AS (SELECT rep.*, epoch_us(ts) AS us FROM rep),
        |gref AS (SELECT min(us) AS e0 FROM r2)
        |SELECT event_id, user_id, $ohCols,
        | round(sum(amt) OVER w, 6) AS cum_amt,
        | round(CASE WHEN stddev_pop(amt) OVER p = 0
        |         OR stddev_pop(amt) OVER p IS NULL THEN 0
        |       ELSE (amt - avg(amt) OVER p) / (stddev_pop(amt) OVER p)
        |       END, 6) AS z_amt,
        | (floor((us - e0) / 3600000000)
        |  - first_value(floor((us - e0) / 3600000000)) OVER w2)
        |  ::BIGINT AS td_rebased
        |FROM r2, gref
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |             ROWS UNBOUNDED PRECEDING),
        | p AS (PARTITION BY user_id),
        | w2 AS (PARTITION BY user_id ORDER BY ts, event_id)"""
        .stripMargin
    })

  // ------------------------------------------ S5/P12: real tree scorer
  // The committed GBT-style ensemble (CatBoost stand-in) scores the fused
  // per-user feature matrix after P12-aligning it to the model's 52-column
  // feature list (40 model-demanded ctx_* columns are absent from the data
  // and zero-fill). The oracle replays the trees as CASE chains generated
  // from the SAME artifact — leaf sums are literal doubles in a fixed
  // order, so the score is exact in both engines.
  private lazy val treeModel =
    TreeEnsembleModel.fromFile("/graft/tree_model.txt")
  /** The q37 per-user feature-matrix CTE (`fm`), shared with the training
    * lifecycle rows in [[QueriesTrain]] — ONE SQL twin of
    * Pipeline.featureMatrixFused. */
  private[graft] val fmCteSql: String =
    s"""fm AS (SELECT user_id,
      | ${vocab.map(v =>
            s"count(sv) FILTER (WHERE event_type = '$v') AS freq_$v")
           .mkString(", ")},
      | ${vocab.map(v =>
            s"COALESCE(sum(sv) FILTER (WHERE event_type = '$v'), 0.0) AS proc_$v")
           .mkString(", ")},
      | avg(td) AS td_mean,
      | CASE WHEN count(td) >= 2 THEN stddev_samp(td) ELSE 0.0 END AS td_std
      |FROM (SELECT user_id, event_type, $svalSql AS sv,
      |   hour(ts)*3600 + minute(ts)*60 + second(ts) AS td FROM events)
      |GROUP BY user_id)""".stripMargin
  /** The Spark twin: fused single-pass feature matrix over events. */
  private[graft] def fmDf(s: SparkSession, d: String): DataFrame =
    Pipeline.featureMatrixFused(ev(s, d).withColumn("sv", sval),
      "user_id", "event_type", "sv",
      TimeFeatures.secondsSinceMidnight(col("ts")), vocab)
  private val q37: (String, QFn, Option[String]) = ("q37_tree_scorer",
    (s, d) => {
      val aligned = Pipeline.alignFeatures(fmDf(s, d), "user_id",
        treeModel.featureNames)
      TreeEnsembleScorer(treeModel).score(aligned)
        .select(col("user_id"), col("target"))
    },
    Some {
      val featSql: String => String =
        f => if (f.startsWith("ctx_")) "0.0" else f
      s"""WITH $fmCteSql
        |SELECT user_id, round(${treeModel.toSql(featSql)}, 6) AS target
        |FROM fm""".stripMargin
    })

  // ------------------------------------- reference-width two-level pivot
  // 330-code vocabulary (event_type × value-bin, the MCC-vocab analog,
  // run.py:105) through Pivots.pivotWide — the shape that survives ~1,000
  // output columns where the single-pass conditional aggregation hits
  // Janino's 64 KB method limit (WidthStressSpec measures both). 660 output
  // columns, every cell hash-checked: reference width is driver-verified,
  // not just spec-asserted.
  private val wideVocab: Seq[String] =
    for (t <- vocab; b <- 0 until 66) yield s"${t}_$b"
  private val q38: (String, QFn, Option[String]) = ("q38_wide_pivot",
    (s, d) => {
      val e = ev(s, d).withColumn("sv", sval)
        .withColumn("code",
          concat_ws("_", col("event_type"),
            floor(col("value") / 7.5).cast("int")))
      val wide = Pivots.pivotWide(e, "user_id", "code", wideVocab, Seq(
        Pivots.Family("freq", count(col("value")).cast("double")),
        Pivots.Family("proc", sum(col("sv")))))
      wide.select(col("user_id") +:
        (wideVocab.map(c => col(s"freq_$c").cast("long").as(s"freq_$c")) ++
          wideVocab.map(c => round(col(s"proc_$c"), 6).as(s"proc_$c"))): _*)
    },
    Some {
      val freqs = wideVocab.map(c =>
        s"COALESCE(count(value) FILTER (WHERE code = '$c'), 0)::BIGINT AS freq_$c")
      val procs = wideVocab.map(c =>
        s"round(COALESCE(sum(sv) FILTER (WHERE code = '$c'), 0.0), 6) AS proc_$c")
      s"""SELECT user_id, ${(freqs ++ procs).mkString(", ")}
        |FROM (SELECT user_id, value, $svalSql AS sv,
        |  event_type || '_' || (floor(value / 7.5))::INT AS code FROM events)
        |GROUP BY user_id""".stripMargin
    })

  // -------------------------------- §3.1 pipeline × tree scorer (q27 twin)
  // The full run.py dataflow with the REAL scorer: clean → fused matrix →
  // P12 align to the model's 52 columns → tree-ensemble score → max-score
  // fallback for users the cleaning dropped → ordered submission. Same
  // oracle CTE stack as q27 with the tree CASE chains plugged in.
  private val q39: (String, QFn, Option[String]) = ("q39_tree_submission",
    (s, d) => {
      val (fm, e) = pipelineFeatureMatrix(s, d)
      val aligned = Pipeline.alignFeatures(fm, "user_id",
        treeModel.featureNames)
      Pipeline.submission(aligned, TreeEnsembleScorer(treeModel), e,
        "user_id")
    },
    Some(pipelineOracleSql(
      treeModel.toSql(f => if (f.startsWith("ctx_")) "0.0" else f))))

  // ------------------------------------------------- S1/S2 round-trip
  // CSV sink (reference submission format: header, second-precision
  // timestamps, run.py:85,486) → CSV scan with DECLARED schema — the two
  // IO operators composed and driver-checked: every surviving value must
  // hash-match the original table. Timestamps round-trip at the format's
  // second precision (mirrored with date_trunc in the oracle); doubles
  // round-trip exactly (shortest-repr text). The temp dir is keyed by the
  // input dir so per-SF runs don't collide.
  private val q40: (String, QFn, Option[String]) = ("q40_csv_roundtrip",
    (s, d) => {
      val e = ev(s, d).select(col("event_id"), col("user_id"), col("ts"),
        col("event_type"), col("value"))
      val dir = s"${sys.props("java.io.tmpdir")}/graft_csv_rt_" +
        d.replaceAll("[^a-zA-Z0-9]", "_")
      Tables.writeCsv(e, dir)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("event_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("user_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("ts",
          org.apache.spark.sql.types.TimestampType),
        org.apache.spark.sql.types.StructField("event_type",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("value",
          org.apache.spark.sql.types.DoubleType)))
      s.read.schema(schema).option("header", "true")
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss").csv(dir)
        .select(col("event_id"), col("user_id"),
          unix_timestamp(col("ts")).as("ts_sec"),
          col("event_type"), col("value"))
    },
    Some("""SELECT event_id, user_id,
      | epoch_us(date_trunc('second', ts)) // 1000000 AS ts_sec,
      | event_type, value FROM events""".stripMargin))

  // --------------------------- deterministic stratified split + folds
  // Reproducible train/eval machinery: per-stratum subsample rates and a
  // 5-way fold assignment, both content-addressed (md5 of the row key) —
  // stable across runs, engines, partitionings and re-ingests, which is
  // what seeded-RNG splits silently are not. Oracle replays the identical
  // md5 arithmetic.
  private val splitRates = Map("click" -> 0.5, "error" -> 0.1,
    "purchase" -> 1.0, "signup" -> 1.0, "view" -> 0.25)
  private val q41: (String, QFn, Option[String]) = ("q41_stratified_split",
    (s, d) => Sampling.stratifiedKeep(ev(s, d), col("event_id"),
        col("event_type"), splitRates, salt = "strat")
      .select(col("event_id"), col("event_type"),
        Sampling.hashFold(col("event_id"), 5).as("fold")),
    Some {
      val rateCase = splitRates.toSeq.sortBy(_._1)
        .map { case (t, r) => s"WHEN event_type = '$t' THEN $r" }
        .mkString(" ")
      s"""SELECT event_id, event_type,
        | ('0x'||substr(md5(event_id::VARCHAR||'#fold'),1,15))::BIGINT % 5
        |   AS fold
        |FROM events
        |WHERE ('0x'||substr(md5(event_id::VARCHAR||'#strat'),1,15))::BIGINT
        |   / 1152921504606846976.0 < (CASE $rateCase ELSE 0.0 END)"""
        .stripMargin
    })


  // ------------------------------------------------ JSONL source/sink
  // The interchange format training corpora ship in: documents → JSONL →
  // declared-schema scan; every value hash-checked against the source
  // (JSON string escaping makes the text round-trip lossless).
  private val q42: (String, QFn, Option[String]) = ("q42_jsonl_roundtrip",
    (s, d) => {
      val docsDf = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val dir = rtDir("jsonl_rt", d)
      Tables.writeJsonl(docsDf, dir)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType)))
      Tables.readJsonl(s, dir, schema).select(col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        md5(col("text").cast("binary")).as("digest"))
    },
    Some("""SELECT doc_id, length(text)::BIGINT AS n_chars,
      | md5(text) AS digest FROM documents""".stripMargin))

  // -------------------------------------------------- ORC source/sink
  // The second columnar format: lineitem → ORC → scan → aggregate;
  // doubles round-trip bit-exactly through ORC, so the decimal-exact
  // money sums must match the parquet-sourced oracle.
  private val q43: (String, QFn, Option[String]) = ("q43_orc_roundtrip",
    (s, d) => {
      val li = Tables.lineitem(s, d).select(col("l_orderkey"),
        col("l_returnflag"), col("l_linestatus"), col("l_quantity"))
      val dir = rtDir("orc_rt", d)
      Tables.writeOrc(li, dir)
      Tables.readOrc(s, dir)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          moneySum(dec2(col("l_quantity"))).as("sum_qty"))
    },
    Some("""SELECT l_returnflag, l_linestatus, count(*) AS n,
      | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin))


  // -------------------------------------------------- Avro source/sink
  // The row-oriented interchange format (Kafka-ecosystem ingest): orders
  // → Avro → scan → aggregate. Doubles/longs/strings round-trip
  // bit-exactly, so the decimal-exact money sums must match the
  // parquet-sourced oracle — write-path corruption or schema drift
  // breaks the hash. Completes the IO matrix: CSV (q40), JSONL (q42),
  // ORC (q43), Avro (q84), parquet (everything).
  private val q84: (String, QFn, Option[String]) = ("q84_avro_roundtrip",
    (s, d) => {
      val o = Tables.orders(s, d).select(
        col("o_orderstatus"), col("o_orderpriority"), col("o_totalprice"))
      val dir = rtDir("avro_rt", d)
      Tables.writeAvro(o, dir)
      Tables.readAvro(s, dir)
        .groupBy(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          moneySum(dec2(col("o_totalprice"))).as("sum_price"))
    },
    Some("""SELECT o_orderstatus, o_orderpriority, count(*) AS n,
      | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |   AS sum_price
      |FROM orders GROUP BY o_orderstatus, o_orderpriority""".stripMargin))

  // --------------------------------------------------- XML source/sink
  // The enterprise-ingest format (built-in XmlFileFormat, rowTag rows):
  // customer → XML → declared-schema scan → aggregate. XML is typeless,
  // so the read declares the schema (inference = extra pass + drift
  // risk); the writer's &<> escaping must round-trip the text columns —
  // the count-per-segment + decimal-exact balance sums hash-check both.
  private val q85: (String, QFn, Option[String]) = ("q85_xml_roundtrip",
    (s, d) => {
      import org.apache.spark.sql.types._
      val c = Tables.customer(s, d).select(
        col("c_mktsegment"), col("c_nationkey"), col("c_acctbal"))
      val dir = rtDir("xml_rt", d)
      Tables.writeXml(c, dir)
      Tables.readXml(s, dir, StructType(Seq(
          StructField("c_mktsegment", StringType),
          StructField("c_nationkey", LongType),
          StructField("c_acctbal", DoubleType))))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), countDistinct(col("c_nationkey")).as("n_nations"),
          moneySum(dec2(col("c_acctbal"))).as("sum_bal"))
    },
    Some("""SELECT c_mktsegment, count(*) AS n,
      | count(DISTINCT c_nationkey) AS n_nations,
      | CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
      |FROM customer GROUP BY c_mktsegment""".stripMargin))

  // --------------------------- §3.1 RNN branch, scored NATIVELY (q80)
  // The reference's sequence-model scoring (model.py:57-76: embeddings →
  // bidirectional GRU → max/avg/last-hidden pooling → MLP → softmax),
  // executed in-engine by pipeline.SequenceModel — no torch, no UDF
  // registry, one mapPartitions over the assembled tensors. Features are
  // the events-table digitization (type index, hour, weekday, value bin —
  // each +1 so 0 stays the padding index), sequences are the last 20
  // events RIGHT-padded like process_for_nn (model.py:193). Weights are
  // the deterministic synthetic artifact (seeded with the reference's
  // own random_seed, model.py:210) — the committed REAL converted
  // checkpoint (/graft/seq_model_tx.txt.gz, via tools/convert_nn_ckpt.py)
  // drives the graft.Submit RNN branch, which SubmitSpec exercises.
  // Not SQL-expressible (300-step nonlinear recurrence) → rows+schema
  // check, the q17 class. Scale: one user_id shuffle for assembly, then
  // embarrassingly parallel per-user compute; model broadcast once.
  /** The q80 tensor assembly, shared with [[graft.FixtureDump]] so the
    * golden-fixture generator scores EXACTLY the sequences the registry
    * query scores. */
  private[graft] def q80Sequences(s: SparkSession, d: String): DataFrame = {
    val e = TimeFeatures.withTimeAttrs(ev(s, d), "ts")
    val etIdx = vocab.zipWithIndex.foldLeft(lit(0)) { case (acc, (v, i)) =>
      when(col("event_type") === v, i + 1).otherwise(acc)
    }
    val feats = e.select(col("user_id"), col("ts"), col("event_id"),
      etIdx.as("et_idx"),
      (col("hour_of_day") + 1).as("hr"),
      (col("day_of_week") + 1).as("dow"),
      (coalesce(Bucketize(col("value"), rnnBinEdges), lit(-1)) + 1)
        .as("vbin"))
    Sequences.assembleSequences(feats, 20, Seq("user_id"),
      struct(col("ts"), col("event_id")),
      Seq("et_idx", "hr", "dow", "vbin"), padLeft = false)
  }

  // Oracle: committed golden fixture — an independent pure-Python float64
  // forward pass over the same weights and sequences (FIXTURES.md,
  // tools/make_rnn_fixture.py). Committed PER SCALE (sf0001/sf001/sf01);
  // the oracle SQL selects the scale-matching variant by row count
  // (Fixtures.oracleSelect), so the gate is hash-green at every scale the
  // driver runs.
  private val q80: (String, QFn, Option[String]) = ("q80_rnn_scores",
    (s, d) => graft.pipeline.SequenceScorer(rnnEventsModel)
      .score(q80Sequences(s, d)).select(col("user_id"), col("target")),
    Some(Fixtures.oracleSelect("q80_expected", "user_id, target")))

  // --------------------------- §3.1 VRAE latent transform, NATIVE (q83)
  // The reference's VRAE encoder path (vrae/vrae.py:30-47 LSTM encoder →
  // vrae.py:57-84 latent mean head; run.py:176-178 transform), executed
  // in-engine by pipeline.LatentEncoderModel. Inputs are the q36 feature
  // surface assembled per user as dense sequences (run.py:110-126: per-user
  // z-score, cumulative sum, rebased hour index, one-hot category); the
  // real 394-feature checkpoint conversion (/graft/vrae_encoder.txt.gz via
  // tools/convert_vrae_ckpt.py) drives graft.Submit's latent branch, spec-
  // pinned by LatentEncoderSpec. Oracle: committed golden fixture from the
  // independent pure-Python LSTM forward (FIXTURES.md). Scale: one user_id
  // shuffle for assembly, then embarrassingly parallel per-user compute.
  private[graft] def q83Sequences(s: SparkSession, d: String): DataFrame = {
    val e = ev(s, d)
    val zAmt = round(Sequences.zScorePop(sval, Seq("user_id")), 6)
    val feats = e.select(Seq(col("user_id"), col("ts"), col("event_id"),
      zAmt.as("z_amt"),
      Sequences.cumSum(zAmt, Seq("user_id"), ord).as("cum_z"),
      Sequences.rebaseToFirst(
        TimeFeatures.hoursSince(col("ts"), lit(0L)),
        Seq("user_id"), ord).cast("double").as("td_rebased")) ++
      vocab.map(v =>
        when(col("event_type") === v, 1.0).otherwise(0.0).as(s"et_$v")): _*)
    Sequences.assembleSequences(feats, 24, Seq("user_id"),
      struct(col("ts"), col("event_id")),
      Seq("z_amt", "cum_z", "td_rebased") ++ vocab.map(v => s"et_$v"),
      padLeft = false)
  }

  private[graft] lazy val vraeEventsModel: graft.pipeline.LatentEncoderModel =
    graft.pipeline.LatentEncoderModel.synthetic(
      nFeatures = 3 + vocab.length, hidden = 10, latent = 6,
      seed = 20230514L)

  private val q83: (String, QFn, Option[String]) = ("q83_vrae_latent",
    (s, d) => graft.pipeline.LatentTransformer(vraeEventsModel)
      .transform(q83Sequences(s, d))
      .select(col("user_id") +:
        (0 until vraeEventsModel.latent).map(j => col(s"z_$j")): _*),
    Some(Fixtures.oracleSelect("q83_expected",
      "user_id, z_0, z_1, z_2, z_3, z_4, z_5")))

  private val rnnBinEdges = Seq(0.0, 1.0, 5.0, 10.0, 50.0, 100.0, 250.0, 500.0)
  /** Deterministic synthetic events-table model (card+1 embedding rows;
    * vbin has 7 bins + out-of-range→0). */
  private[graft] lazy val rnnEventsModel: graft.pipeline.SequenceModel =
    graft.pipeline.SequenceModel.synthetic(
      Seq(("et_idx", 5, 3), ("hr", 24, 4), ("dow", 7, 3), ("vbin", 7, 3)),
      hidden = 8, clsUnits = 16, seqLen = 20, seed = 20230206L)

  // ------------------- INDEPENDENT assembly checks for q80/q83 (q86/q87)
  // The golden fixtures prove the FORWARD PASS against an independent
  // Python implementation, but their input tensors come from the engine's
  // own assembly (FixtureDump) — an assembly bug would self-confirm. These
  // rows close that hole: the exact pre-forward tensors, scalarized via
  // posexplode (the q17 pattern) and fully replayed in DuckDB SQL —
  // digitization, ordering, last-N trim, RIGHT-padding, z-score, cumsum,
  // rebase, one-hot — so the driver hash-checks the assembly end to end.
  // pos is 1-based into the padded sequence: pos 1 = oldest kept event,
  // pos > count(user) = zero padding (padLeft=false appends it).
  private def seqPadSql(n: Int, feats: String, zeroFeats: String,
                        featSql: String): String =
    s"""WITH feat AS ($featSql),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY user_id
      |      ORDER BY ts DESC, event_id DESC) AS rd,
      |    count(*) OVER (PARTITION BY user_id) AS k
      |  FROM feat),
      |kept AS (
      |  SELECT user_id, (least(k, $n) + 1 - rd)::BIGINT AS pos, $feats
      |  FROM ranked WHERE rd <= $n),
      |counts AS (SELECT user_id, least(count(*), $n) AS k
      |  FROM events GROUP BY user_id),
      |pads AS (SELECT user_id, unnest(range(k + 1, ${n + 1}))::BIGINT AS pos,
      |    $zeroFeats FROM counts)
      |SELECT * FROM kept UNION ALL SELECT * FROM pads""".stripMargin

  private val q86: (String, QFn, Option[String]) = ("q86_rnn_seq_tensors",
    (s, d) => q80Sequences(s, d)
      .select(col("user_id"), posexplode(col("seq")))
      .select(col("user_id"), (col("pos") + 1).cast("long").as("pos"),
        col("col").getItem(0).cast("long").as("et_idx"),
        col("col").getItem(1).cast("long").as("hr"),
        col("col").getItem(2).cast("long").as("dow"),
        col("col").getItem(3).cast("long").as("vbin")),
    Some {
      val etCase = vocab.zipWithIndex.map { case (v, i) =>
        s"WHEN '$v' THEN ${i + 1}" }.mkString(" ")
      val vbinCase = rnnBinEdges.sliding(2).zipWithIndex.map {
        case (Seq(lo, hi), i) =>
          s"WHEN value > $lo AND value <= $hi THEN ${i + 1}"
        case _ => ""
      }.mkString(" ")
      seqPadSql(20,
        "et_idx, hr, dow, vbin",
        "0::BIGINT AS et_idx, 0::BIGINT AS hr, 0::BIGINT AS dow, " +
          "0::BIGINT AS vbin",
        s"""SELECT user_id, ts, event_id,
          |    (CASE event_type $etCase ELSE 0 END)::BIGINT AS et_idx,
          |    (hour(ts) + 1)::BIGINT AS hr,
          |    isodow(ts)::BIGINT AS dow,
          |    (CASE $vbinCase ELSE 0 END)::BIGINT AS vbin
          |  FROM events""".stripMargin)
    })

  private val q87: (String, QFn, Option[String]) = ("q87_vrae_seq_tensors",
    (s, d) => q83Sequences(s, d)
      .select(col("user_id"), posexplode(col("seq")))
      .select(Seq(col("user_id"), (col("pos") + 1).cast("long").as("pos"),
        // publish-point negzero normalization only (the encoder feed is
        // untouched): a z at an exact-mean point rounds to -0.0 in
        // DuckDB, +0.0 here — cum_z's sibling exposure
        (col("col").getItem(0) + lit(0.0)).as("z_amt"),
        // roundNz: the full-sequence cumulative z-sum is an exact
        // cancellation (~0 with a tiny negative residual) — DuckDB's round
        // keeps the sign (-0.0) where Spark lands on +0.0; 12 hash-red
        // cells at sf0.01 in r11. The oracle appends the same + 0.0.
        CrossRound.roundNz(col("col").getItem(1), 6).as("cum_z"),
        col("col").getItem(2).cast("long").as("td_rebased")) ++
        vocab.zipWithIndex.map { case (v, i) =>
          col("col").getItem(3 + i).cast("long").as(s"et_$v") }: _*),
    Some {
      val etFeats = vocab.map(v =>
        s"(CASE WHEN event_type = '$v' THEN 1 ELSE 0 END)::BIGINT AS et_$v")
        .mkString(", ")
      val etNames = vocab.map(v => s"et_$v").mkString(", ")
      val etZeros = vocab.map(v => s"0::BIGINT AS et_$v").mkString(", ")
      seqPadSql(24,
        s"z_amt + 0.0 AS z_amt, round(cum_z, 6) + 0.0 AS cum_z, " +
          s"td_rebased, $etNames",
        "0.0 AS z_amt, 0.0 AS cum_z, 0::BIGINT AS td_rebased, " + etZeros,
        s"""SELECT user_id, ts, event_id, z_amt,
          |    sum(z_amt) OVER (PARTITION BY user_id ORDER BY ts, event_id
          |      ROWS UNBOUNDED PRECEDING) AS cum_z,
          |    (floor(epoch_us(ts) / 3600000000)
          |     - first_value(floor(epoch_us(ts) / 3600000000))
          |       OVER (PARTITION BY user_id ORDER BY ts, event_id))
          |      ::BIGINT AS td_rebased, $etFeats
          |  FROM (SELECT *,
          |    round(CASE WHEN stddev_pop($svalSql) OVER p = 0
          |        OR stddev_pop($svalSql) OVER p IS NULL THEN 0
          |      ELSE ($svalSql - avg($svalSql) OVER p)
          |           / (stddev_pop($svalSql) OVER p) END, 6) AS z_amt
          |    FROM events WINDOW p AS (PARTITION BY user_id))""".stripMargin)
    })

  lazy val defs: Seq[(String, QFn, Option[String])] = Seq(q21, q22, q23, q24, q25, q26, q26b, q27, q28, q29, q30, q31, q32, q33, q34, q35, q36, q37, q38, q39, q40, q41, q42, q43, q84, q85, q80, q83, q86, q87)
}
