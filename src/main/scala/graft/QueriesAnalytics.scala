package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.CrossRound.round // shadows functions.round: cross-engine form
import graft.ops._
import graft.schema.Tables
import graft.Queries._

/** Driver-contract registry slice q61-q77: CDC deltas, graph ranking, incremental aggregates, robust statistics, calendar analytics, the sketch-accuracy audit and SCD2 history.
  * Shared helpers (sval/dec2/ev/freqCols/repairCtesSql/rtDir and the
  * float-determinism policy) live in [[Queries]]; registration order is
  * assembled there. */
private[graft] object QueriesAnalytics {

  // ------------------------------------------- CDC snapshot delta (digest)
  // Change-data-capture between two keyed snapshots WITHOUT comparing
  // columns one by one: each side carries an md5 row digest over its
  // canonicalized values (counts + DECIMAL-string money — no raw doubles
  // in the digest, double→string formatting is engine-specific), the full
  // outer join moves only (key, digest, values), and one digest compare
  // classifies insert/update/delete. Emitting ONLY the delta is the point:
  // at 100 TB the output is proportional to what changed, not to the
  // table. Snapshots here are two overlapping event samples (7-mod vs
  // 10-mod), so all three change classes occur.
  private val q61: (String, QFn, Option[String]) = ("q61_cdc_delta",
    (s, d) => {
      def snap(pred: Column) = ev(s, d).filter(pred)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"), sum(dec2(col("value"))).as("total"))
        .select(col("user_id"), col("n"), col("total"),
          md5(concat_ws("|", col("n"), col("total"))).as("dig"))
      val oldS = snap(col("event_id") % 10 =!= 0)
        .select(col("user_id"), col("n").as("old_n"),
          col("total").as("old_total"), col("dig").as("old_dig"))
      val newS = snap(col("event_id") % 7 =!= 0)
        .select(col("user_id"), col("n").as("new_n"),
          col("total").as("new_total"), col("dig").as("new_dig"))
      oldS.join(newS, Seq("user_id"), "full_outer")
        .withColumn("change_type",
          when(col("old_dig").isNull, "insert")
            .when(col("new_dig").isNull, "delete")
            .when(col("old_dig") =!= col("new_dig"), "update")
            .otherwise(lit("unchanged")))
        .filter(col("change_type") =!= "unchanged")
        .select(col("user_id"), col("change_type"),
          col("old_n"), col("new_n"),
          col("old_total").cast("double").as("old_total"),
          col("new_total").cast("double").as("new_total"))
    },
    Some("""WITH o AS (SELECT user_id, count(*)::BIGINT AS n,
      |  sum(CAST(value AS DECIMAL(18,2))) AS total
      |  FROM events WHERE event_id % 10 <> 0 GROUP BY 1),
      |n AS (SELECT user_id, count(*)::BIGINT AS n,
      |  sum(CAST(value AS DECIMAL(18,2))) AS total
      |  FROM events WHERE event_id % 7 <> 0 GROUP BY 1),
      |od AS (SELECT user_id, n AS old_n, total AS old_total,
      |  md5(n::VARCHAR || '|' || total::VARCHAR) AS old_dig FROM o),
      |nd AS (SELECT user_id, n AS new_n, total AS new_total,
      |  md5(n::VARCHAR || '|' || total::VARCHAR) AS new_dig FROM n),
      |j AS (SELECT coalesce(od.user_id, nd.user_id) AS user_id,
      |  old_n, new_n, old_total, new_total,
      |  CASE WHEN old_dig IS NULL THEN 'insert'
      |       WHEN new_dig IS NULL THEN 'delete'
      |       WHEN old_dig <> new_dig THEN 'update'
      |       ELSE 'unchanged' END AS change_type
      |  FROM od FULL OUTER JOIN nd ON od.user_id = nd.user_id)
      |SELECT user_id, change_type, old_n, new_n,
      | old_total::DOUBLE AS old_total, new_total::DOUBLE AS new_total
      |FROM j WHERE change_type <> 'unchanged'""".stripMargin))

  // ------------------------------------------------ PageRank (iterative)
  // Influence ranking over the bidirectional customer↔supplier trade
  // graph (edges from orders⋈lineitem) — the numeric iterative loop that
  // complements d10's label propagation. Each GraphRank iteration = one
  // edge⋈rank join + one decimal-exact aggregation; the oracle replays
  // the same 3 iterations as a finite CTE chain (see GraphRank scaladoc
  // for the cross-engine float policy).
  private val q62: (String, QFn, Option[String]) = ("q62_pagerank",
    (s, d) => {
      // one supplier edge per order (first line): a 4x smaller graph with
      // the same algorithmic shape — PageRank cost scales with |E| and the
      // l_linenumber=1 predicate pushes to the scan
      val base = Tables.orders(s, d)
        .join(Tables.lineitem(s, d).filter(col("l_linenumber") === 1),
          col("o_orderkey") === col("l_orderkey"))
        .select(concat(lit("c"), col("o_custkey")).as("src"),
          concat(lit("s"), col("l_suppkey")).as("dst"))
        .distinct()
      // mirroring two namespace-disjoint distinct sets ('c…'→'s…' and its
      // reverse) is distinct by construction — dedup BEFORE the mirror
      // shuffles half the rows, and pageRank skips its defensive distinct
      GraphRank.pageRank(
        base.union(base.select(col("dst").as("src"), col("src").as("dst"))),
        iters = 3, assumeDistinct = true)
    },
    Some {
      val iterCtes = (1 to 3).map { i =>
        s"""c$i AS (SELECT e.dst AS node,
           |    CAST(r.rank / deg.deg::DOUBLE AS DECIMAL(20,10)) AS c
           |  FROM edges e JOIN r${i - 1} r ON r.node = e.src
           |  JOIN deg ON deg.src = e.src),
           |s$i AS (SELECT node, sum(c) AS s FROM c$i GROUP BY 1),
           |r$i AS (SELECT n.node,
           |    CAST(round((1::DECIMAL(3,2) - 0.85) + 0.85
           |      * coalesce(s.s, 0::DECIMAL(20,10)), 6) AS DOUBLE) AS rank
           |  FROM nodes n LEFT JOIN s$i s USING (node))"""
          .stripMargin
      }.mkString(",\n")
      s"""WITH e0 AS (SELECT DISTINCT 'c' || o_custkey AS src,
        |    's' || l_suppkey AS dst
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |  WHERE l_linenumber = 1),
        |edges AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
        |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
        |nodes AS (SELECT src AS node FROM edges
        |  UNION SELECT dst FROM edges),
        |r0 AS (SELECT node, 1.0::DOUBLE AS rank FROM nodes),
        |$iterCtes
        |SELECT node, rank FROM r3""".stripMargin
    })

  // --------------------------------- incremental aggregate maintenance
  // Incremental view maintenance for a distributive aggregate: a standing
  // per-user (count, decimal total) built from history merges with a
  // delta batch by a keys-only outer join + component-wise ⊕ — history
  // raw data is never re-read. The oracle is the SEMANTIC definition
  // (recompute over ALL events), so the driver check asserts the IVM
  // correctness theorem itself: merge(agg(H), agg(Δ)) == agg(H ∪ Δ),
  // exact because decimal sums are associative and order-free. This is
  // the nightly-snapshot + hourly-delta shape that keeps a 100 TB fact
  // table's rollups fresh for the cost of the delta.
  private val q63: (String, QFn, Option[String]) = ("q63_incremental_agg",
    (s, d) => {
      def agg(pred: Column) = ev(s, d).filter(pred)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"), sum(dec2(col("value"))).as("t"))
      val hist = agg(col("event_id") % 10 =!= 0)
        .select(col("user_id"), col("n").as("hn"), col("t").as("ht"))
      val delta = agg(col("event_id") % 10 === 0)
        .select(col("user_id"), col("n").as("dn"), col("t").as("dt"))
      hist.join(delta, Seq("user_id"), "full_outer")
        .select(col("user_id"),
          (coalesce(col("hn"), lit(0L)) + coalesce(col("dn"), lit(0L)))
            .as("n_events"),
          (coalesce(col("ht"), lit(0).cast("decimal(18,2)"))
            + coalesce(col("dt"), lit(0).cast("decimal(18,2)")))
            .cast("double").as("total_value"))
    },
    Some("""SELECT user_id, count(*)::BIGINT AS n_events,
      | CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM events GROUP BY user_id""".stripMargin))

  // ------------------------------------------------ equi-depth binning
  // Learned quartile edges → bucketize → per-bin stats, with the edges
  // computed EXACTLY (np.percentile interpolation) by Quantiles'
  // distinct-value rank walk — no per-group array buffering (q12's trade)
  // and no approximation (q44's trade). The oracle affords the sorted
  // list and replays the same interpolation expression tree.
  private val q64: (String, QFn, Option[String]) = ("q64_equidepth_bins",
    (s, d) => {
      val sv = ev(s, d).select(col("event_type"), col("value"))
      val edges = Quantiles.exactGroupQuantiles(sv, col("event_type"),
          col("value"), Seq(0.25, 0.5, 0.75))
        .groupBy(col("grp").as("event_type"))
        .agg(max(when(col("frac") === 0.25, col("q"))).as("q1"),
          max(when(col("frac") === 0.5, col("q"))).as("q2"),
          max(when(col("frac") === 0.75, col("q"))).as("q3"))
      sv.join(broadcast(edges), Seq("event_type"))
        .withColumn("bin", when(col("value") <= col("q1"), 0L)
          .when(col("value") <= col("q2"), 1L)
          .when(col("value") <= col("q3"), 2L).otherwise(3L))
        .groupBy(col("event_type"), col("bin"))
        .agg(count(lit(1)).as("n"),
          moneySum(dec2(col("value"))).as("sum_value"),
          min(col("value")).as("min_value"),
          max(col("value")).as("max_value"))
    },
    Some {
      def interp(q: String) = interpSql(q)
      s"""WITH g AS (SELECT event_type, count(*) AS cnt,
        |  list_sort(list(value)) AS arr FROM events GROUP BY 1),
        |e AS (SELECT event_type, ${interp("0.25")} AS q1,
        |  ${interp("0.5")} AS q2, ${interp("0.75")} AS q3 FROM g),
        |b AS (SELECT ev.event_type,
        |  CASE WHEN value <= q1 THEN 0 WHEN value <= q2 THEN 1
        |       WHEN value <= q3 THEN 2 ELSE 3 END AS bin, value
        |  FROM events ev JOIN e USING (event_type))
        |SELECT event_type, bin::BIGINT AS bin, count(*)::BIGINT AS n,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        | min(value) AS min_value, max(value) AS max_value
        |FROM b GROUP BY 1, 2""".stripMargin
    })

  // -------------------------------------------- corrupt-tolerant ingest
  // Real feeds carry malformed records; the engine must quarantine, not
  // crash. Every 10th event serializes as TRUNCATED JSON; the PERMISSIVE
  // read nulls failed rows (detected via the never-null event_id — no
  // _corrupt_record reference, which Spark restricts), good rows
  // aggregate, and the quarantine count rides along. The oracle replays
  // the corruption rule against the source table.
  private val q65: (String, QFn, Option[String]) = ("q65_corrupt_tolerant",
    (s, d) => {
      val dir = rtDir("q65", d)
      // corruption must be TOTAL (not truncated JSON): PERMISSIVE keeps
      // any leading fields it managed to parse, so a prefix-valid record
      // would smuggle its event_id through the null-detection
      ev(s, d).select(
          when(col("event_id") % 10 === 0,
            concat(lit("#corrupt "), col("event_id")))
            .otherwise(to_json(struct(col("event_id"), col("user_id"),
              col("value"), col("event_type")))).as("value"))
        .write.mode("overwrite").text(dir)
      val schema = "event_id LONG, user_id LONG, value DOUBLE, " +
        "event_type STRING"
      val read = s.read.schema(schema).option("mode", "PERMISSIVE")
        .json(dir)
      val nCorrupt = read.filter(col("event_id").isNull)
        .agg(count(lit(1)).as("n_corrupt"))
      read.filter(col("event_id").isNotNull)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          moneySum(dec2(col("value"))).as("sum_value"))
        .crossJoin(broadcast(nCorrupt))
    },
    Some("""SELECT event_type, count(*)::BIGINT AS n,
      | CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
      | (SELECT count(*) FROM events WHERE event_id % 10 = 0)::BIGINT
      |   AS n_corrupt
      |FROM events WHERE event_id % 10 <> 0
      |GROUP BY event_type""".stripMargin))

  // ------------------------------------- dynamic partition overwrite
  // Partition-level upsert without Delta: the initial load lands STALE
  // data in the click partition (values zeroed); the refresh rewrites
  // ONLY that partition (partitionOverwriteMode=dynamic — a static
  // overwrite would delete every other partition and the oracle compare
  // would catch it). After the refresh the lake equals the source table.
  private val q66: (String, QFn, Option[String]) = ("q66_dynamic_overwrite",
    (s, d) => {
      val dir = rtDir("q66", d)
      val ev0 = ev(s, d).select(col("event_id"), col("user_id"),
        col("value"), col("event_type"))
      ev0.withColumn("value",
          when(col("event_type") === "click", 0.0).otherwise(col("value")))
        .write.mode("overwrite").partitionBy("event_type").parquet(dir)
      ev0.filter(col("event_type") === "click")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("event_type").parquet(dir)
      s.read.parquet(dir).groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          moneySum(dec2(col("value"))).as("sum_value"))
    },
    Some("""SELECT event_type, count(*)::BIGINT AS n,
      | CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY event_type""".stripMargin))

  // ------------------------------------------- MAD robust outliers
  // Median absolute deviation — the robust-statistics complement to
  // q12's percentile clamp (one extreme value corrupts a z-score's mean
  // AND σ; the median pair shrugs): per type, med = exact median of
  // value, MAD = exact median of |value − med|, outlier ⇔
  // |value − med| > 3·MAD. Both medians run through Quantiles'
  // distinct-value walk (bounded state, chained passes), and every
  // comparison happens on engine-identical doubles, so the oracle's
  // sorted-list medians replay the exact flag set.
  private val q67: (String, QFn, Option[String]) = ("q67_mad_outliers",
    (s, d) => {
      val sv = ev(s, d).select(col("event_type"), col("value"))
      val med = Quantiles.exactGroupQuantiles(sv, col("event_type"),
          col("value"), Seq(0.5))
        .select(col("grp").as("event_type"), col("q").as("med"))
      // dev feeds BOTH the MAD quantile pass and the final aggregate —
      // lazily each consumer re-ran the events scan + median join.
      // Checkpoint the three columns downstream actually reads (`value`
      // dies once _dev exists): measured r19 at sf0.1 3.07 → 2.37 s and
      // at sf1 3.36 → 2.63 s warm (the r18 "wrong trade at 100 TB"
      // guess did not survive the measurement the verdict asked for —
      // one narrow materialization beats two corpus scans).
      val dev = sv.join(broadcast(med), Seq("event_type"))
        .select(col("event_type"), col("med"),
          abs(col("value") - col("med")).as("_dev"))
        .localCheckpoint(true)
      val mad = Quantiles.exactGroupQuantiles(dev, col("event_type"),
          col("_dev"), Seq(0.5))
        .select(col("grp").as("event_type"), col("q").as("mad"))
      dev.join(broadcast(mad), Seq("event_type"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum((col("_dev") > lit(3.0) * col("mad")).cast("long"))
            .as("n_outliers"),
          round(max(col("med")), 6).as("med"),
          round(max(col("mad")), 6).as("mad"))
    },
    Some {
      def interp(q: String, arr: String, cnt: String) = interpSql(q, arr, cnt)
      s"""WITH g AS (SELECT event_type, count(*) AS cnt,
        |  list_sort(list(value)) AS arr FROM events GROUP BY 1),
        |m AS (SELECT event_type, ${interp("0.5", "arr", "cnt")} AS med
        |  FROM g),
        |dv AS (SELECT e.event_type, abs(e.value - m.med) AS dev, m.med
        |  FROM events e JOIN m USING (event_type)),
        |g2 AS (SELECT event_type, count(*) AS cnt,
        |  list_sort(list(dev)) AS arr FROM dv GROUP BY 1),
        |md AS (SELECT event_type, ${interp("0.5", "arr", "cnt")} AS mad
        |  FROM g2)
        |SELECT dv.event_type, count(*)::BIGINT AS n,
        | sum(CASE WHEN dev > 3.0 * mad THEN 1 ELSE 0 END)::BIGINT
        |   AS n_outliers,
        | round(max(dv.med), 6) AS med, round(max(md.mad), 6) AS mad
        |FROM dv JOIN md USING (event_type)
        |GROUP BY dv.event_type""".stripMargin
    })

  // ------------------------------------------- data-quality audit gate
  // The deequ-style ingest contract: five named checks (null rates, key
  // uniqueness, vocabulary width, value bounds) computed in ONE
  // aggregation pass, reported one row per rule. An ETL job gates a
  // load on `min(pass) == 1`; the driver check verifies the whole
  // report against SQL-recomputed metrics.
  private val q68: (String, QFn, Option[String]) = ("q68_dq_audit",
    (s, d) => DataQuality.audit(ev(s, d), Seq(
      DataQuality.AuditRule("event_id_not_null",
        sum(col("event_id").isNull.cast("long")).cast("double")
          / count(lit(1)), _ === 0.0),
      DataQuality.AuditRule("event_id_unique",
        (count(lit(1)) - countDistinct(col("event_id"))).cast("double"),
        _ === 0.0),
      DataQuality.AuditRule("value_not_null",
        sum(col("value").isNull.cast("long")).cast("double")
          / count(lit(1)), _ === 0.0),
      DataQuality.AuditRule("type_vocab_bounded",
        countDistinct(col("event_type")).cast("double"), _ <= 5.0),
      DataQuality.AuditRule("value_nonnegative",
        min(col("value")), _ >= 0.0))),
    Some("""WITH a AS (SELECT count(*)::DOUBLE AS cnt,
      |  sum(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END)::DOUBLE AS idn,
      |  (count(*) - count(DISTINCT event_id))::DOUBLE AS dup,
      |  sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END)::DOUBLE AS vn,
      |  count(DISTINCT event_type)::DOUBLE AS tv,
      |  min(value) AS mv
      |  FROM events)
      |SELECT 'event_id_not_null' AS rule, idn / cnt AS observed,
      |  (idn / cnt = 0.0)::BIGINT AS pass FROM a
      |UNION ALL SELECT 'event_id_unique', dup, (dup = 0.0)::BIGINT FROM a
      |UNION ALL SELECT 'value_not_null', vn / cnt,
      |  (vn / cnt = 0.0)::BIGINT FROM a
      |UNION ALL SELECT 'type_vocab_bounded', tv, (tv <= 5.0)::BIGINT FROM a
      |UNION ALL SELECT 'value_nonnegative', mv, (mv >= 0.0)::BIGINT
      |  FROM a""".stripMargin))

  // ------------------------------------------------- unpivot / melt
  // The inverse of the pivot family: a wide per-user count matrix melts
  // back to long via Dataset.unpivot (ANSI UNPIVOT), dropping the zero
  // cells the wide form materialized. Round-tripping pivot → unpivot →
  // filter must equal the direct long aggregate — the oracle IS that
  // direct form.
  private val q69: (String, QFn, Option[String]) = ("q69_unpivot",
    (s, d) => {
      val aggs = vocab.map(v =>
        count(when(col("event_type") === v, 1)).as(v))
      val wide = ev(s, d).groupBy(col("user_id"))
        .agg(aggs.head, aggs.tail: _*)
      wide.unpivot(Array(col("user_id")), vocab.map(col).toArray,
          "event_type", "n")
        .filter(col("n") > 0)
    },
    Some("""SELECT user_id, event_type, count(*)::BIGINT AS n
      |FROM events GROUP BY 1, 2""".stripMargin))

  // ---------------------------------------------- hopping time windows
  // Overlapping (sliding) event-time windows in BATCH: 1-hour windows
  // every 30 minutes — each event lands in exactly two, which is the
  // trend-smoothing aggregation monitoring uses. Spark's window() emits
  // struct starts aligned to the epoch grid; the oracle replays the two
  // covering windows per event with integer µs floor-division.
  private val q70: (String, QFn, Option[String]) = ("q70_hopping_window",
    (s, d) => ev(s, d)
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        moneySum(dec2(col("value"))).as("sum_value"))
      .select(col("w.start").as("win_start"), col("event_type"),
        col("n"), col("sum_value")),
    Some("""WITH x AS (SELECT event_type, value, epoch_us(ts) AS eu
      |  FROM events),
      |u AS (SELECT event_type, value, unnest([
      |    make_timestamp((eu // 1800000000) * 1800000000),
      |    make_timestamp((eu // 1800000000) * 1800000000 - 1800000000)
      |  ]) AS win_start FROM x)
      |SELECT win_start, event_type, count(*)::BIGINT AS n,
      | CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM u GROUP BY 1, 2""".stripMargin))

  // --------------------------------------- feature correlation matrix
  // Pearson correlation between per-user spend features, with every
  // MOMENT decimal-exact: per-user totals are narrowed to DECIMAL(15,2)
  // (covers 10^13 cents per user), so products are DECIMAL(31,4) and the
  // moment sums — which Spark caps at DECIMAL(38,4) — keep 10^7 digits'
  // worth of headroom above the max single product (the SUM cap, not the
  // product cap, is the binding constraint at scale: 18,2-wide totals
  // would leave ONE decimal digit and a non-ANSI overflow silently nulls
  // the correlation). At the 38,4 cap the exact form holds ~10^8 users at
  // max-magnitude totals; Σx, Σy, Σxy, Σx², Σy² stay order-independent
  // integers in disguise. Only the final textbook formula runs in IEEE
  // doubles (identical expression tree both engines), rounded 6 dp. The
  // breadth complement to e08's per-dim variance: cross-feature
  // diagnostics.
  private val q71: (String, QFn, Option[String]) = ("q71_correlation",
    (s, d) => {
      val perUser = ev(s, d).groupBy(col("user_id")).agg(
        coalesce(sum(when(col("event_type") === "click",
          dec2(col("value")))), lit(0).cast("decimal(18,2)"))
          .cast("decimal(15,2)").as("x"),
        coalesce(sum(when(col("event_type") === "purchase",
          dec2(col("value")))), lit(0).cast("decimal(18,2)"))
          .cast("decimal(15,2)").as("y"),
        coalesce(sum(when(col("event_type") === "view",
          dec2(col("value")))), lit(0).cast("decimal(18,2)"))
          .cast("decimal(15,2)").as("z"))
      def corrOf(a: Column, b: Column): Column = {
        val n = count(lit(1)).cast("double")
        val num = (n * sum(a * b).cast("double")
          - sum(a).cast("double") * sum(b).cast("double"))
        val dx = (n * sum(a * a).cast("double")
          - sum(a).cast("double") * sum(a).cast("double"))
        val dy = (n * sum(b * b).cast("double")
          - sum(b).cast("double") * sum(b).cast("double"))
        // correlation is signed: exact cancellation lands on ±0.0 —
        // roundNz + oracle '+ 0.0' (registry float policy, r13 audit)
        CrossRound.roundNz(num / sqrt(dx * dy), 6)
      }
      perUser.agg(count(lit(1)).as("n_users"),
        corrOf(col("x"), col("y")).as("r_click_purchase"),
        corrOf(col("x"), col("z")).as("r_click_view"),
        corrOf(col("y"), col("z")).as("r_purchase_view"))
    },
    Some {
      def corrSql(a: String, b: String) =
        s"""round((count(*)::DOUBLE * sum($a * $b)::DOUBLE
           | - sum($a)::DOUBLE * sum($b)::DOUBLE)
           | / sqrt((count(*)::DOUBLE * sum($a * $a)::DOUBLE
           |     - sum($a)::DOUBLE * sum($a)::DOUBLE)
           |   * (count(*)::DOUBLE * sum($b * $b)::DOUBLE
           |     - sum($b)::DOUBLE * sum($b)::DOUBLE)), 6) + 0.0"""
          .stripMargin.replaceAll("\n", "")
      s"""WITH u AS (SELECT user_id,
        |  CAST(coalesce(sum(CASE WHEN event_type = 'click'
        |    THEN CAST(value AS DECIMAL(18,2)) END), 0)
        |    AS DECIMAL(15,2)) AS x,
        |  CAST(coalesce(sum(CASE WHEN event_type = 'purchase'
        |    THEN CAST(value AS DECIMAL(18,2)) END), 0)
        |    AS DECIMAL(15,2)) AS y,
        |  CAST(coalesce(sum(CASE WHEN event_type = 'view'
        |    THEN CAST(value AS DECIMAL(18,2)) END), 0)
        |    AS DECIMAL(15,2)) AS z
        |  FROM events GROUP BY user_id)
        |SELECT count(*)::BIGINT AS n_users,
        | ${corrSql("x", "y")} AS r_click_purchase,
        | ${corrSql("x", "z")} AS r_click_view,
        | ${corrSql("y", "z")} AS r_purchase_view
        |FROM u""".stripMargin
    })

  // --------------------------------------- entity resolution (blocked)
  // Fuzzy record linkage with the classic two-stage shape: BLOCK first
  // (equi-join on (nation, BANDED name length) — candidate pairs bounded
  // per block, never |customers|²), then VERIFY with edit distance on
  // candidates only (the d35 discipline applied to structured records).
  // The band is ±2: levenshtein ≤ 2 can change the length by up to two
  // (two insertions/deletions) — blocking on EXACT length, as this query
  // did through round 6, silently missed every true duplicate whose typo
  // changed the length, i.e. precisely the case edit distance exists for.
  // The probe side explodes its length into the five keys len-2..len+2
  // while the build side keeps its exact length, so a pair with
  // |Δlen| ≤ 2 matches on exactly ONE key (probe key = build len): no
  // distinct-dedup pass, still a pure equi-join, 5× candidates not 25×.
  // Pairs within distance 2 are potential duplicates for a steward
  // queue; at scale only the block key changes, not the plan.
  //
  // BLOCK-BUDGET THINNING (the d05 df-cutoff applied to ER blocking, aka
  // block purging in the blocking literature): a (nation, length) block
  // with more than `erBlockBudget` members means the blocking key has
  // stopped discriminating, and exact pair verification inside it is
  // quadratic noise — each oversized block is deterministically thinned
  // to ~budget rows by a content-addressed md5 coin (the q41 sampling
  // idiom: stable across runs, engines and partitionings, and replayed
  // verbatim by the oracle). At sf0.01/sf0.1 every block is under budget
  // and the output is bit-identical to the uncapped form; at sf1+ the
  // blocked-verify cost is bounded by nations × C(budget, 2) instead of
  // growing with |customers|² — the scale sweep measured the uncapped
  // form at 37.6x for 10x data (SCALE.md). The uncapped exact baseline
  // role passes to q81/q82's SNM + native-JW pipeline.
  private val erBlockBudget = 1000
  private val q72: (String, QFn, Option[String]) = ("q72_entity_resolution",
    (s, d) => {
      val c0 = Tables.customer(s, d).select(col("c_custkey").as("id"),
        col("c_name").as("name"), col("c_nationkey").as("nat"),
        length(col("c_name")).as("_len"))
      // block sizes via a BROADCAST-joined aggregate, NOT a window: a
      // window over (nat, len) would re-partition the probe side onto
      // ~25 block keys and the verify stage would run block-wide and
      // skewed (measured 1.45s -> 15.4s at sf0.1); the count table is
      // nations x lengths rows, so the enrichment is a map-side join
      // that leaves the scan partitioning intact
      val blockCnt = c0.groupBy(col("nat"), col("_len"))
        .agg(count(lit(1)).as("_cnt"))
      val frac = Sampling.hashUniform(col("id"), lit("erblk"))
      val c = c0.join(broadcast(blockCnt), Seq("nat", "_len"))
        .filter(col("_cnt") <= erBlockBudget ||
          frac < lit(erBlockBudget.toDouble) / col("_cnt"))
        .drop("_cnt")
      c.select(col("id").as("a"), col("name").as("na"), col("nat"),
          explode(array((-2 to 2).map(o => col("_len") + o): _*)).as("_blk"))
        .join(c.select(col("id").as("b"), col("name").as("nb"),
          col("nat"), col("_len").as("_blk")), Seq("nat", "_blk"))
        .filter(col("a") < col("b"))
        .withColumn("dist", levenshtein(col("na"), col("nb")))
        .filter(col("dist") <= 2)
        .groupBy(col("nat"))
        .agg(count(lit(1)).as("n_pairs"), min(col("dist")).as("min_dist"))
    },
    Some(s"""WITH bc AS (SELECT c_nationkey AS nat, length(c_name) AS len,
      |  count(*) AS cnt FROM customer GROUP BY 1, 2),
      |c AS (SELECT c_custkey AS id, c_name AS name,
      |  c_nationkey AS nat, length(c_name) AS len
      |  FROM customer JOIN bc ON c_nationkey = bc.nat
      |   AND length(c_name) = bc.len
      |  WHERE cnt <= $erBlockBudget
      |   OR ('0x'||substr(md5(c_custkey::VARCHAR||'#erblk'),1,15))::BIGINT
      |      / 1152921504606846976.0 < $erBlockBudget.0 / cnt),
      |a AS (SELECT id, name, nat,
      |  unnest([len - 2, len - 1, len, len + 1, len + 2]) AS blk FROM c),
      |p AS (SELECT x.nat, levenshtein(x.name, y.name) AS dist
      |  FROM a x JOIN c y ON x.nat = y.nat AND x.blk = y.len
      |   AND x.id < y.id)
      |SELECT nat, count(*)::BIGINT AS n_pairs,
      | min(dist)::BIGINT AS min_dist
      |FROM p WHERE dist <= 2 GROUP BY nat""".stripMargin))

  // --------------------------------------- percent-of-parent hierarchy
  // BI-style hierarchical shares: revenue per (region, nation) with each
  // nation's share of its region and each region's share of the total —
  // windows over the AGGREGATED frame (region-count-sized), never over
  // fact rows; decimal-exact revenue so the ratios are noise-free.
  private val q73: (String, QFn, Option[String]) = ("q73_pct_of_parent",
    (s, d) => {
      val rev = Tables.lineitem(s, d)
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(sum(dec2(col("l_extendedprice"))).as("rev"))
      val wr = Window.partitionBy(col("r_name"))
      val wAll = Window.partitionBy()
      rev.select(col("r_name"), col("n_name"),
          col("rev").cast("double").as("revenue"),
          round(col("rev").cast("double")
            / sum(col("rev")).over(wr).cast("double"), 6)
            .as("pct_of_region"),
          round(sum(col("rev")).over(wr).cast("double")
            / sum(col("rev")).over(wAll).cast("double"), 6)
            .as("region_pct_of_total"))
    },
    Some("""WITH rev AS (SELECT r_name, n_name,
      |  sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS rev
      |  FROM lineitem
      |   JOIN orders ON l_orderkey = o_orderkey
      |   JOIN customer ON o_custkey = c_custkey
      |   JOIN nation ON c_nationkey = n_nationkey
      |   JOIN region ON n_regionkey = r_regionkey
      |  GROUP BY 1, 2)
      |SELECT r_name, n_name, rev::DOUBLE AS revenue,
      | round(rev::DOUBLE
      |   / (sum(rev) OVER (PARTITION BY r_name))::DOUBLE, 6)
      |   AS pct_of_region,
      | round((sum(rev) OVER (PARTITION BY r_name))::DOUBLE
      |   / (sum(rev) OVER ())::DOUBLE, 6) AS region_pct_of_total
      |FROM rev""".stripMargin))

  // ------------------------------------------------ winsorized mean
  // The third robust-stats form (q12 repairs, q67 flags, this AGGREGATES
  // robustly): clamp values at the exact [p05, p95] quantiles, then a
  // decimal-exact mean of the clamped values — the headline metric that
  // one fat-finger row can no longer move. Clamped doubles pass through
  // DECIMAL(18,6) (half-up both engines) so the mean is order-free.
  private val q74: (String, QFn, Option[String]) = ("q74_winsorized_mean",
    (s, d) => {
      val sv = ev(s, d).select(col("event_type"), col("value"))
      val edges = Quantiles.exactGroupQuantiles(sv, col("event_type"),
          col("value"), Seq(0.05, 0.95))
        .groupBy(col("grp").as("event_type"))
        .agg(max(when(col("frac") === 0.05, col("q"))).as("lo"),
          max(when(col("frac") === 0.95, col("q"))).as("hi"))
      sv.join(broadcast(edges), Seq("event_type"))
        .withColumn("_w", least(greatest(col("value"), col("lo")),
          col("hi")).cast("decimal(18,6)"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("_w")).cast("double") / count(lit(1)), 6)
            .as("winsorized_mean"),
          round(sum(dec2(col("value"))).cast("double") / count(lit(1)), 6)
            .as("raw_mean"))
    },
    Some {
      def interp(q: String) = interpSql(q)
      s"""WITH g AS (SELECT event_type, count(*) AS cnt,
        |  list_sort(list(value)) AS arr FROM events GROUP BY 1),
        |e AS (SELECT event_type, ${interp("0.05")} AS lo,
        |  ${interp("0.95")} AS hi FROM g),
        |w AS (SELECT ev.event_type,
        |  CAST(least(greatest(value, lo), hi) AS DECIMAL(18,6)) AS wv,
        |  CAST(value AS DECIMAL(18,2)) AS rv
        |  FROM events ev JOIN e USING (event_type))
        |SELECT event_type, count(*)::BIGINT AS n,
        | round(sum(wv)::DOUBLE / count(*), 6) AS winsorized_mean,
        | round(sum(rv)::DOUBLE / count(*), 6) AS raw_mean
        |FROM w GROUP BY 1""".stripMargin
    })

  // --------------------------------------- calendar gap fill + carry
  // Time-series regularization: a per-user DAILY spine (sequence from the
  // user's first to last active day), daily totals left-joined onto it,
  // gaps forward-filled with the last known total (ignore-nulls window).
  // The spine explode is bounded by each user's active SPAN, the fill
  // window rides the one user shuffle, and totals stay decimal-exact —
  // this is the resample().ffill() of the pandas world as one plan.
  private val q75: (String, QFn, Option[String]) = ("q75_gap_fill",
    (s, d) => {
      val daily = ev(s, d)
        .groupBy(col("user_id"), date_trunc("day", col("ts")).as("day"))
        .agg(sum(dec2(col("value"))).as("total"))
      val spine = daily.groupBy(col("user_id"))
        .agg(min(col("day")).as("_d0"), max(col("day")).as("_d1"))
        .select(col("user_id"), explode(sequence(col("_d0"), col("_d1"),
          expr("INTERVAL 1 DAY"))).as("day"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      spine.join(daily, Seq("user_id", "day"), "left")
        .select(col("user_id"), col("day"),
          coalesce(col("total"), lit(0).cast("decimal(18,2)"))
            .cast("double").as("day_total"),
          last(col("total"), ignoreNulls = true).over(w)
            .cast("double").as("carried"),
          col("total").isNull.cast("long").as("is_gap"))
    },
    Some("""WITH t AS (SELECT user_id, date_trunc('day', ts) AS day,
      |  sum(CAST(value AS DECIMAL(18,2))) AS total
      |  FROM events GROUP BY 1, 2),
      |b AS (SELECT user_id, min(day) AS d0, max(day) AS d1
      |  FROM t GROUP BY 1),
      |spine AS (SELECT user_id,
      |  unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day FROM b),
      |j AS (SELECT spine.user_id, spine.day, t.total
      |  FROM spine LEFT JOIN t USING (user_id, day))
      |SELECT user_id, day, coalesce(total, 0)::DOUBLE AS day_total,
      | (last_value(total IGNORE NULLS) OVER (PARTITION BY user_id
      |   ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |  )::DOUBLE AS carried,
      | (total IS NULL)::BIGINT AS is_gap
      |FROM j""".stripMargin))


  // ------------------------------------- sketch-accuracy audit (q44 vs q64)
  // How wrong IS the bounded-state quantile sketch? The repo ships three
  // percentile paths (q12 exact-but-buffering, q64/Quantiles exact with
  // distinct-value state, q44 histogram sketch with bins-bounded state);
  // this row makes the sketch's error DRIVER-VISIBLE instead of a scaladoc
  // claim — the same composition move as e09 (ANN recall) and d48 (candidate
  // recall): both sides reuse the audited queries' own fn/SQL, so the audit
  // can't drift from what it audits. All published values are integer
  // micros (q44's rule): abs_err_us = |est_micros - floor(exact*1e6)| is
  // BIGINT arithmetic end to end, so no double ever reaches the hash.
  private val q76: (String, QFn, Option[String]) = ("q76_sketch_accuracy",
    (s, d) => {
      val e = ev(s, d)
      val fracs = Seq(0.5, 0.9, 0.99)
      val sketch = Histogram.quantiles(e, col("event_type"), col("value"),
          32, fracs)
        .select(col("grp").as("event_type"), col("q"), col("est_micros"))
      val exact = Quantiles.exactGroupQuantiles(
          e.select(col("event_type"), col("value")), col("event_type"),
          col("value"), fracs)
        .select(col("grp").as("event_type"), col("frac"),
          CrossRound.micros(col("q")).as("_exact_us"))
      sketch.join(exact, sketch("event_type") === exact("event_type")
          && sketch("q") === exact("frac"))
        .select(sketch("event_type"), sketch("q"), col("est_micros"),
          col("_exact_us").as("exact_micros"),
          abs(col("est_micros") - col("_exact_us")).as("abs_err_us"))
    },
    Some {
      def interp(q: String) = interpSql(q)
      s"""WITH sk AS (${QueriesScale.histQuantileSql}),
        |g AS (SELECT event_type, count(*) AS cnt,
        |  list_sort(list(value)) AS arr FROM events GROUP BY 1),
        |qq AS (SELECT unnest([0.5::DOUBLE, 0.9::DOUBLE, 0.99::DOUBLE])
        |  AS q),
        |ex AS (SELECT event_type, q,
        |  floor((${interp("q")}) * 1e6)::BIGINT AS exact_micros
        |  FROM g CROSS JOIN qq)
        |SELECT sk.event_type, sk.q, sk.est_micros,
        | ex.exact_micros,
        | abs(sk.est_micros - ex.exact_micros) AS abs_err_us
        |FROM sk JOIN ex ON sk.event_type = ex.event_type
        | AND sk.q = ex.q""".stripMargin
    })

  // ---------------------------------------- SCD2 history (change-log compaction)
  // The slowly-changing-dimension build q61's digest delta doesn't cover:
  // compact each user's event_type CHANGE LOG into type-2 validity rows
  // (event_type, valid_from, valid_to, version) — consecutive repeats
  // collapse, the open row carries NULL valid_to. One user shuffle: the
  // change-detection window and the interval-close window share the same
  // partitioning+ordering, so the second rides the first's exchange and
  // sort (two Window operators — the Filter between them rules out
  // CollapseWindow fusion — but zero extra shuffles); output is
  // proportional to state CHANGES, not events — the compaction that
  // keeps a 100 TB dimension history queryable. Timestamps ship as exact
  // integer micros (s01's rule); ordering ties break on event_id.
  private val q77: (String, QFn, Option[String]) = ("q77_scd2_history",
    (s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(ord: _*)
      val changes = ev(s, d)
        .withColumn("_prev", lag(col("event_type"), 1).over(w))
        .filter(col("_prev").isNull || col("_prev") =!= col("event_type"))
      changes.select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("valid_from_us"),
        unix_micros(lead(col("ts"), 1).over(w)).as("valid_to_us"),
        row_number().over(w).cast("long").as("version"))
    },
    Some("""WITH c AS (SELECT user_id, event_type, ts, event_id,
      |  lag(event_type) OVER (PARTITION BY user_id
      |    ORDER BY ts, event_id) AS prev
      |  FROM events),
      |ch AS (SELECT user_id, event_type, ts, event_id FROM c
      |  WHERE prev IS NULL OR prev <> event_type)
      |SELECT user_id, event_type, epoch_us(ts) AS valid_from_us,
      | epoch_us(lead(ts) OVER (PARTITION BY user_id
      |   ORDER BY ts, event_id)) AS valid_to_us,
      | row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |   AS version
      |FROM ch""".stripMargin))

  // ----------------------------------- runtime bloom-filter join pruning
  // The 100 TB selective-join mechanism: when a dim-side predicate keeps a
  // sliver, Spark's InjectRuntimeFilter builds a bloom filter over the
  // kept join keys at runtime and pushes `might_contain` onto the fact
  // scan — rows that can't join die BEFORE the shuffle (at real fact/dim
  // sizes the default thresholds enable it; the tiny testdata needs the
  // app-side floor dropped to 0, and broadcast disabled so a shuffle join
  // exists to prune — a 100 TB fact side is past the broadcast ceiling
  // anyway). PlanShapeSpec asserts might_contain lands on the fact side;
  // here the eager q46-style materialize keeps the conf flips scoped to
  // this query. Result is a plain join — oracle unaffected.
  private val q78: (String, QFn, Option[String]) = ("q78_runtime_filter",
    (s, d) => {
      val dir = rtDir("q78", d)
      val keys = Seq(
        "spark.sql.optimizer.runtime.bloomFilter.enabled",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        "spark.sql.autoBroadcastJoinThreshold")
      val saved = keys.map(k => k -> s.conf.get(k))
      try {
        s.conf.set(keys(0), "true")
        s.conf.set(keys(1), "0")
        s.conf.set(keys(2), "-1")
        // raw scans, NOT Tables.load: its single-row-group repartition
        // crutch sits between scan and join, and InjectRuntimeFilter's
        // application-side traversal stops at a user Repartition — on
        // splittable production inputs the crutch doesn't exist
        s.read.parquet(s"$d/lineitem.parquet")
          .join(s.read.parquet(s"$d/orders.parquet")
              .filter(col("o_orderpriority") === "1-URGENT"),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n_items"),
            moneySum(dec2(col("l_extendedprice"))).as("revenue"))
          .write.mode("overwrite").parquet(dir)
      } finally saved.foreach { case (k, v) => s.conf.set(k, v) }
      s.read.parquet(dir)
    },
    Some("""SELECT o_orderpriority, count(*) AS n_items,
      | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
      |   AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE o_orderpriority = '1-URGENT'
      |GROUP BY o_orderpriority""".stripMargin))

  // ------------------------------------------- Z-order (Morton) layout key
  // Multi-column data skipping's sort key: interleaving the bits of two
  // quantized dimensions makes 1-D ranges into 2-D locality cells, so
  // min/max zone maps prune scans filtered on EITHER column (a plain sort
  // on (a, b) only prunes on a). Pure 64-bit shift/mask projection, so the
  // oracle replays the key bit-for-bit via the same generated expression;
  // ZOrderSpec proves the locality property (aligned z-ranges = square
  // cells) and that layoutBy yields disjoint per-partition z-ranges — the
  // zone-map precondition.
  private val q79: (String, QFn, Option[String]) = ("q79_zorder_key",
    (s, d) => ev(s, d).select(col("event_id"),
      ZOrder.zValue(col("user_id") % 256, col("event_id") % 256, 8).as("z")),
    Some(s"""SELECT event_id,
      | ${ZOrder.zValueSql("(user_id % 256)", "(event_id % 256)", 8)} AS z
      |FROM events""".stripMargin))

  // ------------------------- entity resolution, sorted-neighborhood form
  // The LINEAR-scaling alternative to q72's blocking: the 10x scale bench
  // measured q72 at 29x for 10x data — with near-identical synthetic names
  // the (nation, length) block key's cardinality does not grow with the
  // data, so candidate pairs grow as Σ C(|block|, 2), i.e. quadratically.
  // Sorted-neighborhood caps candidates at n × w REGARDLESS of block
  // sizes: one global order over (nation, name, id) — materialized as a
  // rank via the d37/d61 DISTRIBUTED prefix sum, never a single-task
  // global window — and each record pairs with its next w neighbors via a
  // rank equi-join (explode of w offsets). Same verify stage and output
  // shape as q72; SNM is deliberately approximate (a true duplicate > w
  // positions away in sort order is missed — the standard recall/cost
  // trade, tuned by w). Measured at sf1: linear, vs q72's 49s.
  private val q81: (String, QFn, Option[String]) = ("q81_entity_snm",
    (s, d) => {
      val w = 5
      val c = Tables.customer(s, d).select(col("c_custkey").as("id"),
        col("c_name").as("name"), col("c_nationkey").as("nat"))
      val keyed = c.withColumn("sk", concat(
        lpad(col("nat").cast("string"), 4, "0"), col("name"),
        lpad(col("id").cast("string"), 14, "0")))
      val ranked = Sequences.globalCumsum(keyed, "sk", lit(1L), "rk")
      val probe = ranked.select(col("id").as("a"), col("name").as("na"),
          col("nat"),
          explode(array((1 to w).map(o => col("rk") + o): _*)).as("rk"))
      probe.join(ranked.select(col("id").as("b"), col("name").as("nb"),
          col("nat").as("_natb"), col("rk")), Seq("rk"))
        .filter(col("nat") === col("_natb"))
        .withColumn("dist", levenshtein(col("na"), col("nb")))
        .filter(col("dist") <= 2)
        .groupBy(col("nat"))
        .agg(count(lit(1)).as("n_pairs"), min(col("dist")).as("min_dist"))
    },
    Some("""WITH c AS (SELECT c_custkey AS id, c_name AS name,
      |  c_nationkey AS nat,
      |  lpad(c_nationkey::VARCHAR, 4, '0') || c_name ||
      |    lpad(c_custkey::VARCHAR, 14, '0') AS sk
      |  FROM customer),
      |r AS (SELECT id, name, nat,
      |  row_number() OVER (ORDER BY sk) AS rk FROM c),
      |p AS (SELECT x.nat, levenshtein(x.name, y.name) AS dist
      |  FROM r x JOIN r y ON y.rk - x.rk BETWEEN 1 AND 5
      |   AND x.nat = y.nat)
      |SELECT nat, count(*)::BIGINT AS n_pairs,
      | min(dist)::BIGINT AS min_dist
      |FROM p WHERE dist <= 2 GROUP BY nat""".stripMargin))

  // ---------------- entity resolution, Jaro-Winkler verify (native expr)
  // q81's SNM candidate machinery with the VERIFY stage swapped from
  // levenshtein to the native jaro_winkler expression (the standard name-
  // matching score: length-normalized, prefix-rewarding — a one-char typo
  // in a 20-char name scores 0.97 where edit distance treats it like a
  // one-char change in a 3-char name). The expression's static-call
  // codegen keeps the per-pair loop inside whole-stage codegen; scores
  // emit at round(6) BEFORE the >= 0.9 keep filter so the boundary
  // decision replays identically in DuckDB's jaro_winkler_similarity
  // (JaroWinklerSpec pins 10-digit agreement on the algorithm's edge
  // cases). Same n × w candidate bound and aggregate shape as q81.
  private val q82: (String, QFn, Option[String]) = ("q82_entity_jw",
    (s, d) => {
      val w = 5
      val c = Tables.customer(s, d).select(col("c_custkey").as("id"),
        col("c_name").as("name"), col("c_nationkey").as("nat"))
      val keyed = c.withColumn("sk", concat(
        lpad(col("nat").cast("string"), 4, "0"), col("name"),
        lpad(col("id").cast("string"), 14, "0")))
      val ranked = Sequences.globalCumsum(keyed, "sk", lit(1L), "rk")
      val probe = ranked.select(col("id").as("a"), col("name").as("na"),
          col("nat"),
          explode(array((1 to w).map(o => col("rk") + o): _*)).as("rk"))
      probe.join(ranked.select(col("id").as("b"), col("name").as("nb"),
          col("nat").as("_natb"), col("rk")), Seq("rk"))
        .filter(col("nat") === col("_natb"))
        .withColumn("jw", round(
          graft.functions.JaroWinkler(col("na"), col("nb")), 6))
        .filter(col("jw") >= 0.9)
        .groupBy(col("nat"))
        .agg(count(lit(1)).as("n_pairs"), max(col("jw")).as("max_jw"),
          min(col("jw")).as("min_jw"))
    },
    Some("""WITH c AS (SELECT c_custkey AS id, c_name AS name,
      |  c_nationkey AS nat,
      |  lpad(c_nationkey::VARCHAR, 4, '0') || c_name ||
      |    lpad(c_custkey::VARCHAR, 14, '0') AS sk
      |  FROM customer),
      |r AS (SELECT id, name, nat,
      |  row_number() OVER (ORDER BY sk) AS rk FROM c),
      |p AS (SELECT x.nat,
      |  round(jaro_winkler_similarity(x.name, y.name), 6) AS jw
      |  FROM r x JOIN r y ON y.rk - x.rk BETWEEN 1 AND 5
      |   AND x.nat = y.nat)
      |SELECT nat, count(*)::BIGINT AS n_pairs, max(jw) AS max_jw,
      | min(jw) AS min_jw
      |FROM p WHERE jw >= 0.9 GROUP BY nat""".stripMargin))

  lazy val defs: Seq[(String, QFn, Option[String])] = Seq(q61, q62, q63, q64, q65, q66, q67, q68, q69, q70, q71, q72, q73, q74, q75, q76, q77, q78, q79, q81, q82)
}
