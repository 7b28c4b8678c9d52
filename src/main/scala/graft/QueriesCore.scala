package graft

import org.apache.spark.sql.functions._
import graft.ops.CrossRound.round // shadows functions.round: cross-engine form
import graft.ops._
import graft.Queries._

/** Driver-contract registry slice q01-q20: the reference pipeline's per-operator inventory (SURVEY.md §2 P/A/W/E rows) over the events table.
  * Shared helpers (sval/dec2/ev/freqCols/repairCtesSql/rtDir and the
  * float-determinism policy) live in [[Queries]]; registration order is
  * assembled there. */
private[graft] object QueriesCore {

  // ---------------------------------------------------------------- P4/P5
  private val q01: (String, QFn, Option[String]) = ("q01_time_attrs",
    (s, d) => ev(s, d).select(
      col("event_id"), col("user_id"),
      hour(col("ts")).cast("long").as("hour_of_day"),
      TimeFeatures.dayOfWeekMon0(col("ts")).cast("long").as("day_of_week"),
      dayofmonth(col("ts")).cast("long").as("day_of_month"),
      month(col("ts")).cast("long").as("month"),
      TimeFeatures.secondsSinceMidnight(col("ts")).cast("long").as("time_day")),
    Some("""SELECT event_id, user_id, hour(ts) AS hour_of_day,
      | isodow(ts) - 1 AS day_of_week, day(ts) AS day_of_month,
      | month(ts) AS month,
      | hour(ts)*3600 + minute(ts)*60 + second(ts) AS time_day
      |FROM events""".stripMargin))

  // ------------------------------------------------------------------ P7/P9
  private val q02: (String, QFn, Option[String]) = ("q02_signed_split",
    (s, d) => {
      val sv = sval
      ev(s, d).select(col("event_id"), sv.as("sval"),
        coalesce(DebitCredit.debit(sv), lit(0.0)).as("debit"),
        coalesce(DebitCredit.credit(sv), lit(0.0)).as("credit"))
    },
    Some(s"""SELECT event_id, $svalSql AS sval,
      | CASE WHEN $svalSql > 0 THEN $svalSql ELSE 0 END AS debit,
      | CASE WHEN $svalSql < 0 THEN $svalSql ELSE 0 END AS credit
      |FROM events""".stripMargin))

  // ------------------------------------------------------------------ P2/P3
  private val q03: (String, QFn, Option[String]) = ("q03_filter",
    (s, d) => ev(s, d)
      .filter(col("value").isNotNull && col("event_type") =!= "error")
      .select(col("event_id"), col("user_id"), col("event_type"), col("value")),
    Some("""SELECT event_id, user_id, event_type, value FROM events
      |WHERE value IS NOT NULL AND event_type <> 'error'""".stripMargin))

  // -------------------------------------------------------------- A1 + P8
  private def pivotCountSql(valueExpr: String = "count(value)",
                            prefix: String = "freq"): String =
    vocab.map(v =>
      s"$valueExpr FILTER (WHERE event_type = '$v') AS ${prefix}_$v")
      .mkString(", ")

  private val q04: (String, QFn, Option[String]) = ("q04_pivot_count",
    (s, d) => Pivots.pivotCount(ev(s, d), "user_id", "event_type", vocab,
      "value", "freq"),
    Some(s"SELECT user_id, ${pivotCountSql()} FROM events GROUP BY user_id"))

  // -------------------------------------------------------------- A2/A3
  private val q05: (String, QFn, Option[String]) = ("q05_pivot_sums",
    (s, d) => {
      val e = ev(s, d).withColumn("sv", sval)
        .withColumn("deb", DebitCredit.debit(col("sv")))
        .withColumn("cred", DebitCredit.credit(col("sv")))
      // all three families in ONE conditional-aggregation pass — a single
      // shuffle on user_id (see Pivots scaladoc)
      val aggs = for (f <- Seq("proc" -> "sv", "deb" -> "deb",
        "cred" -> "cred"); v <- vocab) yield
        sum(when(col("event_type") === v, col(f._2))).as(s"${f._1}_$v")
      val p = e.groupBy(col("user_id")).agg(aggs.head, aggs.tail: _*)
      val outCols = for (f <- Seq("proc", "deb", "cred"); v <- vocab)
        yield round(coalesce(col(s"${f}_$v"), lit(0.0)), 6).as(s"${f}_$v")
      p.select(col("user_id") +: outCols: _*)
    },
    Some {
      val frags = for (f <- Seq("proc", "deb", "cred"); v <- vocab) yield {
        val base = f match {
          case "proc" => svalSql
          case "deb" => s"CASE WHEN $svalSql > 0 THEN $svalSql END"
          case "cred" => s"CASE WHEN $svalSql < 0 THEN $svalSql END"
        }
        s"round(COALESCE(sum($base) FILTER (WHERE event_type = '$v'), 0), 6) AS ${f}_$v"
      }
      s"SELECT user_id, ${frags.mkString(", ")} FROM events GROUP BY user_id"
    })

  // ------------------------------------------------------------------ A4
  private val q06: (String, QFn, Option[String]) = ("q06_pivot_dow",
    (s, d) => Pivots.pivotCount(
      ev(s, d).withColumn("dow", TimeFeatures.dayOfWeekMon0(col("ts"))),
      "user_id", "dow", (0 to 6), "value", "dow"),
    Some(s"""SELECT user_id, ${(0 to 6).map(i =>
        s"count(value) FILTER (WHERE isodow(ts) - 1 = $i) AS dow_$i")
        .mkString(", ")}
      |FROM events GROUP BY user_id""".stripMargin))

  // ------------------------------------------------------------------ P10
  private val q07: (String, QFn, Option[String]) = ("q07_floor_div",
    (s, d) => Pivots.floorDiv(
      Pivots.pivotCount(ev(s, d), "user_id", "event_type", vocab, "value",
        "freq"), freqCols, 5),
    Some(s"""SELECT user_id, ${vocab.map(v =>
        s"count(value) FILTER (WHERE event_type = '$v') // 5 AS freq_$v")
        .mkString(", ")}
      |FROM events GROUP BY user_id""".stripMargin))

  // ---------------------------------------------------------- A9/A11/A12
  private val q08: (String, QFn, Option[String]) = ("q08_row_norm",
    (s, d) => {
      val pv = Pivots.pivotCount(ev(s, d), "user_id", "event_type", vocab,
        "value", "freq")
      val normed = RowNorm.rowNormalize(pv, freqCols, "freq_sum")
      val rounded = normed.select(
        col("user_id") +:
          freqCols.map(c => round(col(c), 6).as(c)) :+
          col("freq_sum").cast("long").as("freq_sum"): _*)
      val e = ev(s, d).withColumn("sv", sval)
      val shares = e.groupBy(col("user_id")).agg(
        coalesce(sum(DebitCredit.debit(col("sv"))), lit(0.0)).as("ds"),
        coalesce(sum(DebitCredit.credit(col("sv"))), lit(0.0)).as("cs"))
      val den = round(col("ds") + col("cs"), 2)
      val sharesOut = shares.select(col("user_id"),
        when(den === 0, lit(0.0)).otherwise(round(col("ds") / den, 6))
          .as("deb_share"),
        when(den === 0, lit(0.0)).otherwise(round(col("cs") / den, 6))
          .as("cred_share"))
      rounded.join(sharesOut, Seq("user_id"))
    },
    Some {
      val norms = vocab.map(v =>
        s"round((count(value) FILTER (WHERE event_type = '$v')) / count(value), 6) AS freq_$v")
      val ds = s"COALESCE(sum(CASE WHEN $svalSql > 0 THEN $svalSql END), 0)"
      val cs = s"COALESCE(sum(CASE WHEN $svalSql < 0 THEN $svalSql END), 0)"
      val den = s"round($ds + $cs, 2)"
      s"""SELECT user_id, ${norms.mkString(", ")},
        | count(value) AS freq_sum,
        | CASE WHEN $den = 0 THEN 0 ELSE round($ds / $den, 6) END AS deb_share,
        | CASE WHEN $den = 0 THEN 0 ELSE round($cs / $den, 6) END AS cred_share
        |FROM events GROUP BY user_id""".stripMargin
    })

  // ------------------------------------------------------------------ A5
  // exactMoments: std/sem/var from exact power sums — order-independent,
  // so the rational-valued td_var (round 2) can't straddle a boundary
  // against the sequential oracle at any SF.
  private val q09: (String, QFn, Option[String]) = ("q09_group_stats",
    (s, d) => {
      val e = ev(s, d).withColumn("time_day",
        TimeFeatures.secondsSinceMidnight(col("ts")))
      GroupStats.stats(e, Seq("user_id"), "time_day", "td",
        exactMoments = true).select(
        col("user_id"), col("td_count"),
        round(col("td_mean"), 6).as("td_mean"),
        round(col("td_std"), 6).as("td_std"),
        col("td_min").cast("long").as("td_min"),
        col("td_max").cast("long").as("td_max"),
        round(col("td_median"), 6).as("td_median"),
        round(col("td_sem"), 6).as("td_sem"),
        round(col("td_skew"), 6).as("td_skew"),
        round(col("td_var"), 2).as("td_var"),
        col("td_sum").cast("long").as("td_sum"),
        col("td_amplitude").cast("long").as("td_amplitude"))
    },
    Some("""WITH t AS (SELECT user_id,
      |  hour(ts)*3600 + minute(ts)*60 + second(ts) AS td FROM events),
      |p AS (SELECT user_id, count(td) AS n, sum(td)::DOUBLE AS sx,
      |  sum(td*td)::DOUBLE AS sxx, min(td) AS mn, max(td) AS mx,
      |  median(td) AS med, skewness(td) AS sk, sum(td)::BIGINT AS s
      |  FROM t GROUP BY user_id),
      |m AS (SELECT *, CASE WHEN n >= 2 THEN
      |    greatest((sxx - sx * sx / n::DOUBLE) / (n::DOUBLE - 1), 0) END AS vr
      |  FROM p)
      |SELECT user_id, n AS td_count, round(sx / n::DOUBLE, 6) AS td_mean,
      | round(sqrt(vr), 6) AS td_std, mn AS td_min,
      | mx AS td_max, round(med, 6) AS td_median,
      | round(sqrt(vr) / sqrt(n::DOUBLE), 6) AS td_sem,
      | round(sk, 6) AS td_skew, round(vr, 2) AS td_var,
      | s AS td_sum, (mx - mn)::BIGINT AS td_amplitude
      |FROM m""".stripMargin))

  // ------------------------------------------------------------------ W1
  private val q10: (String, QFn, Option[String]) = ("q10_trim",
    (s, d) => Trim.headTail(ev(s, d), 20, Seq("user_id"), ord)
      .select(col("event_id"), col("user_id")),
    Some("""WITH r AS (SELECT event_id, user_id,
      |  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
      |  count(*) OVER (PARTITION BY user_id) AS cnt FROM events)
      |SELECT event_id, user_id FROM r WHERE rn > 20 AND rn <= cnt - 20"""
      .stripMargin))

  // ------------------------------------------------------- J3/J4/U1/A14/O1
  // Trim depth 25 so the sf0.01 minimum-activity users (49 rows) vanish and
  // re-enter through the max-score fallback — both branches exercised.
  private val q11: (String, QFn, Option[String]) = ("q11_vanished_fallback",
    (s, d) => {
      val e = ev(s, d)
      val trimmed = Trim.headTail(e, 25, Seq("user_id"), ord)
      val scores = trimmed.groupBy(col("user_id"))
        .agg(round(avg(col("value")), 6).as("target"))
      val vanished = Trim.vanishedKeys(e, trimmed, Seq("user_id"))
      val fallback = vanished.crossJoin(
        broadcast(scores.agg(max(col("target")).as("target"))))
      scores.unionByName(fallback)
    },
    Some("""WITH r AS (SELECT user_id, value,
      |  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
      |  count(*) OVER (PARTITION BY user_id) AS cnt FROM events),
      |s AS (SELECT user_id, round(avg(value), 6) AS target FROM r
      |      WHERE rn > 25 AND rn <= cnt - 25 GROUP BY user_id),
      |v AS (SELECT DISTINCT user_id FROM events
      |      EXCEPT SELECT user_id FROM s)
      |SELECT user_id, target FROM s
      |UNION ALL SELECT user_id, (SELECT max(target) FROM s) FROM v"""
      .stripMargin))

  // ------------------------------------------------- A6/A7/A8 + W6/W7

  private val q12: (String, QFn, Option[String]) = ("q12_repair",
    (s, d) => {
      val in = ev(s, d).select(col("event_id"), col("user_id"), col("ts"),
        col("event_type"), sval.as("amt"))
      Repair(in, "user_id", "event_type", "amt", nAmt = 10, nMcc = 10)
        .select(col("event_id"), col("user_id"), col("event_type"),
          round(col("amt"), 6).as("amt"))
    },
    Some(s"""WITH $repairCtesSql
      |SELECT event_id, user_id, code AS event_type,
      | round(amt, 6) AS amt FROM rep""".stripMargin))

  // ------------------------------------------------------------------ W2
  private val q13: (String, QFn, Option[String]) = ("q13_last_n",
    (s, d) => Sequences.lastN(ev(s, d), 5, Seq("user_id"), ord)
      .select(col("user_id"), col("pos").cast("long").as("pos"),
        col("event_id")),
    Some("""WITH r AS (SELECT user_id, event_id, row_number() OVER
      |  (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS pos
      |  FROM events)
      |SELECT user_id, pos, event_id FROM r WHERE pos <= 5""".stripMargin))

  // ------------------------------------------------------------ W3/W4/W5/P6
  private val q14: (String, QFn, Option[String]) = ("q14_seq_scalars",
    (s, d) => {
      val e = ev(s, d)
      val withRef = e.crossJoin(broadcast(
        e.agg(min(unix_micros(col("ts"))).as("_e0"))))
        .withColumn("sv", sval)
      val td = TimeFeatures.hoursSince(col("ts"), col("_e0"))
      // roundNz on both rounded doubles (defensive, the q87/r11 class):
      // cum_amt crosses mathematical zero wherever a user's running net
      // is balanced, and z_value is ~0 wherever value sits on the group
      // mean — both land on a tiny ± residual whose round keeps the sign
      // in DuckDB (-0.0) but not in Spark. Green so far by data luck;
      // normalized before the luck runs out at an unverified scale.
      withRef.select(col("event_id"),
        CrossRound.roundNz(Sequences.cumSum(col("sv"), Seq("user_id"), ord),
          6).as("cum_amt"),
        CrossRound.roundNz(Sequences.zScorePop(col("value"), Seq("user_id")),
          6).as("z_value"),
        Sequences.rebaseToFirst(td, Seq("user_id"), ord).cast("long")
          .as("td_rebased"))
    },
    Some(s"""WITH sv AS (SELECT event_id, user_id, ts, value,
      |  $svalSql AS amt FROM events),
      |r AS (SELECT min(epoch_us(ts)) AS e0 FROM events)
      |SELECT event_id,
      | round(sum(amt) OVER w, 6) + 0.0 AS cum_amt,
      | round(CASE WHEN stddev_pop(value) OVER p = 0
      |         OR stddev_pop(value) OVER p IS NULL THEN 0
      |       ELSE (value - avg(value) OVER p) / (stddev_pop(value) OVER p)
      |       END, 6) + 0.0 AS z_value,
      | (floor((epoch_us(ts) - e0) / 3600000000)
      |  - first_value(floor((epoch_us(ts) - e0) / 3600000000)) OVER w2)
      |  ::BIGINT AS td_rebased
      |FROM sv, r
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |             ROWS UNBOUNDED PRECEDING),
      | p AS (PARTITION BY user_id),
      | w2 AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin))

  // ------------------------------------------------------------------ E1
  private val q15: (String, QFn, Option[String]) = ("q15_one_hot",
    (s, d) => {
      val oh = OneHot.withOneHot(ev(s, d), "event_type", vocab, "et")
      oh.select(col("event_id") +:
        vocab.map(v => col(s"et_$v").cast("long").as(s"et_$v")): _*)
    },
    Some(s"""SELECT event_id, ${vocab.map(v =>
        s"(CASE WHEN event_type = '$v' THEN 1 ELSE 0 END)::BIGINT AS et_$v")
        .mkString(", ")} FROM events""".stripMargin))

  // ------------------------------------------------------------------ P11
  private val binEdges = Seq(0.0, 1.0, 5.0, 10.0, 50.0, 100.0, 250.0, 500.0)
  private val q16: (String, QFn, Option[String]) = ("q16_bucketize",
    (s, d) => ev(s, d).select(col("event_id"),
      Bucketize(col("value"), binEdges).cast("long").as("bin")),
    Some {
      val whens = binEdges.sliding(2).zipWithIndex.map {
        case (Seq(lo, hi), i) => s"WHEN value > $lo AND value <= $hi THEN $i"
        case _ => ""
      }.mkString(" ")
      s"SELECT event_id, (CASE $whens ELSE NULL END)::BIGINT AS bin FROM events"
    })

  // ------------------------------------------------------------------ E2
  // Tensor assembly, registered in SCALARIZED form: the padded
  // array<array<double>> tensor posexploded to (user_id, pos, f0, f1) rows —
  // SQL-expressible, so the driver hash-checks the full tensor content
  // (array-typed cells crash its pandas checker). pos is 1-based into the
  // length-5 left-padded sequence: pos 5 = newest event, pos <= 5-count(user)
  // = zero padding. The tensor form stays the library surface
  // (Sequences.assembleSequences, pinned by SequencesSpec).
  private val q17: (String, QFn, Option[String]) = ("q17_sequences",
    (s, d) => Sequences.assembleSequences(
        ev(s, d).withColumn("sv", sval), 5, Seq("user_id"),
        struct(col("ts"), col("event_id")), Seq("value", "sv"))
      .select(col("user_id"), posexplode(col("seq")))
      .select(col("user_id"), (col("pos") + 1).cast("long").as("pos"),
        col("col").getItem(0).as("f0"), col("col").getItem(1).as("f1")),
    Some(s"""WITH ranked AS (
      |  SELECT user_id, value, $svalSql AS sv,
      |    row_number() OVER (PARTITION BY user_id
      |      ORDER BY ts DESC, event_id DESC) AS rd
      |  FROM events),
      |kept AS (
      |  SELECT user_id, (6 - rd)::BIGINT AS pos,
      |    value::DOUBLE AS f0, sv::DOUBLE AS f1
      |  FROM ranked WHERE rd <= 5),
      |counts AS (SELECT user_id, least(count(*), 5) AS k
      |  FROM events GROUP BY user_id),
      |pads AS (SELECT user_id, unnest(range(1, 6 - k))::BIGINT AS pos,
      |    0.0 AS f0, 0.0 AS f1
      |  FROM counts)
      |SELECT * FROM kept UNION ALL SELECT * FROM pads""".stripMargin))

  // -------------------------------------------------------------- J2/P12
  private val q18: (String, QFn, Option[String]) = ("q18_feature_matrix",
    (s, d) => {
      val e = ev(s, d)
      val pv = Pivots.pivotCount(e, "user_id", "event_type", vocab, "value",
        "freq")
      val sums = {
        val p = Pivots.pivotSum(e.withColumn("sv", sval), "user_id",
          "event_type", vocab, "sv", "proc")
        p.select(col("user_id") +: vocab.map(v =>
          round(col(s"proc_$v"), 6).as(s"proc_$v")): _*)
      }
      val st = GroupStats.stats(
        e.withColumn("time_day", TimeFeatures.secondsSinceMidnight(col("ts"))),
        Seq("user_id"), "time_day", "td")
        .select(col("user_id"), round(col("td_mean"), 6).as("td_mean"),
          round(col("td_std"), 6).as("td_std"))
      val joined = pv.join(sums, Seq("user_id"), "outer")
        .join(st, Seq("user_id"), "outer")
        .na.fill(0.0)
      // P12: model-demanded column absent from the data → zero column
      joined.withColumn("nn_predict", lit(0.0))
    },
    Some(s"""SELECT user_id, ${pivotCountSql()},
      | ${vocab.map(v => s"round(COALESCE(sum($svalSql) FILTER (WHERE event_type = '$v'), 0), 6) AS proc_$v").mkString(", ")},
      | round(avg(hour(ts)*3600 + minute(ts)*60 + second(ts)), 6) AS td_mean,
      | round(stddev_samp(hour(ts)*3600 + minute(ts)*60 + second(ts)), 6)
      |   AS td_std,
      | 0.0 AS nn_predict
      |FROM events GROUP BY user_id""".stripMargin))

  // -------------------------------------------------------------- A13/U1
  // The mean is aggregated through DECIMAL(28,10): decimal addition is
  // exact integer arithmetic, so the sum is ORDER-INDEPENDENT — Spark's
  // partition-parallel partial aggregation and DuckDB's sequential scan
  // produce the identical sum at any scale, where a double sum's last-ulp
  // noise differs with summation order and can straddle a round boundary
  // (observed at sf0.1: a true mean sitting exactly on the 5e-7 grid).
  private val q19: (String, QFn, Option[String]) = ("q19_ensemble_mean",
    (s, d) => {
      val e = ev(s, d)
      val run0 = e.select(col("user_id"), col("value").as("v"))
      val run1 = e.select(col("user_id"), (col("value") * 0.5).as("v"))
      run0.unionByName(run1).groupBy(col("user_id"))
        .agg(round(sum(col("v").cast("decimal(28,10)")).cast("double")
          / count(col("v")), 6).as("target"))
    },
    Some("""SELECT user_id,
      | round(sum(CAST(v AS DECIMAL(28,10)))::DOUBLE / count(v), 6)
      |   AS target FROM (
      |  SELECT user_id, value AS v FROM events
      |  UNION ALL SELECT user_id, value * 0.5 AS v FROM events)
      |GROUP BY user_id""".stripMargin))

  // ------------------------------------------------------------------ E3
  // Bootstrap resampling, registered in DETERMINISTIC form: per-row
  // replication count = inverse Poisson(0.95) CDF of an md5-derived uniform
  // over (event_id, run) — the same per-row Poisson model Spark's seeded
  // sampler draws from, but data-derived, so DuckDB replays it bit-for-bit
  // (the e02/e04 literal-replay trick). The RNG-seeded form stays the
  // library surface (Sampling.bootstrapRuns). The oracle aggregates
  // replication counts as weights (sum(cnt*v)/sum(cnt)) — identical to
  // Spark's avg over the exploded rows at round-6 tolerance.
  private val q20: (String, QFn, Option[String]) = ("q20_bootstrap",
    (s, d) => Sampling.deterministicBootstrapRuns(
        ev(s, d), col("event_id"), 3, 0.95)
      .groupBy(col("run_id").cast("long").as("run_id"))
      .agg(count(lit(1)).as("n"), round(avg(col("value")), 6).as("mean_value")),
    Some {
      val caseSql = Sampling.poissonThresholds(0.95, 8).zipWithIndex
        .map { case (t, i) => s"WHEN u < $t THEN $i" }.mkString(" ")
      s"""WITH tagged AS (
        |  SELECT e.event_id, e.value, r.run_id
        |  FROM events e CROSS JOIN
        |    (SELECT unnest(range(0, 3)) AS run_id) r),
        |uu AS (SELECT run_id, value,
        |  ('0x'||substr(md5(event_id::VARCHAR||'#'||run_id::VARCHAR),1,15))::BIGINT
        |    / 1152921504606846976.0 AS u FROM tagged),
        |c AS (SELECT run_id, value, (CASE $caseSql ELSE 8 END) AS cnt FROM uu)
        |SELECT run_id::BIGINT AS run_id, sum(cnt)::BIGINT AS n,
        |  round(sum(CASE WHEN value IS NOT NULL THEN cnt * value END)
        |    / sum(CASE WHEN value IS NOT NULL THEN cnt END), 6) AS mean_value
        |FROM c GROUP BY run_id""".stripMargin
    })


  lazy val defs: Seq[(String, QFn, Option[String])] = Seq(q01, q02, q03, q04, q05, q06, q07, q08, q09, q10, q11, q12, q13, q14, q15, q16, q17, q18, q19, q20)
}
