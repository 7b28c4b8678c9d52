package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.schema.Tables

/**
 * Driver-contract query registry, part 1: the reference's relational operator
 * inventory (SURVEY.md §2) expressed over the driver testdata.
 *
 * Mapping convention (FIXTURES.md §2): events.user_id ↔ transactions.user_id,
 * event_type ↔ mcc_code (categorical key), value ↔ transaction_amt, ts ↔
 * transaction_dttm. The testdata's `value` is all-positive, so a deterministic
 * signed view (`sval`: error/view rows negated) stands in for the reference's
 * signed amounts — both engines derive it identically.
 *
 * Float-determinism policy for the DuckDB-hash oracle: integer outputs stay
 * integer (cast to BIGINT on both sides); money-scale sums round to 2 dp
 * (accumulation-order noise << 5e-3); small per-group stats round to 6 dp;
 * ratios guard their denominator on a 2-dp grid before dividing so a
 * float-noise "zero" can never explode.
 *
 * SIGNED quantity => CrossRound.roundNz, never plain round (the ±0.0
 * class that shipped red twice: q87 r11, d98 r13). Any rounded column
 * whose true value can cancel to zero — slopes, correlations, KL/PSI
 * terms, score deltas, cumulative sums of centered values — lands on
 * -0.0 in DuckDB (sign-preserving C round) but +0.0 in Spark
 * (BigDecimal round), and the driver hashes the raw double bytes.
 * roundNz appends `+ 0.0` after the round (IEEE: -0.0 + 0.0 = +0.0);
 * the oracle SQL must append the same `+ 0.0`. tools/check_oracle.py
 * is sign-of-zero sensitive since r14 precisely to catch this class.
 *
 * DuckDB TYPE-WIDENING trap (cost q44 three red rounds): DuckDB's
 * `sum(BIGINT)` — including window sums and `sum(CASE ...)` — widens to
 * HUGEINT, which hash-mismatches Spark's BIGINT even when every value is
 * identical. Any summed integer an oracle SELECTs must carry an explicit
 * `::BIGINT` (plain `count(*)` is already BIGINT).
 */
object Queries {
  type QFn = (SparkSession, String) => DataFrame

  private[graft] val vocab = Tables.eventTypeVocab // click, error, purchase, signup, view

  /** Signed amount view (deterministic in both engines). */
  private[graft] def sval: Column =
    when(col("event_type").isin("error", "view"), -col("value"))
      .otherwise(col("value"))
  private[graft] val svalSql =
    "CASE WHEN event_type IN ('error','view') THEN -value ELSE value END"

  private[graft] def ev(s: SparkSession, d: String): DataFrame = Tables.events(s, d)
  private[graft] val ord: Seq[Column] = Seq(col("ts"), col("event_id"))

  /** Money-sum policy: TPC-H prices/discounts/taxes are 2-dp decimals
    * stored as doubles. Casting each operand back to DECIMAL recovers the
    * intended decimal exactly (the doubles sit ~1e-14 from the true value),
    * and decimal sums are EXACT and order-independent — so Spark's partial
    * aggregation and DuckDB's sequential sum produce bit-identical results
    * regardless of group size, where a double sum at 1e8 magnitude can
    * straddle a round(2) boundary. Final cast back to double (4-dp sums at
    * 1e12 still fit a double exactly). */
  private[graft] def dec2(c: Column): Column = c.cast("decimal(18,2)")
  private[graft] def rate(c: Column): Column = c.cast("decimal(3,2)")
  private[graft] def moneySum(c: Column): Column = sum(c).cast("double")
  private[graft] val oneD = lit(1).cast("decimal(3,2)")

  private[graft] def freqCols: Seq[String] = vocab.map(v => s"freq_$v")

  /** Shared DuckDB sorted-array percentile interpolation (np.percentile
    * semantics) — the ONE copy of the lambda every affording oracle nests
    * (repair, q64, q67, q74, q76). Must stay expression-tree-identical to
    * `Quantiles.exactGroupQuantiles` / `Repair.interpPercentile` for the
    * hash compares to hold; `arr`/`cnt` name the sorted-list and count
    * columns in the caller's CTE scope. */
  private[graft] def interpSql(q: String, arr: String = "arr",
                               cnt: String = "cnt"): String =
    s"""$arr[CAST(floor(($q)*($cnt-1)) AS INT)+1]
       | + (($q)*($cnt-1) - floor(($q)*($cnt-1)))
       |   * ($arr[CAST(ceil(($q)*($cnt-1)) AS INT)+1]
       |      - $arr[CAST(floor(($q)*($cnt-1)) AS INT)+1])"""
      .stripMargin.replaceAll("\n", "")

  /** Shared repair CTE chain: exact np.percentile interpolation over the
    * sorted group array — identical expression tree to
    * Repair.interpPercentile. Final CTE `rep` = repaired rows, unrounded. */
  private[graft] def repairCtesSql: String = {
    def interp(q: String) = interpSql(q)
    s"""sv AS (SELECT event_id, user_id, ts, event_type AS code,
      |  $svalSql AS amt FROM events),
      |g AS (SELECT user_id, code, count(*) AS cnt,
      |      list_sort(list(amt)) AS arr FROM sv GROUP BY user_id, code),
      |g2 AS (SELECT user_id, code, cnt, arr,
      |       least(1.0, 10.0/cnt) AS p FROM g),
      |b AS (SELECT user_id, code, cnt,
      |      ${interp("p")} AS lo,
      |      ${interp("1.0 - p")} AS hi,
      |      ${interp("0.5")} AS med FROM g2),
      |b2 AS (SELECT b.*, max(cnt) OVER (PARTITION BY user_id) AS mx FROM b),
      |m1 AS (SELECT user_id, min(code) AS modal_code FROM b2
      |       WHERE cnt = mx GROUP BY user_id),
      |m2 AS (SELECT m1.user_id, m1.modal_code, b.med AS modal_med
      |       FROM m1 JOIN b ON b.user_id = m1.user_id
      |        AND b.code = m1.modal_code),
      |rep AS (SELECT sv.event_id, sv.user_id, sv.ts,
      | CASE WHEN b.cnt > 10 THEN sv.code ELSE m2.modal_code END AS code,
      | CASE WHEN b.cnt > 10 THEN
      |   (CASE WHEN sv.amt > b.hi OR sv.amt < b.lo THEN b.med
      |    ELSE sv.amt END) ELSE m2.modal_med END AS amt
      |FROM sv JOIN b ON sv.user_id = b.user_id AND sv.code = b.code
      | JOIN m2 ON sv.user_id = m2.user_id)""".stripMargin
  }

  // Keyed by pid as well as input dir: two concurrent JVMs at the same SF
  // (bench + correctness harness) must not overwrite/delete each other's
  // part files mid-read. Within one process, mode=overwrite is safe.
  // Every dir handed out is deleted by a JVM shutdown hook — pid-keying
  // means no other live process can be reading it, and without the hook
  // repeated bench/verify runs accumulate parquet-sized tmp garbage.
  private val rtDirs = scala.collection.mutable.Set[String]()
  private lazy val rtCleanupHook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm))
        f.delete(); ()
      }
      rtDirs.synchronized(rtDirs.toSeq).foreach(p => rm(new java.io.File(p)))
    }))
  /** Register an EXTRA path under the shutdown-hook cleanup — for
    * side-paths derived from an rtDir (d62's write-to-temp dir): a
    * write that dies mid-job must not leak its partial directory past
    * the JVM, the exact garbage the hook exists to prevent. */
  private[graft] def rtRegister(p: String): Unit = {
    rtCleanupHook
    rtDirs.synchronized { rtDirs += p; () }
  }

  /** Package-visible so QueriesText (e13's index dir) shares the same
    * pid-keyed, shutdown-hook-cleaned tmp-dir discipline. */
  private[graft] def rtDir(tag: String, d: String): String = {
    rtCleanupHook
    val p = s"${sys.props("java.io.tmpdir")}/graft_${tag}_" +
      s"p${ProcessHandle.current().pid()}_" +
      d.replaceAll("[^a-zA-Z0-9]", "_")
    rtDirs.synchronized { rtDirs += p }
    p
  }

  /** Registration order is the public contract (SparkEntry hands it to the
    * driver): q01..q91 with q26b after q26 — the sub-registries are
    * ordered, contiguous slices of that sequence. The text/LLM-pipeline
    * surface (d/e/m/c/s keys) registers separately via
    * [[QueriesText.defs]]. */
  lazy val defs: Seq[(String, QFn, Option[String])] =
    QueriesCore.defs ++ QueriesPipeline.defs ++
      QueriesScale.defs ++ QueriesAnalytics.defs ++ QueriesTrain.defs
}
