package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * In-engine trained data-selection models — the "quality classifier"
 * stage every large-scale pretraining pipeline runs (GPT-3's
 * reference-vs-crawl logistic filter, DCLM's fastText gate): fit a small
 * linear model on per-document features against a pseudo-label, then
 * score the whole corpus with it. Here the fit itself is part of the
 * verified surface — the DuckDB oracle REPLAYS every gradient step as a
 * CTE chain, so the hash check covers the learned weights, not just the
 * scoring pass.
 *
 * Determinism contract (the repo-wide policy, see Queries scaladoc):
 *  - The squash is the RATIONAL fast sigmoid σ̃(z) = 0.5 + z/(2(1+|z|)) —
 *    same sign/monotonicity/fixed-point as the logistic, but built from
 *    +,*,/,|·| only: no exp(), so no libm variance between the JVM and
 *    any other engine. (A classic logistic differs only in the gradient
 *    scale; for a FILTER the decision boundary is what matters.)
 *  - Each full-batch gradient component is a sum of per-row terms cast
 *    to DECIMAL(20,10) — EXACT and order-independent, so the fit is
 *    bit-identical on 1 core or 1000 executors (the q62/d78 decimal
 *    sandwich).
 *  - The weight update rounds to the 6-dp grid after every step
 *    (multiply-form, half away from zero — DuckDB's `round(x, 6)`), so
 *    weights stay on a grid both engines reproduce exactly.
 *
 * Scale shape: `iters` full passes over the (cached) feature projection —
 * one map-side-combinable aggregation each, no shuffle wider than the
 * 1-row gradient. The collect() is ONE row per iteration (the bounded
 * driver-pull the e12 centroid loop documents). At 100 TB the standard
 * practice is to fit on a sample and score the corpus; the fit input
 * here is whatever `df` the caller passes — sampling is the caller's
 * composition (d20/d51 already provide deterministic draws).
 */
object Learn {

  /** Rational logistic-like squash: monotone, σ̃(0) = 0.5, range (0,1)
    * on finite z — and pure IEEE +,*,/ so every engine computes the
    * identical double. */
  def fastSigmoid(z: Column): Column =
    lit(0.5) + z / (lit(2.0) * (lit(1.0) + abs(z)))

  /** Left-folded weighted sum Σ w_j·x_j — the exact association order the
    * oracle SQL writes (`a0*x0 + a1*x1 + ...`), so both engines compute
    * the identical double. */
  private def linComb(w: Seq[Double], xs: Seq[Column]): Column =
    w.zip(xs).map { case (wi, xi) => lit(wi) * xi }.reduce(_ + _)

  /** DuckDB `round(x, 6)` on DOUBLE, driver-side: multiply form with
    * 0-dp rounding half away from zero (see CrossRound scaladoc for why
    * this form, not BigDecimal string semantics). */
  private[graft] def round6(x: Double): Double = {
    val y = x * 1e6
    (if (y >= 0) math.floor(y + 0.5) else math.ceil(y - 0.5)) / 1e6
  }

  /** Fit weights (one per column of `xs`, caller includes the bias as a
    * literal-1 feature) by `iters` full-batch gradient ascent steps on
    * the fast-sigmoid log-likelihood surrogate, from w = 0:
    *
    *   w_j ← round6( w_j + lr · round6(Σ_rows (y − σ̃(w·x))·x_j) / N )
    *
    * The inner Σ is an exact DECIMAL(20,10) sum (order-independent); the
    * inner round6 is HALF_UP on that exact decimal; everything after is
    * fixed-order IEEE double arithmetic — the identical chain a DuckDB
    * CTE replays, so the returned weights hash-match the oracle's.
    *
    * `df` should be cached by the caller when iters > 1 (each step is a
    * full pass). y must be 0.0/1.0; features should be O(1)-scaled
    * (ratios) so the 6-dp weight grid is fine enough. */
  def logisticFit(df: DataFrame, y: Column, xs: Seq[Column],
                  iters: Int, lr: Double): Array[Double] = {
    require(xs.nonEmpty && iters >= 1)
    var w = Array.fill(xs.size)(0.0)
    for (_ <- 1 to iters) {
      val p = fastSigmoid(linComb(w.toSeq, xs))
      val gradAggs = xs.zipWithIndex.map { case (xj, j) =>
        sum(((y - p) * xj).cast("decimal(20,10)")).as(s"g$j")
      } :+ count(lit(1)).as("n")
      val row = df.agg(gradAggs.head, gradAggs.tail: _*).collect()(0)
      require(row.getLong(xs.size) > 0, "logisticFit: empty input")
      val nD = row.getLong(xs.size).toDouble
      w = Array.tabulate(xs.size) { j =>
        val g6 =
          if (row.isNullAt(j)) 0.0
          else row.getDecimal(j)
            .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
        round6(w(j) + lr * g6 / nD)
      }
    }
    w
  }

  /** Score a corpus with fitted weights: σ̃(w·x), the expression both
    * engines replay literally (weights ride in as 6-dp-grid literals). */
  def score(w: Seq[Double], xs: Seq[Column]): Column =
    fastSigmoid(linComb(w, xs))

  /** The online quality gate: score a feature frame (columns `source`,
    * `r1..rK`) with a fitted model and aggregate per source — docs seen,
    * docs passing the 0.5 threshold, and the exact-decimal mean of the
    * 6-dp scores. The input can be a STREAM (the aggregation is a plain
    * keyed count/sum, so it runs in complete mode with state bounded by
    * |sources|) or the static table — one definition, two execution
    * modes, which is what makes it the train/serve gate: the stream
    * serves literally the model the batch fit (d95) verified. */
  def qualityGateStats(feats: DataFrame, w: Seq[Double],
                       stats: Seq[(Double, Double)]): DataFrame = {
    val raw = (1 to stats.size).map(j => col(s"r$j"))
    val xs = lit(1.0) +: raw.zip(stats).map { case (r, (mu, sd)) =>
      (r - lit(mu)) / lit(sd)
    }
    val p = score(w, xs)
    feats.groupBy(col("source")).agg(
      count(lit(1)).as("n_docs"),
      sum((p >= 0.5).cast("long")).as("n_pass"),
      CrossRound.round(
        sum(CrossRound.round(p, 6).cast("decimal(18,9)")).cast("double")
          / count(lit(1)), 6).as("mean_score"))
  }

  /** Per-feature (mean, std) on the 6-dp grid — the standardization pass
    * that makes full-batch gradient descent well-conditioned (raw ratio
    * features differ in scale by orders of magnitude; unscaled GD
    * oscillates or crawls — measured: 0.664 → 0.858 accuracy on d95).
    *
    * Deterministic chain, replayed by the oracle's stats CTE:
    * Σx and Σx² are exact DECIMAL(20,10) sums; each is rounded HALF_UP
    * at 6 dp then cast to double; μ = round6(S1/n);
    * σ = round6(sqrt(max(S2/n − μ², 1e-12))) — sqrt is an IEEE
    * correctly-rounded required op, identical in every engine. */
  def standardStats(df: DataFrame, cols: Seq[Column])
      : Array[(Double, Double)] = {
    val aggs = cols.zipWithIndex.flatMap { case (c, j) =>
      Seq(sum(c.cast("decimal(20,10)")).as(s"s1_$j"),
        sum((c * c).cast("decimal(20,10)")).as(s"s2_$j"))
    } :+ count(lit(1)).as("n")
    val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    require(row.getLong(2 * cols.size) > 0, "standardStats: empty input")
    val nD = row.getLong(2 * cols.size).toDouble
    def dec6(i: Int): Double =
      if (row.isNullAt(i)) 0.0
      else row.getDecimal(i)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    Array.tabulate(cols.size) { j =>
      val mu = round6(dec6(2 * j) / nD)
      val sd = round6(math.sqrt(math.max(dec6(2 * j + 1) / nD - mu * mu,
        1e-12)))
      (mu, sd)
    }
  }
}
