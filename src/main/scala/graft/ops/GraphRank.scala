package graft.ops

import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.functions._

/**
 * Iterative graph ranking (PageRank, Brin & Page 1998) over an edge list —
 * the NUMERIC iterative sibling of `Dedup.dedupCorpus`'s label propagation.
 *
 * Scale shape: the canonical distributed PageRank — each iteration is ONE
 * equi-join of the edge list with the current rank vector (shuffle on the
 * node key) plus one aggregation that reuses the same distribution. Edges
 * and degrees materialize once (weak-ref checkpoint); rank state is
 * node-count-sized, never edge-sized. No driver-side state beyond the loop
 * counter, so 1000 executors iterate a trillion-edge list the same way.
 *
 * Determinism (the oracle story): the per-edge contribution passes through
 * DOUBLE divide (IEEE, order-free) → DECIMAL(20,10) cast (half-up, both
 * engines) → EXACT decimal SUM, so partial-aggregation order cannot move
 * the result — the same decimal sandwich as `Similarity.kmeansFit`. The
 * damping update then stays IN DECIMAL (base and damping as exact 2-dp
 * decimals, product and sum exact, round to 6 dp in integer arithmetic)
 * before ONE cast out to double — engines differ in how they round a
 * wide decimal to double (Java converts the exact value once; DuckDB
 * converts the int128 then divides, two roundings), so the decimal must
 * be narrowed to 6 dp BEFORE the cast, where both paths are exact.
 * Dangling nodes (no out-edges) leak their mass — the standard
 * simplified formulation; the fixed iteration count (not a convergence
 * test) is what lets a SQL oracle replay the computation as a finite CTE
 * chain. `damping` must be a 2-dp value (it ships as DECIMAL(3,2)).
 */
object GraphRank {

  /** Fixed-iteration PageRank over directed edges (src, dst).
    * Returns (node, rank) for every node appearing on either side.
    * `assumeDistinct` skips the defensive dedup exchange when the caller
    * can prove uniqueness structurally (e.g. a mirrored union of two
    * namespace-disjoint distinct sets) — one full-edge-list shuffle
    * saved. */
  def pageRank(edges0: DataFrame, iters: Int, damping: Double = 0.85,
               assumeDistinct: Boolean = false): DataFrame = {
    // distinct edges feed every iteration — materialize ONCE with the
    // out-degree already attached (the degree join would otherwise
    // re-shuffle the full edge list every round).
    // ContextCleaner reclaims the weak-ref checkpoints.
    val raw = edges0.select(col("src"), col("dst"))
    val distinctEdges = if (assumeDistinct) raw else raw.distinct()
    val outdeg = distinctEdges.groupBy(col("src"))
      .agg(count(lit(1)).as("_deg"))
    val edges = distinctEdges.join(outdeg, Seq("src"))
      .localCheckpoint(true)
    val nodes = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node"))).distinct()
      .localCheckpoint(true)
    val dampDec = lit(damping).cast("decimal(3,2)")
    val baseDec = lit(1).cast("decimal(3,2)") - dampDec
    var ranks = nodes.select(col("node"), lit(1.0).as("rank"))
    for (_ <- 0 until iters) {
      val contrib = edges
        .join(ranks.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst").as("node"),
          (col("rank") / col("_deg").cast("double"))
            .cast("decimal(20,10)").as("_c"))
      val sums = contrib.groupBy(col("node")).agg(sum(col("_c")).as("_s"))
      // decimal round (functions.round, NOT the CrossRound double form):
      // exact integer arithmetic on the decimal value, identical half-up
      // in both engines
      ranks = nodes.join(sums, Seq("node"), "left")
        .select(col("node"),
          org.apache.spark.sql.functions.round(baseDec + dampDec
            * coalesce(col("_s"), lit(0).cast("decimal(20,10)")), 6)
            .cast("double").as("rank"))
    }
    ranks
  }
}
