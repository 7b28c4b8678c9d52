package graft.ops

import graft.SparkSpec

class GraphRankSpec extends SparkSpec {
  import spark.implicits._

  test("pageRank: hub outranks spokes, mass respects damping floor") {
    // star graph: hub <-> 5 spokes (bidirectional)
    val half = (1 to 5).map(i => ("hub", s"s$i"))
    val edges = (half ++ half.map(_.swap)).toDF("src", "dst")
    val out = GraphRank.pageRank(edges, iters = 10)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(out.size == 6)
    val hub = out("hub")
    val spokes = (1 to 5).map(i => out(s"s$i"))
    // symmetric spokes are identical; hub dominates
    assert(spokes.distinct.size == 1)
    assert(hub > spokes.head * 3, s"hub $hub vs spoke ${spokes.head}")
    // every rank >= the damping floor
    assert(out.values.forall(_ >= 0.15))
    // total mass conserved (no dangling nodes in a bidirectional graph):
    // sum of ranks == node count, up to the 6-dp rounding
    assert(math.abs(out.values.sum - 6.0) < 1e-4)
  }

  test("pageRank is deterministic across partitionings") {
    val es = (1 to 200).map(i => (s"n${i % 20}", s"n${(i * 7) % 20}"))
      .filter { case (a, b) => a != b }
    val a = GraphRank.pageRank(es.toDF("src", "dst").repartition(7), 3)
      .orderBy("node").collect().map(_.getDouble(1)).toSeq
    val b = GraphRank.pageRank(es.toDF("src", "dst").repartition(2), 3)
      .orderBy("node").collect().map(_.getDouble(1)).toSeq
    assert(a == b)
  }
}
