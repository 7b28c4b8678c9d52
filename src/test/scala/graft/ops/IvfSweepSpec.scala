package graft.ops

import graft.SparkSpec

/** ivfProbeSweep (the e19 shared-assignment rewrite) must equal running
  * ivfKnn once per probe level, level for level — same candidate sets,
  * same ranks, same sims. Deterministic synthetic vectors so the
  * assertion is exact. */
class IvfSweepSpec extends SparkSpec {
  import spark.implicits._

  private def synth(n: Int, dims: Int) =
    (0 until n).map { i =>
      (i.toLong, (0 until dims).map(d =>
        math.sin(i * 0.7 + d * 1.3) + (if (i % 7 == d % 7) 2.0 else 0.0))
        .toArray)
    }.toDF("id", "vec")

  test("sweep equals per-level ivfKnn exactly") {
    val corpus = synth(120, 8)
    val queries = corpus.filter($"id" < 10)
    val probes = Seq(1, 2, 4)
    val sweep = Similarity
      .ivfProbeSweep(queries, corpus, k = 5, nCentroids = 8, probes)
      .select($"nprobe", $"qid", $"nid", $"rank", $"sim")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSet
    val perLevel = probes.flatMap { p =>
      Similarity.ivfKnn(queries, corpus, k = 5, nCentroids = 8, nProbe = p)
        .collect().map(r => (p.toLong, r.getLong(0), r.getLong(1),
          r.getLong(2), r.getDouble(3)))
    }.toSet
    assert(sweep == perLevel)
    assert(sweep.nonEmpty)
  }
}
