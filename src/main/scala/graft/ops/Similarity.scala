package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.CrossRound.round // shadows functions.round: cross-engine form

/**
 * Similarity search over an embedding column (`array<float>`): brute-force
 * cosine top-k as the exact baseline, and an LSH-bucketed (random-hyperplane)
 * approximate variant as the scale path.
 *
 * Scale design: brute force is O(Q x N) — fine when the query side is small
 * enough to broadcast (it is here: queries x dim floats). At corpus scale the
 * LSH variant turns the crossJoin into an equi-join on bucket signatures, so
 * the shuffle moves only (id, bucket, vector) rows and each bucket is a tiny
 * local top-k. Dot products use `zip_with` + `aggregate` (codegen'd
 * higher-order functions) — a strict left-to-right fold, which also makes the
 * result bit-reproducible against sequential engines.
 */
object Similarity {

  /** Salt seed for the hot-bucket salt-split in [[lshNearDupPairs]].
    * Shared with the e26 oracle CTE builder (QueriesVectors) so the two
    * engines can never drift: the sub-bucket salt is
    * md5(id || '#' || band || '#' || SALT_SEED) % nSalts on both sides. */
  val SALT_SEED = "esalt"

  /** Strict left-fold dot product of two equal-length numeric arrays —
    * the codegen'd native expression (graft.functions.DotProduct), with
    * identical semantics to the `aggregate(zip_with(...))` composition it
    * replaces — one tight primitive loop per row instead of two
    * interpreted HOFs plus an intermediate array. */
  def dot(a: Column, b: Column): Column = graft.functions.DotProduct(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity; zero-norm vectors → null (guard, never NaN). */
  def cosine(a: Column, b: Column): Column = {
    val d = norm(a) * norm(b)
    when(d > 0, dot(a, b) / d)
  }

  /** [[cosine]] with both norms precomputed: bit-identical arithmetic
    * (same norm values, same multiply order), but the norms are computed
    * once per ROW before a join instead of once per candidate PAIR after
    * it — O(d) per input row instead of O(d) per pair. Carrying the extra
    * double through the join costs 8 bytes/row; recomputing it costs two
    * dot products per candidate. Every join in this file scores far more
    * pairs than it has rows, so all of them use this form. */
  private def cosinePrenormed(a: Column, b: Column, na: Column, nb: Column)
  : Column = {
    val d = na * nb
    when(d > 0, dot(a, b) / d)
  }

  /** Exact top-k cosine neighbors of each query vector over the corpus.
    * `queries`/`corpus`: (id, vec). Ranking is on the ROUNDED similarity
    * (6 dp) with id tiebreak — deterministic under float noise. The query
    * side is broadcast: the join is a map-side nested loop, no shuffle of
    * the corpus. */
  def bruteKnn(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = broadcast(queries.select(col("id").as("qid"), col("vec").as("qv"),
      norm(col("vec")).as("_qn")))
    val c = corpus.select(col("id").as("nid"), col("vec").as("nv"),
      norm(col("vec")).as("_nn"))
    val scored = q.crossJoin(c).filter(col("qid") =!= col("nid"))
      .withColumn("sim", round(cosinePrenormed(col("qv"), col("nv"),
        col("_qn"), col("_nn")), 6))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("sim").desc, col("nid").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("qid"), col("nid"), col("rank"), col("sim"))
  }

  /** Deterministic pseudo-random hyperplane component in [-1, 1): derived
    * from md5("plane<p>#<dim>") — no RNG state, reproducible across runs.
    * Computed DRIVER-SIDE once (data-independent) and shipped as literals;
    * an expression-level md5 would re-hash per row x dim x plane. */
  private[graft] def planeVector(plane: Int, dims: Int): Seq[Double] =
    (0 until dims).map(d => planeComponent(plane, d))

  private def planeComponent(plane: Int, dim: Int): Double = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(s"plane$plane#$dim".getBytes("UTF-8"))
    val hex = digest.take(8).map("%02x".format(_)).mkString.take(15)
    java.lang.Long.parseLong(hex, 16) / math.pow(2, 59) - 1.0
  }

  /** Random-hyperplane LSH signature: `planes` sign bits packed into a long.
    * Cosine-similar vectors agree on most sign bits. Each plane is ONE
    * literal array fed to the native DotProduct expression — a 2-node tree
    * per plane instead of a 64-literal zip_with fold, which keeps codegen
    * compilation time flat as dims grow. */
  def lshSignature(vec: Column, dims: Int, planes: Int): Column =
    (0 until planes).map { p =>
      val plane = lit(planeVector(p, dims).toArray)
      val proj = dot(vec, plane)
      when(proj >= 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** IVF-style approximate top-k: corpus vectors are assigned to their
    * nearest of `nCentroids` centroid vectors (inverted file); each query
    * probes its `nProbe` nearest centroids and ranks exactly within those
    * buckets only. Centroids here are a deterministic corpus sample (first
    * rows by id) broadcast to every task — a production pipeline would plug
    * k-means centroids into the same shape. The corpus-side cost is one
    * broadcast nested-loop pass + one shuffle on cid; queries never touch
    * buckets they don't probe. */
  def ivfKnn(queries: DataFrame, corpus: DataFrame, k: Int,
             nCentroids: Int = 16, nProbe: Int = 4): DataFrame = {
    val cents = broadcast(corpus.orderBy(col("id")).limit(nCentroids)
      .select(col("id").as("cid"), col("vec").as("cv"),
        norm(col("vec")).as("_cn")))
    def assign(df: DataFrame, idAs: String, vecAs: String, normAs: String,
               keep: Int): DataFrame = {
      // rank on the ROUNDED similarity (6 dp) with centroid-id tiebreak —
      // assignment is then deterministic under float noise (same policy as
      // bruteKnn ranking), which also makes the e04 oracle reproducible
      val scored = df.select(col("id").as(idAs), col("vec").as(vecAs),
          norm(col("vec")).as(normAs))
        .crossJoin(cents)
        .withColumn("_cs", round(cosinePrenormed(col(vecAs), col("cv"),
          col(normAs), col("_cn")), 6))
      val w = Window.partitionBy(col(idAs))
        .orderBy(col("_cs").desc, col("cid").asc)
      scored.withColumn("_r", row_number().over(w)).filter(col("_r") <= keep)
        .select(col(idAs), col(vecAs), col(normAs), col("cid"))
    }
    val corpusBuckets = assign(corpus, "nid", "nv", "_nn", keep = 1)
    val queryProbes = assign(queries, "qid", "qv", "_qn", keep = nProbe)
    val cand = queryProbes.join(corpusBuckets, Seq("cid"))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("qv"), col("_qn"),
        col("nid"), col("nv"), col("_nn")).distinct()
    val scored = cand.withColumn("sim", round(cosinePrenormed(col("qv"),
      col("nv"), col("_qn"), col("_nn")), 6))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("sim").desc, col("nid").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("qid"), col("nid"), col("rank"), col("sim"))
  }

  /** [[ivfKnn]] at several probe levels in ONE pass (the e19 audit
    * surface): the corpus-side centroid assignment is probe-independent,
    * so running ivfKnn once per level re-derived it each time (measured
    * r18: 3 identical corpus crossJoin×centroids + window passes). Here
    * it materializes once (weak-ref checkpoint) and the query side is
    * assigned once at keep = max(probes); level p is then the `_r <= p`
    * prefix — identical rows to `ivfKnn(..., nProbe = p)` for every p
    * (assignment ranks on rounded similarity with centroid-id tiebreak,
    * so prefixes are deterministic). Returns (nprobe, qid, nid, rank,
    * sim); IvfSweepSpec pins level-for-level equality to ivfKnn. */
  def ivfProbeSweep(queries: DataFrame, corpus: DataFrame, k: Int,
                    nCentroids: Int, probes: Seq[Int]): DataFrame = {
    require(probes.nonEmpty && probes.forall(_ >= 1))
    val cents = broadcast(corpus.orderBy(col("id")).limit(nCentroids)
      .select(col("id").as("cid"), col("vec").as("cv"),
        norm(col("vec")).as("_cn")))
    def assign(df: DataFrame, idAs: String, vecAs: String, normAs: String,
               keep: Int): DataFrame = {
      val scored = df.select(col("id").as(idAs), col("vec").as(vecAs),
          norm(col("vec")).as(normAs))
        .crossJoin(cents)
        .withColumn("_cs", round(cosinePrenormed(col(vecAs), col("cv"),
          col(normAs), col("_cn")), 6))
      val w = Window.partitionBy(col(idAs))
        .orderBy(col("_cs").desc, col("cid").asc)
      scored.withColumn("_r", row_number().over(w)).filter(col("_r") <= keep)
        .select(col(idAs), col(vecAs), col(normAs), col("cid"), col("_r"))
    }
    val corpusBuckets = assign(corpus, "nid", "nv", "_nn", keep = 1)
      .drop("_r").localCheckpoint(true)
    val queryProbes = assign(queries, "qid", "qv", "_qn", keep = probes.max)
      .localCheckpoint(true)
    probes.map { p =>
      val cand = queryProbes.filter(col("_r") <= p).drop("_r")
        .join(corpusBuckets, Seq("cid"))
        .filter(col("qid") =!= col("nid"))
        .select(col("qid"), col("qv"), col("_qn"),
          col("nid"), col("nv"), col("_nn")).distinct()
      val scored = cand.withColumn("sim", round(cosinePrenormed(col("qv"),
        col("nv"), col("_qn"), col("_nn")), 6))
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("sim").desc, col("nid").asc)
      scored.withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= k)
        .select(lit(p.toLong).as("nprobe"), col("qid"), col("nid"),
          col("rank"), col("sim"))
    }.reduce(_ unionByName _)
  }

  /** Corpus-wide cosine near-duplicate pairs (a < b, cosine >= threshold),
    * the SCALE form: candidates come from an LSH band equi-join of the
    * corpus with itself (pairs agreeing on all `planes/bands` sign bits of
    * at least one band), then exact cosine verifies each candidate. The
    * shuffle key is (band, bandBits) — never an all-pairs nested loop, so
    * the plan survives corpus-scale inputs; recall is tunable via
    * planes/bands (more bands of fewer bits → higher recall, more
    * candidates). The exact O(N²) form exists as [[cosineNearDupExact]]
    * for small-N recall cross-checks only. */
  def lshNearDupPairs(corpus: DataFrame, threshold: Double, dims: Int = 64,
                      planes: Int = 16, bands: Int = 4,
                      maxBandPostings: Int = 0): DataFrame = {
    require(planes % bands == 0,
      s"planes=$planes must be divisible by bands=$bands")
    val rows = planes / bands
    val mask = (1L << rows) - 1
    def banded(idAs: String, vecAs: String, normAs: String): DataFrame =
      corpus.select(col("id").as(idAs), col("vec").as(vecAs),
          norm(col("vec")).as(normAs),
          lshSignature(col("vec"), dims, planes).as("sig"))
        .select(col(idAs), col(vecAs), col(normAs),
          explode(array((0 until bands).map(b =>
            struct(lit(b).as("band"),
              shiftright(col("sig"), b * rows).bitwiseAND(lit(mask))
                .as("bits"))): _*)).as("bb"))
        .select(col(idAs), col(vecAs), col(normAs),
          col("bb.band").as("band"), col("bb.bits").as("bits"))
    // hot-bucket SALT-SPLIT (maxBandPostings > 0): with a fixed sign-
    // pattern keyspace a band bucket's depth grows ~n/2^rows, so pair
    // volume is quadratic in corpus size — and simply DROPPING hot keys
    // (the d68 minhash move) is wrong here, because at a large-enough
    // corpus EVERY key is hot and the operator would return nothing.
    // Instead a bucket deeper than the cap is subdivided into
    // ceil(depth/cap) sub-buckets by a content-addressed salt
    // (md5 of the vector id AND the band index — deterministic,
    // oracle-replayable): pairs form only within a sub-bucket, so
    // candidates are bounded by ~cap·n per band (LINEAR in corpus)
    // while recall degrades gracefully. The band index is folded into
    // the salt seed so the splits DECORRELATE across bands: in the
    // uniform-hot case (every band bucket equally deep) an id-only
    // salt would split the same pair apart in every band at once,
    // while the per-band salt gives a split pair an independent
    // ~1/ceil(depth/cap) chance of colliding in each other band — the
    // "can resurface through the other bands" recall story is then
    // real rather than aspirational. A bucket at or under the cap gets
    // salt 0 everywhere — below the cap the capped operator is
    // IDENTICAL to the baseline. 0 = unsalted: the recall-faithful e03
    // baseline, cross-checked against exact all-pairs.
    val ba = banded("a", "va", "_na")
    val bb = banded("b", "vb", "_nb")
    val (baK, bbK, keys) =
      if (maxBandPostings <= 0) (ba, bb, Seq("band", "bits"))
      else {
        val dep = ba.groupBy(col("band"), col("bits"))
          .agg(count(lit(1)).as("_depth"))
        val nSalts =
          expr(s"(_depth + ${maxBandPostings - 1}) div $maxBandPostings")
        def salted(df: DataFrame, idc: String): DataFrame =
          df.join(dep, Seq("band", "bits"))
            .withColumn("_salt",
              Dedup.md5Hash(
                concat(col(idc).cast("string"), lit("#"),
                  col("band").cast("string")),
                lit(SALT_SEED)) % nSalts)
            .drop("_depth")
        (salted(ba, "a"), salted(bb, "b"), Seq("band", "bits", "_salt"))
      }
    val cand = baK
      .join(bbK, keys)
      .filter(col("a") < col("b"))
      .select(col("a"), col("va"), col("_na"),
        col("b"), col("vb"), col("_nb")).distinct()
    cand.withColumn("sim", round(cosinePrenormed(col("va"), col("vb"),
        col("_na"), col("_nb")), 6))
      .filter(col("sim") >= threshold)
      .select(col("a"), col("b"), col("sim"))
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023 shape):
    * embeddings are bucketed by nearest centroid, pairwise cosine runs only
    * WITHIN each bucket, and a vector is dropped when an earlier (smaller
    * id) same-bucket member is `threshold`-similar. Returns one row per
    * input vector: (id, cid, keep).
    *
    * This is the scale story of semantic dedup: clustering caps the
    * quadratic term at (corpus/nCentroids)² per bucket instead of corpus² —
    * the pair join is an equi-join on cid. Centroids here are a
    * deterministic corpus sample broadcast to every task (same policy as
    * [[ivfKnn]]); a production pipeline plugs k-means centroids into the
    * same shape. Assignment and the drop rule both rank on ROUNDED cosine
    * (6 dp) with id tiebreaks, so the result is reproducible bit-for-bit
    * in any engine. */
  def semanticDedup(corpus: DataFrame, threshold: Double,
                    nCentroids: Int = 16): DataFrame = {
    val cents = broadcast(corpus.orderBy(col("id")).limit(nCentroids)
      .select(col("id").as("cid"), col("vec").as("cv"),
        norm(col("vec")).as("_cn")))
    val scored = corpus.withColumn("_vn", norm(col("vec"))).crossJoin(cents)
      .withColumn("_cs", round(cosinePrenormed(col("vec"), col("cv"),
        col("_vn"), col("_cn")), 6))
    val w = Window.partitionBy(col("id"))
      .orderBy(col("_cs").desc, col("cid").asc)
    // consumed by three branches (both pair-join sides + the final keep
    // join) — materialize once, or the centroid-assignment pass re-executes
    // per branch. localCheckpoint (not cache): the checkpoint RDD is held by
    // weak reference, so the ContextCleaner reclaims the storage when this
    // plan becomes unreachable — a .cache() here would pin a corpus-sized
    // DataFrame in the CacheManager until someone calls clearCache (long-
    // lived sessions leaked it). Trade-off: checkpointed partitions are not
    // recomputable on executor loss; acceptable for a bounded dedup pass.
    val asg = scored.withColumn("_r", row_number().over(w))
      .filter(col("_r") === 1)
      .select(col("id"), col("vec"), col("_vn"), col("cid"))
      .localCheckpoint(true)
    dropWithinBuckets(asg, threshold)
  }

  /** [[semanticDedup]] with LEARNED centroids — the production plug the
    * sample-centroid form's scaladoc promises: bucket by nearest k-means
    * centroid ([[assignToCentroids]]' rounded-L2²/cid-tiebreak argmin, a
    * pure projection against broadcast literals), then the same
    * within-bucket drop rule. Same outputs, same determinism, same scale
    * shape — only the bucketing model changes. */
  def semanticDedupKmeans(corpus: DataFrame, threshold: Double,
                          cents: Array[Array[Double]]): DataFrame =
    dropWithinBuckets(
      assignStruct(corpus, cents)
        .select(col("id"), col("vec"), sqrt(col("_vn2")).as("_vn"),
          col("_x.cid").as("cid"))
        .localCheckpoint(true),
      threshold)

  /** The shared drop rule: within each bucket, a vector is dropped when an
    * earlier (smaller id) member is `threshold`-similar (rounded cosine,
    * 6 dp). `asg`: (id, vec, _vn, cid), already materialized — consumed by
    * both pair-join sides and the final keep join. The pair join is an
    * equi-join on cid: the quadratic term is capped at (bucket size)², the
    * SemDeDup scaling argument. */
  private def dropWithinBuckets(asg: DataFrame, threshold: Double)
  : DataFrame = {
    val dropped = asg.select(col("cid"), col("id").as("a"),
        col("vec").as("va"), col("_vn").as("_na"))
      .join(asg.select(col("cid"), col("id").as("b"),
        col("vec").as("vb"), col("_vn").as("_nb")), Seq("cid"))
      .filter(col("a") < col("b"))
      .withColumn("sim", round(cosinePrenormed(col("va"), col("vb"),
        col("_na"), col("_nb")), 6))
      .filter(col("sim") >= threshold)
      .select(col("b").as("id")).distinct()
    asg.join(dropped.withColumn("_drop", lit(1L)), Seq("id"), "left")
      .select(col("id"), col("cid"),
        col("_drop").isNull.cast("long").as("keep"))
  }

  /** Exact all-pairs cosine near-dup — O(N²), for small-N cross-checks of
    * [[lshNearDupPairs]] recall. NOT a scale path: the `a < b` join is a
    * broadcast nested loop. */
  def cosineNearDupExact(corpus: DataFrame, threshold: Double): DataFrame = {
    val l = corpus.select(col("id").as("a"), col("vec").as("va"),
      norm(col("vec")).as("_na"))
    val r = corpus.select(col("id").as("b"), col("vec").as("vb"),
      norm(col("vec")).as("_nb"))
    l.join(r, col("a") < col("b"))
      .select(col("a"), col("b"),
        round(cosinePrenormed(col("va"), col("vb"),
          col("_na"), col("_nb")), 6).as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** Approximate top-k: candidates = corpus vectors sharing an LSH band with
    * the query (bands of `planes/bands` sign bits), then exact cosine rank
    * within candidates. Join is equi on (band, bandBits) — no crossJoin, so
    * the corpus side scales out; recall is tunable via planes/bands. */
  def lshKnn(queries: DataFrame, corpus: DataFrame, k: Int,
             dims: Int = 64, planes: Int = 16, bands: Int = 4): DataFrame =
    lshKnnIndexed(queries, lshIndexTable(corpus, dims, planes, bands), k,
      dims, planes, bands)

  private def lshBanded(df: DataFrame, idAs: String, vecAs: String,
                        normAs: String, dims: Int, planes: Int, bands: Int,
                        carry: Seq[(String, String)] = Seq.empty)
  : DataFrame = {
    require(planes % bands == 0,
      s"planes=$planes must be divisible by bands=$bands — integer floor " +
        "would silently drop the trailing sign bits from every band")
    val rows = planes / bands
    val mask = (1L << rows) - 1
    val sig = lshSignature(col("vec"), dims, planes)
    val carried = carry.map { case (in, out) => col(in).as(out) }
    val kept = carry.map { case (_, out) => col(out) }
    df.select(Seq(col("id").as(idAs), col("vec").as(vecAs),
        norm(col("vec")).as(normAs), sig.as("sig")) ++ carried: _*)
      .select(Seq(col(idAs), col(vecAs), col(normAs),
        explode(array((0 until bands).map(b =>
          struct(lit(b).as("band"),
            shiftright(col("sig"), b * rows).bitwiseAND(lit(mask))
              .as("bits"))): _*)).as("bb")) ++ kept: _*)
      .select(Seq(col(idAs), col(vecAs), col(normAs),
        col("bb.band").as("band"), col("bb.bits").as("bits")) ++ kept: _*)
  }

  /** The PERSISTABLE LSH index: one row per (nid, band, bits) with the
    * vector and its norm carried alongside. Write it to parquet once,
    * serve many query batches through [[lshKnnIndexed]] — signatures and
    * norms are then never recomputed, and a bucketed/partitioned layout
    * on (band, bits) turns each query batch into a pruned scan. */
  def lshIndexTable(corpus: DataFrame, dims: Int = 64, planes: Int = 16,
                    bands: Int = 4): DataFrame =
    lshBanded(corpus, "nid", "nv", "_nn", dims, planes, bands)

  /** [[lshKnn]]'s query half against a prebuilt (possibly re-read from
    * storage) [[lshIndexTable]]. */
  def lshKnnIndexed(queries: DataFrame, index: DataFrame, k: Int,
                    dims: Int = 64, planes: Int = 16, bands: Int = 4)
  : DataFrame = {
    val qb = broadcast(lshBanded(queries, "qid", "qv", "_qn", dims,
      planes, bands))
    val cand = qb.join(index, Seq("band", "bits"))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("qv"), col("_qn"),
        col("nid"), col("nv"), col("_nn")).distinct()
    val scored = cand.withColumn("sim", round(cosinePrenormed(col("qv"),
      col("nv"), col("_qn"), col("_nn")), 6))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("sim").desc, col("nid").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("qid"), col("nid"), col("rank"), col("sim"))
  }

  /** Contrastive hard-negative mining: for each query vector, the k
    * NEAREST corpus vectors carrying a DIFFERENT label — the pairs a
    * contrastive/embedding trainer most needs (easy negatives are
    * plentiful and uninformative; the hard ones live near the decision
    * boundary, which is exactly where the LSH buckets put them).
    *
    * Shape = [[lshKnn]] with labels carried through the banding: band
    * equi-join for candidates, label-mismatch filter BEFORE the top-k
    * rank (filtering after rank would return fewer than k negatives),
    * exact cosine rerank. Scale story identical to lshKnn — no
    * crossJoin, corpus side shuffles on (band, bits) only, and the
    * label filter only ever drops candidate rows. Both inputs need
    * (id, vec, label). */
  def hardNegatives(queries: DataFrame, corpus: DataFrame, k: Int,
                    dims: Int = 64, planes: Int = 16, bands: Int = 4)
  : DataFrame = {
    val qb = broadcast(lshBanded(queries, "qid", "qv", "_qn", dims,
      planes, bands, carry = Seq("label" -> "qlabel")))
    val nb = lshBanded(corpus, "nid", "nv", "_nn", dims, planes, bands,
      carry = Seq("label" -> "nlabel"))
    val cand = qb.join(nb, Seq("band", "bits"))
      .filter(col("qid") =!= col("nid") && col("qlabel") =!= col("nlabel"))
      .select(col("qid"), col("qlabel"), col("qv"), col("_qn"),
        col("nid"), col("nlabel"), col("nv"), col("_nn")).distinct()
    val scored = cand.withColumn("sim", round(cosinePrenormed(col("qv"),
      col("nv"), col("_qn"), col("_nn")), 6))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("sim").desc, col("nid").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("qid"), col("qlabel"), col("nid"), col("nlabel"),
        col("rank"), col("sim"))
  }

  /** Brute-force KNN over INT8-QUANTIZED codes — the memory-footprint
    * lever for a corpus-scale embedding store: symmetric per-vector
    * quantization (scale = max|v|/127, code = clamp(floor(v/scale + 0.5),
    * ±127)) shrinks float32 vectors 4× , and cosine over the codes needs
    * NO dequantization — the two per-vector scales cancel in the ratio,
    * so the approximate similarity is integer dot products (exact in
    * double). At 100 TB of embeddings this is the difference between a
    * memory-resident index and a disk-bound one; compose with the IVF/LSH
    * bucketing the same way as the float paths.
    *
    * Determinism: `floor(x + 0.5)` instead of a round() whose half-way
    * rule differs across engines — every engine replays the exact codes,
    * so ranking on the rounded quantized cosine is reproducible. */
  /** Matryoshka truncation audit: recall@k of truncated-width cosine KNN
    * against the full-width exact top-k, one row per truncated width.
    * The serving question at 100 TB is "how few leading dimensions can
    * the index hold before recall drops" — truncating a
    * matryoshka-trained embedding halves index memory per halving of
    * width; this measures what that costs. ONE pass over the corpus
    * scores every width at once: the per-width sims are slices of the
    * same joined row, so the scan cost does not multiply by the number
    * of widths audited. Queries broadcast (audit-sampled, like e09);
    * ranking is on the rounded sim with id tiebreak. The LARGEST width
    * defines the truth set. */
  def matryoshkaRecall(queries: DataFrame, corpus: DataFrame, k: Int,
                       widths: Seq[Int]): DataFrame = {
    val q = broadcast(queries.select(col("id").as("qid"), col("vec").as("qv")))
    val c = corpus.select(col("id").as("nid"), col("vec").as("nv"))
    val perWidth = widths.map { dm =>
      val qs = slice(col("qv"), 1, dm)
      val ns = slice(col("nv"), 1, dm)
      struct(lit(dm).cast("long").as("dims"),
        round(dot(qs, ns) / (sqrt(dot(qs, qs)) * sqrt(dot(ns, ns))), 6)
          .as("sim"))
    }
    val scored = q.crossJoin(c).filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"), explode(array(perWidth: _*)).as("x"))
      .select(col("qid"), col("nid"), col("x.dims").as("dims"),
        col("x.sim").as("sim"))
    val w = Window.partitionBy(col("dims"), col("qid"))
      .orderBy(col("sim").desc, col("nid").asc)
    val top = scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k).select(col("dims"), col("qid"), col("nid"))
    val full = widths.max.toLong
    val truth = top.filter(col("dims") === full)
      .select(col("qid"), col("nid"), lit(1).as("hit"))
    top.filter(col("dims") =!= full)
      .join(truth, Seq("qid", "nid"), "left")
      .groupBy(col("dims"))
      .agg(sum(coalesce(col("hit"), lit(0))).cast("long").as("n_hit"),
        count(lit(1)).as("n_pairs"))
      .select(col("dims"), col("n_hit"), col("n_pairs"),
        round(col("n_hit").cast("double") / col("n_pairs"), 6).as("recall"))
  }

  def quantizedKnn(queries: DataFrame, corpus: DataFrame, k: Int)
  : DataFrame = {
    def side(df: DataFrame, idAs: String): DataFrame = {
      val vd = transform(col("vec"), x => x.cast("double"))
      df.select(col("id").as(idAs), vd.as("_vd"))
        .withColumn("_s",
          array_max(transform(col("_vd"), x => abs(x))) / 127.0)
        .withColumn(s"${idAs}_q", when(col("_s") > 0,
          transform(col("_vd"), x =>
            greatest(lit(-127L), least(lit(127L),
              floor(x / col("_s") + 0.5))).cast("int")))
          .otherwise(transform(col("_vd"), _ => lit(0))))
        .withColumn(s"${idAs}_qn",
          sqrt(dot(col(s"${idAs}_q"), col(s"${idAs}_q"))))
        .select(col(idAs), col(s"${idAs}_q"), col(s"${idAs}_qn"))
    }
    val q = broadcast(side(queries, "qid"))
    val c = side(corpus, "nid")
    val scored = q.crossJoin(c).filter(col("qid") =!= col("nid"))
      .withColumn("qsim", round(cosinePrenormed(col("qid_q"), col("nid_q"),
        col("qid_qn"), col("nid_qn")), 6))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("qsim").desc, col("nid").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("qid"), col("nid"), col("rank"), col("qsim"))
  }

  /** Per-label mean vector (centroid) and every vector's squared L2
    * distance to its label centroid, with an outlier flag at
    * `outlierFactor` × the label's mean distance — the embedding-space
    * quality signal (mislabeled / off-distribution vectors sit far from
    * their cluster center).
    *
    * Scale shape: centroids come from ONE posexplode → (label, pos)
    * aggregation (dim × labels rows out — tiny), re-assembled into arrays
    * and broadcast back, so the distance pass is a map-side projection
    * over the corpus; the per-label distance means are a second tiny
    * aggregate. Nothing ever shuffles a vector twice.
    *
    * Determinism: element means and distances are double arithmetic whose
    * accumulation order varies with partitioning — both are emitted at
    * round(6), far above the ~1e-15 relative noise, and the outlier
    * threshold comparison sits ~12 digits away from that noise floor. */
  def centroidDistances(df: DataFrame, idCol: String, vecCol: String,
                        labelCol: String, outlierFactor: Double = 2.0)
  : DataFrame = {
    val exploded = df.select(col(labelCol).as("lbl"),
        posexplode(col(vecCol)).as(Seq("pos", "v")))
      .groupBy(col("lbl"), col("pos"))
      .agg(avg(col("v").cast("double")).as("mu"))
    val cents = exploded.groupBy(col("lbl"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("mu")))),
        s => s.getField("mu")).as("cv"))
    val dist2 = aggregate(
      zip_with(col(vecCol), col("cv"),
        (a, b) => (a.cast("double") - b) * (a.cast("double") - b)),
      lit(0.0), (acc, x) => acc + x)
    val perVec = df.select(col(idCol), col(labelCol).as("lbl"),
        col(vecCol).as(vecCol))
      .join(broadcast(cents), Seq("lbl"))
      .withColumn("_d2", dist2)
    val labelMeans = perVec.groupBy(col("lbl"))
      .agg(avg(col("_d2")).as("_mean_d2"))
    perVec.join(broadcast(labelMeans), Seq("lbl"))
      .select(col(idCol), col("lbl").as(labelCol),
        round(col("_d2"), 6).as("dist2"),
        round(col("_mean_d2"), 6).as("label_mean_dist2"),
        (col("_d2") > lit(outlierFactor) * col("_mean_d2")).cast("long")
          .as("is_outlier"))
  }

  /** Nearest-centroid label audit: each vector is (re)classified to its
    * NEAREST label centroid — the pseudo-labeling / label-noise sweep
    * (`correct = 0` rows are the candidates for relabeling or exclusion,
    * the embedding-space complement of [[centroidDistances]]' per-label
    * outlier flag).
    *
    * Scale shape: label centroids are the same dim × labels aggregate as
    * [[centroidDistances]]; the |labels|-row centroid table is BROADCAST
    * against the corpus (vectors fan out × |labels| map-side, never
    * shuffling a vector), and the per-vector argmin collapses the fan-out
    * through one id-keyed aggregation. With collected-literal centroids
    * (the [[kmeansFit]] driver pattern) even that aggregation disappears
    * into a projection — kept relational here so the oracle replays the
    * identical join shape.
    *
    * Determinism: distances emit at round(6) BEFORE the argmin, and ties
    * break on the smaller label via one packed `min(struct(d2, lbl))` —
    * order-independent and engine-exact past rounding. */
  def nearestCentroid(df: DataFrame, idCol: String, vecCol: String,
                      labelCol: String): DataFrame = {
    val exploded = df.select(col(labelCol).as("clbl"),
        posexplode(col(vecCol)).as(Seq("pos", "v")))
      .groupBy(col("clbl"), col("pos"))
      .agg(avg(col("v").cast("double")).as("mu"))
    val cents = exploded.groupBy(col("clbl"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("mu")))),
        s => s.getField("mu")).as("cv"))
    val dist2 = aggregate(
      zip_with(col(vecCol), col("cv"),
        (a, b) => (a.cast("double") - b) * (a.cast("double") - b)),
      lit(0.0), (acc, x) => acc + x)
    df.select(col(idCol), col(labelCol).as("lbl"), col(vecCol).as(vecCol))
      .crossJoin(broadcast(cents))
      .withColumn("_d2", round(dist2, 6))
      .groupBy(col(idCol), col("lbl"))
      .agg(min(struct(col("_d2"), col("clbl"))).as("_m"))
      .select(col(idCol), col("lbl").as(labelCol),
        col("_m.clbl").as("pred_label"),
        col("_m._d2").as("d2_pred"),
        (col("lbl") === col("_m.clbl")).cast("long").as("correct"))
  }

  /** Product-quantized (PQ) approximate KNN (Jégou et al. 2011 shape) —
    * the memory-compression scale path: each corpus vector is encoded as
    * `m` small centroid codes (one per dims/m subspace, nearest by L2²),
    * and queries rank the whole corpus with an asymmetric distance
    * computation (ADC): dot(q,x) ≈ Σ_m q_m·c_{m,code_m(x)} and
    * |x| ≈ sqrt(Σ_m |c_{m,code_m}|²), both read from a per-query lookup
    * table — the corpus side touches only the m·log2(kCent)-bit codes,
    * never the vectors. At 64 dims / m=4 / 8 centroids that is 256 bytes
    * of floats replaced by 12 bits per vector; at a 100 TB embedding
    * store PQ codes are what keeps the scan memory-resident, and the
    * same codes compose with IVF bucketing ([[ivfKnn]]) for candidate
    * pruning — ADC here scans all codes, which IS the PQ baseline.
    *
    * Codebook: sub-slices of the first `kCent` corpus vectors by id —
    * the same deterministic-sample policy as [[ivfKnn]]/[[semanticDedup]]
    * (production plugs k-means subspace codebooks into the same shape).
    * Determinism: encode ranks on ROUNDED L2² (6 dp) with centroid-index
    * tiebreak; the reconstructed norm and ADC dot are FIXED-ORDER m-term
    * sums (column arithmetic, not a float agg); sims round to 6 dp with
    * id tiebreaks — the oracle replays everything bit-for-bit. */
  def pqKnn(queries: DataFrame, corpus: DataFrame, k: Int, m: Int = 4,
            kCent: Int = 8, dims: Int = 64): DataFrame = {
    val cents = pqCodebook(corpus, m, kCent, dims)
    val enc = pqEncode(corpus, cents, m, dims)
    val qEnc = pqQueryTable(queries, cents, m, kCent, dims)
    // ADC scan: corpus vectors never move — only their codes
    rankTopK(pqAdcScore(enc.crossJoin(qEnc), m), k)
  }

  /** IVF + PQ composed ANN — the production-scale index shape: e04's
    * inverted-file bucketing prunes WHICH codes each query scans (only
    * its `nProbe` nearest centroids' buckets), and e10's PQ codes decide
    * WHAT is scanned (12-bit codes instead of float vectors). The
    * candidate join is an equi-join on the IVF centroid id; scoring reads
    * the per-query ADC lookup table. Both centroid sets follow the
    * deterministic-sample policy of [[ivfKnn]]/[[pqKnn]], so the oracle
    * replays assignment, codes and arithmetic exactly. */
  def ivfPqKnn(queries: DataFrame, corpus: DataFrame, k: Int,
               nCentroids: Int = 16, nProbe: Int = 4, m: Int = 4,
               kCent: Int = 8, dims: Int = 64): DataFrame = {
    val ivfCents = broadcast(corpus.orderBy(col("id")).limit(nCentroids)
      .select(col("id").as("_ivfc"), col("vec").as("_icv"),
        norm(col("vec")).as("_icn")))
    def assign(df: DataFrame, idAs: String, keep: Int): DataFrame = {
      val scored = df.select(col("id").as(idAs), col("vec"),
          norm(col("vec")).as("_vn"))
        .crossJoin(ivfCents)
        .withColumn("_cs", round(cosinePrenormed(col("vec"), col("_icv"),
          col("_vn"), col("_icn")), 6))
      val w = Window.partitionBy(col(idAs))
        .orderBy(col("_cs").desc, col("_ivfc").asc)
      scored.withColumn("_r", row_number().over(w))
        .filter(col("_r") <= keep)
        .select(col(idAs), col("_ivfc").as("bucket"))
    }
    val cents = pqCodebook(corpus, m, kCent, dims)
    val enc = pqEncode(corpus, cents, m, dims)
      .join(assign(corpus, "nid", keep = 1), Seq("nid"))
    val qEnc = pqQueryTable(queries, cents, m, kCent, dims)
      .join(assign(queries, "qid", keep = nProbe), Seq("qid"))
    // bucket equi-join: each query scans only probed buckets' codes; a
    // corpus vector lives in exactly one bucket so no pair duplicates
    rankTopK(pqAdcScore(qEnc.join(enc, Seq("bucket")), m), k)
  }

  /** Johnson–Lindenstrauss random projection: dims → outDims via the
    * same deterministic md5-derived hyperplanes as [[lshSignature]],
    * scaled by √(3/outDims) — the planes are uniform[-1,1) with variance
    * 1/3, so the √3 restores unit variance and norms/distances are
    * preserved in expectation (JL lemma; [[lshSignature]] is exactly
    * this projection quantized to sign bits). A pure PROJECTION — each
    * output component is one native DotProduct against a literal plane —
    * so reducing a 100 TB embedding store 4× in width is a single
    * map-side pass. Components round to 6 dp for cross-engine replay. */
  def randomProject(vec: Column, dims: Int, outDims: Int): Column = {
    val scale = math.sqrt(3.0 / outDims.toDouble)
    array((0 until outDims).map { p =>
      round(dot(vec, lit(planeVector(p, dims).toArray)) * lit(scale), 6)
    }: _*)
  }

  /** Lloyd k-means over (id, vec) with deterministic init (first `k`
    * vectors by id — same policy as [[ivfKnn]]'s centroid sample) and
    * ORDER-INDEPENDENT centroid updates: per-dimension component sums run
    * in DECIMAL(25,10) (exact, so partial-aggregation order can't change
    * the result), then mean → round 6 dp. Assignment is a PROJECTION —
    * centroids are driver-side literals (k×dims doubles, the same bounded
    * driver-state pattern as [[planeVector]] and Spark ML's own KMeans),
    * so each iteration costs one narrow scan + one k-row aggregate: no
    * join, no window, no shuffle of the vectors themselves. Distances
    * rank on ROUNDED L2² (6 dp) with centroid-index tiebreak and empty
    * clusters keep their previous centroid, so a DuckDB oracle replays
    * every iteration bit-for-bit. */
  def kmeansFit(corpus: DataFrame, k: Int, iters: Int, dims: Int)
  : Array[Array[Double]] = {
    // element-type-agnostic init pull: every Column-side step here casts
    // through double, so the driver-side seed read must too — a
    // getSeq[Float] would ClassCastException on an array<double> corpus
    var cents: Array[Array[Double]] = corpus.orderBy(col("id")).limit(k)
      .select(col("vec").cast("array<double>")).collect()
      .map(_.getSeq[Double](0).toArray)
    val sumCols = (0 until dims).map(i =>
      sum(element_at(col("vec"), i + 1).cast("double")
        .cast("decimal(25,10)")).as(s"_s$i"))
    for (_ <- 0 until iters) {
      val upd = assignStruct(corpus, cents)
        .select(col("vec"), col("_x.cid").as("cid"))
        .groupBy(col("cid")).agg(sumCols.head, (sumCols.tail :+
          count(lit(1)).as("_n")): _*)
        .select(col("cid") +: (0 until dims).map(i =>
          round(col(s"_s$i").cast("double") / col("_n"), 6)
            .as(s"_c$i")): _*)
        .collect()
      val next = cents.map(_.clone())
      upd.foreach { r =>
        val cid = r.getInt(0)
        next(cid) = (0 until dims).map(i => r.getDouble(i + 1)).toArray
      }
      cents = next
    }
    cents
  }

  /** Nearest-centroid assignment as a pure projection: per centroid a
    * (rounded d2, cid) struct; `array_min` picks the lexicographic
    * minimum — distance first, centroid index as the deterministic
    * tiebreak. |c|² is folded driver-side in the same strict
    * left-to-right order as the native DotProduct / DuckDB
    * list_dot_product. Returns (id, cid, d2). */
  private def assignToCentroids(corpus: DataFrame,
                                cents: Array[Array[Double]]): DataFrame =
    assignStruct(corpus, cents)
      .select(col("id"), col("_x.cid").as("cid"), col("_x.d2").as("d2"))

  private def assignStruct(corpus: DataFrame, cents: Array[Array[Double]])
  : DataFrame = {
    def selfDot(c: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < c.length) { s += c(i) * c(i); i += 1 }
      s
    }
    val cands = cents.toSeq.zipWithIndex.map { case (c, i) =>
      struct(round(col("_vn2") - lit(2.0) * dot(col("vec"), lit(c))
        + lit(selfDot(c)), 6).as("d2"), lit(i).as("cid"))
    }
    corpus.withColumn("_vn2", dot(col("vec"), col("vec")))
      .withColumn("_x", array_min(array(cands: _*)))
  }

  /** Fit + final assignment in one call — the registered e12 surface.
    * The working set is materialized ONCE (the MLlib iterative-fit
    * discipline): kmeansFit scans it per iteration plus the seed read,
    * and the final assignment scans it again — lazily every pass
    * re-decoded the embeddings parquet (r19: e18 23.6 → 8.9 CPU-s,
    * e25 17.0 → 8.9 at sf0.1). Weak-ref blocks, spilled to disk by the
    * BlockManager when the corpus outgrows storage memory. */
  def kmeans(corpus: DataFrame, k: Int, iters: Int, dims: Int): DataFrame = {
    val c = corpus.localCheckpoint(true)
    assignToCentroids(c, kmeansFit(c, k, iters, dims))
  }

  /** PQ codebook: per subspace, the sub-slices of the first `kCent`
    * corpus vectors by id, with a DENSE centroid index 0..kCent-1 (the
    * array-lookup key) from a row_number over the kCent-row sample —
    * single-partition window on a constant-sized input, never the
    * corpus. Returns broadcast-ready (cid, m, cv, cn2). */
  private def pqCodebook(corpus: DataFrame, m: Int, kCent: Int,
                         dims: Int): DataFrame = {
    require(dims % m == 0, s"dims=$dims must be divisible by m=$m")
    val sub = dims / m
    val samp = corpus.orderBy(col("id")).limit(kCent)
      .withColumn("_ci", row_number().over(Window.orderBy(col("id"))) - 1)
    broadcast(samp.select(col("_ci").as("cid"),
        explode(array((0 until m).map(mm => struct(lit(mm).as("m"),
          slice(col("vec"), mm * sub + 1, sub).as("cv"))): _*)).as("x"))
      .select(col("cid"), col("x.m").as("m"), col("x.cv").as("cv"))
      .withColumn("cn2", dot(col("cv"), col("cv"))))
  }

  private def pqSubRows(df: DataFrame, idAs: String, m: Int,
                        dims: Int): DataFrame = {
    val sub = dims / m
    df.select(col("id").as(idAs),
        explode(array((0 until m).map(mm => struct(lit(mm).as("m"),
          slice(col("vec"), mm * sub + 1, sub).as("sv"))): _*)).as("x"))
      .select(col(idAs), col("x.m").as("m"), col("x.sv").as("sv"))
  }

  /** Encode: per (vector, subspace) the nearest codebook centroid by
    * ROUNDED L2² (6 dp, cid tiebreak), assembled to one row per vector:
    * code_m columns + the FIXED-ORDER reconstructed norm² (m column
    * adds, not a float aggregate — oracle-replayable). */
  private def pqEncode(corpus: DataFrame, cents: DataFrame, m: Int,
                       dims: Int): DataFrame = {
    val wEnc = Window.partitionBy(col("nid"), col("m"))
      .orderBy(col("_d2").asc, col("cid").asc)
    val codes = pqSubRows(corpus, "nid", m, dims).join(cents, Seq("m"))
      .withColumn("_d2", round(dot(col("sv"), col("sv"))
        - lit(2.0) * dot(col("sv"), col("cv")) + col("cn2"), 6))
      .withColumn("_r", row_number().over(wEnc)).filter(col("_r") === 1)
      .select(col("nid"), col("m"), col("cid"), col("cn2"))
    val codeCols = (0 until m).map(mm =>
      max(when(col("m") === mm, col("cid"))).as(s"_code$mm"))
    val cn2Cols = (0 until m).map(mm =>
      max(when(col("m") === mm, col("cn2"))).as(s"_cn2_$mm"))
    val aggCols = codeCols ++ cn2Cols
    codes.groupBy(col("nid")).agg(aggCols.head, aggCols.tail: _*)
      .withColumn("_nb2",
        (0 until m).map(mm => col(s"_cn2_$mm")).reduce(_ + _))
  }

  /** Per-query ADC lookup table: part(m, cid) = q_m · c_{m,cid}, pivoted
    * to m arrays indexed by cid (fixed construction order) + exact |q|.
    * Broadcast-ready — the query block is small by the same policy as
    * [[bruteKnn]]. */
  private def pqQueryTable(queries: DataFrame, cents: DataFrame, m: Int,
                           kCent: Int, dims: Int): DataFrame = {
    val partCols = for { mm <- 0 until m; c <- 0 until kCent } yield
      max(when(col("m") === mm && col("cid") === c, col("_part")))
        .as(s"_p_${mm}_$c")
    val lut = pqSubRows(queries, "qid", m, dims).join(cents, Seq("m"))
      .withColumn("_part", dot(col("sv"), col("cv")))
      .groupBy(col("qid")).agg(partCols.head, partCols.tail: _*)
    val qn = queries.select(col("id").as("qid"), norm(col("vec")).as("_qn"))
    broadcast(lut.join(qn, Seq("qid"))
      .select(col("qid") +: col("_qn") +: (0 until m).map(mm =>
        array((0 until kCent).map(c => col(s"_p_${mm}_$c")): _*)
          .as(s"_lut$mm")): _*))
  }

  /** Fixed-order m-term ADC similarity over joined (code row × query
    * table) rows; excludes self-pairs. */
  private def pqAdcScore(joined: DataFrame, m: Int): DataFrame = joined
    .filter(col("qid") =!= col("nid"))
    .withColumn("_dot", (0 until m).map(mm =>
      element_at(col(s"_lut$mm"), col(s"_code$mm").cast("int") + 1))
      .reduce(_ + _))
    .withColumn("_den", col("_qn") * sqrt(col("_nb2")))
    .withColumn("sim",
      round(when(col("_den") > 0, col("_dot") / col("_den")), 6))

  private def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    val wR = Window.partitionBy(col("qid"))
      .orderBy(col("sim").desc, col("nid").asc)
    scored.withColumn("rank", row_number().over(wR).cast("long"))
      .filter(col("rank") <= k)
      .select(col("qid"), col("nid"), col("rank"), col("sim"))
  }

  /** Maximal-marginal-relevance diverse re-rank: greedily pick `k` items
    * per query maximizing `λ·rel − (1−λ)·max_{s∈S} sim(cand, s)` — the
    * standard answer to "my top-k are five near-copies of one document"
    * in retrieval-augmented training-data assembly (Carbonell & Goldstein
    * 1998). Step 1 has an empty selected set, so its score is `λ·rel`
    * (the uniform max-sim-of-nothing = 0 convention).
    *
    * `pool`: `(qid, nid, rel, nv)` — per-query candidate pools from ANY
    * upstream retriever (brute, LSH, IVF), `rel` already rounded 6 dp.
    * Output: `(qid, nid, step, score)`, `step` = 1..k selection order.
    *
    * Shape: the greedy loop is k UNROLLED declarative steps — each a
    * candidate⋈selected equi-join on qid, a 6-dp-rounded max-sim
    * aggregate, and a row_number pick — so re-ranking millions of query
    * pools runs as k small co-partitioned stages with NO driver collect,
    * no UDF, and per-group state bounded by the pool size. Determinism:
    * pairwise sims and scores are rounded 6 dp before ranking with an id
    * tie-break, and every float constant (λ, 1−λ) is an exact literal on
    * both engines — the oracle replays all k steps verbatim. */
  def mmrRerank(pool: DataFrame, k: Int, lam: Double,
                oneMinusLam: Double): DataFrame = {
    // eager-checkpoint the pool and each step's selected set: step t
    // references step t−1 three times (anti-join, sim join, pick), so
    // un-truncated lineage compounds ~3^k copies of the pool plan (the
    // Subword.learnMerges lesson); checkpointed, each step is one small
    // job over ≤ |queries|·k rows
    val p = pool.select(col("qid"), col("nid"), col("rel"), col("nv"))
      .localCheckpoint(true)
    def pick(cands: DataFrame, step: Int): DataFrame = {
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("score").desc, col("nid").asc)
      cands.withColumn("_rk", row_number().over(w))
        .filter(col("_rk") === 1)
        .select(col("qid"), col("nid"), col("nv"),
          lit(step.toLong).as("step"), col("score"))
    }
    var selected = pick(
      p.withColumn("score", round(lit(lam) * col("rel"), 6)), 1)
    for (t <- 2 to k) {
      val rem = p.join(selected.select("qid", "nid"),
        Seq("qid", "nid"), "left_anti")
      val ms = rem.join(selected.select(col("qid"), col("nv").as("sv")),
          "qid")
        .withColumn("s", round(cosine(col("nv"), col("sv")), 6))
        .groupBy("qid", "nid").agg(max(col("s")).as("ms"))
      val next = pick(rem.join(ms, Seq("qid", "nid"))
        .withColumn("score", round(lit(lam) * col("rel")
          - lit(oneMinusLam) * col("ms"), 6)), t)
      selected = selected.unionByName(next).localCheckpoint(true)
    }
    selected.select(col("qid"), col("nid"), col("step"), col("score"))
  }
}
