package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.ops._
import graft.schema.Tables

/**
 * Driver-contract query registry, part 2: training-data-pipeline operators
 * (dedup, similarity search, text analysis, multimodal plumbing) over the
 * `documents` and `embeddings` tables.
 *
 * MinHash/SimHash use the md5-derived hash family so the DuckDB oracle can
 * reproduce signatures bit-for-bit (Dedup.md5Hash); integer signature
 * arithmetic keeps every comparison exact. The xxhash64 family is the
 * production path (see Dedup docs).
 */
object QueriesText {
  type QFn = (SparkSession, String) => DataFrame

  private[graft] def docs(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)

  private[graft] def emb(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)

  private[graft] val tokSql = "regexp_extract_all(lower(text), '[a-z0-9]+')"

  private[graft] val shCte =
    s"""toks AS (SELECT doc_id, $tokSql AS w FROM documents),
       |sh AS (SELECT DISTINCT doc_id, s FROM (SELECT doc_id,
       |  unnest(list_transform(range(1, greatest(len(w) - 1, 1)),
       |    i -> array_to_string(list_slice(w, i, i + 2), ' '))) AS s
       |  FROM toks))""".stripMargin

  private[graft] def md5HashSql(expr: String) =
    s"('0x' || substr(md5($expr), 1, 15))::BIGINT"

  // d03's linear quality score as a DuckDB expression — identical term
  // order/associativity to TextOps.qualityCols (shared by d03's sibling
  // d31, which ranks this score within each source)
  private[graft] val qScoreSql: String = {
    val stopList = TextOps.langStopwords.flatMap(_._2)
      .map(w => s"'$w'").mkString(", ")
    val nToks = s"len($tokSql)"
    val meanLen = s"CASE WHEN $nToks > 0 THEN " +
      s"list_sum(list_transform($tokSql, x -> len(x))) / $nToks ELSE 0 END"
    val stopRatio = s"CASE WHEN $nToks > 0 THEN " +
      s"len(list_filter($tokSql, x -> list_contains([$stopList], x))) " +
      s"/ $nToks ELSE 0 END"
    val ttr = s"CASE WHEN $nToks > 0 THEN " +
      s"len(list_distinct($tokSql)) / $nToks ELSE 0 END"
    val digitRatio = s"CASE WHEN length(text) > 0 THEN " +
      s"len(regexp_extract_all(text, '[0-9]')) / length(text) ELSE 0 END"
    s"round(0.35 * ($ttr) + 0.35 * ($stopRatio) " +
      s"+ 0.2 * (1.0 - ($digitRatio)) " +
      s"+ 0.1 * least(($meanLen) / 10.0, 1.0), 6)"
  }

  // d04's language-ID pieces as DuckDB fragments (shared by d38's corpus
  // report): per-language stopword-hit scores and the argmax CASE
  private[graft] val langScoreDefsSql: String = TextOps.langStopwords.map {
    case (l, sw) =>
      val list = sw.map(w => s"'$w'").mkString(", ")
      s"len(list_filter($tokSql, x -> list_contains([$list], x))) AS s_$l"
  }.mkString(", ")

  private[graft] val langCaseSql: String = {
    val langs = TextOps.langStopwords
    val whens = langs.map { case (l, _) =>
      val others = langs.collect { case (o, _) if o != l =>
        s"s_$l >= s_$o" }.mkString(" AND ")
      s"WHEN s_$l > 0 AND $others THEN '$l'"
    }.mkString(" ")
    s"CASE $whens ELSE 'und' END"
  }

  // --------------------------------------------------------- MinHash+LSH
  private[graft] val MINHASH_K = 16

  private[graft] val MINHASH_BANDS = 4

  /** Registration order is the public contract: d01..d103, e01..e25,
    * m01..m16, c01..c07 (streaming twins s01..s23 register via
    * [[QueriesStream]]) — ordered slices assembled from the
    * sub-registries. */
  lazy val defs: Seq[(String, QFn, Option[String])] =
    QueriesDocs.defs ++ QueriesCorpus.defs ++
      QueriesCurate.defs ++ QueriesPrep.defs ++ QueriesVectors.defs
}
