package graft.schema

import org.apache.spark.sql.{Dataset, SparkSession}

/**
 * Typed `Dataset[T]` facade over the testdata tables (SURVEY.md §1.1:
 * case-class Encoders where type safety helps — per-row business logic,
 * compile-checked field access; plain DataFrames everywhere schema is
 * dynamic so Catalyst sees through the plan).
 *
 * Note the cost model: a typed `map`/`filter` on a Dataset deserializes the
 * row into the case class (breaking codegen fusion), so these are for the
 * boundaries — typed sequence assembly, scorer inputs, streaming state —
 * not the relational hot path.
 */
object Typed {

  case class Event(event_id: Long, user_id: Long,
                   event_type: String, value: Double)
  case class Doc(doc_id: Long, text: String, lang: String,
                 source: String, n_chars: Long)
  case class Embedding(vec_id: Long, embedding: Seq[Float], label: Int)

  def events(spark: SparkSession, sfDir: String): Dataset[Event] = {
    import spark.implicits._
    Tables.events(spark, sfDir)
      .select("event_id", "user_id", "event_type", "value").as[Event]
  }

  def documents(spark: SparkSession, sfDir: String): Dataset[Doc] = {
    import spark.implicits._
    Tables.documents(spark, sfDir).as[Doc]
  }

  def embeddings(spark: SparkSession, sfDir: String): Dataset[Embedding] = {
    import spark.implicits._
    Tables.embeddings(spark, sfDir).as[Embedding]
  }
}
