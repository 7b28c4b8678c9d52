package graft

import java.nio.file.{Files, Paths}

/** Golden-fixture provenance dump (see FIXTURES.md): writes, for each
  * model-scored registry query, (a) the model weights as the text artifact
  * and (b) the EXACT assembled input tensors the query scores, so
  * `tools/make_rnn_fixture.py` can recompute the expected outputs with an
  * independent pure-Python forward pass and commit them under
  * src/main/resources/graft/fixtures/. Usage:
  *
  *   sbt "runMain graft.FixtureDump /root/testdata/sf0.01 /tmp/graft_fixdump"
  *   python3 tools/make_rnn_fixture.py /tmp/graft_fixdump q80
  */
object FixtureDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = LocalSession()
    Files.createDirectories(Paths.get(outDir))
    // Touch the registry before any QueriesPipeline member: the shared
    // helpers live in Queries, whose initializer must run first.
    require(Queries.defs.nonEmpty)

    // q80: synthetic-seed GRU scorer over the events digitization
    Files.writeString(Paths.get(s"$outDir/q80_model.txt"),
      QueriesPipeline.rnnEventsModel.toLines.mkString("", "\n", "\n"))
    QueriesPipeline.q80Sequences(spark, sfDir)
      .select("user_id", "seq")
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/q80_seqs")

    // q83: synthetic-seed LSTM latent encoder over the q36 feature surface
    Files.writeString(Paths.get(s"$outDir/q83_model.txt"),
      QueriesPipeline.vraeEventsModel.toLines.mkString("", "\n", "\n"))
    QueriesPipeline.q83Sequences(spark, sfDir)
      .select("user_id", "seq")
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/q83_seqs")

    spark.stop()
  }
}
