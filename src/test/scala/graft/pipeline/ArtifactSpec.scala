package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

/** The one artifact reader and the shared synthetic-weight generator. */
class ArtifactSpec extends AnyFunSuite {

  private def sha256(lines: Seq[String]): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(lines.mkString("\n").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  test("synthetic models keep their artifact bytes (q80/q83 and spec shapes)") {
    // digests of `toLines` from before the two models shared one weight
    // generator; the golden fixtures of q80/q83 use these exact weights
    assert(sha256(LatentEncoderModel.synthetic(8, 10, 6, 20230514L).toLines) ==
      "129f4d8e01792096991c233626ae145825b450d0934e6f5e517b2e43efb53301")
    assert(sha256(LatentEncoderModel.synthetic(3, 5, 4, 7L).toLines) ==
      "c0503e9c510bae523681dd570fe0abbc5bcc603890c8f0830fcac69811dd87cc")
    assert(sha256(SequenceModel.synthetic(
      Seq(("et_idx", 5, 3), ("hr", 24, 4), ("dow", 7, 3), ("vbin", 7, 3)),
      hidden = 8, clsUnits = 16, seqLen = 20, seed = 20230206L).toLines) ==
      "94ad3efac8dca7c7038eb8b5dc8e7f42961b80d8f1886539c425365f080810b3")
    assert(sha256(SequenceModel.synthetic(
      Seq(("a", 4, 3), ("b", 6, 2)), hidden = 5, clsUnits = 4, seqLen = 7,
      seed = 42L, edges = Map("b" -> Array(0.0, 1.5, 3.0))).toLines) ==
      "29408cb7efeef16ff58acaa635e49547db11e48524d603be8b7161d792fced8d")
  }

  test("every committed artifact loads and names its format in the header") {
    val committed = Seq("/graft/seq_model_tx.txt.gz" -> "seqmodel",
      "/graft/vrae_encoder.txt.gz" -> "latentmodel",
      "/graft/tree_model.txt" -> "features", // after `#` comment lines
      "/graft/trained_gbt.txt" -> "features")
    committed.foreach { case (path, format) =>
      val lines = Artifact.lines(path)
      assert(Artifact.header(lines) == format, path)
      format match {
        case "seqmodel" => SequenceModel.fromLines(lines)
        case "latentmodel" => LatentEncoderModel.fromLines(lines)
        case _ => TreeEnsembleModel.fromLines(lines)
      }
    }
  }

  test("a loader handed the wrong format names the header it found") {
    val tree = Artifact.lines("/graft/tree_model.txt")
    val e = intercept[IllegalArgumentException](LatentEncoderModel.fromLines(tree))
    assert(e.getMessage.contains(
      "expected a 'latentmodel' model artifact, found header 'features'"))
    intercept[IllegalArgumentException](Artifact.lines("/graft/no_such_model.txt"))
  }
}
