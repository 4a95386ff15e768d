package graft.sim

import graft.SparkTestSession
import graft.sources.ModelStore
import org.scalatest.funsuite.AnyFunSuite

/** Staleness binding of the mining-dial artifact: the dials are only
  * meaningful for the quantizer they were certified against, so the
  * manifest carries that quantizer's sha and the reload REFUSES
  * versions certified on a different (retrained) index — a stale dial
  * would silently probe the wrong cells at the wrong depths. */
class ChoiceModelSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def tmpBase(): String = java.nio.file.Files
    .createTempDirectory("graft-choice-stale").toString + "/model"

  private val dialsV1 = Seq(("de", 4L, 1.15, true), ("fr", 2L, 1.05, true))
  private val dialsV2 = Seq(("de", 8L, 1.2, true), ("fr", 2L, 1.05, true))

  test("a dial version certified on a retrained quantizer is rejected; " +
    "re-certification serves again and the rollback window survives") {
    val base = tmpBase()
    ModelStore.write(base, p => ChoiceModel.writeModel(spark, p,
      ChoiceDials(dialsV1, "qsha-v1")))

    // reload against the SAME quantizer: serves
    val (_, got1) = ChoiceModel.readLatestValid(spark, base, "qsha-v1")
    assert(got1.rows == dialsV1.sortBy(_._1))

    // the quantizer retrains: NO committed version matches — fail loudly
    // instead of silently mis-probing the new index with old depths
    val e = intercept[RuntimeException] {
      ChoiceModel.readLatestValid(spark, base, "qsha-v2")
    }
    assert(e.getMessage.contains("qsha-v2") &&
      e.getMessage.contains("re-run the certification"),
      s"the reload must name the missing quantizer binding: ${e.getMessage}")

    // re-certify against the new quantizer: the new version serves...
    ModelStore.write(base, p => ChoiceModel.writeModel(spark, p,
      ChoiceDials(dialsV2, "qsha-v2")))
    val (v2, got2) = ChoiceModel.readLatestValid(spark, base, "qsha-v2")
    assert(got2.rows == dialsV2.sortBy(_._1))

    // ...and a fleet still pinned to the OLD quantizer skips the newer
    // version and keeps serving the one certified for it (the
    // ModelStore latestValid walk, applied to the staleness predicate)
    val (v1, got1b) = ChoiceModel.readLatestValid(spark, base, "qsha-v1")
    assert(v1 < v2 && got1b.rows == dialsV1.sortBy(_._1),
      "the older matching version must keep serving its quantizer")

    // an UNBOUND read (no expected sha) still takes the newest valid
    val (_, gotAny) = ChoiceModel.readLatestValid(spark, base)
    assert(gotAny.rows == dialsV2.sortBy(_._1))
  }
}
