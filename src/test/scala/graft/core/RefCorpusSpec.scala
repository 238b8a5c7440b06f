package graft.core

import graft.NerfModel
import org.scalatest.funsuite.AnyFunSuite

/** Golden gate on the REAL reference corpus ([[RefCorpus]], 1,000
  * NKJP-style Polish sentences): train deterministically, decode the
  * first 100 sentences, and compare byte-for-byte against the committed
  * golden decodings, which this test only reads.
  * This pins every `[dep]` semantic (SURVEY.md §5.3) — tokenizer, IOB
  * joined labels, feature sites, codec, Viterbi, SGD order — on real
  * data: any refactor that changes behavior trips this before it can
  * silently shift the triple-set P/R gate.
  */
class RefCorpusSpec extends AnyFunSuite {

  private lazy val model: NerfModel = NerfModel.trainOnForests(
    RefCorpus.lines().filter(_.nonEmpty).map(l => Forest.reTokenize(Forest.parseEnamex(l))))

  test("decodings of the reference corpus match the committed golden") {
    val lines = RefCorpus.lines(100)
    val raw = lines.map(l => Forest.parseEnamex(l).flatMap(_.leaves).mkString(" "))
    val decoded = raw.map(s => Forest.renderEnamex(model.ner(s)))

    val goldenPath = java.nio.file.Paths.get(
      "src/test/resources/golden/ref_decodings_100.nes")
    // a missing golden fails: output the test wrote itself would pass
    // whatever the model decodes
    if (!java.nio.file.Files.isRegularFile(goldenPath))
      fail(s"golden $goldenPath is missing")
    val want = {
      val s = scala.io.Source.fromFile(goldenPath.toString)("UTF-8")
      try s.getLines().toVector finally s.close()
    }
    decoded.zip(want).zipWithIndex.foreach { case ((got, expect), i) =>
      assert(got == expect, s"decoding drifted at sentence $i")
    }
    assert(decoded.length == want.length)

    // informative: training-set mention P/R of the model (not a gate —
    // 1,000 sentences is small for 22 nested types; determinism is)
    val gold = lines.map(l => Forest.reTokenize(Forest.parseEnamex(l)))
    val stats = CompareStats.compare(gold.zip(decoded.map(Forest.parseEnamex)))
    val all = stats(CompareStats.AllKey)
    info(f"train-set mention P=${all.precision}%.3f R=${all.recall}%.3f F=${all.f1}%.3f")
    assert(all.f1 > 0.5, "model failed to learn the reference corpus at all")
  }
}
