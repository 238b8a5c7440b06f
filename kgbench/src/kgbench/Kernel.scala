package kgbench

import graft.NerfModel
import graft.core.{Features, Iob, Tokenizer}
import graft.pipeline.KgPipeline
import org.apache.spark.sql.SparkSession

/** Single-threaded phase split of the per-sentence NER kernel over a
  * sample of the workload's own sentences: tokenize → schematize →
  * obsScores → viterbi → decode, the steps `NerfModel.ner` chains. */
object Kernel {

  val SampleFiles = 100
  val Reps = 3
  val Names: Seq[String] = Seq("tokenize", "schematize", "obsScores", "viterbi", "decode")
    .map(p => s"kernel.${p}_ns_per_token")

  def phases(spark: SparkSession, raw: String, model: NerfModel): Seq[(String, Double)] = {
    val sents = Ops.readFiles(spark, raw).head(SampleFiles).toVector
      .flatMap(f => KgPipeline.sentencesOf(f.lang, f.content))
    sents.foreach(model.ner) // warm
    val toks = sents.map(Tokenizer.tokenize).filter(_.nonEmpty)
    val nTok = toks.map(_.length).sum.toDouble
    def nsPerToken[A](f: => A): (A, Double) = {
      var out = f
      val t0 = System.nanoTime()
      var i = 0
      while (i < Reps) { out = f; i += 1 }
      (out, (System.nanoTime() - t0) / (nTok * Reps))
    }
    val (_, tokNs) = nsPerToken(sents.map(Tokenizer.tokenize))
    val (obs, schNs) = nsPerToken(toks.map(t => Features.schematize(model.schema, t)))
    val (_, obsNs) = nsPerToken(obs.map(o => model.crf.obsScores(o)))
    val (paths, vitNs) = nsPerToken(obs.map(o => model.crf.viterbi(o)))
    val parsed = model.crf.parsedLabels
    val (_, decNs) = nsPerToken(toks.zip(paths).map { case (t, p) =>
      Iob.decodeForest(t.zip(p.map(parsed))) })
    Names.zip(Seq(tokNs, schNs, obsNs, vitNs, decNs))
  }
}
