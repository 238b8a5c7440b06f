package kgbench

import graft.NerfModel
import graft.io.TableIO
import graft.pipeline.KgPipeline
import graft.pipeline.KgPipeline.RepoFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Output checks, run outside the timed region. Each returns the problems
  * it found; empty means the check passed. */
object Checks {

  val GoldenPath = "src/test/resources/golden/triples_25.tsv"

  /** `kgAudit` finds no dangling or orphan entity, duplicate triple or
    * null key. */
  def audit(s: SparkSession, t: org.apache.spark.sql.DataFrame): Seq[String] = {
    val a = Ops.audit(s, t)
    Ops.AuditZero.filter(a(_) != 0L).map(m => s"kgAudit $m = ${a(m)}")
  }

  /** The program's own manifest audit finds no bucket that disagrees. */
  def commits(s: SparkSession, dir: String): Seq[String] = {
    val bad = TableIO.verifyCommits(s, Ops.triplesDir(dir), Ops.Buckets)
    if (bad.isEmpty) Nil else Seq(s"verifyCommits: buckets $bad disagree with their manifests")
  }

  /** The snapshot's per-row sha256 invariant holds. */
  def snapshot(s: SparkSession, dir: String): Seq[String] = {
    val n = TableIO.verifySnapshot(s, s"$dir/snapshot")
    if (n == 0L) Nil else Seq(s"verifySnapshot: $n rows fail the sha256 invariant")
  }

  /** Digest of the committed manifests equals `want`. */
  def digest(dir: String, want: String): Seq[String] = {
    val got = Ops.digest(TableIO.readCommits(Ops.triplesDir(dir), Ops.Buckets,
      new org.apache.hadoop.conf.Configuration()))
    if (got == want) Nil else Seq(s"table digest $got, expected $want")
  }

  /** The table equals a full `KgPipeline.run` over `files` — the
    * invariant `KgDeltaMain` states for a table maintained by batches. */
  def parity(s: SparkSession, dir: String, files: Seq[RepoFile],
             model: NerfModel, parts: Int): Seq[String] = {
    import s.implicits._
    val r = KgPipeline.run(s, s.createDataset(files).repartition(parts), model)
    val cols = Seq("subj", "pred", "obj", "src_repo", "src_path", "src_commit").map(col)
    val full = r.triples.select(cols: _*).cache()
    val table = Ops.readTable(s, dir).select(cols: _*).cache()
    val missing = full.except(table).count()
    val extra = table.except(full).count()
    val (nf, nt) = (full.count(), table.count())
    full.unpersist(); table.unpersist()
    KgPipeline.release(s, r)
    if (missing == 0L && extra == 0L && nf == nt) Nil
    else Seq(s"table differs from a full run over its files: $missing rows missing, " +
      s"$extra extra ($nt rows vs $nf)")
  }

  def goldenLines(): Set[String] =
    scala.io.Source.fromFile(GoldenPath, "UTF-8").getLines().filter(_.nonEmpty).toSet

  /** `KgPipeline.run` on the first 25 Synth files (seed 42) reproduces
    * the committed golden triple set exactly. The golden is only read. */
  def golden(s: SparkSession, model: NerfModel, want: Set[String]): Seq[String] = {
    val r = KgPipeline.run(s, KgPipeline.synthInput(s, 25, partitions = 2), model)
    val got = r.triples.select("subj", "pred", "obj").distinct().collect()
      .map(x => s"${x.getString(0)}\t${x.getString(1)}\t${x.getString(2)}").toSet
    KgPipeline.release(s, r)
    if (got == want) Nil
    else Seq(s"golden triples_25: ${(want -- got).size} missing, ${(got -- want).size} extra")
  }
}
