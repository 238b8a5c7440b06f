package kgbench

import graft.KgMain
import graft.io.TableIO
import java.nio.file.{Files, Paths}

/** Shows that the benchmark's checks catch corrupted output: a clean
  * table passes, and each deliberate corruption — a deleted bucket
  * manifest, a dropped row, a wrong golden set — makes a check fail.
  * Prints one result line; `correct` is true when every corruption was
  * caught and the clean table passed.
  */
object SelfTest {

  val NFiles = 120L

  def run(work: String, threads: Int): Unit = {
    val s = KgMain.session(threads.toString)
    s.sparkContext.setLogLevel("ERROR")
    val model = KgMain.model
    val raw = s"$work/raw"
    val dir = s"$work/t"
    Ops.writeRaw(s, NFiles, 7L, raw, threads)
    def fresh(): Ops.Built = { Main.rmrf(dir); Ops.build(s, raw, dir, model) }
    val files = Ops.readFiles(s, raw).collect().toSeq
    val golden = Checks.goldenLines()

    // (case, problems found, whether problems were expected)
    val cases = scala.collection.mutable.ArrayBuffer.empty[(String, Seq[String], Boolean)]
    val b = fresh()
    cases += (("clean table", Checks.commits(s, dir) ++
      Checks.audit(s, Ops.readTable(s, dir)) ++ Checks.snapshot(s, dir) ++
      Checks.digest(dir, b.digest) ++ Checks.parity(s, dir, files, model, threads) ++
      Checks.golden(s, model, golden), false))

    // a bucket manifest deleted: the table silently loses that bucket
    val conf = s.sessionState.newHadoopConf()
    val k = TableIO.readCommits(Ops.triplesDir(dir), Ops.Buckets, conf)
      .filter(_.rows > 0).head.bucket
    Files.delete(Paths.get(s"${Ops.triplesDir(dir)}/_commits/bucket-$k.json"))
    cases += (("deleted manifest", Checks.commits(s, dir) ++ Checks.digest(dir, b.digest), true))

    // one row dropped from a bucket's data, manifests untouched
    fresh()
    val bucketDir = s"${Ops.triplesDir(dir)}/data/_bucket=$k"
    val rows = s.read.parquet(bucketDir)
    val kept = rows.exceptAll(rows.limit(1)).cache()
    kept.count()
    kept.write.mode("overwrite").parquet(s"$work/bucket-tmp")
    Main.rmrf(bucketDir)
    Files.move(Paths.get(s"$work/bucket-tmp"), Paths.get(bucketDir))
    kept.unpersist()
    cases += (("dropped row", Checks.commits(s, dir), true))
    cases += (("dropped row vs full run", Checks.parity(s, dir, files, model, threads), true))

    // a golden set with one triple missing must not match
    cases += (("golden minus one triple", Checks.golden(s, model, golden - golden.head), true))
    s.stop()

    val wrong = cases.filter { case (_, problems, expected) => problems.nonEmpty != expected }
    cases.foreach { case (name, problems, expected) =>
      val verdict = if (problems.nonEmpty == expected) "ok" else "WRONG"
      Main.log(s"selftest $name: $verdict — " +
        (if (problems.isEmpty) "no problem found" else problems.mkString("; ")))
    }
    println(s"""{"correct":${wrong.isEmpty},"attempted":${cases.length},"failed":${wrong.length},"metrics":{}}""")
  }
}
