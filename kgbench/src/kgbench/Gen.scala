package kgbench

import graft.core.{Digests, Synth}
import graft.pipeline.KgPipeline.RepoFile
import scala.util.Random

/** Seeded input generators. Every row is a pure function of
  * (file index, seed, version), so a table can be generated distributed
  * (`spark.range(n).map`) with the same rows at any parallelism, and the
  * same seed always yields the same inputs.
  *
  * The table is closed-world: [[Synth.repoRow]] files (Zipf-skewed repos,
  * grammar sentences as code comments), and every person, organisation,
  * country and city the grammar names is in [[Synth.knowledgeBase]], so
  * the alias-edge set stays near the KB's own edges and canonicalization
  * takes the driver union-find path.
  *
  * A file's identity (repo, path) never depends on its version; version
  * v > 0 is a changed file: new content and a new commit id, as a crawler
  * would hand to incremental maintenance.
  */
object Gen {

  val SentsPerFile = 8
  val NRepos = 50

  private def sha1(s: String): String =
    Digests.hex(java.security.MessageDigest.getInstance("SHA-1")
      .digest(s.getBytes("UTF-8")))

  /** File `i` of the table at `version` (0 = as first written). */
  def closed(i: Long, seed: Long, version: Int = 0): RepoFile = {
    val id = Synth.repoRow(i, SentsPerFile, NRepos, seed)
    if (version == 0) RepoFile(id.repo, id.path, id.commit, id.lang, id.content)
    else RepoFile(id.repo, id.path, sha1(s"${id.repo}/${id.path}@$seed#v$version"),
      id.lang, Synth.repoRow(i, SentsPerFile, NRepos, seed * 31L + version).content)
  }

  /** One maintenance batch: `upserts` are (file index, version) pairs —
    * existing files rewritten plus a few files new to the table — and
    * `deletes` are file indices whose triples are retracted. A file is
    * never both upserted and deleted in one batch.
    */
  final case class Batch(upserts: Seq[(Long, Int)], deletes: Seq[Long])

  /** A batch over a table of files `0 until nBase`: `nChanged` files
    * rewritten (version 1), `nNew` files appended, `nDeleted` files
    * deleted, picked by `seed`. */
  def batch(seed: Long, nBase: Long, nChanged: Int, nNew: Int,
            nDeleted: Int): Batch = {
    val r = new Random(seed * 7777L)
    val picked = scala.collection.mutable.LinkedHashSet.empty[Long]
    while (picked.size < nChanged + nDeleted)
      picked += (r.nextDouble() * nBase).toLong
    val (chg, del) = picked.toSeq.splitAt(nChanged)
    Batch(chg.map(_ -> 1) ++ (nBase until nBase + nNew).map(_ -> 0), del)
  }
}
