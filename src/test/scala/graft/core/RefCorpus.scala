package graft.core

import java.nio.file.{Files, Path, Paths}

/** The real-data fixture of the core gates: the reference corpus, 1,000
  * NKJP-style Polish ENAMEX sentences (`example/train.nes` of the
  * reference nerf distribution, BSD3), read from [[path]] inside the
  * repository. A test that needs it fails, naming the file, while it is
  * absent; it is never skipped.
  */
object RefCorpus {
  val path: Path = Paths.get("src/test/resources/reference/train.nes")

  /** The first `n` lines of the corpus. */
  def lines(n: Int = Int.MaxValue): Vector[String] = {
    if (!Files.isRegularFile(path))
      org.scalatest.Assertions.fail(s"reference corpus $path is missing: " +
        "copy example/train.nes of the reference nerf distribution there")
    val src = scala.io.Source.fromFile(path.toFile)("UTF-8")
    try src.getLines().take(n).toVector finally src.close()
  }
}
