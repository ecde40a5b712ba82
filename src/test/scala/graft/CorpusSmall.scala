package graft

import java.nio.file.{Path, Paths}

/** The committed small corpus (`src/test/resources/corpus_small/`,
  * FIXTURES.md §A.4): three ASCII files behind a 3-line manifest, laid
  * out like the reference checker's `test_small.txt` + `test_in_small/`,
  * with a golden `test_out_small/{a..z}.txt` derived by hand from the
  * §A.3 contract. Resolved through the test classpath, so specs need
  * nothing outside the repository. */
object CorpusSmall {
  private val dir: Path =
    Paths.get(getClass.getResource("/corpus_small/test_small.txt").toURI).getParent
  val manifest: String = dir.resolve("test_small.txt").toString
  val golden: Path = dir.resolve("test_out_small")
}
