package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.{col, explode}

import graft.functions.TextFunctions
import graft.operators.InvertedIndex
import graft.plans.TextNormExprs

/** Golden parity for the small-corpus gate the reference's checker.sh
  * grades with `diff -w` over all 26 letter files. Each golden test
  * always runs the committed corpus (`CorpusSmall`, FIXTURES.md §A.4)
  * against its hand-derived `test_out_small/`; where the reference
  * checkout's `checker/test_small.txt` exists, it also runs the
  * reference's own small corpus against the reference's committed
  * `test_out_small/`. The full 355-file corpus parity is exercised by
  * the CLI runner (see README). */
class InvertedIndexParitySpec extends SparkSuite {

  private val refChecker = Paths.get("/root/reference/checker")

  /** (manifest, golden dir): the committed fixture, then the reference's
    * own small corpus where its checkout is present. */
  private val corpora: Seq[(String, Path)] =
    (CorpusSmall.manifest, CorpusSmall.golden) +:
      Seq(refChecker.resolve("test_small.txt")).filter(Files.exists(_))
        .map(m => (m.toString, refChecker.resolve("test_out_small")))

  private def canon(lines: Seq[String]): Seq[String] =
    lines.map(_.trim.replaceAll("\\s+", " ")).filter(_.nonEmpty)

  test("small corpus matches reference golden output for all 26 letters") {
    corpora.foreach { case (manifest, goldenDir) =>
      val out = Files.createTempDirectory("idx_small").toString
      InvertedIndex.run(spark, manifest, out)
      ('a' to 'z').foreach { c =>
        val golden = goldenDir.resolve(s"$c.txt")
        val ours = Paths.get(s"$out/$c.txt")
        assert(Files.exists(ours), s"$c.txt missing — empty letters must materialize")
        assert(
          canon(Files.readAllLines(ours).asScala.toSeq) ===
            canon(Files.readAllLines(golden).asScala.toSeq),
          s"letter $c differs from golden $goldenDir")
      }
    }
  }

  test("letter sink accepts a file: URI outDir (Hadoop-FS writer path)") {
    corpora.foreach { case (manifest, goldenDir) =>
      val outLocal = Files.createTempDirectory("idx_uri").toString
      InvertedIndex.run(spark, manifest, "file:" + outLocal)
      ('a' to 'z').foreach { c =>
        val golden = goldenDir.resolve(s"$c.txt")
        val ours = Paths.get(s"$outLocal/$c.txt")
        assert(Files.exists(ours), s"$c.txt missing under file: URI outDir")
        assert(
          canon(Files.readAllLines(ours).asScala.toSeq) ===
            canon(Files.readAllLines(golden).asScala.toSeq),
          s"letter $c differs from golden $goldenDir under file: URI outDir")
      }
    }
  }

  private def assertGoldenBytes(out: Path, what: String): Unit =
    ('a' to 'z').foreach { c =>
      assert(Files.readAllBytes(out.resolve(s"$c.txt")) sameElements
        Files.readAllBytes(CorpusSmall.golden.resolve(s"$c.txt")),
        s"letter $c differs from golden ${CorpusSmall.golden} $what")
    }

  private def fixtureCorpus = spark.read.format("manifest-corpus")
    .load(CorpusSmall.manifest).select("file_id", "value")

  /** The map side of the index: each line's words, minus those already
    * seen in its file's run. */
  private def combined(corpus: org.apache.spark.sql.DataFrame) = corpus.select(col("file_id"),
    explode(TextNormExprs.firstInRun(col("file_id"),
      TextFunctions.normalizedWords(col("value")))).as("word"))

  test("index equals the golden when files are split over partitions (round-robin)") {
    // the combine sees a file as several runs, so in-file repeats reach
    // collect_set, which must still remove them
    val out = Files.createTempDirectory("idx_rr")
    InvertedIndex.writeLetterFiles(
      InvertedIndex.buildIndexFrom(fixtureCorpus.repartition(3)), out.toString)
    assertGoldenBytes(out, "after repartition(3)")
  }

  test("index equals the golden with the combine's word cap at 2") {
    val out = Files.createTempDirectory("idx_cap")
    InvertedIndex.writeLetterFiles(InvertedIndex.buildIndexFrom(fixtureCorpus, 2), out.toString)
    assertGoldenBytes(out, "with the combine capped at 2 words")
  }

  test("the per-file combine emits each distinct (file_id, word) pair exactly once") {
    val tokens = fixtureCorpus.select(col("file_id"),
      explode(TextFunctions.normalizedWords(col("value"))).as("word"))
    val pairs = combined(fixtureCorpus).collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(pairs.distinct.size === pairs.size, "a pair came out twice")
    assert(pairs.toSet === tokens.distinct().collect().map(r => (r.getInt(0), r.getString(1))).toSet)
    assert(tokens.count() > pairs.size, "the fixture has in-file repeats to combine")
  }

  test("the combine's state is per task: executing one DataFrame twice gives the same rows") {
    val key = "spark.sql.codegen.wholeStage"
    val before = spark.conf.getOption(key)
    try Seq("true", "false").foreach { codegen =>
      spark.conf.set(key, codegen)
      // one file, so a set left over from the first execution would hold
      // the second one's key and drop all its words
      val df = combined(fixtureCorpus.filter(col("file_id") === 1))
      val first = df.collect().toSeq
      assert(first.nonEmpty)
      assert(df.collect().toSeq === first, s"second execution differs (wholeStage=$codegen)")
    } finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("letter sink output is byte-equal to the golden at 1 and 64 shuffle partitions") {
    // the sink inherits the session's shuffle partition count: every
    // letter in one task, or letters spread thin over mostly empty ones
    val keys = Seq("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    val before = keys.map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      Seq(1, 64).foreach { n =>
        spark.conf.set("spark.sql.shuffle.partitions", n.toLong)
        val out = Files.createTempDirectory(s"idx_p$n")
        InvertedIndex.run(spark, CorpusSmall.manifest, out.toString)
        assertGoldenBytes(out, s"at $n shuffle partitions")
      }
    } finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("letter sink writes exactly the 26 letter files, no .crc sidecars") {
    val out = Files.createTempDirectory("idx_crc")
    InvertedIndex.run(spark, CorpusSmall.manifest, out.toString)
    val names = Files.list(out).iterator().asScala.map(_.getFileName.toString).toSeq.sorted
    assert(names === ('a' to 'z').map(c => s"$c.txt"))
  }

  test("manifest read: 1-based ids in manifest order") {
    val files = InvertedIndex.readManifest(CorpusSmall.manifest)
    assert(files.map(_._2) === Seq(1, 2, 3))
    assert(files.head._1.endsWith("test_in_small/file1.txt"))
  }
}
