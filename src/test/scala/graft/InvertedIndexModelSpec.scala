package graft

import java.nio.file.{Files, Path}

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll

import graft.operators.InvertedIndex

/** The paper's job against the benchmark's independent model: on random
  * corpora, all 26 letter files written by [[InvertedIndex]] are
  * byte-equal to `graftbench.Models.invertedIndex`, a plain-Scala,
  * single-threaded formulation that shares no code with the program.
  *
  * The corpora mix upper and lower case, digits, punctuation, control
  * bytes and bytes ≥ 0x80 inside words; end lines with LF, CRLF and lone
  * CR; and include empty files. The second property also spreads the
  * files over more partitions than task slots, splits files across
  * partitions, and lowers the per-file combine's word cap. */
object InvertedIndexModelSpec extends Properties("inverted_index") {

  // the same call as SparkSuite: the specs share one session per JVM
  private lazy val spark = Session.local(4)

  // each case runs a Spark job; enough cases to hit every generator arm
  override def overrideParameters(p: org.scalacheck.Test.Parameters) =
    p.withMinSuccessfulTests(20)

  private def bytes(s: String): Seq[Byte] = s.map(_.toByte)

  // a small letter set, so words repeat within and across files and the
  // (file count DESC, word ASC) order has ties to break
  private val wordByte: Gen[Byte] = Gen.frequency(
    8 -> Gen.oneOf(bytes("abcxyzABCXZ")),
    1 -> Gen.oneOf(bytes("09-'.,!_")),
    1 -> Gen.oneOf(0x00, 0x1c, 0x1f, 0x7f).map(_.toByte),
    1 -> Gen.oneOf(0x80, 0xa0, 0xc3, 0xa9, 0xe2, 0xff).map(_.toByte))

  private val separator: Gen[Seq[Byte]] = Gen.oneOf(
    " ", "  ", "\t", "\n", "\r\n", "\r", "\f", "\u000b", " \r\n").map(bytes)

  private val fileBytes: Gen[Array[Byte]] = Gen.frequency(
    1 -> Gen.const(Array.emptyByteArray),
    6 -> Gen.listOf(Gen.zip(Gen.choose(1, 6).flatMap(Gen.listOfN(_, wordByte)), separator))
      .map(_.flatMap { case (w, sep) => w ++ sep }.toArray))

  // up to 12 files, more than the session's 4 task slots
  private val corpus: Gen[Seq[Array[Byte]]] =
    Gen.choose(1, 12).flatMap(Gen.listOfN(_, fileBytes))

  /** Writes the corpus and its manifest to a fresh directory, runs
    * `job(manifest, outDir)`, and compares the 26 letter files with the
    * model's bytes. */
  private def matchesModel(files: Seq[Array[Byte]])(job: (String, String) => Unit): Prop = {
    val dir = Files.createTempDirectory("idx_model")
    try {
      files.zipWithIndex.foreach { case (b, i) => Files.write(dir.resolve(s"f$i.txt"), b) }
      Files.writeString(dir.resolve("manifest.txt"),
        files.indices.map(i => s"f$i.txt").mkString(s"${files.length}\n", "\n", "\n"))
      val out = dir.resolve("out")
      job(dir.resolve("manifest.txt").toString, out.toString)
      val model = graftbench.Models.invertedIndex(files.zipWithIndex.map { case (b, i) => (i + 1, b) })
      Prop.all(('a' to 'z').map { c =>
        val ours = Files.readAllBytes(out.resolve(s"$c.txt"))
        Prop(ours.sameElements(model(c))) :|
          s"$c.txt: got <${new String(ours, "US-ASCII")}> want <${new String(model(c), "US-ASCII")}>"
      }: _*)
    } finally deleteTree(dir)
  }

  private def deleteTree(p: Path): Unit = {
    val walk = Files.walk(p)
    try walk.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
    finally walk.close()
  }

  property("run == model on random corpora") = forAll(corpus) { files =>
    matchesModel(files)(InvertedIndex.run(spark, _, _))
  }

  property("== model with files over many partitions and a small combine cap") =
    forAll(corpus, Gen.oneOf(1, 2, 3), Gen.oneOf(false, true)) { (files, runCap, roundRobin) =>
      matchesModel(files) { (manifest, out) =>
        // one input partition per file; round-robin then splits each
        // file's lines over three partitions, so its run is cut
        val scanned = spark.read.format("manifest-corpus")
          .option("maxPartitionBytes", "1").load(manifest).select("file_id", "value")
        val corpusDf = if (roundRobin) scanned.repartition(3) else scanned
        InvertedIndex.writeLetterFiles(InvertedIndex.buildIndexFrom(corpusDf, runCap), out)
      }
    }
}
