package graft

import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions, VocabTokenizer}
import graft.operators.{BpeTrainer, DriverLocal}
import graft.sources.Tables

/** BPE vocabulary training: the distributed trainer against the
  * driver-side reference replay (merge-for-merge), hand-checkable toy
  * cases (greedy leftmost overlap handling, minCount stop, tiebreak),
  * and the committed fixture's provenance (vocab_en.txt is exactly what
  * the trainer learns from the sf0.01 corpus). */
class BpeTrainerSpec extends SparkSuite {
  import spark.implicits._

  private def corpusCounts(dir: String): Map[String, Long] =
    Tables(spark, dir, "documents")
      .select(explode(TextFunctions.normalizedWords(col("text"))).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  test("toy: 'abab' learns (a,b) then stops below minCount") {
    val wc = Seq("abab" -> 1L).toDF("word", "cnt")
    val got = BpeTrainer.train(wc, merges = 10, minCount = 2)
    assert(got.map(m => (m.step, m.left, m.right, m.cnt)) == Seq((1, "a", "b", 2L)))
  }

  test("toy: overlapping run 'aaa' merges leftmost-first") {
    // pairs of "aaa"x2: (a,a) cnt 4 -> merge; rewrite = [aa, a] (not [a, aa])
    val wc = Seq("aaa" -> 2L).toDF("word", "cnt")
    val m = BpeTrainer.train(wc, merges = 1, minCount = 2)
    assert(m.map(x => (x.left, x.right, x.cnt)) == Seq(("a", "a", 4L)))
    // reference agrees on the rewrite: next round's best pair is (aa, a)
    val two = BpeTrainer.trainReference(Map("aaa" -> 2L), merges = 2, minCount = 2)
    assert(two.map(x => (x.left, x.right, x.cnt)) ==
      Seq(("a", "a", 4L), ("aa", "a", 2L)))
  }

  test("tiebreak is (count DESC, left ASC, right ASC)") {
    // "xy" and "ab" both have count 3 -> (a,b) wins on left ASC
    val wc = Seq("xy" -> 3L, "ab" -> 3L).toDF("word", "cnt")
    val m = BpeTrainer.train(wc, merges = 1, minCount = 2)
    assert(m.map(x => (x.left, x.right)) == Seq(("a", "b")))
  }

  test("distributed trainer equals the reference replay on the corpus") {
    val wc = Tables(spark, sfDir, "documents")
      .select(explode(TextFunctions.normalizedWords(col("text"))).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("cnt"))
    // cap=0 forces the DISTRIBUTED merge loop; the default path takes
    // the driver-local incremental trainer — all three must agree
    // merge-for-merge
    val dist = withConfs(DriverLocal.ConfKey -> "false") { BpeTrainer.train(wc, merges = 60) }
    val local = BpeTrainer.train(wc, merges = 60)
    val ref = BpeTrainer.trainReference(corpusCounts(sfDir), merges = 60)
    assert(dist == ref, s"first divergence: ${
      dist.zip(ref).collectFirst { case (a, b) if a != b => s"$a vs $b" }
        .getOrElse(s"length ${dist.size} vs ${ref.size}")}")
    assert(local == ref, s"local-vs-ref first divergence: ${
      local.zip(ref).collectFirst { case (a, b) if a != b => s"$a vs $b" }
        .getOrElse(s"length ${local.size} vs ${ref.size}")}")
    assert(dist.size > 20, "the fixture corpus supports dozens of merges")
  }

  test("committed vocab_en.txt is exactly the trainer's output on sf0.01") {
    val ref = BpeTrainer.trainReference(corpusCounts("/root/testdata/sf0.01"), merges = 150)
    val vocab = BpeTrainer.vocabulary(('a' to 'z').map(_.toString), ref)
    assert(vocab == VocabTokenizer.default,
      "regenerate with: sbt \"runMain graft.tools.TrainVocab /root/testdata/sf0.01 " +
        "src/main/resources/graft/vocab_en.txt\"")
  }
}
