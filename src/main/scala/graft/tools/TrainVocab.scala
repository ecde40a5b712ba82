package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.Session
import graft.functions.TextFunctions
import graft.operators.BpeTrainer
import graft.sources.Tables

/** Regenerates the committed vocab fixture from the corpus with the
  * in-repo trainer — the provenance path for
  * `src/main/resources/graft/vocab_en.txt`:
  *
  *   sbt "runMain graft.tools.TrainVocab /root/testdata/sf0.01 \
  *        src/main/resources/graft/vocab_en.txt"
  *
  * Deterministic: word counts under the engine's normalization contract
  * ([[TextFunctions.normalizedWords]]), [[BpeTrainer]] with the total
  * (count DESC, left ASC, right ASC) tiebreak, minCount=2, up to 150
  * merges (training dries up when no pair repeats). Output = the 26
  * single letters plus every learned piece, sorted, one per line —
  * exactly the [[graft.functions.VocabTokenizer]] load format.
  * BpeTrainerSpec replays this end-to-end and asserts the committed
  * file matches.
  */
object TrainVocab {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val out = args.lift(1).getOrElse("src/main/resources/graft/vocab_en.txt")
    val spark = Session.local(Session.cpus)
    val wc = Tables(spark, sfDir, "documents")
      .select(explode(TextFunctions.normalizedWords(col("text"))).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("cnt"))
    val merges = BpeTrainer.train(wc, merges = 150)
    val vocab = BpeTrainer.vocabulary(('a' to 'z').map(_.toString), merges)
    Files.writeString(Paths.get(out), vocab.mkString("", "\n", "\n"))
    println(s"[train-vocab] ${merges.size} merges, ${vocab.size} pieces -> $out")
    spark.stop()
  }
}
