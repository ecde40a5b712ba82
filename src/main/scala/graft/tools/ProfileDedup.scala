// Scratch profiler for the minhash-dedup pipeline (the q27 bench shape):
//   sbt "runMain graft.tools.ProfileDedup <sfDir> [stages|query|bands|all] [reps]"
// `stages` times each pipeline stage (scan+tokenize, signatures,
// candidates) by count; `query` times the declared q27 exactly as Bench
// does (noop write) plus the orderBy-free candidate stage, so the
// sort/exchange cost of the oracle-mandated total order is visible;
// `bands` sweeps the LSH banding config (the precision knob that bounds
// candidate-pair volume on near-dup-dense corpora: fewer bands → more
// rows per band → a pair must agree on a longer signature slice to
// become a candidate); `all` (default) runs stages+query.
package graft.tools

import org.apache.spark.sql.functions._

import graft.Session

object ProfileDedup {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val mode = args.lift(1).getOrElse("all")
    val reps = args.lift(2).map(_.toInt).getOrElse(3)
    val spark = Session.local(Session.cpus)

    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def time(tag: String)(body: => Any): Unit = {
      body // warm
      (1 to reps).foreach { i =>
        val t0 = System.nanoTime()
        val r = body
        val rows = r match { case n: Long => s"   rows=$n"; case _ => "" }
        println(f"$tag%-28s run$i ${(System.nanoTime() - t0) / 1e9}%8.3f s$rows")
      }
    }

    val docs = graft.sources.Tables(spark, sfDir, "documents")
    if (mode == "stages" || mode == "all") {
      time("scan+tokenize")(docs.select(explode(
        graft.functions.TextFunctions.normalizedWords(col("text")))).count())
      time("signatures")(
        graft.operators.Dedup.minhashSignatures(docs, "doc_id", "text", 1, 12).count())
      time("candidates e2e")(
        graft.operators.Dedup.minhashCandidates(docs, "doc_id", "text", 1, 12, 2).count())
    }
    if (mode == "bands") {
      // k divides into 12/6/4/3/2/1 bands; bands=k is one hash per
      // band (max recall, max candidates), bands=1 demands the full
      // signature match (max precision, min candidates)
      val k = graft.queries.Extensions.mhK
      Seq(12, 6, 4, 3, 2, 1).filter(k % _ == 0).foreach { b =>
        val t0 = System.nanoTime()
        val n = graft.operators.Dedup.minhashCandidates(docs, "doc_id", "text", 1, k, b).count()
        println(f"bands=$b%-3d rows/band=${k / b}%-3d candidates=$n%10d  ${(System.nanoTime() - t0) / 1e9}%7.3f s")
      }
    }
    if (mode == "query" || mode == "all") {
      val cands = graft.operators.Dedup.minhashCandidates(docs, "doc_id", "text", 1, 12, 2)
      println(s"candidate pairs: ${cands.count()}")
      time("candidates (no order)")(noop(cands))
      time("q27 as benched")(noop(graft.SparkEntry.queries("q27_minhash_lsh")(spark, sfDir)))
    }
    spark.stop()
  }
}
