// One-time multimodal fixture build: synthesizes the q40 asset corpus
// (PNG images + video containers seeded from documents.text) and writes
// it to the fingerprint-keyed parquet cache that
// [[graft.operators.Multimodal.cachedCorpusAssets]] reads:
//   sbt "runMain graft.tools.BuildMultimodalAssets <sfDir> [<sfDir2> ...]"
// Running it is optional — q40 builds the cache on its first (warmup)
// execution — but pre-building keeps even the first bench sample clean.
package graft.tools

import graft.Session
import graft.operators.Multimodal
import graft.sources.Tables

object BuildMultimodalAssets {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: BuildMultimodalAssets <sfDir> [<sfDir2> ...]")
    val spark = Session.local(Session.cpus)
    args.foreach { dir =>
      val n = Multimodal.cachedCorpusAssets(
        Tables(spark, dir, "documents"), "doc_id", "text").count()
      println(s"[assets] $dir: $n cached assets")
    }
    spark.stop()
  }
}
