package graft.tools

import org.apache.spark.sql.functions._

import graft.Session
import graft.operators.{Dedup, Similarity}
import graft.functions.VectorFunctions

/** Drill-down profiler for q157_mutual_knn: times the LSH-scoring leg,
  * the mutual filter, and the star-CC leg separately so the round's
  * optimization effort lands on the half that actually costs
  * (`runMain graft.tools.Profile157 <sfDir> <reps>`). */
object Profile157 {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(1).map(_.toInt).getOrElse(3)
    val spark = Session.local(Session.cpus)

    def t(name: String)(body: => Unit): Unit = {
      body // warmup
      val samples = Vector.fill(reps) {
        val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
      }.sorted
      println(f"[p157] $name%-22s min=${samples.head}%7.3f median=${samples(samples.length / 2)}%7.3f")
    }

    val emb = graft.sources.Tables(spark, sfDir, "embeddings")
    val nz = emb.filter(VectorFunctions.norm(col("embedding")) > 0)

    def knnDf = Similarity.lshTopK(emb, "vec_id", "embedding",
        k = 3, planes = 4, queryPred = lit(true))
      .select(col("q_id").as("a"), col("c_id").as("b"))
    def mutualDf = {
      val knn = knnDf
      knn.join(knn.select(col("b").as("a"), col("a").as("b")), Seq("a", "b"))
        .filter(col("a") < col("b"))
    }

    t("lsh_topk") { knnDf.write.format("noop").mode("overwrite").save() }
    t("mutual") { mutualDf.write.format("noop").mode("overwrite").save() }
    t("cc_star") {
      Dedup.dedupClustersStar(mutualDf, nz.select(col("vec_id").as("doc_id")))
        .write.format("noop").mode("overwrite").save()
    }
    val edges = mutualDf.count()
    val vecs = nz.count()
    println(s"[p157] vectors=$vecs mutual_edges=$edges")
    spark.stop()
  }
}
