// Scale-knob measurement for semantic dedup: the per-cluster pair
// fanout is the quadratic term (sum over clusters of C(n_i, 2)), and
// the centroid count is the knob that bounds it. Two modes:
//
//   sbt "runMain graft.tools.SemanticDedupBench <sfDir> [theta] [cents...]"
//     — the original oracle-shaped sweep (deterministic corpus-subset
//       centroids) on a testdata dir.
//
//   sbt "runMain graft.tools.SemanticDedupBench synthetic [theta]"
//     — the PRODUCTION-path scaling record: synthetic blob-structured
//       corpora at N ∈ {5k, 50k, 500k}, k-means centroids
//       (Similarity.assignKMeans — the same fit q79b runs) at both
//       c = √N and c = N/100, measuring the candidate-pair volume,
//       pairs-per-vector, and max cluster size. The claim under test:
//       with c ∝ N (fixed target cluster size) pairs-per-vector stays
//       FLAT as the corpus grows 100×; with c ∝ √N it grows ~√N —
//       so at 100 TB the centroid count must track corpus size, which
//       is exactly how SemDeDup ran (11k clusters / 1.3B embeddings).
package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.Session
import graft.functions.VectorFunctions
import graft.operators.Similarity
import graft.sources.Tables

object SemanticDedupBench {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: SemanticDedupBench <sfDir|synthetic> [theta] [cents...]")
    val spark = Session.local(Session.cpus)
    val theta = args.lift(1).map(_.toDouble).getOrElse(0.3)
    if (args(0) == "synthetic") syntheticSweep(spark, theta)
    else oracleShapedSweep(spark, args(0), theta,
      if (args.length > 2) args.drop(2).map(_.toInt).toSeq else Seq(8, 32, 128))
    spark.stop()
  }

  /** Deterministic blob-structured corpus: `nBlobs` latent centers (a
    * hash-derived direction each), every vector = its blob's center +
    * hash noise. No RNG objects — values are pure functions of
    * (id, dim index), so the record is reproducible bit-for-bit. */
  private def syntheticEmbeddings(spark: SparkSession, n: Long, dim: Int, nBlobs: Int) = {
    // u(seed) in [-0.5, 0.5), derived from xxhash64 — cheap, portable
    def u(c: org.apache.spark.sql.Column) =
      (pmod(xxhash64(c), lit(100000L)).cast("double") / 100000.0) - 0.5
    spark.range(n).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(dim - 1)), i =>
        (u(concat_ws(",", lit("blob"), pmod(col("id"), lit(nBlobs.toLong)), i))
          + u(concat_ws(",", lit("noise"), col("id"), i)) * lit(0.15))
          .cast("float")).as("embedding"))
  }

  /** The committed scaling record: pair volume vs centroid count at
    * 5k/50k/500k vectors, k-means centroids (production path). */
  private def syntheticSweep(spark: SparkSession, theta: Double): Unit = {
    val dim = 64
    for (n <- Seq(5000L, 50000L, 500000L)) {
      val emb = syntheticEmbeddings(spark, n, dim, nBlobs = math.max(64, (n / 500).toInt))
        .persist()
      emb.count()
      for ((tag, c) <- Seq(
          "sqrtN" -> math.max(2, math.round(math.sqrt(n.toDouble)).toInt),
          "NdivTarget" -> math.max(2, (n / 100).toInt))) {
        val t0 = System.nanoTime()
        val assigned = Similarity.assignKMeans(emb, "vec_id", "embedding",
          nCentroids = c, seed = 42L, trainCap = 100000, maxIter = 5)
        val stats = assigned.groupBy("cent_id").count()
          .agg(sum((col("count") * (col("count") - 1) / 2).cast("long")).as("cand_pairs"),
            max(col("count")).as("max_cluster"),
            count(lit(1)).as("nonempty_clusters")).head()
        val sec = (System.nanoTime() - t0) / 1e9
        val candPairs = stats.getLong(0)
        println(f"""{"mode":"synthetic","vecs":$n,"dim":$dim,"centroids":$c,""" +
          f""""centroid_rule":"$tag","cand_pairs":$candPairs,""" +
          f""""pairs_per_vec":${candPairs.toDouble / n}%.1f,""" +
          f""""max_cluster":${stats.getLong(1)},"nonempty_clusters":${stats.getLong(2)},""" +
          f""""assign_sec":$sec%.3f}""")
      }
      emb.unpersist()
    }
  }

  private def oracleShapedSweep(spark: SparkSession, dir: String, theta: Double,
      cents: Seq[Int]): Unit = {
    val emb = Tables(spark, dir, "embeddings")
    val nVecs = emb.count()
    for (c <- cents) {
      val pred = col("vec_id") < c
      // candidate volume = sum over clusters of C(n_i, 2) — the number
      // of cosine evaluations the within-cluster join performs
      val nz = emb.filter(VectorFunctions.norm(col("embedding")) > 0)
      val centDf = nz.filter(pred)
        .select(col("vec_id").as("cent_id"), col("embedding").as("centv"))
      val cos = VectorFunctions.cosine(col("v"), col("centv"))
      val negcs = when(isnan(cos), lit(Double.NegativeInfinity)).otherwise(-cos)
      val sizes = nz.select(col("vec_id").as("vid"), col("embedding").as("v"))
        .join(broadcast(centDf))
        .select(col("vid"), struct(negcs.as("negcs"), col("cent_id")).as("sc"))
        .groupBy("vid").agg(min(col("sc")).as("m"))
        .groupBy(col("m").getField("cent_id")).count()
      val stats = sizes.agg(
        sum((col("count") * (col("count") - 1) / 2).cast("long")).as("cand_pairs"),
        max(col("count")).as("max_cluster")).head()
      val candPairs = stats.getLong(0)
      val maxCluster = stats.getLong(1)
      val t0 = System.nanoTime()
      val r = Similarity.semanticDedup(emb, "vec_id", "embedding", pred, theta)
      val dups = r.filter(col("is_dup") === 1).count()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"""{"sf":"$dir","vecs":$nVecs,"centroids":$c,"theta":$theta,""" +
        f""""cand_pairs":$candPairs,"max_cluster":$maxCluster,"dups":$dups,"sec":$sec%.3f}""")
    }
  }
}
