// Scratch profiler (round 6): stage-level timing of the connected-
// components whales (q63/q63b/q66) and the multimodal query (q40).
package graft.tools

import org.apache.spark.sql.functions._

import graft.Session

object ProfileCC {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = Session.local(Session.cpus)

    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def time(tag: String)(body: => Any): Unit = {
      val t0 = System.nanoTime()
      val r = body
      val rows = r match { case n: Long => s"   rows=$n"; case _ => "" }
      println(f"[prof] $tag%-34s ${(System.nanoTime() - t0) / 1e9}%8.3f s$rows")
    }

    val docs = graft.sources.Tables(spark, sfDir, "documents")
    docs.count() // warm scan

    // optional section filter: ProfileCC <sfDir> [variants|q63|q66|q40 ...]
    // (no section args = run everything, the round-6 behavior)
    val sections = args.drop(1).toSet
    def on(s: String): Boolean = sections.isEmpty || sections.contains(s)

    // naive vs prefix-filtered exact jaccard pair generation
    for ((n, th) <- Seq((2, 0.3), (3, 0.5)) if on("variants")) {
      time(f"naive pairgen n=$n th=$th count")(
        graft.operators.Dedup.ngramJaccardPairs(docs, "doc_id", "text", n, th).count())
      time(f"prefix pairgen n=$n th=$th count")(
        graft.operators.Dedup.ngramJaccardPairsPrefix(docs, "doc_id", "text", n, th).count())
      time(f"brute pairgen n=$n th=$th count")(
        graft.operators.Dedup.ngramJaccardPairsBrute(docs, "doc_id", "text", n, th).count())
    }

    // q63 stages
    if (on("q63")) {
    // declared q63 pair generator (prefix-filtered since round 7)
    val pairs = graft.operators.Dedup.ngramJaccardPairsPrefix(docs, "doc_id", "text", n = 2, theta = 0.3)
    time("q63 pairgen prefix (theta .3) count")(pairs.count())
    val pairsP = pairs.select("doc_a", "doc_b").persist()
    time("q63 pairs persist")(pairsP.count())
    time("q63 CC propagation only")(noop(
      graft.operators.Dedup.dedupClusters(pairsP, docs.select("doc_id"))))
    time("q63b CC star only")(noop(
      graft.operators.Dedup.dedupClustersStar(pairsP, docs.select("doc_id"))))
    pairsP.unpersist()
    time("q63 declared e2e")(noop(graft.SparkEntry.queries("q63_dedup_clusters")(spark, sfDir)))
    time("q63b declared e2e")(noop(graft.SparkEntry.queries("q63b_dedup_clusters_star")(spark, sfDir)))
    }

    // prefix-join internals: where the q63 pair-generation time goes
    if (on("prefix")) {
      import org.apache.spark.sql.expressions.Window
      val n = 2; val theta = 0.3; val thetaP = theta - 0.00005
      val sh = docs
        .select(col("doc_id"), graft.operators.Dedup.shingleArray("text", n).as("ss"))
        .select(col("doc_id"), size(col("ss")).as("sz"), explode(col("ss")).as("shingle"))
      time("prefix: exploded shingle rows")(sh.count())
      val dfreq = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
      time("prefix: distinct shingles (df)")(dfreq.count())
      val withDf = sh.join(dfreq, "shingle")
      val prefix = withDf
        .withColumn("rn", row_number().over(Window
          .partitionBy(col("doc_id")).orderBy(col("df"), col("shingle"))))
        .filter(col("rn") <= col("sz") - floor(col("sz") * thetaP) + 1)
        .select("doc_id", "sz", "shingle")
      time("prefix: prefix rows (df join + window)")(prefix.count())
      val a2 = prefix.select(col("doc_id").as("doc_a"), col("sz").as("sz_a"), col("shingle"))
      val b2 = prefix.select(col("doc_id").as("doc_b"), col("sz").as("sz_b"), col("shingle"))
      val cand = a2.hint("shuffle_hash").join(b2, "shingle")
        .filter(col("doc_a") < col("doc_b") &&
          col("sz_b") >= col("sz_a") * thetaP && col("sz_a") >= col("sz_b") * thetaP)
        .select("doc_a", "doc_b")
      time("prefix: candidate pairs (pre-distinct)")(cand.count())
      val candD = cand.distinct()
      time("prefix: candidate pairs (distinct)")(candD.count())
      val candP = candD.persist()
      candP.count()
      time("prefix: refine only")(graft.operators.Dedup.jaccardRefine(
        candP, docs, "doc_id", "text", n, theta).count())
      candP.unpersist()
    }

    // refine-stage A/B: same persisted candidate set, three jaccard
    // formulations — (a) array_intersect on string arrays (the round-6
    // shape), (b) sorted-merge expr on string arrays, (c) sorted-merge
    // on xxhash64'd long arrays (the declared shape since round 7).
    // Run each twice: sample 1 pays page-cache/JIT, sample 2 is signal.
    if (on("refineab")) {
      val n = 2; val theta = 0.3
      val candP = graft.operators.Dedup.ngramJaccardCandidatesPrefix(
        docs, "doc_id", "text", n, theta).persist()
      println(s"[prof] refineab: candidates = ${candP.count()}")
      def refineWith(mk: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame, label: String): Unit = {
        for (s <- 1 to 2) time(f"refineab: $label s$s")(mk(candP).count())
      }
      val setsStr = docs.select(col("doc_id"),
        array_distinct(graft.operators.Dedup.shingleArray("text", n)).as("ss"))
      def joinSets(sets: org.apache.spark.sql.DataFrame, p: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
        p.select(col("doc_a"), col("doc_b"))
          .join(sets.select(col("doc_id").as("doc_a"), col("ss").as("ss_a")), "doc_a")
          .join(sets.select(col("doc_id").as("doc_b"), col("ss").as("ss_b")), "doc_b")
      refineWith(p => joinSets(setsStr, p)
        .withColumn("inter", size(array_intersect(col("ss_a"), col("ss_b"))))
        .withColumn("jacc", col("inter").cast("double") /
          (size(col("ss_a")) + size(col("ss_b")) - col("inter")))
        .filter(col("jacc") >= theta), "intersect-str")
      val setsSorted = docs.select(col("doc_id"),
        sort_array(graft.operators.Dedup.shingleArray("text", n)).as("ss"))
      refineWith(p => joinSets(setsSorted, p)
        .withColumn("jacc", graft.plans.TextSketchExprs.jaccardSorted(col("ss_a"), col("ss_b")))
        .filter(col("jacc") >= theta), "merge-str")
      refineWith(p => graft.operators.Dedup.jaccardRefine(
        p, docs, "doc_id", "text", n, theta), "merge-long")
      candP.unpersist()
    }

    // q66 stages
    if (on("q66")) {
    val cands = graft.operators.Dedup.minhashCandidates(docs, "doc_id", "text",
      n = 2, k = graft.queries.Extensions.mhK, bands = graft.queries.Extensions.mhBands)
    time("q66 candidates count")(cands.count())
    val verified = graft.operators.Dedup.jaccardRefine(cands, docs, "doc_id", "text", n = 2, theta = 0.5)
    time("q66 refine count")(verified.count())
    val verP = verified.select("doc_a", "doc_b").persist()
    time("q66 verified persist")(verP.count())
    time("q66 CC star only")(noop(
      graft.operators.Dedup.dedupClustersStar(verP, docs.select("doc_id"))))
    verP.unpersist()
    time("q66 declared e2e")(noop(graft.SparkEntry.queries("q66_dedup_pipeline")(spark, sfDir)))
    }

    // q40 stages
    if (on("q40")) {
    val images = graft.operators.Multimodal.synthesizeAssets(docs, "doc_id", "text", "image")
    val videos = graft.operators.Multimodal.synthesizeAssets(
      docs.withColumn("vtext", reverse(col("text"))), "doc_id", "vtext", "video")
    time("q40 image synth+decode")(graft.operators.Multimodal.decodeFeatures(images).count())
    time("q40 video synth+decode")(graft.operators.Multimodal.decodeFeatures(videos).count())
    time("q40 declared e2e")(noop(graft.SparkEntry.queries("q40_multimodal")(spark, sfDir)))
    }

    spark.stop()
  }
}
