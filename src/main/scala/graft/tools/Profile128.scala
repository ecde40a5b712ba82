package graft.tools

import org.apache.spark.sql.functions._

import graft.Session
import graft.functions.TextFunctions

/** Drill-down profiler for q128_curation_v2: times the hashed-classifier
  * gate, the kept-docs tokenize join (epochMix's input), and the full
  * epochMix separately so optimization effort lands on the leg that
  * actually costs (`runMain graft.tools.Profile128 <sfDir> <reps>`). */
object Profile128 {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(1).map(_.toInt).getOrElse(3)
    val spark = Session.local(Session.cpus)

    def t(name: String)(body: => Unit): Unit = {
      body // warmup
      val samples = Vector.fill(reps) {
        val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
      }.sorted
      println(f"[p128] $name%-22s min=${samples.head}%7.3f median=${samples(samples.length / 2)}%7.3f")
    }

    val docs = graft.sources.Tables(spark, sfDir, "documents")
    def keepDf = graft.operators.QualityClassifier
      .hashedBigramScore(docs, "doc_id", "text")
      .filter(col("keep")).select("doc_id")
    def baseDf = docs.join(keepDf, "doc_id")
      .select(col("doc_id"), col("source").as("grp"),
        size(TextFunctions.normalizedWords(col("text"))).cast("long").as("n_tok"))
      .filter(col("n_tok") > 0)

    // finer legs: where inside the classifier the time goes
    val w = coalesce(TextFunctions.normalizedWords(col("text")), array())
    val bigramsE = when(size(col("_w")) < 2, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), size(col("_w")) - 1),
        i => concat(element_at(col("_w"), i), lit(" "), element_at(col("_w"), i + 1))))
    def tokDf = graft.sources.Balance.cpuBound(docs)
      .select(col("doc_id"), w.as("_w"))
    def bgDf = tokDf.select(col("doc_id"), bigramsE.as("_bg"))
    def nfeatDf = bgDf.select(col("doc_id"), size(col("_bg")).as("n_feat"))
    def md5Df = bgDf.select(col("doc_id"),
      aggregate(col("_bg"), lit(0L),
        (acc, bg) => acc + (graft.operators.Splits.hashBucket(bg) - 32768)
          .cast("long")).as("margin_units"))
    t("tokenize") { tokDf.write.format("noop").mode("overwrite").save() }
    t("bigrams") { bgDf.write.format("noop").mode("overwrite").save() }
    t("bigrams_size") { nfeatDf.write.format("noop").mode("overwrite").save() }
    t("md5_aggregate") { md5Df.write.format("noop").mode("overwrite").save() }
    t("classifier") { keepDf.write.format("noop").mode("overwrite").save() }
    println("[p128] ===== keepDf plan =====")
    println(keepDf.queryExecution.executedPlan.toString.take(8000))
    t("base_join_tokenize") { baseDf.write.format("noop").mode("overwrite").save() }
    t("epoch_mix_full") {
      graft.operators.Sampling.epochMix(
        docs.join(keepDf, "doc_id"), "doc_id", "source",
        size(TextFunctions.normalizedWords(col("text"))),
        totalBudget = 20000L, maxEpochs = 2,
        numParts = spark.sessionState.conf.numShufflePartitions)
        .write.format("noop").mode("overwrite").save()
    }
    spark.stop()
  }
}
