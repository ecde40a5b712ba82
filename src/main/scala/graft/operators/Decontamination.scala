package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Benchmark decontamination for training corpora: flag training
  * documents that share word n-grams with a held-out benchmark / test
  * set, so evaluation data can be excised from the training mix (the
  * standard n-gram-overlap protocol of the GPT-3 / PaLM / Llama data
  * cards, here with the engine-portable tokenizer the whole repo
  * shares with its oracle).
  *
  * Scale shape (100 TB corpus, benchmark ≪ corpus): the benchmark's
  * distinct-gram set is tiny relative to the corpus (benchmarks are
  * thousands-to-millions of docs, not billions) — broadcast it and the
  * corpus is NEVER shuffled on content: one narrow explode, a map-side
  * broadcast hash join, then a single shuffle on doc_id carrying only
  * (doc_id, count). With `broadcastBenchmark = false` the join falls
  * back to a hash-partitioned equi-join on the gram — the right plan
  * when the "benchmark" is itself corpus-sized (e.g. cross-corpus
  * leakage checks).
  */
object Decontamination {

  /** Per-document contamination report over `corpus`:
    * (doc_id, n_grams, n_hit, hit_ratio, contaminated) where `n_hit`
    * counts the document's DISTINCT word n-grams that appear anywhere
    * in `benchmark`, and `contaminated` = n_hit ≥ minOverlap.
    * Documents with fewer than `n` words have zero grams and are
    * reported (never flagged), not dropped.
    */
  def report(corpus: DataFrame, benchmark: DataFrame, idCol: String,
      textCol: String, n: Int, minOverlap: Int,
      broadcastBenchmark: Boolean = true): DataFrame = {
    def grams = // distinct word n-grams, computed narrow per row
      array_distinct(TextFunctions.wordShingles(
        TextFunctions.normalizedWords(col(textCol)), n))
    val corpusGrams = corpus.select(col(idCol).as("doc_id"), explode(grams).as("g"))
    val benchGrams0 = benchmark.select(explode(grams).as("g")).distinct()
    val benchGrams = if (broadcastBenchmark) broadcast(benchGrams0) else benchGrams0
    // inner join (not semi): per-doc hit COUNT is the signal; grams are
    // already distinct per doc so count(*) is the distinct-hit count
    val hits = corpusGrams.join(benchGrams, "g")
      .groupBy("doc_id").agg(count(lit(1)).as("n_hit"))
    // coalesce: a NULL-text doc has NULL grams (size(null) is null) but
    // the contract — and the q64 oracle — reports it with 0 grams
    corpus.select(col(idCol).as("doc_id"),
        coalesce(size(grams), lit(0)).as("n_grams"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        TextFunctions.round4(coalesce(col("n_hit"), lit(0L)).cast("double") /
          greatest(col("n_grams"), lit(1))).as("hit_ratio"),
        (coalesce(col("n_hit"), lit(0L)) >= minOverlap).as("contaminated"))
  }

  /** SPAN-LEVEL contamination localization — the surgical complement
    * of [[report]]'s doc-level flag: WHERE in the document the
    * benchmark text appears, as maximal token spans, so remediation
    * can CUT THE SPAN AND KEEP THE DOC instead of dropping it (the
    * difference between losing a boilerplate-quoting page and losing
    * nothing). Hit positions come from the same benchmark-gram
    * broadcast join, with the gram START POSITION carried through
    * (posexplode); maximal spans are the classic islands aggregation —
    * consecutive hits merge when their n-token windows touch
    * (gap ≤ n), one window + one aggregate per doc. Output: 1-based
    * inclusive [span_start, span_end] token ranges with the hit count
    * per span. */
  def spans(corpus: DataFrame, benchmark: DataFrame, idCol: String,
      textCol: String, n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def gramsArr = TextFunctions.wordShingles(
      TextFunctions.normalizedWords(col(textCol)), n)
    val corpusGrams = corpus.select(col(idCol).as("doc_id"),
        posexplode(gramsArr).as(Seq("pos0", "g")))
    val benchGrams = broadcast(
      benchmark.select(explode(array_distinct(gramsArr)).as("g")).distinct())
    val w = Window.partitionBy("doc_id").orderBy("pos0")
    val hits = corpusGrams.join(benchGrams, "g")
      .withColumn("ns",
        when(lag(col("pos0"), 1).over(w).isNull
          || col("pos0") - lag(col("pos0"), 1).over(w) > n, 1).otherwise(0))
      .withColumn("sid", sum(col("ns")).over(
        w.rangeBetween(Window.unboundedPreceding, Window.currentRow)))
    hits.groupBy("doc_id", "sid")
      .agg(min(col("pos0")).as("s0"), max(col("pos0")).as("e0"),
        count(lit(1)).as("n_hits"))
      .select(col("doc_id"), (col("s0") + 1).as("span_start"),
        (col("e0") + n).as("span_end"), col("n_hits"))
  }

  /** [[report]] with a BLOOM PREFILTER on the corpus grams (the q53
    * runtime-filter idiom applied to curation): the benchmark's
    * distinct grams aggregate into a bloom sketch (bounded bytes to
    * the driver, like the CountMin materialization), and corpus grams
    * probe `might_contain` BEFORE the exact join — so at 100 TB the
    * explode→join stage carries ~only grams that can match instead of
    * every gram in the corpus. Bloom false positives are removed by
    * the exact join and false negatives are impossible, so the result
    * is IDENTICAL to [[report]] (spec-asserted; q125 shares q64's
    * oracle). `expectedItems` sizes the sketch (~1.2 KB / 1k NDV at
    * the default FPP). */
  def reportBloomPrefiltered(corpus: DataFrame, benchmark: DataFrame, idCol: String,
      textCol: String, n: Int, minOverlap: Int, expectedItems: Long = 100000L): DataFrame = {
    val spark = corpus.sparkSession
    // sessions from graft.Session inject the graft functions already
    if (!spark.catalog.functionExists("bloom_filter_agg"))
      graft.plans.GraftFunctions.register(spark)
    def grams =
      array_distinct(TextFunctions.wordShingles(
        TextFunctions.normalizedWords(col(textCol)), n))
    val benchGrams = benchmark.select(explode(grams).as("g")).distinct()
    val bloom = benchGrams
      .agg(call_function("bloom_filter_agg", xxhash64(col("g")), lit(expectedItems)).as("bf"))
      .head.getAs[Array[Byte]](0)
    val corpusGrams = corpus.select(col(idCol).as("doc_id"), explode(grams).as("g"))
      .filter(call_function("might_contain", lit(bloom), xxhash64(col("g"))))
    val hits = corpusGrams.join(broadcast(benchGrams), "g")
      .groupBy("doc_id").agg(count(lit(1)).as("n_hit"))
    corpus.select(col(idCol).as("doc_id"),
        coalesce(size(grams), lit(0)).as("n_grams"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        TextFunctions.round4(coalesce(col("n_hit"), lit(0L)).cast("double") /
          greatest(col("n_grams"), lit(1))).as("hit_ratio"),
        (coalesce(col("n_hit"), lit(0L)) >= minOverlap).as("contaminated"))
  }

  /** EMBEDDING-space decontamination: flag corpus vectors whose cosine
    * against ANY benchmark vector reaches `tau` — the semantic
    * complement of [[report]]'s n-gram protocol (catches paraphrased /
    * translated eval leakage that shares no n-grams; both run in real
    * decontamination passes).
    *
    * Scale shape: the benchmark embedding set is tiny (eval suites) —
    * it broadcasts past the corpus and each corpus partition scores
    * locally (one narrow scan, max-aggregate per vector; the ONLY
    * shuffle carries (id, max_cos) scalars). The scan is the documented
    * brute-force baseline: at benchmark sizes where the broadcast
    * stops fitting, the ANN family (LSH q36 / IVF q38 / PQ q92) is the
    * drop-in candidate generator, exactly as in [[Similarity]].
    * Returns (idCol, max_cos rounded to 4 dp, contaminated). */
  def byEmbedding(corpus: DataFrame, benchmark: DataFrame, idCol: String,
      embCol: String, tau: Double): DataFrame = {
    val bench = broadcast(benchmark.select(col(embCol).as("__b_emb")))
    corpus
      .crossJoin(bench)
      .select(col(idCol),
        graft.functions.VectorFunctions.cosine(col(embCol), col("__b_emb")).as("__cs"))
      .groupBy(idCol)
      .agg(TextFunctions.round4(max("__cs")).as("max_cos"))
      .withColumn("contaminated", col("max_cos") >= tau)
  }
}
