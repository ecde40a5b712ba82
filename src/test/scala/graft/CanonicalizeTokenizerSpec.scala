package graft

import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.plans.CanonicalizeTokenizer
import graft.sources.Tables

/** The tokenizer-canonicalization optimizer rule: a user writing the
  * composed built-in pipeline gets the native single-pass expression,
  * with identical results. Installed here via the live-session hook
  * (`experimental.extraOptimizations`); extension-loaded sessions get
  * it from GraftExtensions. */
class CanonicalizeTokenizerSpec extends SparkSuite {

  test("rule rewrites the composed pipeline to normalized_words, results unchanged") {
    val prev = spark.experimental.extraOptimizations
    try {
      spark.experimental.extraOptimizations = prev :+ CanonicalizeTokenizer
      val docs = Tables(spark, sfDir, "documents")
      val composed = docs.select(col("doc_id"),
        TextFunctions.normalizedWordsReference(col("text")).as("w"))
      val optimized = composed.queryExecution.optimizedPlan.toString
      assert(optimized.contains("normalized_words"),
        s"rule did not fire:\n$optimized")
      assert(!optimized.contains("array_filter") && !optimized.contains("transform("),
        s"composed pipeline survived:\n$optimized")
      val native = docs.select(col("doc_id"),
        TextFunctions.normalizedWords(col("text")).as("w"))
      assert(composed.exceptAll(native).isEmpty && native.exceptAll(composed).isEmpty)
    } finally spark.experimental.extraOptimizations = prev
  }

  test("rule leaves non-matching pipelines untouched") {
    val prev = spark.experimental.extraOptimizations
    try {
      spark.experimental.extraOptimizations = prev :+ CanonicalizeTokenizer
      val docs = Tables(spark, sfDir, "documents")
      // different strip regex — must NOT be rewritten
      val other = docs.select(filter(
        transform(split(col("text"), "\\s+"), t => regexp_replace(lower(t), "[^a-z0-9]", "")),
        w => w =!= "").as("w"))
      val optimized = other.queryExecution.optimizedPlan.toString
      assert(!optimized.contains("normalized_words"), optimized)
      // lower-first spelling — Unicode lowering can map a non-ASCII code
      // point into [a-z] before the strip, so it is not the tokenizer
      val lowerFirst = docs.select(filter(
        transform(split(col("text"), "\\s+"), t => regexp_replace(lower(t), "[^a-z]", "")),
        w => w =!= "").as("w"))
      val lowerFirstPlan = lowerFirst.queryExecution.optimizedPlan.toString
      assert(!lowerFirstPlan.contains("normalized_words"), lowerFirstPlan)
    } finally spark.experimental.extraOptimizations = prev
  }
}
