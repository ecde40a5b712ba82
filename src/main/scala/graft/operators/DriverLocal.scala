package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Bounded driver-local execution: the one primitive behind every
  * size-gated fast path (Dedup's two connected-components variants,
  * [[Communities]]' LPA / weighted LPA / kCore, [[PageRank]] and its
  * personalized variant, [[Hits]], the [[BpeTrainer]] merge rounds).
  * Each collects a relation at or under its cap and runs an exact
  * in-memory replica of the distributed rounds; over the cap the
  * distributed loops run unchanged. The preview-then-choose shape: look
  * at at most `cap + 1` rows, then pick the branch.
  *
  * One switch, the session conf [[ConfKey]] (default `true`): set to
  * `false`, every cap read through [[cap]] is 0, so every gate takes its
  * distributed branch. That covers the fast paths above plus the
  * broadcast gates of brute Jaccard and `Similarity.allPairsCosine`, so
  * one oracle run checks every gate's other branch.
  */
object DriverLocal {

  /** Session kill switch (`spark.graft.driverLocal.enabled`, default
    * true), settable per session or as a `-D` system property. */
  val ConfKey = "spark.graft.driverLocal.enabled"

  /** Caps of the fast paths. A relation at or under its cap is bounded
    * decision metadata, like [[LocalKMeans]]' capped sample: one collect
    * plus an exact replica replaces `rounds` × a few tiny shuffle stages,
    * whose cost at this size is per-round job latency, not data (q157's
    * CC leg went 5.35 s → sub-second over 2,020 edges). At 100 TB every
    * real graph and vocabulary is far past its cap and never reaches the
    * driver.
    *  - `edgeCap` counts SYMMETRIC distinct edges (2× the canonical
    *    pairs): ~2M × ~16 B ≈ 32 MB.
    *  - `vocabCap` counts `(word, cnt)` rows of a BPE word-count table,
    *    which Heaps' law bounds by vocabulary, not tokens: a few MB. */
  val edgeCap: Long = 2097152L
  val vocabCap: Long = 262144L

  /** `c`, or 0 (always distributed) when [[ConfKey]] is false. */
  def cap(spark: SparkSession, c: Long): Long =
    if (spark.conf.get(ConfKey, "true").toBoolean) c else 0L

  /** The rows of `df` when it has at most `cap` of them. One
    * `limit(cap + 1)` collect; no Spark job at all when `cap <= 0`. Over
    * the cap, the at most `cap + 1` collected rows are dropped. */
  def collectIfBounded(df: DataFrame, cap: Long): Option[Array[Row]] =
    if (cap <= 0) None
    else {
      val c = math.min(cap, Int.MaxValue - 2L)
      val rows = df.limit((c + 1).toInt).collect()
      if (rows.length <= c) Some(rows) else None
    }

  /** Value-equal key for a node id: `Array[Byte]` hashes by identity,
    * so binary ids are wrapped. */
  def key(v: Any): Any = v match {
    case b: Array[Byte] => b.toSeq
    case x => x
  }

  /** Local rows → DataFrame, one partition per 256k rows. */
  def toDf(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, math.max(1, rows.length / 262144)), schema)
}
