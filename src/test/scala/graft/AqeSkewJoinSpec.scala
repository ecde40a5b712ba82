package graft

import org.apache.spark.sql.execution.{PartialReducerPartitionSpec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AQEShuffleReadExec, QueryStageExec}
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.functions._

/** The ADAPTIVE leg of the skew triptych (salting = q82/q83, hybrid
  * broadcast-hot split = q165): plant a zipf-hot join key and assert
  * that AQE's OptimizeSkewedJoin actually fires — the executed plan
  * carries a skew-marked sort-merge join whose hot reducer is split
  * into >1 PartialReducerPartitionSpec — and that the split changes
  * no results. This is the no-code-changes path a 100 TB job takes
  * when skew appears at RUNTIME (salting requires knowing the hot
  * keys at authoring time; AQE measures the actual map output sizes). */
class AqeSkewJoinSpec extends SparkSuite {
  import spark.implicits._

  private val aqeConfs = Seq(
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    // local-scale thresholds: a partition is skewed if its bytes exceed
    // max(factor * median, threshold); splits target the advisory size
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "65536",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "32768",
    // force the sort-merge path: a broadcast join has no reducers to
    // skew, and AQE must not rewrite the skew-split sort-merge join to
    // a shuffled-hash join
    "spark.sql.autoBroadcastJoinThreshold" -> "-1",
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold" -> "0")

  /** Zipf-hot fixture: half the big side lands on key 0, the rest
    * spreads over 1..1000; a fat payload makes the hot reducer's bytes
    * unambiguous. Deterministic (range + modular arithmetic). */
  private def fixture = {
    val big = spark.range(0, 120000).select(
      when($"id" % 2 === 0, 0L).otherwise($"id" % 1000 + 1).as("key"),
      concat(lit("p"), $"id".cast("string"), lit("x" * 96)).as("payload"))
    val dim = spark.range(0, 1001).select(
      $"id".as("key"), ($"id" * 7 % 13).as("w"))
    (big, dim)
  }

  test("OptimizeSkewedJoin fires on the zipf-hot key and preserves results") {
    val (big, dim) = fixture
    // straggler-shaped reference result, AQE skew handling OFF
    val refRow = withConfs(aqeConfs :+
        ("spark.sql.adaptive.skewJoin.enabled" -> "false"): _*) {
      big.join(dim, "key").agg(count(lit(1)), sum($"w"), sum(length($"payload")))
        .collect().head
    }
    withConfs(aqeConfs: _*) {
      val joined = big.join(dim, "key")
        .agg(count(lit(1)), sum($"w"), sum(length($"payload")))
      val row = joined.collect().head
      assert(row == refRow, "skew split must not change the join result")
      val adaptive = joined.queryExecution.executedPlan.collectFirst {
        case a: AdaptiveSparkPlanExec => a.executedPlan
      }.getOrElse(fail("expected an AdaptiveSparkPlanExec root"))
      // plain collect() stops at QueryStageExec boundaries (their
      // materialized subtree hangs off `plan`, not `children`) — walk
      // through them explicitly
      def allNodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
        case q: QueryStageExec => allNodes(q.plan)
        case _ => p.children.flatMap(allNodes)
      })
      val nodes = allNodes(adaptive)
      val skewJoins = nodes.collect {
        case s: SortMergeJoinExec if s.isSkewJoin => s }
      assert(skewJoins.nonEmpty,
        s"expected a skew-marked sort-merge join in:\n$adaptive")
      // the hot reducer was actually SPLIT: >1 partial-reducer spec on
      // the big side's shuffle read
      val splits = nodes.collect { case r: AQEShuffleReadExec =>
        r.partitionSpecs.count(_.isInstanceOf[PartialReducerPartitionSpec]) }
      assert(splits.sum > 1,
        s"expected the skewed partition split into >1 reads, got $splits in:\n$adaptive")
    }
  }
}
