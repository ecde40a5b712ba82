package graft

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.graftbench.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

import graft.operators.{BpeTrainer, Communities, Dedup, DriverLocal, Hits, PageRank, Similarity}
import graft.sources.Tables

/** [[DriverLocal]]: the bounded collect, the binary-id key, and the one
  * session switch every size gate reads. A listener counts this
  * thread's jobs and records the call stack of every SQL execution, so
  * an execution started inside `DriverLocal.collectIfBounded` is a
  * fast-path collect. (Job call sites cannot tell: AQE submits stages
  * from its own threads.) */
class DriverLocalSpec extends SparkSuite {
  import spark.implicits._

  private val group = "driver-local-spec"
  private val jobs = new java.util.concurrent.atomic.AtomicInteger()
  private val executions = new ConcurrentLinkedQueue[String]()
  private lazy val listener = {
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(p => p.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart => executions.add(x.details)
        case _ =>
      }
    }
    spark.sparkContext.addSparkListener(l)
    l
  }

  /** `body`'s result, the jobs it launched, and the call stacks of the
    * SQL executions it started. */
  private def jobsOf[T](body: => T): (T, Int, Seq[String]) = {
    listener
    ListenerBusDrain(spark.sparkContext)
    jobs.set(0)
    executions.clear()
    spark.sparkContext.setJobGroup(group, group)
    try {
      val out = body
      ListenerBusDrain(spark.sparkContext)
      (out, jobs.get(), executions.toArray(Array.empty[String]).toSeq)
    } finally spark.sparkContext.clearJobGroup()
  }

  private def localCollects(executions: Seq[String]): Int =
    executions.count(_.contains("DriverLocal$.collectIfBounded"))

  private val off = DriverLocal.ConfKey -> "false"

  /** 25 rows in ONE partition: Spark's limit-collect scans partitions
    * incrementally, so a single partition pins the job count to one. */
  private def rows25: DataFrame = spark.range(0, 25, 1, 1).toDF("id")

  test("under the cap: exactly one job, every row returned") {
    val (got, n, _) = jobsOf(DriverLocal.collectIfBounded(rows25, 100))
    assert(n === 1)
    assert(got.map(_.map(_.getLong(0)).toSeq) === Some(0L until 25L))
  }

  test("cap = n is bounded, cap = n - 1 is not") {
    assert(DriverLocal.collectIfBounded(rows25, 25).map(_.length) === Some(25))
    assert(DriverLocal.collectIfBounded(rows25, 24) === None)
  }

  test("cap 0, and any cap with the switch off: None without a Spark job") {
    val (zero, n0, _) = jobsOf(DriverLocal.collectIfBounded(rows25, 0))
    assert(zero === None)
    assert(n0 === 0)
    val (offGot, nOff, _) = jobsOf(withConfs(off) {
      DriverLocal.collectIfBounded(rows25, DriverLocal.cap(spark, 100))
    })
    assert(offGot === None)
    assert(nOff === 0)
    assert(DriverLocal.cap(spark, 100) === 100)
  }

  test("binary ids with equal bytes map to one key") {
    val a = Array[Byte](1, 2, 3)
    val b = Array[Byte](1, 2, 3)
    assert(!(a eq b))
    assert(DriverLocal.key(a) == DriverLocal.key(b))
    assert(Set(DriverLocal.key(a), DriverLocal.key(b)).size === 1)
    assert(DriverLocal.key(Array[Byte](1, 2)) != DriverLocal.key(a))
    assert(DriverLocal.key(7L) == 7L)
  }

  test("every fast path collects through DriverLocal, and none does with the switch off") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 5L)).toDF("a", "b")
    val wpairs = Seq((1L, 2L, 3L), (2L, 3L, 1L), (3L, 1L, 2L), (4L, 5L, 1L)).toDF("a", "b", "w")
    val nodes = (1L to 6L).toDF("id")
    val edges = Seq((1L, 2L, 1L), (2L, 3L, 2L), (3L, 1L, 1L), (4L, 2L, 1L)).toDF("src", "dst", "w")
    val wc = Seq(("banana", 3L), ("bandana", 2L), ("ban", 4L)).toDF("word", "cnt")
    val ops: Seq[(String, () => Any)] = Seq(
      "dedupClusters" -> (() => Dedup.dedupClusters(pairs, nodes)),
      "dedupClustersStar" -> (() => Dedup.dedupClustersStar(pairs, nodes)),
      "labelPropagation" -> (() => Communities.labelPropagation(pairs, nodes, 2)),
      "labelPropagationWeighted" -> (() => Communities.labelPropagationWeighted(wpairs, nodes, 2)),
      "kCore" -> (() => Communities.kCore(pairs, nodes, 2, 2)),
      "PageRank.run" -> (() => PageRank.run(edges, 2)),
      "PageRank.runPersonalized" -> (() => PageRank.runPersonalized(edges, Seq(1L).toDF("s"), 2)),
      "Hits.run" -> (() => Hits.run(edges, 2)),
      "BpeTrainer.train" -> (() => BpeTrainer.train(wc, 3)))
    for ((name, op) <- ops) {
      val (_, _, on) = jobsOf(op())
      assert(localCollects(on) === 1, s"$name: one fast-path collect expected")
      val (_, _, dist) = jobsOf(withConfs(off)(op()))
      assert(localCollects(dist) === 0, s"$name collected with the switch off")
    }
  }

  private def plan(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("switch off at default caps: allPairsCosine plans its blocked join, " +
      "brute Jaccard takes the prefix path") {
    val emb = Tables(spark, sfDir, "embeddings")
    val bcast = Similarity.allPairsCosine(emb, "vec_id", "embedding", 0.25)
    val blocked = withConfs(off)(Similarity.allPairsCosine(emb, "vec_id", "embedding", 0.25))
    assert(plan(bcast).contains("BroadcastNestedLoopJoin"), plan(bcast))
    val pb = plan(blocked)
    assert(!pb.contains("BroadcastNestedLoopJoin") && !pb.contains("SinglePartition") &&
      pb.contains("Generate"), s"expected the blocked over-cap join\n$pb")
    assert(bcast.exceptAll(blocked).isEmpty && blocked.exceptAll(bcast).isEmpty)

    val docs = Tables(spark, sfDir, "documents")
    val brute = Dedup.ngramJaccardPairsBrute(docs, "doc_id", "text", 2, 0.3)
    val prefix = withConfs(off)(Dedup.ngramJaccardPairsBrute(docs, "doc_id", "text", 2, 0.3))
    // the prefix filter ranks each doc's shingles in a window; brute
    // force has no window and one broadcast nested-loop join
    assert(plan(brute).contains("BroadcastNestedLoopJoin") && !plan(brute).contains("Window"),
      plan(brute))
    assert(plan(prefix).contains("Window") && !plan(prefix).contains("BroadcastNestedLoopJoin"),
      s"expected the prefix path\n${plan(prefix)}")
    assert(brute.exceptAll(prefix).isEmpty && prefix.exceptAll(brute).isEmpty)
  }
}
