package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}

/** Counts what the Spark runtime (the paper's shuffle phase) did while it
  * was registered: jobs, stages, tasks, executor time and bytes moved.
  * The benchmark registers it only in the traced pass. */
final class SparkCounters extends SparkListener {
  private var jobs = 0
  private val stageSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  private val taskTimes = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
  private var tasks = 0L
  private var runMs = 0L
  private var cpuNs = 0L
  private var shuffleWrite = 0L
  private var shuffleRead = 0L
  private var spill = 0L

  def reset(): Unit = synchronized {
    jobs = 0; stageSpans.clear(); taskTimes.clear(); tasks = 0; runMs = 0; cpuNs = 0
    shuffleWrite = 0; shuffleRead = 0; spill = 0
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = e.stageInfo
    for (a <- s.submissionTime; b <- s.completionTime) stageSpans += ((a, b))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    taskTimes.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      spill += m.diskBytesSpilled
    }
  }

  /** Metrics for the interval [startMs, endMs] (epoch ms) just run. */
  def snapshot(startMs: Long, endMs: Long): Map[String, Double] = synchronized {
    val mb = 1024.0 * 1024.0
    // driver gap: wall time of the interval covered by no running stage
    val spans = stageSpans.map { case (a, b) => (a max startMs, b min endMs) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var reach = startMs
    spans.foreach { case (a, b) =>
      if (b > reach) { covered += b - (a max reach); reach = b }
    }
    // skew: max / median task time in the stage with the most task time
    val skew = taskTimes.values.filter(_.nonEmpty).maxByOption(_.sum).map { ts =>
      val s = ts.sorted
      s.last.toDouble / math.max(1L, s(s.length / 2))
    }.getOrElse(1.0)
    Map(
      "spark.jobs" -> jobs.toDouble,
      "spark.stages" -> stageSpans.length.toDouble,
      "spark.tasks" -> tasks.toDouble,
      "spark.executor_run_s" -> runMs / 1e3,
      "spark.executor_cpu_s" -> cpuNs / 1e9,
      "spark.shuffle_write_mb" -> shuffleWrite / mb,
      "spark.shuffle_read_mb" -> shuffleRead / mb,
      "spark.spill_mb" -> spill / mb,
      "spark.task_skew" -> skew,
      "spark.driver_gap_s" -> (endMs - startMs - covered) / 1e3)
  }
}

object Trace extends AdaptiveSparkPlanHelper {

  def drain(spark: SparkSession): Unit =
    org.apache.spark.graftbench.ListenerBusDrain(spark.sparkContext)

  /** Runs `df` to completion without collecting it: the `noop` sink. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Physical planning time of a fresh DataFrame, and its planned joins
    * (walked before execution, through the adaptive wrapper). */
  def plan(df: DataFrame): (Double, Map[String, Double]) = {
    val t0 = System.nanoTime()
    val p: SparkPlan = df.queryExecution.executedPlan
    val s = (System.nanoTime() - t0) / 1e9
    def count(f: PartialFunction[SparkPlan, Unit]): Double = collect(p)(f.andThen(_ => 1)).length
    (s, Map(
      "plans.broadcast_joins" -> count { case _: BroadcastHashJoinExec => },
      "plans.shuffled_hash_joins" -> count { case _: ShuffledHashJoinExec => },
      "plans.sort_merge_joins" -> count { case _: SortMergeJoinExec => }))
  }
}
