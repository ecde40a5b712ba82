package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The benchmark JVM. `run.py` starts it with a fixed heap; it generates
  * the workload's inputs from the seed, builds the session, warms up
  * untimed, times repeated executions, checks every output and, when
  * traced, splits one execution into its layers.
  *
  * It prints `GRAFTBENCH {json}` lines on stdout; run.py turns them into
  * the result line. With `--probe <spawn epoch>` it only times the
  * session set-up, from the moment run.py spawned it. */
object Main {

  /** Task slots (`local[N]`) and shuffle partitions (see NOTES.md, slot study). */
  val Slots = 4
  /** Untimed executions after the first one (see NOTES.md, warm-up study). */
  val Warmup = 4
  /** Timed executions at least, even when the window is already over. */
  val MinSamples = 5
  /** Repetitions of each traced prefix; the median is reported. */
  val TraceReps = 3

  /** The per-layer metrics of BENCHMARK.json with their units; a layer a
    * workload never runs reads 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "sources.scan_s" -> "s", "sources.scan_rows" -> "count", "sources.input_partitions" -> "count",
    "sources.table_scan_s" -> "s",
    "plans.tokenize_s" -> "s", "plans.tokens" -> "count",
    "plans.planning_s" -> "s", "plans.broadcast_joins" -> "count",
    "plans.shuffled_hash_joins" -> "count", "plans.sort_merge_joins" -> "count",
    "operators.index_build_s" -> "s", "operators.index_words" -> "count",
    "operators.letter_sink_s" -> "s", "operators.sink_mb" -> "MB",
    "queries.q03_agg_tpch1_s" -> "s", "queries.q05_join_agg_s" -> "s",
    "queries.q07_multiway_join_s" -> "s", "queries.q14_window_rank_s" -> "s",
    "queries.q16_topk_s" -> "s",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.executor_run_s" -> "s", "spark.executor_cpu_s" -> "s",
    "spark.shuffle_write_mb" -> "MB", "spark.shuffle_read_mb" -> "MB", "spark.spill_mb" -> "MB",
    "spark.task_skew" -> "ratio", "spark.driver_gap_s" -> "s",
    "jvm.gc_s" -> "s", "jvm.jit_s" -> "s", "session.first_execution_s" -> "s",
    "trace.overhead_s" -> "s")

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: Path, probe: Option[Double])

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String): String = m.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    val probe = m.get("probe").map(_.toDouble)
    Opts(if (probe.isDefined) "" else need("workload"), m.getOrElse("seed", "1").toLong,
      m.getOrElse("seconds", "10").toDouble, m.getOrElse("trace", "0") == "1",
      Path.of(need("work")).toAbsolutePath, probe)
  }

  def epochNow(): Double = {
    val i = java.time.Instant.now()
    i.getEpochSecond + i.getNano / 1e9
  }

  /** The one session configuration: graft.Bench's planner settings, with
    * scratch space kept under the work dir. */
  def session(o: Opts): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Slots]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", Slots.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "67108864")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", o.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", o.work.resolve("warehouse").toUri.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }

  private val cpuBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  private def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** Samples used heap every few ms while armed; `peak` is the highest
    * value seen since the last `arm`. */
  private object HeapSampler {
    @volatile private var armed = false
    @volatile var peak = 0L
    private val mem = ManagementFactory.getMemoryMXBean
    private val t = new Thread(() => while (true) {
      if (armed) { val u = mem.getHeapMemoryUsage.getUsed; if (u > peak) peak = u }
      Thread.sleep(2)
    }, "graftbench-heap")
    t.setDaemon(true)
    t.start()
    def arm(): Unit = { peak = 0L; armed = true }
    def disarm(): Unit = armed = false
  }

  private def json(v: Any): String = v match {
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case b: Boolean => b.toString
    case m: Map[_, _] => m.map { case (k, x) => json(k.toString) + ": " + json(x) }.mkString("{", ", ", "}")
    case s: Seq[_] => s.map(json).mkString("[", ", ", "]")
    case other => json(other.toString)
  }

  private def emit(kind: String, fields: Map[String, Any]): Unit =
    println("GRAFTBENCH " + json(fields + ("kind" -> kind)))

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    Files.createDirectories(o.work)
    o.probe.foreach { spawnEpoch =>
      session(o)
      emit("setup", Map("setup_s" -> (epochNow() - spawnEpoch)))
      System.out.flush()
      Runtime.getRuntime.halt(0) // the probe's work dir is discarded; skip shutdown
    }
    val w = Workload(o.workload, o.work)
    val g0 = epochNow()
    w.generate(o.seed)
    val genS = epochNow() - g0
    val spark = session(o)
    /** What the result's stamp line shows besides run.py's own fields. */
    val stamp: Map[String, Any] = Map("gen_s" -> genS, "task_slots" -> Slots,
      "spark_version" -> spark.version, "java_version" -> System.getProperty("java.version"))

    var attempted = 0
    var failed = 0
    /** One execution: wall s, CPU s, GC s, JIT s; None if it threw or its
      * output check failed (checked after the clock stops). A timed
      * execution starts from a collected heap; that collection clears the
      * previous execution's garbage and counts in its GC time, since an
      * execution this size rarely fills the young generation. */
    def once(timed: Boolean): Option[(Double, Double, Double, Double)] = {
      attempted += 1
      val gcBefore = gcMs()
      if (timed) { System.gc(); HeapSampler.arm() }
      val (jit0, c0, t0) = (jitMs(), cpuBean.getProcessCpuTime, System.nanoTime())
      val r = try Some(w.execute(spark)) catch {
        case e: Exception => System.err.println(s"[graftbench] ${w.name} threw: $e"); None
      }
      val (t1, c1, gc1, jit1) = (System.nanoTime(), cpuBean.getProcessCpuTime, gcMs(), jitMs())
      HeapSampler.disarm()
      val ok = r.exists { res =>
        try w.check(spark, res) catch {
          case e: Exception => System.err.println(s"[graftbench] ${w.name} check threw: $e"); false
        }
      }
      if (!ok) { failed += 1; System.err.println(s"[graftbench] ${w.name} execution $attempted failed") }
      if (ok) Some(((t1 - t0) / 1e9, (c1 - c0) / 1e9, (gc1 - gcBefore) / 1e3, (jit1 - jit0) / 1e3))
      else None
    }

    val first = once(timed = false)
    val warm = (1 to Warmup).map(_ => once(timed = false))
    val timed = scala.collection.mutable.ArrayBuffer.empty[(Double, Double, Double, Double)]
    val windowStart = System.nanoTime()
    var peakHeap = 0L
    while (timed.length < MinSamples || (System.nanoTime() - windowStart) / 1e9 < o.seconds) {
      val r = once(timed = true)
      peakHeap = math.max(peakHeap, HeapSampler.peak)
      timed ++= r
      if (timed.isEmpty && attempted >= 1 + warm.length + MinSamples) {
        // nothing succeeds: stop instead of spinning for the whole window
        emit("result", stamp ++ Map("attempted" -> attempted, "failed" -> failed,
          "metrics" -> Map.empty))
        spark.stop()
        return
      }
    }
    val jobS = median(timed.map(_._1).toSeq)

    val metrics: Map[String, (Double, String)] =
      if (!o.trace) Map(
        "job_s" -> (jobS, "s"),
        "cpu_s" -> (median(timed.map(_._2).toSeq), "s"),
        "peak_heap_mb" -> (Workload.mb(peakHeap), "MB"))
      else {
        val counters = new SparkCounters
        spark.sparkContext.addSparkListener(counters)
        def time(body: () => Unit): Double = median((1 to TraceReps).map { _ =>
          System.gc()
          val t0 = System.nanoTime(); body(); (System.nanoTime() - t0) / 1e9
        })
        val full = (1 to TraceReps).map { _ =>
          System.gc()
          Trace.drain(spark); counters.reset()
          val (e0, t0) = (System.currentTimeMillis(), System.nanoTime())
          attempted += 1
          val res = w.execute(spark)
          val (t1, e1) = (System.nanoTime(), System.currentTimeMillis())
          Trace.drain(spark)
          if (!w.check(spark, res)) failed += 1
          ((t1 - t0) / 1e9, counters.snapshot(e0, e1))
        }
        val sparkLayer = full.head._2.keys.map(k => k -> median(full.map(_._2(k)))).toMap
        val layers = w.layers(spark, time)
        val measured = sparkLayer ++ layers ++ Map(
          "jvm.gc_s" -> median(timed.map(_._3).toSeq),
          "jvm.jit_s" -> median(timed.map(_._4).toSeq),
          "session.first_execution_s" -> first.map(_._1).getOrElse(0.0),
          "trace.overhead_s" -> (median(full.map(_._1)) - jobS))
        PerLayer.map { case (name, unit) =>
          name -> (measured.getOrElse(name, 0.0), unit)
        }.toMap
      }
    emit("result", stamp ++ Map(
      "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "timed_executions" -> timed.length, "warmup_executions" -> warm.length))
    spark.stop()
  }
}
