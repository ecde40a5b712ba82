package graft

import org.apache.spark.sql.SparkSession

/** The one engine configuration: every entry point (Bench, Verify,
  * PlanDump, InvertedIndexJob, the tools and the specs) builds its
  * session here, so the oracle run, the timed run and the specs plan
  * with the same confs. */
object Session {

  /** Task slots of a local session: `SPARK_GRAFT_CPUS` when set, else
    * every core the JVM sees. */
  def cpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  /** A `local[cpus]` session with `cpus` shuffle partitions, UTC time,
    * nanosecond parquet read as long, [[graft.plans.GraftExtensions]],
    * no UI and WARN logging. Returns the running session if there is
    * one, with these SQL confs applied to it. */
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      // Let the planner pick shuffled-hash over sort-merge when its size
      // conditions hold, and let AQE rewrite a planned sort-merge join to
      // shuffled-hash when every post-shuffle partition is under 64 MiB.
      // Spark gates both on size, so a big-big join still plans sort-merge;
      // they remove the per-round sort of the iterative graph and dedup
      // operators (fresh-JVM min-of-3 at sf0.1: q139 8.63→4.25 s, q63b
      // 4.37→3.96 s, q93 3.41→2.99 s, q66 3.43→3.10 s; OPTIMIZATION_r15.md).
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "67108864")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
