package graft.sources

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}
import org.apache.spark.sql.types.StructType

/** Parquet table catalog over the driver testdata layout (TESTDATA.md):
  * a TPC-H-ish star schema (`region nation customer supplier part orders
  * lineitem`) plus `events` (stream-shaped), `documents` (text corpus) and
  * `embeddings` (ARRAY<FLOAT> vectors).
  *
  * Scale notes: each table is a single parquet path; on a real cluster these
  * would be partitioned directories — all readers here go through
  * `spark.read.parquet` so partition discovery, predicate pushdown and
  * column pruning work unchanged at 100 TB. Never collect these to the
  * driver; every downstream operator keeps them distributed.
  *
  * Schema cache: Spark's parquet schema inference runs a one-task job per
  * `spark.read.parquet` call, so building a query that reads five tables
  * would launch five jobs before any of its own work. Each read therefore
  * goes through a per-session cache that holds, per table path, the
  * inferred `StructType`, the leaf-file fingerprint it was inferred from
  * (path, length and modification time of every file) and the session's
  * SQL confs at the time (`sessionState.conf.getAllConfs`). A cached entry
  * serves a read only under identical confs (so flipping
  * `binaryAsString`, `nanosAsLong`, case sensitivity or any other conf
  * re-infers); the read passes the schema (`spark.read.schema(s)`), and
  * the relation's own file listing is compared with the fingerprint, so a
  * hit adds no second listing. Any difference — a rewritten table, an
  * added or removed part file, a non-listing file index — falls back to a
  * plain `spark.read.parquet` and replaces the entry. There is one entry
  * per path, and the per-session maps are weakly keyed by the session, so
  * the cache lives and dies with it.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The small dimension tables — always safe to broadcast in joins. */
  val broadcastable: Set[String] = Set("region", "nation", "supplier")

  /** Driver snapshots have shipped events.ts as INT64 TIMESTAMP(NANOS)
    * parquet, which Spark 4 rejects at scan time unless this legacy conf
    * is on. Session builders we own (Verify/Bench/PlanDump/SparkSuite)
    * set it at construction; this is a defensive fallback for
    * externally-built sessions. It only ever sets the value when the key
    * is UNSET — it never flips an explicit choice, so there is no hidden
    * ordering dependency (the effective value is constant for the
    * session's lifetime either way). */
  private def ensureNanosAsLong(spark: SparkSession): Unit = {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    // conf.getOption reports the REGISTERED DEFAULT for a known SQLConf
    // entry, so it cannot distinguish "user chose false" from "unset";
    // sessionState.conf.contains checks the explicitly-set map only
    if (!spark.sessionState.conf.contains(key)) spark.conf.set(key, "true")
  }

  private final case class Resolved(
      confs: Map[String, String], schema: StructType, files: Set[(String, Long, Long)])

  private val resolved =
    new java.util.WeakHashMap[SparkSession, ConcurrentHashMap[String, Resolved]]()

  private def sessionCache(spark: SparkSession): ConcurrentHashMap[String, Resolved] =
    resolved.synchronized(resolved.computeIfAbsent(spark, _ => new ConcurrentHashMap()))

  /** The (path, length, modification time) of every leaf file in `df`'s
    * file index, as that index already listed them; None when `df` is not
    * a scan over a listing file index. */
  private def leafFiles(df: DataFrame): Option[Set[(String, Long, Long)]] =
    df.queryExecution.analyzed.collectFirst { case l: LogicalRelation => l.relation }
      .collect { case r: HadoopFsRelation => r.location }
      .collect { case idx: PartitioningAwareFileIndex =>
        idx.allFiles().iterator
          .map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).toSet
      }

  /** `spark.read.parquet(path)`, with the schema inferred once per
    * session, path and conf state (see the object's doc). */
  private def readParquet(spark: SparkSession, path: String): DataFrame = {
    val confs = spark.sessionState.conf.getAllConfs
    val cache = sessionCache(spark)
    Option(cache.get(path)).filter(_.confs == confs).flatMap { hit =>
      val df = spark.read.schema(hit.schema).parquet(path)
      leafFiles(df).filter(_ == hit.files).map(_ => df)
    }.getOrElse {
      val df = spark.read.parquet(path)
      leafFiles(df) match {
        case Some(files) => cache.put(path, Resolved(confs, df.schema, files))
        case None => cache.remove(path)
      }
      df
    }
  }

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") {
      // Normalize ts to TimestampType (microsecond precision) whatever
      // physical shape the snapshot shipped: INT64 TIMESTAMP(NANOS)
      // arrives as LongType nanos (under the legacy conf), timestamp[us]
      // with isAdjustedToUTC=false arrives as TIMESTAMP_NTZ. The NTZ
      // wall-clock in these snapshots IS the UTC instant, so the
      // conversion must not route through the session time zone (a
      // plain cast(TimestampType) would shift instants on a non-UTC
      // external session). Interval arithmetic against the epoch is
      // exact and timezone-free: NTZ - NTZ is a day-time interval
      // (pure microseconds), and adding it to timestamp_micros(0)
      // (the epoch instant) is a pure microsecond add.
      ensureNanosAsLong(spark)
      val raw = readParquet(spark, s"$dir/$name.parquet")
      import org.apache.spark.sql.types.{LongType, TimestampNTZType}
      raw.schema("ts").dataType match {
        case LongType =>
          raw.withColumn("ts",
            org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
        case TimestampNTZType =>
          raw.withColumn("ts",
            org.apache.spark.sql.functions.expr(
              "timestamp_micros(0) + (ts - TIMESTAMP_NTZ'1970-01-01 00:00:00')"))
        case _ => raw
      }
    } else readParquet(spark, s"$dir/$name.parquet")

  /** Register every table as a temp view (for spark.sql entry points). */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => apply(spark, dir, n).createOrReplaceTempView(n))
}

/** Parallelism hygiene for CPU-bound narrow maps (hashing, decode).
  * A small parquet file arrives as one input split, which would pin a
  * per-row sketch expression to one core; a 100 TB input already has
  * thousands of splits and must NOT be reshuffled just to hash it. So:
  * rebalance only when the scan's split count is below the session's
  * parallelism — the shuffled payload in that case is small by
  * definition. */
object Balance {
  def cpuBound(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    // streaming plans reject inputFiles (and micro-batch parallelism is
    // the source's business — maxFilesPerTrigger etc.), so the guard is
    // batch-only; this keeps every tokenizing operator streaming-safe
    // (StreamingCurationSpec runs one through a real streaming query)
    if (df.isStreaming) return df
    val target = df.sparkSession.sparkContext.defaultParallelism
    // inputFiles is metadata-only (no physical planning, unlike df.rdd,
    // which under AQE would execute upstream stages just to count
    // partitions); file count is the right proxy for scan splits in
    // the small-input regime this guard exists for
    val splits = df.inputFiles.length
    if (splits > 0 && splits < target) df.repartition(target) else df
  }
}
