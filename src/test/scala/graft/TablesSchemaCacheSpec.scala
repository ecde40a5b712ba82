package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.graftbench.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.types.{BinaryType, LongType, StringType, StructType, TimestampType}

import graft.sources.Tables

/** [[Tables]] infers each table's schema once per session, path and conf
  * state, and re-infers when the files or the confs change. Every table
  * here is written by the spec into its own temp dir. Jobs are counted
  * through a listener filtered on this spec's job group, after draining
  * the listener bus. */
class TablesSchemaCacheSpec extends SparkSuite {
  import spark.implicits._

  private val group = "tables-schema-cache-spec"
  private val jobs = new AtomicInteger()
  private lazy val listener = {
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(p => p.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    l
  }

  /** Jobs launched by `body` on this thread. */
  private def jobsOf[T](body: => T): (T, Int) = {
    listener
    ListenerBusDrain(spark.sparkContext)
    jobs.set(0)
    spark.sparkContext.setJobGroup(group, group)
    try {
      val out = body
      ListenerBusDrain(spark.sparkContext)
      (out, jobs.get())
    } finally spark.sparkContext.clearJobGroup()
  }

  private def tempDir(prefix: String): String = Files.createTempDirectory(prefix).toString

  /** One parquet file written with parquet's own writer, so its footer
    * carries no Spark schema and inference reads the parquet types: an
    * INT64 TIMESTAMP(NANOS) `ts` and an unannotated BINARY `payload`. */
  private def writeRawEvents(dir: String, rows: Seq[(Long, Long, String)]): Unit = {
    val schema = MessageTypeParser.parseMessageType(
      """message events {
        |  required int64 event_id;
        |  required int64 ts (TIMESTAMP(NANOS,true));
        |  required binary payload;
        |}""".stripMargin)
    val out = HadoopOutputFile.fromPath(
      new Path(s"$dir/events.parquet/part-00000.parquet"), new Configuration())
    val writer = ExampleParquetWriter.builder(out).withType(schema).build()
    val groups = new SimpleGroupFactory(schema)
    try rows.foreach { case (id, tsNanos, payload) =>
      writer.write(groups.newGroup().append("event_id", id).append("ts", tsNanos)
        .append("payload", Binary.fromString(payload)))
    } finally writer.close()
  }

  test("the first read infers with a job; a second read of the same table launches none") {
    val dir = tempDir("tables_cache_jobs")
    (1 to 20).map(i => (i.toLong, s"r$i")).toDF("k", "v").write.parquet(s"$dir/t.parquet")
    val (first, firstJobs) = jobsOf(Tables(spark, dir, "t"))
    assert(firstJobs >= 1, "schema inference should run a job on the first read")
    val (second, secondJobs) = jobsOf(Tables(spark, dir, "t"))
    assert(secondJobs == 0, s"a cached read launched $secondJobs job(s)")
    assert(second.schema == first.schema)
    assert(second.count() == 20)
  }

  test("rewriting the table at the same path with an extra column is seen on the next read") {
    val dir = tempDir("tables_cache_rewrite")
    Seq((1L, "a")).toDF("k", "v").write.parquet(s"$dir/t.parquet")
    assert(Tables(spark, dir, "t").schema.fieldNames.toSeq == Seq("k", "v"))
    Seq((2L, "b", 3.5)).toDF("k", "v", "w").write.mode("overwrite").parquet(s"$dir/t.parquet")
    val again = Tables(spark, dir, "t")
    assert(again.schema.fieldNames.toSeq == Seq("k", "v", "w"))
    assert(again.collect().map(_.getDouble(2)).toSeq == Seq(3.5))
  }

  test("adding a part file is seen in the row count") {
    val dir = tempDir("tables_cache_append")
    (1 to 10).map(_.toLong).toDF("k").write.parquet(s"$dir/t.parquet")
    assert(Tables(spark, dir, "t").count() == 10)
    assert(Tables(spark, dir, "t").count() == 10)
    (11 to 15).map(_.toLong).toDF("k").write.mode("append").parquet(s"$dir/t.parquet")
    assert(Tables(spark, dir, "t").count() == 15)
  }

  test("flipping binaryAsString gives the schema a plain read infers under the new conf") {
    val dir = tempDir("tables_cache_conf")
    writeRawEvents(dir, Seq((1L, 1000L, "x")))
    val path = s"$dir/events.parquet"
    val key = "spark.sql.parquet.binaryAsString"
    val before = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "false")
      val raw0 = spark.read.parquet(path).schema("payload").dataType
      assert(raw0 == BinaryType)
      assert(Tables(spark, dir, "events").schema("payload").dataType == BinaryType)
      spark.conf.set(key, "true")
      val plain = spark.read.parquet(path).schema
      assert(plain("payload").dataType == StringType)
      assert(Tables(spark, dir, "events").schema("payload").dataType == StringType)
      assert(Tables(spark, dir, "events").schema.fields.filterNot(_.name == "ts").toSeq ==
        plain.fields.filterNot(_.name == "ts").toSeq)
    } finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("events ts stays TimestampType through the cache, for NANOS and NTZ files") {
    val nanosDir = tempDir("tables_cache_nanos")
    val tsNanos = 1700000000123456789L
    writeRawEvents(nanosDir, Seq((1L, tsNanos, "x")))
    assert(spark.read.parquet(s"$nanosDir/events.parquet").schema("ts").dataType == LongType)
    val micros = java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(0, tsNanos / 1000 * 1000))
    (1 to 2).foreach { _ =>
      val ev = Tables(spark, nanosDir, "events")
      assert(ev.schema("ts").dataType == TimestampType)
      assert(ev.select("ts").as[java.sql.Timestamp].collect().toSeq == Seq(micros))
    }

    val ntzDir = tempDir("tables_cache_ntz")
    val wall = java.time.LocalDateTime.of(2024, 3, 1, 12, 30, 15)
    Seq((1L, wall)).toDF("event_id", "ts").write.parquet(s"$ntzDir/events.parquet")
    (1 to 2).foreach { _ =>
      val ev = Tables(spark, ntzDir, "events")
      assert(ev.schema("ts").dataType == TimestampType)
      assert(ev.select("ts").as[java.sql.Timestamp].collect().toSeq ==
        Seq(java.sql.Timestamp.from(wall.toInstant(java.time.ZoneOffset.UTC))))
    }
  }

  test("for every table, the cached schema equals a plain read's") {
    // events normalises ts to TimestampType; every other field, and every
    // other table, must match spark.read.parquet exactly, first read or not
    def expected(name: String): StructType = {
      val plain = spark.read.parquet(s"$sfDir/$name.parquet").schema
      if (name != "events") plain
      else StructType(plain.map(f => if (f.name == "ts") f.copy(dataType = TimestampType) else f))
    }
    Tables.names.foreach { name =>
      (1 to 2).foreach { read =>
        assert(Tables(spark, sfDir, name).schema == expected(name), s"$name, read $read")
      }
    }
  }
}
