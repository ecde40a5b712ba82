package graftbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, explode}

import graft.SparkEntry
import graft.functions.TextFunctions
import graft.operators.InvertedIndex
import graft.plans.TopKPerKeyExec
import graft.sources.Tables

/** One benchmark workload: seeded inputs, one timed call into a public
  * entry point of the program, an output check and the traced prefix
  * chains that split the call into its layers. */
trait Workload {
  def name: String
  /** Writes the inputs for `seed` under the work dir; runs before the session exists. */
  def generate(seed: Long): Unit
  /** The timed call. Returns whatever the check needs; the call is over
    * when the result exists (files closed, rows collected). */
  def execute(spark: SparkSession): AnyRef
  /** Untimed: is this execution's output right? */
  def check(spark: SparkSession, result: AnyRef): Boolean
  /** Untimed traced pass: layer metrics from timed prefix chains
    * (`time` gives the median of a few runs of its body). */
  def layers(spark: SparkSession, time: (() => Unit) => Double): Map[String, Double]
}

object Workload {
  val Names: Seq[String] = Seq("index_zipf", "relational_mix")

  def apply(name: String, work: Path): Workload = name match {
    case "index_zipf" => new IndexZipf(work)
    case "relational_mix" => new RelationalMix(work)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (one of ${Names.mkString(", ")})")
  }

  private[graftbench] def mb(bytes: Long): Double = bytes / (1024.0 * 1024.0)
}

/** The paper's own job: manifest → tokenize → reduce → 26 letter files. */
final class IndexZipf(work: Path) extends Workload {
  val name = "index_zipf"
  private val manifest = work.resolve("in").resolve("manifest.txt").toString
  private val outDir = work.resolve("out")
  private var expected: Map[Char, Array[Byte]] = _

  /** The model reads the generated files by the ids the generator gave
    * them, not through the program's manifest reader. */
  def generate(seed: Long): Unit = {
    val in = work.resolve("in")
    IndexInputs.generate(in, seed)
    expected = Models.invertedIndex((1 to IndexInputs.FileCount).map { id =>
      (id, Files.readAllBytes(in.resolve(IndexInputs.fileName(id))))
    })
  }

  def execute(spark: SparkSession): AnyRef = {
    InvertedIndex.run(spark, manifest, outDir.toString)
    None
  }

  def check(spark: SparkSession, result: AnyRef): Boolean =
    ('a' to 'z').forall { c =>
      val f = outDir.resolve(s"$c.txt")
      Files.isRegularFile(f) && java.util.Arrays.equals(Files.readAllBytes(f), expected(c))
    }

  def layers(spark: SparkSession, time: (() => Unit) => Double): Map[String, Double] = {
    def scan(): DataFrame = spark.read.format("manifest-corpus").load(manifest).select("file_id", "value")
    def tokens(): DataFrame =
      scan().select(col("file_id"), explode(TextFunctions.normalizedWords(col("value"))).as("word"))
    def build(): DataFrame = InvertedIndex.buildIndexFromManifest(spark, manifest)
    val scanS = time(() => Trace.noop(scan()))
    val tokS = time(() => Trace.noop(tokens()))
    val buildS = time(() => Trace.noop(build()))
    val runS = time(() => execute(spark))
    val (planS, joins) = Trace.plan(build())
    val sinkBytes = ('a' to 'z').map(c => Files.size(outDir.resolve(s"$c.txt"))).sum
    Map(
      "sources.scan_s" -> scanS,
      "sources.scan_rows" -> scan().count().toDouble,
      "sources.input_partitions" -> scan().rdd.getNumPartitions.toDouble,
      "plans.tokenize_s" -> (tokS - scanS),
      "plans.tokens" -> tokens().count().toDouble,
      "operators.index_build_s" -> (buildS - tokS),
      "operators.index_words" -> build().count().toDouble,
      "operators.letter_sink_s" -> (runS - buildS),
      "operators.sink_mb" -> Workload.mb(sinkBytes),
      "plans.planning_s" -> planS) ++ joins
  }
}

/** Five relational queries over TPC-H-shaped parquet, each collected. */
final class RelationalMix(work: Path) extends Workload {
  val name = "relational_mix"
  val queries: Seq[String] =
    Seq("q03_agg_tpch1", "q05_join_agg", "q07_multiway_join", "q14_window_rank", "q16_topk")
  private val dir = work.resolve("tables").toString
  private var expected: Seq[Array[Row]] = _

  def generate(seed: Long): Unit = TableInputs.generate(work.resolve("tables"), seed)

  private def query(spark: SparkSession, q: String): DataFrame = SparkEntry.queries(q)(spark, dir)

  def execute(spark: SparkSession): AnyRef = queries.map(q => query(spark, q).collect())

  /** Each query's rows must equal its oracle SQL run by Spark over the
    * same tables registered as views. The oracle runs with the top-k
    * rewrite off, on Spark's own window plan, so a fault in the rewrite
    * cannot show on both sides. */
  def check(spark: SparkSession, result: AnyRef): Boolean = {
    if (expected == null) {
      TableInputs.Names.foreach(t => Tables(spark, dir, t).createOrReplaceTempView(t))
      val key = TopKPerKeyExec.enabledConfKey
      val before = spark.conf.getOption(key)
      spark.conf.set(key, "false")
      try expected = queries.map(q => spark.sql(SparkEntry.oracleSql(q)).collect())
      finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
    val got = result.asInstanceOf[Seq[Array[Row]]]
    got.length == expected.length && got.zip(expected).forall { case (g, e) => g.sameElements(e) }
  }

  def layers(spark: SparkSession, time: (() => Unit) => Double): Map[String, Double] = {
    val scanS = TableInputs.Names.map(t => time(() => Trace.noop(Tables(spark, dir, t)))).sum
    val perQuery = queries.map(q => s"queries.${q}_s" -> time(() => query(spark, q).collect())).toMap
    val plans = queries.map(q => Trace.plan(query(spark, q)))
    val planS = queries.map(q => time(() => Trace.plan(query(spark, q)))).sum
    Map("sources.table_scan_s" -> scanS, "plans.planning_s" -> planS) ++ perQuery ++
      plans.map(_._2).reduce((a, b) => a.map { case (k, v) => k -> (v + b(k)) })
  }
}
