package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** [[graft.sources.Tables]] under concurrent use: several threads build
  * and collect the five relational_mix queries at once on one session,
  * starting on a cold schema cache, and every schema and every result
  * equals a serial build's. */
class TablesConcurrencySpec extends SparkSuite {

  private val queries =
    Seq("q03_agg_tpch1", "q05_join_agg", "q07_multiway_join", "q14_window_rank", "q16_topk")

  private def run(name: String, dir: String): (StructType, Seq[Row]) = {
    val df = SparkEntry.queries(name)(spark, dir)
    (df.schema, df.collect().toSeq)
  }

  /** A fresh copy of the testdata tables: a path no earlier read has
    * put in the session's schema cache. */
  private def coldCopy(): String = {
    val src = Paths.get(sfDir)
    val dst = Files.createTempDirectory("tables_concurrent")
    val walk = Files.walk(src)
    try walk.forEach((p: Path) => Files.copy(p, dst.resolve(src.relativize(p).toString),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING))
    finally walk.close()
    dst.toString
  }

  test("five queries built from several threads at once equal a serial build") {
    val serial = queries.map(q => q -> run(q, coldCopy())).toMap
    val dir = coldCopy()
    // every query twice, all released at once: the same tables are
    // inferred and cached from several threads together
    val jobs = queries ++ queries
    val pool = Executors.newFixedThreadPool(jobs.size)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val start = new CountDownLatch(1)
    try {
      val futures = jobs.map(q => Future { start.await(); q -> run(q, dir) })
      start.countDown()
      Await.result(Future.sequence(futures), 5.minutes).foreach { case (q, (schema, rows)) =>
        assert(schema === serial(q)._1, s"$q: schema differs from the serial build")
        assert(rows === serial(q)._2, s"$q: result differs from the serial build")
      }
    } finally {
      pool.shutdown()
      pool.awaitTermination(1, TimeUnit.MINUTES)
    }
  }
}
