package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs: the one [[Session.local]] engine
  * config the Bench/Verify gates run, so every spec runs against the
  * engine they certify. Four slots, because specs assert partition
  * counts. */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = Session.local(4)

  val sfDir = "/root/testdata/sf0.001"
}
