package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs: the one [[Session.local]] engine
  * config the Bench/Verify gates run, so every spec runs against the
  * engine they certify. Four slots, because specs assert partition
  * counts. */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = Session.local(4)

  /** Runs `body` with the given session confs set, then restores each
    * conf's previous value (or unsets it). */
  def withConfs[A](confs: (String, String)*)(body: => A): A = {
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  val sfDir = "/root/testdata/sf0.001"
}
