package graft

/** Dev utility: print the formatted physical plan of named queries
  * (`runMain graft.PlanDump <sfDir> <query...>`) — used to audit
  * pushdown/broadcast/codegen before tuning. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val spark = Session.local(Session.cpus)
    args.tail.foreach { name =>
      println(s"\n========== $name ==========")
      SparkEntry.queries(name)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
