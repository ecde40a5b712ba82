package graft.tools

import graft.{Session, SparkEntry}

/** Ad-hoc timing of a NAMED subset of the declared queries — the
  * drill-down companion to [[graft.Bench]] (which times the fixed
  * headline set plus the full sweep). Use it to re-measure a suspect
  * query in a fresh JVM, free of the GC/contention aftermath a long
  * full-bench run leaves behind.
  *
  * {{{
  * sbt "runMain graft.tools.TimeQueries <sfDir> <reps> q30_langid q11_range_join"
  * }}}
  *
  * Same session config and warmup discipline as Bench (one untimed
  * warmup run per query, then `reps` timed samples; min/median/spread
  * reported). Unknown names fail fast with the valid inventory.
  */
object TimeQueries {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: TimeQueries <sfDir> <reps> <query> [query...]")
    val sfDir = args(0)
    val reps = args(1).toInt
    val names = args.drop(2).toSeq
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty,
      s"unknown queries: ${unknown.mkString(", ")}; valid: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}")

    val spark = Session.local(Session.cpus)
    // experiment hook: SPARK_GRAFT_EXTRA_CONF="key=value;key=value" sets
    // arbitrary session confs before timing (A/B one knob per run)
    sys.env.getOrElse("SPARK_GRAFT_EXTRA_CONF", "").split(";")
      .map(_.trim).filter(_.contains("="))
      .foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        spark.conf.set(k, v)
      }

    def run(name: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    names.foreach { name =>
      run(name) // warmup, untimed
      val samples = Vector.fill(reps)(run(name)).sorted
      val spread = if (samples.head > 0) (samples.last - samples.head) / samples.head else 0.0
      println(f"[timeq] $name%-28s min=${samples.head}%8.3f  median=${samples(samples.length / 2)}%8.3f  spread=$spread%5.2f  sf=$sfDir")
    }
    spark.stop()
  }
}
