package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [queryName...] — trailing names restrict the
    // dump to that subset (local iteration); no names = full inventory.
    // The single flag `--sql-only` skips query execution and dumps just
    // oracle_sql.json (feeds tools/oracle_type_audit.py cheaply).
    val Array(sfDir, outDir) = args.take(2)
    val sqlOnly = args.contains("--sql-only")
    val only = args.drop(2).filterNot(_ == "--sql-only").toSet
    only.diff(SparkEntry.queries.keySet).foreach(n =>
      System.err.println(s"[verify] WARNING: no such query '$n' — known names: " +
        SparkEntry.queries.keys.toSeq.sorted.mkString(", ")))
    val spark = Session.local(Session.cpus)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => !sqlOnly && (only.isEmpty || only(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // subset runs dump a matching oracle subset: a comparator pointed at
    // this outDir must not see oracle entries whose parquet is absent
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.isEmpty || only(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
