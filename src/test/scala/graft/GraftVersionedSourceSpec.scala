package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

import graft.sources.VersionedTable

/** DSv2 front door for the versioned table (`graft-versioned`):
  * version/timestamp resolution through the same manifest as the
  * Scala API, id/stat/bloom dir pruning in planInputPartitions
  * (PLAN-asserted via BatchScanExec partition counts), merge-read
  * union schemas, and the residual-filter correctness contract. */
class GraftVersionedSourceSpec extends SparkSuite {
  import spark.implicits._

  private def freshDir(): String =
    Files.createTempDirectory("gvs").toString + "/t"

  private def scanFiles(df: DataFrame): Int =
    df.queryExecution.executedPlan.collectFirst {
      case b: BatchScanExec => b.inputPartitions.map {
        case p: graft.sources.GraftVersionedFilePartition =>
          p.chunks.map(_.path).distinct.length
        case _ => 0
      }.sum
    }.getOrElse(fail("no BatchScanExec in the plan"))

  private def scanDesc(df: DataFrame): String =
    df.queryExecution.executedPlan.collectFirst {
      case b: BatchScanExec => b.scan.description()
    }.getOrElse("")

  test("reads the latest version by default; versionAsOf time-travels") {
    val dir = freshDir()
    VersionedTable.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "text"),
      dir, "id", Seq("text"), 0L)
    VersionedTable.commit(Seq((3L, "c")).toDF("id", "text"),
      dir, "id", Seq("text"), 1L, mode = "append")
    val latest = spark.read.format("graft-versioned").load(dir)
    assert(latest.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L))
    val v1 = spark.read.format("graft-versioned")
      .option("versionAsOf", "1").load(dir)
    assert(v1.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
  }

  test("timestampAsOf resolves through the same manifest rule as readAsOfTimestamp") {
    val dir = freshDir()
    val t0 = 1700000000000L
    VersionedTable.nowMs = () => t0
    try {
      VersionedTable.commit(Seq((1L, "a")).toDF("id", "text"), dir, "id", Seq("text"), 0L)
      VersionedTable.nowMs = () => t0 + 60000L
      VersionedTable.commit(Seq((2L, "b")).toDF("id", "text"),
        dir, "id", Seq("text"), 1L, mode = "append")
    } finally VersionedTable.nowMs = () => System.currentTimeMillis()
    val asOf = spark.read.format("graft-versioned")
      .option("timestampAsOf", (t0 + 1000L).toString).load(dir)
    assert(asOf.collect().map(_.getLong(0)).toSeq == Seq(1L))
    // matches the Scala API resolution exactly
    assert(VersionedTable.readAsOfTimestamp(spark, dir, t0 + 1000L)
      .collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("id-stat pruning: a range filter plans only the overlapping dirs " +
      "and the residual filter keeps row-level exactness") {
    val dir = freshDir()
    // three id-banded commits: [0,99], [100,199], [200,299]
    (0 to 2).foreach { b =>
      VersionedTable.commit(
        spark.range(b * 100L, b * 100L + 100L)
          .select(col("id"), concat(lit("t"), col("id")).as("text")),
        dir, "id", Seq("text"), b.toLong, mode = "append")
    }
    val df = spark.read.format("graft-versioned").load(dir)
      .filter(col("id") >= 120L && col("id") <= 130L)
    assert(scanDesc(df).contains("kept_dirs=1/3"), scanDesc(df))
    assert(scanFiles(df) < scanFiles(
      spark.read.format("graft-versioned").load(dir)))
    assert(df.collect().map(_.getLong(0)).sorted.toSeq == (120L to 130L))
  }

  test("bloom pruning: IN on a bloomCols column over interleaved commits " +
      "opens fewer dirs; equality on an unindexed column keeps all (conservative)") {
    val dir = freshDir()
    // interleaved ids: every dir spans the full range, so min/max can't
    // prune; id 150 is left out, a miss inside every dir's id band
    (0 to 2).foreach { r =>
      VersionedTable.commit(
        spark.range(0L, 300L).filter(col("id") % 3 === r && col("id") =!= 150L)
          .select(col("id"), concat(lit("t"), col("id")).as("text")),
        dir, "id", Seq("text"), r.toLong, mode = "append",
        bloomCols = Seq("id"))
    }
    val probe = spark.read.format("graft-versioned").load(dir)
      .filter(col("id").isin(9L, 33L, 63L)) // all ≡ 0 mod 3 → dir 0
    val desc = scanDesc(probe)
    assert(desc.contains("kept_dirs=1/3") || desc.contains("kept_dirs=2/3"), desc)
    assert(probe.collect().map(_.getLong(0)).sorted.toSeq == Seq(9L, 33L, 63L))
    // an absent value: every bloom says no -> zero dirs, schema intact
    val miss = spark.read.format("graft-versioned").load(dir)
      .filter(col("id") === 150L)
    assert(scanDesc(miss).contains("kept_dirs=0/3"), scanDesc(miss))
    assert(miss.count() == 0L && miss.columns.toSeq == Seq("id", "text"))
    // text has no bloom/stat: conservative keep-all, values still exact
    val unindexed = spark.read.format("graft-versioned").load(dir)
      .filter(col("text") === "t9")
    assert(scanDesc(unindexed).contains("kept_dirs=3/3"), scanDesc(unindexed))
    assert(unindexed.collect().map(_.getLong(0)).toSeq == Seq(9L))
  }

  test("merge-read chain: the connector NULL-fills pre-evolution files, " +
      "even when pruning keeps only pre-evolution dirs") {
    val dir = freshDir()
    VersionedTable.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "text"),
      dir, "id", Seq("text"), 0L)
    VersionedTable.commit(
      Seq((100L, "c", "fr")).toDF("id", "text", "lang"),
      dir, "id", Seq("text"), 1L, mode = "append", allowSchemaEvolution = true)
    val all = spark.read.format("graft-versioned").load(dir)
    assert(all.columns.sorted.toSeq == Seq("id", "lang", "text"))
    assert(all.collect().map(r =>
        (r.getLong(r.fieldIndex("id")), Option(r.getAs[String]("lang")))).toSet
      == Set((1L, None), (2L, None), (100L, Some("fr"))))
    // prune to the PRE-evolution dir only: lang still present, NULL
    val pre = spark.read.format("graft-versioned").load(dir)
      .filter(col("id") <= 2L)
    assert(scanDesc(pre).contains("kept_dirs=1/2"), scanDesc(pre))
    assert(pre.columns.sorted.toSeq == Seq("id", "lang", "text"))
    assert(pre.collect().map(r =>
        (r.getLong(r.fieldIndex("id")), Option(r.getAs[String]("lang")))).toSet
      == Set((1L, None), (2L, None)))
  }

  test("unpruned full scans take the COLUMNAR path and match readAsOf " +
      "exactly (including a merge-read chain's NULL-fill)") {
    val dir = freshDir()
    VersionedTable.commit(
      spark.range(0L, 100000L).select(col("id"),
        (col("id") % 97).cast("double").as("x"),
        concat(lit("t"), col("id")).as("text")),
      dir, "id", Seq("text"), 0L)
    VersionedTable.commit(
      spark.range(100000L, 150000L).select(col("id"),
        (col("id") % 97).cast("double").as("x"),
        concat(lit("t"), col("id")).as("text"),
        (col("id") % 5 === 0).as("flag")),
      dir, "id", Seq("text"), 1L, mode = "append", allowSchemaEvolution = true)
    val viaSql = spark.read.format("graft-versioned").load(dir)
    // the executed plan decodes vectorized: a ColumnarToRow boundary
    // sits above the connector's BatchScan (read AFTER execution — AQE
    // prints the columnar boundary only in the final plan)
    val agg = viaSql.groupBy().agg(sum("x"), count(lit(1)))
    agg.collect()
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("ColumnarToRow"), plan)
    val native = VersionedTable.readAsOf(spark, dir, 2L)
    assert(viaSql.count() == 150000L)
    assert(viaSql.agg(sum("x")).head.getDouble(0)
      == native.agg(sum("x")).head.getDouble(0))
    // merge-read NULL-fill through the vectorized reader: pre-evolution
    // rows read NULL flag, post-evolution rows their value
    assert(viaSql.filter(col("flag").isNull).count() == 100000L)
    assert(viaSql.filter(col("flag") === true).count() == 10000L)
    // row-for-row identity on a sample band
    assert(viaSql.filter(col("id").between(99990, 100009))
      .orderBy("id").collect().toSeq ==
      native.filter(col("id").between(99990, 100009))
        .orderBy("id").collect().toSeq)
  }

  test("write path: format(\"graft-versioned\") creates, appends and " +
      "overwrites through the commit protocol; reads compose") {
    val dir = freshDir()
    // CREATE on first write — idCol declared, contentCols defaulted
    Seq((1L, "a"), (2L, "b")).toDF("id", "text")
      .write.format("graft-versioned").option("idCol", "id")
      .mode("append").save(dir)
    assert(VersionedTable.currentVersion(spark, dir) == 1L)
    // plain append: manifest metadata (idCol/contentCols) inherited
    Seq((3L, "c")).toDF("id", "text")
      .write.format("graft-versioned").mode("append").save(dir)
    val m2 = spark.read.format("graft-versioned").load(dir)
    assert(m2.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L))
    // the SQL write went through the SAME protocol as the Scala API:
    // digest accounting validates
    assert(VersionedTable.validateAsOf(spark, dir, 2L)._1)
    // overwrite: snapshot replace as v3; v2 still time travels
    Seq((9L, "z")).toDF("id", "text")
      .write.format("graft-versioned").mode("overwrite").save(dir)
    assert(spark.read.format("graft-versioned").load(dir)
      .collect().map(_.getLong(0)).toSeq == Seq(9L))
    assert(spark.read.format("graft-versioned").option("versionAsOf", "2")
      .load(dir).count() == 3L)
  }

  test("write path: statCols/bloomCols options register prunable indexes " +
      "and a stale expectedVersion loses the optimistic-concurrency race") {
    val dir = freshDir()
    (0 to 2).foreach { r =>
      spark.range(0L, 300L).filter(col("id") % 3 === r)
        .select(col("id"), concat(lit("t"), col("id")).as("text"))
        .write.format("graft-versioned")
        .option("idCol", "id").option("bloomCols", "id")
        .mode("append").save(dir)
    }
    // the SQL-registered blooms prune exactly like Scala-registered ones
    val probe = spark.read.format("graft-versioned").load(dir)
      .filter(col("id").isin(9L, 33L, 63L))
    assert(scanDesc(probe).contains("kept_dirs=1/3"), scanDesc(probe))
    assert(probe.collect().map(_.getLong(0)).sorted.toSeq == Seq(9L, 33L, 63L))
    // CONCURRENCY LOSER through the SQL surface: a writer that based
    // its work on v1 while the table moved to v3 must fail with
    // ConcurrentModificationException, committing nothing
    val ex = intercept[Exception] {
      Seq((999L, "x")).toDF("id", "text")
        .write.format("graft-versioned").option("expectedVersion", "1")
        .mode("append").save(dir)
    }
    def chain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(8).toSeq
    assert(chain(ex).exists(_.isInstanceOf[java.util.ConcurrentModificationException]),
      s"expected ConcurrentModificationException in cause chain, got $ex")
    assert(VersionedTable.currentVersion(spark, dir) == 3L)
    assert(spark.read.format("graft-versioned").load(dir)
      .filter(col("id") === 999L).count() == 0L)
  }

  test("write resolution: reordered names map BY NAME, positional frames " +
      "cast to the standing schema, and overwriteSchema re-bases") {
    val dir = freshDir()
    Seq((1L, "a")).toDF("id", "text")
      .write.format("graft-versioned").option("idCol", "id")
      .mode("append").save(dir)
    // name-set match, different order: by-name, never positional
    Seq(("b", 2L)).toDF("text", "id")
      .write.format("graft-versioned").mode("append").save(dir)
    assert(spark.read.format("graft-versioned").load(dir)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      == Seq((1L, "a"), (2L, "b")))
    // a name-mismatched same-arity frame is REFUSED by default (ADVICE
    // r14: an unrestricted positional fallback would silently remap a
    // df.write whose same-typed columns are merely renamed/swapped —
    // Delta fails that write by name, and so does this bridge)
    intercept[Exception] {
      Seq((3, "c")).toDF("n", "s")
        .write.format("graft-versioned").mode("append").save(dir)
    }
    assert(spark.read.format("graft-versioned").load(dir)
      .filter(col("id") === 3L).count() == 0L)
    // …and maps positionally (with casts — int ids to the standing
    // BIGINT) only under the explicit byPosition opt-in
    Seq((3, "c")).toDF("n", "s")
      .write.format("graft-versioned").option("byPosition", "true")
      .mode("append").save(dir)
    assert(spark.read.format("graft-versioned").load(dir)
      .filter(col("id") === 3L).count() == 1L)
    // schema-changing overwrite needs the explicit option (same count,
    // different names would otherwise positionally map to the OLD schema)
    Seq((9L, 42.5)).toDF("id", "score")
      .write.format("graft-versioned").option("overwriteSchema", "true")
      .option("contentCols", "score")
      .mode("overwrite").save(dir)
    val rebased = spark.read.format("graft-versioned").load(dir)
    assert(rebased.columns.toSeq == Seq("id", "score"))
    assert(rebased.head.getDouble(1) == 42.5)
  }

  test("metadata tables: .option(\"metadata\", history|files) resolves " +
      "through the same provider and matches the library surfaces") {
    val dir = freshDir()
    (0 to 1).foreach { r =>
      VersionedTable.commit(
        spark.range(r * 100L, r * 100L + 100L)
          .select(col("id"), concat(lit("t"), col("id")).as("text")),
        dir, "id", Seq("text"), r.toLong, mode = "append",
        bloomCols = Seq("id"))
    }
    val hist = spark.read.format("graft-versioned")
      .option("metadata", "history").load(dir)
    assert(hist.columns.toSeq ==
      Seq("version", "mode", "n_rows", "n_dirs", "batch_id", "committed_at_ms"))
    assert(hist.select("version", "mode", "n_rows", "n_dirs")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1).toSeq ==
      Seq((1L, "append", 100L, 1L), (2L, "append", 200L, 2L)))
    // files of an explicit version (versionAsOf composes)
    val f1 = spark.read.format("graft-versioned")
      .option("metadata", "files").option("versionAsOf", "1").load(dir)
    assert(f1.count() == 1L)
    val f2 = spark.read.format("graft-versioned")
      .option("metadata", "files").load(dir)
    assert(f2.select("dir_pos", "id_lo", "id_hi", "has_bloom")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .sortBy(_._1).toSeq ==
      Seq((0L, 0L, 99L, true), (1L, 100L, 199L, true)))
    // SQL over a view — the metadata surface IS a table
    f2.createOrReplaceTempView("gv_files")
    assert(spark.sql("SELECT count(*) FROM gv_files WHERE has_bloom")
      .head().getLong(0) == 2L)
  }

  test("binary equality literals never feed the string-keyed indexes " +
      "(conservative keep, rows exact) — ADVICE r13") {
    val dir = freshDir()
    (0 to 1).foreach { r =>
      VersionedTable.commit(
        spark.range(r * 10L, r * 10L + 10L)
          .select(col("id"), encode(concat(lit("k"), col("id")), "UTF-8").as("key")),
        dir, "id", Seq("key"), r.toLong, mode = "append",
        statCols = Seq("key"), bloomCols = Seq("key"))
    }
    // EqualTo with an Array[Byte] literal: toString is "[B@…", which the
    // commit-side hash never saw — the filter must NOT prune (keep-all)
    // and the residual row filter delivers the exact row
    val probe = spark.read.format("graft-versioned").load(dir)
      .filter(col("key") === lit("k13".getBytes("UTF-8")))
    assert(scanDesc(probe).contains("kept_dirs=2/2"), scanDesc(probe))
    assert(probe.collect().map(_.getLong(0)).toSeq == Seq(13L))
  }

  test("str-stat bands compare in UTF-8 byte order, not UTF-16 " +
      "(supplementary-plane probe survives pruning) — ADVICE r13") {
    val dir = freshDir()
    val gclef = new String(Character.toChars(0x1D11E)) // U+1D11E, 4-byte UTF-8
    // dir stats: lo="￿", hi=gclef under UTF-8 order (Spark min/max);
    // UTF-16 order would call gclef < "￿" and prune the dir
    VersionedTable.commit(
      Seq((1L, "￿"), (2L, gclef)).toDF("id", "key"),
      dir, "id", Seq("key"), 0L, statCols = Seq("key"))
    val probe = spark.read.format("graft-versioned").load(dir)
      .filter(col("key") === gclef)
    assert(scanDesc(probe).contains("kept_dirs=1/1"), scanDesc(probe))
    assert(probe.collect().map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("column pruning reaches the reader: projecting one column reads " +
      "only it and SQL over a temp view works end-to-end") {
    val dir = freshDir()
    VersionedTable.commit(
      spark.range(0L, 50L)
        .select(col("id"), concat(lit("t"), col("id")).as("text"),
          (col("id") % 7).as("grp")),
      dir, "id", Seq("text"), 0L)
    val df = spark.read.format("graft-versioned").load(dir)
    df.createOrReplaceTempView("gv_t")
    val agg = spark.sql(
      "SELECT grp, count(*) AS n FROM gv_t WHERE id < 21 GROUP BY grp ORDER BY grp")
    assert(agg.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      (0L to 6L).map(g => (g, 3L)))
    // the scan's readSchema shrank to the referenced columns (read off
    // the optimized plan's scan relation — AQE hides BatchScanExec
    // inside query stages once an exchange is present)
    val scanSchema = agg.queryExecution.optimizedPlan.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.scan.readSchema().fieldNames.toSet
    }.get
    assert(scanSchema == Set("id", "grp"), scanSchema.toString)
  }
}
