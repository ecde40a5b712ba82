package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.VersionedTable

/** The commit-log table end-to-end: multi-version write (overwrite +
  * append), readAsOf time travel, optimistic-concurrency conflict
  * detection (both the fail-fast and the commit-point race), digest
  * validation per version, and vacuum of unreferenced data dirs
  * (including a concurrency loser's orphan). */
class VersionedTableSpec extends SparkSuite {
  import spark.implicits._

  private def freshDir() = Files.createTempDirectory("vtab").toString + "/t"

  /** Version `v` through the `graft-versioned` connector, the one
    * read path that prunes data dirs. */
  private def at(dir: String, v: Long): DataFrame =
    spark.read.format("graft-versioned").option("versionAsOf", v).load(dir)

  /** The `k/N` of the connector scan's `kept_dirs=k/N` in `df`'s plan. */
  private def keptDirs(df: DataFrame): String = {
    val plan = df.queryExecution.executedPlan.toString
    """kept_dirs=(\d+/\d+)""".r.findFirstMatchIn(plan).map(_.group(1))
      .getOrElse(fail(s"no graft-versioned scan in\n$plan"))
  }

  test("overwrite + append commits; readAsOf reproduces each version exactly") {
    val dir = freshDir()
    val v1df = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "text")
    assert(VersionedTable.commit(v1df, dir, "id", Seq("text"), expectedVersion = 0L) == 1L)
    // v2 = append a delta: v2 must be v1 ∪ delta with v1's files untouched
    val delta = Seq((4L, "d")).toDF("id", "text")
    assert(VersionedTable.commit(delta, dir, "id", Seq("text"),
      expectedVersion = 1L, mode = "append") == 2L)
    // v3 = overwrite with an edited snapshot
    val v3df = Seq((1L, "a"), (2L, "B2"), (4L, "d")).toDF("id", "text")
    assert(VersionedTable.commit(v3df, dir, "id", Seq("text"), expectedVersion = 2L) == 3L)

    def snap(v: Long) = VersionedTable.readAsOf(spark, dir, v)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(snap(1) == Map(1L -> "a", 2L -> "b", 3L -> "c"))
    assert(snap(2) == Map(1L -> "a", 2L -> "b", 3L -> "c", 4L -> "d"))
    assert(snap(3) == Map(1L -> "a", 2L -> "B2", 4L -> "d"))
    assert(VersionedTable.currentVersion(spark, dir) == 3L)
    // read() is readAsOf(latest)
    assert(VersionedTable.read(spark, dir).count() == 3L)
    // every version's manifest digest matches its current bytes
    (1L to 3L).foreach { v =>
      val (ok, _, _, _, _) = VersionedTable.validateAsOf(spark, dir, v)
      assert(ok, s"digest of v$v")
    }
  }

  test("snapshot diff across versions classifies added/removed/changed/unchanged") {
    val dir = freshDir()
    VersionedTable.commit(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "text"),
      dir, "id", Seq("text"), 0L)
    VersionedTable.commit(Seq((1L, "a"), (2L, "B2"), (4L, "d")).toDF("id", "text"),
      dir, "id", Seq("text"), 1L)
    val d = graft.operators.SnapshotDiff.diff(
        VersionedTable.readAsOf(spark, dir, 1L),
        VersionedTable.readAsOf(spark, dir, 2L), "id", Seq("text"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(d == Map(1L -> "unchanged", 2L -> "changed", 3L -> "removed", 4L -> "added"))
  }

  test("stale writer fails fast; a commit-point race has exactly one winner") {
    val dir = freshDir()
    VersionedTable.commit(Seq((1L, "a")).toDF("id", "text"), dir, "id", Seq("text"), 0L)
    VersionedTable.commit(Seq((1L, "a2")).toDF("id", "text"), dir, "id", Seq("text"), 1L)
    // fail fast: a writer that based its work on v1 can't commit over v2
    intercept[java.util.ConcurrentModificationException] {
      VersionedTable.commit(Seq((1L, "stale")).toDF("id", "text"), dir, "id", Seq("text"), 1L)
    }
    // committed state untouched by the failed commit
    assert(VersionedTable.currentVersion(spark, dir) == 2L)
    assert(VersionedTable.read(spark, dir).collect().map(_.getString(1)).toSeq == Seq("a2"))
    // commit-point race, DETERMINISTIC via the publish seam: the loser
    // passes its up-front expectedVersion=2 check and writes its data;
    // inside its concurrency window the winner commits v3; the loser's
    // publish then finds the destination taken and raises, leaving every
    // committed version untouched and its own staged dir as an orphan
    var winnerV = 0L
    intercept[java.util.ConcurrentModificationException] {
      VersionedTable.commit(Seq((1L, "loser")).toDF("id", "text"),
        dir, "id", Seq("text"), expectedVersion = 2L,
        onBeforePublish = () => {
          winnerV = VersionedTable.commit(Seq((1L, "winner")).toDF("id", "text"),
            dir, "id", Seq("text"), expectedVersion = 2L)
        })
    }
    assert(winnerV == 3L)
    assert(VersionedTable.currentVersion(spark, dir) == 3L)
    // v3 is the winner's data, intact and digest-valid
    assert(VersionedTable.read(spark, dir).collect().map(_.getString(1)).toSeq == Seq("winner"))
    assert(VersionedTable.validateAsOf(spark, dir, 3L)._1)
    // the loser's staged data dir is an orphan — present but unreferenced —
    // and vacuum reclaims exactly it (all 3 versions retained)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staged = fs.listStatus(new org.apache.hadoop.fs.Path(dir, "data"))
      .map(_.getPath.getName).count(_.startsWith("v00000003-"))
    assert(staged == 2, "winner's dir + loser's orphan staged for v3")
    val (reclaimed, expired) = VersionedTable.vacuum(spark, dir, retain = 3, orphanGraceMs = 0L)
    assert(reclaimed == 1 && expired == 0, "vacuum sweeps only the orphan")
    assert(VersionedTable.validateAsOf(spark, dir, 3L)._1)
  }

  test("exactly-once streaming commits: one version per batch, replays skipped, checkpoint restart continues") {
    val dir = freshDir()
    // the foreachBatch contract, driven directly first: commit, commit, replay
    val b0 = Seq((1L, "a"), (2L, "b")).toDF("id", "text")
    val b1 = Seq((3L, "c")).toDF("id", "text")
    assert(VersionedTable.commitStreamBatch(b0, dir, "id", Seq("text"), 0L).contains(1L))
    assert(VersionedTable.commitStreamBatch(b1, dir, "id", Seq("text"), 1L).contains(2L))
    // retry of batch 1 — the at-least-once window foreachBatch exposes
    // (failure after commit, before checkpoint advance) — must be a no-op
    assert(VersionedTable.commitStreamBatch(b1, dir, "id", Seq("text"), 1L).isEmpty)
    assert(VersionedTable.currentVersion(spark, dir) == 2L)
    assert(VersionedTable.read(spark, dir).count() == 3L)
    assert(VersionedTable.validateAsOf(spark, dir, 2L)._1)

    // now through a REAL streaming query with a checkpoint: two runs over
    // a growing file-source directory; batch ids continue across the
    // restart and each lands exactly one version
    val tdir = freshDir()
    val src = Files.createTempDirectory("vtabsrc").toString
    val ckpt = Files.createTempDirectory("vtabckpt").toString
    Seq((10L, "x"), (11L, "y")).toDF("id", "text")
      .coalesce(1).write.mode("append").parquet(src)
    def runOnce(): Unit = {
      val q = spark.readStream
        .schema("id LONG, text STRING").parquet(src)
        .writeStream.option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          VersionedTable.commitStreamBatch(b, tdir, "id", Seq("text"), id): Unit
        }.start()
      q.awaitTermination()
    }
    runOnce()
    assert(VersionedTable.currentVersion(spark, tdir) == 1L)
    assert(VersionedTable.read(spark, tdir).count() == 2L)
    Seq((12L, "z")).toDF("id", "text")
      .coalesce(1).write.mode("append").parquet(src)
    runOnce() // restart from the checkpoint: only the NEW file is batch 1
    assert(VersionedTable.currentVersion(spark, tdir) == 2L)
    assert(VersionedTable.read(spark, tdir)
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(10L, 11L, 12L))
    // time travel still sees the pre-restart table
    assert(VersionedTable.readAsOf(spark, tdir, 1L).count() == 2L)
  }

  test("row-level DML: deleteWhere, upsert, change feed — history intact, bytes gone after vacuum") {
    val dir = freshDir()
    VersionedTable.commit(
      Seq((1L, "keep"), (2L, "purge-me"), (3L, "update-me"), (4L, "keep2"))
        .toDF("id", "text"), dir, "id", Seq("text"), 0L)
    // DELETE WHERE (the GDPR path)
    val (v2, nDel) = VersionedTable.deleteWhere(spark, dir, col("text") === "purge-me")
    assert(v2 == 2L && nDel == 1L)
    assert(VersionedTable.read(spark, dir).count() == 3L)
    // history still holds the row until vacuumed — stated semantics
    assert(VersionedTable.readAsOf(spark, dir, 1L).count() == 4L)
    // MERGE: matched id 3 updates, unmatched id 5 inserts
    val v3 = VersionedTable.upsert(
      Seq((3L, "updated"), (5L, "inserted")).toDF("id", "text"), dir)
    assert(v3 == 3L)
    // UPSERT SCHEMA GATE: the commit underneath runs overwrite-mode, so
    // the append gate can't fire — upsert enforces the same name+type
    // signature itself. Same names, drifted type (text -> bigint): must
    // refuse before unionByName silently coerces, and commit nothing.
    val eUp = intercept[RuntimeException] {
      VersionedTable.upsert(Seq((3L, 99L)).toDF("id", "text"), dir)
    }
    assert(eUp.getMessage.contains("does not match"))
    assert(VersionedTable.currentVersion(spark, dir) == 3L, "no version committed")
    val now = VersionedTable.read(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(now == Map(1L -> "keep", 3L -> "updated", 4L -> "keep2", 5L -> "inserted"))
    assert(VersionedTable.validateAsOf(spark, dir, 3L)._1)
    // CHANGE FEED v1 -> v3 classifies the whole story in one call
    val feed = VersionedTable.changes(spark, dir, 1L, 3L)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(feed == Map(1L -> "unchanged", 2L -> "removed", 3L -> "changed",
      4L -> "unchanged", 5L -> "added"))
    // compliance completion: vacuum to the current version physically
    // removes the purged row's bytes
    VersionedTable.vacuum(spark, dir, retain = 1, orphanGraceMs = 0L)
    val e = intercept[RuntimeException] { VersionedTable.readAsOf(spark, dir, 1L) }
    assert(e.getMessage.contains("vacuumed"))
    val left = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(new org.apache.hadoop.fs.Path(dir, "data")).length
    assert(left == 1, "only the current version's dir survives")
  }

  test("data skipping: an id filter on the connector prunes whole dirs " +
      "against manifest id stats") {
    val dir = freshDir()
    // log-shaped ingest: three appended batches with disjoint id ranges
    VersionedTable.commitStreamBatch((1L to 10L).map(i => (i, s"a$i")).toDF("id", "text"),
      dir, "id", Seq("text"), 0L)
    VersionedTable.commitStreamBatch((11L to 20L).map(i => (i, s"b$i")).toDF("id", "text"),
      dir, "id", Seq("text"), 1L)
    VersionedTable.commitStreamBatch((21L to 30L).map(i => (i, s"c$i")).toDF("id", "text"),
      dir, "id", Seq("text"), 2L)
    // point lookup: only the middle batch's dir is opened
    val hit = at(dir, 3L).filter(col("id") === 15L)
    assert(hit.collect().map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((15L, "b15")))
    assert(keptDirs(hit) == "1/3")
    // range spanning two batches opens exactly two dirs
    val span = at(dir, 3L).filter(col("id").between(9L, 12L))
    assert(span.count() == 4L && keptDirs(span) == "2/3")
    // fully out-of-range: zero dirs, empty result, schema intact
    val none = at(dir, 3L).filter(col("id").between(100L, 200L))
    assert(keptDirs(none) == "0/3")
    assert(none.count() == 0L && none.columns.toSeq == Seq("id", "text"))
    // pruning never carries correctness: time travel to v1 sees only batch 0
    assert(at(dir, 1L).filter(col("id").between(1L, 30L)).count() == 10L)
    // stats survive compact: the one fresh dir still answers, and prunes a miss
    VersionedTable.compact(spark, dir)
    assert(at(dir, 4L).filter(col("id") === 15L).collect().head.getString(1) == "b15")
    assert(keptDirs(at(dir, 4L).filter(col("id") === 99L)) == "0/1")
  }

  test("data skipping on a secondary statted column: an equality filter " +
      "opens only matching dirs") {
    val dir = freshDir()
    // partitioned-ingest shape: one append per language, lang statted
    Seq("de", "en", "fr").zipWithIndex.foreach { case (l, i) =>
      VersionedTable.commit(
        (1L to 5L).map(j => (i * 10L + j, s"$l-doc$j", l)).toDF("id", "text", "lang"),
        dir, "id", Seq("text", "lang"), expectedVersion = i.toLong,
        mode = "append", statCols = Seq("lang"))
    }
    // equality lookup: only the matching language's dir is opened
    val hit = at(dir, 3L).filter(col("lang") === "en")
    assert(hit.collect().map(_.getString(2)).forall(_ == "en") && hit.count() == 5L)
    assert(keptDirs(hit) == "1/3")
    // no matching language: zero rows, schema intact, no dirs needed
    val none = at(dir, 3L).filter(col("lang") === "zz")
    assert(keptDirs(none) == "0/3")
    assert(none.count() == 0L && none.columns.toSeq == Seq("id", "text", "lang"))
    // the id stats coexist: both indexes recorded on the same commits
    assert(keptDirs(at(dir, 3L).filter(col("id").between(21L, 25L))) == "1/3")
  }

  test("z-ordered compaction: per-file bounding boxes tighten on BOTH columns, content identical") {
    val dir = freshDir()
    // 16x16 grid in row-major append order: a linear sort on x leaves y's
    // per-file spread at full range; the z-curve localizes both
    val grid = (0 until 256).map(i => (i.toLong, (i % 16).toLong, (i / 16).toLong))
      .toDF("id", "x", "y")
    VersionedTable.commit(grid, dir, "id", Seq("x", "y"), 0L)
    val v = VersionedTable.compactZOrdered(spark, dir, "x", "y",
      targetPartitions = 4, bits = 4)
    assert(v == 2L)
    assert(VersionedTable.validateAsOf(spark, dir, 2L)._1) // digest gate held
    val byFile = VersionedTable.read(spark, dir)
      .select(col("x"), col("y"),
        org.apache.spark.sql.functions.input_file_name().as("f"))
      .collect().groupBy(_.getString(2)).values.toSeq
    assert(byFile.size == 4)
    // each file's (x, y) bounding box covers at most half of each
    // dimension's range — a row-major or single-column sort would leave
    // one dimension's spread at the full 0..15
    byFile.foreach { rows =>
      val xs = rows.map(_.getLong(0)); val ys = rows.map(_.getLong(1))
      assert(xs.max - xs.min <= 8, s"x spread ${xs.min}..${xs.max}")
      assert(ys.max - ys.min <= 8, s"y spread ${ys.min}..${ys.max}")
    }
  }

  test("crash atomicity: dying between data write and publish leaves no version") {
    val dir = freshDir()
    VersionedTable.commit(Seq((1L, "a")).toDF("id", "text"), dir, "id", Seq("text"), 0L)
    // simulate the process dying INSIDE the commit window (data written,
    // digest computed, manifest never published) via the publish seam
    intercept[RuntimeException] {
      VersionedTable.commit(Seq((2L, "b")).toDF("id", "text"), dir, "id", Seq("text"), 1L,
        onBeforePublish = () => sys.error("simulated crash before publish"))
    }
    // readers never saw a half-commit: still v1, digest valid
    assert(VersionedTable.currentVersion(spark, dir) == 1L)
    assert(VersionedTable.read(spark, dir).count() == 1L)
    assert(VersionedTable.validateAsOf(spark, dir, 1L)._1)
    // the crash's staged dir is an unreferenced orphan; vacuum reclaims it
    // and a retry of the same commit then succeeds as v2
    val (reclaimed, _) = VersionedTable.vacuum(spark, dir, retain = 1, orphanGraceMs = 0L)
    assert(reclaimed == 1)
    assert(VersionedTable.commit(Seq((2L, "b")).toDF("id", "text"),
      dir, "id", Seq("text"), 1L) == 2L)
    assert(VersionedTable.read(spark, dir).count() == 1L) // overwrite semantics
  }

  test("a compact between micro-batches does not reset the replay watermark") {
    val dir = freshDir()
    VersionedTable.commitStreamBatch(Seq((1L, "a")).toDF("id", "text"),
      dir, "id", Seq("text"), 0L)
    VersionedTable.commitStreamBatch(Seq((2L, "b")).toDF("id", "text"),
      dir, "id", Seq("text"), 1L)
    // maintenance commit with NO batch id lands on top
    VersionedTable.compact(spark, dir)
    assert(VersionedTable.currentVersion(spark, dir) == 3L)
    // a replay of batch 1 after the compact must STILL be recognized —
    // the watermark scans back past unstamped manifests
    assert(VersionedTable.commitStreamBatch(Seq((2L, "b")).toDF("id", "text"),
      dir, "id", Seq("text"), 1L).isEmpty)
    assert(VersionedTable.currentVersion(spark, dir) == 3L)
    assert(VersionedTable.read(spark, dir).count() == 2L)
    // and the next REAL batch advances normally
    assert(VersionedTable.commitStreamBatch(Seq((3L, "c")).toDF("id", "text"),
      dir, "id", Seq("text"), 2L).contains(4L))
  }

  test("compact folds streaming appends into one dir; history intact until vacuumed") {
    val dir = freshDir()
    // five micro-batch appends → the current version spans five dirs
    (0 until 5).foreach { i =>
      assert(VersionedTable.commitStreamBatch(
        Seq((i.toLong, s"v$i")).toDF("id", "text"), dir, "id", Seq("text"),
        batchId = i.toLong).contains(i + 1L))
    }
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dataDirs = fs.listStatus(new org.apache.hadoop.fs.Path(dir, "data")).length
    assert(dataDirs == 5)
    val v6 = VersionedTable.compact(spark, dir)
    assert(v6 == 6L)
    // content-identical: same rows, digest re-validated, ONE dir backs v6
    assert(VersionedTable.read(spark, dir).count() == 5L)
    assert(VersionedTable.validateAsOf(spark, dir, 6L)._1)
    assert(VersionedTable.readAsOf(spark, dir, 6L).inputFiles
      .map(_.replaceAll("/[^/]*$", "")).distinct.length == 1)
    // history still travels (v3 = first three appends)
    assert(VersionedTable.readAsOf(spark, dir, 3L).count() == 3L)
    // vacuum to the compacted version: the five small dirs reclaim
    val (reclaimed, expired) = VersionedTable.vacuum(spark, dir, retain = 1, orphanGraceMs = 0L)
    assert(reclaimed == 5 && expired == 5)
    assert(dataDirs == 1)
    assert(VersionedTable.read(spark, dir).count() == 5L)
  }

  test("append schema gate: a mismatched-schema append fails loudly, never lands") {
    val dir = freshDir()
    VersionedTable.commit(Seq((1L, "a")).toDF("id", "text"), dir, "id", Seq("text"), 0L)
    // extra column, missing column, and type change all refuse
    val e1 = intercept[RuntimeException] {
      VersionedTable.commit(Seq((2L, "b", 9L)).toDF("id", "text", "extra"),
        dir, "id", Seq("text"), 1L, mode = "append")
    }
    assert(e1.getMessage.contains("append schema"))
    intercept[RuntimeException] {
      VersionedTable.commit(Seq((2L, 7)).toDF("id", "text"), // text INT, not STRING
        dir, "id", Seq("text"), 1L, mode = "append")
    }
    assert(VersionedTable.currentVersion(spark, dir) == 1L)
    // column ORDER is not schema: a reordered append is fine
    assert(VersionedTable.commit(Seq(("b", 2L)).toDF("text", "id"),
      dir, "id", Seq("text"), 1L, mode = "append") == 2L)
    assert(VersionedTable.read(spark, dir).count() == 2L)
    // schema evolution goes through an explicit overwrite
    assert(VersionedTable.commit(
      Seq((1L, "a", 0L)).toDF("id", "text", "extra"),
      dir, "id", Seq("text", "extra"), 2L) == 3L)
  }

  test("schema evolution: allowSchemaEvolution appends a new column; " +
      "old rows read NULL, old versions keep the old schema, digests hold") {
    val dir = freshDir()
    VersionedTable.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "text"),
      dir, "id", Seq("text"), 0L)
    // evolving append: adds `lang`; must keep the standing content cols
    assert(VersionedTable.commit(
      Seq((3L, "c", "fr"), (4L, "d", "de")).toDF("id", "text", "lang"),
      dir, "id", Seq("text"), 1L, mode = "append",
      allowSchemaEvolution = true) == 2L)
    // latest resolves the union schema with null backfill
    val v2 = VersionedTable.read(spark, dir)
    assert(v2.columns.sorted.toSeq == Seq("id", "lang", "text"))
    val byId = v2.collect().map(r =>
      r.getLong(r.fieldIndex("id")) ->
        Option(r.getAs[String]("lang"))).toMap
    assert(byId == Map(1L -> None, 2L -> None, 3L -> Some("fr"), 4L -> Some("de")))
    // time travel to v1 is untouched: original two columns only
    assert(VersionedTable.readAsOf(spark, dir, 1L).columns.toSeq == Seq("id", "text"))
    // digest chain crosses the evolution boundary exactly
    (1L to 2L).foreach { v =>
      assert(VersionedTable.validateAsOf(spark, dir, v)._1, s"digest of v$v")
    }
    // a later matching append carries the merge-read flag forward
    assert(VersionedTable.commit(
      Seq((5L, "e", "es")).toDF("id", "text", "lang"),
      dir, "id", Seq("text"), 2L, mode = "append") == 3L)
    val v3 = VersionedTable.read(spark, dir)
    assert(v3.count() == 5L && v3.columns.sorted.toSeq == Seq("id", "lang", "text"))
    assert(v3.filter(col("lang").isNull).count() == 2L)
    // skipping reads resolve the union schema too (incl. the all-pruned
    // path; a prune to pre-evolution dirs only is GraftVersionedSourceSpec's
    // merge-read case)
    val post = at(dir, 3L).filter(col("id") === 5L)
    assert(keptDirs(post) == "1/3" && post.columns.sorted.toSeq == Seq("id", "lang", "text"))
    val none = at(dir, 3L).filter(col("id").between(99L, 100L))
    assert(keptDirs(none) == "0/3" && none.columns.sorted.toSeq == Seq("id", "lang", "text"))
    // guard rails: type drift stays refused even under the flag, a
    // dropped column stays refused, and evolving content cols is refused
    intercept[RuntimeException] {
      VersionedTable.commit(Seq((6L, 7, "zh")).toDF("id", "text", "lang"),
        dir, "id", Seq("text"), 3L, mode = "append", allowSchemaEvolution = true)
    }
    intercept[RuntimeException] {
      VersionedTable.commit(Seq((6L, "f", 1.0)).toDF("id", "text", "score")
          .drop("text").withColumn("score2", lit(1.0)),
        dir, "id", Seq("text"), 3L, mode = "append", allowSchemaEvolution = true)
    }
    intercept[IllegalArgumentException] {
      VersionedTable.commit(
        Seq((6L, "f", "zh", 1.0)).toDF("id", "text", "lang", "score"),
        dir, "id", Seq("text", "score"), 3L, mode = "append",
        allowSchemaEvolution = true)
    }
    assert(VersionedTable.currentVersion(spark, dir) == 3L)
    // an overwrite re-bases: single-schema dir set, flag drops, and the
    // new column can join the digest
    assert(VersionedTable.commit(v3.select("id", "text", "lang"),
      dir, "id", Seq("text", "lang"), 3L) == 4L)
    assert(VersionedTable.validateAsOf(spark, dir, 4L)._1)
  }

  test("bloom probe positions: the driver JVM and the Spark expression agree exactly") {
    // the cross-engine contract the whole index rests on: build-side
    // (Spark md5+conv+substr) and probe-side (MessageDigest slicing)
    // must land on identical bit positions for any value and any m
    val rnd = new scala.util.Random(42)
    val vals = (1 to 300).map { i =>
      if (i % 3 == 0) rnd.nextLong().toString
      else if (i % 3 == 1) rnd.alphanumeric.take(rnd.nextInt(40) + 1).mkString
      else s"urn:graft:doc:${rnd.nextInt(1 << 20)} é€${rnd.nextInt(99)}"
    }.distinct
    Seq(8192, 1 << 16, 1 << 22).foreach { m =>
      val F = org.apache.spark.sql.functions
      val hexc = F.md5(col("v").cast("string").cast("binary"))
      val poss = Seq(0, 7, 14, 21).map(o =>
        (F.conv(F.substring(hexc, o + 1, 7), 16, 10).cast("long") % m).cast("int"))
      val sparkSide = vals.toDF("v")
        .select(col("v"), F.array(poss: _*).as("p"))
        .collect().map(r => r.getString(0) -> r.getSeq[Int](1).toSeq).toMap
      vals.foreach { v =>
        assert(sparkSide(v) == VersionedTable.bloomPositions(v, m),
          s"position mismatch for '$v' at m=$m")
      }
    }
  }

  test("bloom index after compaction: blooms drop with the rewrite, reads stay correct") {
    val dir = freshDir()
    // id 45 is left out: a miss INSIDE the dir's id band, which the
    // min/max stats keep and only a bloom can prune
    (0 to 2).foreach { r =>
      val rows = (0L until 90L).filter(i => i % 3 == r && i != 45L)
        .map(i => (i, s"t$i")).toDF("id", "text")
      VersionedTable.commit(rows, dir, "id", Seq("text"), expectedVersion = r.toLong,
        mode = "append", bloomCols = Seq("id"))
    }
    VersionedTable.compact(spark, dir)
    // the compacted version has one dir and NO blooms -> conservative keep,
    // row filter still exact: pruning is never the correctness carrier
    val v = VersionedTable.currentVersion(spark, dir)
    val f = VersionedTable.files(spark, dir, v)
    assert(f.count() == 1L && f.filter(col("has_bloom")).count() == 0L)
    assert(keptDirs(at(dir, v).filter(col("id") === 45L)) == "1/1")
    val got = at(dir, v).filter(col("id").isin(7L, 41L))
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got == Seq(7L, 41L))
    // re-indexing compaction: compact(bloomCols=...) registers a fresh
    // bloom on the compacted dir and point reads use it again
    val v2 = VersionedTable.compact(spark, dir, bloomCols = Seq("id"))
    val f2 = VersionedTable.files(spark, dir, v2)
    assert(f2.count() == 1L && f2.filter(col("has_bloom")).count() == 1L)
    val miss2 = at(dir, v2).filter(col("id") === 45L)
    assert(keptDirs(miss2) == "0/1" && miss2.count() == 0L,
      "fresh bloom must answer a miss with zero dirs")
    assert(at(dir, v2).filter(col("id") === 7L)
      .collect().map(_.getLong(0)).toSeq == Seq(7L))
  }

  test("timestamp time travel: latest version at-or-before the target; loud outside the horizon") {
    val dir = freshDir()
    val saved = VersionedTable.nowMs
    try {
      var clock = 1000L
      VersionedTable.nowMs = () => clock
      VersionedTable.commit(Seq((1L, "a")).toDF("id", "text"), dir, "id", Seq("text"), 0L)
      clock = 2000L
      VersionedTable.commit(Seq((2L, "b")).toDF("id", "text"), dir, "id", Seq("text"),
        1L, mode = "append")
      clock = 3000L
      VersionedTable.commit(Seq((9L, "z")).toDF("id", "text"), dir, "id", Seq("text"), 2L)
      def at(ts: Long) = VersionedTable.readAsOfTimestamp(spark, dir, ts)
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(at(1000L) == Seq(1L)) // exactly at v1's commit
      assert(at(1500L) == Seq(1L)) // between v1 and v2 -> v1
      assert(at(2000L) == Seq(1L, 2L))
      assert(at(999999L) == Seq(9L)) // future -> latest
      val e = intercept[IllegalArgumentException] { at(999L) }
      assert(e.getMessage.contains("no version committed at or before"))
    } finally VersionedTable.nowMs = saved
  }

  test("commitChecked gates the publish: violations abort with counts, no version lands") {
    import graft.operators.Expectations.Rule
    val dir = freshDir()
    val rules = Seq(
      Rule("id_positive", col("id") > 0L),
      Rule("text_nonempty", length(col("text")) > 0))
    // clean batch publishes
    assert(VersionedTable.commitChecked(
      Seq((1L, "a"), (2L, "b")).toDF("id", "text"), dir, "id", Seq("text"),
      expectedVersion = 0L, rules = rules, unique = Seq("id")) == 1L)
    // a bad APPEND batch (violates id_positive AND duplicates an id
    // against the STANDING rows — the append check sees the union)
    val bad = Seq((-5L, "x"), (2L, "dup")).toDF("id", "text")
    val e = intercept[RuntimeException] {
      VersionedTable.commitChecked(bad, dir, "id", Seq("text"),
        expectedVersion = 1L, rules = rules, unique = Seq("id"), mode = "append")
    }
    assert(e.getMessage.contains("id_positive") && e.getMessage.contains("unique(id)"))
    // nothing landed: still v1, still 2 rows, digest still valid
    assert(VersionedTable.currentVersion(spark, dir) == 1L)
    assert(VersionedTable.read(spark, dir).count() == 2L)
    assert(VersionedTable.validateAsOf(spark, dir, 1L)._1)
    // the fixed batch goes through
    assert(VersionedTable.commitChecked(
      Seq((5L, "x")).toDF("id", "text"), dir, "id", Seq("text"),
      expectedVersion = 1L, rules = rules, unique = Seq("id"), mode = "append") == 2L)
    assert(VersionedTable.read(spark, dir).count() == 3L)
  }

  test("commitCheckedObserved gates on the write pass itself: zero extra scan") {
    import graft.operators.Expectations.Rule
    val rules = Seq(
      Rule("id_positive", col("id") > 0L),
      Rule("text_nonempty", length(col("text")) > 0))
    // job-count proof of the zero-extra-scan claim: a gated observed
    // commit launches EXACTLY the jobs an ungated commit does (the
    // expectations ride the write job's CollectMetrics), while the
    // collect()-based commitChecked pays an extra aggregate job
    def jobsIn(group: String)(body: => Unit): Int = {
      spark.sparkContext.setJobGroup(group, group)
      try body finally spark.sparkContext.clearJobGroup()
      // the status store is fed asynchronously off the listener bus —
      // poll until the count is stable so a lagging event can't undercount
      def read() = spark.sparkContext.statusTracker.getJobIdsForGroup(group).length
      var prev = -1; var cur = read(); var waited = 0
      while (cur != prev && waited < 5000) {
        Thread.sleep(200); waited += 200; prev = cur; cur = read()
      }
      cur
    }
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "text")
    val plainJobs = jobsIn("vt-plain") {
      VersionedTable.commit(df, freshDir(), "id", Seq("text"), 0L): Unit
    }
    val dirObs = freshDir()
    val observedJobs = jobsIn("vt-observed") {
      assert(VersionedTable.commitCheckedObserved(df, dirObs, "id", Seq("text"),
        expectedVersion = 0L, rules = rules) == 1L)
    }
    val checkedJobs = jobsIn("vt-checked") {
      VersionedTable.commitChecked(df, freshDir(), "id", Seq("text"),
        expectedVersion = 0L, rules = rules): Unit
    }
    assert(observedJobs == plainJobs,
      s"observed gate must add no job: plain=$plainJobs observed=$observedJobs")
    assert(checkedJobs > plainJobs,
      s"collect()-based gate pays an extra pass: plain=$plainJobs checked=$checkedJobs")
    // violations abort INSIDE the publish window: no version lands, the
    // staged dir is an orphan, vacuum(grace 0) reclaims it
    val e = intercept[RuntimeException] {
      VersionedTable.commitCheckedObserved(
        Seq((-7L, ""), (3L, "ok")).toDF("id", "text"), dirObs, "id", Seq("text"),
        expectedVersion = 1L, rules = rules, mode = "append")
    }
    assert(e.getMessage.contains("id_positive") && e.getMessage.contains("text_nonempty"))
    assert(e.getMessage.contains("1/2 rows"))
    assert(VersionedTable.currentVersion(spark, dirObs) == 1L)
    assert(VersionedTable.validateAsOf(spark, dirObs, 1L)._1)
    val (reclaimed, _) = VersionedTable.vacuum(spark, dirObs, retain = 1, orphanGraceMs = 0L)
    assert(reclaimed == 1, "the aborted commit's staged dir is vacuum-reclaimable")
    // the fixed append batch goes through the observed gate
    assert(VersionedTable.commitCheckedObserved(
      Seq((3L, "ok")).toDF("id", "text"), dirObs, "id", Seq("text"),
      expectedVersion = 1L, rules = rules, mode = "append") == 2L)
    assert(VersionedTable.read(spark, dirObs).count() == 3L)
  }

  test("sorted compaction re-clusters without changing content") {
    val dir = freshDir()
    // three appends with interleaved keys — the standing version's row
    // order is append order, useless for range pruning
    VersionedTable.commitStreamBatch(Seq((5L, "e"), (1L, "a")).toDF("id", "text"),
      dir, "id", Seq("text"), 0L)
    VersionedTable.commitStreamBatch(Seq((4L, "d"), (2L, "b")).toDF("id", "text"),
      dir, "id", Seq("text"), 1L)
    VersionedTable.commitStreamBatch(Seq((3L, "c"), (6L, "f")).toDF("id", "text"),
      dir, "id", Seq("text"), 2L)
    val v = VersionedTable.compact(spark, dir, targetPartitions = 2, sortCols = Seq("id"))
    assert(v == 4L)
    // content identity held (compact()'s own digest gate passed), and the
    // rewrite is clustered: each output file's ids are contiguous ranges
    assert(VersionedTable.validateAsOf(spark, dir, 4L)._1)
    val byFile = VersionedTable.read(spark, dir)
      .select(col("id"), org.apache.spark.sql.functions
        .input_file_name().as("f"))
      .collect().groupBy(_.getString(1)).values.map(_.map(_.getLong(0)).sorted.toSeq)
    assert(byFile.size == 2)
    val ranges = byFile.map(ids => (ids.min, ids.max)).toSeq.sortBy(_._1)
    assert(ranges.sliding(2).forall {
      case Seq((_, hi), (lo2, _)) => hi < lo2
      case _ => true
    }, s"files must hold disjoint id ranges, got $ranges")
  }

  test("vacuum keeps retained versions readable, reclaims orphans, fails loudly past horizon") {
    val dir = freshDir()
    VersionedTable.commit(Seq((1L, "a")).toDF("id", "text"), dir, "id", Seq("text"), 0L)
    VersionedTable.commit(Seq((1L, "b")).toDF("id", "text"), dir, "id", Seq("text"), 1L)
    VersionedTable.commit(Seq((1L, "c")).toDF("id", "text"), dir, "id", Seq("text"), 2L)
    val (dataDeleted, manifestsDeleted) = VersionedTable.vacuum(spark, dir, retain = 2, orphanGraceMs = 0L)
    assert(dataDeleted == 1 && manifestsDeleted == 1) // v1's dir + manifest
    // retained versions still read and still validate
    assert(VersionedTable.readAsOf(spark, dir, 2L).collect().head.getString(1) == "b")
    assert(VersionedTable.readAsOf(spark, dir, 3L).collect().head.getString(1) == "c")
    assert(VersionedTable.validateAsOf(spark, dir, 3L)._1)
    // out-of-horizon time travel fails with the vacuumed diagnostic
    val e = intercept[RuntimeException] { VersionedTable.readAsOf(spark, dir, 1L) }
    assert(e.getMessage.contains("vacuumed"))
    // append-mode safety: an appended version's dirs overlap its parent's —
    // vacuum must not delete a dir still referenced by ANY retained version
    val dir2 = freshDir()
    VersionedTable.commit(Seq((1L, "x")).toDF("id", "text"), dir2, "id", Seq("text"), 0L)
    VersionedTable.commit(Seq((2L, "y")).toDF("id", "text"), dir2, "id", Seq("text"), 1L, "append")
    VersionedTable.commit(Seq((3L, "z")).toDF("id", "text"), dir2, "id", Seq("text"), 2L, "append")
    val (d2, m2) = VersionedTable.vacuum(spark, dir2, retain = 1, orphanGraceMs = 0L)
    assert(d2 == 0 && m2 == 2) // v3 references ALL dirs — nothing reclaimable
    assert(VersionedTable.read(spark, dir2).count() == 3L)
  }

  test("vacuum grace window spares a fresh unreferenced dir (in-flight commit safety)") {
    // The race the grace closes: a concurrent writer has written its data
    // dir but not yet renamed its manifest — reference-counting alone
    // calls that dir an orphan, reclaims it, and the writer's rename then
    // publishes a version pointing at deleted data. Under the default
    // modification-time grace the young dir survives; only an explicit
    // orphanGraceMs = 0 (no-concurrent-writers mode) reclaims it.
    val dir = freshDir()
    VersionedTable.commit(Seq((1L, "a")).toDF("id", "text"), dir, "id", Seq("text"), 0L)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // simulate the in-flight writer's staged (not yet published) data dir
    val staged = new org.apache.hadoop.fs.Path(dir, "data/v00000002-inflight")
    assert(fs.mkdirs(staged))
    val (keptPass, _) = VersionedTable.vacuum(spark, dir, retain = 1)
    assert(keptPass == 0, "default grace must spare the seconds-old staged dir")
    assert(fs.exists(staged), "in-flight dir survives the graced vacuum")
    val (reclaimed, _) = VersionedTable.vacuum(spark, dir, retain = 1, orphanGraceMs = 0L)
    assert(reclaimed == 1, "grace 0 (single-writer mode) reclaims the orphan")
    assert(!fs.exists(staged))
  }
}
