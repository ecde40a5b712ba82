package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, lit}
import org.apache.spark.sql.types.{BooleanType, LongType, StringType, StructField, StructType}

/** VERSIONED SNAPSHOT TABLE WITH TIME TRAVEL — the commit-log layer
  * that ties the repo's storage pieces ([[Sinks.writeWithManifest]]'s
  * digest contract, [[graft.operators.SnapshotDiff]],
  * [[graft.operators.MerkleDiff]], the rename-return-checked swap
  * discipline of `EventStreams.majorCompact`) into the read-AS-OF
  * table every 100 TB lakehouse pipeline leans on daily. The design is
  * the public Delta/Iceberg recipe (Armbrust et al., "Delta Lake:
  * High-Performance ACID Table Storage over Cloud Object Stores",
  * VLDB 2020) reduced to its load-bearing core:
  *
  * ```
  * table/
  *   _commits/v00000001.json   one manifest per committed version:
  *   _commits/v00000002.json   the data dirs composing the version +
  *   ...                       (rows, digest) over the snapshot
  *   data/v00000001-<uid>/     immutable once committed — a commit
  *   data/v00000002-<uid>/     NEVER rewrites another version's files
  * ```
  *
  * The three properties that make it a TABLE rather than a directory:
  *
  *  - **Atomic commit.** Data lands in a fresh uniquely-named dir
  *    first; the version exists only once `_commits/vN.json` appears,
  *    and that appearance is one rename of a staged temp file (the
  *    narrowest commit point a filesystem offers; rename returning
  *    FALSE — e.g. the destination already exists — is checked and
  *    raised, never ignored). A reader never sees a half-written
  *    version: either vN.json is there (and its data dirs were fully
  *    written before the rename) or it isn't.
  *  - **Optimistic concurrency / stale-writer detection.** A writer
  *    declares `expectedVersion` (what it based its work on). It is
  *    checked twice: up front (fail fast before the data write) and
  *    structurally at the commit point — two racing writers both
  *    targeting vN+1 stage different temp files but rename onto the
  *    SAME destination; HDFS rename-onto-existing returns false, so
  *    exactly one wins and the loser gets
  *    [[java.util.ConcurrentModificationException]] with its staged
  *    data intact for retry-on-latest. (On a filesystem whose rename
  *    overwrites — raw S3 without a consistency layer — substitute a
  *    conditional PUT; stated, not hidden, same as majorCompact's
  *    manifest-swap note.)
  *  - **Content accountability.** Every manifest carries the
  *    [[graft.operators.MerkleDiff]] order-insensitive (rows, digest)
  *    over (id | content cols) — [[validateAsOf]] re-derives both from
  *    the current bytes, so "version N is exactly what was committed"
  *    is a two-number check, same contract as `_MANIFEST.json`.
  *
  * Modes: `overwrite` (the new version IS the new DataFrame) and
  * `append` (the new version = previous version's dirs + the new dir —
  * the log-structured shape; no data is ever copied forward, so a
  * 100 TB table appends a day's partition without touching history).
  *
  * [[vacuum]] retains the last `retain` versions: data dirs referenced
  * by NO retained manifest are deleted (delete-return-checked), and
  * the expired manifests are dropped so a time travel past the
  * horizon fails with "vacuumed", never with a silent partial read.
  *
  * Scale shape: the commit log is O(versions) tiny JSON files read on
  * the driver at plan time (exactly Delta's `_delta_log`); the data
  * path is untouched parquet — pruning/pushdown/AQE all apply to
  * [[readAsOf]] output unchanged. Nothing here scans data except the
  * digest pass at commit (the price of a publish boundary, paid once —
  * the writeWithManifest contract; APPENDS pay it only on the new
  * batch, since the (count, XOR) digest combines associatively with
  * the previous manifest's — commit cost O(batch), not O(table)) and
  * validateAsOf on demand. Each manifest is SNAPSHOT-COMPLETE, so no
  * Delta-style log checkpoint is ever needed: there is no action chain
  * to replay — BENCH_VTDEPTH_r12 measures 120-deep histories flat.
  */
object VersionedTable {

  private val CommitsDir = "_commits"
  private val DataDir = "data"

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def commitPath(root: Path, v: Long): Path =
    new Path(new Path(root, CommitsDir), f"v$v%08d.json")

  /** Order-insensitive (name, type) signature — the append/upsert
    * schema gate's comparison key: names AND types must match exactly;
    * silent unionByName coercion or footer-resolution drift is never
    * allowed to evolve a table's schema as a side effect. */
  private def schemaSig(s: StructType) =
    s.fields.map(f => (f.name, f.dataType.sql)).sortBy(_._1).toSeq

  /** Committed versions present in the log, ascending (empty ⇒ no
    * table yet). One driver-side listing of tiny files — O(versions). */
  def versions(spark: SparkSession, tableDir: String): Seq[Long] = {
    val dir = new Path(new Path(tableDir), CommitsDir)
    val fs = fsOf(spark, dir)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .collect { case n if n.startsWith("v") && n.endsWith(".json") =>
        n.stripPrefix("v").stripSuffix(".json").toLong }
      .sorted
  }

  /** Latest committed version, 0 if the table does not exist yet. */
  def currentVersion(spark: SparkSession, tableDir: String): Long =
    versions(spark, tableDir).lastOption.getOrElse(0L)

  private[sources] case class Manifest(version: Long, mode: String, dirs: Seq[String],
      rows: Long, digest: Long, idCol: String, contentCols: Seq[String],
      batchId: Option[Long],
      dirStats: Map[String, (Long, Long)],
      dirStrStats: Map[String, Map[String, (String, String)]],
      mergeRead: Boolean,
      committedAtMs: Option[Long],
      dirBlooms: Map[String, Map[String, (Int, String)]])

  /** Bloom-index geometry: m bits per (dir, column) — a POWER OF TWO
    * sized to >= 16x the dir's distinct count (k=4 probes → load
    * factor <= 0.25, bits-set fraction <= 0.22, false-positive rate
    * <= ~0.25%), floored at 8 KiB and capped at 4 Mi bits (512 KiB —
    * a dir with more distinct keys than that is not a point-read
    * target; the cap degrades fp rate gracefully, never correctness).
    * FOUR probe positions are sliced from ONE md5 of the value's
    * string form — the same digest is computable as a Spark
    * expression at build time (md5 + conv + substr) and as plain JVM
    * code at probe time, so no engine-internal hash (Murmur3 seeds
    * etc.) ever needs replaying. 7 hex chars = 28 bits per slice, and
    * m is a power of two <= 2^22, so the modulo is unbiased. */
  private[graft] val BloomMinBits = 8192
  private[graft] val BloomMaxBits = 1 << 22
  private[graft] def bloomBitsFor(distinct: Long): Int = {
    var m = BloomMinBits
    while (m < BloomMaxBits && m.toLong < 16L * distinct) m <<= 1
    m
  }
  private[graft] def bloomPositions(s: String, m: Int): Seq[Int] = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
    Seq(0, 7, 14, 21).map(o =>
      (java.lang.Long.parseLong(hex.substring(o, o + 7), 16) % m).toInt)
  }

  /** Wall-clock seam for the commit timestamp — swappable in specs so
    * timestamp time travel is testable deterministically (the same
    * role onBeforePublish plays for the concurrency window). */
  private[graft] var nowMs: () => Long = () => System.currentTimeMillis()

  private def urlEnc(s: String): String =
    java.net.URLEncoder.encode(s, java.nio.charset.StandardCharsets.UTF_8)
  private def urlDec(s: String): String =
    java.net.URLDecoder.decode(s, java.nio.charset.StandardCharsets.UTF_8)

  private[sources] def readManifest(spark: SparkSession, tableDir: String, v: Long): Manifest = {
    val p = commitPath(new Path(tableDir), v)
    val fs = fsOf(spark, p)
    if (!fs.exists(p)) {
      val have = versions(spark, tableDir)
      sys.error(s"versioned table $tableDir has no version $v " +
        (if (have.isEmpty) "(no commits at all)"
         else s"(committed: ${have.mkString(",")} — older versions may have been vacuumed)"))
    }
    val text = {
      val in = fs.open(p)
      try org.apache.commons.io.IOUtils.toString(in, java.nio.charset.StandardCharsets.UTF_8)
      finally in.close()
    }
    def field(name: String): String =
      s""""$name": (-?\\w+)""".r.findFirstMatchIn(text)
        .getOrElse(sys.error(s"commit $p missing $name")).group(1)
    def str(name: String): String =
      s""""$name": "([^"]*)"""".r.findFirstMatchIn(text)
        .getOrElse(sys.error(s"commit $p missing $name")).group(1)
    val gotV = field("digest_v").toInt
    if (gotV != Sinks.DigestVersion)
      sys.error(s"commit $p uses digest_v=$gotV, validator computes " +
        s"digest_v=${Sinks.DigestVersion} — format bump, re-commit (not corruption)")
    val dirStats: Map[String, (Long, Long)] =
      s""""dir_stats": "([^"]*)"""".r.findFirstMatchIn(text).map(_.group(1))
        .filter(_.nonEmpty)
        .map(_.split(";").toSeq.map { entry =>
          val Array(d, lo, hi) = entry.split(":")
          d -> ((lo.toLong, hi.toLong))
        }.toMap)
        .getOrElse(Map.empty)
    // secondary (string-typed) per-dir column stats, every token
    // URL-encoded so arbitrary column VALUES can't collide with the
    // `;  =  |  :` separators or break the manifest's JSON framing
    val dirStrStats: Map[String, Map[String, (String, String)]] =
      s""""dir_str_stats": "([^"]*)"""".r.findFirstMatchIn(text).map(_.group(1))
        .filter(_.nonEmpty)
        .map(_.split(";").toSeq.map { entry =>
          val Array(d, cols) = entry.split("=", 2)
          urlDec(d) -> cols.split("\\|").toSeq.map { cs =>
            val Array(c, lo, hi) = cs.split(":")
            urlDec(c) -> ((urlDec(lo), urlDec(hi)))
          }.toMap
        }.toMap)
        .getOrElse(Map.empty)
    // per-dir bloom filters, same urlEnc framing as dir_str_stats
    // (base64 payloads carry '+'/'/'/'=' — encoded so the separators
    // stay unambiguous)
    val dirBlooms: Map[String, Map[String, (Int, String)]] =
      s""""dir_blooms": "([^"]*)"""".r.findFirstMatchIn(text).map(_.group(1))
        .filter(_.nonEmpty)
        .map(_.split(";").toSeq.map { entry =>
          val Array(d, cols) = entry.split("=", 2)
          urlDec(d) -> cols.split("\\|").toSeq.map { cs =>
            val Array(c, mStr, b) = cs.split(":")
            urlDec(c) -> ((mStr.toInt, urlDec(b)))
          }.toMap
        }.toMap)
        .getOrElse(Map.empty)
    Manifest(field("version").toLong, str("mode"),
      str("dirs").split(",").toSeq.filter(_.nonEmpty),
      field("rows").toLong, field("digest").toLong,
      str("id_col"), str("content_cols").split(",").toSeq.filter(_.nonEmpty),
      s""""batch_id": (-?\\d+)""".r.findFirstMatchIn(text).map(_.group(1).toLong),
      dirStats, dirStrStats,
      text.contains("\"merge_read\": true"),
      s""""committed_at_ms": (\\d+)""".r.findFirstMatchIn(text).map(_.group(1).toLong),
      dirBlooms)
  }

  /** Parquet read over a version's dirs, honoring its manifest's
    * merge-read flag: an evolved table's dirs carry HETEROGENEOUS
    * schemas, and without mergeSchema Spark resolves a multi-dir scan
    * from a single footer — the new column would silently vanish or
    * null out depending on which file won. Unevolved tables keep the
    * cheap single-footer resolution. */
  private def parquetRead(spark: SparkSession, m: Manifest,
      paths: Seq[String]): DataFrame = {
    val r = spark.read
    (if (m.mergeRead) r.option("mergeSchema", "true") else r).parquet(paths: _*)
  }

  /** Commit `df` as the next version of the table under optimistic
    * concurrency. Returns the committed version number.
    *
    * @param expectedVersion the version this writer READ before
    *        producing `df` (0 for creating a new table). A mismatch
    *        with the log — up front, or a rename collision at the
    *        commit point — raises ConcurrentModificationException and
    *        leaves every committed version untouched.
    * @param mode `"overwrite"` (snapshot replace) or `"append"`
    *        (previous dirs + this delta — nothing copied forward).
    * @param onBeforePublish test seam: runs after the data write +
    *        digest but before the commit point, i.e. inside the
    *        optimistic-concurrency window — a spec injects a racing
    *        winner here to exercise the loser path DETERMINISTICALLY
    *        (a wall-clock thread race would be flaky, and local-fs
    *        rename overwrites, so only the exists-guard is testable
    *        locally anyway). No-op in production use. */
  def commit(df: DataFrame, tableDir: String, idCol: String,
      contentCols: Seq[String], expectedVersion: Long,
      mode: String = "overwrite",
      onBeforePublish: () => Unit = () => (),
      batchId: Option[Long] = None,
      statCols: Seq[String] = Nil,
      allowSchemaEvolution: Boolean = false,
      bloomCols: Seq[String] = Nil): Long = {
    require(mode == "overwrite" || mode == "append",
      s"commit: mode must be overwrite|append, got $mode")
    val spark = df.sparkSession
    val root = new Path(tableDir)
    val fs = fsOf(spark, root)
    val cur = currentVersion(spark, tableDir)
    if (cur != expectedVersion)
      throw new java.util.ConcurrentModificationException(
        s"versioned table $tableDir is at v$cur but this writer expected " +
          s"v$expectedVersion — rebase on v$cur and retry")
    val next = cur + 1
    // the new data dir is uniquely named per ATTEMPT (not per version):
    // two racing writers for vNext stage disjoint dirs, and the loser's
    // orphan dir is invisible (no manifest references it) until vacuum
    // sweeps it
    // APPEND SCHEMA GATE: the appended dirs are read as ONE parquet
    // relation, and Spark resolves a multi-dir read against a single
    // file's footer unless mergeSchema is on — an append with a
    // different schema would not fail, it would SILENTLY drop or
    // null-fill columns depending on which file won. Names AND types
    // must match the standing version exactly (order-insensitive);
    // the one sanctioned relaxation is explicit column ADDITION under
    // `allowSchemaEvolution` (below), which flips the manifest's
    // merge-read flag so every read resolves the union schema.
    // previous manifest, read once up front (driver-side tiny file) —
    // the evolution gate needs its content cols, and append mode needs
    // its dirs, stats, and digest below
    val prevManifest: Option[Manifest] =
      if (mode == "append" && cur > 0) Some(readManifest(spark, tableDir, cur))
      else None
    // SCHEMA EVOLUTION (round 12, the Delta mergeSchema move): with
    // `allowSchemaEvolution`, an append may ADD columns — every standing
    // (name, type) must still be present exactly (type drift and column
    // loss stay hard errors; evolution is widening the schema, never
    // mutating it). Old rows read back NULL for the new columns via the
    // manifest's merge-read flag. Digest discipline: the new dir is
    // digested over the STANDING content cols (enforced below), so
    // validateAsOf stays exact across the evolution boundary; the new
    // column joins the digest at the next snapshot `overwrite`, which
    // re-bases content cols — stated, not hidden.
    var evolvedNow = false
    if (mode == "append" && cur > 0L) {
      val standing = readAsOf(spark, tableDir, cur).schema
      if (schemaSig(df.schema) != schemaSig(standing)) {
        val missing = schemaSig(standing).toSet -- schemaSig(df.schema).toSet
        if (allowSchemaEvolution && missing.isEmpty) {
          evolvedNow = true
          val standingContent = prevManifest.map(_.contentCols).getOrElse(Nil)
          require(contentCols == standingContent,
            s"versioned table $tableDir: an evolving append must keep the " +
              s"standing content cols ${standingContent.mkString(",")} for the " +
              s"digest (got ${contentCols.mkString(",")}) — the added column " +
              "joins the digest at the next overwrite commit")
        } else
          sys.error(s"versioned table $tableDir: append schema " +
            s"${df.schema.simpleString} does not match version v$cur's " +
            s"${standing.simpleString} — a mixed-schema append would read " +
            "silently wrong (parquet resolves multi-dir scans from one " +
            "footer); add columns with allowSchemaEvolution=true, or evolve " +
            "types with an explicit overwrite commit")
      }
    }
    val uid = java.util.UUID.randomUUID.toString.take(8)
    val dataRel = f"$DataDir/v$next%08d-$uid"
    val dataPath = new Path(root, dataRel)
    df.write.mode("error").parquet(dataPath.toString)
    publishStagedDir(spark, tableDir, dataRel, idCol, contentCols,
      expectedVersion, mode, onBeforePublish, batchId, statCols, bloomCols,
      prevManifest, evolvedNow)
  }

  /** PUBLISH an already-staged data dir as the next version — the tail
    * of [[commit]] split out (round 14) so the STREAMING SINK
    * ([[GraftVersionedSource]]'s StreamingWrite, whose executors wrote
    * the parquet files directly) shares the exact digest / stats /
    * bloom / manifest-rename protocol instead of re-implementing it.
    * `dataRel` must be a fully-written dir under the table root; the
    * publish reads its LANDED bytes (the writeWithManifest discipline)
    * and the optimistic-concurrency rename stays the single commit
    * point. */
  private[sources] def publishStagedDir(spark: SparkSession, tableDir: String,
      dataRel: String, idCol: String, contentCols: Seq[String],
      expectedVersion: Long, mode: String,
      onBeforePublish: () => Unit = () => (),
      batchId: Option[Long] = None,
      statCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil,
      prevManifestIn: Option[Manifest] = null,
      evolvedNowIn: Boolean = false,
      allowSchemaEvolution: Boolean = false,
      removedDirs: Seq[String] = Nil): Long = {
    // mode "replace" (round 15 — the PARTIAL copy-on-write the runtime
    // group filter enables): the staged dir REPLACES `removedDirs`
    // while every other standing dir survives untouched — a MERGE that
    // matches one shard of a thousand rewrites one shard, not the
    // table. Digest discipline: the incremental (count, XOR) pair
    // subtracts the removed dirs' re-derived digests (XOR is
    // self-inverse; O(affected bytes) — the same cost class as the
    // rewrite itself) and folds in the staged dir's, so validateAsOf
    // still recomputes exactly.
    require(mode != "replace" || removedDirs.nonEmpty,
      "publishStagedDir: mode=replace needs the removed dir list")
    val root = new Path(tableDir)
    val fs = fsOf(spark, root)
    val cur = currentVersion(spark, tableDir)
    if (cur != expectedVersion)
      throw new java.util.ConcurrentModificationException(
        s"versioned table $tableDir is at v$cur but this writer expected " +
          s"v$expectedVersion — rebase on v$cur and retry")
    val next = cur + 1
    val dataPath = new Path(root, dataRel)
    // callers arriving through commit() already read the previous
    // manifest and ran the evolution gate against the DataFrame; a
    // staged-dir caller (streaming sink) passes null and both are
    // derived here from the landed bytes
    val prevManifest: Option[Manifest] =
      if (prevManifestIn != null) prevManifestIn
      else if ((mode == "append" || mode == "replace") && cur > 0)
        Some(readManifest(spark, tableDir, cur))
      else None
    if (mode == "replace") {
      val standing = prevManifest.map(_.dirs.toSet).getOrElse(Set.empty)
      val ghosts = removedDirs.filterNot(standing)
      require(prevManifest.nonEmpty && ghosts.isEmpty,
        s"publishStagedDir: replace must remove standing dirs of v$cur — " +
          s"not ${ghosts.mkString(", ")}")
    }
    var evolvedNow = evolvedNowIn
    if (prevManifestIn == null && (mode == "append" || mode == "replace") &&
        cur > 0L) {
      val standing = readAsOf(spark, tableDir, cur).schema
      val stagedSchema = spark.read.parquet(dataPath.toString).schema
      if (schemaSig(stagedSchema) != schemaSig(standing)) {
        val missing = schemaSig(standing).toSet -- schemaSig(stagedSchema).toSet
        if (allowSchemaEvolution && missing.isEmpty) {
          evolvedNow = true
          val standingContent = prevManifest.map(_.contentCols).getOrElse(Nil)
          require(contentCols == standingContent,
            s"versioned table $tableDir: an evolving append must keep the " +
              s"standing content cols ${standingContent.mkString(",")} for the digest")
        } else
          sys.error(s"versioned table $tableDir: staged append schema " +
            s"${stagedSchema.simpleString} does not match version v$cur's " +
            s"${standing.simpleString} — add columns with allowSchemaEvolution, " +
            "or evolve types with an explicit overwrite commit")
      }
    }
    val removedSet = removedDirs.toSet
    val dirsForVersion: Seq[String] =
      if (mode == "replace")
        prevManifest.map(_.dirs.filterNot(removedSet) :+ dataRel)
          .getOrElse(Seq(dataRel))
      else prevManifest.map(_.dirs :+ dataRel).getOrElse(Seq(dataRel))
    // re-read what LANDED (the writeWithManifest discipline): rows and
    // digest describe the committed bytes, not the intended DataFrame.
    // INCREMENTAL DIGEST ON APPEND (round 12 — the depth-scaling fix):
    // the snapshot digest is (count, XOR of row hashes) — both combine
    // associatively, and committed dirs are immutable by contract — so
    // an append digests ONLY the new dir's landed bytes and folds it
    // into the previous manifest's pair. Commit cost is O(batch), not
    // O(table): day 365 of a daily-append table digests one day, where
    // a full re-digest would scan a year. The combined value equals the
    // full re-derivation exactly (validateAsOf recomputes from complete
    // bytes on demand, so silent history corruption stays detectable —
    // the explicit-validation split Delta makes too).
    // FUSED COMMIT-STATS PASS (r15 optimization, guide §1.2 "remove
    // unnecessary passes"): the digest, the id min/max, the secondary
    // stat-col min/max and the bloom columns' distinct counts are ALL
    // combineable aggregates over the same landed dir — they now run as
    // ONE job over ONE read relation where they were one read per
    // family (2 + |statCols| + |bloomCols| passes per commit; measured
    // at sf0.1 the storage queries spend most of their time here). At
    // 100 TB this is the commit's dominant cost: O(batch bytes) once.
    // Every derived value is bit-identical to the per-family
    // derivations — the digest XORs MerkleDiff.rowHash (one shared
    // definition), try_cast keeps the non-numeric-id conservative path
    // (null ⇒ no stats recorded), countDistinct ignores nulls exactly
    // like the old filter(isNotNull) pre-step.
    val F = org.apache.spark.sql.functions
    val rowhName = "__graft_rowh"
    val newDf0 = spark.read.parquet(dataPath.toString)
    require(!newDf0.columns.contains(rowhName),
      s"versioned table $tableDir: column name $rowhName is reserved")
    val newDf = newDf0.withColumn(rowhName,
      graft.operators.MerkleDiff.rowHash(idCol, contentCols))
    val statAggs: Seq[org.apache.spark.sql.Column] =
      Seq(F.count(F.lit(1)).as("_cnt"),
        F.coalesce(F.expr(s"bit_xor($rowhName)"), F.lit(0L)).as("_dig"),
        F.min(F.expr(s"try_cast(`$idCol` AS BIGINT)")).as("_idlo"),
        F.max(F.expr(s"try_cast(`$idCol` AS BIGINT)")).as("_idhi")) ++
      statCols.zipWithIndex.flatMap { case (c, i) =>
        Seq(F.min(col(c).cast("string")).as(s"_slo$i"),
          F.max(col(c).cast("string")).as(s"_shi$i")) } ++
      bloomCols.zipWithIndex.map { case (c, i) =>
        F.countDistinct(col(c).cast("string")).as(s"_bn$i") }
    val statRow = newDf.agg(statAggs.head, statAggs.tail: _*).head()
    val newDg: (Long, Long) = (statRow.getLong(0), statRow.getLong(1))
    val dg =
      if (mode == "replace") {
        val p = prevManifest.get
        val removedDg = removedDirs.map { d =>
          graft.operators.MerkleDiff
            .leafDigests(spark.read.parquet(new Path(root, d).toString),
              idCol, contentCols, leaves = 1)
            .collect().headOption.map(r => (r.getLong(1), r.getLong(2)))
            .getOrElse((0L, 0L))
        }.foldLeft((0L, 0L))((a, b) => (a._1 + b._1, a._2 ^ b._2))
        (p.rows - removedDg._1 + newDg._1, p.digest ^ removedDg._2 ^ newDg._2)
      } else prevManifest
        .map(p => (p.rows + newDg._1, p.digest ^ newDg._2))
        .getOrElse(newDg)
    // DATA-SKIPPING STATS (the Delta checkpoint-stats shape, reduced to
    // the id column): min/max of the NEW dir's id, carried forward for
    // inherited dirs — the `graft-versioned` connector
    // ([[GraftVersionedScanBuilder]]) prunes whole dirs against an id
    // filter at plan time. Numeric ids only (a null min/max — non-castable
    // or empty dir — records no stats, and an unstatted dir is always
    // kept: pruning is an optimization, never the correctness carrier).
    val newDirStats: Option[(Long, Long)] =
      if (statRow.isNullAt(2) || statRow.isNullAt(3)) None
      else Some((statRow.getLong(2), statRow.getLong(3)))
    val carried: Map[String, (Long, Long)] =
      prevManifest.map(_.dirStats).getOrElse(Map.empty)
    val allStats = carried ++ newDirStats.map(dataRel -> _)
    val statsJson =
      if (allStats.isEmpty) ""
      else s""""dir_stats": "${dirsForVersion.flatMap(d =>
        allStats.get(d).map { case (lo, hi) => s"$d:$lo:$hi" }).mkString(";")}", """
    // SECONDARY STATTED COLUMNS (round-12: Delta keeps per-column stats
    // for a reason — an id-only index can't serve the curation reads
    // that filter by language/source): min/max of each requested column
    // AS A STRING on the new dir, carried forward for inherited dirs
    // exactly like the id stats. One tiny aggregate over the already-
    // written dir; a null min/max (empty dir / all-null col) records no
    // stats and the connector's equality pruning keeps the dir —
    // pruning stays an optimization, never the correctness carrier.
    val newStrStats: Map[String, (String, String)] =
      statCols.zipWithIndex.flatMap { case (c, i) =>
        val lo = 4 + 2 * i
        if (statRow.isNullAt(lo) || statRow.isNullAt(lo + 1)) None
        else Some(c -> ((statRow.getString(lo), statRow.getString(lo + 1))))
      }.toMap
    val carriedStr: Map[String, Map[String, (String, String)]] =
      prevManifest.map(_.dirStrStats).getOrElse(Map.empty)
    val allStrStats = carriedStr ++
      (if (newStrStats.isEmpty) Map.empty else Map(dataRel -> newStrStats))
    val strStatsJson =
      if (allStrStats.forall(_._2.isEmpty)) ""
      else s""""dir_str_stats": "${dirsForVersion.flatMap(d =>
        allStrStats.get(d).filter(_.nonEmpty).map { cols =>
          urlEnc(d) + "=" + cols.toSeq.sortBy(_._1).map { case (c, (lo, hi)) =>
            s"${urlEnc(c)}:${urlEnc(lo)}:${urlEnc(hi)}" }.mkString("|")
        }).mkString(";")}", """
    // PER-DIR BLOOM INDEX (the Delta/Hudi bloom-index move): min/max
    // stats cannot prune a point read when every append spans the full
    // key range (interleaved ingest — round-robin shards, hash-bucketed
    // feeds); a 1 KiB bloom per (dir, column) answers "definitely not
    // in this dir" regardless of value interleaving. The bitmap is
    // built EXECUTOR-SIDE (ADVICE r12): each partition ORs probe
    // positions into a local byte array and treeAggregate ships the
    // driver one <= 512 KiB bitmap — never the up-to-4M distinct
    // position Rows the old distinct().collect() materialized, so the
    // 2^22 cap is a bitmap-size knob, not a driver-memory ceiling.
    // Probed driver-side at plan time by the connector's `=`/`IN`
    // pushdown ([[GraftVersionedScanBuilder]]). A dir with
    // no bloom for the column is always kept — same conservative
    // contract as the other stats.
    val newBlooms: Map[String, (Int, String)] =
      if (bloomCols.isEmpty) Map.empty
      else {
        // distinct counts came from the fused stats pass above; sizing
        // is unchanged (bloomBitsFor). ONE bitmap job for ALL bloom
        // columns (r15): each column's bitmap occupies its own byte
        // range of a single aggregation buffer — global bit position =
        // column offset · 8 + local position, so the per-column bytes
        // (and thus the manifest) are identical to the old per-column
        // treeAggregate build; k bloom columns cost one pass, not k.
        val bnBase = 4 + 2 * statCols.length
        val counted: Seq[(String, Int)] = bloomCols.zipWithIndex.flatMap {
          case (c, i) =>
            val n = statRow.getLong(bnBase + i)
            if (n == 0L) None else Some((c, bloomBitsFor(n)))
        }
        if (counted.isEmpty) Map.empty
        else {
          val offsets = counted.scanLeft(0) { case (off, (_, m)) => off + (m + 7) / 8 }
          val total = offsets.last
          // null column values: the when() without otherwise yields a
          // null position (filtered below) — same rows as the old
          // per-column filter(isNotNull) pre-step
          val posCols: Seq[org.apache.spark.sql.Column] =
            counted.zip(offsets.init).flatMap { case ((c, m), off) =>
              val hexc = F.md5(col(c).cast("string").cast("binary"))
              Seq(0, 7, 14, 21).map(o =>
                F.when(col(c).isNotNull,
                  (F.conv(F.substring(hexc, o + 1, 7), 16, 10)
                    .cast("long") % m).cast("int") + F.lit(off * 8)))
            }
          val bytes = newDf0
            .select(F.explode(F.array(posCols: _*)).as("p"))
            .filter(col("p").isNotNull)
            .rdd.map(_.getInt(0))
            .treeAggregate(new Array[Byte](total))(
              (acc, p) => {
                acc(p >>> 3) = (acc(p >>> 3) | (1 << (p & 7))).toByte; acc
              },
              (a, b) => {
                var i = 0
                while (i < total) { a(i) = (a(i) | b(i)).toByte; i += 1 }
                a
              })
          counted.zip(offsets.init).map { case ((c, m), off) =>
            val nBytes = (m + 7) / 8
            // BitSet.valueOf uses the same little-endian-within-byte
            // layout as the (p >>> 3, 1 << (p & 7)) writes, so the
            // manifest bytes are identical to the old driver-side build
            val bits = java.util.BitSet.valueOf(
              java.util.Arrays.copyOfRange(bytes, off, off + nBytes))
            c -> ((m, java.util.Base64.getEncoder.encodeToString(bits.toByteArray)))
          }.toMap
        }
      }
    val carriedBlooms: Map[String, Map[String, (Int, String)]] =
      prevManifest.map(_.dirBlooms).getOrElse(Map.empty)
    val allBlooms = carriedBlooms ++
      (if (newBlooms.isEmpty) Map.empty else Map(dataRel -> newBlooms))
    val bloomsJson =
      if (allBlooms.forall(_._2.isEmpty)) ""
      else s""""dir_blooms": "${dirsForVersion.flatMap(d =>
        allBlooms.get(d).filter(_.nonEmpty).map { cols =>
          urlEnc(d) + "=" + cols.toSeq.sortBy(_._1).map { case (c, (m, b)) =>
            s"${urlEnc(c)}:$m:${urlEnc(b)}" }.mkString("|")
        }).mkString(";")}", """
    // the merge-read flag is STICKY across appends: once any retained
    // dir carries an evolved schema, every later append's read of this
    // version chain needs union resolution; an overwrite starts a
    // single-schema dir set and drops the flag naturally
    // (a replace keeps surviving dirs, so an evolved chain stays
    // union-resolved exactly like an append chain would)
    val mergeRead = (mode == "append" || mode == "replace") &&
      (prevManifest.exists(_.mergeRead) || evolvedNow)
    val json =
      s"""{"digest_v": ${Sinks.DigestVersion}, "version": $next, """ +
        s""""mode": "$mode", "dirs": "${dirsForVersion.mkString(",")}", """ +
        s""""rows": ${dg._1}, "digest": ${dg._2}, """ +
        batchId.map(b => s""""batch_id": $b, """).getOrElse("") +
        (if (mergeRead) """"merge_read": true, """ else "") +
        s""""committed_at_ms": ${nowMs()}, """ +
        statsJson + strStatsJson + bloomsJson +
        s""""id_col": "$idCol", "content_cols": "${contentCols.mkString(",")}"}"""
    onBeforePublish()
    // stage-then-rename: the rename IS the commit point. The staged
    // name is attempt-unique so racing losers never clobber each
    // other's staging either.
    val commitsDir = new Path(root, CommitsDir)
    if (!fs.exists(commitsDir)) fs.mkdirs(commitsDir)
    // attempt-unique staging for the manifest rename (racing losers
    // never clobber each other's staged file either)
    val stageUid = java.util.UUID.randomUUID.toString.take(8)
    val tmp = new Path(commitsDir, f".tmp-v$next%08d-$stageUid.json")
    val out = fs.create(tmp, false)
    try out.write(json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    val dest = commitPath(root, next)
    // HDFS/local rename onto an existing destination returns FALSE —
    // that is the concurrency loser's signal, checked, never dropped
    if (fs.exists(dest) || !fs.rename(tmp, dest)) {
      fs.delete(tmp, false) // the staged manifest; data dir left for vacuum
      throw new java.util.ConcurrentModificationException(
        s"versioned table $tableDir: commit of v$next lost the race " +
          s"(another writer published first) — staged data at $dataRel is " +
          "unreferenced and will be reclaimed by vacuum; rebase and retry")
    }
    next
  }

  /** EXACTLY-ONCE STREAMING COMMIT — the `foreachBatch` transactional
    * sink recipe (the public Structured Streaming idempotent-sink
    * pattern): each micro-batch appends one version stamped with its
    * `batchId`; a RETRY of an already-committed batch (failure after
    * commit but before checkpoint advance — the at-least-once window
    * foreachBatch exposes) is detected by comparing against the LAST
    * committed manifest's batch id and skipped, so the table observes
    * each batch once no matter how many times the sink ran it.
    * Returns Some(version) on commit, None on the idempotent skip.
    * Single-writer by construction (one streaming query per table);
    * the optimistic-concurrency guard underneath still protects
    * against an interloping batch writer. Usage:
    * {{{
    * ds.writeStream.foreachBatch { (b: DataFrame, id: Long) =>
    *   VersionedTable.commitStreamBatch(b, dir, "k", Seq("v"), id): Unit
    * }
    * }}} */
  def commitStreamBatch(batch: DataFrame, tableDir: String, idCol: String,
      contentCols: Seq[String], batchId: Long,
      mode: String = "append",
      statCols: Seq[String] = Nil): Option[Long] = {
    val spark = batch.sparkSession
    val cur = currentVersion(spark, tableDir)
    if (batchId <= lastStampedBatchId(spark, tableDir))
      None // replayed batch — already committed
    else Some(commit(batch, tableDir, idCol, contentCols,
      expectedVersion = cur, mode = mode, batchId = Some(batchId),
      statCols = statCols))
  }

  /** The replay watermark: the most RECENT manifest carrying a batch
    * id — not just the head manifest: a compact()/maintenance commit
    * interleaved between micro-batches has no batch id, and reading
    * only the head would reset the watermark to -1 and let a replayed
    * batch double-commit. O(versions) tiny driver-side reads, and the
    * scan stops at the first stamped manifest. Caveat (documented):
    * vacuum must retain enough versions to cover the longest possible
    * stream downtime, or a replay older than the horizon loses its
    * watermark — retention policy is part of the exactly-once contract.
    * Shared by [[commitStreamBatch]] and the native streaming sink. */
  private[sources] def lastStampedBatchId(spark: SparkSession,
      tableDir: String): Long =
    versions(spark, tableDir).reverseIterator
      .map(v => readManifest(spark, tableDir, v).batchId)
      .collectFirst { case Some(b) => b }
      .getOrElse(-1L)

  /** Time travel: the table exactly as of committed version `v`.
    * Plain parquet read over the version's dirs — pruning, pushdown
    * and AQE apply unchanged. */
  def readAsOf(spark: SparkSession, tableDir: String, v: Long): DataFrame = {
    val m = readManifest(spark, tableDir, v)
    val root = new Path(tableDir)
    parquetRead(spark, m, m.dirs.map(d => new Path(root, d).toString))
  }

  /** The latest committed version (the plain `SELECT * FROM t` path). */
  def read(spark: SparkSession, tableDir: String): DataFrame =
    readAsOf(spark, tableDir, currentVersion(spark, tableDir))

  /** TIMESTAMP time travel (the other half of Delta's `timestampAsOf`):
    * the table as of the LATEST version whose commit wall-clock is
    * <= `tsMillis`. Commit timestamps are recorded at publish
    * (manifest `committed_at_ms`; monotonic per table because commits
    * serialize through the optimistic-concurrency rename). A target
    * older than the first surviving commit fails loudly — after a
    * vacuum that is "horizon exceeded", the same contract version
    * travel gives. O(versions) tiny driver-side manifest reads. */
  /** Resolve the version a read addresses: an explicit `versionAsOf`
    * wins, else `timestampAsOf` picks the newest version committed at
    * or before it (the [[readAsOfTimestamp]] rule), else latest.
    * Shared by the API reads and the DSv2 connector
    * ([[GraftVersionedSource]]) so SQL and Scala can never resolve the
    * same option pair to different snapshots. */
  private[sources] def resolveVersion(spark: SparkSession, tableDir: String,
      versionAsOf: Option[Long], timestampAsOf: Option[Long]): Long = {
    require(versionAsOf.isEmpty || timestampAsOf.isEmpty,
      "versionAsOf and timestampAsOf are mutually exclusive")
    versionAsOf.getOrElse {
      val vs = versions(spark, tableDir)
      require(vs.nonEmpty, s"versioned table $tableDir has no commits")
      timestampAsOf match {
        case None => vs.max
        case Some(tsMillis) =>
          val qualifying = vs.flatMap { v =>
            readManifest(spark, tableDir, v).committedAtMs
              .filter(_ <= tsMillis).map(_ => v)
          }
          require(qualifying.nonEmpty,
            s"versioned table $tableDir has no version committed at or before " +
              s"epoch-ms $tsMillis (earliest surviving commit is newer, or " +
              "predates timestamp recording) — use versionAsOf explicitly")
          qualifying.max
      }
    }
  }

  def readAsOfTimestamp(spark: SparkSession, tableDir: String,
      tsMillis: Long): DataFrame =
    readAsOf(spark, tableDir,
      resolveVersion(spark, tableDir, None, Some(tsMillis)))

  /** TABLE HISTORY (the DESCRIBE HISTORY surface): one row per
    * SURVIVING version — version, mode, manifest row count, dir count,
    * the streaming batch id (null for batch commits), and the commit
    * wall-clock. Driver-built from the O(versions) tiny manifests; no
    * data is touched. Vacuumed versions are absent by definition — the
    * history is what time travel can still reach, not an audit log
    * (an audit log must live OUTSIDE the thing being vacuumed). */
  def history(spark: SparkSession, tableDir: String): DataFrame =
    metadataTable(spark, tableDir, "history", 0L)

  /** FILES metadata table (the Iceberg `files` companion to
    * [[history]]): one row per data dir of version `v`, in
    * version-chain order — the manifest's per-dir skipping metadata
    * made user-visible, i.e. "what would a point/range/equality read
    * prune?". `id_lo`/`id_hi` are the per-dir id stats (null when
    * unstatted), `n_stat_cols` counts secondary string-statted
    * columns, `has_bloom` whether any bloom is recorded. Dir names are
    * attempt-unique (uid-suffixed) — exposed for operators, but
    * position is the stable coordinate. Driver-side, no data touched. */
  def files(spark: SparkSession, tableDir: String, v: Long): DataFrame =
    metadataTable(spark, tableDir, "files", v)

  private def metadataTable(spark: SparkSession, tableDir: String,
      kind: String, v: Long): DataFrame =
    spark.createDataFrame(metadataRows(spark, tableDir, kind, v).asJava,
      metadataSchema(kind))

  /** Schema of the metadata table `kind` (`"history"` or `"files"`). */
  private[sources] def metadataSchema(kind: String): StructType = kind match {
    case "history" => StructType(Seq(
      StructField("version", LongType, nullable = false),
      StructField("mode", StringType, nullable = false),
      StructField("n_rows", LongType, nullable = false),
      StructField("n_dirs", LongType, nullable = false),
      StructField("batch_id", LongType, nullable = true),
      StructField("committed_at_ms", LongType, nullable = true)))
    case "files" => StructType(Seq(
      StructField("dir_pos", LongType, nullable = false),
      StructField("dir", StringType, nullable = false),
      StructField("id_lo", LongType, nullable = true),
      StructField("id_hi", LongType, nullable = true),
      StructField("n_stat_cols", LongType, nullable = false),
      StructField("has_bloom", BooleanType, nullable = false)))
    case other => sys.error(s"graft-versioned: unknown metadata table '$other'")
  }

  /** The rows of the metadata table `kind`, derived once from the
    * manifests for both [[history]]/[[files]] and the connector's
    * `metadata` option ([[GraftVersionedMetadataScan]]). `v` is the
    * version `"files"` lists; `"history"` lists every surviving one. */
  private[sources] def metadataRows(spark: SparkSession, tableDir: String,
      kind: String, v: Long): Seq[Row] = kind match {
    case "history" =>
      versions(spark, tableDir).map { ver =>
        val m = readManifest(spark, tableDir, ver)
        Row(ver, m.mode, m.rows, m.dirs.size.toLong,
          m.batchId.orNull, m.committedAtMs.orNull)
      }
    case "files" =>
      val m = readManifest(spark, tableDir, v)
      m.dirs.zipWithIndex.map { case (d, i) =>
        val stats = m.dirStats.get(d)
        Row(i.toLong, d, stats.map(_._1).orNull, stats.map(_._2).orNull,
          m.dirStrStats.get(d).map(_.size.toLong).getOrElse(0L),
          m.dirBlooms.get(d).exists(_.nonEmpty))
      }
  }

  /** Re-derive (rows, digest) of version `v` from the CURRENT bytes and
    * compare to its manifest: (ok, expRows, gotRows, expDigest,
    * gotDigest) — the validateManifest contract, per version. */
  def validateAsOf(spark: SparkSession, tableDir: String,
      v: Long): (Boolean, Long, Long, Long, Long) = {
    val m = readManifest(spark, tableDir, v)
    val d = graft.operators.MerkleDiff
      .leafDigests(readAsOf(spark, tableDir, v), m.idCol, m.contentCols, leaves = 1)
      .collect().headOption.map(r => (r.getLong(1), r.getLong(2)))
      .getOrElse((0L, 0L))
    (d._1 == m.rows && d._2 == m.digest, m.rows, d._1, m.digest, d._2)
  }

  /** COMMIT WITH EXPECTATIONS — the Delta-constraints shape: evaluate a
    * [[graft.operators.Expectations]] rule set against the WOULD-BE
    * snapshot (current version's rows under `append`, just `df` under
    * `overwrite`) BEFORE publishing; any violated rule aborts with the
    * per-rule violation counts and NO version is committed — the
    * data-quality gate sits at the publish boundary, where a 100 TB
    * pipeline wants it (a bad batch never becomes a readable version,
    * so downstream never needs defensive re-validation). Costs one
    * aggregate pass over the checked rows — the same order as the
    * digest pass the publish already pays. */
  def commitChecked(df: DataFrame, tableDir: String, idCol: String,
      contentCols: Seq[String], expectedVersion: Long,
      rules: Seq[graft.operators.Expectations.Rule],
      unique: Seq[String] = Nil,
      mode: String = "overwrite"): Long = {
    val spark = df.sparkSession
    val toCheck =
      if (mode == "append" && currentVersion(spark, tableDir) > 0L)
        read(spark, tableDir).unionByName(df)
      else df
    val report = graft.operators.Expectations.check(toCheck, rules, unique)
      .collect()
    val failed = report.filterNot(_.getAs[Boolean]("pass"))
    if (failed.nonEmpty)
      sys.error(s"commitChecked: ${failed.length} expectation(s) violated on " +
        s"$tableDir — NO version committed: " +
        failed.map(r => s"${r.getAs[String]("rule")} " +
          s"(${r.getAs[Long]("n_violations")}/${r.getAs[Long]("n_rows")} rows)")
          .mkString("; "))
    commit(df, tableDir, idCol, contentCols, expectedVersion, mode)
  }

  /** COMMIT WITH EXPECTATIONS, ZERO-EXTRA-SCAN (round 12): the same
    * publish-boundary gate as [[commitChecked]], but the row-level
    * rules ride the WRITE PASS itself via Spark's `Observation`
    * (`CollectMetrics` — per-partition aggregates merged on the
    * driver as the write job runs), so a gated commit costs exactly
    * what an ungated one does. At 100 TB that is the difference
    * between paying the table scan once or twice per publish.
    *
    * The gate fires inside the optimistic-concurrency window (after
    * the data write, BEFORE the manifest rename): violations abort
    * with per-rule counts, no version is published, and the staged
    * data dir is an unreferenced orphan for [[vacuum]] — the same
    * crash-atomicity story the spec proves for a mid-commit death.
    *
    * Scope, stated: ROW-LEVEL rules over the rows being written —
    * the full snapshot under `overwrite`, the NEW BATCH under
    * `append` (row-level rules are per-row, so a batch-gated append
    * onto a gated table keeps the whole snapshot conformant by
    * induction; a table with ungated history needs [[commitChecked]],
    * which checks the merged snapshot). Uniqueness rules need a
    * distinct aggregate, which `observe` disallows — use
    * [[commitChecked]] for those. */
  def commitCheckedObserved(df: DataFrame, tableDir: String, idCol: String,
      contentCols: Seq[String], expectedVersion: Long,
      rules: Seq[graft.operators.Expectations.Rule],
      mode: String = "overwrite"): Long = {
    require(rules.nonEmpty, "commitCheckedObserved: need at least one rule")
    val obs = org.apache.spark.sql.Observation(
      s"graft-expect-${java.util.UUID.randomUUID.toString.take(8)}")
    val aggs =
      coalesce(org.apache.spark.sql.functions.count(lit(1)), lit(0L)).as("__n") +:
        rules.map(r => coalesce(org.apache.spark.sql.functions.sum(
          org.apache.spark.sql.functions.when(coalesce(r.holds, lit(false)), 0L)
            .otherwise(1L)), lit(0L)).as(s"__v_${r.name}"))
    val instrumented = df.observe(obs, aggs.head, aggs.tail: _*)
    commit(instrumented, tableDir, idCol, contentCols, expectedVersion, mode,
      onBeforePublish = () => {
        // the data write already ran inside commit, so the metrics are
        // final; this abort leaves the staged dir unpublished
        val m = obs.get
        val n = m("__n").asInstanceOf[Long]
        val failed = rules
          .map(r => r.name -> m(s"__v_${r.name}").asInstanceOf[Long])
          .filter(_._2 > 0)
        if (failed.nonEmpty)
          sys.error(s"commitCheckedObserved: ${failed.length} expectation(s) " +
            s"violated on $tableDir — NO version committed (staged dir left " +
            "for vacuum): " +
            failed.map { case (r, v) => s"$r ($v/$n rows)" }.mkString("; "))
      })
  }

  /** ROW-LEVEL DELETE, copy-on-write (the GDPR/right-to-be-forgotten
    * path, Delta's `DELETE WHERE`): rewrite the current version minus
    * the matching rows as a NEW version through the same optimistic
    * publish. History note, stated not hidden: prior versions still
    * contain the deleted rows until [[vacuum]] ages them out — a
    * compliance delete is `deleteWhere` + `vacuum(retain = 1)`, which
    * together physically remove the bytes. Returns (newVersion,
    * rowsDeleted). At 100 TB a production engine rewrites only the
    * FILES containing matches (file-level skipping via min/max stats);
    * dir granularity here keeps the commit-log semantics identical. */
  def deleteWhere(spark: SparkSession, tableDir: String,
      predicate: org.apache.spark.sql.Column): (Long, Long) = {
    val cur = currentVersion(spark, tableDir)
    require(cur >= 1, s"deleteWhere: no committed version under $tableDir")
    val m = readManifest(spark, tableDir, cur)
    val snap = readAsOf(spark, tableDir, cur)
    val kept = snap.filter(!coalesce(predicate, lit(false)))
    val v = commit(kept, tableDir, m.idCol, m.contentCols,
      expectedVersion = cur, mode = "overwrite")
    val deleted = m.rows - readManifest(spark, tableDir, v).rows
    (v, deleted)
  }

  /** KEYED UPSERT, copy-on-write (Delta's `MERGE INTO` core: matched →
    * update, unmatched → insert): the current version's rows are
    * replaced by `updates` where the manifest's id column matches, and
    * the non-matching updates append. One full-outer-free plan — an
    * anti-join keeps the untouched rows, a union adds every update row
    * — committed as a new version. `updates` must carry the table's
    * exact schema: the gate below enforces the append gate's
    * name+type signature against the CURRENT version directly (the
    * commit underneath runs in `overwrite` mode, where the append
    * schema gate never fires — without this check a same-names/
    * different-types updates frame would be silently type-coerced by
    * unionByName and rewrite the table under a drifted schema).
    * Returns the new version. */
  def upsert(updates: DataFrame, tableDir: String): Long = {
    val spark = updates.sparkSession
    val cur = currentVersion(spark, tableDir)
    require(cur >= 1, s"upsert: no committed version under $tableDir")
    val m = readManifest(spark, tableDir, cur)
    val snap = readAsOf(spark, tableDir, cur)
    if (schemaSig(updates.schema) != schemaSig(snap.schema))
      sys.error(s"versioned table $tableDir: upsert schema " +
        s"${updates.schema.simpleString} does not match version v$cur's " +
        s"${snap.schema.simpleString} — unionByName would silently coerce " +
        "and rewrite the table under a drifted schema; evolve the schema " +
        "with an explicit overwrite commit")
    val merged = snap.join(updates.select(col(m.idCol)), Seq(m.idCol), "left_anti")
      .unionByName(updates)
    commit(merged, tableDir, m.idCol, m.contentCols,
      expectedVersion = cur, mode = "overwrite")
  }

  /** CHANGE FEED between two committed versions: every id classified
    * added/removed/changed/unchanged by
    * [[graft.operators.SnapshotDiff]] over the manifest's OWN id and
    * content columns — `readAsOf(a) diff readAsOf(b)` as a one-call
    * API (the CDC read a downstream incremental consumer starts
    * from; q206 is the worked pattern). */
  def changes(spark: SparkSession, tableDir: String,
      fromVersion: Long, toVersion: Long): DataFrame = {
    val m = readManifest(spark, tableDir, toVersion)
    graft.operators.SnapshotDiff.diff(
      readAsOf(spark, tableDir, fromVersion),
      readAsOf(spark, tableDir, toVersion), m.idCol, m.contentCols)
  }

  /** COMPACTION (Delta's OPTIMIZE shape): rewrite the CURRENT version —
    * after N streaming appends it spans N small dirs, and every read
    * pays N× the file-listing/open overhead (the read amplification
    * the LSM majorCompact note describes) — into ONE fresh data dir,
    * committed as a new version through the same optimistic publish
    * path. History is untouched: the compacted version is content-
    * identical (same rows, same digest — asserted against the source
    * manifest before publishing), prior versions still time travel,
    * and the small dirs are reclaimed by [[vacuum]] once they age out
    * of the retention window. `targetPartitions` controls the output
    * file count (a real deployment sizes this to ~1 GiB files).
    * `sortCols` additionally RE-CLUSTERS during the rewrite (the
    * OPTIMIZE ZORDER shape, linearized): range-partition + sort by the
    * given columns so parquet row-group min/max stats turn point/range
    * reads on those columns into row-group skips — the digest is
    * order-insensitive, so re-clustering provably cannot change
    * content. Returns the new version. */
  def compact(spark: SparkSession, tableDir: String,
      targetPartitions: Int = 1, sortCols: Seq[String] = Nil,
      statCols: Seq[String] = Nil, bloomCols: Seq[String] = Nil): Long = {
    require(targetPartitions >= 1,
      s"compact: targetPartitions must be >= 1, got $targetPartitions")
    val cur = currentVersion(spark, tableDir)
    require(cur >= 1, s"compact: no committed version under $tableDir")
    val m = readManifest(spark, tableDir, cur)
    val base = readAsOf(spark, tableDir, cur)
    val snap =
      if (sortCols.isEmpty) base.coalesce(targetPartitions)
      else base.repartitionByRange(targetPartitions, sortCols.map(col): _*)
        .sortWithinPartitions(sortCols.map(col): _*)
    // statCols/bloomCols: the rewrite drops per-dir indexes with the
    // dirs they described; callers that keep point-reading the table
    // re-register them on the compacted dir here (the OPTIMIZE
    // re-index move) — omitted, the read paths degrade to conservative
    // keeps, never to wrong rows
    val v = commit(snap, tableDir, m.idCol, m.contentCols,
      expectedVersion = cur, mode = "overwrite",
      statCols = statCols, bloomCols = bloomCols)
    // content identity gate: the rewrite must carry the EXACT bytes —
    // same (rows, digest) as the version it replaced, or the commit is
    // a corruption, not a compaction (digest is order-insensitive, so
    // the coalesce reshuffle can't trip it)
    val nm = readManifest(spark, tableDir, v)
    if (nm.rows != m.rows || nm.digest != m.digest)
      sys.error(s"compact: rewrite of $tableDir v$cur -> v$v changed content " +
        s"(rows ${m.rows} -> ${nm.rows}, digest ${m.digest} -> ${nm.digest}); " +
        s"v$v is NOT content-identical — treat as corruption and time travel to v$cur")
    v
  }

  /** Z-ORDERED COMPACTION (the two-dimensional OPTIMIZE ZORDER —
    * [[compact]]'s `sortCols` linearizes one dimension; this one
    * routes the rewrite through [[graft.operators.Layout.zOrdered]]:
    * min/max-scaled Morton interleave of two columns, contiguous
    * z-ranges per output file, so parquet min/max footers bound BOTH
    * columns tightly and point/range reads on EITHER column skip
    * row groups — q85/LayoutSpec measure the skipping). Same content-
    * identity digest gate as compact: re-clustering provably cannot
    * change the data. Returns the new version. */
  def compactZOrdered(spark: SparkSession, tableDir: String,
      colA: String, colB: String, targetPartitions: Int = 1,
      bits: Int = 21): Long = {
    require(targetPartitions >= 1,
      s"compactZOrdered: targetPartitions must be >= 1, got $targetPartitions")
    val cur = currentVersion(spark, tableDir)
    require(cur >= 1, s"compactZOrdered: no committed version under $tableDir")
    val m = readManifest(spark, tableDir, cur)
    val snap = graft.operators.Layout.zOrdered(
      readAsOf(spark, tableDir, cur), colA, colB, targetPartitions, bits)
    val v = commit(snap, tableDir, m.idCol, m.contentCols,
      expectedVersion = cur, mode = "overwrite")
    val nm = readManifest(spark, tableDir, v)
    if (nm.rows != m.rows || nm.digest != m.digest)
      sys.error(s"compactZOrdered: rewrite of $tableDir v$cur -> v$v changed " +
        s"content (rows ${m.rows} -> ${nm.rows}, digest ${m.digest} -> " +
        s"${nm.digest}) — treat as corruption and time travel to v$cur")
    v
  }

  /** Default vacuum grace for unreferenced data dirs: 6 hours — long
    * enough that no realistic commit's write-digest-publish window is
    * still open (Delta's default retention serves the same race). */
  val DefaultVacuumGraceMs: Long = 6L * 3600 * 1000

  /** Retain the newest `retain` versions; delete (checked) every data
    * dir referenced by NO retained manifest — including orphan dirs
    * staged by concurrency losers — then drop the expired manifests
    * themselves, so an out-of-horizon readAsOf fails loudly as
    * "vacuumed" instead of reading a partially-deleted version.
    * Returns (dataDirsDeleted, manifestsDeleted). Order matters:
    * data first, manifests second — if a data delete fails midway the
    * expired manifests still exist and name exactly what a retry must
    * reclaim.
    *
    * CONCURRENT-WRITER SAFETY (round-12 advice closure): an in-flight
    * commit has written its data dir but not yet renamed its manifest
    * — during that window (the data write, the digest pass, the
    * expectation checks) the dir is indistinguishable from a loser's
    * orphan by reference-counting alone. Reclaiming it would let the
    * writer's rename still SUCCEED and publish a committed version
    * pointing at deleted data — silent loss surfaced only at read
    * time. So an unreferenced dir is only deleted once its
    * modification time is older than `orphanGraceMs` (default 6 h),
    * bounding how long any commit attempt may take — the same
    * modification-time retention cutoff Delta's VACUUM uses. A dir
    * younger than the grace is simply left for the next vacuum. Pass
    * `orphanGraceMs = 0` only where no concurrent writer can exist
    * (tests, single-writer maintenance windows). */
  def vacuum(spark: SparkSession, tableDir: String, retain: Int,
      orphanGraceMs: Long = DefaultVacuumGraceMs): (Int, Int) = {
    require(retain >= 1, s"vacuum: retain must be >= 1, got $retain")
    require(orphanGraceMs >= 0, s"vacuum: orphanGraceMs must be >= 0, got $orphanGraceMs")
    val root = new Path(tableDir)
    val fs = fsOf(spark, root)
    val vs = versions(spark, tableDir)
    if (vs.isEmpty) return (0, 0)
    val keep = vs.takeRight(retain).toSet
    val referenced: Set[String] =
      keep.flatMap(v => readManifest(spark, tableDir, v).dirs)
    val cutoff = System.currentTimeMillis() - orphanGraceMs
    val dataRoot = new Path(root, DataDir)
    val deadDirs =
      if (!fs.exists(dataRoot)) Seq.empty
      else fs.listStatus(dataRoot).toSeq.filter(_.isDirectory)
        .filterNot(s => referenced.contains(s"$DataDir/${s.getPath.getName}"))
        .filter(_.getModificationTime <= cutoff)
    deadDirs.foreach { s =>
      if (!fs.delete(s.getPath, true))
        throw new java.io.IOException(
          s"vacuum: failed to delete unreferenced data dir ${s.getPath}")
    }
    val deadManifests = vs.filterNot(keep)
    deadManifests.foreach { v =>
      val p = commitPath(root, v)
      if (!fs.delete(p, false))
        throw new java.io.IOException(s"vacuum: failed to delete expired manifest $p")
    }
    (deadDirs.size, deadManifests.size)
  }
}
