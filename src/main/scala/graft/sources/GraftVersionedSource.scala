package graft.sources

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsDelete, SupportsRead, SupportsRowLevelOperations, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo, SupportsTruncate, V1Write, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.sources.{AlwaysFalse, AlwaysTrue, And, DataSourceRegister, EqualNullSafe, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, InsertableRelation, IsNotNull, IsNull, LessThan, LessThanOrEqual, Not, Or, StringContains, StringEndsWith, StringStartsWith}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 front door for [[VersionedTable]] — the lakehouse's
  * plain-SQL surface (round-13, the q210 move applied to the
  * versioned table):
  *
  * {{{
  * spark.read.format("graft-versioned")
  *   .option("versionAsOf", 3)          // or timestampAsOf = epoch ms
  *   .load(tableDir)
  *   .filter($"doc_id".isin(9, 33, 63)) // bloom/stat dirs pruned at plan time
  * }}}
  *
  * resolves through the SAME manifest chain as the Scala API
  * ([[VersionedTable.resolveVersion]]), so SQL and Scala can never
  * read different snapshots for the same options. It is the ONE place
  * the manifest's data skipping lives: ordinary filters, written on
  * the raw column with literals of the column's type, prune dirs (a
  * cast around the column does not push down — rows stay exact,
  * nothing is pruned):
  *
  *  - **id range/point pruning**: `=`, `IN`, `<`, `<=`, `>`, `>=` on
  *    the table's id column intersect against the manifest's per-dir
  *    id min/max (the Delta checkpoint-stats recipe).
  *  - **string-stat equality pruning**: `=`/`IN` on a `statCols`
  *    column checks the per-dir lexicographic band.
  *  - **bloom point pruning**: `=`/`IN` on a `bloomCols` column probes
  *    the per-dir bloom (md5-sliced positions — the same digest the
  *    commit computed, [[VersionedTable.bloomPositions]]).
  *
  * Every filter is also RETURNED as residual from `pushFilters`, so
  * Spark re-applies it row-level: pruning is an access-path hint,
  * never the correctness carrier (a dir without stats/bloom for the
  * column is conservatively kept — the [[VersionedTable]] contract,
  * verbatim). Column pruning pushes the projection into the parquet
  * readers (`SupportsPushDownRequiredColumns`), and the scan reports
  * kept-file byte statistics so a pruned fixture joined against a big
  * table broadcasts.
  *
  * Schema-evolution (merge-read) chains work by construction: each
  * partition reader emits the snapshot's UNION schema and NULL-fills
  * fields its file predates, so pruning to pre-evolution dirs (or to
  * none) never changes the result's shape.
  *
  * Supported column types are the versioned table's committed shapes:
  * flat BOOLEAN/INT/BIGINT/FLOAT/DOUBLE/STRING/BINARY columns
  * (everything the declared fixtures and queries commit). A chain
  * whose schema falls outside that is rejected LOUDLY at resolution
  * time — never a silently wrong scan.
  *
  * Scale shape: one input partition per data FILE, size-binned like
  * the WARC connector is not needed here because the commit path
  * already controls file sizes (one dir per commit, files from the
  * writing job's partitioning); at 1000 executors the per-file
  * partitions ARE the parallelism, and dir pruning removes whole
  * commits from the scan before a single task launches.
  */
class GraftVersionedSource extends TableProvider with DataSourceRegister {
  // VERSION PIN (ADVICE r13): inferSchema and getTable are two separate
  // driver calls; without a pin, a commit landing between them would
  // make the scan read a NEWER snapshot than the one the schema was
  // inferred from (a schema-evolved column silently absent). The first
  // resolution per (path, versionAsOf, timestampAsOf) option set is
  // cached on this provider instance — Spark constructs a fresh
  // provider per read, so the pin's lifetime is one resolution, which
  // is exactly the window that needs the consistency.
  //
  // The pin also covers the EMPTY→FIRST-COMMIT race (ADVICE r14): the
  // "no versions yet" decision is itself part of the resolution — if
  // inferSchema saw an empty chain (and returned the create-on-first-
  // write placeholder schema), getTable must take the empty branch too,
  // even when a first commit landed between the two calls; otherwise
  // the scan would pair the empty placeholder schema with a manifest
  // and return rows with zero columns. Sentinel -1 = "no versions at
  // resolution time".
  private val EmptyChain = -1L
  @volatile private var pinned: Map[String, Long] = Map.empty
  private def pinKey(path: String, options: CaseInsensitiveStringMap): String =
    path + "|" + Option(options.get("versionAsOf")).getOrElse("") +
      "|" + Option(options.get("timestampAsOf")).getOrElse("")
  private def pinnedVersion(spark: SparkSession, path: String,
      options: CaseInsensitiveStringMap): Long = {
    val key = pinKey(path, options)
    pinned.getOrElse(key, {
      val v =
        if (VersionedTable.versions(spark, path).isEmpty) EmptyChain
        else GraftVersionedSource.resolvedVersion(spark, path, options)
      pinned += key -> v
      v
    })
  }

  override def shortName(): String = "graft-versioned"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val spark = SparkSession.active
    val path = Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException("graft-versioned: .load(<tableDir>) is required"))
    GraftVersionedSource.metadataKind(options) match {
      case Some(kind) => VersionedTable.metadataSchema(kind)
      case None =>
        val v = pinnedVersion(spark, path, options)
        if (v == EmptyChain)
          // no commits yet at resolution time: an EMPTY schema enables
          // create-on-first-write (the write path takes the data schema;
          // ACCEPT_ANY_SCHEMA skips output resolution against this
          // placeholder) — a READ of the empty table still fails loudly
          // in newScanBuilder
          new StructType()
        else {
          val schema = VersionedTable.readAsOf(spark, path, v).schema
          schema.fields.foreach { f =>
            require(GraftVersionedSource.supported(f.dataType),
              s"graft-versioned: unsupported column type ${f.dataType.simpleString} " +
                s"for '${f.name}' — the connector reads the flat schemas the " +
                "versioned table commits (boolean/int/bigint/float/double/string/" +
                "binary/date/timestamp/timestamp_ntz/decimal)")
          }
          schema
        }
    }
  }
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table = {
    val spark = SparkSession.active
    val path = Option(properties.get("path")).getOrElse(
      throw new IllegalArgumentException("graft-versioned: .load(<tableDir>) is required"))
    val opts = new CaseInsensitiveStringMap(properties)
    GraftVersionedSource.metadataKind(opts) match {
      case Some(kind) =>
        val v = pinnedVersion(spark, path, opts)
        new GraftVersionedMetadataTable(path, kind, v)
      case None =>
        // reuse the schema-time resolution (the pin) for BOTH the
        // empty-chain decision and the version: schema and scan always
        // address the same snapshot, even when a first commit lands
        // between the two driver calls
        val v = pinnedVersion(spark, path, opts)
        if (v == EmptyChain)
          new GraftVersionedTable(path, 0L, None, schema)
        else
          new GraftVersionedTable(path, v,
            Some(VersionedTable.readManifest(spark, path, v)), schema)
    }
  }
  override def supportsExternalMetadata(): Boolean = false
}

object GraftVersionedSource {
  private[sources] def resolvedVersion(spark: SparkSession, path: String,
      options: CaseInsensitiveStringMap): Long =
    VersionedTable.resolveVersion(spark, path,
      Option(options.get("versionAsOf")).map(_.toLong),
      Option(options.get("timestampAsOf")).map(_.toLong))

  private[sources] def metadataKind(options: CaseInsensitiveStringMap): Option[String] =
    Option(options.get("metadata")).map { k =>
      require(k == "history" || k == "files",
        s"graft-versioned: unknown metadata table '$k' — supported: history, files")
      k
    }

  /** Column types the connector surfaces carry (round 15 widened the
    * set to date/timestamp/decimal — the events-fixture shapes): both
    * readers are Spark's own `VectorizedParquetRecordReader` with
    * rebase modes pinned CORRECTED, which is sound because every write
    * surface produces proleptic-Gregorian files — the staging writers
    * set `datetimeRebaseModeInWrite=CORRECTED` explicitly and
    * [[VersionedTable.commit]]'s native write runs under Spark 4's
    * default EXCEPTION mode (a legacy-calendar value fails the write
    * instead of landing ambiguous bytes). Nested types stay rejected
    * loudly. */
  private[sources] def supported(dt: DataType): Boolean = dt match {
    case BooleanType | IntegerType | LongType | FloatType | DoubleType |
         StringType | BinaryType | DateType | TimestampType |
         TimestampNTZType => true
    case _: DecimalType => true
    case _ => false
  }

  /** V1 Filter → Column, for `DELETE FROM` conditions (None = a shape
    * this translation doesn't carry — canDeleteWhere then refuses and
    * the caller falls back to the Scala API). */
  private[sources] def filterToColumn(f: Filter): Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.{col, lit}
    f match {
      // a bare `DELETE FROM t` (no WHERE) arrives as the true-literal
      // condition → AlwaysTrue (ADVICE r14): full-table delete is a
      // legal shape, not an untranslatable predicate
      case AlwaysTrue() => Some(lit(true))
      case AlwaysFalse() => Some(lit(false))
      case EqualTo(c, v) => Some(col(c) === lit(v))
      case EqualNullSafe(c, v) => Some(col(c) <=> lit(v))
      case GreaterThan(c, v) => Some(col(c) > lit(v))
      case GreaterThanOrEqual(c, v) => Some(col(c) >= lit(v))
      case LessThan(c, v) => Some(col(c) < lit(v))
      case LessThanOrEqual(c, v) => Some(col(c) <= lit(v))
      case In(c, vs) => Some(col(c).isin(vs.toIndexedSeq.map(lit(_)): _*))
      case IsNull(c) => Some(col(c).isNull)
      case IsNotNull(c) => Some(col(c).isNotNull)
      case StringStartsWith(c, v) => Some(col(c).startsWith(v))
      case StringEndsWith(c, v) => Some(col(c).endsWith(v))
      case StringContains(c, v) => Some(col(c).contains(v))
      case And(l, r) => for (a <- filterToColumn(l); b <- filterToColumn(r)) yield a && b
      case Or(l, r) => for (a <- filterToColumn(l); b <- filterToColumn(r)) yield a || b
      case Not(x) => filterToColumn(x).map(!_)
      case _ => None
    }
  }
}

class GraftVersionedTable(path: String, version: Long,
    m: Option[VersionedTable.Manifest], tableSchema: StructType,
    declared: Option[(StructType, String)] = None,
    acceptAnySchema: Boolean = true,
    checks: Seq[(String, String)] = Nil)
    extends Table with SupportsRead with SupportsWrite with SupportsDelete
    with SupportsRowLevelOperations
    with org.apache.spark.sql.connector.catalog.TruncatableTable
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {

  /** CHECK constraints the catalog recorded for this table (name +
    * predicate SQL) — reported back through Spark's constraint surface;
    * `ResolveTableConstraints` turns each into a `CheckInvariant` over
    * every catalog write, so enforcement is the ENGINE's, byte-exact
    * with Delta's invariant semantics (the statement fails before a
    * violating row can commit). Path-based loads carry none — the
    * constraint surface is a catalog feature. */
  override def constraints(): Array[org.apache.spark.sql.connector.catalog.constraints.Constraint] =
    checks.map { case (n, sql) =>
      org.apache.spark.sql.connector.catalog.constraints.Constraint.check(n)
        .predicateSql(sql)
        .enforced(true)
        .asInstanceOf[org.apache.spark.sql.connector.catalog.constraints.Check.Builder]
        .build(): org.apache.spark.sql.connector.catalog.constraints.Constraint
    }.toArray
  override def name(): String = s"graft_versioned(`$path`@v$version)"
  override def schema(): StructType = tableSchema
  // ACCEPT_ANY_SCHEMA is advertised PER SURFACE (round 15):
  //  - the PATH-based provider keeps it — a create-on-first-write (empty
  //    placeholder schema) could never resolve without it, and the
  //    V1Write bridge then does Delta's job (by-name resolution,
  //    col1..colN literal frames, the allowSchemaEvolution /
  //    overwriteSchema options);
  //  - the CATALOG drops it — a CREATE TABLE always declares a real
  //    schema, so the ANALYZER's standard output resolution (positional
  //    SQL INSERT, safe casts, arity errors) is strictly better, and —
  //    decisive — Spark's MERGE/UPDATE resolution SKIPS any target whose
  //    relation has `skipSchemaResolution` (= this capability), a hook
  //    left for Delta-style engines that ship their own resolution
  //    rules. Dropping it is what makes `MERGE INTO`/`UPDATE` resolve
  //    at all on catalog tables.
  override def capabilities(): java.util.Set[TableCapability] = {
    val base = Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.V1_BATCH_WRITE,
      TableCapability.STREAMING_WRITE, TableCapability.TRUNCATE)
    (if (acceptAnySchema) base + TableCapability.ACCEPT_ANY_SCHEMA
    // catalog tables additionally opt into MERGE WITH SCHEMA EVOLUTION:
    // the engine lowers the evolution onto this catalog's ALTER TABLE
    // ADD COLUMN (the zero-row evolving append) before rewriting
     else base + TableCapability.AUTOMATIC_SCHEMA_EVOLUTION).asJava
  }
  /** ROW-PROVENANCE METADATA COLUMNS (round 15 — the Iceberg `_file`
    * move, at this table's dir granularity): `_graft_dir` is the commit
    * data dir a row was read from and `_graft_version` the version that
    * INTRODUCED that dir — `SELECT *, _graft_version FROM t` answers
    * "which commit holds this row" (incremental consumers, GDPR audits,
    * compaction debugging) without any join. Served as per-chunk
    * constants by the readers — zero per-row cost; a table column of
    * the same name hides the metadata column (Spark's conflict rule). */
  override def metadataColumns(): Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(
      GraftVersionedTable.metaCol("_graft_dir", StringType),
      GraftVersionedTable.metaCol("_graft_version", LongType))

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    m match {
      case Some(manifest) =>
        new GraftVersionedScanBuilder(path, manifest, tableSchema,
          Option(options.get("startingVersion")).map(_.toLong),
          Option(options.get("ignoreChanges")).exists(_.toBoolean),
          version)
      case None if tableSchema.nonEmpty =>
        // CREATE TABLE declared, never written: standard SQL reads it as
        // zero rows of the declared schema
        new GraftVersionedEmptyScanBuilder(path, tableSchema)
      case None => sys.error(
        s"graft-versioned: $path has no committed versions — nothing to read " +
          "(write first, or check the path)")
    }
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new GraftVersionedWriteBuilder(path, info, declared)

  /** SQL `DELETE FROM <catalog>.<ns>.<t> WHERE …` — lowers onto
    * [[VersionedTable.deleteWhere]]'s copy-on-write rewrite (a NEW
    * version minus the matching rows through the same optimistic
    * publish; history still time-travels, vacuum ages the bytes out —
    * the GDPR story stays the library one). A condition this V1-filter
    * translation can't carry is REFUSED in canDeleteWhere, so Spark
    * errors loudly instead of deleting the wrong rows. */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    filters.forall(GraftVersionedSource.filterToColumn(_).nonEmpty)
  override def deleteWhere(filters: Array[Filter]): Unit = {
    val spark = SparkSession.active
    val pred = filters.toSeq.flatMap(GraftVersionedSource.filterToColumn)
      .reduceOption(_ && _)
      .getOrElse(org.apache.spark.sql.functions.lit(true))
    VersionedTable.deleteWhere(spark, path, pred): Unit
  }

  /** SQL `TRUNCATE TABLE` (round 15): a copy-on-write EMPTY version
    * through [[VersionedTable.deleteWhere]] — the table reads empty,
    * prior snapshots still time-travel, vacuum ages the bytes out (the
    * same non-purge semantics as DELETE; a metadata-only truncate that
    * dropped the commit log would destroy history). Truncating a
    * never-written table is a no-op. */
  override def truncateTable(): Boolean = {
    if (VersionedTable.currentVersion(SparkSession.active, path) == 0L) true
    else {
      VersionedTable.deleteWhere(SparkSession.active, path,
        org.apache.spark.sql.functions.lit(true))
      true
    }
  }

  /** SQL `MERGE INTO` / `UPDATE … SET` / rewrite-DELETE (round-15
    * verdict tasks 2–3): group-based COPY-ON-WRITE row-level
    * operations. The operation's scan is the table's ordinary pruned
    * scan; with no runtime group filtering declared, Spark's rewrite
    * (`RewriteMergeIntoTable` / `RewriteUpdateTable` /
    * `RewriteDeleteFromTable`) treats the WHOLE TABLE as the affected
    * group and hands the write the COMPLETE post-operation row set —
    * exactly the granularity [[VersionedTable.deleteWhere]]'s dir-level
    * copy-on-write already commits at, so the write lowers onto one
    * `overwrite` commit through the same optimistic publish. The
    * expected base version is the snapshot the scan read (pinned at
    * load): a concurrent commit between scan and publish loses with
    * [[java.util.ConcurrentModificationException]], never silently
    * merges over changed data. DELETE keeps its cheaper metadata path
    * (`OptimizeMetadataOnlyDeleteFromTable` → [[deleteWhere]]) whenever
    * the predicate translates; untranslatable predicates — which the
    * r14 surface refused loudly — now take this rewrite. */
  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder =
    new RowLevelOperationBuilder {
      override def build(): RowLevelOperation =
        new GraftRowLevelOperation(path, version, m, tableSchema, declared,
          info.command)
    }
}

object GraftVersionedTable {
  val MetaColNames: Set[String] = Set("_graft_dir", "_graft_version")
  private[sources] def metaCol(colName: String, dt: DataType)
      : org.apache.spark.sql.connector.catalog.MetadataColumn =
    new org.apache.spark.sql.connector.catalog.MetadataColumn {
      override def name(): String = colName
      override def dataType(): DataType = dt
      override def isNullable: Boolean = false
    }
}

/** One copy-on-write row-level operation over a pinned base snapshot
  * (see [[GraftVersionedTable.newRowLevelOperationBuilder]]). */
class GraftRowLevelOperation(path: String, baseVersion: Long,
    m: Option[VersionedTable.Manifest], tableSchema: StructType,
    declared: Option[(StructType, String)],
    cmd: RowLevelOperation.Command) extends RowLevelOperation {
  // every scan built through this operation: the MAIN rewrite scan
  // (runtime-filtered when the group-filter rule fires) and, when it
  // does fire, the matching-rows subquery's scan. The commit asks for
  // the runtime-filtered one — its final dir set IS the replaced-group
  // set; with no runtime filter, the single scan's (statically pruned)
  // set is the answer, and with no scan at all every base dir is.
  private val builtScans =
    java.util.Collections.synchronizedList(
      new java.util.ArrayList[GraftVersionedScan]())
  private[sources] def replacedDirs: Option[Seq[String]] = {
    val scans = builtScans.asScala.toSeq
    scans.find(_.runtimeFiltered).orElse(scans.headOption).map(_.finalDirs)
  }

  override def command(): RowLevelOperation.Command = cmd
  override def description(): String =
    s"graft-versioned $cmd (copy-on-write, base v$baseVersion)"
  /** `_graft_dir` rides along in the rewrite plan (the Iceberg `_file`
    * shape): the runtime group-filter rule resolves its filter
    * attribute against the rewrite scan's OUTPUT, so the provenance
    * column must be part of it — and declaring it also routes the
    * write through Spark's metadata-projecting task, which hands the
    * writer cleanly-projected rows (the metadata itself is not needed
    * at write time; the replaced-dir set comes from the scan). */
  override def requiredMetadataAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    if (m.nonEmpty)
      Array(org.apache.spark.sql.connector.expressions.Expressions
        .column("_graft_dir"))
    else Array.empty
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    m match {
      case Some(manifest) =>
        new GraftVersionedScanBuilder(path, manifest, tableSchema,
          version = baseVersion, runtimeFilterable = true,
          onBuild = s => { builtScans.add(s): Unit })
      case None =>
        // declared, never written: MERGE INTO an empty table is legal
        // (every source row is not-matched ⇒ insert-all)
        new GraftVersionedEmptyScanBuilder(path, tableSchema)
    }
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite =
          new GraftVersionedBatchWrite(path, info.schema(), baseVersion,
            m, declared, () => replacedDirs)
      }
    }
}

/** V2 BATCH WRITE for row-level operations (`ReplaceDataExec` requires
  * a genuine `BatchWrite` — Spark's V1 fallback bridge only covers
  * append/overwrite-by-expression): executors stage each task's rows as
  * parquet under `data/rlo-<uid>` via the same
  * [[GraftStagedParquetWriter]] the streaming sink uses, and the
  * driver's `commit` keeps exactly the COMMITTED tasks' files, then
  * publishes the staged dir as one `overwrite` version through
  * [[VersionedTable.publishStagedDir]] — digest accounting, optimistic
  * concurrency (against the operation's pinned base version), the
  * works. An operation whose result is EMPTY (e.g. a MERGE whose only
  * clause deletes every matched row and nothing else survives) still
  * commits: an all-NULL-task plan stages schema-carrying zero-row
  * files, and a zero-task plan (AQE can collapse an empty child to no
  * partitions) publishes an explicitly-written empty dir. */
class GraftVersionedBatchWrite(path: String, schema: StructType,
    baseVersion: Long, standing: Option[VersionedTable.Manifest],
    declared: Option[(StructType, String)],
    replacedDirsOf: () => Option[Seq[String]] = () => None) extends BatchWrite {
  schema.fields.foreach { f =>
    require(GraftVersionedSource.supported(f.dataType),
      s"graft-versioned row-level write: unsupported column type " +
        s"${f.dataType.simpleString} for '${f.name}'")
  }
  private val stagedRel =
    f"data/rlo-${java.util.UUID.randomUUID.toString.take(8)}"

  override def createBatchWriterFactory(pi: PhysicalWriteInfo): DataWriterFactory =
    new GraftVersionedBatchWriterFactory(path, stagedRel, schema,
      new SerializableHadoopConf(graft.operators.InvertedIndex.activeHadoopConf()))

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val fs = new HPath(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stagedPath = new HPath(new HPath(path), stagedRel)
    // keep exactly the committed tasks' files: a failed attempt's
    // orphan must never enter the digest (the streaming sink's rule)
    val committed = messages.collect {
      case m: GraftStreamFileMessage => m.fileName
    }.toSet
    if (fs.exists(stagedPath))
      fs.listStatus(stagedPath).foreach { s =>
        if (s.isFile && !committed(s.getPath.getName))
          fs.delete(s.getPath, false): Unit
      }
    if (committed.isEmpty)
      // zero-task plan: the post-operation table is empty — publish an
      // explicitly-written empty dir so the snapshot still carries the
      // schema (readAsOf resolves it from the parquet footer)
      spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        schema).repartition(1).write.mode("overwrite").parquet(stagedPath.toString)
    val idCol = standing.map(_.idCol)
      .orElse(declared.map(_._2))
      .getOrElse(sys.error(s"graft-versioned row-level write: $path has no " +
        "standing manifest and no declared idCol"))
    val contentCols = standing.map(_.contentCols)
      .getOrElse(schema.fieldNames.filterNot(_ == idCol).toSeq)
    // PARTIAL copy-on-write (round 15): the replaced-group set is
    // exactly the dirs the operation's scan READ. Mapping, in order:
    //  - scan read a strict subset (the runtime group filter fired and
    //    narrowed) → mode "replace": the staged dir supplants only
    //    those dirs, every other standing dir survives untouched;
    //  - scan read NOTHING and nothing was staged → a no-match
    //    UPDATE/DELETE: publish NO version (skipping is the only honest
    //    no-op — an overwrite here would drop the table);
    //  - scan read NOTHING but rows were staged → an insert-only MERGE:
    //    a plain APPEND, no rewrite at all;
    //  - scan read everything / no scan info → plain overwrite (the
    //    conservative fallback, also cheaper than a full-set replace —
    //    no removed-dir re-digest).
    val stagedRows = messages.collect {
      case m: GraftStreamFileMessage => m.rows
    }.sum
    val replaced: Option[Set[String]] =
      if (standing.isEmpty) None
      else replacedDirsOf().map(_.toSet)
    val allDirs = standing.map(_.dirs.toSet).getOrElse(Set.empty)
    replaced match {
      case Some(r) if r.isEmpty && stagedRows == 0L =>
        // true no-op: no version published, staging reclaimed
        if (fs.exists(stagedPath)) fs.delete(stagedPath, true): Unit
      case Some(r) if r.isEmpty =>
        VersionedTable.publishStagedDir(spark, path, stagedRel, idCol,
          contentCols, expectedVersion = baseVersion, mode = "append"): Unit
      case Some(r) if r != allDirs =>
        VersionedTable.publishStagedDir(spark, path, stagedRel, idCol,
          contentCols, expectedVersion = baseVersion, mode = "replace",
          removedDirs = standing.get.dirs.filter(r)): Unit
      case _ =>
        VersionedTable.publishStagedDir(spark, path, stagedRel, idCol,
          contentCols, expectedVersion = baseVersion, mode = "overwrite"): Unit
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val fs = new HPath(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stagedPath = new HPath(new HPath(path), stagedRel)
    // best-effort: anything missed is an unreferenced dir for vacuum
    try { if (fs.exists(stagedPath)) fs.delete(stagedPath, true): Unit }
    catch { case _: java.io.IOException => () }
  }
}

/** Batch flavor of the staged parquet writer factory: same executor-side
  * writer as the streaming sink, fixed staging dir instead of per-epoch.
  *
  * ROW-OPERATION MARKER: Spark's group-based UPDATE/MERGE rewrites emit
  * each replacement row PREFIXED with an `__row_operation` int at
  * ordinal 0 (`RowDeltaUtils`; the rewrite's own projecting task reads
  * `row.getInt(0)`), and the engine strips it for the connector ONLY on
  * the `DataAndMetadataWritingSparkTask` path — which it takes just
  * when the operation declared `requiredMetadataAttributes` (Iceberg
  * always does; `ReplaceDataExec.writingTask` in
  * `WriteToDataSourceV2Exec.scala` falls back to the non-projecting
  * task otherwise). This table declares none, so the writer does the
  * ordinal-0 strip itself: a row arriving exactly schema-arity (the
  * DELETE rewrite's shape — a pure filter emits no marker) writes
  * as-is; schema-arity+1 projects the marker off; anything else is a
  * loud contract error, never a silently misaligned parquet. */
class GraftVersionedBatchWriterFactory(path: String, stagedRel: String,
    schema: StructType, confCarrier: SerializableHadoopConf)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] = {
    val inner = GraftStagedParquetWriter.create(path, stagedRel,
      f"part-$partitionId%05d-$taskId.parquet", schema, confCarrier.value)
    new DataWriter[InternalRow] {
      private val proj = org.apache.spark.sql.catalyst.ProjectingInternalRow(
        schema, (1 to schema.length).toIndexedSeq)
      override def write(row: InternalRow): Unit =
        if (row.numFields == schema.length) inner.write(row)
        else {
          require(row.numFields == schema.length + 1,
            s"graft-versioned row-level write: got a ${row.numFields}-field row " +
              s"for a ${schema.length}-column table — expected the row columns, " +
              "optionally prefixed by the __row_operation marker")
          proj.project(row)
          inner.write(proj)
        }
      /** The metadata-projecting task's surface (operations declaring
        * `requiredMetadataAttributes`): the record is already projected
        * to the row schema; the metadata (provenance) is plan-side
        * information this writer doesn't need. */
      override def write(metadata: InternalRow, record: InternalRow): Unit =
        inner.write(record)
      override def commit(): WriterCommitMessage = inner.commit()
      override def abort(): Unit = inner.abort()
      override def close(): Unit = inner.close()
    }
  }
}

/** SQL-NATIVE WRITE PATH (round-14 verdict task 2): routes
  * `df.write.format("graft-versioned").mode("append"|"overwrite")
  * .save(tableDir)` through the SAME commit protocol as the Scala API
  * ([[VersionedTable.commit]]) — optimistic concurrency, digest
  * accounting, stats/bloom registration, append schema gate — via
  * Spark's V1Write bridge (`V1_BATCH_WRITE`): the commit protocol is a
  * whole-DataFrame publish (write dir → digest → stage manifest →
  * rename), so the InsertableRelation surface that hands the planner's
  * DataFrame to the driver IS the right granularity; per-row
  * DataWriters would have to reassemble exactly this.
  *
  * Options (all optional on an existing table):
  *  - `idCol` — manifest id column; default: the standing manifest's.
  *    REQUIRED on first write (table creation).
  *  - `contentCols` — comma-separated digest columns; default: the
  *    standing manifest's (creation default: every non-id column).
  *  - `expectedVersion` — the optimistic-concurrency base; default:
  *    the table's current version at insert time. Pass explicitly to
  *    surface the loser path through SQL (a stale writer raises
  *    [[java.util.ConcurrentModificationException]]).
  *  - `statCols`, `bloomCols` — comma-separated index registrations,
  *    same as the Scala API.
  *  - `allowSchemaEvolution` — append may ADD columns (merge-read).
  *  - `byPosition` — resolve a name-mismatched same-arity df.write
  *    positionally (SQL-VALUES literal frames named col1..colN resolve
  *    positionally without it; anything else must match by name).
  *
  * `mode("overwrite")` arrives as the truncate() call (Spark's
  * OverwriteByExpression with the always-true filter) and maps to the
  * commit's `overwrite` mode; `mode("append")` maps to `append`. */
class GraftVersionedWriteBuilder(path: String, info: LogicalWriteInfo,
    declared: Option[(StructType, String)] = None)
    extends WriteBuilder with SupportsTruncate {
  private var overwrite = false
  override def truncate(): WriteBuilder = { overwrite = true; this }
  override def build(): Write = new V1Write {
    /** `ds.writeStream.format("graft-versioned")` — the NATIVE
      * streaming sink (outputMode append → one append commit per
      * micro-batch; outputMode complete arrives via truncate() → one
      * overwrite commit per micro-batch, the aggregate-snapshot
      * shape). See [[GraftVersionedStreamingWrite]]. */
    override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite =
      new GraftVersionedStreamingWrite(path, info, declared, overwrite)
    override def toInsertableRelation: InsertableRelation =
      new InsertableRelation {
        override def insert(data: org.apache.spark.sql.DataFrame,
            ignored: Boolean): Unit = {
          val opts = info.options()
          val spark = data.sparkSession
          val cur = VersionedTable.currentVersion(spark, path)
          val standing: Option[VersionedTable.Manifest] =
            if (cur > 0) Some(VersionedTable.readManifest(spark, path, cur)) else None
          // OUTPUT RESOLUTION (ACCEPT_ANY_SCHEMA means the analyzer
          // skipped it, so the bridge does Delta's job here): against
          // the KNOWN target schema (standing version, or the CREATE
          // TABLE declaration), resolve BY NAME when the incoming
          // column-name set matches (a df.write with reordered columns
          // maps by name, never silently by position), else BY POSITION
          // when the column count matches (SQL `INSERT INTO … VALUES/
          // SELECT` semantics — literal frames arrive as col1, col2,
          // …), casting to the target types (ANSI: a narrowing cast
          // that loses data throws, never corrupts). Any other shape
          // passes through to the commit protocol's own gates
          // (schema evolution's extra columns included).
          import org.apache.spark.sql.functions.col
          val target: Option[StructType] =
            (if (cur > 0) Some(VersionedTable.readAsOf(spark, path, cur).schema)
             else None).orElse(declared.map(_._1))
          // a SCHEMA-CHANGING overwrite (Delta's overwriteSchema option):
          // skip resolution entirely — the incoming frame's schema re-bases
          // the table, exactly as the Scala API's overwrite commit does
          val overwriteSchema = overwrite &&
            Option(opts.get("overwriteSchema")).exists(_.toBoolean)
          // POSITIONAL resolution is restricted (ADVICE r14) to frames
          // whose column names are provably auto-generated — SQL
          // `INSERT INTO … VALUES` literals arrive as col1..colN — or
          // to an explicit `byPosition` opt-in. ACCEPT_ANY_SCHEMA makes
          // SQL INSERT and df.write indistinguishable here, so an
          // unrestricted count-match fallback would silently remap a
          // df.write whose same-typed columns are merely misnamed
          // (swapped/renamed) — Delta fails that write by name, and so
          // does this bridge now: the unmatched frame falls through to
          // the commit protocol's schema gate, which errors loudly.
          def autoNamed(cols: Array[String]): Boolean =
            cols.zipWithIndex.forall { case (n, i) => n.equalsIgnoreCase(s"col${i + 1}") }
          val byPosition = Option(opts.get("byPosition")).exists(_.toBoolean)
          val adapted = if (overwriteSchema) data else target match {
            case Some(ts) if data.columns.toSet == ts.fieldNames.toSet =>
              data.select(ts.fields.toSeq.map(f =>
                col(f.name).cast(f.dataType).as(f.name)): _*)
            case Some(ts) if data.columns.length == ts.length &&
                (autoNamed(data.columns) || byPosition) &&
                !Option(opts.get("allowSchemaEvolution")).exists(_.toBoolean) =>
              data.toDF(ts.fieldNames.toSeq: _*)
                .select(ts.fields.toSeq.map(f =>
                  col(f.name).cast(f.dataType).as(f.name)): _*)
            case _ => data
          }
          // CATALOG-DECLARED schema gate: the commit protocol's append
          // gate only fires from v2 on (v1 defines the schema for a
          // path-based table), but a CREATE TABLE declared the shape —
          // the FIRST insert must match it (after resolution above), or
          // the declaration was a lie
          def sig(s: StructType) =
            s.fields.map(f => (f.name, f.dataType.sql)).sortBy(_._1).toSeq
          declared.foreach { case (schema, _) =>
            if (cur == 0 && sig(adapted.schema) != sig(schema))
              sys.error(s"graft catalog: first insert into $path has schema " +
                s"${adapted.schema.simpleString}, but CREATE TABLE declared " +
                s"${schema.simpleString} — names and types must match exactly")
          }
          val idCol = Option(opts.get("idCol"))
            .orElse(standing.map(_.idCol))
            .orElse(declared.map(_._2))
            .getOrElse(throw new IllegalArgumentException(
              s"graft-versioned: first write to $path must declare " +
                ".option(\"idCol\", …) — the manifest digest needs an id column"))
          require(adapted.columns.contains(idCol),
            s"graft-versioned: idCol '$idCol' is not a column of the written " +
              s"data (${adapted.columns.mkString(", ")})")
          val contentCols = Option(opts.get("contentCols"))
            .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
            .orElse(standing.map(_.contentCols))
            .getOrElse(adapted.columns.filterNot(_ == idCol).toSeq)
          def csv(k: String): Seq[String] = Option(opts.get(k))
            .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
          val expected = Option(opts.get("expectedVersion")).map(_.toLong)
            .getOrElse(cur)
          VersionedTable.commit(adapted, path, idCol, contentCols,
            expectedVersion = expected,
            mode = if (overwrite) "overwrite" else "append",
            statCols = csv("statCols"),
            allowSchemaEvolution =
              Option(opts.get("allowSchemaEvolution")).exists(_.toBoolean),
            bloomCols = csv("bloomCols")): Unit
        }
      }
  }
}

/** METADATA TABLES through the connector (round-14 verdict task 3 —
  * the Delta `DESCRIBE HISTORY` / Iceberg `.files` surface):
  * `.option("metadata", "history")` serves [[VersionedTable.history]]'s
  * rows, `"files"` serves [[VersionedTable.files]] for the resolved
  * version (versionAsOf/timestampAsOf compose). Rows come from the same
  * builder as the library calls ([[VersionedTable.metadataRows]]), at
  * PLAN time, and ship in the single input partition — metadata scale,
  * no data files touched. */
class GraftVersionedMetadataTable(path: String, kind: String, version: Long)
    extends Table with SupportsRead {
  override def name(): String = s"graft_versioned(`$path`@v$version).$kind"
  override def schema(): StructType = VersionedTable.metadataSchema(kind)
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new GraftVersionedMetadataScan(path, kind, version)
    }
}

/** One partition carrying the driver-derived metadata rows (tiny by
  * construction: one row per version or per data dir). */
case class GraftVersionedMetadataPartition(rows: Seq[Seq[Any]]) extends InputPartition

class GraftVersionedMetadataScan(path: String, kind: String, version: Long)
    extends Scan with Batch {
  override def readSchema(): StructType = VersionedTable.metadataSchema(kind)
  override def toBatch: Batch = this
  override def description(): String = s"graft-versioned $path metadata=$kind"
  override def planInputPartitions(): Array[InputPartition] = {
    val rows = VersionedTable.metadataRows(SparkSession.active, path, kind, version)
    Array(GraftVersionedMetadataPartition(rows.map(_.toSeq)))
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
        val rows = partition.asInstanceOf[GraftVersionedMetadataPartition].rows
        new PartitionReader[InternalRow] {
          private var i = -1
          override def next(): Boolean = { i += 1; i < rows.length }
          override def get(): InternalRow = new GenericInternalRow(
            rows(i).map {
              case s: String => UTF8String.fromString(s)
              case other => other
            }.toArray)
          override def close(): Unit = ()
        }
      }
    }
}

/** Version offset for the streaming read: "everything committed up to
  * and including manifest `v` has been delivered". */
case class GraftVersionedOffset(v: Long)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = s"""{"version":$v}"""
}

/** STREAMING SOURCE over the commit log (the Delta streaming-source
  * shape): each micro-batch delivers the data dirs that ENTERED the
  * manifest between two versions — offsets are version numbers, so
  * exactly-once across restarts is the checkpoint replaying the same
  * (start, end] version window. Contract: incremental consumption is
  * defined for APPEND chains (a batch = the appended dirs). A
  * NON-APPEND version in the window (overwrite / delete / compaction —
  * a REWRITE) is a hard error by default, exactly Delta's behavior:
  * the rewritten snapshot's fresh dirs re-enter the log as new data,
  * so delivering them silently would duplicate every surviving row
  * downstream. `.option("ignoreChanges", true)` opts in explicitly —
  * the fresh dirs are delivered and the duplicate-delivery semantics
  * become the CALLER'S declared choice (Delta's option of the same
  * name). No data is ever re-read otherwise: dirs are immutable and
  * identified by attempt-unique names, so set difference over
  * manifest dir lists is exact. `startingVersion` (default 0 = from
  * the beginning) sets the initial offset for a fresh checkpoint. */
class GraftVersionedMicroBatchStream(path: String, required: StructType,
    startingVersion: Long, confCarrier: SerializableHadoopConf,
    ignoreChanges: Boolean = false)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream {
  import org.apache.spark.sql.connector.read.streaming.Offset

  private def spark = SparkSession.active

  override def initialOffset(): Offset = GraftVersionedOffset(startingVersion)
  override def latestOffset(): Offset =
    GraftVersionedOffset(VersionedTable.currentVersion(spark, path))
  override def deserializeOffset(json: String): Offset = {
    val m = """\{"version":(\d+)\}""".r
    json.trim match {
      case m(v) => GraftVersionedOffset(v.toLong)
      case other => sys.error(s"graft-versioned: bad offset json: $other")
    }
  }
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val v0 = start.asInstanceOf[GraftVersionedOffset].v
    val v1 = end.asInstanceOf[GraftVersionedOffset].v
    if (v1 <= v0) return Array.empty
    val prevDirs: Set[String] =
      if (v0 == 0L) Set.empty
      else VersionedTable.readManifest(spark, path, v0).dirs.toSet
    // union of dirs across (v0, v1] minus what v0 already had: covers
    // chains where an intermediate version's dirs were later rewritten
    // (its fresh dirs still entered the log and must be delivered once)
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    ((v0 + 1) to v1).foreach { v =>
      val mv = VersionedTable.readManifest(spark, path, v)
      // REWRITE GUARD: an overwrite version's dirs are a re-publish of
      // rows already delivered by earlier batches — refusing is the
      // default (Delta's contract); ignoreChanges delivers them as the
      // caller's explicit duplicate-accepting choice. Version 1 is
      // exempt: the CREATION commit (mode "overwrite" by default) has
      // no prior rows to duplicate.
      if (mv.mode != "append" && v > 1L && !ignoreChanges)
        sys.error(s"graft-versioned streaming: version $v of $path is a " +
          s"'${mv.mode}' (rewrite) — a streaming read past a rewrite would " +
          "re-deliver surviving rows as fresh data. Set " +
          ".option(\"ignoreChanges\", true) to accept duplicate delivery, " +
          "or restart the stream from a fresh startingVersion past the rewrite")
      mv.dirs.filterNot(prevDirs).foreach(seen += _)
    }
    val fs = new HPath(path).getFileSystem(confCarrier.value)
    GraftVersionedFilePartition.pack(seen.toSeq.flatMap { d =>
      val p = new HPath(new HPath(path), d)
      if (!fs.exists(p)) Seq.empty // vacuumed mid-window: rows were rewritten forward
      else fs.listStatus(p).toSeq
        .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
        .sortBy(_.getPath.getName)
    }, splitFiles = false) // the row reader takes whole files
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new GraftVersionedReaderFactory(required, confCarrier)
}

class GraftVersionedScanBuilder(path: String, m: VersionedTable.Manifest,
    tableSchema: StructType, startingVersion: Option[Long] = None,
    ignoreChanges: Boolean = false, version: Long = 0L,
    runtimeFilterable: Boolean = false,
    onBuild: GraftVersionedScan => Unit = _ => ())
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters {
  private var required: StructType = tableSchema
  private var pushedArr: Array[Filter] = Array.empty
  // accumulated dir-level constraints, ANDed at build():
  private var idBands: Seq[(Long, Long)] = Nil      // any-overlap per band set? see below
  private var strEqs: Seq[(String, Seq[String])] = Nil
  private var bloomProbes: Seq[(String, Seq[String])] = Nil

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Capture prunable predicates as dir-pruning hints. Conjunction
    * semantics: each captured filter must independently allow a dir
    * to survive (they are ANDed, matching WHERE semantics). For `IN`,
    * a dir survives if ANY value might be present. ALL filters are
    * returned residual — Spark re-applies them row-level. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val captured = scala.collection.mutable.ArrayBuffer.empty[Filter]
    def num(v: Any): Option[Long] = v match {
      case l: Long => Some(l)
      case i: Int => Some(i.toLong)
      case s: Short => Some(s.toLong)
      case b: Byte => Some(b.toLong)
      case _ => None
    }
    val strStatted = (c: String) => m.dirStrStats.values.exists(_.contains(c))
    val bloomed = (c: String) => m.dirBlooms.values.exists(_.contains(c))
    // STRING-KEYED index probes (str stats, blooms) may only take
    // literals whose JVM rendering provably equals Spark's
    // `cast(col AS string)` — the form the COMMIT side statted/hashed.
    // An Array[Byte] EqualTo literal (BinaryType is a supported column
    // type) stringifies as "[B@…": the bloom would answer "definitely
    // absent" and prune dirs that HOLD matching rows, and dir pruning
    // runs before the residual row filter can save correctness. Any
    // literal outside the proven set simply doesn't feed the string
    // indexes — the dirs fall back to the conservative keep.
    def strCastStable(v: Any): Option[String] = v match {
      case s: String => Some(s)
      case s: UTF8String => Some(s.toString)
      case l: Long => Some(l.toString)
      case i: Int => Some(i.toString)
      case s: Short => Some(s.toString)
      case b: Byte => Some(b.toString)
      case b: Boolean => Some(b.toString)
      case _ => None // Array[Byte], floats (sci-notation drift), dates, …
    }
    // a filter can feed SEVERAL indexes at once: an IN on the id column
    // checks the id band AND probes the id bloom if one was committed
    // (interleaved ingest defeats min/max but not the bloom — q218's
    // whole point); capture every applicable hint per filter
    def onEquality(f: Filter, c: String, vs: Seq[Any]): Unit = {
      var used = false
      if (c == m.idCol && vs.forall(num(_).nonEmpty)) {
        val ls = vs.flatMap(num)
        idBands :+= ((ls.min, ls.max)); used = true
      }
      val stable = vs.map(strCastStable)
      if (stable.forall(_.nonEmpty)) {
        val ss = stable.flatten
        if (strStatted(c)) { strEqs :+= ((c, ss)); used = true }
        if (bloomed(c)) { bloomProbes :+= ((c, ss)); used = true }
      }
      if (used) captured += f
    }
    filters.foreach {
      case f @ EqualTo(c, v) if v != null => onEquality(f, c, Seq(v))
      case f @ In(c, vs) if vs.nonEmpty && vs.forall(_ != null) =>
        onEquality(f, c, vs.toSeq)
      case f @ GreaterThanOrEqual(c, v) if c == m.idCol && num(v).nonEmpty =>
        idBands :+= ((num(v).get, Long.MaxValue)); captured += f
      case f @ GreaterThan(c, v) if c == m.idCol && num(v).nonEmpty =>
        idBands :+= ((num(v).get, Long.MaxValue)); captured += f
      case f @ LessThanOrEqual(c, v) if c == m.idCol && num(v).nonEmpty =>
        idBands :+= ((Long.MinValue, num(v).get)); captured += f
      case f @ LessThan(c, v) if c == m.idCol && num(v).nonEmpty =>
        idBands :+= ((Long.MinValue, num(v).get)); captured += f
      case _ => ()
    }
    pushedArr = captured.toArray
    filters // ALL residual — pruning is a hint, never the correctness carrier
  }
  override def pushedFilters(): Array[Filter] = pushedArr

  override def build(): Scan = {
    val kept = m.dirs.filter { d =>
      val idOk = idBands.forall { case (lo, hi) =>
        m.dirStats.get(d) match {
          case Some((dLo, dHi)) => dHi >= lo && dLo <= hi
          case None => true // unstatted ⇒ conservative keep
        }
      }
      val strOk = strEqs.forall { case (c, vs) =>
        m.dirStrStats.get(d).flatMap(_.get(c)) match {
          // compare in UTF8String (UTF-8 byte) order — the order the
          // commit's Spark min/max aggregates used. Java String UTF-16
          // order disagrees on supplementary-plane code points (U+FFFF
          // sorts above U+10000 in UTF-16, below in UTF-8), so a
          // UTF-16 band check could wrongly prune a dir holding the
          // probe value (ADVICE r13).
          case Some((lo, hi)) => vs.exists { v =>
            val u = UTF8String.fromString(v)
            UTF8String.fromString(lo).compareTo(u) <= 0 &&
              u.compareTo(UTF8String.fromString(hi)) <= 0
          }
          case None => true
        }
      }
      val bloomOk = bloomProbes.forall { case (c, vs) =>
        m.dirBlooms.get(d).flatMap(_.get(c)) match {
          case Some((mBits, b64)) =>
            val bits = java.util.BitSet.valueOf(
              java.util.Base64.getDecoder.decode(b64))
            vs.exists(v =>
              VersionedTable.bloomPositions(v, mBits).forall(bits.get))
          case None => true
        }
      }
      idOk && strOk && bloomOk
    }
    val scan = new GraftVersionedScan(path, m.dirs.size, kept, required,
      startingVersion, ignoreChanges, version, runtimeFilterable)
    onBuild(scan)
    scan
  }
}

/** A byte range of one parquet file; `start == 0 && length == fileLen`
  * means the whole file (the only shape the row reader accepts — the
  * columnar reader hands ranges to the parquet split machinery, which
  * assigns each row group to the range containing its start offset). */
case class GraftFileChunk(path: String, start: Long, length: Long, fileLen: Long)

/** One input partition = a size-binned PACK of parquet file CHUNKS,
  * following Spark's own `FilePartition.maxSplitBytes` policy: the
  * split target is min(maxPartitionBytes, max(openCost, (totalBytes +
  * files·openCost) / parallelism)) — so a scan SMALLER than
  * cores×128 MiB still fans out across the cluster (the round-14 fix:
  * the old fixed-128 MiB first-fit packed a 0.9 GB table into 8 tasks
  * on 32 cores and read 1.5× slower than the native scan for pure
  * parallelism reasons), while a year of tiny appends still bins into
  * few tasks (task count tracks bytes, not commit count) and one giant
  * compacted file is SPLIT at the target size like the native reader
  * splits it. Chunks are packed first-fit-decreasing with Spark's
  * 4 MiB per-chunk open cost. */
case class GraftVersionedFilePartition(chunks: Seq[GraftFileChunk]) extends InputPartition

object GraftVersionedFilePartition {
  val DefaultMaxPartitionBytes: Long = 128L << 20
  val OpenCostBytes: Long = 4L << 20

  def pack(files: Seq[org.apache.hadoop.fs.FileStatus],
      maxBytes: Long = DefaultMaxPartitionBytes,
      splitFiles: Boolean = true): Array[InputPartition] = {
    val parallelism =
      try SparkSession.active.sparkContext.defaultParallelism catch { case _: Throwable => 1 }
    val totalCost = files.map(_.getLen).sum + files.size.toLong * OpenCostBytes
    val target = math.min(maxBytes,
      math.max(OpenCostBytes, totalCost / math.max(1, parallelism)))
    val chunks = files.flatMap { f =>
      if (!splitFiles || f.getLen <= target)
        Seq(GraftFileChunk(f.getPath.toString, 0L, f.getLen, f.getLen))
      else (0L until f.getLen by target).map(off =>
        GraftFileChunk(f.getPath.toString, off,
          math.min(target, f.getLen - off), f.getLen))
    }
    val bins = scala.collection.mutable.ArrayBuffer.empty[
      (scala.collection.mutable.ArrayBuffer[GraftFileChunk], Long)]
    chunks.sortBy(c => (-c.length, c.path, c.start)).foreach { c =>
      val cost = c.length + OpenCostBytes
      bins.indexWhere(_._2 + cost <= target + OpenCostBytes) match {
        case -1 =>
          bins += ((scala.collection.mutable.ArrayBuffer(c), cost))
        case i =>
          bins(i)._1 += c
          bins(i) = (bins(i)._1, bins(i)._2 + cost)
      }
    }
    bins.map(b => GraftVersionedFilePartition(b._1.toSeq): InputPartition).toArray
  }
}

class GraftVersionedScan(path: String, totalDirs: Int, keptDirs: Seq[String],
    required: StructType, startingVersion: Option[Long] = None,
    ignoreChanges: Boolean = false, version: Long = 0L,
    runtimeFilterable: Boolean = false)
    extends Scan with Batch with SupportsReportStatistics
    with SupportsRuntimeV2Filtering {
  private val confCarrier = new SerializableHadoopConf(
    graft.operators.InvertedIndex.activeHadoopConf())

  /** RUNTIME GROUP FILTERING (round 15 — the scan half of partial
    * copy-on-write DML): a row-level operation's scan declares
    * `_graft_dir` filterable; Spark's
    * `RowLevelOperationRuntimeGroupFiltering` then runs the command's
    * condition as a dynamic IN-subquery over the dirs that actually
    * hold matching rows and hands the result back here, narrowing the
    * scan — and therefore the REWRITE and the commit's replaced-dir
    * set — to the affected dirs only. Only offered on scans built for
    * a row-level operation (ordinary reads get their pruning from the
    * static pushdown path; declaring a runtime attribute there would
    * invite join-DPP plumbing this table doesn't need). */
  @volatile private var runtimeDirs: Option[Set[String]] = None
  @volatile private[sources] var runtimeFiltered: Boolean = false
  private def effectiveDirs: Seq[String] =
    runtimeDirs.fold(keptDirs)(rd => keptDirs.filter(rd))
  /** The dirs this scan will actually read — the replaced-dir set a
    * partial copy-on-write commit must use. */
  private[sources] def finalDirs: Seq[String] = effectiveDirs

  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    if (runtimeFilterable)
      Array(org.apache.spark.sql.connector.expressions.Expressions
        .column("_graft_dir"))
    else Array.empty

  override def filter(predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit = {
    import org.apache.spark.sql.connector.expressions.{Literal => V2Literal, NamedReference}
    predicates.foreach { p =>
      val children = p.children().toSeq
      val onDir = children.headOption.exists {
        case r: NamedReference => r.fieldNames().toSeq == Seq("_graft_dir")
        case _ => false
      }
      val values = children.drop(1).collect {
        case l: V2Literal[_] => String.valueOf(l.value)
      }
      if (onDir && values.length == children.length - 1 &&
          (p.name() == "IN" || (p.name() == "=" && values.length == 1))) {
        val ds = values.toSet
        runtimeDirs = Some(runtimeDirs.fold(ds)(_ intersect ds))
        runtimeFiltered = true
      }
      // any other predicate shape: ignore — runtime filtering is an
      // optimization; an unfiltered scan replaces every dir it read,
      // which is always correct
    }
  }

  /** Dir provenance for the metadata columns, derived at PLAN time
    * (O(versions) driver-side manifest reads — metadata scale): each
    * kept dir, keyed by its last path segment, mapped to (manifest dir
    * string, version that INTRODUCED it — the first remaining manifest
    * listing it, which under vacuum attributes a surviving dir to the
    * earliest snapshot that can still serve it). Computed only when the
    * projection actually asks for a metadata column. */
  private lazy val dirProvenance: Map[String, (String, Long)] = {
    val spark = SparkSession.active
    val seen = scala.collection.mutable.LinkedHashMap.empty[String, (String, Long)]
    VersionedTable.versions(spark, path).filter(_ <= version).sorted.foreach { v =>
      VersionedTable.readManifest(spark, path, v).dirs.foreach { d =>
        val key = d.split('/').last
        if (!seen.contains(key)) seen += key -> ((d, v))
      }
    }
    seen.toMap
  }
  private def needsMeta: Boolean =
    required.fieldNames.exists(GraftVersionedTable.MetaColNames)

  private def listFiles(dirs: Seq[String]): Seq[org.apache.hadoop.fs.FileStatus] = {
    val fs = new HPath(path).getFileSystem(confCarrier.value)
    dirs.flatMap { d =>
      fs.listStatus(new HPath(new HPath(path), d)).toSeq
        .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
        .sortBy(_.getPath.getName)
    }
  }
  private lazy val files: Seq[org.apache.hadoop.fs.FileStatus] =
    listFiles(keptDirs)

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-versioned $path, kept_dirs=${keptDirs.size}/$totalDirs"
  override def estimateStatistics(): Statistics = new Statistics {
    private val bytes = files.map(_.getLen).sum
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(bytes)
    override def numRows(): java.util.OptionalLong =
      java.util.OptionalLong.empty()
  }
  override def planInputPartitions(): Array[InputPartition] =
    GraftVersionedFilePartition.pack(
      if (runtimeDirs.isEmpty) files else listFiles(effectiveDirs))
  // batch scans read COLUMNAR (round-14 verdict task 5); the streaming
  // path below keeps the row reader (micro-batches are small appends
  // by construction)
  override def createReaderFactory(): PartitionReaderFactory =
    new GraftVersionedReaderFactory(required, confCarrier, columnar = true,
      dirProvenance = if (needsMeta) dirProvenance else Map.empty)
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new GraftVersionedMicroBatchStream(path, required,
      startingVersion.getOrElse(0L), confCarrier, ignoreChanges)
}

/** Per-file readers — ONE decoder, two drive modes (round 15 unified
  * the old parquet-mr Group row path into the vectorized reader so
  * date/timestamp/decimal columns flow through every surface):
  *
  *  - **COLUMNAR (batch scans — round-14 verdict task 5)**: Spark's own
  *    `VectorizedParquetRecordReader` driven directly (the engine's
  *    vectorized decoder — page-level decoding into ColumnVectors, the
  *    path `spark.read.parquet` itself takes), with the projection in
  *    `ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA` and fields a file
  *    predates (merge-read chains) emitted as constant-NULL vectors by
  *    the reader's own missing-column handling. A full analytical scan
  *    through the connector decodes at native-parquet speed
  *    (spec-gated within 1.2× of `VersionedTable.readAsOf`). Rebase
  *    modes are pinned CORRECTED — sound because every write surface
  *    produces proleptic-Gregorian files (see
  *    [[GraftVersionedSource.supported]]).
  *  - **ROW (streaming micro-batches)**: the SAME vectorized reader
  *    iterated row-by-row (`nextKeyValue` without
  *    `enableReturningBatches`) — micro-batches deliver small fresh
  *    appends, where per-row materialization is not the bottleneck,
  *    and sharing the decoder means the row path carries exactly the
  *    column types the batch path does. */
class GraftVersionedReaderFactory(required: StructType,
    confCarrier: SerializableHadoopConf, columnar: Boolean = false,
    dirProvenance: Map[String, (String, Long)] = Map.empty)
    extends PartitionReaderFactory {
  import org.apache.spark.sql.execution.datasources.parquet.{ParquetReadSupport, VectorizedParquetRecordReader}
  import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}

  override def supportColumnarReads(partition: InputPartition): Boolean = columnar

  // METADATA COLUMNS (_graft_dir/_graft_version) are served as
  // PER-CHUNK CONSTANTS — the parquet decoders only ever see the FILE
  // fields; the assembly below re-interleaves constants into the
  // required projection order (Spark's own partition-column recipe).
  // srcIdx: >=0 → file-field index, -1 → _graft_dir, -2 → _graft_version
  private val fileSchema = StructType(
    required.filterNot(f => GraftVersionedTable.MetaColNames(f.name)).toArray)
  private val hasMeta = fileSchema.length != required.length
  private val srcIdx: Array[Int] = {
    var j = -1
    required.fields.map { f =>
      if (f.name == "_graft_dir") -1
      else if (f.name == "_graft_version") -2
      else { j += 1; j }
    }
  }
  private def provenanceOf(chunk: GraftFileChunk): (String, Long) = {
    val parent = new HPath(chunk.path).getParent.getName
    dirProvenance.getOrElse(parent, sys.error(
      s"graft-versioned: no provenance recorded for data dir '$parent' — " +
        "metadata columns are a batch-scan surface planned against the " +
        "manifest chain"))
  }

  // one conf per PARTITION, not per chunk (Configuration copies are
  // milliseconds each — visible on narrow scans): its content is
  // chunk-independent and the readers only consult it
  private def mkConf(): Configuration = {
    val c = new Configuration(confCarrier.value)
    // the conf contract ParquetFileFormat's reader function sets up
    c.set(org.apache.parquet.hadoop.ParquetInputFormat.READ_SUPPORT_CLASS,
      classOf[ParquetReadSupport].getName)
    c.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, fileSchema.json)
    c.setBoolean("spark.sql.parquet.binaryAsString", false)
    c.setBoolean("spark.sql.parquet.int96AsTimestamp", true)
    c.setBoolean("spark.sql.caseSensitive", false)
    c.setBoolean("spark.sql.parquet.inferTimestampNTZ.enabled", true)
    c.setBoolean("spark.sql.legacy.parquet.nanosAsLong", false)
    c
  }

  private def open(chunk: GraftFileChunk, conf: Configuration,
      returnBatches: Boolean): VectorizedParquetRecordReader = {
    val r = new VectorizedParquetRecordReader(
      java.time.ZoneId.of("UTC"), "CORRECTED", "UTC", "CORRECTED", "UTC",
      /* useOffHeap = */ false, /* capacity = */ 4096)
    // mapred.FileSplit (extends the mapreduce one): the reader base
    // downcasts to the old API internally. The (start, length) range
    // selects the row groups whose start offset falls inside it —
    // exactly how the native scan consumes its splits.
    val split = new org.apache.hadoop.mapred.FileSplit(
      new HPath(chunk.path), chunk.start, chunk.length, Array.empty[String])
    val tac = new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
      conf, new org.apache.hadoop.mapreduce.TaskAttemptID())
    try {
      r.initialize(split, tac)
      r.initBatch(new StructType(), InternalRow.empty)
      if (returnBatches) r.enableReturningBatches()
      r
    } catch { case e: Throwable => r.close(); throw e }
  }

  override def createColumnarReader(partition: InputPartition): PartitionReader[ColumnarBatch] = {
    val chunks = partition.asInstanceOf[GraftVersionedFilePartition].chunks
    new PartitionReader[ColumnarBatch] {
      private var idx = -1
      private var cur: VectorizedParquetRecordReader = _
      private var wrapped: ColumnarBatch = _
      private lazy val conf: Configuration = mkConf()
      override def next(): Boolean = {
        while (cur == null || !cur.nextBatch()) {
          if (cur != null) cur.close()
          idx += 1
          if (idx >= chunks.length) { cur = null; return false }
          cur = open(chunks(idx), conf, returnBatches = true)
          if (hasMeta) {
            // interleave the file columns with per-chunk constant
            // vectors once per chunk (the vectorized reader reuses its
            // batch instance, so the wrapper stays valid for the chunk)
            import org.apache.spark.sql.execution.vectorized.ConstantColumnVector
            val (dirRel, ver) = provenanceOf(chunks(idx))
            val base = cur.resultBatch()
            val cols: Array[ColumnVector] = srcIdx.zipWithIndex.map {
              case (-1, i) =>
                val v = new ConstantColumnVector(4096, required.fields(i).dataType)
                v.setUtf8String(UTF8String.fromString(dirRel)); v: ColumnVector
              case (-2, i) =>
                val v = new ConstantColumnVector(4096, required.fields(i).dataType)
                v.setLong(ver); v: ColumnVector
              case (j, _) => base.column(j)
            }
            wrapped = new ColumnarBatch(cols)
          }
        }
        true
      }
      override def get(): ColumnarBatch = {
        val base = cur.resultBatch()
        if (!hasMeta) base
        else { wrapped.setNumRows(base.numRows()); wrapped }
      }
      override def close(): Unit = if (cur != null) { cur.close(); cur = null }
    }
  }

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val chunks = partition.asInstanceOf[GraftVersionedFilePartition].chunks
    // chain the pack's files sequentially behind one PartitionReader
    new PartitionReader[InternalRow] {
      private var idx = -1
      private var cur: VectorizedParquetRecordReader = _
      private var dirRelU: UTF8String = _
      private var ver: Long = 0L
      private lazy val conf: Configuration = mkConf()
      override def next(): Boolean = {
        while (cur == null || !cur.nextKeyValue()) {
          if (cur != null) cur.close()
          idx += 1
          if (idx >= chunks.length) { cur = null; return false }
          cur = open(chunks(idx), conf, returnBatches = false)
          if (hasMeta) {
            val (dirRel, v) = provenanceOf(chunks(idx))
            dirRelU = UTF8String.fromString(dirRel); ver = v
          }
        }
        true
      }
      override def get(): InternalRow = {
        val row = cur.getCurrentValue.asInstanceOf[InternalRow]
        if (!hasMeta) row
        else {
          val vals = new Array[Any](required.length)
          var i = 0
          while (i < required.length) {
            vals(i) = srcIdx(i) match {
              case -1 => dirRelU
              case -2 => ver
              case j => row.get(j, fileSchema.fields(j).dataType)
            }
            i += 1
          }
          new GenericInternalRow(vals)
        }
      }
      override def close(): Unit = if (cur != null) { cur.close(); cur = null }
    }
  }
}

/** One successful task's staged file (name + row count) — the only
  * state that crosses from executors to the streaming commit. */
case class GraftStreamFileMessage(fileName: String, rows: Long)
    extends org.apache.spark.sql.connector.write.WriterCommitMessage

/** NATIVE STREAMING SINK (`ds.writeStream.format("graft-versioned")` —
  * the write-side completion of the r13 commit-log streaming SOURCE;
  * the foreachBatch + [[VersionedTable.commitStreamBatch]] recipe made
  * a first-class sink):
  *
  *  - executors write each task's rows DIRECTLY to parquet in an
  *    epoch-staging dir under the table root
  *    (`data/stream-<query>-e<epoch>`; attempt-unique file names, so
  *    task retries never clobber),
  *  - the driver's `commit(epoch, messages)` keeps exactly the files
  *    the COMMITTED tasks reported (a failed attempt's orphan file is
  *    deleted before anything is digested), then publishes the staged
  *    dir through [[VersionedTable.publishStagedDir]] — the same
  *    digest / stats / bloom / optimistic-rename protocol every other
  *    write takes, stamped with the epoch as the manifest `batch_id`,
  *  - EXACTLY-ONCE across restarts: a replayed epoch (failure after
  *    publish, before the checkpoint advanced — the at-least-once
  *    window every sink sees) is detected against the manifest batch
  *    watermark ([[VersionedTable.lastStampedBatchId]]) and skipped,
  *    its staged dir reclaimed. An EMPTY micro-batch publishes no
  *    version (re-running it is harmlessly empty again).
  *
  * `outputMode("append")` maps each epoch to an append commit;
  * `outputMode("complete")` (arriving via truncate()) to an overwrite
  * commit — the aggregate-snapshot shape. Options mirror the batch
  * write surface: `idCol` (required on first write), `contentCols`,
  * `statCols`, `bloomCols`. An aborted epoch's staging is deleted
  * best-effort; anything missed is an unreferenced dir for
  * [[VersionedTable.vacuum]] — the same orphan story as a batch
  * commit's loser. Single-writer per table, like commitStreamBatch. */
class GraftVersionedStreamingWrite(path: String,
    info: org.apache.spark.sql.connector.write.LogicalWriteInfo,
    declared: Option[(StructType, String)], truncateMode: Boolean)
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {
  import org.apache.spark.sql.connector.write.{PhysicalWriteInfo, WriterCommitMessage}
  import org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory

  private val schema = info.schema()
  private val qid = info.queryId().replace("-", "").take(8)
  schema.fields.foreach { f =>
    require(GraftVersionedSource.supported(f.dataType),
      s"graft-versioned streaming sink: unsupported column type " +
        s"${f.dataType.simpleString} for '${f.name}'")
  }

  private def stagingRel(epochId: Long): String = f"data/stream-$qid-e$epochId%08d"

  override def createStreamingWriterFactory(
      pi: PhysicalWriteInfo): StreamingDataWriterFactory =
    new GraftVersionedStreamingWriterFactory(path, qid, schema,
      new SerializableHadoopConf(graft.operators.InvertedIndex.activeHadoopConf()))

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val fs = new HPath(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stagedRel = stagingRel(epochId)
    val stagedPath = new HPath(new HPath(path), stagedRel)
    def dropStaged(): Unit = if (fs.exists(stagedPath)) fs.delete(stagedPath, true): Unit
    // idempotent replay: this epoch already published (crash between
    // publish and checkpoint advance) — reclaim the fresh staging, done
    if (epochId <= VersionedTable.lastStampedBatchId(spark, path)) {
      dropStaged(); return
    }
    // keep exactly the committed tasks' files: a failed attempt's
    // orphan must never enter the digest
    val committed = messages.collect {
      case m: GraftStreamFileMessage => m.fileName
    }.toSet
    if (fs.exists(stagedPath))
      fs.listStatus(stagedPath).foreach { s =>
        if (s.isFile && !committed(s.getPath.getName))
          fs.delete(s.getPath, false): Unit
      }
    if (committed.isEmpty || !fs.exists(stagedPath)) {
      dropStaged(); return // empty micro-batch: no version published
    }
    val opts = info.options()
    val cur = VersionedTable.currentVersion(spark, path)
    val standing: Option[VersionedTable.Manifest] =
      if (cur > 0) Some(VersionedTable.readManifest(spark, path, cur)) else None
    val idCol = Option(opts.get("idCol"))
      .orElse(standing.map(_.idCol))
      .orElse(declared.map(_._2))
      .getOrElse(throw new IllegalArgumentException(
        s"graft-versioned streaming sink: first write to $path must declare " +
          ".option(\"idCol\", …)"))
    def csv(k: String): Seq[String] = Option(opts.get(k))
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
    val contentCols = Option(opts.get("contentCols"))
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .orElse(standing.map(_.contentCols))
      .getOrElse(schema.fieldNames.filterNot(_ == idCol).toSeq)
    VersionedTable.publishStagedDir(spark, path, stagedRel, idCol, contentCols,
      expectedVersion = cur,
      mode = if (truncateMode) "overwrite" else "append",
      batchId = Some(epochId),
      statCols = csv("statCols"),
      bloomCols = csv("bloomCols")): Unit
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val fs = new HPath(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stagedPath = new HPath(new HPath(path), stagingRel(epochId))
    // best-effort: anything missed is an unreferenced dir for vacuum
    try { if (fs.exists(stagedPath)) fs.delete(stagedPath, true): Unit }
    catch { case _: java.io.IOException => () }
  }
}

class GraftVersionedStreamingWriterFactory(path: String, qid: String,
    schema: StructType, confCarrier: SerializableHadoopConf)
    extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    // attempt-unique name (taskId is unique per attempt): retries never
    // clobber, and only the committed attempt's name reaches the driver
    GraftStagedParquetWriter.create(path, f"data/stream-$qid-e$epochId%08d",
      f"part-$partitionId%05d-$taskId.parquet", schema, confCarrier.value)
}

/** Executor-side STAGED PARQUET WRITER shared by the streaming sink and
  * the row-level-operation batch write: one task = one attempt-unique
  * parquet file in a staging dir under the table root, written through
  * Spark's own `ParquetWriteSupport` (InternalRow → parquet, the full
  * Spark type coverage of the native write path), SNAPPY-compressed.
  * Only a COMMITTED attempt's file name reaches the driver. */
object GraftStagedParquetWriter {
  import org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport

  /** Builder shim: parquet-mr's Builder is the non-deprecated way to
    * construct a writer over a custom WriteSupport (Spark's own
    * InternalRow one). */
  private class IRBuilder(file: HPath, support: ParquetWriteSupport)
      extends org.apache.parquet.hadoop.ParquetWriter.Builder[InternalRow, IRBuilder](file) {
    override def self(): IRBuilder = this
    override def getWriteSupport(conf: Configuration)
        : org.apache.parquet.hadoop.api.WriteSupport[InternalRow] = support
  }

  def create(tableRoot: String, stagedRel: String, fileName: String,
      schema: StructType, confBase: Configuration): DataWriter[InternalRow] = {
    val file = new HPath(new HPath(new HPath(tableRoot), stagedRel), fileName)
    val conf = new Configuration(confBase)
    // the conf contract ParquetWriteSupport.init asserts on
    ParquetWriteSupport.setSchema(schema, conf)
    conf.set("spark.sql.parquet.writeLegacyFormat", "false")
    conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    conf.set("spark.sql.parquet.fieldId.write.enabled", "false")
    conf.set("spark.sql.parquet.variant.annotateLogicalType.enabled", "false")
    conf.set("spark.sql.parquet.datetimeRebaseModeInWrite", "CORRECTED")
    conf.set("spark.sql.parquet.int96RebaseModeInWrite", "CORRECTED")
    conf.set("spark.sql.session.timeZone", "UTC")
    new DataWriter[InternalRow] {
      private var rows = 0L
      private val writer = new IRBuilder(file, new ParquetWriteSupport)
        .withConf(conf)
        .withCompressionCodec(
          org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
        .build()
      override def write(row: InternalRow): Unit = { writer.write(row); rows += 1 }
      override def commit(): WriterCommitMessage = {
        writer.close()
        GraftStreamFileMessage(fileName, rows)
      }
      override def abort(): Unit = {
        try writer.close() catch { case _: Throwable => () }
        val fs = file.getFileSystem(conf)
        try { if (fs.exists(file)) fs.delete(file, false): Unit }
        catch { case _: java.io.IOException => () }
      }
      override def close(): Unit = ()
    }
  }
}

/** Zero-row scan of a declared schema (CREATE TABLE, no commits yet). */
private[sources] class GraftVersionedEmptyScanBuilder(path: String,
    tableSchema: StructType) extends ScanBuilder {
  override def build(): Scan = new Scan with Batch {
    override def readSchema(): StructType = tableSchema
    override def toBatch: Batch = this
    override def description(): String =
      s"graft-versioned $path (declared, no commits)"
    override def planInputPartitions(): Array[InputPartition] = Array.empty
    override def createReaderFactory(): PartitionReaderFactory =
      new GraftVersionedReaderFactory(tableSchema,
        new SerializableHadoopConf(
          graft.operators.InvertedIndex.activeHadoopConf()))
  }
}
