package graft.sources

import java.io.{FileNotFoundException, InputStream, OutputStream}
import java.nio.file.Files
import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{ChecksumFileSystem, FileSystem, Path => HPath, RawLocalFileSystem}
import org.apache.hadoop.io.Text
import org.apache.hadoop.util.LineReader
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 connector for the reference engine's input format
  * (`/root/reference/src/main.cc:178-197`): a manifest file whose first
  * line is N followed by N corpus-file paths (relative to the
  * manifest's directory), line position = 1-based file id.
  *
  * `spark.read.format("manifest-corpus").load(manifest)` yields
  * `(file_id INT, path STRING, value STRING)` — one row per corpus
  * line — with:
  *  - **partition packing**: corpus files are packed into
  *    byte-balanced input partitions, one per task slot once the corpus
  *    holds a few MiB (never more partitions than files, and never
  *    fewer than `total / maxPartitionBytes`; option default 4 MiB), so
  *    thousands of small chapter files don't become thousands of tasks
  *    and no slot idles while one bin of large files runs on. Files go
  *    largest first to the lightest bin and keep manifest order within
  *    it;
  *  - **column pruning** (SupportsPushDownRequiredColumns): a query
  *    projecting only `value` never materializes the other columns;
  *  - **fail-fast planning**: every corpus file is stat'ed through the
  *    Hadoop FileSystem API at `planInputPartitions` — a manifest entry
  *    that doesn't exist aborts the query at planning with the path in
  *    the error, instead of surfacing as a task failure minutes into a
  *    large job;
  *  - **Hadoop FS IO end-to-end**: both planning (sizing) and the
  *    `PartitionReader` route through `FileSystem`, so a manifest on
  *    HDFS/S3 works the same as a local one. For `ChecksumFileSystem`
  *    schemes (plain local files) the reader unwraps to the raw FS —
  *    the corpus has no `.crc` sidecars, and skipping the per-open
  *    checksum probe keeps the local read path as fast as `java.io`;
  *  - **text-source lines**: each file is read a buffer at a time by
  *    Hadoop's `LineReader`, the `\n` / `\r\n` / lone-`\r` terminators
  *    of `spark.read.textFile`, and a line's bytes are copied once into
  *    its `value`, invalid UTF-8 included. A file's lines come out as
  *    one contiguous run of its partition, which the inverted index's
  *    per-file combine relies on for its savings (not its output).
  *
  * This replaces the driver-side manifest read + scan-path decode +
  * broadcast join of the original formulation: file ids are stamped by
  * the reader itself, so no path string ever needs round-tripping
  * through scan metadata.
  */
class ManifestCorpusSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "manifest-corpus"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ManifestCorpusSource.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table = {
    val path = Option(properties.get("path")).getOrElse(
      throw new IllegalArgumentException("manifest-corpus: .load(<manifestPath>) is required"))
    val maxBytes = Option(properties.get("maxPartitionBytes")).map(_.toLong)
      .getOrElse(4L << 20)
    new ManifestCorpusTable(path, maxBytes)
  }
  override def supportsExternalMetadata(): Boolean = false
}

object ManifestCorpusSource {
  val Schema: StructType = StructType(Seq(
    StructField("file_id", IntegerType, nullable = false),
    StructField("path", StringType, nullable = false),
    StructField("value", StringType, nullable = false)))

  /** The filesystem under the checksum layer of local-style schemes
    * (`ChecksumFileSystem`), or `fs` itself for every other scheme
    * (HDFS, object stores), which keeps no `.crc` sidecars. */
  private def rawFs(fs: FileSystem): FileSystem = fs match {
    case cfs: ChecksumFileSystem => cfs.getRawFileSystem
    case other => other
  }

  /** Open `p` for read, bypassing the checksum layer on local-style
    * filesystems: corpus files have no `.crc` sidecars, and
    * `ChecksumFileSystem.open` pays an extra existence probe per file
    * to discover that. */
  private[sources] def openRaw(fs: FileSystem, p: HPath): InputStream = rawFs(fs).open(p)

  /** Create or truncate `p` for write, bypassing the checksum layer like
    * [[openRaw]]. A local file is created through `java.nio`: without
    * the native libhadoop, `RawLocalFileSystem.create` sets each new
    * file's permission by forking `chmod`, which costs milliseconds a
    * file. Every other filesystem gets `FileSystem.create(p, true)`. */
  private[graft] def createRaw(fs: FileSystem, p: HPath): OutputStream = rawFs(fs) match {
    case local: RawLocalFileSystem =>
      val f = local.pathToFile(p).toPath
      Files.createDirectories(f.getParent)
      Files.newOutputStream(f)
    case other => other.create(p, true)
  }

  /** Read buffer of the corpus line reader. */
  private[graft] val LineBufferBytes = 64 << 10

  /** Below this many bytes per bin a split is not worth a task. */
  private val MinBinBytes = 1L << 20

  /** Byte-balanced packing of `(file, bytes)` into input partitions,
    * shared by the file-based scans. The bin count is
    * `k = min(#files, max(⌈total / maxBytes⌉, min(slots, ⌈total / 1 MiB⌉)))`,
    * `slots` being the active session's default parallelism (1 with no
    * session): enough bins that their mean stays within `maxBytes`, and
    * one per task slot once the input is big enough to be worth
    * splitting. Files go largest first to the currently lightest bin
    * (LPT), so the heaviest bin is at most `total / k + largest file`.
    * Each bin keeps its files in input order, and bins are ordered by
    * their first file. A 0-byte file weighs 1 byte, so it still gets a
    * reader. */
  private[sources] def packBalanced[A](files: Seq[(A, Long)], maxBytes: Long): Seq[Seq[A]] = {
    if (files.isEmpty) return Seq.empty
    val slots = org.apache.spark.sql.SparkSession.getActiveSession
      .map(_.sparkContext.defaultParallelism).getOrElse(1)
    val sizes = files.map(f => math.max(1L, f._2)).toArray
    def ceilDiv(a: Long, b: Long): Long = (a - 1) / b + 1
    val total = sizes.sum
    val k = math.min(files.length.toLong, math.max(ceilDiv(total, math.max(1L, maxBytes)),
      math.min(slots.toLong, ceilDiv(total, MinBinBytes)))).toInt
    // (load, bin), lightest first; ties go to the lower bin
    val lightest = scala.collection.mutable.PriorityQueue
      .tabulate(k)(b => (0L, b))(Ordering[(Long, Int)].reverse)
    val bins = Array.fill(k)(scala.collection.mutable.ArrayBuffer.empty[Int])
    sizes.indices.sortBy(i => (-sizes(i), i)).foreach { i =>
      val (load, b) = lightest.dequeue()
      bins(b) += i
      lightest.enqueue((load + sizes(i), b))
    }
    bins.toSeq.map(_.sorted).sortBy(_.head).map(_.map(i => files(i)._1).toSeq)
  }
}

class ManifestCorpusTable(manifestPath: String, maxBytes: Long)
    extends Table with SupportsRead {
  override def name(): String = s"manifest_corpus(`$manifestPath`)"
  override def schema(): StructType = ManifestCorpusSource.Schema
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ManifestCorpusScanBuilder(manifestPath, maxBytes)
}

class ManifestCorpusScanBuilder(manifestPath: String, maxBytes: Long)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownLimit with SupportsPushDownFilters {
  private var required: StructType = ManifestCorpusSource.Schema
  private var limit: Option[Int] = None
  private var pushed: Array[org.apache.spark.sql.sources.Filter] = Array.empty
  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema
  // PARTIALLY pushed (the inherited isPartiallyPushed default): each
  // partition reader stops after `limit` lines — rows per corpus file
  // are unknowable at planning, so partitions can't be dropped, but
  // CollectLimit executes partitions incrementally and the pushed
  // reader bound means a smoke-check `limit(5)` reads ~5 lines, not
  // the whole corpus
  override def pushLimit(n: Int): Boolean = { limit = Some(n); true }
  // filters over file_id/path prune WHOLE FILES at planning (every row
  // of a file shares them); ALL filters are also returned as residual
  // so Spark re-applies them row-level — pruning is an optimization,
  // never the correctness carrier
  override def pushFilters(filters: Array[org.apache.spark.sql.sources.Filter])
      : Array[org.apache.spark.sql.sources.Filter] = {
    pushed = filters.filter(ManifestCorpusScan.prunable)
    filters
  }
  override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] = pushed
  override def build(): Scan =
    new ManifestCorpusScan(manifestPath, maxBytes, required, limit, pushed)
}

case class CorpusFilesPartition(files: Seq[(String, Int)]) extends InputPartition

object ManifestCorpusScan {
  import org.apache.spark.sql.sources._

  /** Can this filter contribute to file-level pruning? (references
    * only file_id/path in shapes [[eval3]] understands) */
  def prunable(f: Filter): Boolean = f match {
    case EqualTo(a, _) => a == "file_id" || a == "path"
    case In(a, _) => a == "file_id" || a == "path"
    case GreaterThan("file_id", _) | GreaterThanOrEqual("file_id", _) |
         LessThan("file_id", _) | LessThanOrEqual("file_id", _) => true
    case IsNotNull(a) => a == "file_id" || a == "path"
    case IsNull(a) => a == "file_id" || a == "path"
    case And(l, r) => prunable(l) || prunable(r)
    case Or(l, r) => prunable(l) && prunable(r)
    case Not(c) => prunable(c)
    case _ => false
  }

  /** Three-valued evaluation of a filter against ONE FILE's constant
    * (path, file_id): Some(false) = definitely no row of this file can
    * pass → the file is skippable; None = can't tell (e.g. the filter
    * touches `value`) → keep. file_id/path are never null. */
  def eval3(path: String, id: Int, f: Filter): Option[Boolean] = f match {
    case EqualTo("file_id", v: Number) => Some(id == v.intValue)
    case EqualTo("path", v) => Some(path == String.valueOf(v))
    case In("file_id", vs) =>
      Some(vs.exists { case v: Number => v.intValue == id; case _ => false })
    case In("path", vs) => Some(vs.exists(v => String.valueOf(v) == path))
    case GreaterThan("file_id", v: Number) => Some(id > v.intValue)
    case GreaterThanOrEqual("file_id", v: Number) => Some(id >= v.intValue)
    case LessThan("file_id", v: Number) => Some(id < v.intValue)
    case LessThanOrEqual("file_id", v: Number) => Some(id <= v.intValue)
    case IsNotNull(a) if a == "file_id" || a == "path" => Some(true)
    case IsNull(a) if a == "file_id" || a == "path" => Some(false)
    case And(l, r) => (eval3(path, id, l), eval3(path, id, r)) match {
      case (Some(false), _) | (_, Some(false)) => Some(false)
      case (Some(true), Some(true)) => Some(true)
      case _ => None
    }
    case Or(l, r) => (eval3(path, id, l), eval3(path, id, r)) match {
      case (Some(true), _) | (_, Some(true)) => Some(true)
      case (Some(false), Some(false)) => Some(false)
      case _ => None
    }
    case Not(c) => eval3(path, id, c).map(!_)
    case _ => None
  }
}

class ManifestCorpusScan(manifestPath: String, maxBytes: Long,
    required: StructType, private[sources] val pushedLimit: Option[Int],
    pushedFilters: Array[org.apache.spark.sql.sources.Filter] = Array.empty)
    extends Scan with Batch with SupportsReportStatistics
    with SupportsRuntimeFiltering {

  /** Runtime filters (DPP-style, e.g. `In(file_id, …)` built from a
    * join's other side) land here between planning and execution;
    * [[planInputPartitions]] prunes with them exactly like the static
    * pushed filters. */
  @volatile private var runtimeFilters: Array[org.apache.spark.sql.sources.Filter] =
    Array.empty
  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions.column("file_id"))
  override def filter(filters: Array[org.apache.spark.sql.sources.Filter]): Unit =
    runtimeFilters = filters
  // captured at planning on the driver: session FS settings/credentials
  // ride along to executors for the reader's FileSystem lookups
  private val confCarrier =
    new SerializableHadoopConf(graft.operators.InvertedIndex.activeHadoopConf())

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"manifest-corpus $manifestPath, cols=${required.fieldNames.mkString(",")}" +
      pushedLimit.map(n => s", limit=$n").getOrElse("") +
      (if (pushedFilters.isEmpty) ""
       else s", pruneFilters=[${pushedFilters.mkString(", ")}]")

  /** Does any row of this file survive every pushed + runtime filter?
    * (three-valued: unknown keeps the file — pruning is never the
    * correctness carrier, Spark re-applies all filters row-level) */
  private def keepFile(path: String, id: Int): Boolean =
    (pushedFilters ++ runtimeFilters).forall(f =>
      ManifestCorpusScan.eval3(path, id, f).getOrElse(true))

  /** Planner statistics: total corpus bytes surviving every filter
    * known at the time of the call — the static pushed filters, plus
    * any runtime (DPP/bloom) filters if Spark has already delivered
    * them via filter(); in Spark's lifecycle stats are read during
    * optimization, BEFORE runtime filtering, so in practice this
    * reflects the static set (the stat pass below is shared lazily
    * with partition planning — one round of HEADs, not two). Without
    * this a
    * manifest-corpus relation has UNKNOWN size, which Catalyst treats
    * as huge — a small corpus joined against a big table would never
    * broadcast; and a `file_id = k` probe reports one file's bytes,
    * not the corpus's. numRows stays empty: line counts are
    * unknowable without reading. */
  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(
        stattedFiles.collect { case ((p, id), sz) if keepFile(p, id) => sz }.sum)
    override def numRows(): java.util.OptionalLong = java.util.OptionalLong.empty()
  }

  /** The stat pass: (manifest entry, size) in manifest order — lazy
    * and shared, so estimateStatistics during optimization and
    * planInputPartitions at execution pay ONE round of HEADs between
    * them. Doubles as the existence check: a manifest entry with no
    * file behind it fails HERE, at planning, with the offending path
    * — not at task time. */
  private lazy val stattedFiles: Seq[((String, Int), Long)] = {
    val conf = confCarrier.value
    val files = graft.operators.InvertedIndex.readManifest(manifestPath, conf)
    // stat the manifest entries with a bounded thread pool (the same
    // trick as Spark's InMemoryFileIndex listing): one SERIAL blocking
    // getFileStatus per entry would make planning O(files) round-trips —
    // hours for a 200k-file manifest on an object store with ~10-50 ms
    // per HEAD. Order is preserved so each bin stays manifest-ordered.
    val threads = math.min(32, math.max(1, files.length))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    val sizes: Seq[Long] =
      try {
        val futures = files.map { case (path, id) =>
          pool.submit(new java.util.concurrent.Callable[Long] {
            override def call(): Long = {
              val hPath = new HPath(path)
              try math.max(1L, hPath.getFileSystem(conf).getFileStatus(hPath).getLen)
              catch {
                case _: FileNotFoundException => throw new FileNotFoundException(
                  s"manifest-corpus: file #$id listed in manifest '$manifestPath' does not exist: $path")
              }
            }
          })
        }
        futures.map { f =>
          try f.get()
          catch {
            // fail-fast for real on ANY abort (stat failure, interrupt,
            // cancellation): plain shutdown() would let every queued stat
            // run to completion in the background (O(files) HEADs against
            // the store, non-daemon threads pinning a short-lived driver)
            case e: java.util.concurrent.ExecutionException =>
              pool.shutdownNow()
              throw e.getCause // the FileNotFoundException itself
            case e: Throwable =>
              pool.shutdownNow()
              throw e
          }
        }
      } finally pool.shutdown()
    files.zip(sizes)
  }

  /** Byte-balanced file groups ([[ManifestCorpusSource.packBalanced]]):
    * one partition per task slot for a corpus of a few MiB or more,
    * instead of one task per (typically tiny) corpus file. Files failing
    * the pushed or runtime filters are skipped ENTIRELY — a
    * `file_id = k` probe or a DPP-filtered join opens one file, not the
    * corpus. */
  override def planInputPartitions(): Array[InputPartition] =
    ManifestCorpusSource.packBalanced(
      stattedFiles.filter { case ((p, id), _) => keepFile(p, id) }, maxBytes)
      .map(CorpusFilesPartition(_)).toArray

  override def createReaderFactory(): PartitionReaderFactory =
    new ManifestCorpusReaderFactory(required, confCarrier, pushedLimit)
}

class ManifestCorpusReaderFactory(required: StructType,
    confCarrier: SerializableHadoopConf,
    pushedLimit: Option[Int] = None)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val files = partition.asInstanceOf[CorpusFilesPartition].files
    new PartitionReader[InternalRow] {
      // which of (file_id, path, value) the projection kept, in order
      private val fields: Array[Int] =
        required.fieldNames.map(ManifestCorpusSource.Schema.fieldIndex)
      private val fileIter = files.iterator
      // Hadoop's LineReader fills a 64 KiB buffer per read and splits
      // on \n, \r\n or a lone \r, exactly like the LineRecordReader
      // behind spark.read.textFile. Line bytes reach the UTF8String
      // untouched: a String round-trip would replace invalid UTF-8 with
      // U+FFFD and break byte parity with the text source.
      private var in: LineReader = _
      private val text = new Text()
      private var curPath: UTF8String = _
      private var curId: Int = _
      private var line: Array[Byte] = _

      private var emitted = 0L

      override def next(): Boolean = {
        // pushed (partial) limit: this partition never reads past the
        // bound — CollectLimit on top takes the global prefix
        if (pushedLimit.exists(emitted >= _)) { close(); return false }
        while (true) {
          if (in != null) {
            if (in.readLine(text) > 0) {
              line = java.util.Arrays.copyOf(text.getBytes, text.getLength)
              emitted += 1
              return true
            }
            in.close(); in = null
          }
          if (!fileIter.hasNext) return false
          val (p, id) = fileIter.next()
          val hPath = new HPath(p)
          val fs = hPath.getFileSystem(confCarrier.value)
          in = new LineReader(ManifestCorpusSource.openRaw(fs, hPath),
            ManifestCorpusSource.LineBufferBytes)
          curPath = UTF8String.fromString(p)
          curId = id
        }
        false
      }

      // reused across get() calls — Spark copies rows it retains, so a
      // fresh allocation per corpus line would be pure garbage
      private val row =
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(fields.length)

      override def get(): InternalRow = {
        var i = 0
        while (i < fields.length) {
          fields(i) match {
            case 0 => row.update(i, curId)
            case 1 => row.update(i, curPath)
            case 2 => row.update(i, UTF8String.fromBytes(line))
          }
          i += 1
        }
        row
      }

      override def close(): Unit = if (in != null) { in.close(); in = null }
    }
  }
}
