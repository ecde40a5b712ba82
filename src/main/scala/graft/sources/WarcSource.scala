package graft.sources

import java.io.{BufferedInputStream, ByteArrayOutputStream, EOFException, InputStream}
import java.nio.charset.StandardCharsets
import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 connector for WARC record files — the container
  * format every real crawl corpus ships in (ISO 28500 / WARC 1.1; the
  * public spec at iipc.github.io/warc-specifications). This is the
  * crawl family's REAL front door: round 10's q194–q203 start from a
  * synthesized `html` column; with this source the chain starts from
  * container bytes on disk, exactly like a production ingest.
  *
  * `spark.read.format("warc-records").load(dirOrFile)` yields one row
  * per WARC record:
  * `(warc_file STRING, record_offset LONG, warc_type STRING,
  *   record_id STRING, target_uri STRING, content_type STRING,
  *   content_length LONG, payload BINARY)`
  *
  * Connector discipline (the [[ManifestCorpusSource]] skills):
  *  - **partition packing**: `.warc` / `.warc.gz` files are packed
  *    into byte-balanced input partitions, name-ordered within each
  *    (the [[ManifestCorpusSource]] packer; `maxPartitionBytes`,
  *    default 128 MiB, bounds the mean bin) — a crawl drop of
  *    thousands of files doesn't become thousands of tasks, and one
  *    giant file still gets its own reader. A single WARC file is
  *    never split below file granularity: records are length-prefixed SEQUENTIALLY (and
  *    production WARCs are per-record gzip members), so mid-file seek
  *    points don't exist without an external index — the scale unit
  *    is the file, which is how every public crawl corpus is sharded
  *    anyway (~1 GiB per file).
  *  - **gzip members**: `.warc.gz` reads transparently — each record
  *    its own gzip member (the Common Crawl convention), members
  *    back-to-back, decoded as one stream via GZIPInputStream's
  *    native concatenated-member handling; the writer twin's
  *    `gzip = true` produces exactly that layout.
  *  - **column pruning with payload skip**
  *    (SupportsPushDownRequiredColumns): a query that only counts
  *    record types never MATERIALIZES payload bytes — the reader
  *    `skip()`s `Content-Length` bytes instead of buffering them.
  *    On a 100 TB crawl where headers are <1% of bytes, pruning the
  *    payload is the difference between a metadata query and a full
  *    decompress-and-copy pass.
  *  - **planner statistics** (SupportsReportStatistics): total file
  *    bytes, so a small WARC fixture joined against a big table
  *    broadcasts instead of defaulting to "unknown = huge".
  *  - **fail-fast, loud parsing**: a malformed record (bad magic,
  *    missing Content-Length, truncated payload, missing CRLF CRLF
  *    terminator) aborts with file + byte offset in the message —
  *    never a silently short scan.
  *
  * Writer twin [[WarcSource.writeRecords]]: emits deterministic
  * WARC/1.1 `resource` records (fixed header order, CRLF line ends,
  * `Content-Length` + double-CRLF framing) from a DataFrame, one
  * `.warc` part file per partition via the Hadoop FS of the output
  * path — the fixture builder for specs/queries and a minimal
  * archive sink. Records with a binary payload round-trip exactly
  * (payload bytes are written and length-framed verbatim; CRLFs
  * inside payloads are fine because framing is length-based, not
  * delimiter-based).
  */
class WarcSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "warc-records"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    WarcSource.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table = {
    val path = Option(properties.get("path")).getOrElse(
      throw new IllegalArgumentException("warc-records: .load(<dirOrFile>) is required"))
    val maxBytes = Option(properties.get("maxPartitionBytes")).map(_.toLong)
      .getOrElse(128L << 20)
    new WarcTable(path, maxBytes)
  }
  override def supportsExternalMetadata(): Boolean = false
}

object WarcSource {
  val Schema: StructType = StructType(Seq(
    StructField("warc_file", StringType, nullable = false),
    StructField("record_offset", LongType, nullable = false),
    StructField("warc_type", StringType, nullable = false),
    StructField("record_id", StringType, nullable = false),
    StructField("target_uri", StringType, nullable = true),
    StructField("content_type", StringType, nullable = true),
    StructField("content_length", LongType, nullable = false),
    StructField("payload", BinaryType, nullable = false)))

  private val Crlf = "\r\n".getBytes(StandardCharsets.US_ASCII)

  /** One WARC/1.1 resource record, byte-deterministic: fixed header
    * order, CRLF line ends, length-framed payload, double-CRLF
    * terminator. Null target_uri/content_type omit their header line
    * (the spec's optional headers). */
  private[sources] def recordBytes(recordId: String, warcType: String,
      targetUri: String, contentType: String, payload: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream(payload.length + 256)
    def line(s: String): Unit = {
      out.write(s.getBytes(StandardCharsets.UTF_8)); out.write(Crlf)
    }
    line("WARC/1.1")
    line(s"WARC-Type: $warcType")
    line(s"WARC-Record-ID: $recordId")
    if (targetUri != null) line(s"WARC-Target-URI: $targetUri")
    if (contentType != null) line(s"Content-Type: $contentType")
    line(s"Content-Length: ${payload.length}")
    out.write(Crlf)
    out.write(payload)
    out.write(Crlf); out.write(Crlf)
    out.toByteArray
  }

  /** Write `df` as WARC part files under `outDir` — one
    * `part-NNNNN.warc` (or `.warc.gz`) per non-empty partition,
    * through the Hadoop FS of the output path. Expects columns
    * `(record_id STRING, warc_type STRING, target_uri STRING,
    *   content_type STRING, payload BINARY)`; within-file record
    * order is the partition's row order, so a sorted/range-partitioned
    * input produces bit-deterministic archives.
    *
    * `gzip = true` writes EACH RECORD AS ITS OWN GZIP MEMBER
    * (header + deflate + trailer per record, members back-to-back) —
    * the production WARC convention (ISO 28500 annex; what Common
    * Crawl etc. ship): per-record members are what make record-level
    * random access possible given an external offset index, and are
    * why a `.warc.gz` can never be split mid-file without one. */
  def writeRecords(df: DataFrame, outDir: String, gzip: Boolean = false,
      cdxIndex: Boolean = false): Unit = {
    val spark = df.sparkSession
    val confCarrier = new SerializableHadoopConf(
      spark.sparkContext.hadoopConfiguration)
    val root = new HPath(outDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.mkdirs(root))
      throw new java.io.IOException(s"warc-records: cannot create $outDir")
    import org.apache.spark.sql.functions.col
    val ext = if (gzip) "warc.gz" else "warc"
    df.select(col("record_id"), col("warc_type"), col("target_uri"),
        col("content_type"), col("payload"))
      .rdd.mapPartitionsWithIndex { (pid, it) =>
        if (it.isEmpty) Iterator.empty
        else {
          val partName = f"part-$pid%05d.$ext"
          val p = new HPath(outDir, partName)
          val pfs = p.getFileSystem(confCarrier.value)
          val raw = pfs.create(p, true)
          // CDX-STYLE OFFSET INDEX (round 12 — the Common Crawl cdx
          // recipe): per-record gzip members exist precisely to enable
          // record-level random access, and the index is what turns
          // that possibility into reads. One `<name>.cdx` sibling per
          // part file, one line per record:
          //   urlenc(record_id) partFileName offset length
          // where offset/length are the member's COMPRESSED byte range
          // (for plain .warc: the record's raw byte range) — exactly
          // what a ranged GET needs. The counter wraps the part stream
          // so offsets describe what actually landed.
          val out = if (cdxIndex) new CountingOutputStream(raw) else raw
          val idxLines = if (cdxIndex) new StringBuilder else null
          def pos: Long = out match {
            case c: CountingOutputStream => c.count
            case _ => 0L
          }
          try it.foreach { r =>
            val rid = r.getString(0)
            val rec = recordBytes(rid, r.getString(1),
              if (r.isNullAt(2)) null else r.getString(2),
              if (r.isNullAt(3)) null else r.getString(3),
              r.getAs[Array[Byte]](4))
            val startAt = pos
            if (gzip) {
              // one INDEPENDENT member per record: construct writes the
              // member header, close() the trailer AND the Deflater —
              // finish() alone leaks a native Deflater per record until
              // GC (heavy native-memory churn on large archives). The
              // close-shield keeps the member close from closing the
              // underlying part stream between members.
              val gz = new java.util.zip.GZIPOutputStream(new CloseShield(out))
              gz.write(rec); gz.close()
            } else out.write(rec)
            if (cdxIndex) {
              val enc = java.net.URLEncoder.encode(rid, StandardCharsets.UTF_8)
              idxLines.append(s"$enc $partName $startAt ${pos - startAt}\n"): Unit
            }
          } finally out.close()
          if (cdxIndex) {
            val ip = new HPath(outDir, partName + ".cdx")
            val iout = pfs.create(ip, true)
            try iout.write(idxLines.toString.getBytes(StandardCharsets.UTF_8))
            finally iout.close()
          }
          Iterator.single(pid)
        }
      }.count(): Unit
  }

  /** Convenience reader (the `spark.read.format(...)` spelling). */
  def read(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    spark.read.format("warc-records").load(dir)

  /** The cdx-style offset index written by [[writeRecords]] with
    * `cdxIndex = true`: one row per record,
    * `(record_id STRING, warc_file STRING, offset LONG, length LONG)`
    * where (offset, length) is the record's byte range in its part
    * file — the compressed gzip-member range for `.warc.gz`, the raw
    * record range for plain `.warc`. Tiny text files (a ~60-byte line
    * per record ≈ 0.006% of a crawl's bytes), read through the normal
    * distributed text scan. */
  def readIndex(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val p = new HPath(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val idxFiles = fs.listStatus(p).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".cdx"))
      .map(_.getPath.toString)
    require(idxFiles.nonEmpty,
      s"warc-records: no .cdx index under $dir — write with cdxIndex = true")
    cdxEntries(spark, idxFiles).drop("idx_file")
  }

  /** The one cdx line parser, behind [[readIndex]] and the scan's point
    * lookup ([[WarcScan]]): each `urlenc(id) part offset length` line of
    * `idxFiles` as `(record_id, warc_file, offset, length, idx_file)`,
    * `idx_file` being the index file the line came from. A distributed
    * text scan, so an archive's index never lands on the driver. */
  private[sources] def cdxEntries(spark: org.apache.spark.sql.SparkSession,
      idxFiles: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.{col, input_file_name, split, udf}
    val dec = udf((s: String) =>
      java.net.URLDecoder.decode(s, StandardCharsets.UTF_8))
    spark.read.textFile(idxFiles: _*)
      .select(split(col("value"), " ").as("t"), input_file_name().as("idx_file"))
      .select(dec(col("t").getItem(0)).as("record_id"),
        col("t").getItem(1).as("warc_file"),
        col("t").getItem(2).cast("long").as("offset"),
        col("t").getItem(3).cast("long").as("length"),
        col("idx_file"))
  }

  /** Parse ONE complete WARC record from `bytes` (exactly the framing
    * [[recordBytes]] emits / a single decoded gzip member carries) into
    * its raw fields (warc_type, record_id, target_uri, content_type,
    * content_length, payload) for the point-partition reader. Loud,
    * file+offset diagnostics like the streaming parser. */
  private[sources] def parseSingleFields(bytes: Array[Byte], file: String,
      offset: Long): (String, String, String, String, Long, Array[Byte]) = {
    def fail(msg: String): Nothing =
      sys.error(s"warc-records: $msg in $file at cdx offset $offset")
    // header block ends at the first CRLF CRLF
    var hEnd = -1
    var i = 0
    while (hEnd < 0 && i + 3 < bytes.length) {
      if (bytes(i) == '\r' && bytes(i + 1) == '\n' &&
          bytes(i + 2) == '\r' && bytes(i + 3) == '\n') hEnd = i
      i += 1
    }
    if (hEnd < 0) fail("no header terminator (CRLF CRLF)")
    val lines = new String(bytes, 0, hEnd, StandardCharsets.UTF_8).split("\r\n")
    if (lines.isEmpty || !lines(0).startsWith("WARC/"))
      fail(s"bad record magic '${lines.headOption.getOrElse("")}'")
    var tpe: String = null; var id: String = null; var uri: String = null
    var ct: String = null; var len = -1L
    lines.drop(1).foreach { line =>
      val c = line.indexOf(':')
      if (c < 0) fail(s"malformed header line '$line'")
      val k = line.substring(0, c).trim.toLowerCase(java.util.Locale.ROOT)
      val v = line.substring(c + 1).trim
      k match {
        case "warc-type" => tpe = v
        case "warc-record-id" => id = v
        case "warc-target-uri" => uri = v
        case "content-type" => ct = v
        case "content-length" => len = v.toLong
        case _ => ()
      }
    }
    if (len < 0) fail("record missing Content-Length")
    if (tpe == null || id == null) fail("record missing WARC-Type/WARC-Record-ID")
    val pStart = hEnd + 4
    if (pStart + len + 4 > bytes.length)
      fail(s"truncated payload (member carries ${bytes.length - pStart - 4} of $len bytes)")
    val payload = java.util.Arrays.copyOfRange(bytes, pStart, pStart + len.toInt)
    if (bytes(pStart + len.toInt) != '\r' || bytes(pStart + len.toInt + 1) != '\n' ||
        bytes(pStart + len.toInt + 2) != '\r' || bytes(pStart + len.toInt + 3) != '\n')
      fail("record missing CRLF CRLF terminator")
    (tpe, id, uri, ct, len, payload)
  }

  /** Read + decode ONE indexed member range: positioned ranged read of
    * `length` bytes at `offset`, gunzip for `.gz` files, parse — the
    * point-partition reader's one record fetch. */
  private[sources] def readMemberFields(in: org.apache.hadoop.fs.FSDataInputStream,
      file: String, offset: Long, length: Long)
      : (String, String, String, String, Long, Array[Byte]) = {
    require(length <= Int.MaxValue - 16,
      s"warc-records: cdx length $length for $file@$offset exceeds 2 GiB")
    val buf = new Array[Byte](length.toInt)
    in.readFully(offset, buf)
    val recBytes =
      if (file.endsWith(".gz")) {
        val gz = new java.util.zip.GZIPInputStream(
          new java.io.ByteArrayInputStream(buf))
        try gz.readAllBytes() finally gz.close()
      } else buf
    parseSingleFields(recBytes, file, offset)
  }

  /** Byte counter for the cdx offsets — wraps the part stream so
    * recorded offsets describe the bytes that actually landed. */
  private final class CountingOutputStream(underlying: java.io.OutputStream)
      extends java.io.OutputStream {
    var count: Long = 0L
    override def write(b: Int): Unit = { underlying.write(b); count += 1 }
    override def write(b: Array[Byte], off: Int, len: Int): Unit = {
      underlying.write(b, off, len); count += len
    }
    override def flush(): Unit = underlying.flush()
    override def close(): Unit = underlying.close()
  }

  /** Shields an underlying stream from a wrapper's close(): the
    * per-member GZIPOutputStream must release its Deflater via close()
    * without closing the part file it shares with the next member.
    * (Not FilterOutputStream: its array write() degrades to
    * byte-at-a-time — the deflate buffer flushes must pass through as
    * single array writes.) */
  private final class CloseShield(underlying: java.io.OutputStream)
      extends java.io.OutputStream {
    override def write(b: Int): Unit = underlying.write(b)
    override def write(b: Array[Byte], off: Int, len: Int): Unit =
      underlying.write(b, off, len)
    override def flush(): Unit = underlying.flush()
    override def close(): Unit = underlying.flush() // the shield
  }
}

class WarcTable(path: String, maxBytes: Long) extends Table with SupportsRead {
  override def name(): String = s"warc_records(`$path`)"
  override def schema(): StructType = WarcSource.Schema
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new WarcScanBuilder(path, maxBytes)
}

/** Filter pushdown (round 12): `record_id` equality/IN predicates are
  * captured as an ACCESS-PATH HINT — when every data file carries its
  * cdx sibling ([[WarcSource.writeRecords]] `cdxIndex = true`), the
  * scan plans POINT partitions (seek + ranged member reads) instead of
  * full-file scans, so `spark.read.format("warc-records").load(dir)
  * .filter($"record_id".isin(...))` fetches K records with O(K) ranged
  * reads (seek + gunzip of one member each) instead of inflating the
  * archive — the read pattern per-record gzip members exist for. Every
  * filter is also returned as residual:
  * Spark re-applies them row-level, so the pushdown is never the
  * correctness carrier (missing/partial indexes just fall back to the
  * full scan — the ManifestCorpusSource discipline). */
class WarcScanBuilder(path: String, maxBytes: Long)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownFilters
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {
  import org.apache.spark.sql.sources.{EqualTo, Filter, In}
  private var required: StructType = WarcSource.Schema
  private var pointIds: Option[Seq[String]] = None
  private var pushedArr: Array[Filter] = Array.empty
  private var countViaIndex = false

  /** AGGREGATE PUSHDOWN, COUNT(*) ONLY (round 12): `SELECT count(*)`
    * over an archive is answered from the cdx INDEX — one line per
    * record by construction — without inflating a single payload byte.
    * PARTIAL pushdown (supportCompletePushDown stays false): each
    * partition returns its file's line count and Spark's final agg
    * merges them, so the pushdown composes with whatever sits above.
    * Served only when NO filter survived pushdown (a residual filter
    * means rows must be materialized to evaluate it — counting the
    * index would be WRONG, not just slow) and every data file carries
    * its index sibling; otherwise declined and Spark counts the
    * ordinary row scan. */
  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    import org.apache.spark.sql.connector.expressions.aggregate.CountStar
    val isBareCountStar = agg.groupByExpressions.isEmpty &&
      agg.aggregateExpressions.length == 1 &&
      agg.aggregateExpressions()(0).isInstanceOf[CountStar]
    if (!isBareCountStar || pointIds.nonEmpty || pushedArr.nonEmpty) false
    else {
      countViaIndex = try {
        val p = new HPath(path)
        val fs = p.getFileSystem(graft.operators.InvertedIndex.activeHadoopConf())
        val st = fs.getFileStatus(p)
        val files =
          if (st.isFile) Seq(st)
          else fs.listStatus(p).toSeq.filter(s => s.isFile &&
            (s.getPath.getName.endsWith(".warc") ||
              s.getPath.getName.endsWith(".warc.gz")))
        files.nonEmpty &&
          files.forall(s => fs.exists(new HPath(s.getPath.toString + ".cdx")))
      } catch { case scala.util.control.NonFatal(_) => false }
      countViaIndex
    }
  }
  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val idSets: Seq[Seq[String]] = filters.toSeq.collect {
      case EqualTo("record_id", v: String) => Seq(v)
      case In("record_id", vs) if vs.nonEmpty && vs.forall(_.isInstanceOf[String]) =>
        vs.toSeq.map(_.asInstanceOf[String])
    }
    if (idSets.nonEmpty) {
      // several record_id predicates AND together ⇒ intersect their sets
      pointIds = Some(idSets.reduce(_ intersect _).distinct)
      pushedArr = filters.filter {
        case EqualTo("record_id", _) => true
        case In("record_id", _) => true
        case _ => false
      }
    }
    filters // ALL residual — re-applied row-level, pushdown is a hint
  }
  override def pushedFilters(): Array[Filter] = pushedArr
  override def build(): Scan =
    if (countViaIndex) new WarcCountScan(path)
    else new WarcScan(path, maxBytes, required, pointIds)
}

case class WarcFilesPartition(files: Seq[String]) extends InputPartition

/** One pushed-count partition: a single cdx index file to line-count. */
case class WarcCountPartition(idxFile: String) extends InputPartition

/** The COUNT(*)-pushdown scan: one partition per part file, each
  * emitting ONE row — the line count of that file's cdx sibling (one
  * line per record by the writer's construction). The archive itself
  * is never opened: at crawl scale that is the difference between a
  * metadata read (KBs of index) and a full decompress (TBs). */
class WarcCountScan(path: String) extends Scan with Batch {
  private val confCarrier =
    new SerializableHadoopConf(graft.operators.InvertedIndex.activeHadoopConf())
  override def readSchema(): StructType =
    StructType(Seq(StructField("count(*)", org.apache.spark.sql.types.LongType, false)))
  override def toBatch: Batch = this
  override def description(): String =
    s"warc-records $path, pushed_agg=count_star_via_cdx"
  override def planInputPartitions(): Array[InputPartition] = {
    val p = new HPath(path)
    val fs = p.getFileSystem(confCarrier.value)
    val st = fs.getFileStatus(p)
    val files =
      if (st.isFile) Seq(st)
      else fs.listStatus(p).toSeq.filter(s => s.isFile &&
        (s.getPath.getName.endsWith(".warc") ||
          s.getPath.getName.endsWith(".warc.gz")))
    files.sortBy(_.getPath.getName)
      .map(s => WarcCountPartition(s.getPath.toString + ".cdx"): InputPartition)
      .toArray
  }
  override def createReaderFactory(): PartitionReaderFactory = {
    val carrier = confCarrier
    new PartitionReaderFactory {
      override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
        val idx = partition.asInstanceOf[WarcCountPartition].idxFile
        new PartitionReader[InternalRow] {
          private var done = false
          override def next(): Boolean = !done
          override def get(): InternalRow = {
            done = true
            val fs = new HPath(idx).getFileSystem(carrier.value)
            val in = fs.open(new HPath(idx))
            var n = 0L
            try {
              val buf = new Array[Byte](64 * 1024)
              var r = in.read(buf)
              while (r > 0) {
                var i = 0
                while (i < r) { if (buf(i) == '\n') n += 1; i += 1 }
                r = in.read(buf)
              }
            } finally in.close()
            InternalRow(n)
          }
          override def close(): Unit = ()
        }
      }
    }
  }
}

/** A planned point read: (offset, length) member ranges within one
  * part file, from the cdx index. */
case class WarcPointPartition(file: String, ranges: Seq[(Long, Long)])
    extends InputPartition

class WarcScan(path: String, maxBytes: Long, required: StructType,
    pointIds: Option[Seq[String]] = None)
    extends Scan with Batch with SupportsReportStatistics {

  private val confCarrier =
    new SerializableHadoopConf(graft.operators.InvertedIndex.activeHadoopConf())

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"warc-records $path, cols=${required.fieldNames.mkString(",")}" +
      pointHits.map(h => s", point_lookup=${h.size}").getOrElse("")

  /** (path, size) of every .warc under `path` (or `path` itself if a
    * file), NAME-SORTED for deterministic partition planning. Lazy +
    * shared between stats and partition planning — one listing. */
  private lazy val stattedFiles: Seq[(String, Long)] = {
    val p = new HPath(path)
    val fs = p.getFileSystem(confCarrier.value)
    val st = fs.getFileStatus(p) // missing path fails HERE, at planning
    val files =
      if (st.isFile) Seq(st)
      else fs.listStatus(p).toSeq.filter(s => s.isFile &&
        (s.getPath.getName.endsWith(".warc") ||
          s.getPath.getName.endsWith(".warc.gz")))
    files.sortBy(_.getPath.getName)
      .map(s => (s.getPath.toString, math.max(1L, s.getLen)))
  }

  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(stattedFiles.map(_._2).sum)
    override def numRows(): java.util.OptionalLong = java.util.OptionalLong.empty()
  }

  /** Point hits (file, offset, length) for pushed record_id filters,
    * resolved through the cdx index at PLAN time — None when no ids
    * were pushed, any data file lacks its index sibling, or the probe
    * fails for any reason (fall back to the full scan: pushdown is an
    * access path, never the correctness carrier). The index probe is a
    * distributed text scan ([[WarcSource.cdxEntries]]) + broadcast id
    * join, so a billion-record archive's index never lands on the
    * driver; only the K hits do. */
  private lazy val pointHits: Option[Seq[(String, Long, Long)]] =
    pointIds.flatMap { ids =>
      try {
        val fs = new HPath(path).getFileSystem(confCarrier.value)
        val idxFiles = stattedFiles.map(_._1 + ".cdx")
        if (stattedFiles.isEmpty ||
            !idxFiles.forall(f => fs.exists(new HPath(f)))) None
        else {
          val spark = org.apache.spark.sql.SparkSession.active
          import org.apache.spark.sql.functions.broadcast
          import spark.implicits._
          val hits = WarcSource.cdxEntries(spark, idxFiles)
            .join(broadcast(ids.toDF("record_id")), Seq("record_id"))
            .select("idx_file", "offset", "length")
            .collect()
            .map(r => (r.getString(0).stripSuffix(".cdx"),
              r.getLong(1), r.getLong(2)))
          Some(hits.toSeq)
        }
      } catch { case scala.util.control.NonFatal(_) => None }
    }

  override def planInputPartitions(): Array[InputPartition] = pointHits match {
    case Some(hits) =>
      // one partition per touched file, ranges offset-sorted so seeks
      // advance monotonically; zero hits plans zero partitions
      hits.groupBy(_._1).toSeq.sortBy(_._1).map { case (f, hs) =>
        WarcPointPartition(f, hs.map(h => (h._2, h._3)).sortBy(_._1))
      }.toArray
    case None =>
      ManifestCorpusSource.packBalanced(stattedFiles, maxBytes)
        .map(WarcFilesPartition(_)).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new WarcReaderFactory(required, confCarrier)

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new WarcMicroBatchStream(path, maxBytes, required, confCarrier)
}

/** Streaming offset for the WARC landing-directory source: the
  * lexically-largest file name processed so far ("" before any). */
case class WarcOffset(lastFile: String)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String =
    s"""{"lastFile":"${lastFile.replace("\\", "\\\\").replace("\"", "\\\"")}"}"""
}

/** MICRO-BATCH STREAM over a WARC landing directory — the crawl
  * pipeline's continuous front door: fetchers drop `.warc(.gz)` files
  * into a directory; each micro-batch picks up every file that landed
  * since the last committed offset and parses its records through the
  * same [[WarcReaderFactory]] the batch scan uses (one parser, two
  * execution modes).
  *
  * Offset model: files are tracked by NAME, and the offset is the
  * lexically-largest name processed so far — a batch reads
  * `(lastFile, newLastFile]` in name order. The documented contract:
  * **drops must be append-only with monotonically increasing names**
  * (`part-00042.warc`, timestamp prefixes — the universal crawl-drop
  * convention; our own [[WarcSource.writeRecords]] emits exactly
  * that). A file landing with a name BELOW the committed offset is
  * ignored, by design — the alternative (a seen-files map, Spark's
  * FileStreamSource approach) scales the checkpoint with file count;
  * the monotone-name contract keeps the offset O(1) at any corpus
  * size, which is the right trade for a 100 TB landing zone. Files
  * are never deleted by the source (`commit` is a no-op); retention
  * is the landing zone's own policy. */
class WarcMicroBatchStream(path: String, maxBytes: Long,
    required: StructType, confCarrier: SerializableHadoopConf)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream {
  import org.apache.spark.sql.connector.read.streaming.Offset

  private def listFiles(): Seq[(String, Long)] = {
    val p = new HPath(path)
    val fs = p.getFileSystem(confCarrier.value)
    if (!fs.exists(p)) Seq.empty
    else {
      val st = fs.getFileStatus(p)
      val files =
        if (st.isFile) Seq(st)
        else fs.listStatus(p).toSeq.filter(s => s.isFile &&
          (s.getPath.getName.endsWith(".warc") ||
            s.getPath.getName.endsWith(".warc.gz")))
      files.sortBy(_.getPath.getName)
        .map(s => (s.getPath.toString, math.max(1L, s.getLen)))
    }
  }
  private def nameOf(full: String): String = new HPath(full).getName

  override def initialOffset(): Offset = WarcOffset("")
  override def latestOffset(): Offset =
    WarcOffset(listFiles().lastOption.map(f => nameOf(f._1)).getOrElse(""))
  override def deserializeOffset(json: String): Offset =
    WarcOffset(""""lastFile":\s*"((?:[^"\\]|\\.)*)"""".r.findFirstMatchIn(json)
      .map(m => m.group(1).replace("\\\"", "\"").replace("\\\\", "\\"))
      .getOrElse(sys.error(s"warc-records: malformed offset json '$json'")))

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[WarcOffset].lastFile
    val e = end.asInstanceOf[WarcOffset].lastFile
    val batchFiles = listFiles().filter { case (f, _) =>
      val n = nameOf(f); n > s && n <= e }
    ManifestCorpusSource.packBalanced(batchFiles, maxBytes)
      .map(WarcFilesPartition(_)).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new WarcReaderFactory(required, confCarrier)
  override def commit(end: Offset): Unit = () // files stay; retention is the landing zone's policy
  override def stop(): Unit = ()
}

class WarcReaderFactory(required: StructType, confCarrier: SerializableHadoopConf)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    partition match {
      case p: WarcPointPartition => pointReader(p)
      case p: WarcFilesPartition => scanReader(p.files)
      case other => throw new IllegalArgumentException(
        s"warc-records: unexpected partition ${other.getClass.getName}")
    }

  /** Indexed point reads: one positioned ranged read + single-member
    * decode per hit — never touches the rest of the file. */
  private def pointReader(p: WarcPointPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private val fields: Array[Int] =
        required.fieldNames.map(WarcSource.Schema.fieldIndex)
      private val row = new org.apache.spark.sql.catalyst.expressions
        .GenericInternalRow(fields.length)
      private lazy val in = {
        val fp = new HPath(p.file)
        fp.getFileSystem(confCarrier.value).open(fp)
      }
      private val it = p.ranges.iterator
      private var cur: (String, String, String, String, Long, Array[Byte]) = _
      private var curOffset = 0L
      override def next(): Boolean = {
        if (!it.hasNext) false
        else {
          val (off, len) = it.next()
          curOffset = off
          cur = WarcSource.readMemberFields(in, p.file, off, len)
          true
        }
      }
      override def get(): InternalRow = {
        var i = 0
        while (i < fields.length) {
          fields(i) match {
            case 0 => row.update(i, UTF8String.fromString(p.file))
            case 1 => row.update(i, curOffset)
            case 2 => row.update(i, UTF8String.fromString(cur._1))
            case 3 => row.update(i, UTF8String.fromString(cur._2))
            case 4 => row.update(i,
              if (cur._3 == null) null else UTF8String.fromString(cur._3))
            case 5 => row.update(i,
              if (cur._4 == null) null else UTF8String.fromString(cur._4))
            case 6 => row.update(i, cur._5)
            case 7 => row.update(i, cur._6)
          }
          i += 1
        }
        row
      }
      override def close(): Unit = in.close()
    }

  private def scanReader(files: Seq[String]): PartitionReader[InternalRow] = {
    new PartitionReader[InternalRow] {
      private val fields: Array[Int] =
        required.fieldNames.map(WarcSource.Schema.fieldIndex)
      // payload pruned away ⇒ skip Content-Length bytes, never buffer
      private val needPayload = fields.contains(7)
      // pruned-path discard buffer (shared per reader, zero per-record
      // allocation) and the size above which a real seek-skip wins
      private val SkipSeekThreshold = 1 << 20
      private lazy val scratch = new Array[Byte](64 * 1024)

      private val fileIter = files.iterator
      private var in: BufferedInputStream = _
      private var curFile: UTF8String = _
      private var pos: Long = 0L // byte position in the current file

      // current record's fields
      private var recOffset = 0L
      private var recType: UTF8String = _
      private var recId: UTF8String = _
      private var recUri: UTF8String = _ // null if absent
      private var recCt: UTF8String = _ // null if absent
      private var recLen = 0L
      private var recPayload: Array[Byte] = _

      private def fail(msg: String): Nothing =
        throw new java.io.IOException(
          s"warc-records: $msg at $curFile offset $pos")

      private def readByte(): Int = { val b = in.read(); if (b >= 0) pos += 1; b }

      /** One CRLF-terminated header line as a String (headers are
        * ASCII/UTF-8 text; payload bytes never go through here). */
      private def readLine(): String = {
        val buf = new ByteArrayOutputStream(96)
        var b = readByte()
        while (b != -1 && b != '\r') { buf.write(b); b = readByte() }
        if (b == -1) fail("unexpected EOF inside header line")
        if (readByte() != '\n') fail("CR not followed by LF in header")
        new String(buf.toByteArray, StandardCharsets.UTF_8)
      }

      /** Parse ONE record at the current position; false at clean EOF. */
      private def parseRecord(): Boolean = {
        val first = readByte()
        if (first == -1) return false // clean EOF between records
        recOffset = pos - 1
        val magic = (first.toChar +: Iterator.continually(readByte())
          .takeWhile(b => b != -1 && b != '\r').map(_.toChar).toSeq).mkString
        if (!magic.startsWith("WARC/")) fail(s"bad record magic '$magic'")
        if (readByte() != '\n') fail("CR not followed by LF after version")
        var tpe: String = null; var id: String = null; var uri: String = null
        var ct: String = null; var len = -1L
        var line = readLine()
        while (line.nonEmpty) {
          val i = line.indexOf(':')
          if (i < 0) fail(s"malformed header line '$line'")
          val k = line.substring(0, i).trim.toLowerCase(java.util.Locale.ROOT)
          val v = line.substring(i + 1).trim
          k match {
            case "warc-type" => tpe = v
            case "warc-record-id" => id = v
            case "warc-target-uri" => uri = v
            case "content-type" => ct = v
            case "content-length" => len = v.toLong
            case _ => // unknown headers pass through (the spec allows any)
          }
          line = readLine()
        }
        if (len < 0) fail("record missing Content-Length")
        // this reader materializes a payload as one Array[Byte]: a
        // Content-Length at/over 2 GiB would wrap the Int allocation and
        // surface as a confusing NegativeArraySize/IndexOutOfBounds —
        // fail loudly with file+offset like every other malformed record
        if (len > Int.MaxValue - 16)
          fail(s"Content-Length $len exceeds the 2 GiB single-record " +
            "materialization limit")
        if (tpe == null || id == null) fail("record missing WARC-Type/WARC-Record-ID")
        if (needPayload) {
          val buf = new Array[Byte](len.toInt)
          var off = 0
          while (off < len) {
            val n = in.read(buf, off, (len - off).toInt)
            if (n < 0) fail(s"truncated payload (read $off of $len bytes)")
            off += n; pos += n
          }
          recPayload = buf
        } else {
          // pruned payload: ADAPTIVE skip. Small payloads read-discard
          // through a shared scratch buffer — an underlying skip()
          // degenerates to one seek syscall PER RECORD, which on a warm
          // page cache is SLOWER than sequentially reading the bytes
          // (measured: a 50k-record metadata scan with seek-per-8KiB
          // -payload ran 0.74x the full read). Large payloads
          // (≥ SkipSeekThreshold) use the underlying skip, where one
          // seek replaces megabytes of memcpy and wins everywhere.
          var left = len
          if (len >= SkipSeekThreshold) {
            while (left > 0) {
              val n = in.skip(left)
              if (n > 0) { left -= n; pos += n }
              else if (readByte() == -1) fail(s"truncated payload (skip)")
              else left -= 1
            }
          } else {
            while (left > 0) {
              val n = in.read(scratch, 0, math.min(left, scratch.length.toLong).toInt)
              if (n < 0) fail(s"truncated payload (discard: $left of $len bytes left)")
              left -= n; pos += n
            }
          }
          recPayload = null
        }
        if (readByte() != '\r' || readByte() != '\n' ||
            readByte() != '\r' || readByte() != '\n')
          fail("record not terminated by CRLF CRLF")
        recType = UTF8String.fromString(tpe)
        recId = UTF8String.fromString(id)
        recUri = if (uri == null) null else UTF8String.fromString(uri)
        recCt = if (ct == null) null else UTF8String.fromString(ct)
        recLen = len
        true
      }

      override def next(): Boolean = {
        while (true) {
          if (in != null) {
            if (parseRecord()) return true
            in.close(); in = null
          }
          if (!fileIter.hasNext) return false
          val f = fileIter.next()
          val hPath = new HPath(f)
          val fs = hPath.getFileSystem(confCarrier.value)
          val raw = new BufferedInputStream(ManifestCorpusSource.openRaw(fs, hPath))
          // per-record gzip members: java's GZIPInputStream reads
          // concatenated members transparently, so the whole file
          // parses as one decompressed stream; record_offset then
          // counts DECOMPRESSED bytes (an offset index over a .warc.gz
          // keys on compressed member starts — out of scope here)
          in =
            if (f.endsWith(".warc.gz"))
              new BufferedInputStream(new java.util.zip.GZIPInputStream(raw))
            else raw
          curFile = UTF8String.fromString(f)
          pos = 0L
        }
        false
      }

      private val row =
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(fields.length)

      override def get(): InternalRow = {
        var i = 0
        while (i < fields.length) {
          fields(i) match {
            case 0 => row.update(i, curFile)
            case 1 => row.update(i, recOffset)
            case 2 => row.update(i, recType)
            case 3 => row.update(i, recId)
            case 4 => row.update(i, recUri)
            case 5 => row.update(i, recCt)
            case 6 => row.update(i, recLen)
            case 7 => row.update(i, recPayload)
          }
          i += 1
        }
        row
      }

      override def close(): Unit = if (in != null) { in.close(); in = null }
    }
  }
}
