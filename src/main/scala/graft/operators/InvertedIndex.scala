package graft.operators

import java.io.{File, PrintWriter}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.plans.TextNormExprs

/** The reference engine's one end-to-end job (`/root/reference/src/main.cc`):
  * an inverted index over a corpus of text files.
  *
  * Semantics (SURVEY §2.1 O1–O16, golden-tested against the reference's
  * committed `checker` outputs): for every distinct alphabetic word across N
  * input files, emit the ascending list of 1-based file IDs containing
  * it; bucket by first letter into 26 files `a.txt`…`z.txt` (empty
  * letters materialize as 0-byte files); within each file order lines by
  * (containing-file count DESC, word ASC); format `word:[id1 id2 …]`.
  *
  * Spark mapping: manifest → driver-side (path, id) table (metadata, not
  * data); text scan + whitespace explode (O2); normalize `lower` +
  * strip `[^a-z]` (O3–O4, byte-faithful to `src/main.cc:33-42,75`);
  * empty-token filter (O5). The map-side combine (O6) is per file, like
  * the reference mapper's one word set per file: the scan emits a
  * file's lines as one run, and [[graft.plans.TextNormExprs.FirstInRunExpr]]
  * drops the words already seen in that run before the explode, so the
  * shuffle's partial aggregate sees each (file, word) pair about once
  * instead of once per occurrence. `collect_set` then does the global
  * dedup (O8) in the shuffle's partial/final aggregates, so output never
  * depends on how complete the combine was;
  * `groupBy(word).agg(sort_array(collect_set))` is the
  * reduce (O12, sort deferred to projection like `src/main.cc:143`);
  * letter bucketing + per-partition ordered write is the sink (O13).
  * The mutexes/barriers of the reference become shuffle boundaries; its
  * dynamic task queue is the Spark scheduler (O15–O16).
  */
object InvertedIndex {

  /** Manifest format (`src/main.cc:178-197`): line 1 = N, then N file
    * paths relative to the manifest's directory; 1-based position is the
    * file ID. Driver-side read — the manifest is metadata. Reads
    * through the Hadoop FileSystem API (explicit UTF-8), so a manifest
    * on HDFS/S3 works the same as a local one; scheme-less local paths
    * keep their `java.io` canonical form. */
  def readManifest(manifestPath: String,
      conf: org.apache.hadoop.conf.Configuration = InvertedIndex.activeHadoopConf()): Seq[(String, Int)] = {
    val mPath = new org.apache.hadoop.fs.Path(manifestPath)
    val fs = mPath.getFileSystem(conf)
    val in = new java.io.BufferedReader(new java.io.InputStreamReader(
      fs.open(mPath), java.nio.charset.StandardCharsets.UTF_8))
    try {
      val lines = Iterator.continually(in.readLine()).takeWhile(_ != null).toVector
      val n = lines.head.trim.toInt
      val localBase = new File(manifestPath).getAbsoluteFile.getParent
      val hadoopBase = mPath.getParent
      lines.slice(1, n + 1).zipWithIndex.map { case (rel, i) =>
        val p = new org.apache.hadoop.fs.Path(hadoopBase, rel.trim)
        val resolved =
          if (p.toUri.getScheme == null) new File(localBase, rel.trim).getCanonicalPath
          else p.toString
        (resolved, i + 1)
      }
    } finally in.close()
  }

  /** The active session's Hadoop conf (credentials, FS settings) when
    * one exists; a default conf otherwise (bare tooling contexts). */
  private[graft] def activeHadoopConf(): org.apache.hadoop.conf.Configuration =
    SparkSession.getActiveSession
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new org.apache.hadoop.conf.Configuration())

  /** Index core from a scanned corpus `(file_id, value)`: returns
    * (word, letter, ids, cnt, line). `ids` ascending, `cnt` = number of
    * containing files. */
  def buildIndexFrom(corpus: DataFrame): DataFrame =
    buildIndexFrom(corpus, TextNormExprs.FirstInRunCap)

  /** [[buildIndexFrom]] with the per-file combine's word cap given;
    * specs lower it to make the combine clear mid-file. */
  private[graft] def buildIndexFrom(corpus: DataFrame, runCap: Int): DataFrame =
    corpus
      // tokenize+normalize+empty-filter in ONE native pass per line,
      // then keep only the words new to this line's file run (the map-
      // side combine, O6): an in-file repeat never reaches the explode
      .select(col("file_id"), explode(TextNormExprs.firstInRun(col("file_id"),
        TextFunctions.normalizedWords(col("value")), runCap)).as("word"))
      // collect_set dedups whatever (word, file) repeats got through the
      // combine: a file split over partitions, or a run's cap clear
      .groupBy("word")
      .agg(sort_array(collect_set(col("file_id"))).as("ids"))
      .select(col("word"), substring(col("word"), 1, 1).as("letter"), col("ids"),
        size(col("ids")).as("cnt"),
        concat(col("word"), lit(":["), concat_ws(" ", col("ids")), lit("]")).as("line"))

  /** Index build straight from a manifest through the DataSource V2
    * connector ([[graft.sources.ManifestCorpusSource]]): the reader
    * stamps file ids itself (no scan-path decode + broadcast join) and
    * size-packs the corpus files into input partitions. */
  def buildIndexFromManifest(spark: SparkSession, manifestPath: String): DataFrame =
    buildIndexFrom(spark.read.format("manifest-corpus").load(manifestPath)
      .select("file_id", "value"))

  /** Reference-exact sink: one `<letter>.txt` per letter a–z under
    * `outDir`, lines ordered (cnt DESC, word ASC), empty letters as
    * 0-byte files.
    *
    * All heavy work (tokenize/dedup/group) stays distributed; the
    * write hash-repartitions on the letter key at the session's shuffle
    * partition count, which AQE may coalesce but never splits, so all of
    * a letter's rows land in one task. A task sorts its rows by (letter,
    * cnt DESC, word) and streams them out, opening the next letter's
    * file where the letter changes: a small index takes a task or two,
    * not 26. The driver only touches missing (empty) letters.
    *
    * Every letter file, the driver's empty ones included, is created
    * by [[graft.sources.ManifestCorpusSource.createRaw]]: under any
    * checksum layer, so a local `outDir` holds exactly the 26 files and
    * no `.crc` sidecars, and through `java.nio` when the filesystem is
    * local, since Hadoop's local create forks a `chmod` per file when
    * the native libhadoop is not loaded. The pre-write delete goes
    * through the checksummed filesystem, which also removes the
    * sidecars an older run left behind.
    *
    * CLUSTER-READY: executors write through the Hadoop FileSystem API
    * (the session's conf shipped via [[graft.sources.SerializableHadoopConf]],
    * the same pattern as the manifest read), so `outDir` may be a local
    * path, a `file:` URI, or any configured scheme (HDFS/S3A/…) — the
    * fixed-filename single-file-per-letter contract (the reference's
    * `a.txt`…`z.txt`, `src/main.cc:136-139`) is what rules out the
    * stock committer-based `partitionBy` sink, not the filesystem. */
  def writeLetterFiles(index: DataFrame, outDir: String): Unit = {
    val conf = new graft.sources.SerializableHadoopConf(
      index.sparkSession.sessionState.newHadoopConf())
    val outPath = new org.apache.hadoop.fs.Path(outDir)
    val fs = outPath.getFileSystem(conf.value)
    fs.mkdirs(outPath)
    // clear previous letter files: a letter absent from THIS index must
    // come out as a fresh 0-byte file, not stale prior contents
    ('a' to 'z').foreach(c =>
      fs.delete(new org.apache.hadoop.fs.Path(outPath, s"$c.txt"), false))
    index
      .repartition(col("letter"))
      .sortWithinPartitions(col("letter"), col("cnt").desc, col("word"))
      .select("letter", "line")
      .foreachPartition { it: Iterator[Row] =>
        var cur: String = null
        var out: PrintWriter = null
        // resolve the FS on the executor from the shipped conf — never
        // from a driver-captured FileSystem (not serializable, and the
        // executor may need different credentials/caches)
        lazy val efs = new org.apache.hadoop.fs.Path(outDir).getFileSystem(conf.value)
        it.foreach { r =>
          val letter = r.getString(0)
          if (letter != cur) {
            if (out != null) out.close()
            cur = letter
            out = new PrintWriter(new java.io.OutputStreamWriter(
              graft.sources.ManifestCorpusSource.createRaw(
                efs, new org.apache.hadoop.fs.Path(outDir, s"$letter.txt")),
              java.nio.charset.StandardCharsets.UTF_8))
          }
          out.println(r.getString(1))
        }
        if (out != null) out.close()
      }
    ('a' to 'z').foreach { c =>
      val p = new org.apache.hadoop.fs.Path(outPath, s"$c.txt")
      if (!fs.exists(p)) graft.sources.ManifestCorpusSource.createRaw(fs, p).close()
    }
  }

  /** End-to-end job: manifest in (via the V2 connector), 26 letter
    * files out. */
  def run(spark: SparkSession, manifestPath: String, outDir: String): Unit =
    writeLetterFiles(buildIndexFromManifest(spark, manifestPath), outDir)
}

/** CLI parity runner: `graft.operators.InvertedIndexJob <manifest> <outDir>`
  * — the Spark twin of the reference's `./tema1 M R <manifest>`. Its one
  * thread count is the session's: `SPARK_GRAFT_CPUS` task slots, which
  * serve as both the reference's mappers and its reducers. */
object InvertedIndexJob {
  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println("usage: InvertedIndexJob <manifest> <outDir>   " +
        "(manifest: line 1 = N, then N file paths relative to the manifest)")
      sys.exit(1)
    }
    val Array(manifest, outDir) = args.take(2)
    val spark = graft.Session.local(graft.Session.cpus)
    try InvertedIndex.run(spark, manifest, outDir)
    finally spark.stop()
  }
}
