package graft

import org.apache.spark.sql.functions._

import graft.operators.InvertedIndex

/** The manifest-corpus DataSource V2 connector: row parity with the
  * built-in text source, partition packing, and column pruning. */
class ManifestCorpusSourceSpec extends SparkSuite {
  private val manifest = CorpusSmall.manifest

  test("V2 scan rows match the built-in text source formulation") {
    val v2 = spark.read.format("manifest-corpus").load(manifest)
      .select("file_id", "value")
    val files = InvertedIndex.readManifest(manifest)
    val legacy = spark.read.textFile(files.map(_._1): _*)
      .select(col("value"),
        url_decode(regexp_replace(
          regexp_replace(col("_metadata.file_path"), "^file:/+", "/"),
          "\\+", "%2B")).as("path"))
      .join(broadcast(spark.createDataFrame(files).toDF("path", "file_id")), "path")
      .select("file_id", "value")
    assert(v2.exceptAll(legacy).isEmpty && legacy.exceptAll(v2).isEmpty)
    assert(v2.count() > 0)
  }

  test("partition packing follows maxPartitionBytes") {
    val packed = spark.read.format("manifest-corpus").load(manifest)
    assert(packed.rdd.getNumPartitions === 1) // 3 tiny files pack into one
    val scattered = spark.read.format("manifest-corpus")
      .option("maxPartitionBytes", "1").load(manifest)
    assert(scattered.rdd.getNumPartitions === 3) // one per file
    assert(scattered.count() === packed.count())
  }

  test("byte-balanced packing: one partition per slot, each file once, LPT bound") {
    import java.nio.file.Files
    import java.nio.charset.StandardCharsets
    // 40 files, sizes ∝ 1/rank, about 6 MiB in all; ranks shuffled over
    // the manifest so size order is not manifest order
    val dir = Files.createTempDirectory("mc_pack")
    val line = ("lorem ipsum dolor sit amet " * 3).trim + "\n"
    val ranks = new scala.util.Random(7).shuffle((1 to 40).toVector)
    val sizes = (1 to 40).map { id =>
      val copies = (1500000 / ranks(id - 1)) / line.length + 1
      val bytes = (line * copies).getBytes(StandardCharsets.UTF_8)
      Files.write(dir.resolve(s"f$id.txt"), bytes)
      id -> bytes.length.toLong
    }.toMap
    Files.write(dir.resolve("m.txt"),
      (s"${sizes.size}\n" + (1 to 40).map(id => s"f$id.txt\n").mkString)
        .getBytes(StandardCharsets.UTF_8))
    val df = spark.read.format("manifest-corpus").load(dir.resolve("m.txt").toString)
    val k = df.rdd.getNumPartitions
    assert(k === math.min(sizes.size, spark.sparkContext.defaultParallelism))
    // per partition: its file ids in row order, consecutive repeats collapsed
    val parts = df.select("file_id").rdd.mapPartitions { it =>
      Iterator(it.map(_.getInt(0)).foldLeft(Vector.empty[Int]) { (acc, id) =>
        if (acc.lastOption.contains(id)) acc else acc :+ id
      })
    }.collect().toSeq
    assert(parts.flatten.sorted === (1 to 40), "every file_id in exactly one partition")
    parts.foreach(p => assert(p === p.sorted, s"manifest order within a partition: $p"))
    val total = sizes.values.sum
    val heaviest = parts.map(_.map(sizes).sum).max
    assert(heaviest <= total / k + sizes.values.max,
      s"heaviest partition $heaviest bytes over the LPT bound (total $total, k $k)")
  }

  test("line terminators, blank and long lines, invalid UTF-8: rows equal spark.read.textFile") {
    import java.nio.file.Files
    import java.nio.charset.StandardCharsets.US_ASCII
    val buf = graft.sources.ManifestCorpusSource.LineBufferBytes
    val dir = Files.createTempDirectory("mc_lines")
    val bodies: Seq[Array[Byte]] = Seq(
      "crlf one\r\ncrlf two\r\n",
      "lone cr\rnext\r\rafter a blank\n",
      // the CR is the first buffer's last byte, its LF the next buffer's first
      "x" * (buf - 1) + "\r\nstraddled\rtail\n",
      "\n\nblank lines\n\n\nno final newline",
      "",
      "y" * (3 * buf + 17) + "\nshort\n"
    ).map(_.getBytes(US_ASCII)) :+
      Array[Byte]('o', 'k', ' ', 0xff.toByte, 0xc3.toByte, '\n', 0x80.toByte, 'z', '\r', '\n')
    bodies.zipWithIndex.foreach { case (b, i) => Files.write(dir.resolve(s"f$i.txt"), b) }
    Files.write(dir.resolve("m.txt"),
      (s"${bodies.size}\n" + bodies.indices.map(i => s"f$i.txt\n").mkString).getBytes(US_ASCII))
    def bytesOf(df: org.apache.spark.sql.DataFrame): Seq[Seq[Byte]] =
      df.select(col("value").cast("binary")).collect().map(_.getAs[Array[Byte]](0).toSeq).toSeq
    val v2 = spark.read.format("manifest-corpus").load(dir.resolve("m.txt").toString)
      .select("file_id", "value")
    bodies.indices.foreach { i =>
      val ours = bytesOf(v2.filter(col("file_id") === i + 1))
      val text = bytesOf(spark.read.text(dir.resolve(s"f$i.txt").toString))
      assert(ours === text, s"f$i.txt: manifest-corpus lines differ from spark.read.textFile")
    }
    assert(bytesOf(v2.filter(col("file_id") === 2)).map(_.length) ===
      Seq(7, 4, 0, 13), "lone CRs end lines, two in a row make a blank line")
    assert(bytesOf(v2.filter(col("file_id") === 3)).map(_.length) ===
      Seq(buf - 1, 9, 4), "a CR/LF pair across the buffer boundary is one terminator")
    assert(bytesOf(v2.filter(col("file_id") === 5)).isEmpty, "a 0-byte file has no lines")
    assert(bytesOf(v2.filter(col("file_id") === 7)) ===
      Seq(Seq[Byte]('o', 'k', ' ', 0xff.toByte, 0xc3.toByte), Seq[Byte](0x80.toByte, 'z')),
      "invalid UTF-8 bytes pass through unchanged")
  }

  test("column pruning reaches the scan") {
    val pruned = spark.read.format("manifest-corpus").load(manifest).select("value")
    val desc = pruned.queryExecution.executedPlan.toString
    assert(desc.contains("cols=value"), desc)
    assert(pruned.count() > 0)
  }

  test("non-ASCII corpus bytes decode as UTF-8 regardless of JVM default charset") {
    import java.nio.file.{Files, Paths}
    import java.nio.charset.StandardCharsets
    val dir = Files.createTempDirectory("mc_utf8")
    Files.write(dir.resolve("f1.txt"), "café 漢字 naïve\n".getBytes(StandardCharsets.UTF_8))
    Files.write(dir.resolve("m.txt"), "1\nf1.txt\n".getBytes(StandardCharsets.UTF_8))
    val v2 = spark.read.format("manifest-corpus").load(dir.resolve("m.txt").toString)
      .select("value").as[String](org.apache.spark.sql.Encoders.STRING).collect()
    assert(v2.toSeq === Seq("café 漢字 naïve"))
  }

  test("missing corpus file fails at planning with the path in the error") {
    import java.nio.file.{Files, Paths}
    import java.nio.charset.StandardCharsets
    val dir = Files.createTempDirectory("mc_missing")
    Files.write(dir.resolve("present.txt"), "hello\n".getBytes(StandardCharsets.UTF_8))
    Files.write(dir.resolve("m.txt"),
      "2\npresent.txt\nno_such_file.txt\n".getBytes(StandardCharsets.UTF_8))
    val df = spark.read.format("manifest-corpus").load(dir.resolve("m.txt").toString)
    // planInputPartitions runs when the scan is planned — the failure
    // must carry the missing path, and fire before any task launches
    val e = intercept[Exception](df.rdd.getNumPartitions)
    def chain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq
    val fnf = chain(e).find(_.isInstanceOf[java.io.FileNotFoundException])
    assert(fnf.isDefined, s"expected FileNotFoundException in cause chain, got: $e")
    assert(fnf.get.getMessage.contains("no_such_file.txt"), fnf.get.getMessage)
    assert(fnf.get.getMessage.contains("file #2"), fnf.get.getMessage)
  }

  test("planner statistics: optimized-plan size == total corpus bytes " +
      "(what lets a small corpus broadcast)") {
    val files = InvertedIndex.readManifest(manifest)
    val totalBytes = files.map { case (p, _) => new java.io.File(p).length() }.sum
    val df = spark.read.format("manifest-corpus").load(manifest)
    val stats = df.queryExecution.optimizedPlan.stats
    assert(stats.sizeInBytes === BigInt(totalBytes),
      s"expected $totalBytes corpus bytes, planner saw ${stats.sizeInBytes}")
    // and the planner actually USES it: a join against this tiny
    // corpus must broadcast the corpus side
    val dim = spark.range(100).selectExpr("CAST(id AS INT) AS file_id")
    val plan = df.join(dim, "file_id").queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"tiny corpus should broadcast\n$plan")
  }

  test("limit pushdown: pushed to the scan (visible in description), " +
      "readers stop early, results correct") {
    val df = spark.read.format("manifest-corpus").load(manifest).limit(2)
    val desc = df.queryExecution.executedPlan.toString
    assert(desc.contains("limit=2"), s"pushed limit must reach the scan\n$desc")
    assert(df.count() === 2)
    // partial-pushdown contract: a limit larger than the corpus
    // returns everything
    val all = spark.read.format("manifest-corpus").load(manifest)
    assert(all.limit(1000000).count() === all.count())
  }

  test("filter pushdown prunes whole files: file_id predicate plans one " +
      "partition, rows stay correct (filter re-applied row-level)") {
    def scattered = spark.read.format("manifest-corpus")
      .option("maxPartitionBytes", "1").load(manifest) // one file per partition
    val all = scattered.collect().length
    val probe = scattered.filter(col("file_id") === 2)
    assert(probe.rdd.getNumPartitions === 1,
      "a file_id probe must open ONE file, not the corpus")
    val viaFull = scattered.collect().count(_.getInt(0) == 2)
    assert(probe.count() === viaFull && viaFull > 0)
    // range + IN shapes prune too; value predicates never prune
    assert(scattered.filter(col("file_id") >= 2).rdd.getNumPartitions === 2)
    assert(scattered.filter(col("file_id").isin(1, 3)).rdd.getNumPartitions === 2)
    assert(scattered.filter(col("value").contains("x")).rdd.getNumPartitions === 3)
    // OR mixing a value predicate must NOT prune (3-valued unknown)
    val mixed = scattered.filter(col("file_id") === 2 || col("value").contains("x"))
    assert(mixed.rdd.getNumPartitions === 3)
    assert(mixed.count() ===
      scattered.collect().count(r => r.getInt(0) == 2 || r.getString(2).contains("x")))
    assert(all === scattered.count())
  }

  test("runtime filtering: a DPP-style In(file_id) arriving after planning " +
      "re-prunes the partitions") {
    val builder = new graft.sources.ManifestCorpusScanBuilder(manifest, 1L)
    val scan = builder.build().asInstanceOf[graft.sources.ManifestCorpusScan]
    assert(scan.toBatch.planInputPartitions().length === 3)
    assert(scan.filterAttributes().map(_.describe()).toSeq === Seq("file_id"))
    scan.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.In("file_id", Array(1, 3))))
    assert(scan.toBatch.planInputPartitions().length === 2,
      "runtime In(file_id) must drop the unreferenced file's partition")
  }
}
