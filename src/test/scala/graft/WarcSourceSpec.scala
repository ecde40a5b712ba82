package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.WarcSource

/** WARC container source/sink: byte round trip (binary payloads with
  * embedded CRLFs, empty payloads, optional headers), partition
  * packing, payload-skip column pruning, loud truncation errors. */
class WarcSourceSpec extends SparkSuite {
  import spark.implicits._

  private def freshDir() = Files.createTempDirectory("warc").toString + "/w"

  private val cols = Seq("record_id", "warc_type", "target_uri", "content_type", "payload")

  test("round trip: binary payloads with CRLFs, empty payload, optional headers") {
    val dir = freshDir()
    val rows = Seq(
      ("urn:graft:1", "resource", "https://x.com/a", "text/html",
        "hello\r\nworld\r\n\r\ntrailer".getBytes("UTF-8")),
      ("urn:graft:2", "resource", null, null, Array.empty[Byte]),
      ("urn:graft:3", "metadata", "https://x.com/b", "application/json",
        Array[Byte](0, 1, 2, -1, 13, 10, 13, 10, 127)))
    WarcSource.writeRecords(
      rows.toDF(cols: _*).coalesce(1), dir)
    val back = WarcSource.read(spark, dir)
      .select("record_id", "warc_type", "target_uri", "content_type",
        "content_length", "payload")
      .collect().map(r => r.getString(0) ->
        ((r.getString(1), Option(r.getString(2)), Option(r.getString(3)),
          r.getLong(4), r.getAs[Array[Byte]](5).toSeq))).toMap
    assert(back.keySet == Set("urn:graft:1", "urn:graft:2", "urn:graft:3"))
    val (t1, u1, c1, l1, p1) = back("urn:graft:1")
    assert(t1 == "resource" && u1.contains("https://x.com/a") && c1.contains("text/html"))
    assert(l1 == rows.head._5.length && p1 == rows.head._5.toSeq)
    val (_, u2, c2, l2, p2) = back("urn:graft:2")
    assert(u2.isEmpty && c2.isEmpty && l2 == 0L && p2.isEmpty)
    assert(back("urn:graft:3")._5 == rows(2)._5.toSeq)
    // record offsets are strictly increasing within the single file
    val offs = WarcSource.read(spark, dir).select("record_offset")
      .collect().map(_.getLong(0)).toSeq
    assert(offs == offs.sorted && offs.distinct.size == 3 && offs.head == 0L)
  }

  test("multi-partition write packs into one task per size bin; name-sorted determinism") {
    val dir = freshDir()
    val df = (1 to 100).map(i => (s"urn:graft:$i", "resource",
        s"https://x.com/$i", "text/plain", s"payload $i".getBytes("UTF-8")))
      .toDF(cols: _*)
      .repartitionByRange(4, col("record_id"))
      .sortWithinPartitions("record_id")
    WarcSource.writeRecords(df, dir)
    val back = WarcSource.read(spark, dir)
    assert(back.count() == 100L)
    assert(back.select("record_id").distinct().count() == 100L)
    // default 128 MiB bin ⇒ the 4 small part files pack into ONE partition
    assert(back.rdd.getNumPartitions == 1)
    // a 1-byte bin ⇒ one partition per file
    val perFile = spark.read.format("warc-records")
      .option("maxPartitionBytes", "1").load(dir)
    assert(perFile.rdd.getNumPartitions == 4)
    assert(perFile.count() == 100L)
  }

  test("payload pruning: a metadata-only query skips payload bytes yet counts exactly") {
    val dir = freshDir()
    WarcSource.writeRecords(
      (1 to 10).map(i => (s"urn:graft:$i", if (i % 2 == 0) "resource" else "metadata",
        null: String, null: String, ("x" * 1000 + "\r\n").getBytes("UTF-8")))
        .toDF(cols: _*).coalesce(1), dir)
    val byType = WarcSource.read(spark, dir)
      .groupBy("warc_type").agg(count(lit(1)).as("n"), sum("content_length").as("b"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(byType == Map("resource" -> ((5L, 5010L)), "metadata" -> ((5L, 5010L))))
    // the skip path really engaged: the scan's read schema has no payload
    val plan = WarcSource.read(spark, dir)
      .select("warc_type").queryExecution.executedPlan.toString
    assert(plan.contains("warc-records") && !plan.contains("payload"),
      s"payload should be pruned from the scan:\n$plan")
  }

  test("gzip members: per-record members round-trip; mixed plain+gz dirs read together") {
    val dir = freshDir()
    val rows = (1 to 20).map(i => (s"urn:graft:gz:$i", "resource",
      s"https://x.com/$i", "text/plain",
      (s"payload $i " + "y" * 50 + "\r\n").getBytes("UTF-8")))
    WarcSource.writeRecords(rows.toDF(cols: _*).coalesce(1), dir, gzip = true)
    // the part file really is multi-member gzip: magic at byte 0 and >1
    // member header in the stream
    val f = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".warc.gz")).head
    val bytes = java.nio.file.Files.readAllBytes(f.toPath)
    assert((bytes(0) & 0xff) == 0x1f && (bytes(1) & 0xff) == 0x8b)
    val members = bytes.sliding(2).count(p => (p(0) & 0xff) == 0x1f && (p(1) & 0xff) == 0x8b)
    assert(members >= 20, s"expected >=20 gzip member headers, saw $members")
    val back = WarcSource.read(spark, dir)
      .select("record_id", "payload").collect()
      .map(r => r.getString(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    assert(back.size == 20)
    rows.foreach { case (id, _, _, _, p) => assert(back(id) == p.toSeq) }
    // a plain .warc beside the .warc.gz reads in the same scan
    WarcSource.writeRecords(Seq(("urn:graft:plain:1", "resource",
      null: String, null: String, "plain".getBytes("UTF-8"))).toDF(cols: _*)
      .coalesce(1), dir + "_plain")
    val pf = new java.io.File(dir + "_plain").listFiles()
      .filter(_.getName.endsWith(".warc")).head
    java.nio.file.Files.copy(pf.toPath,
      new java.io.File(dir, "part-99999.warc").toPath)
    assert(WarcSource.read(spark, dir).count() == 21L)
  }

  test("malformed records fail loudly with file and offset") {
    val dir = freshDir()
    WarcSource.writeRecords(
      Seq(("urn:graft:1", "resource", null: String, null: String,
        "hello".getBytes("UTF-8"))).toDF(cols: _*).coalesce(1), dir)
    // truncate the single part file by 4 bytes (kills the CRLF CRLF frame)
    val f = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".warc")).head
    val all = java.nio.file.Files.readAllBytes(f.toPath)
    java.nio.file.Files.write(f.toPath, all.dropRight(4))
    val e = intercept[org.apache.spark.SparkException] {
      WarcSource.read(spark, dir).count()
    }
    val msg = e.getCause match { case null => e.getMessage; case c => c.getMessage }
    assert(msg.contains("warc-records") || e.getMessage.contains("warc-records"))
  }

  test("cdx offset index: record-level random access into .warc.gz equals the full scan") {
    val dir = freshDir()
    // 40 records across 2 partitions, binary payloads, some optional
    // headers absent — the member boundaries the index must pin exactly
    val rows = (1 to 40).map { i =>
      (f"urn:graft:cdx:$i%03d", "resource",
        if (i % 3 == 0) null else s"https://x.com/$i",
        if (i % 5 == 0) null else "text/plain",
        (s"payload-$i\r\n" * (i % 7 + 1)).getBytes("UTF-8"))
    }
    WarcSource.writeRecords(rows.toDF(cols: _*).repartition(2), dir,
      gzip = true, cdxIndex = true)
    // the index covers every record with sane ranges
    val idx = WarcSource.readIndex(spark, dir).collect()
    assert(idx.length == 40)
    assert(idx.forall(r => r.getLong(2) >= 0 && r.getLong(3) > 0))
    // point reads (a record_id filter the scan serves from the cdx
    // index): every column equal to the full scan's row (except
    // record_offset, whose coordinate system differs by design: cdx =
    // compressed member offset, scan = decoded-stream offset)
    val wanted = Seq("urn:graft:cdx:001", "urn:graft:cdx:017", "urn:graft:cdx:040")
    def pointRead(d: String, ids: Seq[String]) = {
      val df = WarcSource.read(spark, d).filter(col("record_id").isin(ids: _*))
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("point_lookup="), s"expected point partitions:\n$plan")
      df
    }
    val cols5 = Seq("record_id", "target_uri", "content_type", "content_length", "payload")
    def key(r: org.apache.spark.sql.Row) = (r.getString(0),
      Option(r.getString(1)), Option(r.getString(2)), r.getLong(3),
      r.getAs[Array[Byte]](4).toSeq)
    val point = pointRead(dir, wanted).select(cols5.map(col): _*)
      .collect().map(key).sortBy(_._1)
    val full = WarcSource.read(spark, dir).select(cols5.map(col): _*)
      .collect().map(key).filter(k => wanted.contains(k._1)).sortBy(_._1)
    assert(point.length == 3 && point.toSeq == full.toSeq)
    // an id absent from the archive plans no point partition, no row
    val nope = pointRead(dir, Seq("urn:graft:nope"))
    assert(nope.queryExecution.executedPlan.toString.contains("point_lookup=0"))
    assert(nope.count() == 0L)
    // plain .warc indexes too (raw byte ranges)
    val dirP = freshDir()
    WarcSource.writeRecords(rows.take(5).toDF(cols: _*).coalesce(1), dirP,
      gzip = false, cdxIndex = true)
    val p1 = pointRead(dirP, Seq("urn:graft:cdx:002"))
      .select("record_id", "payload").collect()
    assert(p1.length == 1 && p1.head.getString(0) == "urn:graft:cdx:002"
      && p1.head.getAs[Array[Byte]](1).toSeq == rows(1)._5.toSeq)
  }

  test("record_id filter pushdown plans cdx point partitions through plain SQL") {
    val dir = freshDir()
    val rows = (1 to 30).map(i => (f"urn:graft:pd:$i%03d", "resource",
      s"https://x.com/$i", "text/plain", (s"body-$i" * 20).getBytes("UTF-8")))
    WarcSource.writeRecords(rows.toDF(cols: _*).repartition(2), dir,
      gzip = true, cdxIndex = true)
    val wanted = Seq("urn:graft:pd:003", "urn:graft:pd:021")
    // the DECLARATIVE spelling: just a filter
    val df = WarcSource.read(spark, dir).filter(col("record_id").isin(wanted: _*))
    val got = df.select("record_id", "target_uri", "content_length", "payload")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getAs[Array[Byte]](3).toSeq)).sortBy(_._1)
    assert(got.map(_._1).toSeq == wanted)
    assert(got(0)._4 == rows(2)._5.toSeq && got(1)._4 == rows(20)._5.toSeq)
    // the plan really took the point path: the scan advertises the hits
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("point_lookup=2"), s"expected point partitions:\n$plan")
    // EqualTo pushes too
    val one = WarcSource.read(spark, dir).filter(col("record_id") === "urn:graft:pd:007")
    assert(one.queryExecution.executedPlan.toString.contains("point_lookup=1"))
    assert(one.count() == 1L)
    // two ANDed record_id predicates intersect their id sets
    val conj = WarcSource.read(spark, dir)
      .filter(col("record_id").isin(wanted: _*) &&
        col("record_id") === "urn:graft:pd:021")
    assert(conj.queryExecution.executedPlan.toString.contains("point_lookup=1"))
    assert(conj.collect().map(_.getString(3)).toSeq == Seq("urn:graft:pd:021"))
    // a NON-record_id filter does not take the point path
    val byType = WarcSource.read(spark, dir).filter(col("warc_type") === "resource")
    assert(!byType.queryExecution.executedPlan.toString.contains("point_lookup"))
    assert(byType.count() == 30L)
    // an UNINDEXED archive falls back to the full scan, same answer —
    // pushdown is an access path, never the correctness carrier
    val dirNoIdx = freshDir()
    WarcSource.writeRecords(rows.toDF(cols: _*).coalesce(1), dirNoIdx, gzip = true)
    val fb = WarcSource.read(spark, dirNoIdx).filter(col("record_id").isin(wanted: _*))
    assert(!fb.queryExecution.executedPlan.toString.contains("point_lookup"))
    assert(fb.collect().map(_.getString(3)).sorted.toSeq == wanted)
  }

  test("count(*) pushes to the cdx index: exact count, archive bytes untouched; " +
      "filters and unindexed dirs decline the pushdown") {
    val dir = freshDir()
    val rows = (1 to 40).map(i => (f"urn:graft:ct:$i%03d", "resource",
      s"https://x.com/$i", "text/plain", (s"payload-$i" * 30).getBytes("UTF-8")))
    WarcSource.writeRecords(rows.toDF(cols: _*).repartition(3), dir,
      gzip = true, cdxIndex = true)
    val counted = WarcSource.read(spark, dir).groupBy().count()
    val plan = counted.queryExecution.executedPlan.toString
    assert(plan.contains("pushed_agg=count_star_via_cdx"),
      s"expected index-served count:\n$plan")
    assert(counted.head.getLong(0) == 40L)
    // Dataset.count() takes the same path
    assert(WarcSource.read(spark, dir).count() == 40L)
    // a residual filter must DECLINE the pushdown (counting the index
    // would be wrong, not just slow)
    val filtered = WarcSource.read(spark, dir)
      .filter(col("warc_type") === "resource").groupBy().count()
    assert(!filtered.queryExecution.executedPlan.toString
      .contains("pushed_agg"), "filtered count must not be index-served")
    assert(filtered.head.getLong(0) == 40L)
    // record_id point filters also decline (point partitions win instead)
    val pointCount = WarcSource.read(spark, dir)
      .filter(col("record_id") === "urn:graft:ct:007").groupBy().count()
    assert(!pointCount.queryExecution.executedPlan.toString.contains("pushed_agg"))
    assert(pointCount.head.getLong(0) == 1L)
    // an unindexed archive counts through the ordinary row scan
    val dirNoIdx = freshDir()
    WarcSource.writeRecords(rows.toDF(cols: _*).coalesce(1), dirNoIdx, gzip = true)
    val fb = WarcSource.read(spark, dirNoIdx).groupBy().count()
    assert(!fb.queryExecution.executedPlan.toString.contains("pushed_agg"))
    assert(fb.head.getLong(0) == 40L)
  }

  test("a >=2GiB Content-Length fails as a loud parse error, not an allocation wrap") {
    // The reader materializes one payload as one Array[Byte]: an
    // Int-overflowing length must route through fail() (file + offset)
    // instead of surfacing as NegativeArraySize/IndexOutOfBounds.
    val dir = freshDir()
    new java.io.File(dir).mkdirs()
    val rec = "WARC/1.1\r\n" +
      "WARC-Type: resource\r\n" +
      "WARC-Record-ID: urn:graft:huge\r\n" +
      "Content-Length: 3000000000\r\n" +
      "\r\n"
    java.nio.file.Files.write(
      new java.io.File(dir, "part-00000.warc").toPath,
      rec.getBytes("UTF-8"))
    val e = intercept[org.apache.spark.SparkException] {
      WarcSource.read(spark, dir).count()
    }
    val msg = e.getCause match { case null => e.getMessage; case c => c.getMessage }
    assert(msg.contains("2 GiB") || e.getMessage.contains("2 GiB"),
      s"expected the designed limit error, got: $msg")
  }
}
