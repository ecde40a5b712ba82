package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity, TextAnalysis}
import graft.sources.Tables

/** Degenerate-input behavior: empty relations, single-row inputs,
  * short documents, k larger than the corpus. Operators must return
  * empty/small results, never throw. */
class EdgeCasesSpec extends SparkSuite {
  import spark.implicits._

  private def emptyDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")

  test("dedup operators on empty and degenerate corpora") {
    assert(Dedup.exact(emptyDocs, "doc_id", "text").count() === 0)
    assert(Dedup.minhashCandidates(emptyDocs, "doc_id", "text", 1, 12, 2).count() === 0)
    assert(Dedup.simhashSignature(emptyDocs, "doc_id", "text", 16).count() === 0)
    // documents whose text normalizes to nothing drop out of sketches
    val junk = Seq((1L, "123 !!! 456"), (2L, "ok words here")).toDF("doc_id", "text")
    assert(Dedup.simhashSignature(junk, "doc_id", "text", 16).count() === 1)
    assert(Dedup.minhashSignatures(junk, "doc_id", "text", 1, 4).count() === 1)
    // a doc shorter than the shingle width yields no 3-gram candidates
    val short = Seq((1L, "two words"), (2L, "two words")).toDF("doc_id", "text")
    assert(Dedup.ngramJaccardPairs(short, "doc_id", "text", 3, 0.0).count() === 0)
  }

  test("stint-4 operators on empty and degenerate corpora") {
    // sorted-neighborhood: empty and single-doc corpora emit no pairs
    assert(Dedup.sortedNeighborhoodPairs(emptyDocs, "doc_id", 3,
      org.apache.spark.sql.functions.length($"text")).count() === 0)
    val one = Seq((1L, "alone")).toDF("doc_id", "text")
    assert(Dedup.sortedNeighborhoodPairs(one, "doc_id", 3,
      org.apache.spark.sql.functions.length($"text")).count() === 0)
    // containment on empty pair set / docs absent from the pair list
    val docs = Seq((1L, "aa bb cc"), (2L, "dd ee ff")).toDF("doc_id", "text")
    val noPairs = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(Dedup.containmentRefine(noPairs, docs, "doc_id", "text", 2, 0.0).count() === 0)
    // lsh gate: empty corpus flags nothing; a shingle-less doc owns itself
    assert(Dedup.lshDedupGate(emptyDocs, "doc_id", "text", 2, 12, 2).count() === 0)
    val junk = Seq((7L, "123 456")).toDF("doc_id", "text")
    val g = Dedup.lshDedupGate(junk, "doc_id", "text", 2, 12, 2).head
    assert(g.getLong(1) === 7L && !g.getBoolean(2))
  }

  test("order statistics: single row, constant column, and k=n extremes") {
    import graft.operators.Selection
    val single = Selection.pin(Seq(42L).toDF("x"), "x")
    assert(Selection.kthSmallest(single, 1L) === 42L)
    val const = Selection.pin(Seq.fill(100)(7L).toDF("x"), "x")
    assert(Selection.kthSmallest(const, 1L) === 7L)
    assert(Selection.kthSmallest(const, 100L) === 7L)
    assert(Selection.kthSmallestMulti(const, Seq(1L, 50L, 100L)).values.toSet === Set(7L))
    val h = Selection.equiDepthHistogram(spark, const, 4).collect()
    assert(h.map(_.getLong(3)).sum === 100L)
    // all boundaries equal the constant; counts collapse into bucket 1
    assert(h.forall(_.getLong(2) === 7L) && h.head.getLong(3) === 100L)
  }

  test("similarity with k exceeding the corpus size returns all candidates") {
    val emb = Tables(spark, sfDir, "embeddings").limit(5)
    val r = Similarity.bruteForceTopK(emb.limit(1), emb, "vec_id", "embedding", 100)
    assert(r.count() === 4) // 5 candidates minus self
  }

  test("text analysis on empty strings and empty corpora") {
    val weird = Seq((1L, ""), (2L, "   "), (3L, "a")).toDF("doc_id", "text")
    val q = TextAnalysis.qualityScore(weird, "doc_id", "text").collect()
    assert(q.length === 3)
    assert(q.forall(r => !r.anyNull))
    val f = TextAnalysis.fingerprint(weird, "doc_id", "text")
    assert(f.count() === 3) // short texts hash their whole content
    assert(TextAnalysis.langId(emptyDocs, "doc_id", "text").count() === 0)
  }

  test("null text: dedup groups under '' and langId predicts null") {
    val docs = Seq((1L, "the quick fox"), (2L, null.asInstanceOf[String]),
      (3L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val d = Dedup.exact(docs, "doc_id", "text").orderBy("h").collect()
    // both null-text docs group under the coalesced '' key
    assert(d.head.getString(0) === "" && d.head.getLong(2) === 2L)
    val l = TextAnalysis.langId(docs, "doc_id", "text").orderBy("doc_id").collect()
    assert(l(0).getString(1) === "en")
    assert(l(1).isNullAt(1) && l(2).isNullAt(1), "null text must predict null language")
  }

  test("as-of join: null right times never match; null left time joins nothing") {
    import java.sql.Timestamp
    def ts(s: Long) = new Timestamp(s * 1000)
    val left = Seq((1L, 10L, ts(100)), (2L, 10L, null.asInstanceOf[Timestamp]))
      .toDF("id", "key", "t")
    val right = Seq((10L, null.asInstanceOf[Timestamp], "ghost"), (10L, ts(50), "real"))
      .toDF("rkey", "rt", "v")
    val r = graft.operators.AsOfJoin.byId(left, right, "key", "rkey", "t", "rt", "rt")
      .select("id", "v").collect().map(x => (x.getLong(0), x.getString(1))).toMap
    assert(r(1L) === "real", "null-timed right row must not be carried")
    assert(r(2L) === null, "null left time matches nothing (left-outer kept)")
  }

  test("as-of join: equal-time right rows break ties by greatest tiebreak") {
    val left = Seq((1L, 7L, 100L)).toDF("id", "key", "t")
    val right = Seq((7L, 100L, 1L, "low"), (7L, 100L, 9L, "high"), (7L, 90L, 5L, "old"))
      .toDF("rkey", "rt", "tb", "v")
    val r = graft.operators.AsOfJoin.byId(left, right, "key", "rkey", "t", "rt", "tb")
      .select("v").head.getString(0)
    assert(r === "high")
  }

  test("as-of join: null keys never match (either side)") {
    import java.sql.Timestamp
    def ts(s: Long) = new Timestamp(s * 1000)
    val left = Seq((1L, Option(10L), ts(100)), (2L, Option.empty[Long], ts(100)))
      .toDF("id", "key", "t")
    val right = Seq((Option.empty[Long], ts(50), "ghost"), (Option(10L), ts(50), "real"))
      .toDF("rkey", "rt", "v")
    val r = graft.operators.AsOfJoin.byId(left, right, "key", "rkey", "t", "rt", "rt")
      .select("id", "v").collect().map(x => (x.getLong(0), x.getString(1))).toMap
    assert(r(1L) === "real", "null-key right row must not be carried into real keys")
    assert(r(2L) === null, "null-key left row must match nothing")
  }

  test("native vector exprs match composed forms on null vectors; dot rejects bad types") {
    import graft.functions.VectorFunctions
    val df = Seq((1L, Option(Array(1.0f, 2.0f, 3.0f))), (2L, Option.empty[Array[Float]]))
      .toDF("id", "v")
    val diff = df.select(
        VectorFunctions.hyperplaneBucket(col("v"), 4).as("n"),
        VectorFunctions.hyperplaneBucketReference(col("v"), 4).as("r"))
      .filter(not(col("n") <=> col("r")))
    assert(diff.count() === 0, "null vector must bucket to all-zeros like the composed form")
    val dotNull = df.filter(col("id") === 2L)
      .select(VectorFunctions.dot(col("v"), col("v"))).head
    assert(dotNull.isNullAt(0))
    // int arrays were never valid input — must fail analysis, not read garbage
    val ints = Seq((1L, Array(1, 2, 3))).toDF("id", "v")
    intercept[Exception] {
      ints.select(VectorFunctions.dot(col("v"), col("v"))).collect()
    }
  }

  test("sketch exprs survive all-null element arrays from the SQL surface") {
    val df = spark.sql(
      "SELECT array(CAST(NULL AS STRING)) AS a UNION ALL SELECT array('word')")
    val mh = df.select(graft.plans.TextSketchExprs.minhashSignature(col("a"), 4).as("s"))
    assert(mh.filter(col("s").isNull).count() === 1) // all-null array → null signature
    assert(mh.filter(col("s").isNotNull).count() === 1)
    val sh = df.select(graft.plans.TextSketchExprs.simhash(col("a"), 80).as("s"))
    // all-null array → null signature (consistent with minhash); the
    // real row still gets the full wide signature
    assert(sh.filter(col("s").isNull).count() === 1)
    assert(sh.filter(length(col("s")) === 80).count() === 1, "wide bit-widths still supported")
  }

  test("inverted index handles filenames with spaces (URI-encoded scan paths)") {
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("spaced").toString
    Files.writeString(Paths.get(s"$dir/my doc one.txt"), "alpha beta")
    Files.writeString(Paths.get(s"$dir/plain.txt"), "beta gamma")
    Files.writeString(Paths.get(s"$dir/manifest.txt"), "2\nmy doc one.txt\nplain.txt\n")
    val idx = graft.operators.InvertedIndex.buildIndexFromManifest(spark, s"$dir/manifest.txt")
    val lines = idx.select("line").collect().map(_.getString(0)).toSet
    assert(lines === Set("alpha:[1]", "beta:[1 2]", "gamma:[2]"),
      s"spaced-filename file must not be dropped by the manifest read: $lines")
  }

  test("rerunning into the same outDir clears stale letter files") {
    import java.nio.file.{Files, Paths}
    val out = Files.createTempDirectory("stale").toString
    val goldenB = Files.readAllBytes(CorpusSmall.golden.resolve("b.txt"))
    // stale prior content: a b.txt longer than the fresh one (left in
    // place, its tail would survive a create that does not truncate), a
    // non-empty d.txt for a letter this corpus lacks, a checksum sidecar
    Files.writeString(Paths.get(s"$out/b.txt"), "bogus:[9]\n" * (goldenB.length / 10 + 2))
    Files.writeString(Paths.get(s"$out/d.txt"), "dusty:[1]\n")
    Files.write(Paths.get(s"$out/.b.txt.crc"), Array[Byte](1, 2, 3, 4))
    graft.operators.InvertedIndex.run(spark, CorpusSmall.manifest, out)
    // small corpus HAS b-words, so b.txt must now hold only fresh lines
    assert(Files.readAllBytes(Paths.get(s"$out/b.txt")) sameElements goldenB)
    // and the known-empty letter is a fresh 0-byte file
    assert(Files.size(Paths.get(s"$out/d.txt")) === 0)
    assert(!new java.io.File(out).list().exists(_.endsWith(".crc")))
  }

  test("inverted index on a corpus where a letter is empty still writes 26 files") {
    val out = java.nio.file.Files.createTempDirectory("idx_edge").toString
    // the small corpus has no 'd' words — re-verify the invariant here
    graft.operators.InvertedIndex.run(spark, CorpusSmall.manifest, out)
    assert(('a' to 'z').forall(c => new java.io.File(s"$out/$c.txt").exists()))
  }

  test("corrupt-record routing: malformed JSON rows go to a dead-letter channel") {
    // the ingestion error-channel contract: PERMISSIVE parse keeps the
    // pipeline running, the corrupt column carries the raw payload for
    // the DLQ, and well-formed rows parse normally — no row is dropped
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("k", IntegerType),
      StructField("_corrupt_record", StringType)))
    val raw = Seq(
      (1L, """{"k": 7}"""),
      (2L, """{"k": broken"""),
      (3L, null.asInstanceOf[String])).toDF("id", "js")
    val parsed = raw.withColumn("p",
      from_json(col("js"), schema,
        Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> "_corrupt_record")))
    val good = parsed.filter(col("p.k").isNotNull)
    val dlq = parsed.filter(col("p._corrupt_record").isNotNull)
    assert(good.select("id").as[Long].collect().toSeq == Seq(1L))
    assert(good.select("p.k").head.getInt(0) == 7)
    val dead = dlq.select("id", "p._corrupt_record").collect()
    assert(dead.map(_.getLong(0)).toSeq == Seq(2L), "only the malformed row is dead-lettered")
    assert(dead.head.getString(1).contains("broken"), "DLQ must carry the raw payload")
    assert(parsed.count() == 3, "no row is silently dropped")
  }
}
