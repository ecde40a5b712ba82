package graftbench

import java.nio.charset.StandardCharsets.US_ASCII
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.schema.MessageTypeParser

/** Seeded input generators. Every size (files, bytes, rows) is fixed per
  * workload; the seed changes only content, so two seeds give inputs of
  * equal volume. Generation runs in the benchmark process before the
  * Spark session exists, so it uses no Spark. */
object Gen {

  /** Zipf-ranked vocabulary of distinct lower-case words. Rank is fixed
    * by position, and so is the length of the word at each rank, so the
    * frequency curve and the bytes per token are the same for every seed;
    * the seed picks only the letters. */
  final class Vocab(rng: SplittableRandom, val size: Int) {
    val words: Array[String] = {
      val lengths = new SplittableRandom(0x1E6L)
      val seen = new java.util.HashSet[String]()
      val out = new Array[String](size)
      var i = 0
      while (i < size) {
        // 3–9 letters: enough distinct words at every length, so a
        // collision redraws the letters, never the length
        val len = 3 + lengths.nextInt(4) + lengths.nextInt(4)
        var w: String = null
        while (w == null || !seen.add(w)) {
          val sb = new StringBuilder(len)
          var j = 0
          while (j < len) { sb += ('a' + rng.nextInt(26)).toChar; j += 1 }
          w = sb.toString
        }
        out(i) = w
        i += 1
      }
      out
    }
    private val lnV = math.log(size.toDouble)
    /** Zipf(s≈1) by inverse CDF: rank = floor(V^u), P(rank=k) ≈ 1/(k·ln V). */
    def draw(rng: SplittableRandom): String =
      words(math.min(size - 1, math.exp(rng.nextDouble() * lnV).toInt - 1).max(0))
  }

  /** Heaps' law vocabulary size for a corpus of `tokens` tokens. */
  def heapsVocab(tokens: Long): Int = (30 * math.sqrt(tokens.toDouble)).toInt

  private val Punct = Array(",", ".", ";", ":", "!", "?", ")", "\"", "'s")

  /** One raw token: a Zipf word, sometimes capitalised, upper-cased,
    * hyphen-joined, punctuated or carrying digits; sometimes digits only
    * (which the tokenizer drops). */
  def token(rng: SplittableRandom, v: Vocab): String = {
    val r = rng.nextInt(1000)
    if (r < 20) return Integer.toString(rng.nextInt(10000))
    var w = v.draw(rng)
    if (r < 40) w = w + "-" + v.draw(rng)
    else if (r < 50) w = w + rng.nextInt(100)
    val c = rng.nextInt(100)
    if (c < 8) w = w.capitalize
    else if (c < 10) w = w.toUpperCase
    val p = rng.nextInt(100)
    if (p < 12) w = w + Punct(rng.nextInt(Punct.length))
    else if (p < 14) w = "(" + w
    w
  }

  /** One text line of 6–16 tokens, mostly single-space separated. */
  def line(rng: SplittableRandom, v: Vocab, sb: java.lang.StringBuilder): Unit = {
    val n = 6 + rng.nextInt(11)
    var i = 0
    while (i < n) {
      if (i > 0) {
        val s = rng.nextInt(100)
        sb.append(if (s < 2) "\t" else if (s < 4) "  " else " ")
      }
      sb.append(token(rng, v))
      i += 1
    }
    sb.append('\n')
  }

  /** A fixed permutation of 0 until n: the same for every seed, so which
    * slot gets which size never depends on the seed. */
  def fixedPermutation(n: Int, salt: Long): Array[Int] = {
    val a = Array.range(0, n)
    val rng = new SplittableRandom(salt)
    var i = n - 1
    while (i > 0) { val j = rng.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
    a
  }

  def parquetWriter(file: Path, schema: String): (ParquetWriter[Group], SimpleGroupFactory) = {
    val t = MessageTypeParser.parseMessageType(schema)
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(file.toUri))
      .withType(t)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .withConf(new org.apache.hadoop.conf.Configuration())
      .build()
    (w, new SimpleGroupFactory(t))
  }

  /** Writes `rows` rows into `parts` parquet files under `dir`, row i
    * going to part i * parts / rows; `fill` sets the columns of row i. */
  def writeTable(dir: Path, schema: String, rows: Int, parts: Int)(
      fill: (Group, Int) => Unit): Unit = {
    Files.createDirectories(dir)
    var p = 0
    while (p < parts) {
      val (w, f) = parquetWriter(dir.resolve(f"part-$p%05d.parquet"), schema)
      try {
        var i = (rows.toLong * p / parts).toInt
        val end = (rows.toLong * (p + 1) / parts).toInt
        while (i < end) { val g = f.newGroup(); fill(g, i); w.write(g); i += 1 }
      } finally w.close()
      p += 1
    }
  }
}

/** `index_zipf` inputs: a manifest over `FileCount` text files whose sizes
  * follow a Zipf curve over a fixed total. */
object IndexInputs {
  val FileCount = 300
  val TotalBytes: Long = 8L << 20

  /** Target byte size of each file (index = file id − 1). */
  val fileSizes: Array[Long] = {
    val w = (1 to FileCount).map(r => 1.0 / r)
    val h = w.sum
    val byRank = w.map(x => math.max(1024L, (TotalBytes * x / h).toLong)).toArray
    Gen.fixedPermutation(FileCount, 0x1D3F11E5L).map(byRank)
  }

  /** Path, under the input dir, of the file with manifest id `id` (1-based). */
  def fileName(id: Int): String = f"files/f$id%03d.txt"

  /** Writes `files/fNNN.txt` and `manifest.txt` under dir; returns the manifest. */
  def generate(dir: Path, seed: Long): Path = {
    Files.createDirectories(dir.resolve("files"))
    val rng = new SplittableRandom(seed)
    val v = new Gen.Vocab(rng, Gen.heapsVocab(TotalBytes / 7))
    val names = (1 to FileCount).map(fileName)
    val sb = new java.lang.StringBuilder(1 << 16)
    names.zip(fileSizes).foreach { case (name, size) =>
      val out = new java.io.BufferedOutputStream(Files.newOutputStream(dir.resolve(name)), 1 << 16)
      try {
        var written = 0L
        while (written < size) {
          sb.setLength(0)
          Gen.line(rng, v, sb)
          val b = sb.toString.getBytes(US_ASCII)
          out.write(b)
          written += b.length
        }
      } finally out.close()
    }
    val manifest = dir.resolve("manifest.txt")
    Files.write(manifest, (FileCount.toString +: names).mkString("", "\n", "\n").getBytes(US_ASCII))
    manifest
  }
}

/** `relational_mix` inputs: TPC-H-shaped parquet tables, each a
  * directory of part files so the scan has more than one split. */
object TableInputs {
  val Lineitem = 300000
  val Orders = 75000
  val Customers = 7500
  val Parts = 8
  val Names: Seq[String] = Seq("lineitem", "orders", "customer", "nation", "region")
  private val Segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "MACHINERY", "HOUSEHOLD")
  private val Regions = Array("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")

  private def round2(x: Double): Double = math.round(x * 100) / 100.0

  def rowCounts: Map[String, Int] = Map("lineitem" -> Lineitem, "orders" -> Orders,
    "customer" -> Customers, "nation" -> 25, "region" -> 5)

  def generate(dir: Path, seed: Long): Path = {
    val rng = new SplittableRandom(seed)
    Gen.writeTable(dir.resolve("region.parquet"),
      "message region { required int32 r_regionkey; required binary r_name (STRING); }",
      5, 1)((g, i) => g.append("r_regionkey", i).append("r_name", Regions(i)))
    Gen.writeTable(dir.resolve("nation.parquet"),
      "message nation { required int32 n_nationkey; required binary n_name (STRING); " +
        "required int32 n_regionkey; }",
      25, 1)((g, i) => g.append("n_nationkey", i).append("n_name", s"NATION_$i")
        .append("n_regionkey", i % 5))
    Gen.writeTable(dir.resolve("customer.parquet"),
      "message customer { required int64 c_custkey; required int32 c_nationkey; " +
        "required binary c_mktsegment (STRING); }",
      Customers, 2)((g, i) => g.append("c_custkey", i.toLong).append("c_nationkey", rng.nextInt(25))
        .append("c_mktsegment", Segments(rng.nextInt(Segments.length))))
    Gen.writeTable(dir.resolve("orders.parquet"),
      "message orders { required int64 o_orderkey; required int64 o_custkey; " +
        "required double o_totalprice; }",
      Orders, Parts)((g, i) => g.append("o_orderkey", i.toLong)
        .append("o_custkey", rng.nextInt(Customers).toLong)
        .append("o_totalprice", round2(rng.nextDouble() * 498991 + 1001)))
    Gen.writeTable(dir.resolve("lineitem.parquet"),
      "message lineitem { required int64 l_orderkey; required int32 l_linenumber; " +
        "required double l_quantity; required double l_extendedprice; required double l_discount; " +
        "required binary l_returnflag (STRING); required binary l_linestatus (STRING); }",
      Lineitem, Parts)((g, i) => g.append("l_orderkey", rng.nextInt(Orders).toLong)
        .append("l_linenumber", 1 + rng.nextInt(7))
        .append("l_quantity", (1 + rng.nextInt(50)).toDouble)
        .append("l_extendedprice", round2(rng.nextDouble() * 99000 + 1000))
        .append("l_discount", rng.nextInt(11) / 100.0)
        .append("l_returnflag", "ANR".charAt(rng.nextInt(3)).toString)
        .append("l_linestatus", "OF".charAt(rng.nextInt(2)).toString))
    dir
  }
}
