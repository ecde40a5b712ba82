// Deterministic synthetic-data generator mirroring the driver testdata
// schemas/distributions (TESTDATA.md) at arbitrary scale factors:
//   sbt "runMain graft.tools.GenTestData <outDir> <sf> [dense|zipf]"
// Used for scale dry-runs (e.g. sf=1 — 6M lineitem, 50k documents, 1M
// events) beyond the largest driver-provided directory. Generation is
// fully distributed (spark.range + hash-derived columns, no driver
// loops) and deterministic for a fixed (sf, mode): every value derives
// from row id + a per-column seed through hash()/rand(seed).
//
// Distribution notes (matched against /root/testdata/sf0.1):
//  - documents, `dense` mode (the driver-corpus twin): 31-word
//    vocabulary (30 near-uniform + rare "dup"), 10-100 words/doc — the
//    tiny vocab makes minhash candidate-pair density huge and
//    SUPERLINEAR in doc count (q27 at sf1: 291M pairs, 102× for 10×
//    docs), which saturates every dedup/similarity scale number;
//  - documents, `zipf` mode (the natural-language-shaped corpus):
//    Heaps-law-sized vocabulary (V ≈ 30·√tokens: ~15k at sf0.1, ~50k
//    at sf1, ~157k at sf10) with Zipf(s≈1) token frequencies via the
//    inverse-CDF trick rank = floor(V^u) (P(rank=k) ≈ 1/(k·lnV)), and
//    near-dups PLANTED explicitly — ~10% of docs replay an earlier
//    doc's token stream ("family") plus one perturbation token. True
//    near-dup pairs then grow ~linearly in doc count (family sizes are
//    O(1) in expectation), shingle document-frequency follows a power
//    law, and prefix-filtered similarity joins prune on genuinely rare
//    tokens — the regime the AllPairs/PPJoin path is built for;
//  - embeddings: 64-dim unit-normalized Gaussian vectors, labels 0-9;
//  - events.ts is written as BIGINT nanoseconds, the same physical
//    shape Tables normalizes (`timestamp_micros(ts div 1000)`).
package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Session

object GenTestData {
  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse(sys.error("usage: GenTestData <outDir> [sf] [dense|zipf]"))
    val sf = args.lift(1).map(_.toDouble).getOrElse(1.0)
    val mode = args.lift(2).getOrElse("dense")
    require(mode == "dense" || mode == "zipf", s"unknown mode '$mode' (dense|zipf)")
    val spark = Session.local(Session.cpus)
    import spark.implicits._

    def n(base: Long): Long = math.max(1L, (base * sf).toLong)
    def write(name: String)(df: DataFrame): Unit = {
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[gen] $name: ${spark.read.parquet(s"$out/$name.parquet").count()} rows")
    }
    // uniform [0,1) derived from (id, seed) — deterministic, unlike
    // rand(), independent of partitioning
    def u(seed: Int): org.apache.spark.sql.Column =
      (pmod(hash(col("id"), lit(seed)), lit(1000000)).cast("double") / 1e6)
    def pick(seed: Int, vals: String*): org.apache.spark.sql.Column =
      element_at(array(vals.map(lit): _*), (pmod(hash(col("id"), lit(seed)), lit(vals.length)) + 1).cast("int"))

    write("region")(Seq((0, "AFRICA"), (1, "AMERICA"), (2, "ASIA"), (3, "EUROPE"),
      (4, "MIDDLE EAST")).toDF("r_regionkey", "r_name"))
    write("nation")(spark.range(25).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey")))

    val nCust = n(150000)
    write("customer")(spark.range(nCust).select(
      col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      pmod(hash(col("id"), lit(11)), lit(25)).cast("int").as("c_nationkey"),
      round(u(12) * 9000 + 1000, 2).as("c_acctbal"),
      pick(13, "AUTOMOBILE", "BUILDING", "FURNITURE", "MACHINERY", "HOUSEHOLD").as("c_mktsegment")))

    val nSupp = n(10000)
    write("supplier")(spark.range(nSupp).select(
      col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      pmod(hash(col("id"), lit(21)), lit(25)).cast("int").as("s_nationkey"),
      round(u(22) * 9000 + 1000, 2).as("s_acctbal")))

    val nPart = n(200000)
    write("part")(spark.range(nPart).select(
      col("id").as("p_partkey"),
      concat(pick(31, "large", "hot", "blue", "dark", "slim", "soft", "cold", "pale"),
        lit(" "),
        pick(32, "ring", "bolt", "case", "drum", "gear", "clip", "rail", "plug")).as("p_name"),
      concat(lit("Brand#"), pmod(hash(col("id"), lit(33)), lit(25))).as("p_brand"),
      pick(34, "ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD").as("p_type"),
      (pmod(hash(col("id"), lit(35)), lit(50)) + 1).cast("int").as("p_size"),
      round(lit(900.0) + (col("id") % 1000) / 10.0, 2).as("p_retailprice")))

    // orders span 1995-01-01 .. 2001-08-01 (2404 days), like the source
    val nOrders = n(1500000)
    write("orders")(spark.range(nOrders).select(
      col("id").as("o_orderkey"),
      pmod(hash(col("id"), lit(41)), lit(nCust)).as("o_custkey"),
      pick(42, "O", "F", "P").as("o_orderstatus"),
      round(u(43) * 498991 + 1001, 2).as("o_totalprice"),
      date_add(lit("1995-01-01").cast("date"),
        pmod(hash(col("id"), lit(44)), lit(2404)).cast("int"))
        .cast("timestamp").as("o_orderdate"),
      pick(45, "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW").as("o_orderpriority")))

    val nLine = n(6000000)
    write("lineitem")(spark.range(nLine).select(
      pmod(hash(col("id"), lit(51)), lit(nOrders)).as("l_orderkey"),
      pmod(hash(col("id"), lit(52)), lit(nPart)).as("l_partkey"),
      pmod(hash(col("id"), lit(53)), lit(nSupp)).as("l_suppkey"),
      (pmod(hash(col("id"), lit(54)), lit(7)) + 1).cast("int").as("l_linenumber"),
      (pmod(hash(col("id"), lit(55)), lit(50)) + 1).cast("double").as("l_quantity"),
      round(u(56) * 99000 + 1000, 2).as("l_extendedprice"),
      (pmod(hash(col("id"), lit(57)), lit(11)).cast("double") / 100).as("l_discount"),
      (pmod(hash(col("id"), lit(58)), lit(9)).cast("double") / 100).as("l_tax"),
      pick(59, "A", "N", "R").as("l_returnflag"),
      pick(60, "O", "F").as("l_linestatus"),
      date_add(lit("1995-01-01").cast("date"),
        pmod(hash(col("id"), lit(61)), lit(2430)).cast("int"))
        .cast("timestamp").as("l_shipdate")))

    // events: nanosecond BIGINT ts over a 30-day window, user pool = 1%
    // of nCust (denser per-user activity at higher sf, same span)
    val nEvents = n(1000000)
    val nUsers = math.max(1L, nCust / 100)
    val t0 = java.time.Instant.parse("2024-01-01T00:00:00Z").getEpochSecond
    write("events")(spark.range(nEvents).select(
      col("id").as("event_id"),
      ((lit(t0) + (u(71) * 30 * 86400).cast("long")) * lit(1000000000L) +
        pmod(hash(col("id"), lit(72)), lit(1000000000L))).as("ts"),
      pmod(hash(col("id"), lit(73)), lit(nUsers)).as("user_id"),
      pick(74, "view", "click", "purchase", "signup", "error").as("event_type"),
      round(u(75) * 150, 2).as("value"),
      format_string("{\"k\": %d}", pmod(hash(col("id"), lit(76)), lit(100))).as("props")))

    // documents, dense mode: 31-word vocab, 10-100 words, "dup" rare
    // (~5% of docs carry one) — near-dup density comes from the tiny
    // vocabulary itself (every doc pair shares shingles)
    val nDocs = n(50000)
    val vocab = Seq("spark", "window", "merge", "table", "column", "vector", "stream",
      "value", "data", "small", "large", "join", "group", "order", "sort", "filter",
      "hash", "line", "part", "customer", "fast", "slow", "the", "row", "agg", "key",
      "query", "a", "scan", "batch")
    val docBody =
      if (mode == "dense")
        spark.range(nDocs)
          .select(col("id").as("doc_id"),
            (pmod(hash(col("id"), lit(81)), lit(91)) + 10).cast("int").as("len"),
            pmod(hash(col("id"), lit(82)), lit(100)).as("dup_sel"))
          .select(col("doc_id"),
            concat(
              array_join(transform(sequence(lit(1), col("len")),
                i => element_at(typedLit(vocab),
                  (pmod(hash(col("doc_id"), i, lit(83)), lit(vocab.length)) + 1).cast("int"))), " "),
              when(col("dup_sel") < 5, lit(" dup")).otherwise(lit(""))).as("text"))
      else {
        // zipf mode: Zipf(s≈1) ranks over V words via rank = floor(V^u)
        // (u uniform in [0,1) ⇒ P(rank = k) ≈ 1/(k·lnV)); ~10% of docs
        // replay an earlier doc's token stream (family = a hash-picked
        // smaller id) + one perturbation token, so near-dup pairs are
        // PLANTED and ~linear in doc count instead of emerging
        // quadratically from vocabulary saturation.
        // Words must be PURE LETTERS: the engine's reference-faithful
        // normalizer strips [^a-z], so a digit-suffixed "w107" would
        // collapse the whole vocabulary to the single token "w" — ranks
        // are therefore base-26-encoded as letters (conv digits
        // 0-9,A-P → a-z, a bijection).
        // Heaps' law: real corpora grow vocabulary with size, V ≈ K·T^β
        // (β≈0.5). A FIXED vocab makes every token's document frequency
        // grow linearly with n, so at n ≫ V even the rarest prefix
        // tokens have df ≫ 1 and similarity-join candidates turn
        // quadratic again (measured: q63b 39s at sf1 → 401s at sf10 on
        // the fixed-50k corpus, 10× docs / 30× time). K=30 calibrated
        // so sf1 (50k docs × ~55 tokens) keeps its ~50k vocabulary;
        // sf10 gets ~157k, holding min-df — and candidate growth —
        // roughly flat per doc.
        val avgLen = 55.0
        val vocabSize = math.max(1000L, math.round(30.0 * math.sqrt(nDocs * avgLen)))
        def letterWord(prefix: String, rank: org.apache.spark.sql.Column) =
          concat(lit(prefix), translate(lower(conv(rank.cast("string"), 10, 26)),
            "0123456789abcdefghijklmnop", "abcdefghijklmnopqrstuvwxyz"))
        val isDup = pmod(hash(col("id"), lit(86)), lit(100)) < 10 && col("id") > 0
        spark.range(nDocs)
          .select(col("id").as("doc_id"),
            when(isDup, pmod(hash(col("id"), lit(87)), col("id")))
              .otherwise(col("id")).as("family"),
            isDup.as("is_dup"))
          // len seeded by family so a replayed stream has its head's length
          .select(col("doc_id"), col("family"), col("is_dup"),
            (pmod(hash(col("family"), lit(81)), lit(91)) + 10).cast("int").as("len"))
          .select(col("doc_id"),
            concat(
              array_join(transform(sequence(lit(1), col("len")), i =>
                letterWord("w", floor(pow(lit(vocabSize.toDouble),
                  pmod(hash(col("family"), i, lit(83)), lit(1000000)).cast("double") / 1e6))
                  .cast("long"))), " "),
              when(col("is_dup"),
                concat(lit(" "), letterWord("q", pmod(hash(col("doc_id"), lit(88)), lit(1000)))))
                .otherwise(lit(""))).as("text"))
      }
    write("documents")(docBody
      .select(col("doc_id"), col("text"),
        element_at(typedLit(Seq("en", "en", "zh", "fr", "es", "de")),
          (pmod(hash(col("doc_id"), lit(84)), lit(6)) + 1).cast("int")).as("lang"),
        concat(lit("src"), pmod(hash(col("doc_id"), lit(85)), lit(20))).as("source"),
        length(col("text")).cast("long").as("n_chars")))

    // embeddings: 64-dim unit Gaussian (Irwin-Hall(6) ≈ normal per dim,
    // then L2-normalize), label 0-9
    val nVecs = n(20000)
    val dim = 64
    write("embeddings")(spark.range(nVecs)
      .select(col("id").as("vec_id"),
        transform(sequence(lit(1), lit(dim)), i => {
          // sum of 6 uniforms - 3: mean 0, var 1/2 — close enough to
          // Gaussian for bucket/recall shapes, fully deterministic
          val s = (1 to 6).map(j =>
            pmod(hash(col("id"), i, lit(90 + j)), lit(1000000)).cast("double") / 1e6)
            .reduce(_ + _)
          s - lit(3.0)
        }).as("raw"),
        pmod(hash(col("id"), lit(97)), lit(10)).cast("int").as("label"))
      // NOTE: the norm aggregate evaluates once per element (dim× per
      // row) — a withColumn hoist does NOT fix it, CollapseProject
      // inlines a used-once alias straight back into the lambda.
      // Accepted for this offline generator; a real fix needs an
      // optimizer barrier or a native expression.
      .select(col("vec_id"),
        transform(col("raw"), x =>
          (x / sqrt(aggregate(col("raw"), lit(0.0d), (acc, v) => acc + v * v)))
            .cast("float")).as("embedding"),
        col("label")))

    spark.stop()
  }
}
