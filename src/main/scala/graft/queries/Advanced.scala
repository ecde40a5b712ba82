package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.functions.TextFunctions

/** Round-2 coverage additions: window analytics beyond rank/frames
  * (ntile / percent_rank / cume_dist / nth_value), correlated and
  * scalar subqueries through the SQL entry point (Catalyst decorrelates
  * to semi joins), TF-IDF, sliding windows (batch twin of the streaming
  * shape), deterministic hash sampling, a user-declared bloom-filter
  * semi-join prefilter, struct-ordered max/min (max_by semantics with a
  * total tie-break), generator-style date sequences, and ordered string
  * aggregation. All oracle-checked; cross-engine rules follow
  * SNIPPETS-era gotchas (floor-form rounding, DECIMAL money sums,
  * integer epochs).
  */
object Advanced {
  private def t(s: SparkSession, dir: String, n: String): DataFrame = Tables(s, dir, n)

  /** SQL-entry query: registers the named tables as temp views and runs
    * `sparkSql` (defaults to the oracle text — the identical statement
    * on both engines) through `spark.sql`. One place for the view-setup
    * pattern instead of a copy per query. */
  private def sqlEntry(name: String, oracleSql: String, views: Seq[String],
      sparkSql: Option[String] = None): QueryDef =
    QueryDef(name, oracleSql) { (s, dir) =>
      views.foreach(v => t(s, dir, v).createOrReplaceTempView(v))
      s.sql(sparkSql.getOrElse(oracleSql).stripMargin)
    }

  // --------------------------------------------------------------- Q46
  /** Distribution-style window functions. ntile is cast to INT on the
    * oracle side (DuckDB emits BIGINT); percent_rank/cume_dist are
    * exact small-integer ratios — identical doubles — rounded with the
    * engine-portable floor form anyway. */
  val q46 = QueryDef("q46_window_extras",
    s"""SELECT o_custkey, o_orderkey, rn,
      |       CAST(nt AS INT) AS nt,
      |       ${TextFunctions.round4Sql("pr")} AS pct_rank,
      |       ${TextFunctions.round4Sql("cd")} AS cume,
      |       first_ok, nth_ok
      |FROM (
      |  SELECT o_custkey, o_orderkey,
      |         row_number() OVER w AS rn,
      |         ntile(4) OVER w AS nt,
      |         percent_rank() OVER w AS pr,
      |         cume_dist() OVER w AS cd,
      |         first_value(o_orderkey) OVER w AS first_ok,
      |         nth_value(o_orderkey, 2) OVER w AS nth_ok
      |  FROM orders
      |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
      |)
      |WHERE rn <= 5 ORDER BY o_custkey, rn""") { (s, dir) =>
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    t(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      .withColumn("rn", row_number().over(w))
      .withColumn("nt", ntile(4).over(w))
      .withColumn("pct_rank", TextFunctions.round4(percent_rank().over(w)))
      .withColumn("cume", TextFunctions.round4(cume_dist().over(w)))
      .withColumn("first_ok", first(col("o_orderkey")).over(w))
      .withColumn("nth_ok", nth_value(col("o_orderkey"), 2).over(w))
      .filter(col("rn") <= 5)
      .select("o_custkey", "o_orderkey", "rn", "nt", "pct_rank", "cume",
        "first_ok", "nth_ok")
      .orderBy("o_custkey", "rn")
  }

  // --------------------------------------------------------------- Q47
  /** Correlated EXISTS + uncorrelated IN through the engine's SQL entry
    * point — the identical text runs on DuckDB; Catalyst decorrelates
    * both predicates into semi joins (plan-asserted in QuerySpecs). */
  val q47 = sqlEntry("q47_subqueries",
    """SELECT c_custkey FROM customer
      |WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
      |  AND EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
      |ORDER BY c_custkey""".stripMargin,
    views = Seq("customer", "orders"))

  // --------------------------------------------------------------- Q48
  /** TF-IDF: top-3 terms per document by tf·ln(N/df). The rounded score
    * is used for BOTH ranking and output so rows can only reorder if
    * the ROUNDED scores diverge. Residual risk, accepted deliberately:
    * ln() is a transcendental (1-ulp across JVM Math.log vs libm), so
    * on hypothetical data a last-ulp difference could straddle a
    * 0.00005 boundary; validated hash-identical against DuckDB on the
    * actual gate fixtures (sf0.001 and sf0.01). */
  val q48 = QueryDef("q48_tfidf",
    s"""WITH ${TextFunctions.docwCteSql}, tok AS (SELECT doc_id, unnest(w) AS word FROM docw),
      |tf AS (SELECT doc_id, word, count(*) AS tf FROM tok GROUP BY doc_id, word),
      |df AS (SELECT word, count(DISTINCT doc_id) AS df FROM tok GROUP BY word),
      |n AS (SELECT count(*) AS n FROM documents),
      |scored AS (
      |  SELECT tf.doc_id, tf.word, tf.tf,
      |         ${TextFunctions.round4Sql("tf.tf * ln(CAST(n.n AS DOUBLE) / df.df)")} AS tfidf
      |  FROM tf JOIN df USING (word) CROSS JOIN n
      |), r AS (
      |  SELECT doc_id, word, tf, tfidf,
      |         row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, word) AS rn
      |  FROM scored
      |)
      |SELECT doc_id, word, tf, tfidf, rn FROM r WHERE rn <= 3
      |ORDER BY doc_id, rn""") { (s, dir) =>
    val docs = t(s, dir, "documents")
    val tok = docs.select(col("doc_id"),
      explode(TextFunctions.normalizedWords(col("text"))).as("word"))
    val tf = tok.groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
    // document frequency = row count per word over tf (tf has one row
    // per (doc, word)) — computed as a WINDOW so the tf subtree is not
    // duplicated into a self-join: the corpus is scanned and tokenized
    // exactly once, and the count(DISTINCT doc_id) re-shuffle never
    // happens
    val n = docs.agg(count(lit(1)).as("n"))
    val scored = tf
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("word"))))
      .crossJoin(broadcast(n))
      .withColumn("tfidf",
        TextFunctions.round4(col("tf") * log(col("n").cast("double") / col("df"))))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("word"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select("doc_id", "word", "tf", "tfidf", "rn")
      .orderBy("doc_id", "rn")
  }

  // --------------------------------------------------------------- Q49
  /** Sliding (hopping) time window, batch twin of the streaming shape:
    * 1-hour windows every 30 minutes — each event lands in exactly two
    * windows. Oracle mirrors Spark's µs window arithmetic with integer
    * epoch slots. */
  val q49 = QueryDef("q49_sliding_window",
    """WITH e AS (SELECT epoch_us(ts) AS eu, event_type FROM events WHERE ts IS NOT NULL),
      |w AS (
      |  SELECT unnest([eu // 1800000000, eu // 1800000000 - 1]) AS slot, event_type
      |  FROM e
      |)
      |SELECT slot * 1800 AS start_s, event_type, count(*) AS n
      |FROM w GROUP BY slot, event_type ORDER BY start_s, event_type""") { (s, dir) =>
    t(s, dir, "events")
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(unix_timestamp(col("w.start")).as("start_s"), col("event_type"), col("n"))
      .orderBy("start_s", "event_type")
  }

  // --------------------------------------------------------------- Q50
  /** Deterministic hash-based sampling: the md5-prefix predicate selects
    * the same ~12.5% of rows on every engine and at every scale — the
    * reproducible-sample primitive a training-data pipeline needs
    * (TABLESAMPLE is engine-nondeterministic). */
  val q50 = QueryDef("q50_hash_sample",
    """SELECT o_orderstatus, count(*) AS n,
      |       CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_price
      |FROM orders
      |WHERE substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 2) < '20'
      |GROUP BY o_orderstatus ORDER BY o_orderstatus""") { (s, dir) =>
    t(s, dir, "orders")
      .filter(substring(md5(col("o_orderkey").cast("string")), 1, 2) < "20")
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        round(sum(col("o_totalprice").cast("decimal(18,6)")), 2).cast("double").as("sum_price"))
      .orderBy("o_orderstatus")
  }

  // --------------------------------------------------------------- Q51
  /** Scalar subquery: revenue share per priority against the global
    * total. Both sums are exact DECIMAL accumulations, so the double
    * division is bit-identical across engines. */
  val q51 = sqlEntry("q51_scalar_subquery",
    s"""SELECT o_orderpriority,
      |       CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS rev,
      |       ${TextFunctions.round4Sql(
                """CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
      | / (SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) FROM orders)""".stripMargin)} AS share
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    views = Seq("orders"))

  // --------------------------------------------------------------- Q52
  /** Ordered string aggregation. Spark has no ORDER BY inside an
    * aggregate, so the deterministic formulation is
    * array_join(sort_array(collect_list)) — same string DuckDB's
    * ordered string_agg produces. */
  val q52 = QueryDef("q52_string_agg",
    """SELECT r_name, string_agg(n_name, ',' ORDER BY n_name) AS nations
      |FROM nation JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name ORDER BY r_name""") { (s, dir) =>
    t(s, dir, "nation")
      .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name")
      .agg(array_join(sort_array(collect_list(col("n_name"))), ",").as("nations"))
      .orderBy("r_name")
  }

  // --------------------------------------------------------------- Q53
  /** User-declared bloom semi-join prefilter, via Spark's own
    * runtime-filter expressions surfaced through GraftFunctions: the
    * build side's keys are aggregated into a bloom sketch (scalar
    * subquery), probed on the big side BEFORE the exact semi join.
    * Bloom false positives are removed by the exact join; false
    * negatives are impossible — so the oracle is the plain semi join.
    * At 100 TB this is the shape that cuts the probe-side shuffle to
    * ~the matching keys (what AQE's InjectRuntimeFilter does when
    * statistics justify it; here it is declared explicitly). */
  val q53 = sqlEntry("q53_bloom_join",
    """SELECT c_custkey FROM customer
      |WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
      |ORDER BY c_custkey""".stripMargin,
    views = Seq("customer", "orders"),
    sparkSql = Some(
      """SELECT c_custkey FROM customer
        |WHERE might_contain(
        |        (SELECT bloom_filter_agg(xxhash64(o_custkey))
        |         FROM orders WHERE o_orderpriority = '1-URGENT'),
        |        xxhash64(c_custkey))
        |  AND c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey"""))

  // --------------------------------------------------------------- Q54
  /** max_by/min_by semantics with a total tie-break: Spark's
    * lexicographic struct min/max picks (extreme price, then extreme
    * orderkey) — the oracle states the same row via rank-1 windows.
    * Price output uses the floor-form 2-dp rounding (round() half-tie
    * handling differs across engines on ~2-dp doubles). */
  val q54 = QueryDef("q54_minmax_by",
    """WITH mx AS (
      |  SELECT l_returnflag, l_orderkey,
      |         row_number() OVER (PARTITION BY l_returnflag
      |           ORDER BY l_extendedprice DESC, l_orderkey DESC) AS rn
      |  FROM lineitem
      |), mn AS (
      |  SELECT l_returnflag, l_orderkey,
      |         row_number() OVER (PARTITION BY l_returnflag
      |           ORDER BY l_extendedprice ASC, l_orderkey ASC) AS rn
      |  FROM lineitem
      |), mp AS (
      |  SELECT l_returnflag,
      |         floor(max(l_extendedprice) * 100 + 0.5) / 100 AS max_price
      |  FROM lineitem GROUP BY l_returnflag
      |)
      |SELECT mx.l_returnflag, mx.l_orderkey AS top_order,
      |       mn.l_orderkey AS bottom_order, mp.max_price
      |FROM mx
      |JOIN mn ON mn.l_returnflag = mx.l_returnflag AND mn.rn = 1
      |JOIN mp ON mp.l_returnflag = mx.l_returnflag
      |WHERE mx.rn = 1 ORDER BY mx.l_returnflag""") { (s, dir) =>
    t(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        max(struct(col("l_extendedprice"), col("l_orderkey")))
          .getField("l_orderkey").as("top_order"),
        min(struct(col("l_extendedprice"), col("l_orderkey")))
          .getField("l_orderkey").as("bottom_order"),
        (floor(max(col("l_extendedprice")) * 100 + 0.5) / 100).as("max_price"))
      .orderBy("l_returnflag")
  }

  // --------------------------------------------------------------- Q55
  /** Generator over computed data: each order expands to a 3-month
    * date sequence (sequence + explode ≅ a table function), then a
    * per-month count — the "explode a generated range" shape used for
    * calendar densification. */
  val q55 = QueryDef("q55_date_sequence",
    """WITH m AS (
      |  SELECT unnest(generate_series(date_trunc('month', o_orderdate),
      |                date_trunc('month', o_orderdate) + INTERVAL 2 MONTH,
      |                INTERVAL 1 MONTH)) AS m
      |  FROM orders
      |)
      |SELECT strftime(m, '%Y-%m') AS month, count(*) AS n_open
      |FROM m GROUP BY month ORDER BY month""") { (s, dir) =>
    t(s, dir, "orders")
      .select(explode(sequence(
        trunc(col("o_orderdate"), "month"),
        add_months(trunc(col("o_orderdate"), "month"), 2),
        expr("INTERVAL 1 MONTH"))).as("m"))
      .groupBy(date_format(col("m"), "yyyy-MM").as("month"))
      .agg(count(lit(1)).as("n_open"))
      .orderBy("month")
  }

  // --------------------------------------------------------------- Q56
  /** Supplier-side margin rollup: gross = price × (1−discount) × (1+tax)
    * per row (identical IEEE ops on both engines), summed exactly via
    * DECIMAL. Exercises l_tax and the supplier → nation dimension path. */
  val q56 = QueryDef("q56_supplier_margin",
    """SELECT n_name, count(*) AS n,
      |       CAST(round(sum(CAST(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)
      |         AS DECIMAL(18,6))), 2) AS DOUBLE) AS gross
      |FROM lineitem
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |GROUP BY n_name ORDER BY n_name""") { (s, dir) =>
    t(s, dir, "lineitem")
      .join(broadcast(t(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(t(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(count(lit(1)).as("n"),
        round(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount"))
          * (lit(1.0) + col("l_tax"))).cast("decimal(18,6)")), 2)
          .cast("double").as("gross"))
      .orderBy("n_name")
  }

  // --------------------------------------------------------------- Q57
  /** Customer segment profile: conditional counts, an exact-DECIMAL
    * average (sum/count division on identical doubles), and string
    * min/upper — covers c_acctbal / c_name. */
  val q57 = QueryDef("q57_segment_profile",
    s"""SELECT c_mktsegment, count(*) AS n,
      |       CAST(sum(CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_negative,
      |       ${TextFunctions.round4Sql(
                "CAST(sum(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) / count(*)")} AS avg_bal,
      |       upper(min(c_name)) AS first_name
      |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""") { (s, dir) =>
    t(s, dir, "customer")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"),
        sum(when(col("c_acctbal") < 0, 1).otherwise(0)).as("n_negative"),
        TextFunctions.round4(
          sum(col("c_acctbal").cast("decimal(18,6)")).cast("double") / count(lit(1)))
          .as("avg_bal"),
        upper(min(col("c_name"))).as("first_name"))
      .orderBy("c_mktsegment")
  }

  // --------------------------------------------------------------- Q58
  /** Corpus census by source: covers documents.source / n_chars and the
    * retail-price margin on part (p_retailprice). */
  val q58 = QueryDef("q58_corpus_census",
    """SELECT source, lang, count(*) AS n_docs,
      |       CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |       CAST(min(doc_id) AS BIGINT) AS first_doc
      |FROM documents GROUP BY source, lang ORDER BY source, lang""") { (s, dir) =>
    t(s, dir, "documents")
      .groupBy("source", "lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        min(col("doc_id")).as("first_doc"))
      .orderBy("source", "lang")
  }

  // --------------------------------------------------------------- Q59
  /** Time-interval RANGE window frame: running 90-day order total per
    * customer. A RANGE frame's membership depends only on the ORDER
    * column's values (date ties aggregate together), so the exact
    * DECIMAL sum is well-defined regardless of tie order. Distinct
    * capability from q15's ROWS frame. */
  val q59 = {
    val body =
      """SELECT o_custkey, o_orderkey,
        |       CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))) OVER (
        |         PARTITION BY o_custkey ORDER BY o_orderdate
        |         RANGE BETWEEN INTERVAL %s PRECEDING AND CURRENT ROW), 2) AS DOUBLE) AS sum90
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin
    sqlEntry("q59_range_frame", body.format("90 DAY"),
      views = Seq("orders"),
      // interval literal spelling differs: Spark wants '90' DAY
      sparkSql = Some(body.format("'90' DAY")))
  }

  // --------------------------------------------------------------- Q60
  /** Boolean / conditional aggregates: count_if, bool_and, bool_or —
    * identical function names and semantics on both engines.
    * DuckDB's count_if returns HUGEINT (not BIGINT like Spark's), and the
    * gate canonicalizes HUGEINT as float → hash mismatch; cast in the
    * oracle only. */
  val q60 = QueryDef("q60_bool_aggs",
    """SELECT l_returnflag,
      |       CAST(count_if(l_discount > 0.05) AS BIGINT) AS n_discounted,
      |       bool_and(l_quantity > 0) AS all_positive,
      |       bool_or(l_tax > 0.07) AS any_high_tax
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""") { (s, dir) =>
    t(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        count_if(col("l_discount") > 0.05).as("n_discounted"),
        bool_and(col("l_quantity") > 0).as("all_positive"),
        bool_or(col("l_tax") > 0.07).as("any_high_tax"))
      .orderBy("l_returnflag")
  }

  // --------------------------------------------------------------- Q61
  /** Multiset set operations (EXCEPT ALL / INTERSECT ALL): duplicates
    * count — orders carries repeated custkeys, so the result differs
    * from q17's distinct set ops. */
  val q61 = QueryDef("q61_setops_all",
    """SELECT 'except_all' AS op, c_custkey FROM (
      |  SELECT o_custkey AS c_custkey FROM orders
      |  EXCEPT ALL SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
      |UNION ALL
      |SELECT 'intersect_all' AS op, c_custkey FROM (
      |  SELECT o_custkey AS c_custkey FROM orders
      |  INTERSECT ALL SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
      |ORDER BY op, c_custkey""") { (s, dir) =>
    val ordersKeys = t(s, dir, "orders").select(col("o_custkey").as("c_custkey"))
    val building = t(s, dir, "customer")
      .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
    ordersKeys.exceptAll(building).withColumn("op", lit("except_all"))
      .unionByName(ordersKeys.intersectAll(building).withColumn("op", lit("intersect_all")))
      .select("op", "c_custkey")
      .orderBy("op", "c_custkey")
  }

  // --------------------------------------------------------------- Q62
  /** Unpivot (melt): q41's wide month × status revenue back to long
    * form. Spark uses the native `unpivot` operator; the oracle states
    * the same relation as a portable UNION ALL. */
  val q62 = QueryDef("q62_unpivot",
    """WITH w AS (
      |  SELECT strftime(o_orderdate, '%Y-%m') AS month,
      |         CAST(round(coalesce(sum(CAST(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END AS DECIMAL(18,6))), 0), 2) AS DOUBLE) AS F,
      |         CAST(round(coalesce(sum(CAST(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END AS DECIMAL(18,6))), 0), 2) AS DOUBLE) AS O,
      |         CAST(round(coalesce(sum(CAST(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END AS DECIMAL(18,6))), 0), 2) AS DOUBLE) AS P
      |  FROM orders GROUP BY month
      |)
      |SELECT month, status, sum_price FROM (
      |  SELECT month, 'F' AS status, F AS sum_price FROM w
      |  UNION ALL SELECT month, 'O', O FROM w
      |  UNION ALL SELECT month, 'P', P FROM w
      |) ORDER BY month, status""") { (s, dir) =>
    val wide = t(s, dir, "orders")
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(sum(col("o_totalprice").cast("decimal(18,6)")))
      .select(col("month"),
        round(coalesce(col("F"), lit(0)), 2).cast("double").as("F"),
        round(coalesce(col("O"), lit(0)), 2).cast("double").as("O"),
        round(coalesce(col("P"), lit(0)), 2).cast("double").as("P"))
    wide.unpivot(Array(col("month")), Array(col("F"), col("O"), col("P")),
        "status", "sum_price")
      .orderBy("month", "status")
  }

  // --------------------------------------------------------------- Q73
  /** LEFT-OUTER ATTRIBUTION — batch twin of
    * [[graft.streaming.EventStreams.viewPurchaseAttributionOuter]]:
    * every purchase joined to same-user views in the preceding 30
    * minutes, emitting a null `view_id` when none exists ("direct
    * purchase"). The oracle compares at epoch-microseconds because
    * events.ts is nanosecond parquet: Spark's TimestampType is µs
    * (floored from ns by the Tables rebuild), so a raw ns-precision
    * DuckDB comparison could disagree exactly at an interval boundary;
    * epoch_us() floors identically. Nulls are coalesce-ordered, never
    * null-ordered (engine default null order differs). */
  val q73 = QueryDef("q73_attribution_outer",
    """WITH v AS (
      |  SELECT event_id AS view_id, user_id, epoch_us(ts) AS v_eu
      |  FROM events WHERE event_type = 'view'
      |), p AS (
      |  SELECT event_id AS purchase_id, user_id, epoch_us(ts) AS p_eu
      |  FROM events WHERE event_type = 'purchase'
      |)
      |SELECT p.purchase_id, v.view_id, p.user_id
      |FROM p LEFT JOIN v ON v.user_id = p.user_id
      |  AND v.v_eu <= p.p_eu AND v.v_eu >= p.p_eu - 1800000000
      |ORDER BY purchase_id, coalesce(view_id, -1)""") { (s, dir) =>
    val events = t(s, dir, "events")
    graft.streaming.EventStreams.viewPurchaseAttributionOuter(
        events.filter(col("event_type") === "view"),
        events.filter(col("event_type") === "purchase"))
      .orderBy(col("purchase_id"), coalesce(col("view_id"), lit(-1)))
  }

  // --------------------------------------------------------------- Q82
  /** SKEW-SALTED AGGREGATION through
    * [[graft.operators.Skew.saltedAggregate]], declared as a first-class
    * query: l_returnflag has 3 values over the whole lineitem table —
    * the pathological reducer-skew shape where every row funnels into 3
    * reducers at 100 TB. The salted plan spreads each hot key over
    * (key, salt-of-l_orderkey) partials, then re-aggregates; salting is
    * semantics-preserving, so the oracle is the PLAIN group-by — the
    * gate proves the rewrite is invisible to the answer. DECIMAL sums
    * for cross-engine exactness (double accumulation is
    * addition-order-dependent; the salted plan reorders additions by
    * construction). */
  val q82 = QueryDef("q82_salted_agg",
    """SELECT l_returnflag, count(*) AS n,
      |       CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""") { (s, dir) =>
    val li = t(s, dir, "lineitem").select(col("l_returnflag"), col("l_orderkey"),
      col("l_quantity").cast("decimal(18,6)").as("l_quantity"))
    graft.operators.Skew.saltedAggregate(li, "l_returnflag", 8,
        saltSource = Seq("l_orderkey"), sumCols = Seq("l_quantity"))
      .select(col("l_returnflag"), col("n"),
        col("sum_l_quantity").cast("double").as("sum_qty"))
      .orderBy("l_returnflag")
  }

  // --------------------------------------------------------------- Q83
  /** SKEW-SALTED JOIN through [[graft.operators.Skew.saltedJoin]]: the
    * fact side's join key is salted over 8 buckets and the dimension
    * side replicated once per salt, so one hot part key spreads over 8
    * shuffle partitions instead of stalling a single reducer. The
    * oracle is the plain equi-join — identical answer by construction
    * (spec-asserted in SinksAndSkewSpec; oracle-gated here). */
  val q83 = QueryDef("q83_salted_join",
    """SELECT p_brand, count(*) AS n,
      |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS rev
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |GROUP BY p_brand ORDER BY p_brand""") { (s, dir) =>
    val li = t(s, dir, "lineitem")
      .select(col("l_partkey"), col("l_orderkey"), col("l_extendedprice"))
    val part = t(s, dir, "part").select(col("p_partkey"), col("p_brand"))
    graft.operators.Skew.saltedJoin(li, part, "l_partkey", "p_partkey", 8,
        bigSaltSource = Seq("l_orderkey"))
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n"),
        sum(col("l_extendedprice").cast("decimal(18,6)")).cast("double").as("rev"))
      .orderBy("p_brand")
  }

  // --------------------------------------------------------------- Q83b
  /** SKEW-SALTED LEFT-OUTER JOIN — the attribution shape at 100 TB:
    * every fact row must survive (spend attribution, impression
    * joining), dimension columns null when unmatched, while one hot
    * key would otherwise stall a single reducer. The dimension side is
    * deliberately restricted (p_size <= 25) so a real fraction of
    * lineitem is unmatched; the oracle is the PLAIN left join —
    * null-extension exactly once per unmatched row is the whole
    * contract ([[graft.operators.Skew.saltedJoin]] Scaladoc explains
    * why left-outer is safe and right/full are rejected). The group
    * key is coalesced on BOTH engines so null-ordering differences
    * can't enter the hash. */
  val q83b = QueryDef("q83b_salted_left_join",
    """SELECT coalesce(p_brand, '<unmatched>') AS brand, count(*) AS n,
      |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS rev
      |FROM lineitem LEFT JOIN (SELECT p_partkey, p_brand FROM part WHERE p_size <= 25) p
      |  ON l_partkey = p_partkey
      |GROUP BY 1 ORDER BY 1""") { (s, dir) =>
    val li = t(s, dir, "lineitem")
      .select(col("l_partkey"), col("l_orderkey"), col("l_extendedprice"))
    val part = t(s, dir, "part").filter(col("p_size") <= 25)
      .select(col("p_partkey"), col("p_brand"))
    graft.operators.Skew.saltedJoin(li, part, "l_partkey", "p_partkey", 8,
        bigSaltSource = Seq("l_orderkey"), joinType = "left_outer")
      .groupBy(coalesce(col("p_brand"), lit("<unmatched>")).as("brand"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_extendedprice").cast("decimal(18,6)")).cast("double").as("rev"))
      .orderBy("brand")
  }

  // --------------------------------------------------------------- Q84
  /** BM25 RETRIEVAL (Robertson/Lucene idf form, k1=1.2, b=0.75) — the
    * ranking function actually used for corpus search and dataset
    * curation, completing q48's tf-idf. The "query" is the corpus's own
    * top-3 words by total term frequency (deterministic, corpus-
    * independent — integer tie-broken by word), scored against every
    * document with document-length normalization, top-10 docs returned.
    * Plan shape: tokenize once, df via window over the (doc, word)
    * aggregate (q48's no-self-join trick), corpus scalars (N, avgdl)
    * broadcast, ranking on the round4-rounded score with a doc_id
    * tiebreak so the cutoff is engine-exact. */
  /** Oracle CTE chain `docw … scored(doc_id, bm25)` — shared by q84 and
    * the hybrid-retrieval fusion q88 so the two oracles can never drift
    * apart on the sparse leg's scoring. */
  val bm25ScoredCteSql: String =
    s"""${TextFunctions.docwCteSql},
      |tok AS (SELECT doc_id, unnest(w) AS word FROM docw),
      |tf AS (SELECT doc_id, word, count(*) AS tf FROM tok GROUP BY doc_id, word),
      |dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id),
      |df AS (SELECT word, count(*) AS df FROM tf GROUP BY word),
      |n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
      |avgdl AS (SELECT CAST(sum(tf) AS DOUBLE) / count(DISTINCT doc_id) AS avgdl FROM tf),
      |terms AS (SELECT word FROM tf GROUP BY word ORDER BY sum(tf) DESC, word LIMIT 3),
      |scored AS (
      |  SELECT tf.doc_id,
      |         ${TextFunctions.round4Sql(
                  """sum(ln((n.n - df.df + 0.5) / (df.df + 0.5) + 1)
      |             * (tf.tf * 2.2)
      |             / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / avgdl.avgdl)))""".stripMargin)} AS bm25
      |  FROM tf JOIN terms USING (word) JOIN df USING (word) JOIN dl USING (doc_id)
      |       CROSS JOIN n CROSS JOIN avgdl
      |  GROUP BY tf.doc_id
      |)""".stripMargin

  val q84 = QueryDef("q84_bm25",
    s"""WITH $bm25ScoredCteSql
      |SELECT doc_id, bm25 FROM scored
      |ORDER BY bm25 DESC, doc_id LIMIT 10""") { (s, dir) =>
    bm25Scored(s, dir)
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(10)
  }

  /** The full (doc_id, bm25) scored relation behind q84 — also the
    * sparse leg of the hybrid-retrieval fusion (q88). */
  def bm25Scored(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val tok = docs.select(col("doc_id"),
      explode(TextFunctions.normalizedWords(col("text"))).as("word"))
    val tf = tok.groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
    val n = docs.agg(count(lit(1)).cast("double").as("n"))
    // dl (doc length) and avgdl both DERIVE from tf (dl = Σ tf per doc)
    // instead of re-aggregating the token stream — the corpus is
    // tokenized for tf only, never a second time. dl is a pre-joined
    // (doc_id, dl) AGGREGATE, not a window over the full tf relation:
    // the aggregate column-prunes to two columns and combines map-side
    // before its doc_id exchange, and the main branch joins it only
    // AFTER the 3-term semi-join has cut tf to ~terms·docs rows — the
    // window form shuffled the entire (doc, word, tf) relation by
    // doc_id before any pruning. df derives from the term-filtered
    // rows: tf has one row per (doc, word), so a per-word count AFTER
    // the 3-term semi-join is still that word's full document
    // frequency — and as a 3-row AGGREGATE broadcast back, not a
    // 3-partition window funnel over every filtered row.
    val avgdl = tf.agg((sum(col("tf")).cast("double")
      / countDistinct(col("doc_id"))).as("avgdl"))
    val terms = tf.groupBy("word").agg(sum(col("tf")).as("ttf"))
      .orderBy(col("ttf").desc, col("word")).limit(3).select("word")
    val dl = tf.groupBy("doc_id").agg(sum(col("tf")).as("dl"))
    val tfTerms = tf.join(broadcast(terms), "word")
    val df = tfTerms.groupBy("word").agg(count(lit(1)).as("df"))
    tfTerms
      .join(broadcast(df), "word")
      .join(dl, "doc_id")
      .crossJoin(broadcast(n))
      .crossJoin(broadcast(avgdl))
      .withColumn("contrib",
        log((col("n") - col("df") + 0.5) / (col("df") + 0.5) + 1)
          * (col("tf") * lit(2.2))
          / (col("tf") + lit(1.2) * (lit(1) - lit(0.75) + lit(0.75) * col("dl") / col("avgdl"))))
      .groupBy("doc_id")
      .agg(TextFunctions.round4(sum(col("contrib"))).as("bm25"))
  }

  // --------------------------------------------------------------- Q85
  /** Z-ORDER (Morton) clustering key over two join/filter dimensions —
    * the multi-dimensional data-layout primitive behind lakehouse
    * z-ordering ([[graft.operators.Layout]]; LayoutSpec measures the
    * per-file min/max tightening against a linear sort). The query
    * gates the interleave's VALUE: both engines compute the identical
    * statically-unrolled shift/and/or chain, total-ordered by (z, row
    * identity). The layout effect itself isn't SQL-observable, so it's
    * spec-gated; this keeps the bit math engine-exact. */
  val q85 = QueryDef("q85_zorder",
    s"""SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
      |       ${graft.operators.Layout.zValueSql("l_partkey", "l_suppkey")} AS z
      |FROM lineitem
      |ORDER BY z, l_orderkey, l_linenumber LIMIT 100""") { (s, dir) =>
    t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_suppkey"),
        graft.operators.Layout.zValue(col("l_partkey"), col("l_suppkey")).as("z"))
      .orderBy(col("z"), col("l_orderkey"), col("l_linenumber"))
      .limit(100)
  }

  // -------------------------------------------------------------- Q114
  /** RECURSIVE CTE (Spark 4's WITH RECURSIVE): ancestor closure over
    * the implicit binary-tree hierarchy parent(id) = floor(id/2) —
    * iterative transitive closure THROUGH THE SQL ENTRY POINT, the
    * same statement on both engines (contrast q63's operator-level CC
    * and q101's unrolled PageRank oracle, which predate engine
    * recursion). Depth is log2(N): 13 recursion steps at sf0.1 — each
    * step a hash join + union, no driver loop at all. */
  val q114 = sqlEntry("q114_recursive_cte",
    """WITH RECURSIVE anc(doc_id, a, d) AS (
      |  SELECT doc_id, CAST(floor(doc_id / 2.0) AS BIGINT), CAST(1 AS BIGINT)
      |  FROM documents WHERE doc_id >= 1
      |  UNION ALL
      |  SELECT doc_id, CAST(floor(a / 2.0) AS BIGINT), d + 1 FROM anc WHERE a >= 1
      |)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_anc, CAST(max(d) AS BIGINT) AS depth
      |FROM anc GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    views = Seq("documents"))

  val all: Seq[QueryDef] = Seq(q46, q47, q48, q49, q50, q51, q52, q53, q54, q55,
    q56, q57, q58, q59, q60, q61, q62, q73, q82, q83, q83b, q84, q85, q114)
}
