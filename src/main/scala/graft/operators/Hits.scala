package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** HITS — hubs and authorities (Kleinberg 1999, "Authoritative sources
  * in a hyperlinked environment", JACM 46(5)) over a weighted edge
  * relation: the link-analysis companion to [[PageRank]] the crawl
  * family uses for SEED SCORING — a good hub points at many good
  * authorities, a good authority is pointed at by many good hubs. On
  * an anchor graph (q212's edges) the authority score ranks landing
  * pages by weighted hub endorsement — a different (and for seed
  * lists, often better) signal than raw indegree, because a hub's
  * endorsement is worth what the hub itself is worth.
  *
  * Exact-integer discipline (the [[PageRank]]/q91 idiom, adapted):
  * Kleinberg's L2 normalization is irrational, so each half-round
  * instead rescales by the MAXIMUM raw score —
  *
  *   rawA(v) = Σ_{u→v} h(u)·w(u,v);   a(v) = (rawA(v)·scale) div max rawA
  *   rawH(u) = Σ_{u→v} a(v)·w(u,v);   h(u) = (rawH(u)·scale) div max rawH
  *
  * — max-normalization (the other standard HITS normalization; see
  * Langville & Meyer 2005, "A survey of eigenvector methods for web
  * information retrieval", §4: any fixed rescaling yields the same
  * ranking fixpoint). Every quantity is integer, every division a
  * floor against a deterministic scalar, so sums are order-independent
  * and DuckDB replays the scores bit-for-bit through unrolled rounds.
  * The top node per half-round sits at exactly `scale`.
  *
  * Overflow bound, stated: scores ≤ scale (1e6) and rawA ≤
  * scale·(total incident weight), so the rescale product
  * rawA·scale < 2^63 needs total graph weight below ~9.2e6 — the
  * per-host anchor graphs this serves are far inside it; shard or
  * lower `scale` past that.
  *
  * 100 TB shape: per half-round one hash join of the (persisted,
  * materialized-once) edge set against the bounded one-row-per-node
  * score frame + one combine-able aggregation — shuffles on node id
  * only, exactly a Pregel superstep's lowering; the max is a scalar
  * (one tiny driver value per half-round, like PageRank's dangling
  * mass). Lineage truncates per round (lazy localCheckpoint), and the
  * edge blocks are released once the result materializes (the
  * [[Communities]] retention discipline).
  */
object Hits {

  val scale = 1000000L // 1e6 fixed-point units; top hub/authority = scale

  /** Hub/authority scores after `iterations` full rounds over
    * `edges(src, dst, w)` (w a positive integral weight). Returns
    * (node, hub_units, auth_units) for every node; a node with no
    * out-edges has hub 0, with no in-edges authority 0. */
  def run(edges: DataFrame, iterations: Int): DataFrame = {
    require(iterations >= 1, s"hits: iterations must be >= 1, got $iterations")
    val e = edges.select(col("src"), col("dst"), col("w").cast("long").as("w"))
      .persist()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct().persist()
    require(nodes.count() > 0, "hits: empty graph") // also materializes e once
    // Driver-local fast path ([[DriverLocal]]): a bounded edge list +
    // pure deterministic integer arithmetic — the replica below
    // reproduces every half-round bit-for-bit (same sums, same
    // max-rescale floor divisions, same null-endpoint join semantics),
    // replacing iterations × 2 shuffle stage chains whose cost at this
    // size is round latency. The bounded collect reads the
    // already-persisted edge cache.
    val local = DriverLocal.collectIfBounded(e,
        DriverLocal.cap(e.sparkSession, DriverLocal.edgeCap))
      .map(localRun(e.sparkSession, _, nodes.schema.head.dataType, iterations)).orNull
    if (local != null) { e.unpersist(); nodes.unpersist(); return local }
    var hubs = nodes.withColumn("h", lit(scale))
    var auths = nodes.withColumn("a", lit(0L))
    // r16 OPTIMIZATION (guide §5/§7.3): each half-round used to `.head`
    // its max-score scalar to the driver — 2 driver-synchronized actions
    // per round over tiny frames, pure job latency. The max now rides as
    // a broadcast 1-row crossJoin (identical arithmetic: same
    // greatest(coalesce(max,1),1) scalar, same integral div), so the
    // whole iteration is one deferred plan materialized by the final
    // eager checkpoint below; lineage still truncates per half-round.
    for (_ <- 1 to iterations) {
      val rawA = e.join(hubs.withColumnRenamed("node", "src"), "src")
        .select(col("dst").as("node"), (col("h") * col("w")).as("r"))
        .groupBy("node").agg(sum("r").as("raw"))
      // deterministic scalar per half-round (the dangling-mass shape)
      val maxA = rawA.agg(greatest(coalesce(max("raw"), lit(1L)), lit(1L)).as("mx"))
      auths = nodes
        .join(rawA, Seq("node"), "left_outer")
        .crossJoin(broadcast(maxA))
        .select(col("node"),
          coalesce(expr(s"(raw * ${scale}L) div mx"), lit(0L)).as("a"))
        .localCheckpoint(false)
      val rawH = e.join(auths.withColumnRenamed("node", "dst"), "dst")
        .select(col("src").as("node"), (col("a") * col("w")).as("r"))
        .groupBy("node").agg(sum("r").as("raw"))
      val maxH = rawH.agg(greatest(coalesce(max("raw"), lit(1L)), lit(1L)).as("mx"))
      hubs = nodes
        .join(rawH, Seq("node"), "left_outer")
        .crossJoin(broadcast(maxH))
        .select(col("node"),
          coalesce(expr(s"(raw * ${scale}L) div mx"), lit(0L)).as("h"))
        .localCheckpoint(false)
    }
    val out = nodes
      .join(hubs.withColumnRenamed("h", "hub_units"), Seq("node"), "left_outer")
      .join(auths.withColumnRenamed("a", "auth_units"), Seq("node"), "left_outer")
      .select(col("node"),
        coalesce(col("hub_units"), lit(0L)).as("hub_units"),
        coalesce(col("auth_units"), lit(0L)).as("auth_units"))
      .localCheckpoint()
    e.unpersist()
    nodes.unpersist()
    out
  }

  /** Exact driver-local replica of the distributed half-rounds over a
    * bounded collected edge list `rows` (src, dst, w). Join-semantics
    * fidelity, spelled out: a null-src edge row contributes to no
    * authority raw (the hubs join drops it) but a null-DST group's raw
    * still participates in the maxA rescale scalar; symmetrically for
    * hubs; a null NODE always lands at (0, 0) because every node-keyed
    * join misses on null; a null weight contributes nothing to a sum.
    * All arithmetic is the same non-negative long sum + floor-division,
    * so replication is bit-for-bit (spec-asserted vs the
    * forced-distributed path). */
  private def localRun(spark: org.apache.spark.sql.SparkSession,
      rows: Array[org.apache.spark.sql.Row],
      nodeType: org.apache.spark.sql.types.DataType, iterations: Int): DataFrame = {
    import scala.collection.mutable
    import DriverLocal.key
    val vals = mutable.LinkedHashMap.empty[Any, Any] // key -> original value
    var hasNullNode = false
    rows.foreach { r =>
      Seq(r.get(0), r.get(1)).foreach { v =>
        if (v == null) hasNullNode = true else vals.getOrElseUpdate(key(v), v)
      }
    }
    val h = mutable.HashMap.empty[Any, Long]
    val a = mutable.HashMap.empty[Any, Long]
    vals.keys.foreach { k => h(k) = scale; a(k) = 0L }
    for (_ <- 1 to iterations) {
      val rawA = mutable.HashMap.empty[Any, Long] // keyed by dst (null allowed)
      rows.foreach { r =>
        if (!r.isNullAt(0) && !r.isNullAt(2)) {
          val kd = if (r.isNullAt(1)) null else key(r.get(1))
          rawA(kd) = rawA.getOrElse(kd, 0L) + h(key(r.get(0))) * r.getLong(2)
        }
      }
      val maxA = math.max(if (rawA.isEmpty) 1L else rawA.values.max, 1L)
      vals.keys.foreach { k => a(k) = rawA.getOrElse(k, 0L) * scale / maxA }
      val rawH = mutable.HashMap.empty[Any, Long] // keyed by src (null allowed)
      rows.foreach { r =>
        if (!r.isNullAt(1) && !r.isNullAt(2)) {
          val ks = if (r.isNullAt(0)) null else key(r.get(0))
          rawH(ks) = rawH.getOrElse(ks, 0L) + a(key(r.get(1))) * r.getLong(2)
        }
      }
      val maxH = math.max(if (rawH.isEmpty) 1L else rawH.values.max, 1L)
      vals.keys.foreach { k => h(k) = rawH.getOrElse(k, 0L) * scale / maxH }
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("node", nodeType),
      org.apache.spark.sql.types.StructField("hub_units",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("auth_units",
        org.apache.spark.sql.types.LongType, nullable = false)))
    val out: Seq[org.apache.spark.sql.Row] =
      vals.map { case (k, v) => org.apache.spark.sql.Row(v, h(k), a(k)) }.toSeq ++
        (if (hasNullNode) Seq(org.apache.spark.sql.Row(null, 0L, 0L)) else Nil)
    DriverLocal.toDf(spark, out, schema)
  }

  /** Driver-side double-precision replay with max-normalization — the
    * spec's independent witness (same structure, no integer floors). */
  def runReference(edges: Seq[(String, String, Long)],
      iterations: Int): Map[String, (Double, Double)] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    var h = nodes.map(_ -> 1.0).toMap
    var a = nodes.map(_ -> 0.0).toMap
    for (_ <- 1 to iterations) {
      val rawA = edges.groupBy(_._2).view
        .mapValues(_.map { case (s, _, w) => h(s) * w }.sum).toMap
      val mA = if (rawA.isEmpty) 1.0 else rawA.values.max max 1e-300
      a = nodes.map(n => n -> (rawA.getOrElse(n, 0.0) / mA)).toMap
      val rawH = edges.groupBy(_._1).view
        .mapValues(_.map { case (_, d, w) => a(d) * w }.sum).toMap
      val mH = if (rawH.isEmpty) 1.0 else rawH.values.max max 1e-300
      h = nodes.map(n => n -> (rawH.getOrElse(n, 0.0) / mH)).toMap
    }
    nodes.map(n => n -> ((h(n), a(n)))).toMap
  }
}
