package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Weighted PageRank (Page et al., 1999) over an edge relation — the
  * iterative graph-analytics shape (domain authority for crawl
  * prioritization, source weighting for mixture design) that
  * complements [[Dedup]]'s connected components.
  *
  * Every quantity is EXACT-INTEGER (the q91 idiom): ranks live in
  * `scale` fixed-point units and every per-edge contribution is
  * floor-divided BEFORE the aggregation, so sums are integer —
  * order-independent, repartition-invariant, and bit-identical in any
  * engine. The damping factor is the exact rational dampNum/dampDen
  * (default 17/20 = 0.85). The tiny mass the floors shave off is
  * deterministic; PageRankSpec pins the fixed-point ranks against a
  * driver-side double-precision replay to within quantization error.
  *
  * One iteration, all relational:
  *   contrib(e) = floor(rank(src) * w(e) / outw(src))   per edge
  *   dangling   = sum of rank over nodes with no out-edges
  *   rank'(n)   = floor((1-d)·scale/N)
  *              + floor(d · (Σ_in contrib + floor(dangling/N)))
  *
  * 100 TB shape: ranks shuffle by node key, edges by src — two
  * hash-partitionable equi-joins + one aggregation per iteration, the
  * same plan a Pregel superstep lowers to; the dangling term is a
  * scalar (broadcast). The driver loop carries only iteration count
  * and truncates lineage per round ([[Dedup]] CC-loop idiom).
  */
object PageRank {

  val scale = 1000000000L // 1e9 fixed-point units of rank mass

  /** Ranks after `iterations` rounds over `edges(src, dst, w)` (w a
    * positive integral weight). Returns (node, rank_units LONG). */
  def run(edges: DataFrame, iterations: Int,
      dampNum: Long = 17L, dampDen: Long = 20L): DataFrame = {
    require(iterations >= 0 && dampNum > 0 && dampDen > dampNum)
    // r16: materialize the edge relation ONCE (lazy checkpoint — the
    // nodes.count() action below realizes it). It feeds nodes (twice),
    // outw and eNorm; un-pinned, every reference re-ran the caller's
    // whole edge-construction subtree (for q101 a lineitem join+agg),
    // and outw — referenced by the dangling term EVERY round — re-ran
    // it once per iteration on top (guide §1.2: remove redundant
    // passes; the [[Triangles]] multi-consumer pin).
    val e = edges.select(col("src"), col("dst"), col("w").cast("long").as("w"))
      .localCheckpoint(false)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct().localCheckpoint()
    val n = nodes.count() // scalar; node-table job, not corpus-sized
    require(n > 0, "empty graph")
    // Driver-local fast path ([[DriverLocal]], same as [[Hits]]):
    // bounded edges + pure deterministic integer arithmetic replicate the
    // rounds exactly; the bounded collect reads the already-materialized
    // edge checkpoint. Type-gated to identical src/dst types so local
    // node keys match the union's coercion; the replica itself re-checks
    // its node count against `n` and falls back on any mismatch.
    val local = (if (localTyped(e)) DriverLocal.collectIfBounded(e, localCap(e)) else None)
      .map(localRun(e, _, None, n, iterations, dampNum, dampDen)).orNull
    if (local != null) return local
    // per-source normalization mass (outw) rides on each edge; pinned —
    // the per-round dangling anti-join re-reads it
    val outw = e.groupBy("src").agg(sum("w").as("outw")).localCheckpoint(false)
    val eNorm = e.join(outw, "src").localCheckpoint(false)
    val baseTerm = (dampDen - dampNum) * scale / dampDen / n // floor((1-d)·scale/N)
    var ranks = nodes.withColumn("rank", lit(scale / n)).localCheckpoint()
    // r16 OPTIMIZATION (guide §5/§7.3 — keep the driver out of the round
    // loop): the dangling mass used to cross to the driver as a per-round
    // `.head` collect, and each round's ranks were EAGERLY checkpointed —
    // 2 driver-synchronized actions per round over tiny per-round frames,
    // pure job latency. The dangling scalar now rides as a broadcast
    // 1-row crossJoin (identical floor arithmetic: `dang div N` on a
    // non-negative LONG is exactly the Scala `dangling / n` literal it
    // replaces) and the checkpoint is LAZY, so the whole iteration is one
    // deferred plan materialized by the caller's single action; lineage
    // still truncates per round (LogicalRDD), same as before.
    for (_ <- 1 to iterations) {
      val dangling = ranks.join(outw, ranks("node") === outw("src"), "left_anti")
        .agg(coalesce(sum("rank"), lit(0L)).as("dang")) // 1-row frame
      val contribs = eNorm
        .join(ranks, eNorm("src") === ranks("node"))
        .select(col("dst").as("node"),
          // integral `div`: exact floor arithmetic on both engines.
          // Overflow bound: rank·w < 2^63, i.e. per-edge weight below
          // ~9.2e9 at full 1e9 rank mass — downscale weights past that.
          expr("(rank * w) div outw").as("c"))
        .groupBy("node").agg(sum("c").as("in_sum"))
      ranks = nodes
        .join(contribs, Seq("node"), "left_outer")
        .crossJoin(broadcast(dangling))
        .select(col("node"),
          (lit(baseTerm) +
            expr(s"($dampNum * (coalesce(in_sum, 0L) + (dang div ${n}L))) div $dampDen"))
            .as("rank"))
        .localCheckpoint(false)
    }
    ranks
  }

  /** PERSONALIZED PageRank (Haveliwala 2002's topic-sensitive variant,
    * the RANDOM-WALK-WITH-RESTART form graph recommenders and
    * crawl-frontier prioritizers run): identical to [[run]] except the
    * teleport goes to a SEED SET instead of the uniform distribution —
    * initial mass, the (1-d) restart term, and the dangling mass all
    * land on seeds only, split evenly across them:
    *
    *   rank'(n) = 1_S(n)·floor((1-d)·scale/|S|)
    *            + floor(d · (Σ_in contrib + 1_S(n)·floor(dangling/|S|)))
    *
    * Same exact-integer discipline as [[run]] (floor-divided
    * contributions, rational damping), so DuckDB replays the ranks
    * bit-for-bit. Scale shape unchanged: the seed set joins as one
    * extra broadcast-sized flag column on the node table; everything
    * else is the same two hash joins + aggregation per round.
    *
    * `seeds`' first column = node ids (must be a subset of the graph's
    * nodes or isolated extras — extras receive teleport mass and leak
    * it back through the dangling term, the standard PPR closure). */
  def runPersonalized(edges: DataFrame, seeds: DataFrame, iterations: Int,
      dampNum: Long = 17L, dampDen: Long = 20L): DataFrame = {
    require(iterations >= 0 && dampNum > 0 && dampDen > dampNum)
    // same single-materialization discipline as [[run]]
    val e = edges.select(col("src"), col("dst"), col("w").cast("long").as("w"))
      .localCheckpoint(false)
    val sd = seeds.select(col(seeds.columns.head).as("node")).distinct()
      .localCheckpoint()
    val nS = sd.count()
    require(nS > 0, "empty seed set")
    // same fast path as [[run]]; the seed set is bounded by its own
    // already-computed count
    val cap = localCap(e)
    val localRows =
      if (localTyped(e) && nS <= cap && sd.schema.head.dataType == e.schema.head.dataType)
        DriverLocal.collectIfBounded(e, cap)
      else None
    val local = localRows.map(localRun(e, _, Some((sd.collect(), nS)), -1L, iterations,
      dampNum, dampDen)).orNull
    if (local != null) return local
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .union(sd.select(col("node")))
      .distinct()
      .join(sd.withColumn("is_seed", lit(true)), Seq("node"), "left")
      .select(col("node"), coalesce(col("is_seed"), lit(false)).as("is_seed"))
      .localCheckpoint()
    val outw = e.groupBy("src").agg(sum("w").as("outw")).localCheckpoint(false)
    val eNorm = e.join(outw, "src").localCheckpoint(false)
    val baseSeed = (dampDen - dampNum) * scale / dampDen / nS
    var ranks = nodes
      .select(col("node"), col("is_seed"),
        when(col("is_seed"), lit(scale / nS)).otherwise(lit(0L)).as("rank"))
      .localCheckpoint()
    // same broadcast-dangling / lazy-checkpoint round fusion as [[run]]
    for (_ <- 1 to iterations) {
      val dangling = ranks.join(outw, ranks("node") === outw("src"), "left_anti")
        .agg(coalesce(sum("rank"), lit(0L)).as("dang"))
      val contribs = eNorm
        .join(ranks, eNorm("src") === ranks("node"))
        .select(col("dst").as("node"), expr("(rank * w) div outw").as("c"))
        .groupBy("node").agg(sum("c").as("in_sum"))
      ranks = nodes
        .join(contribs, Seq("node"), "left_outer")
        .crossJoin(broadcast(dangling))
        .select(col("node"), col("is_seed"),
          (when(col("is_seed"), lit(baseSeed)).otherwise(lit(0L)) +
            expr(s"($dampNum * (coalesce(in_sum, 0L) + " +
              s"if(is_seed, dang div ${nS}L, 0L))) div $dampDen"))
            .as("rank"))
        .localCheckpoint(false)
    }
    ranks.select("node", "rank")
  }

  /** Fast-path type gate: src/dst of one identical value-faithful type
    * — integral/string/binary ids compare and hash by value exactly as
    * Spark's distinct does; floats (NaN/-0.0 normalization) and nested
    * types stay distributed. */
  private def localTyped(e: DataFrame): Boolean = {
    import org.apache.spark.sql.types._
    val st = e.schema(0).dataType
    st == e.schema(1).dataType && (st match {
      case ByteType | ShortType | IntegerType | LongType | StringType |
           BinaryType => true
      case _ => false
    })
  }

  private def localCap(e: DataFrame): Long =
    DriverLocal.cap(e.sparkSession, DriverLocal.edgeCap)

  /** Exact driver-local replica of the distributed rounds over the
    * collected `rows` of the edge frame `e`. `seedInfo` =
    * Some((collected distinct seed rows, nS)) for the personalized
    * variant, None for uniform (then `nUniform` = the node count the
    * caller already computed; the replica re-derives it and returns
    * null on mismatch so the caller falls back). Join-semantics
    * fidelity: a null node is always dangling and never receives
    * contributions or (PPR) seed status; a null-src or null-weight edge
    * row contributes nothing; an all-null-weight source still counts as
    * non-dangling (its outw GROUP exists); division is the same
    * non-negative floor div. */
  private def localRun(e: DataFrame, rows: Array[org.apache.spark.sql.Row],
      seedInfo: Option[(Array[org.apache.spark.sql.Row], Long)], nUniform: Long,
      iterations: Int, dampNum: Long, dampDen: Long): DataFrame = {
    import scala.collection.mutable
    import DriverLocal.key
    val vals = mutable.LinkedHashMap.empty[Any, Any]
    var hasNullNode = false
    rows.foreach { r =>
      Seq(r.get(0), r.get(1)).foreach { v =>
        if (v == null) hasNullNode = true else vals.getOrElseUpdate(key(v), v)
      }
    }
    val seedKeys = mutable.HashSet.empty[Any]
    seedInfo.foreach { case (sdRows, _) =>
      sdRows.foreach { r =>
        if (r.isNullAt(0)) hasNullNode = true
        else {
          val k = key(r.get(0))
          vals.getOrElseUpdate(k, r.get(0))
          seedKeys += k
        }
      }
    }
    val n = vals.size + (if (hasNullNode) 1L else 0L)
    if (seedInfo.isEmpty && n != nUniform) return null // coercion drift — fall back
    // per-source totals: group existence (non-dangling) is independent
    // of weight nullness; the total sums only non-null weights
    val outwKeys = mutable.HashSet.empty[Any]
    val outwVal = mutable.HashMap.empty[Any, Long]
    rows.foreach { r =>
      if (!r.isNullAt(0)) {
        val ks = key(r.get(0))
        outwKeys += ks
        if (!r.isNullAt(2)) outwVal(ks) = outwVal.getOrElse(ks, 0L) + r.getLong(2)
      }
    }
    val nS = seedInfo.map(_._2).getOrElse(0L)
    val base =
      if (seedInfo.isEmpty) (dampDen - dampNum) * scale / dampDen / n
      else (dampDen - dampNum) * scale / dampDen / nS
    val rank = mutable.HashMap.empty[Any, Long]
    var nullRank =
      if (seedInfo.isEmpty) scale / n else 0L // null node is never a seed
    vals.keys.foreach { k =>
      rank(k) =
        if (seedInfo.isEmpty) scale / n
        else if (seedKeys.contains(k)) scale / nS else 0L
    }
    for (_ <- 1 to iterations) {
      var dang = if (hasNullNode) nullRank else 0L
      rank.foreach { case (k, v) => if (!outwKeys.contains(k)) dang += v }
      val inSum = mutable.HashMap.empty[Any, Long]
      rows.foreach { r =>
        if (!r.isNullAt(0) && !r.isNullAt(1) && !r.isNullAt(2)) {
          val ow = outwVal.getOrElse(key(r.get(0)), 0L)
          if (ow != 0L) { // Spark: div by zero/null -> null -> sum skips
            val kd = key(r.get(1))
            inSum(kd) = inSum.getOrElse(kd, 0L) +
              rank(key(r.get(0))) * r.getLong(2) / ow
          }
        }
      }
      vals.keys.foreach { k =>
        val share =
          if (seedInfo.isEmpty) dang / n
          else if (seedKeys.contains(k)) dang / nS else 0L
        rank(k) = base * (if (seedInfo.isEmpty || seedKeys.contains(k)) 1L else 0L) +
          dampNum * (inSum.getOrElse(k, 0L) + share) / dampDen
      }
      nullRank = (if (seedInfo.isEmpty) base else 0L) +
        dampNum * (0L + (if (seedInfo.isEmpty) dang / n else 0L)) / dampDen
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("node", e.schema.head.dataType),
      org.apache.spark.sql.types.StructField("rank",
        org.apache.spark.sql.types.LongType, nullable = false)))
    val out: Seq[org.apache.spark.sql.Row] =
      vals.map { case (k, v) => org.apache.spark.sql.Row(v, rank(k)) }.toSeq ++
        (if (hasNullNode) Seq(org.apache.spark.sql.Row(null, nullRank)) else Nil)
    DriverLocal.toDf(e.sparkSession, out, schema)
  }

  /** Driver-side double-precision replay (the spec's independent
    * witness): same iteration structure without fixed-point floors. */
  def runReference(edges: Seq[(String, String, Long)], iterations: Int,
      damping: Double = 0.85): Map[String, Double] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    val n = nodes.size
    val outw = edges.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    var rank = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to iterations) {
      val dangling = nodes.filterNot(outw.contains).map(rank).sum
      val in = edges.groupBy(_._2).view.mapValues(_.map { case (s, _, w) =>
        rank(s) * w / outw(s)
      }.sum).toMap
      rank = nodes.map(nd => nd ->
        ((1 - damping) / n + damping * (in.getOrElse(nd, 0.0) + dangling / n))).toMap
    }
    rank
  }

  /** Double-precision PPR replay — [[runPersonalized]]'s independent
    * spec witness (teleport/init/dangling all restricted to seeds). */
  def runPersonalizedReference(edges: Seq[(String, String, Long)],
      seeds: Set[String], iterations: Int,
      damping: Double = 0.85): Map[String, Double] = {
    val nodes = ((edges.map(_._1) ++ edges.map(_._2)).distinct ++ seeds).distinct
    val nS = seeds.size
    val outw = edges.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    var rank = nodes.map(nd => nd -> (if (seeds(nd)) 1.0 / nS else 0.0)).toMap
    for (_ <- 1 to iterations) {
      val dangling = nodes.filterNot(outw.contains).map(rank).sum
      val in = edges.groupBy(_._2).view.mapValues(_.map { case (s, _, w) =>
        rank(s) * w / outw(s)
      }.sum).toMap
      rank = nodes.map(nd => nd -> {
        val tele = if (seeds(nd)) (1 - damping) / nS else 0.0
        val dang = if (seeds(nd)) dangling / nS else 0.0
        tele + damping * (in.getOrElse(nd, 0.0) + dang)
      }).toMap
    }
    rank
  }
}
