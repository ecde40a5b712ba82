package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** COMMUNITY DETECTION by synchronous label propagation (Raghavan,
  * Albert & Kumara 2007, "Near linear time algorithm to detect
  * community structures in large-scale networks"), made DETERMINISTIC
  * for an analytics engine: the published algorithm breaks frequency
  * ties randomly and updates asynchronously — both unacceptable here,
  * where every result must be engine-replayable (the DuckDB oracle
  * recomputes the identical rounds). The deterministic variant:
  *
  *  - SYNCHRONOUS rounds: round k+1 labels derive only from round k
  *    labels (the "two-coloring oscillation" async LPA avoids is a
  *    non-issue at the small fixed round counts used for near-dup
  *    community splitting, and synchrony is what makes the rounds a
  *    pure dataflow — one shuffle pair per round, no sequential scan).
  *  - Tie-break: most frequent neighbor label wins; equal frequency →
  *    SMALLEST label (the same canonical-min convention as
  *    [[Dedup.dedupClusters]]' component ids).
  *  - Isolated nodes (and nodes whose neighbors vanish — impossible on
  *    a fixed edge set, but the join is left anyway) keep their label.
  *  - FIXED round count, not convergence: LPA's fixpoint is not
  *    guaranteed under synchrony, and community use cases (splitting
  *    chained near-dup blobs that connected components would merge)
  *    want a bounded horizon — label influence travels exactly
  *    `rounds` hops.
  *
  * Contrast with [[Dedup.dedupClusters]]: CC answers "is there ANY
  * path" (one bridge edge merges two cliques); LPA answers "where does
  * the LOCAL majority live" (two cliques joined by one bridge keep two
  * labels, because each clique out-votes the single cross edge). For
  * near-dup curation that's the difference between dropping a whole
  * chain of pairwise-similar docs and keeping one canonical doc per
  * tight blob.
  *
  * Scale shape: per round, one hash join of the symmetrized edge set
  * against the label frame (shuffle on node id) + one two-level
  * aggregation (partial counts map-side, the per-node argmax is a
  * `max(struct(cnt, -lbl))` — a single combine-able aggregate, NOT a
  * window sort). Edges are eagerly persisted (persist + count) — the
  * symmetrize+distinct shuffle runs exactly once, before the round
  * loop — and unpersisted once the result frame has materialized, so
  * repeated calls in a long-lived driver never accumulate executor
  * storage (ADVICE r13); labels are
  * lazily localCheckpoint-ed per round so the logical plan stays O(1)
  * deep (the same driver-OOM discipline as the CC loop). At 100 TB the
  * edge frame is the big side and stays partitioned on `dst` across
  * rounds — the label frame (one row per node) is the small side of
  * every round's join.
  *
  * Reference anchor: the reference engine (/root/reference/src/main.cc)
  * has no graph operators at all — this extends the repo's graph family
  * (PageRank, triangles, CC) with the community primitive published
  * LPA provides.
  */
object Communities {

  /** Run `rounds` synchronous label-propagation rounds over the
    * undirected graph given by `pairs` (first two columns = endpoints;
    * symmetrized and de-duplicated here) on the node set `nodes`
    * (first column = numeric id; every node appears in the output even
    * if isolated). Returns (node, community) where community is the
    * round-`rounds` label (initial label = own id).
    */
  def labelPropagation(pairs: DataFrame, nodes: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, s"labelPropagation: rounds must be >= 1, got $rounds")
    val idCol = nodes.columns.head
    // the argmax tie-break encodes "smallest label" as max(-lbl):
    // that trick needs a numeric id (string ids would need a
    // min_by-with-count-desc two-pass; not a declared need yet)
    require(nodes.schema.head.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"labelPropagation requires a numeric id column, got " +
        nodes.schema.head.dataType.simpleString)
    val Array(pa, pb) = pairs.columns.take(2)
    // single-evaluate the (possibly expensive) pair generator before
    // symmetrizing, then materialize the symmetrize+distinct shuffle
    // ONCE before the round loop (ADVICE r12 — a lazy persist under a
    // loop whose rounds are themselves lazy never materializes before
    // the terminal action, recomputing the shuffle once per round).
    // EAGER persist + count, not localCheckpoint (ADVICE r13): a
    // localCheckpoint's blocks cannot be recomputed and so could never
    // be unpersisted safely — repeated calls in a long-lived driver
    // would accumulate executor storage until GC. persist keeps the
    // lineage, so after the result below is materialized the blocks
    // are released deterministically.
    val pairsOnce = pairs.select(col(pa).cast("long").as("src"), col(pb).cast("long").as("dst"))
      .persist()
    val edges = pairsOnce
      .union(pairsOnce.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .persist()
    val edgeCount = edges.count() // one job: pair generator once, symmetrize+distinct once
    pairsOnce.unpersist()
    // Driver-local fast path ([[DriverLocal.edgeCap]], counted on this
    // symmetric set): exact replica of the synchronous rounds below —
    // same per-node argmax (highest count, ties to the smallest label),
    // same fixed horizon, null endpoints ignored exactly as the
    // equi-joins drop them. Same precondition as the distributed path:
    // pair endpoints ⊆ nodes.
    val local = localEdges(edges, edgeCount)
      .map(localLabelRounds(_, nodes, idCol, rounds, weighted = false)).orNull
    if (local != null) { edges.unpersist(); return local }
    var labels = nodes
      .select(col(idCol).cast("long").as("node"), col(idCol).cast("long").as("lbl"))
    (1 to rounds).foreach { _ =>
      // neighbor label multiset: edge (src, dst) delivers dst's current
      // label to src. groupBy(node, lbl) count is the partial-aggregable
      // frequency table; the per-node winner is one more combine-able
      // aggregate (max over (cnt, -lbl) lexicographic struct order =
      // highest count, ties to the smallest label).
      val winner = edges
        .join(labels.withColumnRenamed("node", "dst"), "dst")
        .groupBy(col("src").as("node"), col("lbl"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy("node")
        .agg(max(struct(col("cnt"), (-col("lbl")).as("neg"))).as("m"))
        .select(col("node"), (-col("m.neg")).as("nbr_lbl"))
      // lazy localCheckpoint: truncate lineage per round (the frame is
      // referenced by the next round's join AND the final select); the
      // final eager checkpoint below materializes the chain — one job
      // per round is not needed since no per-round convergence test
      // exists here
      labels = labels.join(winner, Seq("node"), "left")
        .select(col("node"), coalesce(col("nbr_lbl"), col("lbl")).as("lbl"))
        .localCheckpoint(false)
    }
    // materialize the rounds (one job), then release the edge blocks —
    // the returned frame reads its own checkpoint, never edges again
    val out = labels.withColumnRenamed("lbl", "community").localCheckpoint()
    edges.unpersist()
    out
  }

  /** WEIGHTED label propagation (the weighted-network variant Raghavan
    * et al. '07 §4 describe): identical round structure to
    * [[labelPropagation]], but each neighbor's vote counts its EDGE
    * WEIGHT (integer units — e.g. Jaccard similarity in 1e-4 units —
    * so the argmax is exact, never float-order-dependent). Ties on
    * total weight break to the smallest label. The practical
    * difference for near-dup curation: a weak bridge pair (barely over
    * the θ threshold) is out-voted by strong in-blob edges even when
    * COUNTS tie — weighted LPA splits what unweighted LPA would let a
    * single strong-count bridge flip. `pairs` = (a, b, weight); same
    * scale shape as the unweighted rounds (the weight rides the edge
    * row; the per-(node, label) reduce becomes a sum instead of a
    * count — still combine-able map-side). */
  def labelPropagationWeighted(pairs: DataFrame, nodes: DataFrame,
      rounds: Int): DataFrame = {
    require(rounds >= 1, s"labelPropagationWeighted: rounds must be >= 1, got $rounds")
    val idCol = nodes.columns.head
    require(nodes.schema.head.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"labelPropagationWeighted requires a numeric id column, got " +
        nodes.schema.head.dataType.simpleString)
    val Array(pa, pb, pw) = pairs.columns.take(3)
    // eager persist + count, released after the result materializes
    // (see labelPropagation's note)
    val pairsOnce = pairs.select(col(pa).cast("long").as("src"),
        col(pb).cast("long").as("dst"), col(pw).cast("long").as("w"))
      .persist()
    val edges = pairsOnce
      .union(pairsOnce.select(col("dst").as("src"), col("src").as("dst"), col("w")))
      .distinct()
      .persist()
    val edgeCount = edges.count()
    pairsOnce.unpersist()
    // same fast path as [[labelPropagation]]; votes sum edge weights
    // (null from the replica = a null weight was seen — fall through to
    // the distributed loop rather than model Spark's null-struct
    // aggregate ordering)
    val local = localEdges(edges, edgeCount)
      .map(localLabelRounds(_, nodes, idCol, rounds, weighted = true)).orNull
    if (local != null) { edges.unpersist(); return local }
    var labels = nodes
      .select(col(idCol).cast("long").as("node"), col(idCol).cast("long").as("lbl"))
    (1 to rounds).foreach { _ =>
      val winner = edges
        .join(labels.withColumnRenamed("node", "dst"), "dst")
        .groupBy(col("src").as("node"), col("lbl"))
        .agg(sum(col("w")).as("wsum"))
        .groupBy("node")
        .agg(max(struct(col("wsum"), (-col("lbl")).as("neg"))).as("m"))
        .select(col("node"), (-col("m.neg")).as("nbr_lbl"))
      labels = labels.join(winner, Seq("node"), "left")
        .select(col("node"), coalesce(col("nbr_lbl"), col("lbl")).as("lbl"))
        .localCheckpoint(false)
    }
    val out = labels.withColumnRenamed("lbl", "community").localCheckpoint()
    edges.unpersist()
    out
  }

  /** K-CORE PEELING (Seidman 1983, "Network structure and minimum
    * degree"; the MapReduce peeling shape is the standard BSP
    * spelling): run `rounds` synchronous rounds of "drop every node
    * whose degree within the SURVIVING set is < k". The k-core is the
    * fixpoint; a fixed round horizon keeps the operator a pure bounded
    * dataflow like [[labelPropagation]] — on web/near-dup graphs the
    * peel settles in a handful of rounds, and the oracle replays the
    * identical rounds, so "did it converge" is a measurable property
    * (`dropped_last_round` = 0), never a hidden assumption.
    *
    * Use in a crawl/curation pipeline: the 2-core of the near-dup (or
    * link) graph strips pendant chains and isolated stragglers before
    * expensive community/centrality passes — the graph-cleaning step
    * published pipelines run first.
    *
    * Returns every input node with `in_core` (survived all rounds) and
    * `core_degree` (degree within the surviving set; 0 for peeled
    * nodes). Scale shape: per round one semi-join of the checkpointed
    * symmetric edge set against the survivor frame + one combine-able
    * degree count — shuffles on node id only, survivor frame is one
    * row per node. */
  def kCore(pairs: DataFrame, nodes: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 1, s"kCore: k must be >= 1, got $k")
    require(rounds >= 1, s"kCore: rounds must be >= 1, got $rounds")
    val idCol = nodes.columns.head
    val Array(pa, pb) = pairs.columns.take(2)
    // eager persist + count, released after the result materializes
    // (see labelPropagation's note)
    val pairsOnce = pairs.select(col(pa).cast("long").as("src"), col(pb).cast("long").as("dst"))
      .persist()
    val edges = pairsOnce
      .union(pairsOnce.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .persist()
    val edgeCount = edges.count()
    pairsOnce.unpersist()
    // Driver-local fast path (see [[labelPropagation]]): exact replica
    // of the peel rounds below. A node outside the edge set has no
    // degree row and peels in round 1 (k >= 1) in both paths; endpoints
    // ⊆ nodes is the shared precondition.
    val local = localEdges(edges, edgeCount).map(localKCore(_, nodes, idCol, k, rounds)).orNull
    if (local != null) { edges.unpersist(); return local }
    val all = nodes.select(col(idCol).cast("long").as("node"))
    var alive = all
    (1 to rounds).foreach { _ =>
      // degree within the surviving set: both endpoints must be alive
      val deg = edges
        .join(alive.withColumnRenamed("node", "src"), "src")
        .join(alive.withColumnRenamed("node", "dst"), "dst")
        .groupBy(col("src").as("node"))
        .agg(count(lit(1)).as("deg"))
      alive = alive.join(deg.filter(col("deg") >= k), Seq("node"), "left_semi")
        .localCheckpoint(false)
    }
    val coreDeg = edges
      .join(alive.withColumnRenamed("node", "src"), "src")
      .join(alive.withColumnRenamed("node", "dst"), "dst")
      .groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("core_degree"))
    val out = all
      .join(alive.withColumn("in_core", lit(true)), Seq("node"), "left")
      .join(coreDeg, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("in_core"), lit(false)).as("in_core"),
        coalesce(col("core_degree"), lit(0L)).as("core_degree"))
      .localCheckpoint()
    edges.unpersist()
    out
  }

  /** The rows of the symmetric edge frame when its exact `count` is
    * within [[DriverLocal.edgeCap]]; no Spark job otherwise. */
  private def localEdges(edges: DataFrame,
      count: Long): Option[Array[Row]] = {
    val cap = DriverLocal.cap(edges.sparkSession, DriverLocal.edgeCap)
    if (count <= cap) DriverLocal.collectIfBounded(edges, cap) else None
  }

  /** Driver-local replica of the synchronous LPA rounds over the
    * collected rows of a SYMMETRIC distinct edge frame (src, dst[, w]):
    * per round, every edge delivers dst's current label to src; winner
    * = highest count/weight-sum, ties to the smallest label; nodes
    * without votes keep their label. Null endpoints are skipped (the
    * distributed equi-joins drop them identically). Returns the full
    * (node, community) frame via a Spark-side left join against
    * `nodes`, or NULL when `weighted` and a null weight is seen (caller
    * falls back to the distributed loop). */
  private def localLabelRounds(rows: Array[Row],
      nodes: DataFrame, idCol: String, rounds: Int, weighted: Boolean): DataFrame = {
    import scala.collection.mutable
    val srcs = mutable.ArrayBuffer.empty[Long]
    val dsts = mutable.ArrayBuffer.empty[Long]
    val ws = mutable.ArrayBuffer.empty[Long]
    var i = 0
    while (i < rows.length) {
      val r = rows(i)
      if (!r.isNullAt(0) && !r.isNullAt(1)) {
        if (weighted && r.isNullAt(2)) return null
        srcs += r.getLong(0); dsts += r.getLong(1)
        ws += (if (weighted) r.getLong(2) else 1L)
      }
      i += 1
    }
    val lbl = mutable.HashMap.empty[Long, Long]
    srcs.foreach(n => lbl.getOrElseUpdate(n, n))
    dsts.foreach(n => lbl.getOrElseUpdate(n, n))
    for (_ <- 1 to rounds) {
      // votes(src)(label) = Σ weight of edges whose dst carries label
      val votes = mutable.HashMap.empty[Long, mutable.HashMap[Long, Long]]
      var j = 0
      while (j < srcs.length) {
        val m = votes.getOrElseUpdate(srcs(j), mutable.HashMap.empty)
        val l = lbl(dsts(j))
        m(l) = m.getOrElse(l, 0L) + ws(j)
        j += 1
      }
      votes.foreach { case (node, m) =>
        var bestL = 0L; var bestV = Long.MinValue; var first = true
        m.foreach { case (l, v) =>
          if (first || v > bestV || (v == bestV && l < bestL)) {
            bestL = l; bestV = v; first = false
          }
        }
        lbl(node) = bestL
      }
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("node",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("__loc_lbl",
        org.apache.spark.sql.types.LongType, nullable = false)))
    val loc = DriverLocal.toDf(nodes.sparkSession,
      lbl.toSeq.map { case (n, l) => Row(n, l) }, schema)
    nodes.select(col(idCol).cast("long").as("node"))
      .join(loc, Seq("node"), "left")
      .select(col("node"), coalesce(col("__loc_lbl"), col("node")).as("community"))
  }

  /** Driver-local replica of the kCore peel rounds over the collected
    * rows of a SYMMETRIC distinct edge frame: alive starts as the
    * edge-incident node set (a node with no edges peels in round 1
    * under k >= 1 in both paths); per round, nodes whose alive-degree
    * < k peel; the final core_degree is the degree within the
    * surviving set. */
  private def localKCore(rows: Array[Row], nodes: DataFrame,
      idCol: String, k: Int, rounds: Int): DataFrame = {
    import scala.collection.mutable
    val srcs = mutable.ArrayBuffer.empty[Long]
    val dsts = mutable.ArrayBuffer.empty[Long]
    var i = 0
    while (i < rows.length) {
      val r = rows(i)
      if (!r.isNullAt(0) && !r.isNullAt(1)) { srcs += r.getLong(0); dsts += r.getLong(1) }
      i += 1
    }
    val alive = mutable.HashSet.empty[Long]
    srcs.foreach(alive += _); dsts.foreach(alive += _)
    def aliveDeg(): mutable.HashMap[Long, Long] = {
      val deg = mutable.HashMap.empty[Long, Long]
      var j = 0
      while (j < srcs.length) {
        if (alive.contains(srcs(j)) && alive.contains(dsts(j)))
          deg(srcs(j)) = deg.getOrElse(srcs(j), 0L) + 1L
        j += 1
      }
      deg
    }
    for (_ <- 1 to rounds) {
      val deg = aliveDeg()
      alive.filterInPlace(n => deg.getOrElse(n, 0L) >= k)
    }
    val coreDeg = aliveDeg()
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("node",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("__core_degree",
        org.apache.spark.sql.types.LongType, nullable = false)))
    val loc = DriverLocal.toDf(nodes.sparkSession,
      alive.toSeq.map(n =>
        Row(n, coreDeg.getOrElse(n, 0L))), schema)
    nodes.select(col(idCol).cast("long").as("node"))
      .join(loc.withColumn("__in_core", lit(true)), Seq("node"), "left")
      .select(col("node"),
        coalesce(col("__in_core"), lit(false)).as("in_core"),
        coalesce(col("__core_degree"), lit(0L)).as("core_degree"))
  }
}
