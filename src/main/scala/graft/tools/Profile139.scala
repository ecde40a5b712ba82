package graft.tools

import org.apache.spark.sql.functions._

import graft.Session

/** Drill-down profiler for q139_triangle_count: times the co-purchase
  * edge construction, the degree/orientation legs and the wedge+closing
  * joins separately so optimization lands on the leg that costs
  * (`runMain graft.tools.Profile139 <sfDir> <reps>`). */
object Profile139 {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(1).map(_.toInt).getOrElse(3)
    val spark = Session.local(Session.cpus)

    def t(name: String)(body: => Unit): Unit = {
      body // warmup
      val samples = Vector.fill(reps) {
        val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
      }.sorted
      println(f"[p139] $name%-22s min=${samples.head}%7.3f median=${samples(samples.length / 2)}%7.3f")
    }

    def pe = graft.sources.Tables(spark, sfDir, "lineitem")
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
    def eRaw = pe.as("a").join(pe.as("b"),
        col("a.o") === col("b.o") && col("a.p") < col("b.p"))
      .select(col("a.p").as("u"), col("b.p").as("v")).distinct()

    t("edges_raw") { eRaw.write.format("noop").mode("overwrite").save() }

    val e = eRaw.localCheckpoint()
    t("edges_pinned_reuse") { e.write.format("noop").mode("overwrite").save() }

    val deg = e.select(col("u").as("n")).union(e.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("deg")).localCheckpoint()
    t("deg_from_pinned_e") { deg.write.format("noop").mode("overwrite").save() }

    val oriented = e
      .join(deg.select(col("n").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("n").as("v"), col("deg").as("dv")), "v")
      .select(
        when(struct(col("du"), col("u")) < struct(col("dv"), col("v")),
          struct(col("u").as("s"), col("v").as("d")))
          .otherwise(struct(col("v").as("s"), col("u").as("d"))).as("o"))
      .select(col("o.s").as("s"), col("o.d").as("d"))
      .localCheckpoint()
    t("oriented_from_pinned") { oriented.write.format("noop").mode("overwrite").save() }

    def wedgeClose = {
      val wedges = oriented.as("o1").join(oriented.as("o2"),
          col("o1.s") === col("o2.s") && col("o1.d") < col("o2.d"))
        .select(col("o1.d").as("x"), col("o2.d").as("y"))
      wedges.join(e.select(col("u").as("x"), col("v").as("y")), Seq("x", "y"))
        .agg(count(lit(1)).as("n_triangles"))
    }
    t("wedge_plus_close") { wedgeClose.write.format("noop").mode("overwrite").save() }

    // EXPERIMENT: broadcast the closing edge set so the ~35M wedge rows
    // never cross an exchange (they pipeline straight into a BHJ probe +
    // partial count). Size-gated in real code.
    def wedgeCloseBcast = {
      val wedges = oriented.as("o1").join(oriented.as("o2"),
          col("o1.s") === col("o2.s") && col("o1.d") < col("o2.d"))
        .select(col("o1.d").as("x"), col("o2.d").as("y"))
      wedges.join(broadcast(e.select(col("u").as("x"), col("v").as("y"))), Seq("x", "y"))
        .agg(count(lit(1)).as("n_triangles"))
    }
    t("wedge_close_bcast") { wedgeCloseBcast.write.format("noop").mode("overwrite").save() }

    // EXPERIMENT: single-exchange edge construction — per-order distinct
    // sorted part array, pairs via posexplode + slice (no join, no
    // nested-transform array building), then the distinct.
    def eV2 = {
      val li = graft.sources.Tables(spark, sfDir, "lineitem")
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      li.groupBy("o").agg(sort_array(collect_set(col("p"))).as("ps"))
        .select(posexplode(col("ps")).as(Seq("i", "u")), col("ps"))
        .select(col("u"),
          explode(slice(col("ps"), col("i") + lit(2),
            greatest(size(col("ps")) - col("i") - 1, lit(0)))).as("v"))
        .distinct()
    }
    t("edges_v2_explode") { eV2.write.format("noop").mode("overwrite").save() }

    // EXPERIMENT: adjacency-intersection triangle counting — each
    // triangle {u<v<w} (degree order) is counted exactly once at its
    // oriented base edge (u,v) as w ∈ N+(u) ∩ N+(v). No wedge rows are
    // ever materialized; per-edge work is one array_intersect over
    // O(√m)-bounded out-neighbor arrays.
    def adjIntersect = {
      val adj = oriented.groupBy("s").agg(sort_array(collect_list("d")).as("nbrs"))
      oriented
        .join(adj.select(col("s"), col("nbrs").as("ns")), "s")
        .join(adj.select(col("s").as("d"), col("nbrs").as("nd")), "d")
        .select(size(array_intersect(col("ns"), col("nd"))).cast("long").as("k"))
        .agg(coalesce(sum("k"), lit(0L)).as("n_triangles"))
    }
    t("adj_intersect") { adjIntersect.write.format("noop").mode("overwrite").save() }
    adjIntersect.show(1, false)

    // variant: ONE join — explode the apex's own adjacency to get the
    // (s,d) edge with ns already attached, then attach nd by a single
    // join on d. No sort_array (hash intersect doesn't need order).
    def adjIntersect1 = {
      val adj = oriented.groupBy("s").agg(collect_list("d").as("nbrs"))
      adj.select(col("nbrs").as("ns"), explode(col("nbrs")).as("d"))
        .join(adj.select(col("s").as("d"), col("nbrs").as("nd")), "d")
        .select(size(array_intersect(col("ns"), col("nd"))).cast("long").as("k"))
        .agg(coalesce(sum("k"), lit(0L)).as("n_triangles"))
    }
    t("adj_intersect_1join") { adjIntersect1.write.format("noop").mode("overwrite").save() }
    adjIntersect1.show(1, false)

    println(s"[p139] edges=${e.count()} edges_v2=${eV2.count()} nodes=${deg.count()} " +
      s"maxdeg=${deg.agg(max("deg")).head.getLong(0)}")
    spark.stop()
  }
}
