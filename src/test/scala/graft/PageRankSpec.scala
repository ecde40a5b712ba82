package graft

import org.apache.spark.sql.functions._

import graft.operators.{DriverLocal, PageRank}

/** Fixed-point PageRank: against the double-precision reference replay
  * (quantization-bounded), mass conservation, dangling-node handling,
  * and repartition invariance (the point of the exact-integer
  * arithmetic). */
class PageRankSpec extends SparkSuite {
  import spark.implicits._

  // a small graph WITH a dangling node (4 has no out-edges)
  private val toy = Seq(
    ("1", "2", 3L), ("1", "3", 1L), ("2", "3", 2L),
    ("3", "1", 1L), ("3", "4", 1L))

  test("matches the double-precision reference within quantization error") {
    val got = PageRank.run(toy.toDF("src", "dst", "w"), iterations = 5)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val ref = PageRank.runReference(toy, iterations = 5)
    assert(got.keySet == ref.keySet)
    got.foreach { case (node, units) =>
      val fp = units.toDouble / PageRank.scale
      assert(math.abs(fp - ref(node)) < 1e-6,
        s"node $node: fixed-point $fp vs reference ${ref(node)}")
    }
  }

  test("rank mass is conserved up to floor shavings") {
    val total = PageRank.run(toy.toDF("src", "dst", "w"), iterations = 4)
      .agg(sum("rank")).head.getLong(0)
    assert(total <= PageRank.scale)
    assert(total > PageRank.scale - 1000L, s"lost too much mass: $total")
  }

  test("dangling node's mass is redistributed (sink does not drain the graph)") {
    // without redistribution, iterating a -> sink loses all damped mass
    val sink = Seq(("a", "b", 1L)).toDF("src", "dst", "w")
    val ranks = PageRank.run(sink, iterations = 10)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val ref = PageRank.runReference(Seq(("a", "b", 1L)), iterations = 10)
    ranks.foreach { case (node, units) =>
      assert(math.abs(units.toDouble / PageRank.scale - ref(node)) < 1e-6)
    }
    assert(ranks("b") > ranks("a"), "the pointed-at node outranks the pointer")
  }

  test("bit-identical under input repartitioning") {
    val df = toy.toDF("src", "dst", "w")
    val a = PageRank.run(df, 3).collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val b = PageRank.run(df.repartition(7), 3)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(a == b)
  }

  test("personalized: matches the PPR reference; non-seeds start at zero " +
      "and seeds dominate their neighborhood") {
    val seeds = Seq("1").toDF("node")
    val got = PageRank.runPersonalized(toy.toDF("src", "dst", "w"), seeds,
        iterations = 5)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val ref = PageRank.runPersonalizedReference(toy, Set("1"), iterations = 5)
    assert(got.keySet == ref.keySet)
    got.foreach { case (node, units) =>
      val fp = units.toDouble / PageRank.scale
      assert(math.abs(fp - ref(node)) < 1e-6,
        s"node $node: fixed-point $fp vs reference ${ref(node)}")
    }
    // the seed's direct successors outrank the far node reached only
    // through two hops (the personalization property itself)
    assert(got("2") > got("4") && got("3") > got("4"))
  }

  test("personalized: an all-nodes seed set degenerates to global PageRank") {
    val df = toy.toDF("src", "dst", "w")
    val allNodes = df.select(col("src").as("node"))
      .union(df.select(col("dst"))).distinct()
    val ppr = PageRank.runPersonalized(df, allNodes, 4)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val pr = PageRank.run(df, 4)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(ppr == pr)
  }

  test("driver-local fast paths == forced-distributed rounds, bit-for-bit") {
    // r16: the cap-gated local replicas (cap=0 forces the distributed
    // loops) on a randomized weighted digraph with dangling nodes,
    // across iteration counts including 0 (initial ranks only)
    val rnd = new scala.util.Random(47)
    val es = Seq.fill(250)(
      (rnd.nextInt(40).toLong, rnd.nextInt(55).toLong, rnd.nextInt(4).toLong + 1L))
      .filter { case (a, b, _) => a != b }
    val df = es.toDF("src", "dst", "w")
    for (iters <- Seq(0, 1, 4)) {
      val loc = PageRank.run(df, iters)
      val dist = withConfs(DriverLocal.ConfKey -> "false") { PageRank.run(df, iters) }
      assert(loc.exceptAll(dist).isEmpty && dist.exceptAll(loc).isEmpty,
        s"PageRank local != distributed at iterations=$iters")
    }
    // seeds: a subset plus an isolated extra node (teleport-only)
    val seeds = Seq(1L, 2L, 3L, 999L).toDF("node")
    for (iters <- Seq(1, 4)) {
      val loc = PageRank.runPersonalized(df, seeds, iters)
      val dist = withConfs(DriverLocal.ConfKey -> "false") { PageRank.runPersonalized(df, seeds, iters) }
      assert(loc.exceptAll(dist).isEmpty && dist.exceptAll(loc).isEmpty,
        s"PPR local != distributed at iterations=$iters")
    }
  }
}
