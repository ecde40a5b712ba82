package graft

import org.apache.spark.sql.functions._

import graft.operators.{Communities, Dedup, DriverLocal}

/** Deterministic synchronous label propagation (q211's operator):
  * hand-computed rounds on shaped graphs — the bridged-cliques split
  * that distinguishes LPA from connected components, tie-break order,
  * isolated nodes, round-horizon semantics — plus a brute-force
  * per-round replay on a pseudo-random graph. */
class CommunitiesSpec extends SparkSuite {
  import spark.implicits._

  private def pairs(es: (Long, Long)*) = es.toDF("a", "b")

  private def run(es: Seq[(Long, Long)], nodes: Seq[Long], rounds: Int): Map[Long, Long] =
    Communities.labelPropagation(pairs(es: _*), nodes.toDF("id"), rounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("two cliques joined by one bridge keep two communities (CC merges them)") {
    // cliques {1,2,3} and {10,11,12}, bridge 3-10
    val es = Seq((1L, 2L), (1L, 3L), (2L, 3L), (10L, 11L), (10L, 12L), (11L, 12L),
      (3L, 10L))
    val nodes = Seq(1L, 2L, 3L, 10L, 11L, 12L)
    val got = run(es, nodes, rounds = 3)
    // each clique coheres to ONE label and the two labels differ — the
    // bridge never out-votes a clique majority (exact label values are
    // round artifacts of synchronous updates; the PARTITION is the claim)
    assert(Set(got(1L), got(2L), got(3L)).size == 1, got.toString)
    assert(Set(got(10L), got(11L), got(12L)).size == 1, got.toString)
    assert(got(1L) != got(10L), got.toString)
    // contrast: connected components collapse the whole thing to label 1
    val cc = Dedup.dedupClusters(pairs(es: _*), nodes.toDF("id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc.values.toSet == Set(1L))
  }

  test("frequency ties break to the smallest label") {
    // node 5 sees neighbors 1 and 9 once each after round 1 setup:
    // path 1-5-9; round 1: 5's neighbor labels {1:1, 9:1} -> tie -> 1
    val got = run(Seq((1L, 5L), (5L, 9L)), Seq(1L, 5L, 9L), rounds = 1)
    assert(got(5L) == 1L)
    // endpoints each see only 5 -> adopt 5
    assert(got(1L) == 5L && got(9L) == 5L)
  }

  test("isolated nodes keep their own label through any round count") {
    val got = run(Seq((1L, 2L)), Seq(1L, 2L, 99L), rounds = 4)
    assert(got(99L) == 99L)
  }

  test("round horizon: label influence travels exactly `rounds` hops") {
    // directed influence on a path 1-2-3-4-5: after 1 round node 2 holds 1
    // (tie {1,3} -> min), after 2 rounds node 3 holds 1, etc.
    val es = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val nodes = Seq(1L, 2L, 3L, 4L, 5L)
    val r1 = run(es, nodes, 1)
    assert(r1 == Map(1L -> 2L, 2L -> 1L, 3L -> 2L, 4L -> 3L, 5L -> 4L))
    val r2 = run(es, nodes, 2)
    // synchronous round 2 recomputed from r1's labels
    assert(r2(1L) == 1L && r2(2L) == 2L && r2(3L) == 1L)
  }

  test("matches a literal per-round replay on a pseudo-random graph") {
    val rnd = new scala.util.Random(7)
    val es = (1 to 120).map(_ => (rnd.nextInt(25).toLong, rnd.nextInt(25).toLong))
      .filter { case (a, b) => a != b }.distinct
    val nodes = (0L until 25L).toSeq
    val rounds = 3
    // replay: adjacency map, synchronous rounds, (count desc, label asc)
    val adj = (es ++ es.map(_.swap)).distinct
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2) }
    var lbl = nodes.map(n => n -> n).toMap
    (1 to rounds).foreach { _ =>
      lbl = nodes.map { n =>
        val nbrs = adj.getOrElse(n, Nil).map(lbl)
        if (nbrs.isEmpty) n -> lbl(n)
        else {
          val byFreq = nbrs.groupBy(identity).map { case (l, xs) => (l, xs.size) }
          n -> byFreq.toSeq.maxBy { case (l, c) => (c, -l) }._1
        }
      }.toMap
    }
    val got = run(es, nodes, rounds)
    assert(got == lbl)
  }

  test("weighted LPA: edge weight breaks what plain counts tie away to min") {
    // node 5's round-1 neighbor labels are all distinct (own ids), so
    // unweighted LPA ties 3 ways and falls to the SMALLEST label (1);
    // weights {1:2, 8:3, 9:3} make 8 and 9 out-vote 1, tie -> 8.
    val wpairs = Seq((1L, 5L, 2L), (8L, 5L, 3L), (9L, 5L, 3L),
      (8L, 9L, 3L)).toDF("a", "b", "w")
    val nodes = Seq(1L, 5L, 8L, 9L).toDF("id")
    val weighted = Communities.labelPropagationWeighted(wpairs, nodes, rounds = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(weighted(5L) == 8L, weighted.toString)
    val unweighted = Communities.labelPropagation(
        wpairs.select("a", "b"), nodes, rounds = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(unweighted(5L) == 1L, unweighted.toString)
    // a dominant single edge wins over two lighter ones combined
    val dom = Communities.labelPropagationWeighted(
        Seq((1L, 5L, 10L), (8L, 5L, 3L), (9L, 5L, 3L)).toDF("a", "b", "w"),
        nodes, rounds = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dom(5L) == 1L)
    // isolated nodes keep their label; weight ties fall to min label
    val tie = Communities.labelPropagationWeighted(
        Seq((1L, 5L, 4L), (9L, 5L, 4L)).toDF("a", "b", "w"),
        Seq(1L, 5L, 9L, 77L).toDF("id"), rounds = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(tie(5L) == 1L && tie(77L) == 77L)
  }

  private def core(es: Seq[(Long, Long)], nodes: Seq[Long], k: Int,
      rounds: Int): Map[Long, (Boolean, Long)] =
    Communities.kCore(pairs(es: _*), nodes.toDF("id"), k, rounds)
      .collect().map(r => r.getLong(0) -> ((r.getBoolean(1), r.getLong(2)))).toMap

  test("kCore: triangle with a pendant tail — the tail peels, the triangle survives") {
    val es = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
    val got = core(es, Seq(1L, 2L, 3L, 4L, 5L), k = 2, rounds = 4)
    assert(got == Map(
      1L -> ((true, 2L)), 2L -> ((true, 2L)), 3L -> ((true, 2L)),
      4L -> ((false, 0L)), 5L -> ((false, 0L))))
  }

  test("kCore: a chain peels one link per round — the round horizon is real") {
    val es = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
    val nodes = (1L to 6L).toSeq
    // round 1 drops the endpoints, round 2 the next pair, round 3 the rest
    val r1 = core(es, nodes, k = 2, rounds = 1)
    assert(r1.count(_._2._1) == 4)
    val r3 = core(es, nodes, k = 2, rounds = 3)
    assert(r3.values.forall(!_._1))
  }

  test("kCore: isolated nodes and k=1 semantics") {
    val es = Seq((1L, 2L))
    val got = core(es, Seq(1L, 2L, 9L), k = 1, rounds = 2)
    assert(got == Map(1L -> ((true, 1L)), 2L -> ((true, 1L)), 9L -> ((false, 0L))))
  }

  test("rejects non-numeric ids and zero rounds") {
    intercept[IllegalArgumentException] {
      Communities.labelPropagation(pairs((1L, 2L)), Seq("a").toDF("id"), 1)
    }
    intercept[IllegalArgumentException] {
      Communities.labelPropagation(pairs((1L, 2L)), Seq(1L).toDF("id"), 0)
    }
  }

  test("driver-local fast paths == forced-distributed rounds on a randomized graph") {
    // r16: the cap-gated local replicas must agree ROW-FOR-ROW with the
    // distributed loops (cap=0 forces them) — same argmax tie-breaks,
    // same round horizon, same isolated-node handling
    val rnd = new scala.util.Random(41)
    val es = Seq.fill(300)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .filter { case (a, b) => a != b }
    val nodes = (0L until 70L).toSeq // includes isolated nodes
    val p = pairs(es: _*)
    val n = nodes.toDF("id")
    for (rounds <- Seq(1, 3)) {
      val loc = Communities.labelPropagation(p, n, rounds)
      val dist = withConfs(DriverLocal.ConfKey -> "false") {
        Communities.labelPropagation(p, n, rounds)
      }
      assert(loc.exceptAll(dist).isEmpty && dist.exceptAll(loc).isEmpty,
        s"LPA local != distributed at rounds=$rounds")
    }
    val wp = es.map { case (a, b) => (a, b, (a * 7 + b * 13) % 50 + 1) }
      .toDF("a", "b", "w")
    val wloc = Communities.labelPropagationWeighted(wp, n, rounds = 2)
    val wdist = withConfs(DriverLocal.ConfKey -> "false") {
      Communities.labelPropagationWeighted(wp, n, rounds = 2)
    }
    assert(wloc.exceptAll(wdist).isEmpty && wdist.exceptAll(wloc).isEmpty,
      "weighted LPA local != distributed")
    for ((k, rounds) <- Seq((2, 1), (2, 3), (3, 2))) {
      val loc = Communities.kCore(p, n, k, rounds)
      val dist = withConfs(DriverLocal.ConfKey -> "false") { Communities.kCore(p, n, k, rounds) }
      assert(loc.exceptAll(dist).isEmpty && dist.exceptAll(loc).isEmpty,
        s"kCore local != distributed at k=$k rounds=$rounds")
    }
  }
}
