package graft

import org.apache.spark.sql.functions._

import graft.operators.{DriverLocal, Hits}

/** HITS hubs/authorities ([[graft.operators.Hits]]): exact-integer
  * max-normalized iteration, pinned against the double-precision
  * replay, deterministic under repartitioning, degenerate shapes. */
class HitsSpec extends SparkSuite {
  import spark.implicits._

  // a small two-tier web: s0 links the two "good" pages, s1 links one
  // good and one weak page, s2 links only the weak page
  private val edges = Seq(
    ("s0", "pGood1", 3L), ("s0", "pGood2", 2L),
    ("s1", "pGood1", 1L), ("s1", "pWeak", 1L),
    ("s2", "pWeak", 2L))

  test("integer scores track the double-precision replay within quantization") {
    val got = Hits.run(edges.toDF("src", "dst", "w"), iterations = 2)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val ref = Hits.runReference(edges, iterations = 2)
    ref.foreach { case (node, (h, a)) =>
      val (gh, ga) = got(node)
      assert(math.abs(gh / Hits.scale.toDouble - h) < 1e-3, s"hub($node)")
      assert(math.abs(ga / Hits.scale.toDouble - a) < 1e-3, s"auth($node)")
    }
    // the qualitative HITS ordering: pGood1 is the top authority (best
    // hub's heaviest link), s0 the top hub; sources have no authority
    assert(got("pGood1")._2 == Hits.scale)
    assert(got("s0")._1 == Hits.scale)
    assert(Seq("s0", "s1", "s2").forall(got(_)._2 == 0L))
    assert(Seq("pGood1", "pGood2", "pWeak").forall(got(_)._1 == 0L))
    // endorsement beats raw indegree direction: pGood2 (one strong-hub
    // link, w=2) outranks pWeak (two links but from weak hubs)
    assert(got("pGood2")._2 > got("pWeak")._2)
  }

  test("scores are bit-stable under repartitioning (integer sums)") {
    val df = edges.toDF("src", "dst", "w")
    val a = Hits.run(df.repartition(1), 2).orderBy("node").collect().toSeq
    val b = Hits.run(df.repartition(7, col("dst")), 2).orderBy("node").collect().toSeq
    assert(a == b)
  }

  test("driver-local fast path == forced-distributed half-rounds, bit-for-bit") {
    // r16: the cap-gated local replica (cap=0 forces the distributed
    // loop) on a randomized weighted digraph with string ids, across
    // iteration counts — same sums, same max-rescale floor divisions
    val rnd = new scala.util.Random(43)
    val res = Seq.fill(200)(
      (s"h${rnd.nextInt(25)}", s"p${rnd.nextInt(40)}", rnd.nextInt(5).toLong + 1L))
    val df = res.toDF("src", "dst", "w")
    for (iters <- Seq(1, 3)) {
      val loc = Hits.run(df, iters)
      val dist = withConfs(DriverLocal.ConfKey -> "false") { Hits.run(df, iters) }
      assert(loc.exceptAll(dist).isEmpty && dist.exceptAll(loc).isEmpty,
        s"HITS local != distributed at iterations=$iters")
    }
  }

  test("degenerate shapes: single edge and empty-iteration guard") {
    val got = Hits.run(Seq(("a", "b", 1L)).toDF("src", "dst", "w"), 1)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got("a") == ((Hits.scale, 0L)))
    assert(got("b") == ((0L, Hits.scale)))
    intercept[IllegalArgumentException] {
      Hits.run(Seq(("a", "b", 1L)).toDF("src", "dst", "w"), 0)
    }
  }
}
