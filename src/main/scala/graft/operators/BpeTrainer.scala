package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Distributed byte-pair-encoding vocabulary TRAINING (Sennrich et al.,
  * ACL 2016) — learning the subword vocabulary from the corpus with the
  * engine itself, so the pieces [[graft.functions.VocabTokenizer]]
  * loads are reproducible in-repo rather than imported.
  *
  * The scale structure mirrors every production BPE trainer: the corpus
  * is touched EXACTLY ONCE (the word-count aggregation — corpus-sized,
  * one shuffle on the word). Every merge round after that runs over the
  * word-count table, which is VOCABULARY-bounded (Heaps' law: ~unique
  * words, not tokens), stays distributed, and sends one scalar row per
  * round to the driver:
  *
  *   round r: adjacent piece pairs, count-weighted → hash agg →
  *            argmax via TakeOrdered(1) (count DESC, pair ASC — a total
  *            deterministic tiebreak) → broadcast the winning pair →
  *            one narrow map rewrites segmentations.
  *
  * The merge application (greedy leftmost-first rewrite of overlapping
  * occurrences, e.g. "aaa" + (a,a) → [aa, a]) is a per-row sequential
  * scan with carried state — expressed as a Scala UDF deliberately: it
  * runs on the vocab-bounded word table, never the corpus, so codegen
  * pressure is irrelevant, and the leftmost-first semantics are the
  * part a higher-order array function cannot express.
  *
  * Lineage is truncated every few rounds (the [[Dedup]] CC-loop idiom)
  * so 100+ rounds don't accumulate a 100-deep plan.
  *
  * Invariant the self-gate leans on: the winning pair count is
  * NON-INCREASING across rounds — a merge (a,b)→ab only ever lowers
  * existing pair counts, and every newly-created pair (x,ab)/(ab,y)
  * occurs at a subset of the positions of (x,a)/(b,y), which were
  * candidates the round before.
  */
object BpeTrainer {

  /** One learned merge: at `step`, `left`+`right` (count `cnt`) fused
    * into piece `piece`. */
  final case class Merge(step: Int, left: String, right: String, cnt: Long) {
    def piece: String = left + right
  }

  private val applyMergeUdf = udf { (pieces: Seq[String], l: String, r: String) =>
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < pieces.length) {
      if (i + 1 < pieces.length && pieces(i) == l && pieces(i + 1) == r) {
        out += (l + r); i += 2
      } else { out += pieces(i); i += 1 }
    }
    out.toSeq
  }

  /** Spark/DuckDB compare strings as unsigned UTF-8 bytes; Scala's
    * natural String order is UTF-16 code units — they diverge above the
    * BMP, so the local tie-break spells out the byte order. */
  private def utf8Less(a: String, b: String): Boolean = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    x.length < y.length
  }

  /** Driver-local trainer over a bounded word-count list: identical
    * merge sequence to the distributed loop (same sums — exact longs,
    * same (count DESC, left ASC, right ASC) tie-break in UTF-8 byte
    * order, same greedy leftmost-first rewrite), maintained
    * INCREMENTALLY — each round rewrites only the words that contain
    * the winning pair and patches their pair counts, the standard fast
    * BPE structure. */
  private[graft] def trainLocal(wordCounts: Seq[(String, Long)], merges: Int,
      minCount: Long): Seq[Merge] = {
    import scala.collection.mutable
    val words = mutable.ArrayBuffer.empty[Array[String]]
    val cnts = mutable.ArrayBuffer.empty[Long]
    wordCounts.foreach { case (w, c) =>
      if (w != null && w.nonEmpty) {
        // code-point split, like Spark's split(word, "") and the
        // oracle's substr(word, i, 1) — not UTF-16 code units
        val ps = mutable.ArrayBuffer.empty[String]
        var k = 0
        while (k < w.length) {
          val cc = Character.charCount(w.codePointAt(k))
          ps += w.substring(k, k + cc)
          k += cc
        }
        words += ps.toArray
        cnts += c
      }
    }
    val pairCount = mutable.HashMap.empty[(String, String), Long]
    val pairWords = mutable.HashMap.empty[(String, String), mutable.Set[Int]]
    def addWordPairs(i: Int, sign: Long): Unit = {
      val ps = words(i)
      var j = 0
      while (j + 1 < ps.length) {
        val p = (ps(j), ps(j + 1))
        val nc = pairCount.getOrElse(p, 0L) + sign * cnts(i)
        if (nc == 0L) pairCount.remove(p) else pairCount(p) = nc
        if (sign > 0) pairWords.getOrElseUpdate(p, mutable.Set.empty) += i
        else pairWords.get(p).foreach { s => s -= i; if (s.isEmpty) pairWords.remove(p) }
        j += 1
      }
    }
    words.indices.foreach(addWordPairs(_, 1L))
    val learned = mutable.ArrayBuffer.empty[Merge]
    var step = 0
    var done = false
    while (step < merges && !done) {
      var best: (String, String) = null
      var bestC = 0L
      pairCount.foreach { case (p, c) =>
        if (best == null || c > bestC ||
            (c == bestC && (utf8Less(p._1, best._1) ||
              (p._1 == best._1 && utf8Less(p._2, best._2))))) {
          best = p; bestC = c
        }
      }
      if (best == null || bestC < minCount) done = true
      else {
        step += 1
        learned += Merge(step, best._1, best._2, bestC)
        val affected = pairWords.get(best).map(_.toArray).getOrElse(Array.empty)
        val (l, r) = best
        affected.foreach { i =>
          addWordPairs(i, -1L)
          // greedy leftmost-first rewrite — byte-for-byte applyMergeUdf
          val ps = words(i)
          val out = mutable.ArrayBuffer.empty[String]
          var j = 0
          while (j < ps.length) {
            if (j + 1 < ps.length && ps(j) == l && ps(j + 1) == r) {
              out += (l + r); j += 2
            } else { out += ps(j); j += 1 }
          }
          words(i) = out.toArray
          addWordPairs(i, 1L)
        }
      }
    }
    learned.toSeq
  }

  /** Learn up to `merges` merges from a `(word, cnt)` relation (words
    * already normalized); stops early when the best pair count falls
    * below `minCount`. A table within [[DriverLocal.vocabCap]] rows runs
    * the merge rounds driver-local ([[trainLocal]], incremental
    * pair-count maintenance), replacing `merges`×2 tiny Spark jobs with
    * ONE bounded collect; over the cap the distributed loop below runs
    * unchanged, exactly as it would on a 100 TB vocabulary. */
  def train(wordCounts: DataFrame, merges: Int, minCount: Long = 2L): Seq[Merge] = {
    val base = wordCounts
      .select(col("word"), col("cnt").cast("long").as("cnt"))
      .filter(length(col("word")) > 0)
    DriverLocal.collectIfBounded(base,
        DriverLocal.cap(base.sparkSession, DriverLocal.vocabCap)) match {
      case Some(rows) =>
        return trainLocal(rows.map(r => (r.getString(0), r.getLong(1))).toSeq, merges, minCount)
      case None =>
    }
    var seg = base
      .withColumn("pieces", split(col("word"), ""))
      .drop("word")
      .localCheckpoint()
    val learned = scala.collection.mutable.ArrayBuffer.empty[Merge]
    var step = 0
    var done = false
    while (step < merges && !done) {
      val best = seg
        // adjacent pairs: zip the array with its own tail (empty for
        // single-piece words — explode then drops the row)
        .select(col("cnt"), explode(zip_with(
          slice(col("pieces"), lit(1), size(col("pieces")) - 1),
          slice(col("pieces"), lit(2), size(col("pieces")) - 1),
          (l, r) => struct(l.as("l"), r.as("r")))).as("p"))
        .groupBy(col("p.l"), col("p.r")).agg(sum("cnt").as("c"))
        .orderBy(col("c").desc, col("l"), col("r"))
        .limit(1).collect() // TakeOrdered: ONE scalar row per round
      best.headOption.map(r => (r.getString(0), r.getString(1), r.getLong(2))) match {
        case Some((l, r, c)) if c >= minCount =>
          step += 1
          learned += Merge(step, l, r, c)
          seg = seg.withColumn("pieces", applyMergeUdf(col("pieces"), lit(l), lit(r)))
          if (step % 8 == 0) seg = seg.localCheckpoint()
        case _ => done = true
      }
    }
    learned.toSeq
  }

  /** Reference replay — the same algorithm as a plain driver-side fold
    * over a word-count map (the executable spec's independent witness;
    * also the provenance check for the committed vocab fixture). */
  def trainReference(wordCounts: Map[String, Long], merges: Int,
      minCount: Long = 2L): Seq[Merge] = {
    var seg: Map[Seq[String], Long] = wordCounts.collect {
      case (w, c) if w.nonEmpty => w.map(_.toString) -> c
    }
    val learned = scala.collection.mutable.ArrayBuffer.empty[Merge]
    var step = 0
    var done = false
    while (step < merges && !done) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((ps, c) <- seg; i <- 0 until ps.length - 1)
        counts((ps(i), ps(i + 1))) = counts.getOrElse((ps(i), ps(i + 1)), 0L) + c
      val best = counts.toSeq
        .sortBy { case ((l, r), c) => (-c, l, r) }.headOption
      best match {
        case Some(((l, r), c)) if c >= minCount =>
          step += 1
          learned += Merge(step, l, r, c)
          seg = seg.groupMapReduce { case (ps, _) =>
            val out = scala.collection.mutable.ArrayBuffer.empty[String]
            var i = 0
            while (i < ps.length) {
              if (i + 1 < ps.length && ps(i) == l && ps(i + 1) == r) {
                out += (l + r); i += 2
              } else { out += ps(i); i += 1 }
            }
            out.toSeq
          }(_._2)(_ + _)
        case _ => done = true
      }
    }
    learned.toSeq
  }

  /** The vocabulary a merge list induces: single characters seen in the
    * corpus plus every merged piece, sorted (the
    * [[graft.functions.VocabTokenizer]] load format). */
  def vocabulary(alphabet: Seq[String], learned: Seq[Merge]): Seq[String] =
    (alphabet ++ learned.map(_.piece)).distinct.sorted
}
