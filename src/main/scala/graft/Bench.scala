package graft

import graft.operators.InvertedIndex

/** Driver-run benchmark: times the headline queries at the given scale
  * factor on a [[Session.local]] session and prints ONE JSON line
  * `{"metric":…,"value":…,"unit":"sec","queries":{…},"sf":…}`.
  *
  * Headline set = the reference's own query (q01) + the relational
  * core shapes (agg, joins, window, top-k) + the LLM-pipeline
  * flagships (minhash dedup, ANN) — plus `ref_inverted_index`, the
  * inverted index built over the reference's actual 355-file corpus,
  * directly comparable to BASELINE.md's sequential-run budget.
  */
object Bench {
  val headline: Seq[String] = Seq(
    "q01_inverted_index", "q02_filter_project", "q03_agg_tpch1",
    "q05_join_agg", "q06_broadcast_join", "q07_multiway_join",
    "q11_range_join", "q14_window_rank", "q16_topk", "q22_tumbling_window",
    "q24_exact_dedup", "q26_term_freq", "q27_minhash_lsh", "q28_simhash",
    "q30_langid", "q32_token_count", "q33_fingerprint",
    "q34_asof_join", "q35_ann_topk", "q36_ann_lsh", "q38_ann_ivf",
    "q39_session_window", "q48_tfidf", "q49_sliding_window", "q53_bloom_join")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Session.cpus
    val spark = Session.local(cpus)

    // Steady-state methodology: one untimed warmup execution (JIT/
    // codegen/file-listing costs a long-running cluster never sees
    // per-query), then `reps` timed samples (≥3); report min (the JSON
    // headline — closest to uncontended cost), median, and relative
    // spread ((max-min)/min over the warm samples) so a box-contended
    // run is self-identifying instead of reading as a code regression.
    // default 3 warm samples (what the driver gets); an explicit env
    // value below 3 is honored for one-off scale dry-runs where a
    // single sample of a very heavy query is all the budget allows
    val reps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt)
    case class Timing(min: Double, median: Double, spread: Double)
    // a broken query must read as a diagnostic on stderr, not a bare -1
    def timeOnce(name: String)(body: => Unit): Double = {
      val t0 = System.nanoTime()
      try body catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getClass.getName}: ${e.getMessage}")
        return -1.0
      }
      (System.nanoTime() - t0) / 1e9
    }
    def time(name: String)(body: => Unit): Timing = {
      if (timeOnce(name)(body) < 0) return Timing(-1.0, -1.0, -1.0) // warmup, untimed
      val samples = Iterator.continually(timeOnce(name)(body)).take(reps).takeWhile(_ >= 0).toVector
      if (samples.length < reps) Timing(-1.0, -1.0, -1.0)
      else {
        val sorted = samples.sorted
        Timing(sorted.head, sorted(sorted.length / 2),
          if (sorted.head > 0) (sorted.last - sorted.head) / sorted.head else 0.0)
      }
    }
    // 1-minute load average — a poisoned (contended) bench run carries
    // the evidence in its own JSON.
    def loadavg(): Double =
      try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
        .split(" ")(0).toDouble
      catch { case _: Throwable => -1.0 }

    // CONTENTION GUARD (headline). Round 7's committed record was cut at
    // loadavg 6.6 and showed a phantom 2.4× regression (q27 13.6 s vs
    // 1.4 s at the identical candidate count). The full sweep already
    // self-adjudicates; the headline gets the same discipline in two
    // layers: (1) refuse to enter the timed region while the box is
    // loaded (bounded wait so a driver can't hang), (2) after timing,
    // re-measure any headline entry that regressed >2× vs the previous
    // committed record — both samples land in `headline_adjudicated`.
    // A run that times out still-hot records `"contended":true` so it
    // can never silently masquerade as a clean record again.
    val maxLoad = sys.env.getOrElse("SPARK_GRAFT_BENCH_MAXLOAD", "2.5").toDouble
    val maxWaitSec = sys.env.getOrElse("SPARK_GRAFT_BENCH_MAXWAIT", "900").toDouble
    val waitT0 = System.nanoTime()
    while (loadavg() > maxLoad && (System.nanoTime() - waitT0) / 1e9 < maxWaitSec) {
      System.err.println(f"[bench] loadavg ${loadavg()}%.2f > $maxLoad — waiting for quiet box")
      Thread.sleep(15000)
    }
    val loadWaitSec = (System.nanoTime() - waitT0) / 1e9
    val loadStart = loadavg()
    val contendedStart = loadStart > maxLoad

    // JVM/codegen warmup outside the timed region.
    SparkEntry.queries("q03_agg_tpch1")(spark, sfDir).count()

    // Reference-corpus index timing: manifest path is overridable and the
    // entry is skipped entirely when the checkout isn't present on this
    // machine (instead of reporting a spurious -1 failure).
    val refManifest = sys.env.getOrElse("SPARK_GRAFT_REF_MANIFEST",
      "/root/reference/checker/test.txt")
    val refEntry: Seq[(String, Timing)] =
      if (java.nio.file.Files.isReadable(java.nio.file.Paths.get(refManifest)))
        Seq("ref_inverted_index" -> time("ref_inverted_index") {
          InvertedIndex.buildIndexFromManifest(spark, refManifest)
            .write.format("noop").mode("overwrite").save()
        })
      else Seq.empty

    // Scale dry-runs: SPARK_GRAFT_BENCH_SKIP=q27_minhash_lsh,… excludes
    // named queries from the timed set. A whale whose OUTPUT dominates
    // (q27 at sf1: 291M pairs, ~10 min + GC aftermath that pollutes every
    // later same-JVM sample) can be excluded and measured alone via
    // tools.TimeQueries instead of poisoning the rest of the record.
    val skip = sys.env.getOrElse("SPARK_GRAFT_BENCH_SKIP", "")
      .split(",").map(_.trim).filter(_.nonEmpty).toSet
    // previous committed record (BENCH_LAST.json by default) — used by
    // both the headline and the full-sweep adjudication below
    val prevRecord: Option[com.fasterxml.jackson.databind.JsonNode] =
      try {
        val p = java.nio.file.Paths.get(
          sys.env.getOrElse("SPARK_GRAFT_BENCH_PREV", "BENCH_LAST.json"))
        if (!java.nio.file.Files.isReadable(p)) None
        else Some(new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(java.nio.file.Files.readString(p)))
      } catch { case _: Throwable => None }
    def readPrevMap(key: String): Map[String, Double] =
      prevRecord.map(_.path(key)).filter(_.isObject).fold(Map.empty[String, Double]) { node =>
        val b = Map.newBuilder[String, Double]
        node.fields().forEachRemaining(e => b += e.getKey -> e.getValue.asDouble(-1.0))
        b.result()
      }
    def prevField(key: String): Option[String] =
      prevRecord.flatMap(r => Option(r.path(key).asText(null)))
    // SCALE-FACTOR GUARD (r13 verdict: the round-13 "clean cut" ran at
    // sf0.001 against sf0.1 history and was narrated as a 27% win — 100×
    // less data, not a speedup). A comparison record whose `sf` differs
    // from this run's sfDir is NOT a baseline: every ratio it would feed
    // (adjudication triggers, the `regressed` list) is cross-scale
    // garbage, so the prev maps are dropped entirely and the mismatch is
    // stamped into this record's JSON — a record can never again claim
    // faster/slower against a different scale.
    val prevSf = prevField("sf")
    val prevSfMismatch = prevSf.exists(_ != sfDir)
    if (prevSfMismatch)
      System.err.println(s"[bench] REFUSING cross-sf comparison: prev record is " +
        s"sf=${prevSf.get}, this run is sf=$sfDir — no adjudication ratios " +
        "will be computed; re-run against a matching-sf baseline")
    // CORE-COUNT GUARD: the same refusal for a record cut at another
    // SPARK_GRAFT_CPUS. Every record stamps `cores`; a previous record
    // without the stamp is of unknown core count and is refused too.
    val prevCores = prevField("cores")
    val prevCoresMismatch = prevRecord.isDefined && !prevCores.contains(cpus.toString)
    if (prevCoresMismatch)
      System.err.println(s"[bench] REFUSING cross-core comparison: prev record is " +
        s"cores=${prevCores.getOrElse("unstamped")}, this run is cores=$cpus — no " +
        "adjudication ratios will be computed; re-run against a matching-core baseline")
    val prevMismatch = prevSfMismatch || prevCoresMismatch
    val prevHeadline =
      if (prevMismatch) Map.empty[String, Double] else readPrevMap("queries")
    // ADJUDICATION TRIGGER (round 12, verdict task 4): the r11 record
    // carried four full-sweep entries at 1.40–1.47× prev that the old 2×
    // trigger never re-measured, so the record could not say whether they
    // were box noise or regressions. The trigger is now the same 1.35×
    // the round ledger discipline uses. The CONTENDED self-grade keeps
    // counting only the SEVERE (>2×) class — a 1.35–2× re-measure is
    // routine drift-vs-regression bookkeeping, not evidence the box was
    // loaded, and grading on it would mark every slightly-drifty clean
    // run contended.
    val adjFactor = 1.35
    val severeFactor = 2.0
    def timeQuery(name: String): Timing =
      if (name == "ref_inverted_index")
        time(name)(InvertedIndex.buildIndexFromManifest(spark, refManifest)
          .write.format("noop").mode("overwrite").save())
      else
        time(name)(SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save())
    val firstPass: Seq[(String, Timing)] = headline.filterNot(skip).map { name =>
      name -> timeQuery(name)
    } ++ refEntry
    // Headline adjudication: an entry whose min-of-reps exceeds 1.35×
    // its previous committed min (and 0.5 s, to keep scheduler noise on
    // sub-second queries out) is re-timed once after a GC settle; the
    // better full Timing is recorded and both mins land in the record.
    val headlineAdj = collection.mutable.ListBuffer.empty[(String, Double, Double, Double)]
    val results: Seq[(String, Timing)] = firstPass.map { case (name, t1) =>
      prevHeadline.get(name) match {
        case Some(prev) if prev > 0 && t1.min > adjFactor * prev && t1.min > 0.5 =>
          System.gc(); Thread.sleep(500); System.gc()
          val t2 = timeQuery(name)
          headlineAdj += ((name, t1.min, t2.min, prev))
          name -> (if (t2.min >= 0 && t2.min < t1.min) t2 else t1)
        case _ => name -> t1
      }
    }

    // Full-inventory sweep (`"full"` in the JSON): one timed run of EVERY
    // declared query, so a regression in a non-headline query (pivot,
    // stats, subqueries, range frames, set-ops-all, unpivot, …) is
    // visible in every round's bench record instead of never appearing.
    // Headline queries reuse their min-of-reps sample; the rest get a
    // single warm-session run (coverage, not a steady-state headline).
    // Disable with SPARK_GRAFT_BENCH_FULL=0 for quick local loops.
    //
    // SELF-ADJUDICATION: a single warm-session sample in a long-lived
    // JVM can carry up to 10× GC aftermath from whatever ran before it
    // (measured: q28b 24.7 s in-sweep vs 2.27 s fresh-JVM). So any
    // entry whose sample exceeds 1.35× its previous committed value
    // (BENCH_LAST.json's `full` map) is re-measured once after a
    // System.gc() settle, the BETTER sample is recorded, and both
    // samples land in `full_adjudicated` — the record dismisses its own
    // phantom regressions instead of requiring a fresh-JVM re-run to
    // read. An entry still >1.35× prev after re-measurement lands in
    // the record's `regressed` list — a real regression (or a real
    // plan/work change) by construction, named in the record itself.
    val prevFull: Map[String, Double] =
      if (prevMismatch) Map.empty else readPrevMap("full")
    val headlineMins = results.toMap
    // (name, best sample, Some((first, resample)) when adjudicated)
    val fullResults: Seq[(String, Double, Option[(Double, Double)])] =
      if (sys.env.getOrElse("SPARK_GRAFT_BENCH_FULL", "1") == "0") Seq.empty
      else SparkEntry.queries.keys.toSeq.sorted.filterNot(skip).map { name =>
        // skip applies here too: a whale excluded from the headline must
        // not run in the full sweep either, or its same-JVM GC aftermath
        // pollutes every sample after it anyway
        def run(): Double = timeOnce(name)(SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save())
        headlineMins.get(name).map(t => (name, t.min, None)).getOrElse {
          val s1 = run()
          prevFull.get(name) match {
            // the 0.5 s floor keeps sub-second queries (where a ratio
            // trigger is scheduler noise, not GC aftermath) out of the
            // re-measure
            case Some(prev) if prev > 0 && s1 > adjFactor * prev && s1 > 0.5 =>
              System.gc(); Thread.sleep(500); System.gc()
              val s2 = run()
              (name, if (s2 >= 0) math.min(s1, s2) else s1, Some((s1, s2)))
            case _ => (name, s1, None)
          }
        }
      }
    val loadEnd = loadavg()

    def jmap(f: Timing => Double, fmt: Double => String = _.toString): String =
      results.map { case (k, t) => "\"" + k + "\":" + fmt(f(t)) }.mkString("{", ",", "}")
    val qs = jmap(_.min)
    val medians = jmap(_.median)
    val spreads = jmap(_.spread, d => f"$d%.3f")
    val total = results.map(_._2.min).filter(_ >= 0).sum
    // q27's wall-time is dominated by its OUTPUT size (the synthetic
    // corpus is near-dup-heavy: ~2.8M candidate pairs at sf0.1, ~570×
    // the 5k input docs) — report the count, outside the timed region,
    // so a pair-volume change is distinguishable from a plan change.
    // Counted from the candidate stage (no total ORDER BY): same
    // distinct-pair cardinality as the declared query, without paying
    // the oracle-mandated global sort a third time per bench run.
    // Skippable (SPARK_GRAFT_BENCH_PAIRS=0): the candidate stage is
    // cheaper than the declared query but still a full minhash pass.
    val q27Pairs =
      if (sys.env.getOrElse("SPARK_GRAFT_BENCH_PAIRS", "1") == "0") -1L
      else try graft.operators.Dedup.minhashCandidates(
        graft.sources.Tables(spark, sfDir, "documents"), "doc_id", "text",
        n = 1, k = graft.queries.Extensions.mhK, bands = graft.queries.Extensions.mhBands,
        maxBandDf = graft.queries.Extensions.mhMaxBandDf).count()
      catch { case _: Throwable => -1L }
    val fullJson =
      if (fullResults.isEmpty) ""
      else fullResults.map { case (k, v, _) => "\"" + k + "\":" + v }
        .mkString(""","full":{""", ",", "}")
    // every adjudicated entry with both samples + the previous value it
    // was judged against — the regression story in the record itself
    val adjudicated = fullResults.collect { case (k, _, Some((s1, s2))) =>
      f""""$k":{"first":$s1%.3f,"resample":$s2%.3f,"prev":${prevFull.getOrElse(k, -1.0)}%.3f}"""
    }
    val adjJson =
      if (adjudicated.isEmpty) ""
      else adjudicated.mkString(""","full_adjudicated":{""", ",", "}")
    val headAdjJson =
      if (headlineAdj.isEmpty) ""
      else headlineAdj.map { case (k, s1, s2, prev) =>
        f""""$k":{"first":$s1%.3f,"resample":$s2%.3f,"prev":$prev%.3f}"""
      }.mkString(""","headline_adjudicated":{""", ",", "}")
    // HONEST self-grade (the r9 record needed 11 adjudications yet said
    // contended:false — too generous): a run that had to re-measure ≥4
    // entries in the SEVERE (>2× prev first-sample) class was, by its
    // own evidence, not running on a quiet box, whatever the loadavg
    // bookends claimed. Such a record stays usable (the adjudication
    // samples are all in it) but self-marks contended so it is never
    // read as a clean baseline. The 1.35–2× re-measures are counted
    // separately (`outliers_135`): drift bookkeeping, not contention
    // evidence. loadavg_end is reported but NOT graded on: the bench's
    // own local[32] sweep legitimately leaves the 1-min load high (a
    // clean-box r10 cut ended at 6.2).
    val severeFull = fullResults.count { case (k, _, Some((s1, _))) =>
      prevFull.get(k).exists(p => p > 0 && s1 > severeFactor * p)
      case _ => false
    }
    val severeHead = headlineAdj.count { case (k, s1, _, prev) =>
      prev > 0 && s1 > severeFactor * prev }
    val nAdjudications = severeFull + severeHead
    val outliers135 = adjudicated.length + headlineAdj.length
    // verdict-per-query: anything STILL >1.35× prev after its resample is
    // a named regression in the record, not a footnote a reader derives
    val regressed = (fullResults.collect {
      case (k, best, Some(_)) if prevFull.get(k).exists(p => p > 0 && best > adjFactor * p) => k
    } ++ headlineAdj.collect { case (k, s1, s2, prev)
        if prev > 0 && math.min(s1, if (s2 >= 0) s2 else s1) > adjFactor * prev => k
    }).distinct.sorted
    val regressedJson = regressed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val contended = contendedStart || nAdjudications >= 4
    val json = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir","cores":"$cpus","q27_pairs":$q27Pairs,"reps":$reps,"median":$medians,"spread":$spreads$fullJson$adjJson$headAdjJson,"loadavg_start":$loadStart,"loadavg_end":$loadEnd,"load_wait_sec":${f"$loadWaitSec%.1f"},"adjudications":$nAdjudications,"outliers_135":$outliers135,"regressed":$regressedJson,"prev_sf_mismatch":$prevSfMismatch,"prev_cores_mismatch":$prevCoresMismatch,"contended":$contended}"""
    // The FULL record (medians, spreads, the 60+-entry full-inventory map)
    // is several KB — longer than the driver's stdout tail window, which is
    // why BENCH_r04/r05 recorded `parsed: null`. So: the full record goes to
    // BENCH_LAST.json (the README-documented contract) and stderr; stdout
    // gets ONE compact headline line (3-decimal mins only) short enough to
    // always survive the tail capture whole.
    val compactQs = results.map { case (k, t) => f""""$k":${t.min}%.3f""" }
      .mkString("{", ",", "}")
    val compact = f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$compactQs,"sf":"$sfDir","cores":"$cpus","q27_pairs":$q27Pairs,"reps":$reps,"adjudicated":$nAdjudications,"loadavg_start":$loadStart,"loadavg_end":$loadEnd,"contended":$contended,"full":"BENCH_LAST.json"}"""
    System.err.println(json)
    try java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_LAST.json"),
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case _: java.io.IOException => () } // full record still on stderr
    println(compact) // LAST stdout line — the one the driver parses
    spark.stop()
  }
}
