package graft

import graft.llm.MiniJson._

/** Self-adjudicating 100× SCALE LADDER (VERDICT r12 item 2): r6–r12
  * hand-curated BENCH_SF_LADDER entries and never re-measured old rungs,
  * so a rung could silently rot. This is the `BenchAdjudicate` pattern
  * applied to the ladder: ONE command —
  *
  *   sbt "runMain graft.LadderAdjudicate"
  *
  * — re-runs EVERY recorded rung query at 1× (sf0.1) and 100×
  * (/tmp/graft_sf10 from graft.ScaleUp), writes BENCH_LADDER.json with
  * per-rung current ratio, prior ratio and ratio-vs-prior, and flags
  * rungs whose 100×/1× ratio grew past 2× of the prior artifact. Each
  * rung's time is the warm median of [[Harness.time]]. Prior rungs come from
  * BENCH_LADDER.json when it exists (the regular format this writer
  * emits) plus every nested `"1x_sf0.1"/"100x_sf10"` block in the legacy
  * hand-curated BENCH_SF_LADDER.json; SPARK_GRAFT_LADDER_ONLY restricts
  * to the named queries and SPARK_GRAFT_LADDER_ADD enrolls new kernels
  * on top of every recorded rung (both comma-separated).
  * Streaming-gated queries are excluded — their wall-clock is
  * harness mechanics; [[StreamingLadder]] gates them on throughput.
  */
object LadderAdjudicate {

  /** Every (query → seconds) pair inside any `"<tag>": {...}` object of a
    * ladder artifact, at any depth. Later occurrences in document order
    * win (later sections = later rounds re-measuring the same rung).
    */
  def rungBlocks(a: JValue, tag: String): Map[String, Double] = {
    def walk(v: JValue): Seq[(String, Double)] = v match {
      case JObj(kvs) => kvs.flatMap { case (k, x) =>
        (if (k == tag) BenchAdjudicate.numbers(tag, x).toSeq else Nil) ++ walk(x)
      }
      case JArr(vs) => vs.flatMap(walk)
      case _ => Nil
    }
    walk(a).toMap
  }

  /** Prior per-rung (x1, x100) from one artifact's nested blocks. */
  def parsePrior(a: JValue): Map[String, (Option[Double], Option[Double])] = {
    val x1 = rungBlocks(a, "1x_sf0.1")
    val x100 = rungBlocks(a, "100x_sf10")
    (x1.keySet ++ x100.keySet).map(q => q -> (x1.get(q), x100.get(q))).toMap
  }

  /** Every rung ATTEMPTED by a prior run — including errored rungs, which
    * have no timing entries. Without this a rung that errors once would
    * silently drop out of all future runs (its timings vanish from the
    * overwritten artifact), recreating exactly the rot this tool exists
    * to prevent.
    */
  def rungNames(a: JValue): Set[String] =
    a.get("rung_names").fold(Set.empty[String])(_.arr.map(_.str).toSet)

  /** Rungs whose current 100×/1× ratio exceeds `factor` × the prior ratio
    * AND whose absolute 100× cost grew → (prior_ratio, current_ratio).
    * Both conditions matter: a 1× denominator that got FASTER doubles the
    * ratio with the 100× behavior unchanged or better (the first real
    * ladder run flagged exactly that on q268 — x100 2.19→2.00 s,
    * ratio 1.6→3.2 from a 1.41→0.62 s 1× improvement), and that is a
    * speedup, not a scale break. Sub-second 100× rungs are exempt — at
    * that absolute cost a ratio is all jitter.
    */
  def rungRegressions(prior: Map[String, (Option[Double], Option[Double])],
      cur: Map[String, (Double, Double)], factor: Double = 2.0,
      floorSec: Double = 1.0): Map[String, (Double, Double)] =
    cur.flatMap { case (q, (x100, ratio)) =>
      prior.get(q) match {
        case Some((Some(p1), Some(p100))) if p1 > 0 && x100 >= floorSec &&
            ratio > (p100 / p1) * factor && x100 > p100 =>
          Some(q -> (p100 / p1, ratio))
        case _ => None
      }
    }

  /** ONLY-mode merge (VERDICT r13 item 2): an ONLY-restricted run used to
    * write just BENCH_LADDER_SUBSET.json, and successive subset runs
    * overwrote each other — q288's rung survived only in a commit
    * message. The canonical artifact must instead absorb subset
    * measurements: rungs NOT re-measured this run are carried forward
    * from the prior canonical artifact verbatim (marked `carried`), so
    * BENCH_LADDER.json is always the union of every rung ever measured.
    * Returns (combined results sorted by name, carried-rung names).
    */
  def mergeCarried(prior: Map[String, (Option[Double], Option[Double])],
      measured: Seq[(String, Either[String, (Double, Double)])])
    : (Seq[(String, Either[String, (Double, Double)])], Set[String]) = {
    val measuredKeys = measured.map(_._1).toSet
    val carried = prior.collect {
      case (q, (Some(a), Some(b))) if !measuredKeys.contains(q) =>
        q -> (Right((a, b)): Either[String, (Double, Double)])
    }.toSeq
    ((measured ++ carried).sortBy(_._1), carried.map(_._1).toSet)
  }

  def main(args: Array[String]): Unit = {
    val dir1 = sys.env.getOrElse("SPARK_GRAFT_LADDER_DIR1", "/root/testdata/sf0.1")
    val dir100 = sys.env.getOrElse("SPARK_GRAFT_LADDER_DIR100", "/tmp/graft_sf10")
    require(java.nio.file.Files.isDirectory(java.nio.file.Paths.get(dir100)),
      s"100x corpus missing at $dir100 — generate it first: " +
        "runMain graft.ScaleUp /root/testdata/sf0.1 /tmp/graft_sf10 100")
    // the regular artifact (this writer's output) is the preferred prior;
    // the legacy hand-curated file seeds rungs it doesn't cover yet
    val regular = Harness.readArtifact("BENCH_LADDER.json")
    val prior = parsePrior(Harness.readArtifact("BENCH_SF_LADDER.json")) ++
      parsePrior(regular)
    val priorRatio: Map[String, Double] = prior.collect {
      case (q, (Some(a), Some(b))) if a > 0 => q -> b / a
    }
    val known = SparkEntry.queries.keySet -- SparkEntry.streamingQueries
    // ONLY restricts to the named rungs; ADD enrolls new kernels on top
    // of every recorded rung (how a new query enters the ladder); rung
    // NAMES from the prior regular artifact keep once-errored rungs
    // enrolled even though they have no prior timings. A typed name the
    // registry lacks fails; a recorded one is skipped below.
    val onlyEnv = sys.env.get("SPARK_GRAFT_LADDER_ONLY").map(Runner.names)
    val rungSet = onlyEnv.getOrElse(prior.keySet ++ rungNames(regular) ++
      sys.env.get("SPARK_GRAFT_LADDER_ADD").fold(Set.empty[String])(Runner.names))
    val queries = rungSet.filter { q =>
      val ok = known.contains(q)
      if (!ok) System.err.println(s"[ladder] skip $q (unknown or streaming-gated)")
      ok
    }.toSeq.sorted
    require(queries.nonEmpty, "no rung queries to run")

    val cores = Harness.cores
    val spark = Harness.session(cores)
    Harness.warmUp(spark)
    // the warm median of Harness.time
    def timeOne(name: String, dir: String): Either[String, Double] = {
      val (t, _) = Runner.timed(spark, name, dir)(_.count())
      t.error.toLeft(t.median)
    }
    val results: Seq[(String, Either[String, (Double, Double)])] = queries.map { q =>
      System.err.println(s"[ladder] $q @1x")
      val r1 = timeOne(q, dir1)
      System.err.println(s"[ladder] $q @100x")
      val r100 = timeOne(q, dir100)
      val r = for (a <- r1; b <- r100) yield (a, b)
      r match {
        case Right((a, bb)) => System.err.println(
          f"[ladder] $q 1x $a%.2f s 100x $bb%.2f s ratio ${bb / math.max(1e-9, a)}%.1fx")
        case Left(e) => System.err.println(s"[ladder] $q ERROR $e")
      }
      q -> r
    }
    // regressions adjudicate only what was MEASURED this run — a carried
    // rung's ratio equals its prior by construction
    val cur: Map[String, (Double, Double)] = results.collect {
      case (q, Right((a, b))) => q -> (b, b / math.max(1e-9, a))
    }.toMap
    val regressions = rungRegressions(prior, cur)
    def d3(v: Double): JNum = fixed(v, 3)
    def emit(rs: Seq[(String, Either[String, (Double, Double)])],
        carriedKeys: Set[String], extraNames: Set[String] = Set.empty): JObj = {
      // extraNames: once-errored prior rungs have a name but no timings;
      // they must stay enrolled in rung_names (the anti-rot contract)
      val allNames = (rs.map(_._1) ++ extraNames).distinct.sorted
      val rungs = JObj(rs.map {
        case (q, Right((a, b))) =>
          val ratio = b / math.max(1e-9, a)
          val measured = !carriedKeys(q)
          val p = prior.get(q).filter(_ => measured)
          q -> JObj(Seq[(String, JValue)]("x1" -> d3(a), "x100" -> d3(b), "ratio" -> d3(ratio)) ++
            p.flatMap(_._1).map("prior_x1" -> d3(_)) ++
            p.flatMap(_._2).map("prior_x100" -> d3(_)) ++
            priorRatio.get(q).filter(_ => measured).toSeq.flatMap(pr => Seq(
              "prior_ratio" -> d3(pr), "ratio_vs_prior" -> d3(ratio / math.max(1e-9, pr)))) ++
            Option.when(!measured)("carried" -> JBool(true)))
        case (q, Left(e)) => q -> obj("error" -> JStr(e))
      })
      obj("metric" -> JStr("sf_ladder_adjudicated"), "unit" -> JStr("sec_warm_median"),
        "protocol" -> JStr(s"graft.LadderAdjudicate: 1 cold + ${Harness.WarmRuns} warm runs per rung at 1x ($dir1) and 100x ($dir100); value = warm median; prior = BENCH_LADDER.json else legacy BENCH_SF_LADDER.json nested blocks; rungs not re-measured by an ONLY run are carried forward (carried:true)"),
        "host_fingerprint" -> JStr(BenchAdjudicate.hostFingerprint(cores)),
        "n_rungs" -> JNum(rs.size), "n_errors" -> JNum(rs.count(_._2.isLeft)),
        "n_measured" -> JNum(rs.count(r => !carriedKeys(r._1))),
        "rung_names" -> JArr(allNames.map(JStr)),
        "1x_sf0.1" -> JObj(rs.collect { case (q, Right((a, _))) => q -> d3(a) }),
        "100x_sf10" -> JObj(rs.collect { case (q, Right((_, b))) => q -> d3(b) }),
        "rungs" -> rungs,
        "rung_regressions" -> JObj(regressions.toSeq.sortBy(_._1).map { case (q, (p, c)) =>
          q -> obj("prior_ratio" -> d3(p), "ratio" -> d3(c)) }))
    }
    // an ONLY-restricted run keeps its raw measurements as a run log in
    // BENCH_LADDER_SUBSET.json AND merges them into the canonical
    // artifact with every other recorded rung carried forward — subset
    // runs no longer lose rungs by overwriting each other (r13 item 2)
    val onlyMode = onlyEnv.isDefined
    val (allResults, carriedKeys) =
      if (onlyMode) mergeCarried(parsePrior(regular), results)
      else (results.sortBy(_._1), Set.empty[String])
    Harness.writeArtifact("BENCH_LADDER.json", emit(allResults, carriedKeys,
      if (onlyMode) rungNames(regular) else Set.empty))
    if (onlyMode) Harness.writeArtifact("BENCH_LADDER_SUBSET.json", emit(results, Set.empty))
    println(obj("metric" -> JStr("sf_ladder_adjudicated"), "n_rungs" -> JNum(allResults.size),
      "n_measured" -> JNum(results.size), "n_errors" -> JNum(results.count(_._2.isLeft)),
      "n_rung_regressions" -> JNum(regressions.size),
      "artifact" -> JStr("BENCH_LADDER.json")).render)
    spark.stop()
  }
}
