package graft

import org.apache.spark.sql.SparkSession

/** Self-adjudicating 100× SCALE LADDER (VERDICT r12 item 2): r6–r12
  * hand-curated BENCH_SF_LADDER entries and never re-measured old rungs,
  * so a rung could silently rot. This is the `BenchAdjudicate` pattern
  * applied to the ladder: ONE command —
  *
  *   SPARK_GRAFT_CPUS=32 sbt "runMain graft.LadderAdjudicate"
  *
  * — re-runs EVERY recorded rung query at 1× (sf0.1) and 100×
  * (/tmp/graft_sf10 from graft.ScaleUp), writes BENCH_LADDER.json with
  * per-rung current ratio, prior ratio and ratio-vs-prior, and flags
  * rungs whose 100×/1× ratio grew past 2× of the prior artifact the way
  * `streaming_regressions` flags throughput drops. Prior rungs come from
  * BENCH_LADDER.json when it exists (the regular format this writer
  * emits) plus every nested `"1x_sf0.1"/"100x_sf10"` block in the legacy
  * hand-curated BENCH_SF_LADDER.json; SPARK_GRAFT_LADDER_ONLY restricts
  * to the named queries and SPARK_GRAFT_LADDER_ADD enrolls new kernels
  * on top of every recorded rung (both comma-separated).
  * Streaming-gated queries are excluded — their wall-clock is
  * harness mechanics; the streaming gate lives in BENCH_FULL.json.
  */
object LadderAdjudicate {

  /** Every (query → seconds) pair inside any `"<tag>": { flat float map }`
    * block of a ladder artifact. Later occurrences win (later sections =
    * later rounds re-measuring the same rung).
    */
  def parseRungBlocks(txt: String, tag: String): Map[String, Double] = {
    val m = java.util.regex.Pattern
      .compile("\"" + java.util.regex.Pattern.quote(tag) + "\"\\s*:\\s*\\{([^{}]*)\\}")
      .matcher(txt)
    val out = scala.collection.mutable.Map[String, Double]()
    while (m.find()) {
      m.group(1).split(",").foreach { kv =>
        val i = kv.lastIndexOf(':')
        if (i > 0) {
          val k = kv.substring(0, i).trim.stripPrefix("\"").stripSuffix("\"")
          kv.substring(i + 1).trim.toDoubleOption
            .foreach(v => if (k.startsWith("q")) out(k) = v)
        }
      }
    }
    out.toMap
  }

  /** Prior per-rung (x1, x100) from one artifact's nested blocks. */
  def parsePrior(txt: String): Map[String, (Option[Double], Option[Double])] = {
    val x1 = parseRungBlocks(txt, "1x_sf0.1")
    val x100 = parseRungBlocks(txt, "100x_sf10")
    (x1.keySet ++ x100.keySet).map(q => q -> (x1.get(q), x100.get(q))).toMap
  }

  /** Every rung ATTEMPTED by a prior run — including errored rungs, which
    * have no timing entries. Without this a rung that errors once would
    * silently drop out of all future runs (its timings vanish from the
    * overwritten artifact), recreating exactly the rot this tool exists
    * to prevent.
    */
  def parseRungNames(txt: String): Set[String] = {
    val m = java.util.regex.Pattern
      .compile("\"rung_names\"\\s*:\\s*\\[([^\\]]*)\\]").matcher(txt)
    if (!m.find()) Set.empty
    else m.group(1).split(",").map(_.trim.stripPrefix("\"").stripSuffix("\""))
      .filter(_.startsWith("q")).toSet
  }

  /** Rungs whose current 100×/1× ratio exceeds `factor` × the prior ratio
    * AND whose absolute 100× cost grew → (prior_ratio, current_ratio).
    * Both conditions matter: a 1× denominator that got FASTER doubles the
    * ratio with the 100× behavior unchanged or better (the first real
    * ladder run flagged exactly that on q268 — x100 2.19→2.00 s,
    * ratio 1.6→3.2 from a 1.41→0.62 s 1× improvement), and that is a
    * speedup, not a scale break. Sub-second 100× rungs are exempt — at
    * that absolute cost a ratio is all jitter (warm_retry's floor).
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
    def readIf(p: String): String = {
      val path = java.nio.file.Paths.get(p)
      if (java.nio.file.Files.exists(path)) java.nio.file.Files.readString(path) else ""
    }
    // the regular artifact (this writer's output) is the preferred prior;
    // the legacy hand-curated file seeds rungs it doesn't cover yet
    val regularTxt = readIf("BENCH_LADDER.json")
    val legacyTxt = readIf("BENCH_SF_LADDER.json")
    val prior = parsePrior(legacyTxt) ++ parsePrior(regularTxt)
    val priorRatio: Map[String, Double] = prior.collect {
      case (q, (Some(a), Some(b))) if a > 0 => q -> b / a
    }
    def envSet(name: String): Option[Set[String]] = sys.env.get(name)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val known = SparkEntry.queries.keySet -- SparkEntry.streamingQueries
    // ONLY restricts to the named rungs; ADD enrolls new kernels on top
    // of every recorded rung (how a new query enters the ladder); rung
    // NAMES from the prior regular artifact keep once-errored rungs
    // enrolled even though they have no prior timings
    val rungSet = envSet("SPARK_GRAFT_LADDER_ONLY").getOrElse(
      prior.keySet ++ parseRungNames(regularTxt) ++
        envSet("SPARK_GRAFT_LADDER_ADD").getOrElse(Set.empty))
    val queries = rungSet.filter { q =>
      val ok = known.contains(q)
      if (!ok) System.err.println(s"[ladder] skip $q (unknown or streaming-gated)")
      ok
    }.toSeq.sorted
    require(queries.nonEmpty, "no rung queries to run")

    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
    graft.core.Tables.sessionConfs.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000).selectExpr("sum(id)").collect()
    def canarySec(): Double = {
      import org.apache.spark.sql.functions.sum
      val t0 = System.nanoTime()
      spark.range(0, 32L * 1000 * 1000, 1, 32)
        .selectExpr("id % 9973 AS k", "id")
        .groupBy("k").agg(sum("id").as("s")).agg(sum("s")).collect()
      (System.nanoTime() - t0) / 1e9
    }
    canarySec(); canarySec()
    val canaryStart = math.min(canarySec(), canarySec())
    def timeOne(name: String, dir: String): Either[String, Double] = {
      def once(): Double = {
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, dir).count()
        (System.nanoTime() - t0) / 1e9
      }
      try {
        val cold = once()
        val warm = once()
        // same stall adjudication as Bench: a warm slower than its own
        // cold is box noise — retry once and take the min
        val adj = if (warm > cold * 1.1 && warm > 0.5) math.min(warm, once()) else warm
        graft.core.SessionHygiene.dropAllBlocks(spark)
        Right(adj)
      } catch {
        case e: Throwable =>
          graft.core.SessionHygiene.dropAllBlocks(spark)
          Left(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(160)}")
      }
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
    val canaryEnd = math.min(canarySec(), canarySec())
    // regressions adjudicate only what was MEASURED this run — a carried
    // rung's ratio equals its prior by construction
    val cur: Map[String, (Double, Double)] = results.collect {
      case (q, Right((a, b))) => q -> (b, b / math.max(1e-9, a))
    }.toMap
    val regressions = rungRegressions(prior, cur)
    def d3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def jstr(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    def emit(rs: Seq[(String, Either[String, (Double, Double)])],
        carriedKeys: Set[String], extraNames: Set[String] = Set.empty): String = {
      // extraNames: once-errored prior rungs have a name but no timings;
      // they must stay enrolled in rung_names (the anti-rot contract)
      val allNames = (rs.map(_._1) ++ extraNames).distinct.sorted
      val rungJson = rs.map {
        case (q, Right((a, b))) =>
          val ratio = b / math.max(1e-9, a)
          val carriedTag = if (carriedKeys(q)) ""","carried":true""" else ""
          val pr = priorRatio.get(q).filterNot(_ => carriedKeys(q)).map(p =>
            s""","prior_ratio":${d3(p)},"ratio_vs_prior":${d3(ratio / math.max(1e-9, p))}""")
            .getOrElse("")
          val p1 = prior.get(q).flatMap(_._1).filterNot(_ => carriedKeys(q))
            .map(v => s""","prior_x1":${d3(v)}""").getOrElse("")
          val p100 = prior.get(q).flatMap(_._2).filterNot(_ => carriedKeys(q))
            .map(v => s""","prior_x100":${d3(v)}""").getOrElse("")
          jstr(q) + s""":{"x1":${d3(a)},"x100":${d3(b)},"ratio":${d3(ratio)}$p1$p100$pr$carriedTag}"""
        case (q, Left(e)) => jstr(q) + s""":{"error":${jstr(e)}}"""
      }.mkString("{", ",", "}")
      val regJson = regressions.toSeq.sortBy(_._1).map { case (q, (p, c)) =>
        jstr(q) + s""":{"prior_ratio":${d3(p)},"ratio":${d3(c)}}"""
      }.mkString("{", ",", "}")
      val nErr = rs.count(_._2.isLeft)
      s"""{"metric":"sf_ladder_adjudicated","unit":"sec_warm_adjudicated",""" +
        s""""protocol":"graft.LadderAdjudicate: cold+warm(+retry past 1.1x cold) per rung at 1x ($dir1) and 100x ($dir100); value = adjudicated warm; prior = BENCH_LADDER.json else legacy BENCH_SF_LADDER.json nested blocks; rungs not re-measured by an ONLY run are carried forward (carried:true)",""" +
        s""""host_fingerprint":${jstr(BenchAdjudicate.hostFingerprint(cpus.toInt))},""" +
        s""""canary_start_sec":${d3(canaryStart)},"canary_end_sec":${d3(canaryEnd)},""" +
        s""""n_rungs":${rs.size},"n_errors":$nErr,""" +
        s""""n_measured":${rs.count(r => !carriedKeys(r._1))},""" +
        s""""rung_names":${allNames.map(jstr).mkString("[", ",", "]")},""" +
        s""""1x_sf0.1":${
          rs.collect { case (q, Right((a, _))) => jstr(q) + ":" + d3(a) }
            .mkString("{", ",", "}")},""" +
        s""""100x_sf10":${
          rs.collect { case (q, Right((_, b))) => jstr(q) + ":" + d3(b) }
            .mkString("{", ",", "}")},""" +
        s""""rungs":$rungJson,"rung_regressions":$regJson}"""
    }
    // an ONLY-restricted run keeps its raw measurements as a run log in
    // BENCH_LADDER_SUBSET.json AND merges them into the canonical
    // artifact with every other recorded rung carried forward — subset
    // runs no longer lose rungs by overwriting each other (r13 item 2)
    val onlyMode = sys.env.contains("SPARK_GRAFT_LADDER_ONLY")
    val (allResults, carriedKeys) =
      if (onlyMode) mergeCarried(parsePrior(regularTxt), results)
      else (results.sortBy(_._1), Set.empty[String])
    // the streaming_ladder block (written by graft.StreamingLadder into
    // this same artifact) must survive a batch-rung rewrite — carry it
    val merged = emit(allResults, carriedKeys,
      if (onlyMode) parseRungNames(regularTxt) else Set.empty)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("BENCH_LADDER.json"),
      StreamingLadder.extractObject(regularTxt, "streaming_ladder")
        .map(b => StreamingLadder.withBlock(merged, "streaming_ladder", b))
        .getOrElse(merged + "\n"))
    if (onlyMode)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get("BENCH_LADDER_SUBSET.json"),
        emit(results, Set.empty) + "\n")
    println(s"""{"metric":"sf_ladder_adjudicated","n_rungs":${allResults.size},""" +
      s""""n_measured":${results.size},""" +
      s""""n_errors":${results.count(_._2.isLeft)},"n_rung_regressions":${regressions.size},""" +
      s""""canary_start_sec":${d3(canaryStart)},"canary_end_sec":${d3(canaryEnd)},""" +
      s""""artifact":"BENCH_LADDER.json"}""")
    spark.stop()
  }
}
