package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      // FAIR scheduling for the concurrent pass (r14 item 8). With jobs
      // submitted one at a time — the whole sequential suite — a single
      // runnable job owns every slot regardless of mode, so the
      // sequential numbers are unaffected; only the 4-pool concurrent
      // block below exercises cross-pool sharing.
      .config("spark.scheduler.mode", "FAIR")
    graft.core.Tables.sessionConfs.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // /tmp hygiene (VERDICT r13 item 8): age-bounded sweep of the
    // random-suffix fixture/stream dirs older runs left behind (they
    // carry no owner token, so the dead-pid sweeps can't claim them).
    // The regenerable-but-expensive scale corpora (graft_sf*) are kept.
    val swept = graft.core.Fs.cleanupStale()
    if (swept > 0)
      System.err.println(s"[bench] cleanupStale removed $swept stale /tmp entries")
    // warm the session (scheduler, parquet reader, codegen paths) so the
    // first measured query doesn't absorb one-time startup cost
    spark.range(1000000).selectExpr("sum(id)").collect()
    graft.core.Tables(spark, sfDir, "region").count()
    // two timed iterations per query: "cold" includes per-plan codegen and
    // whatever transient stall this box injects (BASELINE.md documents a
    // floating 20-35 s hiccup that attaches to random queries); "warm" is
    // the steady-state cost that actually scales with data volume. The
    // headline value stays cold for round-over-round continuity.
    // a crashing query must not look like a normal bench number: the error
    // is captured per query and lands in BENCH_FULL.json (rc stays 0 — the
    // CORRECTNESS gate owns pass/fail; this keeps the regression visible
    // in the artifact the driver archives)
    def timeOne(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): (Double, Option[String]) = {
      val t0 = System.nanoTime()
      val err = try { fn(spark, sfDir).count(); None } catch {
        case e: Throwable =>
          Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
      }
      ((System.nanoTime() - t0) / 1e9, err)
    }
    // local-iteration filter (the driver never sets it): bench only the
    // named queries, e.g. SPARK_GRAFT_BENCH_ONLY=q73_dedup_components
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    only.foreach { o =>
      val unknown = o -- SparkEntry.queries.keySet
      require(unknown.isEmpty, s"unknown query name(s): ${unknown.toSeq.sorted.mkString(", ")}")
    }
    // prior round's artifact, read BEFORE this run overwrites it — the
    // warm_retry pass, the streaming-throughput gate, and the canary all
    // adjudicate against it. A prior stamped `provisional` (it ran on a
    // loud box, pressure > 1.25) would hand this round an inflated noise
    // floor, so prior selection falls back to the last QUIET artifact
    // (BENCH_QUIET.json, refreshed by every non-provisional full run).
    def readIf(p: String): String = try {
      val path = java.nio.file.Paths.get(p)
      if (java.nio.file.Files.exists(path)) java.nio.file.Files.readString(path) else ""
    } catch { case _: Throwable => "" }
    // alternate-artifact mode (r16 — VERDICT r15 item 7): a full-suite
    // pass at another scale factor writes its own artifact (e.g.
    // BENCH_SF1_FULL.json), adjudicates against ITS OWN prior (falling
    // back to the legacy 15-rung BENCH_SF1.json the first time), never
    // refreshes the sf0.1 quiet-prior, and carries a vs_sf01 block
    // comparing every query's adjudicated warm against the sf0.1 run.
    val artifactEnv = sys.env.getOrElse("SPARK_GRAFT_BENCH_ARTIFACT", "BENCH_FULL.json")
    val altArtifact = artifactEnv != "BENCH_FULL.json"
    val (priorTxt, priorSrc) =
      if (altArtifact) {
        val own = readIf(artifactEnv)
        if (own.nonEmpty) (own, artifactEnv)
        else (readIf("BENCH_SF1.json"), "BENCH_SF1.json")
      } else
        BenchAdjudicate.selectPrior(readIf("BENCH_FULL.json"), readIf("BENCH_QUIET.json"))
    if (!altArtifact && priorSrc != "BENCH_FULL.json")
      System.err.println(s"[bench] prior artifact is provisional (loud box) - adjudicating against $priorSrc")
    if (altArtifact)
      System.err.println(s"[bench] alternate artifact $artifactEnv - prior is $priorSrc")
    val priorWarmRaw = BenchAdjudicate.parseQueriesWarm(priorTxt)
    val priorStrmRaw = BenchAdjudicate.parseStreamingRates(priorTxt)
    // parse-count sanity (ADVICE r12): a format drift degrades the regex
    // parsers to empty maps and silently disables the warm/streaming
    // gates — name it loudly and record it in the artifact instead
    val parseWarnings = BenchAdjudicate.parseSanity(priorTxt, priorWarmRaw, priorStrmRaw)
    parseWarnings.foreach(k => System.err.println(
      s"[bench] PRIOR-ARTIFACT PARSE FAILURE: $k present but parsed empty - " +
        "warm/streaming adjudication gates are running blind this round"))
    val hostFp = BenchAdjudicate.hostFingerprint(cpus.toInt)
    // EVERY prior comparison assumes same hardware: a committed artifact
    // from another box must not read as pressure here, fire phantom
    // warm_retries, or flag every streaming query as a throughput drop
    // (warm_retry's own cold-vs-warm trigger keeps working regardless)
    val priorHostFp = BenchAdjudicate.parseHostFingerprint(priorTxt)
    val sameHost = priorHostFp.forall(_ == hostFp)
    if (!sameHost) System.err.println(
      s"[bench] host fingerprint changed (${priorHostFp.getOrElse("?")} -> $hostFp) - all prior-artifact comparisons disabled")
    val priorWarm = if (sameHost) priorWarmRaw else Map.empty[String, Double]
    val priorStrmRates = if (sameHost) priorStrmRaw else Map.empty[String, Double]
    val priorCanary =
      if (sameHost) BenchAdjudicate.parsePriorCanary(priorTxt) else None
    // fixed load canary: a data-independent synthetic job (CPU-bound range
    // generation + one small shuffle) whose cost moves only with box
    // pressure. min of two runs at suite start and again at suite end
    // (after the retries — they inherit the same window); the artifact
    // names the pressure instead of leaving it to a judge re-run.
    def canarySec(): Double = {
      import org.apache.spark.sql.functions.sum
      val t0 = System.nanoTime()
      spark.range(0, 32L * 1000 * 1000, 1, 32)
        .selectExpr("id % 9973 AS k", "id")
        .groupBy("k").agg(sum("id").as("s")).agg(sum("s")).collect()
      (System.nanoTime() - t0) / 1e9
    }
    // untimed runs first: the canary's own codegen + JIT tier-up must not
    // read as load (residual start>end asymmetry is handled by pressure()
    // being one-sided on drift)
    canarySec(); canarySec(); canarySec()
    val canaryStart = math.min(canarySec(), canarySec())
    System.err.println(f"[bench] canary start $canaryStart%.3f s")
    final case class StrmStats(inputRows: Long, triggerMs: Long) {
      def rowsPerTriggerSec: Double =
        if (triggerMs <= 0) 0.0 else inputRows * 1000.0 / triggerMs
    }
    val strmStats = scala.collection.mutable.Map[String, StrmStats]()
    val toRun = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(q => only.forall(_.contains(q._1)))
    // mid-suite canary (r17, VERDICT r16 item 8): one extra reading halfway
    // through, BETWEEN queries, so load that arrives and clears inside the
    // suite is named; feeds the drift block below. Skipped on tiny subset
    // runs where "mid-suite" is meaningless.
    var canaryMid: Option[Double] = None
    val results = toRun.zipWithIndex.map { case ((name, fn), qIdx) =>
      if (qIdx == toRun.size / 2 && toRun.size >= 10) {
        val m = math.min(canarySec(), canarySec())
        canaryMid = Some(m)
        System.err.println(f"[bench] canary mid $m%.3f s")
      }
      System.err.println(s"[bench] start $name @${java.time.Instant.now()}")
      val isStreaming = SparkEntry.streamingQueries(name)
      // discard listener events left over from a previous query so the
      // per-query attribution below only sees this query's micro-batches
      if (isStreaming) { BenchListener.quiesce(); BenchListener.drain() }
      val (cold, coldErr) = timeOne(name, fn)
      val (warm, warmErr) = timeOne(name, fn)
      if (isStreaming) {
        // engine-side steady-state metric: wall-clock around
        // processAllAvailable measures stream start/stop + harness setup
        // (same-code runs swing 2x); triggerExecution per micro-batch is
        // the engine's own work and scales with fed rows. Cold+warm both
        // feed the same batches — summing across both runs just doubles
        // the sample for rows/sum(triggerExecution).
        BenchListener.quiesce()
        val bs = BenchListener.drain()
        strmStats(name) = StrmStats(bs.map(_.inputRows).sum, bs.map(_.triggerMs).sum)
      }
      // between-query isolation (see SessionHygiene); sorted name order so
      // a query's predecessors are the same every round
      graft.core.SessionHygiene.dropAllBlocks(spark)
      val err = coldErr.orElse(warmErr)
      err.foreach(m => System.err.println(s"[bench] ERROR $name: $m"))
      System.err.println(f"[bench] done  $name cold $cold%.2f s warm $warm%.2f s")
      name -> (cold, warm, err)
    }
    // warm_retry: a warm that exceeds 2.0x the prior round's warm OR its
    // own cold is this box's documented stall artifact, not a plan
    // regression (r9: q127 warm 7.37 > cold 4.14; r10: q202 warm 5.03 >
    // cold 3.88 on a byte-identical binary). Re-measure once after the
    // suite so reviewers adjudicate against the retry, not the outlier.
    // The 0.5 s floor keeps sub-second jitter ties from doubling the run.
    // Threshold 2.5→2.0 (VERDICT r13 item 4): q164's 2.2x stall draw
    // slipped the gap between this trigger and the warm>1.1x-cold one.
    val warmRetry: Map[String, Double] = results.collect {
      case (name, (cold, warm, None))
          if warm > 0.5 &&
            (warm > cold * 1.1 || priorWarm.get(name).exists(p => warm > 2.0 * p)) =>
        System.err.println(f"[bench] warm_retry $name (cold $cold%.2f warm $warm%.2f prior ${priorWarm.getOrElse(name, -1.0)}%.2f)")
        val (retry, _) = timeOne(name, SparkEntry.queries(name))
        graft.core.SessionHygiene.dropAllBlocks(spark)
        name -> retry
    }.toMap
    val canaryEnd = math.min(canarySec(), canarySec())
    val canaryBest = math.min(canaryStart, canaryEnd)
    val ambientPressure =
      BenchAdjudicate.pressure(canaryStart, canaryEnd, priorCanary)
    // secondary signal: peak canary vs prior best — catches load that
    // cleared mid-run, which the one-sided drift + min() primary misses
    val ambientPeak =
      BenchAdjudicate.pressurePeak(canaryStart, canaryEnd, priorCanary)
    val ambientLoaded = ambientPressure > 1.3
    // provisional stamp (VERDICT r13 item 4): a run at pressure > 1.25 is
    // a usable record but a bad PRIOR — next round's selectPrior skips it
    // for the last quiet artifact instead of inheriting the noise floor
    val provisional = ambientPressure > 1.25
    System.err.println(f"[bench] canary end $canaryEnd%.3f s pressure $ambientPressure%.2fx peak $ambientPeak%.2fx" +
      (if (ambientLoaded) " - AMBIENT LOAD DETECTED" else "") +
      (if (provisional) " - ARTIFACT STAMPED PROVISIONAL" else ""))
    // the REVIEW number: every query at min(warm, warm_retry) — a faster
    // retry proves the first warm carried transient pressure
    val totalWarmAdjudicated = BenchAdjudicate.adjudicatedTotal(
      results.map { case (k, (_, w, _)) => k -> w }, warmRetry)
    // streaming throughput gate: engine-side rows_per_trigger_sec vs the
    // prior artifact, flagged past 2x the way warm_retry flags wall-clock.
    // strm_retry (r13): TWS throughput on this box swings ±1.7x between
    // byte-identical runs (measured: q184 2288 vs 1379 rows/trigger-sec
    // back to back), so one noisy sample against a lucky prior can cross
    // the 2x line with nothing wrong. Mirror warm_retry: re-measure each
    // flagged query once after the suite and adjudicate against the
    // BETTER sample; the retry rate is recorded beside the original so
    // reviewers see both, while the recorded rate (next round's prior)
    // stays the unbiased first sample.
    val strmRetry: Map[String, Double] = BenchAdjudicate.streamingDrops(
        priorStrmRates,
        strmStats.map { case (k, s) => k -> s.rowsPerTriggerSec }.toMap)
      .map { case (name, (p, c)) =>
        System.err.println(
          f"[bench] strm_retry $name ($c%.0f vs prior $p%.0f rows/trigger-sec)")
        BenchListener.quiesce(); BenchListener.drain()
        timeOne(name, SparkEntry.queries(name))
        BenchListener.quiesce()
        val bs = BenchListener.drain()
        graft.core.SessionHygiene.dropAllBlocks(spark)
        name -> StrmStats(bs.map(_.inputRows).sum,
          bs.map(_.triggerMs).sum).rowsPerTriggerSec
      }
    val seqStrmRates: Map[String, Double] = strmStats.map { case (k, s) =>
      k -> math.max(s.rowsPerTriggerSec, strmRetry.getOrElse(k, 0.0))
    }.toMap
    val strmDrops = BenchAdjudicate.streamingDrops(priorStrmRates, seqStrmRates)
    strmDrops.foreach { case (k, (p, c)) =>
      System.err.println(f"[bench] STREAMING THROUGHPUT DROP $k: $p%.0f -> $c%.0f rows/trigger-sec")
    }
    // Concurrent-stream pass (VERDICT r14 item 8): a shared 100 TB
    // cluster runs mixed concurrent load, never one query at a time.
    // Four FAIR-scheduler pools each drain a deterministic shuffled
    // quarter of the BATCH queries (streaming stays out: its memory-
    // sink harness + listener attribution are single-stream by design,
    // and its wall-clock is harness-dominated anyway). Reported as a
    // SEPARATE artifact block — the sequential numbers above remain the
    // round-over-round record; the canary brackets the pass so ambient
    // pressure is named exactly like the sequential run's. Errors are
    // recorded per query (rc stays 0 — correctness is the gate's job).
    def jstr(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val runConcurrent = only.isEmpty &&
      sys.env.get("SPARK_GRAFT_BENCH_CONCURRENT").forall(_ != "0")
    val concurrentJson: String = if (!runConcurrent) "" else {
      val nPools = 4
      val names = SparkEntry.queries.keySet.toSeq
        .filterNot(SparkEntry.streamingQueries).sorted
      val assign = BenchAdjudicate.poolAssignment(names, nPools)
      graft.core.SessionHygiene.dropAllBlocks(spark)
      val cStart = math.min(canarySec(), canarySec())
      System.err.println(f"[bench] concurrent pass: $nPools pools, ${names.size} queries, canary $cStart%.3f s")
      val perQ = new java.util.concurrent.ConcurrentHashMap[String, Double]()
      val cErrs = new java.util.concurrent.ConcurrentHashMap[String, String]()
      val poolSec = new Array[Double](nPools)
      val t0 = System.nanoTime()
      val threads = (0 until nPools).map { p =>
        val mine = new scala.util.Random(42 + p)
          .shuffle(names.filter(assign(_) == p))
        new Thread(() => {
          spark.sparkContext.setLocalProperty("spark.scheduler.pool", s"bench$p")
          mine.foreach { name =>
            val q0 = System.nanoTime()
            try SparkEntry.queries(name)(spark, sfDir).count()
            catch {
              case e: Throwable => cErrs.put(name,
                s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(120)}")
            }
            perQ.put(name, (System.nanoTime() - q0) / 1e9)
          }
          poolSec(p) = (System.nanoTime() - t0) / 1e9
        }, s"bench-pool-$p")
      }
      // Mixed batch+streaming contention (r16 — VERDICT r15 item 6): a
      // fifth pool drives three streaming queries — one per state-store
      // family — SEQUENTIALLY while the batch pools churn, so the
      // BenchListener attribution stays single-stream (batch jobs emit
      // no streaming progress events). SessionHygiene is NOT run inside
      // the loop: dropping all blocks would evict concurrent batch
      // queries' cached data mid-flight.
      val strmPicks = BenchAdjudicate.ConcurrentStreamingPicks
        .filter(SparkEntry.queries.contains)
      val strmConc = new java.util.concurrent.ConcurrentHashMap[String, Double]()
      val strmOverlap = new java.util.concurrent.ConcurrentHashMap[String, Boolean]()
      val strmThread = new Thread(() => {
        spark.sparkContext.setLocalProperty("spark.scheduler.pool", "benchStrm")
        strmPicks.foreach { name =>
          try {
            BenchListener.quiesce(); BenchListener.drain()
            SparkEntry.queries(name)(spark, sfDir).count()
            BenchListener.quiesce()
            val bs = BenchListener.drain()
            val rows = bs.map(_.inputRows).sum
            val ms = bs.map(_.triggerMs).sum
            strmConc.put(name, if (ms <= 0) 0.0 else rows * 1000.0 / ms)
            strmOverlap.put(name, threads.exists(_.isAlive))
          } catch {
            case e: Throwable => cErrs.put(name,
              s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(120)}")
          }
        }
      }, "bench-pool-strm")
      threads.foreach(_.start())
      strmThread.start()
      threads.foreach(_.join())
      strmThread.join()
      val wall = (System.nanoTime() - t0) / 1e9
      val cEnd = math.min(canarySec(), canarySec())
      graft.core.SessionHygiene.dropAllBlocks(spark)
      import scala.jdk.CollectionConverters._
      val sumSec = perQ.values.asScala.sum
      // vs the sequential pass's adjudicated batch warm total: how much
      // wall-clock four mixed streams actually buy on this box
      val seqBatchWarm = results
        .filterNot(r => SparkEntry.streamingQueries(r._1))
        .map { case (k, (_, w, _)) => math.min(w, warmRetry.getOrElse(k, w)) }
        .sum
      val slow = perQ.asScala.toSeq.sortBy(-_._2).take(10)
      System.err.println(f"[bench] concurrent wall $wall%.1f s (sum $sumSec%.1f s, sequential warm $seqBatchWarm%.1f s), canary end $cEnd%.3f s")
      def d3c(v: Double): String =
        String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
      // contention adjudication: picks' rows/trigger-sec vs the SAME
      // run's sequential rates, flagged past the pools+1 bound
      val contentionRates = strmConc.asScala.toMap
      val contention = BenchAdjudicate.contentionDrops(
        seqStrmRates.view.filterKeys(strmPicks.contains).toMap,
        contentionRates, factor = nPools + 1.0)
      contention.foreach { case (k, (p, c)) =>
        System.err.println(f"[bench] CONCURRENT STREAMING DROP $k: $p%.0f -> $c%.0f rows/trigger-sec")
      }
      val strmBlock = strmPicks.map { name =>
        val seq = seqStrmRates.getOrElse(name, 0.0)
        val conc = contentionRates.getOrElse(name, 0.0)
        s""""$name":{"rate_concurrent":${d3c(conc)},"rate_sequential":${d3c(seq)},""" +
          s""""ratio":${d3c(if (seq > 0) conc / seq else -1.0)},""" +
          s""""overlapped_batch_pools":${strmOverlap.getOrDefault(name, false)}}"""
      }.mkString("{", ",", "}")
      s""""concurrent":{"n_pools":$nPools,"n_queries":${names.size},""" +
        s""""wall_sec":${d3c(wall)},"sum_sec":${d3c(sumSec)},""" +
        s""""sequential_warm_batch_sec":${d3c(seqBatchWarm)},""" +
        s""""speedup_vs_sequential":${d3c(if (wall > 0) seqBatchWarm / wall else 0.0)},""" +
        s""""pool_wall_sec":[${poolSec.map(d3c).mkString(",")}],""" +
        s""""canary_before_sec":${d3c(cStart)},"canary_after_sec":${d3c(cEnd)},""" +
        s""""slowest":${slow.map { case (k, v) => "\"" + k + "\":" + d3c(v) }.mkString("{", ",", "}")},""" +
        s""""streaming":{"queries":$strmBlock,"drops":${
          contention.toSeq.sortBy(_._1).map { case (k, (p, c)) =>
            s""""$k":{"rate_sequential":${d3c(p)},"rate_concurrent":${d3c(c)}}"""
          }.mkString("{", ",", "}")}},""" +
        s""""errors":${cErrs.asScala.toSeq.sortBy(_._1).map { case (k, m) =>
          jstr(k) + ":" + jstr(m) }.mkString("{", ",", "}")}},"""
    }

    // q127 cost profile (VERDICT r9/r10 item 8): the ACTUAL executed
    // recursion depth for this corpus — max pieces per distinct word + 1
    // terminating round, replayed through the SAME recursive SQL the gate
    // query runs (TextQueries.subwordIterations). The hard upper bound is
    // still max word length + 1 ≤ 51 (each round advances ≥ 1 char; the
    // words CTE drops tokens > 50 chars), but the greedy longest-match
    // usually converges in far fewer rounds — recording the real depth
    // lets a cost movement be attributed to data (deeper words) vs engine.
    val q127Iters: Option[Int] =
      if (results.exists(_._1 == "q127_subword_tokenize"))
        scala.util.Try(
          graft.queries.TextQueries.subwordIterations(spark, sfDir)).toOption
      else None
    // Locale.ROOT: a decimal-comma default locale would print 0,813 inside
    // the JSON and corrupt both the stdout line and BENCH_FULL.json
    def d3(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def obj(vs: Iterable[(String, Double)]): String =
      vs.map { case (k, v) => "\"" + k + "\":" + d3(v) }.mkString("{", ",", "}")
    val qs = obj(results.map { case (k, (c, _, _)) => k -> c })
    val qsWarm = obj(results.map { case (k, (_, w, _)) => k -> w })
    val total = d3(results.map(_._2._1).sum)
    val totalWarm = d3(results.map(_._2._2).sum)
    // batch vs streaming split: the ~15 streaming-gated queries measure
    // micro-batch harness setup (bounded MemoryStream feeds), not plan
    // cost — same-code runs swing seconds. Reporting them separately keeps
    // that jitter from masking a real regression in the batch total.
    val (strm, batch) = results.partition(r => SparkEntry.streamingQueries(r._1))
    val totalColdBatch = d3(batch.map(_._2._1).sum)
    val totalWarmBatch = d3(batch.map(_._2._2).sum)
    val totalColdStreaming = d3(strm.map(_._2._1).sum)
    val totalWarmStreaming = d3(strm.map(_._2._2).sum)
    val errs = results.collect { case (k, (_, _, Some(m))) => k -> m }
    val errsJson = errs.map { case (k, m) => jstr(k) + ":" + jstr(m) }
      .mkString("{", ",", "}")
    val warmRetryJson = obj(warmRetry.toSeq.sortBy(_._1))
    val strmJson = strmStats.toSeq.sortBy(_._1).map { case (k, s) =>
      val prior = priorStrmRates.get(k).map(p =>
        s""","prior_rows_per_trigger_sec":${d3(p)}""" +
          (if (s.rowsPerTriggerSec > 0)
            s""","prior_ratio":${d3(p / s.rowsPerTriggerSec)}""" else ""))
        .getOrElse("")
      val retry = strmRetry.get(k)
        .map(r => s""","retry_rows_per_trigger_sec":${d3(r)}""").getOrElse("")
      jstr(k) + s""":{"input_rows":${s.inputRows},"trigger_ms":${s.triggerMs},""" +
        s""""rows_per_trigger_sec":${d3(s.rowsPerTriggerSec)}$prior$retry}"""
    }.mkString("{", ",", "}")
    val strmDropsJson = strmDrops.toSeq.sortBy(_._1).map { case (k, (p, c)) =>
      jstr(k) + s""":{"prior":${d3(p)},"current":${d3(c)}}"""
    }.mkString("{", ",", "}")
    val note =
      if (ambientLoaded)
        s""""note":${jstr(f"canary shows $ambientPressure%.2fx ambient pressure - review total_warm_adjudicated, not total_warm")},"""
      else ""
    val full = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
      s""""total_warm":$totalWarm,"queries_warm":$qsWarm,""" +
      s""""total_warm_adjudicated":${d3(totalWarmAdjudicated)},""" +
      s""""canary_start_sec":${d3(canaryStart)},"canary_end_sec":${d3(canaryEnd)},""" +
      s""""canary_best_sec":${d3(canaryBest)},""" +
      priorCanary.map(p => s""""canary_prior_best_sec":${d3(p)},""").getOrElse("") +
      s""""ambient_pressure":${d3(ambientPressure)},"ambient_pressure_peak":${d3(ambientPeak)},""" +
      s""""ambient_load_detected":$ambientLoaded,"provisional":$provisional,""" +
      s""""prior_artifact":${jstr(priorSrc)},""" +
      s""""host_fingerprint":${jstr(hostFp)},""" +
      (if (parseWarnings.nonEmpty)
        s""""prior_parse_failures":${parseWarnings.map(jstr).mkString("[", ",", "]")},"""
      else "") +
      note +
      s""""total_batch":$totalColdBatch,"total_warm_batch":$totalWarmBatch,""" +
      s""""total_streaming":$totalColdStreaming,"total_warm_streaming":$totalWarmStreaming,""" +
      s""""n_streaming":${strm.size},""" +
      s""""warm_retry":$warmRetryJson,"streaming_metrics":$strmJson,""" +
      s""""streaming_regressions":$strmDropsJson,""" +
      concurrentJson +
      q127Iters.map(n => s""""q127_cte_iterations":$n,""").getOrElse("") +
      // drift block (r17, VERDICT r16 item 8): the session-wide canary
      // drift factor plus per-query warm speedups vs the prior artifact
      // AFTER dividing that factor out — so a uniformly slower session
      // reads as drift, not as 250 phantom per-query regressions. Purely
      // additional: raw warm/cold fields above are unchanged.
      {
        val sessionDrift = BenchAdjudicate.sessionDrift(canaryBest, priorCanary)
        val midJson = canaryMid.map(m => s""""canary_mid_sec":${d3(m)},""").getOrElse("")
        sessionDrift.map { dr =>
          val adjWarm = results.map { case (k, (_, w, _)) =>
            k -> math.min(w, warmRetry.getOrElse(k, w)) }.toMap
          val corr = BenchAdjudicate.driftCorrected(adjWarm, priorWarm, dr)
          s""""drift":{$midJson"session_drift":${d3(dr)},""" +
            s""""total_warm_drift_corrected":${d3(totalWarmAdjudicated / math.max(dr, 1e-9))},""" +
            s""""speedups_vs_prior_drift_corrected":${corr.toSeq.sortBy(_._1)
              .map { case (k, sp) => jstr(k) + ":" + d3(sp) }.mkString("{", ",", "}")}},"""
        }.getOrElse(if (midJson.isEmpty) "" else s""""drift":{${midJson.stripSuffix(",")}},""")
      } +
      (if (!altArtifact) "" else {
        // scale-ratio audit vs the canonical sf0.1 run: adjudicated warm
        // here over adjudicated-warm there. Data is 10x, so linear cost
        // is ratio 10; flag past 12 (linear + 20% margin) among queries
        // whose sf1 warm is above a 1 s constant-cost floor. Streaming
        // rungs are excluded (harness-dominated wall-clock).
        val sf01 = BenchAdjudicate.parseQueriesWarm(readIf("BENCH_FULL.json"))
        val ratios = results.collect {
          case (k, (_, w, None))
              if !SparkEntry.streamingQueries(k) && sf01.get(k).exists(_ > 0.0) =>
            val adj = math.min(w, warmRetry.getOrElse(k, w))
            (k, adj, adj / sf01(k))
        }
        val superlin = ratios.filter { case (_, adj, r) => adj > 1.0 && r > 12.0 }
        val worst = ratios.sortBy(-_._3).take(10)
        s""""vs_sf01":{"n_compared":${ratios.size},""" +
          s""""n_superlinear":${superlin.size},""" +
          s""""superlinear":${superlin.sortBy(_._1).map { case (k, adj, r) =>
            jstr(k) + s""":{"warm_adjudicated":${d3(adj)},"ratio":${d3(r)}}"""
          }.mkString("{", ",", "}")},""" +
          s""""worst_ratios":${worst.map { case (k, _, r) =>
            jstr(k) + ":" + d3(r) }.mkString("{", ",", "}")}},"""
      }) +
      s""""errors":$errsJson,"sf":"$sfDir"}"""
    // The harness keeps only the LAST ~2000 chars of output, and 74 queries
    // × cold+warm of full-name timings is ~4 KB — the full line can never
    // survive the tail. So: (a) persist the complete cold+warm JSON to
    // BENCH_FULL.json next to the build, (b) print it early for any
    // full-log consumer, and (c) end with a tail-sized line that keeps the
    // driver contract (metric/value/unit/queries/sf) but limits the queries
    // dict to the slowest 20 — the ones a plan reviewer actually looks at.
    // a SPARK_GRAFT_BENCH_ONLY subset run must never clobber the canonical
    // full-suite artifact the docs reference (it has happened twice)
    val artifact = if (only.isDefined) "BENCH_SUBSET.json" else artifactEnv
    java.nio.file.Files.writeString(java.nio.file.Paths.get(artifact), full + "\n")
    // refresh the quiet-prior fallback: only full-suite runs on a quiet
    // box qualify (a subset run has too few queries to serve as a prior,
    // and an alternate-scale run must never become the sf0.1 prior)
    if (only.isEmpty && !provisional && !altArtifact)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get("BENCH_QUIET.json"), full + "\n")
    println(full)
    val top = results.toSeq.sortBy(-_._2._1).take(20)
      .map { case (k, (c, _, _)) => k -> c }
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":${obj(top)},""" +
      s""""total_warm":$totalWarm,"total_warm_adjudicated":${d3(totalWarmAdjudicated)},""" +
      s""""total_warm_batch":$totalWarmBatch,""" +
      s""""total_warm_streaming":$totalWarmStreaming,"n_queries":${results.size},""" +
      s""""canary_start_sec":${d3(canaryStart)},"canary_end_sec":${d3(canaryEnd)},""" +
      s""""ambient_pressure":${d3(ambientPressure)},""" +
      s""""n_streaming_regressions":${strmDrops.size},""" +
      s""""n_errors":${errs.size},"queries_full":"$artifact","sf":"$sfDir"}""")
    spark.stop()
  }
}
