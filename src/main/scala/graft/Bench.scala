package graft
import org.apache.spark.sql.SparkSession
import graft.llm.MiniJson._
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cores = Harness.cores
    val spark = Harness.session(cores)
    // /tmp hygiene (VERDICT r13 item 8): age-bounded sweep of the
    // random-suffix fixture/stream dirs older runs left behind (they
    // carry no owner token, so the dead-pid sweeps can't claim them).
    // The regenerable-but-expensive scale corpora (graft_sf*) are kept.
    val swept = graft.core.Fs.cleanupStale()
    if (swept > 0)
      System.err.println(s"[bench] cleanupStale removed $swept stale /tmp entries")
    // warm the session (scheduler, parquet reader, codegen paths) so the
    // first measured query doesn't absorb one-time startup cost
    Harness.warmUp(spark)
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
    // alternate-artifact mode (r16 — VERDICT r15 item 7): a full-suite
    // pass at another scale factor writes its own artifact (e.g.
    // BENCH_SF1_FULL.json), adjudicates against ITS OWN prior (falling
    // back to the legacy 15-rung BENCH_SF1.json the first time), never
    // refreshes the sf0.1 quiet-prior, and carries a vs_sf01 block
    // comparing every query's adjudicated warm against the sf0.1 run.
    val artifactEnv = sys.env.getOrElse("SPARK_GRAFT_BENCH_ARTIFACT", "BENCH_FULL.json")
    val altArtifact = artifactEnv != "BENCH_FULL.json"
    val (prior, priorSrc) =
      if (altArtifact) {
        val own = Harness.readArtifact(artifactEnv)
        if (own.fields.nonEmpty) (own, artifactEnv)
        else (Harness.readArtifact("BENCH_SF1.json"), "BENCH_SF1.json")
      } else
        BenchAdjudicate.selectPrior(Harness.readArtifact("BENCH_FULL.json"),
          Harness.readArtifact("BENCH_QUIET.json"))
    if (!altArtifact && priorSrc != "BENCH_FULL.json")
      System.err.println(s"[bench] prior artifact is provisional (loud box) - adjudicating against $priorSrc")
    if (altArtifact)
      System.err.println(s"[bench] alternate artifact $artifactEnv - prior is $priorSrc")
    val hostFp = BenchAdjudicate.hostFingerprint(cores)
    // EVERY prior comparison assumes same hardware: a committed artifact
    // from another box must not read as pressure here, fire phantom
    // warm_retries, or flag every streaming query as a throughput drop
    // (warm_retry's own cold-vs-warm trigger keeps working regardless)
    val priorHostFp = BenchAdjudicate.priorHostFingerprint(prior)
    val sameHost = priorHostFp.forall(_ == hostFp)
    if (!sameHost) System.err.println(
      s"[bench] host fingerprint changed (${priorHostFp.getOrElse("?")} -> $hostFp) - all prior-artifact comparisons disabled")
    val priorWarm =
      if (sameHost) BenchAdjudicate.queriesWarm(prior) else Map.empty[String, Double]
    val priorStrmRates =
      if (sameHost) BenchAdjudicate.streamingRates(prior) else Map.empty[String, Double]
    val priorCanary =
      if (sameHost) BenchAdjudicate.priorCanary(prior) else None
    // fixed load canary: a data-independent synthetic job (CPU-bound range
    // generation + one small shuffle) whose cost moves only with box
    // pressure. min of two runs at suite start and again at suite end
    // (after the retries — they inherit the same window); the artifact
    // names the pressure instead of leaving it to a judge re-run.
    def canarySec(): Double = Harness.canarySec(spark)
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
    // fixed 3-decimal precision, like "%.3f"
    def d3(v: Double): JNum = fixed(v, 3)
    def nums(vs: Iterable[(String, Double)]): JObj =
      JObj(vs.map { case (k, v) => k -> d3(v) }.toSeq)
    val runConcurrent = only.isEmpty &&
      sys.env.get("SPARK_GRAFT_BENCH_CONCURRENT").forall(_ != "0")
    val concurrent: Option[JObj] = Option.when(runConcurrent) {
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
      // contention adjudication: picks' rows/trigger-sec vs the SAME
      // run's sequential rates, flagged past the pools+1 bound
      val contentionRates = strmConc.asScala.toMap
      val contention = BenchAdjudicate.contentionDrops(
        seqStrmRates.view.filterKeys(strmPicks.contains).toMap,
        contentionRates, factor = nPools + 1.0)
      contention.foreach { case (k, (p, c)) =>
        System.err.println(f"[bench] CONCURRENT STREAMING DROP $k: $p%.0f -> $c%.0f rows/trigger-sec")
      }
      val strmBlock = JObj(strmPicks.map { name =>
        val seq = seqStrmRates.getOrElse(name, 0.0)
        val conc = contentionRates.getOrElse(name, 0.0)
        name -> obj("rate_concurrent" -> d3(conc), "rate_sequential" -> d3(seq),
          "ratio" -> d3(if (seq > 0) conc / seq else -1.0),
          "overlapped_batch_pools" -> JBool(strmOverlap.getOrDefault(name, false)))
      })
      obj("n_pools" -> JNum(nPools), "n_queries" -> JNum(names.size),
        "wall_sec" -> d3(wall), "sum_sec" -> d3(sumSec),
        "sequential_warm_batch_sec" -> d3(seqBatchWarm),
        "speedup_vs_sequential" -> d3(if (wall > 0) seqBatchWarm / wall else 0.0),
        "pool_wall_sec" -> JArr(poolSec.toSeq.map(d3)),
        "canary_before_sec" -> d3(cStart), "canary_after_sec" -> d3(cEnd),
        "slowest" -> nums(slow),
        "streaming" -> obj("queries" -> strmBlock,
          "drops" -> JObj(contention.toSeq.sortBy(_._1).map { case (k, (p, c)) =>
            k -> obj("rate_sequential" -> d3(p), "rate_concurrent" -> d3(c))
          })),
        "errors" -> JObj(cErrs.asScala.toSeq.sortBy(_._1).map { case (k, m) => k -> JStr(m) }))
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
    // batch vs streaming split: the ~15 streaming-gated queries measure
    // micro-batch harness setup (bounded MemoryStream feeds), not plan
    // cost — same-code runs swing seconds. Reporting them separately keeps
    // that jitter from masking a real regression in the batch total.
    val (strm, batch) = results.partition(r => SparkEntry.streamingQueries(r._1))
    val strmJson = JObj(strmStats.toSeq.sortBy(_._1).map { case (k, s) =>
      k -> JObj(Seq[(String, JValue)]("input_rows" -> JNum(s.inputRows.toDouble),
        "trigger_ms" -> JNum(s.triggerMs.toDouble),
        "rows_per_trigger_sec" -> d3(s.rowsPerTriggerSec)) ++
        priorStrmRates.get(k).toSeq.flatMap(p => ("prior_rows_per_trigger_sec" -> d3(p)) +:
          Option.when(s.rowsPerTriggerSec > 0)("prior_ratio" -> d3(p / s.rowsPerTriggerSec)).toSeq) ++
        strmRetry.get(k).map(r => "retry_rows_per_trigger_sec" -> d3(r)))
    })
    // drift block (r17, VERDICT r16 item 8): the session-wide canary
    // drift factor plus per-query warm speedups vs the prior artifact
    // AFTER dividing that factor out — so a uniformly slower session
    // reads as drift, not as 250 phantom per-query regressions. Purely
    // additional: raw warm/cold fields above are unchanged.
    val driftFields = canaryMid.map(m => "canary_mid_sec" -> d3(m)).toSeq ++
      BenchAdjudicate.sessionDrift(canaryBest, priorCanary).toSeq.flatMap { dr =>
        val adjWarm = results.map { case (k, (_, w, _)) =>
          k -> math.min(w, warmRetry.getOrElse(k, w)) }.toMap
        val corr = BenchAdjudicate.driftCorrected(adjWarm, priorWarm, dr)
        Seq("session_drift" -> d3(dr),
          "total_warm_drift_corrected" -> d3(totalWarmAdjudicated / math.max(dr, 1e-9)),
          "speedups_vs_prior_drift_corrected" -> nums(corr.toSeq.sortBy(_._1)))
      }
    val vsSf01 = Option.when(altArtifact) {
      // scale-ratio audit vs the canonical sf0.1 run: adjudicated warm
      // here over adjudicated-warm there. Data is 10x, so linear cost
      // is ratio 10; flag past 12 (linear + 20% margin) among queries
      // whose sf1 warm is above a 1 s constant-cost floor. Streaming
      // rungs are excluded (harness-dominated wall-clock).
      val sf01 = BenchAdjudicate.queriesWarm(Harness.readArtifact("BENCH_FULL.json"))
      val ratios = results.collect {
        case (k, (_, w, None))
            if !SparkEntry.streamingQueries(k) && sf01.get(k).exists(_ > 0.0) =>
          val adj = math.min(w, warmRetry.getOrElse(k, w))
          (k, adj, adj / sf01(k))
      }
      val superlin = ratios.filter { case (_, adj, r) => adj > 1.0 && r > 12.0 }
      obj("n_compared" -> JNum(ratios.size), "n_superlinear" -> JNum(superlin.size),
        "superlinear" -> JObj(superlin.sortBy(_._1).map { case (k, adj, r) =>
          k -> obj("warm_adjudicated" -> d3(adj), "ratio" -> d3(r)) }),
        "worst_ratios" -> nums(ratios.sortBy(-_._3).take(10).map { case (k, _, r) => k -> r }))
    }
    val full = JObj(Seq[(String, JValue)](
      "metric" -> JStr("total"), "value" -> d3(results.map(_._2._1).sum),
      "unit" -> JStr("sec"),
      "queries" -> nums(results.map { case (k, (c, _, _)) => k -> c }),
      "total_warm" -> d3(results.map(_._2._2).sum),
      "queries_warm" -> nums(results.map { case (k, (_, w, _)) => k -> w }),
      "total_warm_adjudicated" -> d3(totalWarmAdjudicated),
      "canary_start_sec" -> d3(canaryStart), "canary_end_sec" -> d3(canaryEnd),
      "canary_best_sec" -> d3(canaryBest)) ++
      priorCanary.map(p => "canary_prior_best_sec" -> d3(p)) ++
      Seq("ambient_pressure" -> d3(ambientPressure),
        "ambient_pressure_peak" -> d3(ambientPeak),
        "ambient_load_detected" -> JBool(ambientLoaded),
        "provisional" -> JBool(provisional),
        "prior_artifact" -> JStr(priorSrc), "host_fingerprint" -> JStr(hostFp)) ++
      Option.when(ambientLoaded)("note" -> JStr(f"canary shows $ambientPressure%.2fx ambient pressure - review total_warm_adjudicated, not total_warm")) ++
      Seq("total_batch" -> d3(batch.map(_._2._1).sum),
        "total_warm_batch" -> d3(batch.map(_._2._2).sum),
        "total_streaming" -> d3(strm.map(_._2._1).sum),
        "total_warm_streaming" -> d3(strm.map(_._2._2).sum),
        "n_streaming" -> JNum(strm.size),
        "warm_retry" -> nums(warmRetry.toSeq.sortBy(_._1)),
        "streaming_metrics" -> strmJson,
        "streaming_regressions" -> JObj(strmDrops.toSeq.sortBy(_._1).map { case (k, (p, c)) =>
          k -> obj("prior" -> d3(p), "current" -> d3(c)) })) ++
      concurrent.map("concurrent" -> _) ++
      q127Iters.map(n => "q127_cte_iterations" -> JNum(n)) ++
      Option.when(driftFields.nonEmpty)("drift" -> JObj(driftFields)) ++
      vsSf01.map("vs_sf01" -> _) ++
      Seq("errors" -> JObj(results.collect { case (k, (_, _, Some(m))) => k -> JStr(m) }),
        "sf" -> JStr(sfDir)))
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
    Harness.writeArtifact(artifact, full)
    // refresh the quiet-prior fallback: only full-suite runs on a quiet
    // box qualify (a subset run has too few queries to serve as a prior,
    // and an alternate-scale run must never become the sf0.1 prior)
    if (only.isEmpty && !provisional && !altArtifact)
      Harness.writeArtifact("BENCH_QUIET.json", full)
    println(full.render)
    println(summary(full, artifact).render)
    spark.stop()
  }

  /** Bench's last stdout line: the driver contract (metric/value/unit/
    * queries/sf) plus the headline totals, with the queries dict cut to
    * the slowest 20 by cold time so the line survives a 2000-char output
    * tail. `full` is the artifact Bench writes; `artifact` names its file.
    */
  def summary(full: JValue, artifact: String): JObj = {
    def copy(keys: String*): Seq[(String, JValue)] = keys.map(k => k -> full.obj(k))
    val qs = full.obj("queries").fields
    JObj(copy("metric", "value", "unit") ++
      Seq("queries" -> JObj(qs.sortBy(-_._2.num).take(20))) ++
      copy("total_warm", "total_warm_adjudicated", "total_warm_batch",
        "total_warm_streaming") ++
      Seq("n_queries" -> JNum(qs.size)) ++
      copy("canary_start_sec", "canary_end_sec", "ambient_pressure") ++
      Seq("n_streaming_regressions" -> JNum(full.obj("streaming_regressions").fields.size),
        "n_errors" -> JNum(full.obj("errors").fields.size),
        "queries_full" -> JStr(artifact)) ++
      copy("sf"))
  }
}
