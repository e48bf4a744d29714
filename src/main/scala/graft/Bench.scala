package graft
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
    // local-iteration filter (the driver never sets it): bench only the
    // named queries, e.g. SPARK_GRAFT_BENCH_ONLY=q73_dedup_components
    val only: Option[Set[String]] = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(Runner.names)
    // SPARK_GRAFT_BENCH_ARTIFACT names the artifact file, e.g.
    // BENCH_SF1_FULL.json for a full-suite pass at another scale factor.
    // Bench compares it with no other run: scale ratios are
    // LadderAdjudicate's job, cross-run comparison tools/bench_adjudicate.py's.
    val artifactEnv = sys.env.getOrElse("SPARK_GRAFT_BENCH_ARTIFACT", "BENCH_FULL.json")
    val strmStats = scala.collection.mutable.Map[String, Runner.Stream]()
    // every query runs once cold and Harness.WarmRuns times warm (the one
    // timing rule, Harness.time). "cold" includes per-plan codegen; the
    // warm median is the steady-state cost that scales with data volume.
    // The headline value stays Σ cold for round-over-round continuity.
    // a crashing query must not look like a normal bench number: the error
    // is captured per query and lands in BENCH_FULL.json (rc stays 0 — the
    // CORRECTNESS gate owns pass/fail; the artifact keeps the regression
    // visible)
    val results: Seq[(String, Harness.Timing)] = Runner.select(only).map { name =>
      System.err.println(s"[bench] start $name @${java.time.Instant.now()}")
      // a streaming query's steady-state metric is engine-side: wall-clock
      // around processAllAvailable measures stream start/stop + harness
      // setup (same-code runs swing 2x); triggerExecution per micro-batch
      // is the engine's own work and scales with fed rows. Every run feeds
      // the same batches — summing across them just widens the sample for
      // rows/sum(triggerExecution).
      val (t, stream) = Runner.timed(spark, name, sfDir)(_.count())
      stream.foreach(strmStats(name) = _)
      t.error.foreach(m => System.err.println(s"[bench] ERROR $name: $m"))
      System.err.println(f"[bench] done  $name cold ${t.cold}%.2f s warm " +
        t.warm.map(w => f"$w%.2f").mkString("/") + " s")
      name -> t
    }
    // a query whose cold run failed has no warm sample and no warm median
    val warmMedian: Seq[(String, Double)] =
      results.collect { case (k, t) if t.warm.nonEmpty => k -> t.median }
    val seqStrmRates: Map[String, Double] =
      strmStats.map { case (k, s) => k -> s.rate }.toMap
    // Concurrent-stream pass (VERDICT r14 item 8): a shared 100 TB
    // cluster runs mixed concurrent load, never one query at a time.
    // Four FAIR-scheduler pools each drain a deterministic shuffled
    // quarter of the BATCH queries (streaming stays out: its memory-
    // sink harness + listener attribution are single-stream by design,
    // and its wall-clock is harness-dominated anyway). Reported as a
    // SEPARATE artifact block — the sequential numbers above remain the
    // round-over-round record. Errors are recorded per query (rc stays
    // 0 — correctness is the gate's job).
    // fixed 3-decimal precision, like "%.3f"
    def d3(v: Double): JNum = fixed(v, 3)
    def nums(vs: Iterable[(String, Double)]): JObj =
      JObj(vs.map { case (k, v) => k -> d3(v) }.toSeq)
    val concurrent: Option[JObj] = Option.when(only.isEmpty) {
      val nPools = 4
      val names = Runner.select(None).filterNot(SparkEntry.streamingQueries)
      val assign = BenchAdjudicate.poolAssignment(names, nPools)
      graft.core.SessionHygiene.dropAllBlocks(spark)
      System.err.println(s"[bench] concurrent pass: $nPools pools, ${names.size} queries")
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
            val r = Runner.once(spark, name, sfDir, hygiene = false)(_.count())
            r.result.left.foreach(cErrs.put(name, _))
            perQ.put(name, r.seconds)
          }
          poolSec(p) = (System.nanoTime() - t0) / 1e9
        }, s"bench-pool-$p")
      }
      // Mixed batch+streaming contention (r16 — VERDICT r15 item 6): a
      // fifth pool drives three streaming queries — one per state-store
      // family — SEQUENTIALLY while the batch pools churn, so the
      // Runner's streaming attribution stays single-stream (batch jobs
      // emit no streaming progress events). No pool runs hygiene inside
      // its loop: dropping all blocks would evict concurrent batch
      // queries' cached data mid-flight.
      val strmPicks = BenchAdjudicate.ConcurrentStreamingPicks
        .filter(SparkEntry.queries.contains)
      val strmConc = new java.util.concurrent.ConcurrentHashMap[String, Double]()
      val strmOverlap = new java.util.concurrent.ConcurrentHashMap[String, Boolean]()
      val strmThread = new Thread(() => {
        spark.sparkContext.setLocalProperty("spark.scheduler.pool", "benchStrm")
        strmPicks.foreach { name =>
          Runner.once(spark, name, sfDir, hygiene = false)(_.count()) match {
            case Runner.Once(Left(e), _, _) => cErrs.put(name, e)
            case r =>
              r.stream.foreach(st => strmConc.put(name, st.rate))
              strmOverlap.put(name, threads.exists(_.isAlive))
          }
        }
      }, "bench-pool-strm")
      threads.foreach(_.start())
      strmThread.start()
      threads.foreach(_.join())
      strmThread.join()
      val wall = (System.nanoTime() - t0) / 1e9
      graft.core.SessionHygiene.dropAllBlocks(spark)
      import scala.jdk.CollectionConverters._
      val sumSec = perQ.values.asScala.sum
      // vs the sequential pass's batch warm medians: how much wall-clock
      // four mixed streams actually buy on this box
      val seqBatchWarm = warmMedian.filterNot(r => SparkEntry.streamingQueries(r._1)).map(_._2).sum
      val slow = perQ.asScala.toSeq.sortBy(-_._2).take(10)
      System.err.println(f"[bench] concurrent wall $wall%.1f s (sum $sumSec%.1f s, sequential warm $seqBatchWarm%.1f s)")
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
    def isStrm(r: (String, _)): Boolean = SparkEntry.streamingQueries(r._1)
    val strmJson = JObj(strmStats.toSeq.sortBy(_._1).map { case (k, s) =>
      k -> obj("input_rows" -> JNum(s.inputRows.toDouble),
        "trigger_ms" -> JNum(s.triggerMs.toDouble),
        "rows_per_trigger_sec" -> d3(s.rate))
    })
    val full = JObj(Seq[(String, JValue)](
      "metric" -> JStr("total"), "value" -> d3(results.map(_._2.cold).sum),
      "unit" -> JStr("sec"),
      "queries" -> nums(results.map { case (k, t) => k -> t.cold }),
      "total_warm" -> d3(warmMedian.map(_._2).sum),
      "queries_warm" -> nums(warmMedian),
      "queries_warm_iqr" -> nums(results.collect { case (k, t) if t.warm.nonEmpty => k -> t.iqr }),
      "warm_samples" -> JNum(Harness.WarmRuns),
      "host_fingerprint" -> JStr(BenchAdjudicate.hostFingerprint(cores)),
      "total_batch" -> d3(results.filterNot(isStrm).map(_._2.cold).sum),
      "total_warm_batch" -> d3(warmMedian.filterNot(isStrm).map(_._2).sum),
      "total_streaming" -> d3(results.filter(isStrm).map(_._2.cold).sum),
      "total_warm_streaming" -> d3(warmMedian.filter(isStrm).map(_._2).sum),
      "n_streaming" -> JNum(results.count(isStrm)),
      "streaming_metrics" -> strmJson) ++
      concurrent.map("concurrent" -> _) ++
      q127Iters.map(n => "q127_cte_iterations" -> JNum(n)) ++
      Seq("errors" -> JObj(results.collect { case (k, Harness.Timing(_, _, Some(m))) => k -> JStr(m) }),
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
      copy("total_warm", "total_warm_batch", "total_warm_streaming") ++
      Seq("n_queries" -> JNum(qs.size),
        "n_errors" -> JNum(full.obj("errors").fields.size),
        "queries_full" -> JStr(artifact)) ++
      copy("sf"))
  }
}
