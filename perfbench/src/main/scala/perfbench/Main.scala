package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.WholeStageCodegenExec

import graft.core.SessionHygiene

/** Benchmark entry point: one workload, one seed, one run.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  *      --fixtures <dir> [--record-digests <file>]
  * }}}
  *
  * A run starts the session, sets the workload up several times (the median
  * counts as set-up time, with session start and the warm-up passes), then
  * runs checked passes for `--seconds`, and at least `Workload.minPasses`. With `--trace 1` it adds one traced
  * pass and reports per-layer metrics instead of end-to-end ones. The last
  * stdout line is the result object; the line before it carries the details
  * (provenance, sizes, sample counts, tails).
  */
object Main {

  final case class Opts(
      workload: String, seed: Long, seconds: Double, trace: Boolean, work: File,
      fixtures: File, recordDigests: Option[File])

  val setupReps = 3

  /** Layers that spans are charged to, for the self-time metrics. */
  val layers: Seq[String] = Seq("llm", "ops", "operators", "eval", "mapping", "queries", "core")

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") match {
        case "0" => false
        case "1" => true
        case v => throw new IllegalArgumentException(s"--trace must be 0 or 1, not $v")
      },
      new File(need("work")), new File(need("fixtures")), m.get("record-digests").map(new File(_)))
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    require(Workload.names.contains(o.workload),
      s"unknown workload '${o.workload}' (expected one of ${Workload.names.mkString(", ")})")
    System.setProperty("sun.net.httpserver.nodelay", "true")
    val code = try run(o) catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] run failed: $e")
        e.printStackTrace()
        2
    }
    System.exit(code)
  }

  private def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  private def secondsOf[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def run(o: Opts): Int = {
    val cores = Runtime.getRuntime.availableProcessors()
    o.work.mkdirs()
    val (spark, sessionS) = secondsOf {
      val s = Session.start(cores, o.work)
      log(f"session started")
      s.range(0, 1000, 1, cores).selectExpr("sum(id)").collect()
      s
    }
    log(f"session ready in $sessionS%.2f s")
    val (wl, fixtureS) = secondsOf(Workload(o.workload, spark, o.seed, o.fixtures))
    try {
      val prepareS = (1 to setupReps).map(_ => secondsOf(wl.prepare())._2)
      var attempted = 0L
      val failures = mutable.LinkedHashMap.empty[String, String]
      def onePass(t: Tracer): Double = {
        wl.stub.foreach(_.reset())
        LlmCalls.reset()
        val (failed, s) = secondsOf {
          val f = wl.pass(t)
          SessionHygiene.dropAllBlocks(spark)
          f
        }
        attempted += wl.items
        log(f"pass ${attempted / wl.items} (traced: ${t.enabled}) took $s%.3f s, ${failed.size} failed")
        failed.foreach { case (k, v) => failures.getOrElseUpdate(s"pass${attempted / wl.items}:$k", v) }
        s
      }
      val warmS = (1 to wl.warmupPasses).map(_ => onePass(new Tracer(false)))
      val setupS = sessionS + Stats.median(prepareS) + warmS.sum
      wl.reference(thorough = o.trace)

      val walls = mutable.ArrayBuffer.empty[Double]
      var lastRequests: Seq[Stub.Request] = Nil
      val t0 = System.nanoTime()
      while (walls.size < wl.minPasses || (System.nanoTime() - t0) / 1e9 < o.seconds) {
        walls += onePass(new Tracer(false))
        lastRequests = wl.stub.map(_.requests).getOrElse(Nil)
      }
      val rssMb = vmHwmKb() / 1024.0
      val wall = Stats.summary(walls.toSeq)

      val layer = if (o.trace) Some(tracedPass(spark, wl, onePass, wall.median, cores, o)) else None
      o.recordDigests.foreach { f =>
        wl match {
          case r: RegistryWorkload => Files.write(f.toPath, r.digests.getBytes(StandardCharsets.UTF_8))
          case _ =>
        }
      }

      val failed = failures.size.toLong
      val perCase = (n: Long) => if (lastRequests.isEmpty) 0.0 else n.toDouble / wl.items
      val e2e = Seq(
        ("setup_s", setupS, "s"),
        ("wall_s", wall.median, "s"),
        ("cases_per_s", wl.items / wall.median, "cases/s"),
        ("peak_rss_mb", rssMb, "MB"))
      val metrics = layer.getOrElse(e2e.map { case (k, v, u) => k -> (v, u) })
      val detail = Json.obj(
        "workload" -> o.workload, "seed" -> o.seed, "trace" -> o.trace,
        "provenance" -> Json.obj(
          "nproc" -> cores,
          "spark_master" -> spark.sparkContext.master,
          "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}",
          "heap_max_mb" -> Runtime.getRuntime.maxMemory() / (1024 * 1024),
          "spark" -> spark.version),
        "sizes" -> Json.obj(wl.sizes: _*),
        "setup" -> Json.obj("session_s" -> sessionS, "fixture_s" -> fixtureS,
          "prepare_s" -> prepareS, "warmup_s" -> warmS),
        "wall_s" -> Json.obj("n" -> wall.n, "median" -> wall.median,
          "tail" -> wall.tail.map { case (p, v) => Json.obj("percentile" -> p, "value" -> v) },
          "samples" -> walls.toSeq),
        "failed_frac" -> (if (attempted == 0) 0.0 else failed.toDouble / attempted),
        "llm_requests_per_case" -> perCase(lastRequests.size),
        "llm_prompt_tokens_per_case" -> perCase(lastRequests.map(_.tokens.toLong).sum),
        "failures" -> failures.take(5).map { case (k, v) => s"$k: ${v.take(300)}" }.toSeq)
      println(Json.obj("detail" -> detail))
      println(Json.obj(
        "correct" -> failures.isEmpty,
        "attempted" -> attempted,
        "failed" -> failed,
        "metrics" -> Json.obj(metrics.map { case (k, (v, u)) => k -> Json.obj("value" -> v, "unit" -> u) }: _*)))
      if (failures.isEmpty) 0 else 1
    } finally {
      wl.close()
      spark.stop()
    }
  }

  /** One traced pass: listeners, client-call timing, spans and stage
    * materialization on. Returns every per-layer metric.
    */
  private def tracedPass(
      spark: SparkSession, wl: Workload, onePass: Tracer => Double, untracedWall: Double,
      cores: Int, o: Opts): Seq[(String, (Double, String))] = {
    val sc = spark.sparkContext
    val st = SparkTrace.attach(spark)
    val gc0 = gcMillis()
    val cg0 = WholeStageCodegenExec.codeGenTime
    @volatile var sampling = true
    var cachedPeak = 0L
    val sampler = new Thread(() => {
      while (sampling) {
        val used = sc.getExecutorMemoryStatus.values.map { case (mx, free) => mx - free }.sum
        cachedPeak = math.max(cachedPeak, used)
        Thread.sleep(20)
      }
    })
    sampler.setDaemon(true)
    sampler.start()
    val t = new Tracer(true)
    val passStart = System.nanoTime()
    val tracedWall = try onePass(t) finally {
      sampling = false
      sampler.join()
    }
    val passEnd = passStart + (tracedWall * 1e9).toLong
    st.drain(spark)
    SparkTrace.detach(spark, st)
    t.unpersistAll()
    val gcS = (gcMillis() - gc0) / 1000.0
    val codegenMs = (WholeStageCodegenExec.codeGenTime - cg0) / 1e6

    val spans = t.all
    writeTrace(o, spans, wl.stub.map(_.requests).getOrElse(Nil), passStart)
    def spanS(name: String): Double = spans.filter(_.name == name).map(_.seconds).sum
    val self = Tracer.selfSeconds(spans)
    val rootS = spans.filter(_.parent < 0).map(_.seconds).sum

    val reqs = wl.stub.map(_.requests).getOrElse(Nil)
    val calls = LlmCalls.all
    val callMs = calls.map(c => (c.endNs - c.startNs) / 1e6)
    val byKey = reqs.groupBy(_.key)
    val overheadMs = calls.map { c =>
      (c.endNs - c.startNs) / 1e6 - c.keys.distinct.flatMap(byKey.getOrElse(_, Nil)).map(_.serviceNs).sum / 1e6
    }
    val busyNs = reqs.map(r => r.finishNs - r.arrivalNs).sum
    val retryWaitS = byKey.values.map { rs =>
      rs.sortBy(_.arrivalNs).sliding(2).collect { case Seq(a, b) => (b.arrivalNs - a.finishNs) / 1e9 }.sum
    }.sum
    val passNs = math.max(1L, passEnd - passStart)
    val items = wl.items.toDouble
    def p50(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    def tail(xs: Seq[Double]) =
      Stats.supportedPercentile(xs.size).map(Stats.percentile(xs, _)).getOrElse(if (xs.isEmpty) 0.0 else xs.max)
    val wm = wl.layerMetrics

    Seq(
      "llm.calls" -> (calls.size.toDouble, "count"),
      "llm.requests" -> (reqs.size.toDouble, "count"),
      "llm.prompts_per_request" -> (if (reqs.isEmpty) 0.0 else reqs.map(_.prompts).sum.toDouble / reqs.size, "prompts/req"),
      "llm.requests_per_case" -> (reqs.size / items, "req/case"),
      "llm.prompt_tokens_per_case" -> (reqs.map(_.tokens.toLong).sum / items, "tokens/case"),
      "llm.call_ms.p50" -> (p50(callMs), "ms"),
      "llm.call_ms.tail" -> (tail(callMs), "ms"),
      "llm.service_ms.p50" -> (p50(reqs.filter(_.status == 200).map(_.serviceNs / 1e6)), "ms"),
      "llm.overhead_ms.p50" -> (p50(overheadMs), "ms"),
      "llm.inflight_mean" -> (busyNs.toDouble / passNs, "requests"),
      "llm.idle_frac" -> (1.0 - covered(reqs.map(r => (r.arrivalNs, r.finishNs))).toDouble / passNs, "ratio"),
      "llm.attempts_per_request" -> (if (byKey.isEmpty) 0.0 else reqs.size.toDouble / byKey.size, "attempts/req"),
      "llm.retry_wait_s" -> (retryWaitS, "s"),
      "llm.failed_calls" -> (calls.count(!_.ok).toDouble, "count"),
      "ops.render_s" -> (spanS("ops.render"), "s"),
      "ops.parse_s" -> (spanS("ops.parse"), "s"),
      "ops.parse_empty_frac" -> (wm.getOrElse("ops.parse_empty_frac", 0.0), "ratio"),
      "ops.ensemble_s" -> (spanS("ops.ensemble"), "s"),
      "operators.stable_match_s" -> (spanS("operators.stable_match"), "s"),
      "eval.metrics_s" -> (spanS("eval.metrics"), "s"),
      "mapping.statements_run" -> (wm.getOrElse("mapping.statements_run", 0.0), "count"),
      "mapping.statements_dropped" -> (wm.getOrElse("mapping.statements_dropped", 0.0), "count"),
      "mapping.execute_s" -> (wm.getOrElse("mapping.execute_s", 0.0), "s"),
      "mapping.execute_failed" -> (wm.getOrElse("mapping.execute_failed", 0.0), "count"),
      "mapping.register_s" -> (wm.getOrElse("mapping.register_s", 0.0), "s"),
      "mapping.overlap_s" -> (wm.getOrElse("mapping.overlap_s", 0.0), "s"),
      "mapping.audit_s" -> (wm.getOrElse("mapping.audit_s", 0.0), "s"),
      "spark.analysis_ms" -> (st.phase("analysis").toDouble, "ms"),
      "spark.optimization_ms" -> (st.phase("optimization").toDouble, "ms"),
      "spark.planning_ms" -> (st.phase("planning").toDouble, "ms"),
      "spark.codegen_ms" -> (codegenMs, "ms"),
      "spark.query_executions" -> (st.executions.get.toDouble, "count"),
      "spark.jobs" -> (st.jobs.get.toDouble, "count"),
      "spark.stages" -> (st.stages.get.toDouble, "count"),
      "spark.tasks" -> (st.tasks.get.toDouble, "count"),
      "spark.task_s" -> (st.taskNs.get / 1e9, "s"),
      "spark.core_busy_frac" -> (st.taskNs.get.toDouble / (passNs.toDouble * cores), "ratio"),
      "spark.gc_s" -> (gcS, "s"),
      "spark.input_bytes" -> (st.inputBytes.get.toDouble, "bytes"),
      "spark.shuffle_bytes" -> (st.shuffleBytes.get.toDouble, "bytes"),
      "spark.spill_bytes" -> (st.spillBytes.get.toDouble, "bytes"),
      "core.cached_bytes_peak" -> (cachedPeak.toDouble, "bytes"),
      "core.hygiene_s" -> (spanS("core.hygiene"), "s")) ++
      RegistryWorkload.queries.map(q => s"queries.${q.takeWhile(_ != '_')}_s" -> (spanS(s"queries.$q"), "s")) ++
      Seq(
        "trace.wall_s" -> (tracedWall, "s"),
        "trace.overhead_s" -> (tracedWall - untracedWall, "s")) ++
      layers.map(l => s"self.${l}_s" -> (self.getOrElse(l, 0.0), "s")) ++
      Seq("self.unattributed_s" -> (tracedWall - rootS, "s"))
  }

  /** Total length of the union of [start, end) intervals. */
  def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  private def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  /** Peak resident set size (VmHWM) of this process, in KiB. */
  def vmHwmKb(): Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)

  /** Spans and the stub's request log of the traced pass, as TSV files
    * under the run's `trace` directory (times relative to the pass start).
    */
  private def writeTrace(o: Opts, spans: Seq[Tracer.Span], reqs: Seq[Stub.Request], t0: Long): Unit = {
    val dir = new File(o.fixtures.getParentFile, "traces")
    dir.mkdirs()
    val base = s"${o.workload}-seed${o.seed}"
    def ms(ns: Long) = f"${(ns - t0) / 1e6}%.3f"
    Files.write(new File(dir, s"$base.spans.tsv").toPath,
      ("id\tparent\tname\titem\tstart_ms\tend_ms\n" + spans.map(s =>
        s"${s.id}\t${s.parent}\t${s.name}\t${s.item}\t${ms(s.startNs)}\t${ms(s.endNs)}").mkString("\n"))
        .getBytes(StandardCharsets.UTF_8))
    Files.write(new File(dir, s"$base.requests.tsv").toPath,
      ("key\tarrival_ms\tfinish_ms\tstatus\tbytes_in\tbytes_out\tprompts\ttokens\tservice_ms\n" +
        reqs.map(r => s"${r.key}\t${ms(r.arrivalNs)}\t${ms(r.finishNs)}\t${r.status}\t${r.bytesIn}\t" +
          s"${r.bytesOut}\t${r.prompts}\t${r.tokens}\t${r.serviceNs / 1e6}").mkString("\n"))
        .getBytes(StandardCharsets.UTF_8))
  }
}

/** Minimal JSON rendering for the result lines. */
object Json {
  final case class Obj(fields: Seq[(String, Any)]) {
    override def toString: String = render(this)
  }
  def obj(fields: (String, Any)*): Obj = Obj(fields)

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case Obj(fs) => fs.map { case (k, x) => quote(k) + ":" + render(x) }.mkString("{", ",", "}")
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
}
