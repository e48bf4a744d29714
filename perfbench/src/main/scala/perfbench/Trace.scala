package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.StorageLevel

import graft.llm.{LlmClient, LlmClientFactory}

/** Benchmark-side spans around layer calls. Disabled, every method is a
  * pass-through, so untraced passes run the pipelines exactly as a caller
  * would. Enabled, `stage` persists and counts a Dataset so the layer that
  * produced it is charged for its execution.
  */
final class Tracer(val enabled: Boolean) {
  import Tracer._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private val persisted = mutable.ArrayBuffer.empty[Dataset[_]]

  def span[T](name: String, item: String = "")(body: => T): T =
    if (!enabled) body
    else {
      val id = spans.length
      spans += Span(id, name, stack.headOption.getOrElse(-1), item, System.nanoTime(), 0L)
      stack = id :: stack
      try body
      finally {
        stack = stack.tail
        spans(id) = spans(id).copy(endNs = System.nanoTime())
      }
    }

  def stage[T](name: String, item: String = "")(ds: => Dataset[T]): Dataset[T] =
    if (!enabled) ds
    else span(name, item) {
      val p = ds.persist(StorageLevel.MEMORY_AND_DISK)
      p.count()
      persisted += p
      p
    }

  /** Drop what `stage` persisted (blocking). */
  def unpersistAll(): Unit = { persisted.foreach(_.unpersist(true)); persisted.clear() }

  def all: Seq[Span] = spans.toVector
}

object Tracer {
  final case class Span(id: Int, name: String, parent: Int, item: String, startNs: Long, endNs: Long) {
    def seconds: Double = (endNs - startNs) / 1e9
    /** The layer a span is charged to: the first dotted component. */
    def layer: String = name.takeWhile(_ != '.')
  }

  /** Self time (own time minus children) summed per layer. */
  def selfSeconds(spans: Seq[Span]): Map[String, Double] = {
    val child = spans.filter(_.parent >= 0).groupBy(_.parent)
      .map { case (p, cs) => p -> cs.map(_.seconds).sum }
    spans.groupBy(_.layer).map { case (l, ss) =>
      l -> ss.map(s => s.seconds - child.getOrElse(s.id, 0.0)).sum
    }
  }
}

/** Client-side record of LLM calls made through a [[TracedFactory]]. The
  * session is local, so executor tasks run in this JVM and append here.
  */
object LlmCalls {
  /** One `generate` or `scoreCandidates` call and the content keys of the
    * HTTP requests it should have made.
    */
  final case class Call(kind: String, keys: Seq[String], startNs: Long, endNs: Long, ok: Boolean)

  private val calls = new ConcurrentLinkedQueue[Call]()
  def reset(): Unit = calls.clear()
  def all: Seq[Call] = calls.asScala.toVector
  private[perfbench] def add(c: Call): Unit = calls.add(c)
}

/** Wraps a client factory so every call is timed into [[LlmCalls]]. */
final case class TracedFactory(inner: LlmClientFactory) extends LlmClientFactory {
  override def create(): LlmClient = new LlmClient {
    private val c = inner.create()
    private def timed[T](kind: String, keys: Seq[String])(body: => T): T = {
      val t0 = System.nanoTime()
      var ok = false
      try { val r = body; ok = true; r }
      finally LlmCalls.add(LlmCalls.Call(kind, keys, t0, System.nanoTime(), ok))
    }
    override def generate(prompts: Seq[String]): Seq[String] =
      timed("generate", Seq(Stub.contentKey(prompts.mkString("\u0000"))))(c.generate(prompts))
    override def scoreCandidates(prompt: String, candidates: Seq[String]): Seq[(String, Double)] =
      timed("score", candidates.map(x => Stub.contentKey(prompt + x)))(
        c.scoreCandidates(prompt, candidates))
    override def close(): Unit = c.close()
  }
}

/** Spark-side counters for a traced pass, from the public listener APIs:
  * jobs, stages and task metrics from a `SparkListener`; the planning
  * phases of every query execution from a `QueryExecutionListener`.
  */
final class SparkTrace extends SparkListener with QueryExecutionListener {
  val jobs = new AtomicLong
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val taskNs = new AtomicLong
  val gcMs = new AtomicLong
  val inputBytes = new AtomicLong
  val shuffleBytes = new AtomicLong
  val spillBytes = new AtomicLong
  val executions = new AtomicLong
  private val phaseMs = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()
  private val drainStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
  private val drainJobs = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
  @volatile private var drainJobDone = false
  @volatile private var drainQueryDone = false

  private def tagged(p: java.util.Properties): Boolean =
    p != null && p.getProperty("spark.job.description") == SparkTrace.drainTag

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (tagged(e.properties)) drainJobs.add(e.jobId) else jobs.incrementAndGet()
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (drainJobs.contains(e.jobId)) drainJobDone = true
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    if (tagged(e.properties)) drainStages.add(e.stageInfo.stageId)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (!drainStages.contains(e.stageInfo.stageId)) stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (!drainStages.contains(e.stageId)) {
      tasks.incrementAndGet()
      if (m != null) {
        taskNs.addAndGet(m.executorRunTime * 1000000L)
        gcMs.addAndGet(m.jvmGCTime)
        inputBytes.addAndGet(m.inputMetrics.bytesRead)
        shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  private def record(qe: QueryExecution): Unit =
    if (qe.analyzed.output.exists(_.name == SparkTrace.drainTag)) drainQueryDone = true
    else {
      executions.incrementAndGet()
      qe.tracker.phases.foreach { case (phase, s) =>
        phaseMs.computeIfAbsent(phase, _ => new AtomicLong).addAndGet(s.durationMs)
      }
    }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)

  def phase(name: String): Long = Option(phaseMs.get(name)).map(_.get).getOrElse(0L)

  /** Listener events arrive asynchronously. Run a tagged query and then a
    * tagged job, and wait until the listeners have seen both, so every
    * earlier event is counted; tagged work itself is not.
    */
  def drain(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    sc.setJobDescription(SparkTrace.drainTag)
    try {
      spark.range(0, 1, 1, 1).toDF(SparkTrace.drainTag).collect()
      sc.parallelize(Seq(1), 1).count()
    } finally sc.setJobDescription(null)
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (!(drainJobDone && drainQueryDone) && System.nanoTime() < deadline) Thread.sleep(5)
  }
}

object SparkTrace {
  val drainTag = "perfbench_drain"

  def attach(spark: SparkSession): SparkTrace = {
    val t = new SparkTrace
    spark.sparkContext.addSparkListener(t)
    spark.listenerManager.register(t)
    t
  }

  def detach(spark: SparkSession, t: SparkTrace): Unit = {
    spark.sparkContext.removeSparkListener(t)
    spark.listenerManager.unregister(t)
  }
}
