package graft

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Micro-batch progress capture for the streaming totals `graft.Runner`
  * attributes to each query (Bench's steady-state metric, the streaming
  * ladder's rungs).
  *
  * Registered via `spark.sql.streaming.streamingQueryListeners` (zero-arg
  * constructor required) so every session — including the child sessions
  * the streaming gate queries build via `StreamingOps.streamSession` —
  * instantiates one and reports into the shared static buffer. A listener
  * added with `spark.streams.addListener` on the parent would miss child
  * sessions entirely: each SessionState owns its own
  * StreamingQueryManager, and progress events are filtered per-session.
  *
  * Wall-clock around `processAllAvailable` measures stream start/stop +
  * harness setup (same-code runs swing 2x); `triggerExecution` per
  * micro-batch is the engine's own work and is what actually scales with
  * fed rows — so the Runner reports rows / sum(triggerExecution) as the
  * steady-state throughput for streaming queries.
  */
final class BenchListener extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val trig = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
    // state-store footprint across this batch's stateful operators — the
    // quantity the streaming ladder gates at scaled feeds (r14 item 4:
    // state must grow with KEYS, not rows, for keyed-state queries)
    var stRows = 0L
    var stBytes = 0L
    p.stateOperators.foreach { so =>
      stRows += so.numRowsTotal
      stBytes += so.memoryUsedBytes
    }
    BenchListener.buf.add(BenchListener.Batch(p.runId.toString, p.batchId,
      p.numInputRows, trig, stRows, stBytes))
    // the static-conf registration reaches EVERY graft session — test
    // JVMs feed this buffer too but never drain it, so cap it: evict
    // oldest past MaxBuffered (the Runner drains per streaming query, far
    // below it)
    while (BenchListener.buf.size > BenchListener.MaxBuffered)
      BenchListener.buf.poll()
  }
}

object BenchListener {
  final case class Batch(runId: String, batchId: Long, inputRows: Long,
      triggerMs: Long, stateRows: Long = 0L, stateBytes: Long = 0L)

  /** Upper bound on buffered micro-batch records in JVMs that never
    * drain (tests): ~64 B each, so the cap is a few MB worst case
    * instead of unbounded growth for the life of the process.
    */
  val MaxBuffered = 65536

  val buf = new ConcurrentLinkedQueue[Batch]()

  /** Drain and return everything captured so far (events arrive async —
    * callers poll [[quiesce]] first).
    */
  def drain(): Seq[Batch] = {
    val out = Vector.newBuilder[Batch]
    var b = buf.poll()
    while (b != null) { out += b; b = buf.poll() }
    out.result()
  }

  /** Wait until no new events arrive for `settleMs` (listener delivery is
    * async relative to `processAllAvailable` returning).
    */
  def quiesce(settleMs: Long = 300, maxMs: Long = 3000): Unit = {
    val deadline = System.nanoTime() + maxMs * 1000000L
    var last = buf.size()
    var stableSince = System.nanoTime()
    while (System.nanoTime() < deadline &&
        (System.nanoTime() - stableSince) < settleMs * 1000000L) {
      Thread.sleep(50)
      val n = buf.size()
      if (n != last) { last = n; stableSince = System.nanoTime() }
    }
  }
}
