package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one per-query protocol of the harness mains (Bench, Verify,
  * Explain, LadderAdjudicate, StreamingLadder): which queries run and in
  * what order, one query's run with its error captured as text, the
  * streaming progress it made (through [[BenchListener]]), and the
  * session's blocks dropped after it (`SessionHygiene`).
  *
  * [[once]] runs a query's action once; [[timed]] runs it under
  * [[Harness.time]]. Both share one scope: the listener's buffer is
  * drained before the query and read after it, and hygiene runs after
  * the last run. None of that is inside a timed run.
  */
object Runner {

  /** Micro-batch totals of one streaming query's runs: input rows and
    * summed `triggerExecution` ms, and the largest state-store footprint
    * any batch reported.
    */
  final case class Stream(inputRows: Long, triggerMs: Long, stateRows: Long, stateBytes: Long) {

    /** Input rows per second of the engine's own trigger work. */
    def rate: Double = if (triggerMs <= 0) 0.0 else inputRows * 1000.0 / triggerMs
  }

  /** One run: the action's value or the error text, the seconds it took
    * (building the query and its action), and its streaming totals.
    */
  final case class Once[T](result: Either[String, T], seconds: Double, stream: Option[Stream])

  /** The one error text of a failed query: class name and the first 200
    * characters of its message.
    */
  def errorText(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}"

  /** A comma-separated list of query names: entries trimmed and empty ones
    * dropped. An empty list or a name the registry does not have stops the
    * run, since it would otherwise run nothing and read as a pass.
    */
  def names(csv: String): Set[String] = {
    val ns = csv.split(",").map(_.trim).filter(_.nonEmpty).toSet
    require(ns.nonEmpty, s"no query names in '$csv'")
    SparkEntry.requireKnown(ns)
    ns
  }

  /** Registry names in sorted order, restricted to `only` when given.
    * Sorted, so a query's predecessors (and any state they leave in the
    * JVM) are the same in every run.
    */
  def select(only: Option[Set[String]]): Seq[String] =
    registry.keys.toSeq.sorted.filter(n => only.forall(_.contains(n)))

  /** Runs query `name` over `dir` once and applies `action` to its frame.
    * `hygiene = false` keeps every cached block, for runs that share the
    * session with concurrent queries.
    */
  def once[T](spark: SparkSession, name: String, dir: String, hygiene: Boolean = true)(
      action: DataFrame => T): Once[T] = {
    val fn = registry(name)
    val ((result, seconds), stream) = scope(spark, name, hygiene) {
      val t0 = System.nanoTime()
      val r = try Right(action(fn(spark, dir))) catch { case e: Throwable => Left(errorText(e)) }
      (r, (System.nanoTime() - t0) / 1e9)
    }
    Once(result, seconds, stream)
  }

  /** Times query `name` over `dir` with [[Harness.time]]. A streaming
    * query's totals are summed over all of its runs.
    */
  def timed(spark: SparkSession, name: String, dir: String)(
      action: DataFrame => Unit): (Harness.Timing, Option[Stream]) = {
    val fn = registry(name)
    scope(spark, name, hygiene = true)(Harness.time(() => action(fn(spark, dir))))
  }

  private lazy val registry = SparkEntry.queries
  private lazy val streamingNames = SparkEntry.streamingQueries

  /** Runs `body`, attributing a streaming query's micro-batches to it, and
    * drops the session's blocks afterwards when `hygiene` is set.
    */
  private def scope[T](spark: SparkSession, name: String, hygiene: Boolean)(
      body: => T): (T, Option[Stream]) = {
    val streaming = streamingNames(name)
    // listener delivery is asynchronous: let a previous query's events
    // arrive, then discard them
    if (streaming) { BenchListener.quiesce(); BenchListener.drain() }
    val out = body
    val stream = Option.when(streaming) {
      BenchListener.quiesce()
      val bs = BenchListener.drain()
      def most(f: BenchListener.Batch => Long) = if (bs.isEmpty) 0L else bs.map(f).max
      Stream(bs.map(_.inputRows).sum, bs.map(_.triggerMs).sum, most(_.stateRows), most(_.stateBytes))
    }
    if (hygiene) graft.core.SessionHygiene.dropAllBlocks(spark)
    (out, stream)
  }
}
