package graft.core

/** Order-preserving parallel map for DRIVER-side metadata walks (r17).
  *
  * The layout-skipping queries walk every written bucket file's parquet
  * footer on the driver, sequentially — ~50-64 `ParquetFileReader.open`
  * calls at ~10-20 ms each was a full second of their warm time. The walk
  * is embarrassingly parallel and every consumer reduces the result with
  * order-independent aggregates, but the map is order-preserving anyway
  * (`Future.sequence`) so callers are bit-identical to the sequential
  * form. Bounded pool, created and torn down per call: this runs a
  * handful of times per query, never in a hot loop. The pool is torn down
  * with `shutdownNow`, so when one walk fails (or the await times out)
  * the walks still running are interrupted instead of left to finish.
  */
object Par {
  def mapOrdered[A, B](xs: Seq[A], maxThreads: Int = 16)(f: A => B): Seq[B] =
    if (xs.size <= 1) xs.map(f)
    else {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration._
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(maxThreads, xs.size))
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      try Await.result(Future.sequence(xs.map(x => Future(f(x)))), 10.minutes)
      finally pool.shutdownNow()
    }
}
