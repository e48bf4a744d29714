package graft

/** The per-query protocol the harness mains share ([[Runner]]): the name
  * list, the error text, hygiene after a failed query and the streaming
  * attribution, on registry queries at sf0.001.
  */
class RunnerSpec extends SparkSpec {

  private val batch = "q12_setop_intersect"
  private val streaming = "q41_streaming_tumbling"

  test("names trims, drops empty entries and rejects unknown names or an empty list") {
    assert(Runner.names(s" $batch, ,$streaming ,") == Set(batch, streaming))
    val e = intercept[IllegalArgumentException](Runner.names(s"$batch,q0_nope"))
    assert(e.getMessage.contains("q0_nope"), e.getMessage)
    intercept[IllegalArgumentException](Runner.names(" , "))
  }

  test("select walks the registry in name order, restricted to the given names") {
    val all = Runner.select(None)
    assert(all == SparkEntry.queries.keys.toSeq.sorted)
    assert(Runner.select(Some(Set(streaming, batch))) == Seq(batch, streaming))
  }

  test("a query that fails gives the one error text and leaves no persisted RDD or cached plan") {
    val r = Runner.once(spark, batch, sfDir) { df =>
      df.persist().count()
      spark.range(10).cache().count()
      throw new IllegalStateException("boom " + "x" * 300)
    }
    assert(r.result == Left("IllegalStateException: " + ("boom " + "x" * 300).take(200)))
    assert(r.stream.isEmpty)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    assert(spark.sharedState.cacheManager.isEmpty)
    // a query over a directory with no tables fails the same way
    val missing = Runner.once(spark, batch, "/nonexistent/graft-runner-spec")(_.count())
    assert(missing.result.left.exists(_.matches("(?s)\\w+: .*")), missing.result)
    // Harness.time, under Runner.timed, reports the same text
    val (t, _) = Runner.timed(spark, batch, sfDir)(_ => throw new IllegalStateException("boom"))
    assert(t.error.contains("IllegalStateException: boom") && t.warm.isEmpty)
  }

  test("a streaming query reports its input rows; a batch query reports no stream") {
    val s = Runner.once(spark, streaming, sfDir)(_.count())
    assert(s.result.exists(_ > 0), s.result)
    assert(s.stream.exists(st => st.inputRows > 0 && st.triggerMs > 0 && st.rate > 0), s.stream)
    // Runner.timed sums a streaming query's totals over all of its runs,
    // and every run feeds the same rows
    val (ts, tStream) = Runner.timed(spark, streaming, sfDir)(_.count())
    assert(ts.error.isEmpty, ts.error)
    assert(tStream.map(_.inputRows) == s.stream.map(_.inputRows * (1 + Harness.WarmRuns)))
    val b = Runner.once(spark, batch, sfDir)(_.count())
    assert(b.result.isRight && b.stream.isEmpty)
    val (t, none) = Runner.timed(spark, batch, sfDir)(_.count())
    assert(t.error.isEmpty && t.warm.size == Harness.WarmRuns && none.isEmpty)
  }
}
