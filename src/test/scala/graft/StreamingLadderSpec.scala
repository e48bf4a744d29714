package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.llm.MiniJson._

class StreamingLadderSpec extends AnyFunSuite {

  private val artifact = """{"metric":"sf_ladder_adjudicated","n_rungs":2,
    "rungs":{"q22":{"x1":1.0,"x100":2.0,"ratio":2.0}},
    "streaming_ladder":{"protocol":"p","feed_scaled":20000,
      "rungs":{"q41_streaming_tumbling":{"rate_base":3300.0,"rate_scaled":2900.0,"ratio":1.138},
               "q132_streaming_outer_nulls":{"rate_base":325.0,"rate_scaled":120.0,"ratio":2.708}},
      "regressions":{}},
    "rung_regressions":{}}"""

  test("withStreamingBlock replaces the streaming_ladder block idempotently, appends it when absent") {
    val block = parse(artifact).obj("streaming_ladder")
    assert(block.obj("rungs").get("q41_streaming_tumbling").nonEmpty &&
      block.get("regressions").nonEmpty)
    assert(parse(artifact).get("absent_key").isEmpty)
    // replace: the new block wins, the old one is gone, JSON stays valid
    val empty = parse("""{"rungs":{},"regressions":{}}""")
    val replaced = StreamingLadder.withStreamingBlock(parse(artifact), empty).render
    assert(!replaced.contains("q41_streaming_tumbling"))
    assert(parse(replaced).obj("streaming_ladder") == empty)
    assert(StreamingLadder.withStreamingBlock(parse(replaced), empty).render == replaced)
    // append: adding to an artifact without the block keeps other keys
    val bare = parse("""{"a":1,"rungs":{"q22":{"x1":1.0}}}""")
    val appended = StreamingLadder.withStreamingBlock(bare, parse("""{"x":{}}""")).render
    assert(appended.contains(""""a":1""") && appended.contains(""""q22""""))
    assert(parse(appended).obj("streaming_ladder") == parse("""{"x":{}}"""))
  }

  test("parsePrior reads (rate_base, rate_scaled) per query") {
    val p = StreamingLadder.parsePrior(parse(artifact))
    assert(p("q41_streaming_tumbling") == (3300.0, 2900.0))
    assert(p("q132_streaming_outer_nulls") == (325.0, 120.0))
    assert(StreamingLadder.parsePrior(parse("{}")).isEmpty)
  }

  test("regressions: flags a real per-row collapse, not base-side speedups or jitter") {
    val prior = Map("qa" -> (1000.0, 800.0), "qb" -> (1000.0, 800.0),
      "qc" -> (1000.0, 800.0))
    val cur = Map(
      // scaled rate collapsed 800→200 with base flat: ratio 1.25→5 > 2×: flag
      "qa" -> (1000.0, 200.0),
      // base got 3× FASTER, scaled unchanged: ratio tripled but the scaled
      // rate did not fall — a speedup, never flagged
      "qb" -> (3000.0, 800.0),
      // mild drift inside 2×: not flagged
      "qc" -> (1000.0, 500.0))
    val r = StreamingLadder.regressions(prior, cur)
    assert(r.keySet == Set("qa"), s"got $r")
    assert(math.abs(r("qa")._1 - 1.25) < 1e-9 && math.abs(r("qa")._2 - 5.0) < 1e-9)
    // no prior / zero rates: never flagged
    assert(StreamingLadder.regressions(Map.empty, cur).isEmpty)
    assert(StreamingLadder.regressions(
      Map("qa" -> (0.0, 0.0)), Map("qa" -> (1.0, 0.0))).isEmpty)
  }

  test("LadderAdjudicate-style rewrite carries the streaming block through withStreamingBlock") {
    // simulate: batch writer produces fresh text, then re-attaches the
    // block extracted from the previous artifact
    val fresh = parse("""{"metric":"sf_ladder_adjudicated","rungs":{"q22":{"x1":1.1}}}""")
    val carried = parse(artifact).get("streaming_ladder")
      .map(b => StreamingLadder.withStreamingBlock(fresh, b).render).get
    assert(carried.contains("q41_streaming_tumbling") &&
      carried.contains(""""q22":{"x1":1.1}"""))
  }

  test("state gate: keyed-state growth past 8x flags; row-buffering " +
      "queries and small-floor states are exempt") {
    val r10 = Map("q41_streaming_tumbling" -> 100L, "q77_streaming_dedup" -> 2000L,
      "q119_streaming_interval_join" -> 1000L, "q255_streaming_hll" -> 10L)
    val r100 = Map(
      "q41_streaming_tumbling" -> 300L, // 3x: fine
      "q77_streaming_dedup" -> 40000L, // 20x: keyed state tracking rows -> flag
      "q119_streaming_interval_join" -> 10000L, // 10x but row-buffering: exempt
      "q255_streaming_hll" -> 400L) // 40x but under the 64-row floor*8: exempt
    val regs = StreamingLadder.stateRegressions(r10, r100)
    assert(regs.keySet == Set("q77_streaming_dedup"), s"got $regs")
    assert(regs("q77_streaming_dedup") == (2000L, 40000L))
    // row-buffering set only names registered streaming queries
    assert(StreamingLadder.RowBufferingQueries.subsetOf(SparkEntry.streamingQueries))
  }

  test("row-buffering bound: observed state past 2x the feed-derived " +
      "expectation flags; within-bound and unknown rungs do not") {
    val expected = Map(
      "q119_streaming_interval_join" -> 1000L,
      "q132_streaming_outer_nulls" -> 1000L,
      "q220_tws_replay_buffer" -> 400L)
    val actual = Map(
      "q119_streaming_interval_join" -> 1900L, // 1.9x: inside the gate
      "q132_streaming_outer_nulls" -> 9500L, // synthetic leak: no eviction
      "q220_tws_replay_buffer" -> 401L, // ~exact
      "q_unknown" -> 999999L) // no expectation -> not gated
    val regs = StreamingLadder.bufferRegressions(expected, actual)
    assert(regs.keySet == Set("q132_streaming_outer_nulls"), s"got $regs")
    assert(regs("q132_streaming_outer_nulls") == (1000L, 9500L))
    // a zero/absent expectation never divides or flags
    assert(StreamingLadder.bufferRegressions(Map("q" -> 0L), Map("q" -> 5L)).isEmpty)
  }

  test("expectedBufferRows derives interval-join and replay bounds " +
      "from the sf0.001 feed (every row-buffering rung covered)") {
    val spark = SparkSpec.spark
    val exp = StreamingLadder.expectedBufferRows(spark,
      "/root/testdata/sf0.001", 2000)
    assert(StreamingLadder.RowBufferingQueries.forall(exp.contains))
    // interval joins: at least the batch-1 residue (half the pc feed),
    // never more than the whole feed plus slack
    val pcN = graft.core.Tables(spark, "/root/testdata/sf0.001", "events")
      .filter(org.apache.spark.sql.functions.col("event_type")
        .isin("purchase", "click")).limit(2000).count()
    val ivj = exp("q119_streaming_interval_join")
    assert(ivj >= pcN / 2 && ivj <= pcN, s"ivj=$ivj pcN=$pcN")
    assert(exp("q119_streaming_interval_join") ==
      exp("q132_streaming_outer_nulls"))
    // replay buffer: exactly 2 state rows per distinct user
    val users = graft.core.Tables(spark, "/root/testdata/sf0.001", "events")
      .orderBy("ts", "event_id").limit(2000)
      .select(org.apache.spark.sql.functions.countDistinct("user_id"))
      .head().getLong(0)
    assert(exp("q220_tws_replay_buffer") == 2 * users)
  }

  test("streaming feed knob: default 2000, override is scoped to the thread") {
    import graft.streaming.StreamingOps
    assert(StreamingOps.feedLimit == 2000)
    // the ADVICE r14 footgun: a PRE-EXISTING thread (a concurrent query's
    // planner) must not see a ladder measurement's override. Threads
    // created inside the scope DO inherit (DynamicVariable is an
    // InheritableThreadLocal) — that is wanted, planning helpers spawned
    // by the measured query keep the value.
    val pool = java.util.concurrent.Executors.newSingleThreadExecutor()
    try {
      pool.submit(new Runnable { def run(): Unit = () }).get() // pre-create
      StreamingOps.withFeedLimit(Some(20000)) {
        assert(StreamingOps.feedLimit == 20000)
        val other = pool.submit(new java.util.concurrent.Callable[Int] {
          def call(): Int = StreamingOps.feedLimit
        }).get()
        assert(other == 2000)
      }
    } finally pool.shutdown()
    assert(StreamingOps.feedLimit == 2000)
  }
}
