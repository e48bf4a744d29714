package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.types.DecimalType

/** One engine query: a Spark implementation plus (where SQL-expressible) an
  * equivalent ANSI-SQL oracle the driver runs in DuckDB over the same parquet
  * tables. Column names and ORDER BY must match exactly between the two.
  *
  * CALLER CONTRACT (ADVICE r16 #4): query bodies may persist intermediates
  * (`graft.core.Caching.materialize`) and deliberately do NOT unpersist —
  * the frames they return still reference those blocks lazily. A driver
  * that executes registry queries runs them through `graft.Runner`, which
  * calls `graft.core.SessionHygiene.dropAllBlocks` after each, or calls it
  * itself between queries; otherwise cached blocks accumulate across the
  * run.
  */
final case class Q(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String] = None,
    // true for queries that drive an actual StreamingQuery (MemoryStream +
    // processAllAvailable): their bench time is dominated by micro-batch
    // harness setup, not plan cost, so Bench reports them in a separate
    // total where their jitter can't mask a real batch regression
    streaming: Boolean = false,
    // gate-strength class (VERDICT r13 item 5) — what the green
    // CORRECTNESS row actually certifies:
    //  - GateClass.IndependentOracle (default): DuckDB RE-DERIVES the
    //    result from the raw parquet with independently written SQL;
    //  - GateClass.ConstructionInverse: the fixture was built by this
    //    repo's own encoder and the gate certifies decode ∘ encode = id
    //    (+ in-row error bounds / an external referee where one exists);
    //  - GateClass.SharedSqlText: both engines execute the SAME SQL text
    //    (engine-execution parity, e.g. a recursive CTE too intricate to
    //    re-derive) — the weakest class; each such gate must carry an
    //    independent invariant elsewhere (named in IMPLEMENTED.md).
    gate: String = GateClass.IndependentOracle)

object GateClass {
  val IndependentOracle = "independent-oracle"
  val ConstructionInverse = "construction-inverse"
  val SharedSqlText = "shared-sql-text"
  val all: Set[String] =
    Set(IndependentOracle, ConstructionInverse, SharedSqlText)
}

trait Registry {
  def entries: Seq[Q]
}

object Num {
  /** Exact-money cast: double → decimal(18,2). Spark's parallel double sums
    * are order-dependent (non-deterministic vs a single-threaded oracle at
    * 60k+ rows); decimal arithmetic is exact and associative, so aggregate
    * results hash-match DuckDB bit-for-bit at any parallelism / scale.
    */
  def dec2(c: Column): Column = c.cast(DecimalType(18, 2))
}
