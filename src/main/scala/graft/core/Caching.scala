package graft.core

import org.apache.spark.sql.DataFrame

/** In-query eager persist shared by the query registries (r17, ADVICE r16:
  * TextQueries and SketchQueries carried diverging private copies — the
  * SketchQueries one silently omitted the storage-level assertion).
  *
  * The contract: the persist lives INSIDE one query's timed region — every
  * caller's blocks are dropped by [[SessionHygiene.dropAllBlocks]] between
  * queries run through `graft.Runner`, so nothing is ever cached across
  * runs. Callers outside the Runner must run SessionHygiene themselves or
  * blocks accumulate (documented at Registry).
  */
object Caching {
  def materialize(df: DataFrame): DataFrame = {
    val p = df.persist()
    p.count()
    // A13 driver-visible cache assertion: if persist() ever degrades to
    // StorageLevel.NONE the gated query itself fails instead of silently
    // recomputing the subplan per consumer.
    require(p.storageLevel.useMemory || p.storageLevel.useDisk,
      "experiment cache inactive: persist() registered no storage level")
    p
  }
}
