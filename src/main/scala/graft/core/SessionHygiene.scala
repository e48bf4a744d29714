package graft.core

import org.apache.spark.sql.SparkSession

/** Between-query session cleanup. `graft.Runner` runs it after each
  * query of the harness mains, after all of a timed query's samples,
  * and Bench around its concurrent pass: several queries persist/localCheckpoint
  * reused subplans and a single long session never frees them — ~100
  * queries of accumulated blocks put the tail of a run under storage + GC
  * pressure (round-4 bench measured 143 s for the final query vs 5.7 s in
  * isolation). Blocking unpersist so storage is actually free before the
  * next query starts.
  */
object SessionHygiene {
  def dropAllBlocks(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
  }
}
