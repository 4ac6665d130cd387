package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Bounded FIFO persist registry shared by the operator layer: each call
  * persists a FRESH projection over the caller's frame (never the caller's
  * object, so eviction cannot strip a persistence level the caller set)
  * and evicts only entries beyond the cap, so repeated operator calls in
  * one session keep storage bounded.
  *
  * Spark keys its cache on the canonical plan, so a call whose plan has
  * the same result as a live entry's is served by that entry and registers
  * nothing: registering it again would let the older entry's eviction
  * unpersist the cache the newer call relies on.
  *
  * Eviction of a not-yet-evaluated entry is safe: a recompute replays the
  * SAME plan over the same shuffle outputs, so results (including
  * spark_partition_id-derived columns, which always sit below the
  * persisted projection) are reproduced deterministically for
  * deterministic inputs — the operator layer's standing assumption.
  */
private[operators] final class OpCache(cap: Int) {
  private val cached = new java.util.ArrayDeque[DataFrame]()
  def apply(df: DataFrame): DataFrame = synchronized {
    val fresh = df.select(df.columns.map(col).toIndexedSeq: _*)
    val plan = fresh.queryExecution.analyzed
    if (!cached.stream().anyMatch(_.queryExecution.analyzed.sameResult(plan))) {
      cached.addLast(fresh)
      while (cached.size > cap) cached.pollFirst().unpersist(blocking = false)
      fresh.persist()
    }
    fresh
  }
}
