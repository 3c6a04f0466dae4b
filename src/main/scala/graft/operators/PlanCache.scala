package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** In-query persist of a subtree several plan branches share — the
  * guide-§5 trade ("caching is only worth it when a DataFrame is reused
  * AND recomputing it is more expensive than the memory pressure"):
  * Catalyst performs no common-subtree elimination across DataFrame
  * branches, so e.g. [[Dedup.jaccardSimilarityJoin]]'s shingle-set frame
  * was scanned SIX times per execution, each scan re-running the
  * md5-per-shingle kernel (and the pushed size/notNull filters evaluated
  * it twice more inside each scan). Pinning the shared frame turns that
  * into one kernel pass plus cache reads.
  *
  * Values are unchanged — the pinned frame is deterministic, and a lost
  * block simply recomputes. Harnesses release every pin between queries
  * via [[GlobalOps.releaseSnapshots]]; library callers that execute a
  * returned plan later simply pay a recompute on a released pin — never
  * a wrong answer.
  *
  * Library use WITHOUT a harness (ADVICE r21): pins accumulate until
  * `GlobalOps.releaseSnapshots()` or session end — a long-running
  * embedder process should call the release between logical batches
  * (after the consuming actions finish), or disable pinning wholesale
  * via SPARK_GRAFT_NO_PINS=1; both are safe because a released pin only
  * ever costs a recompute. Pins deliberately wrap INTERNAL projections,
  * never caller-supplied frames, so a release can't unpersist a cache
  * entry the caller created and still depends on. */
object PlanCache {

  /** Diagnostic kill-switch (A/B tool, not a tuning knob): with
    * SPARK_GRAFT_NO_PINS=1 every pin is a no-op, so pinned-vs-unpinned
    * can be measured from ONE build in two JVMs — results are identical
    * either way (the pins are a pure cost trade). */
  private val disabled = sys.env.get("SPARK_GRAFT_NO_PINS").contains("1")

  private val pins = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

  /** Persist `df` (MEMORY_AND_DISK) and register it for harness
    * release. Returns `df` itself for inline use. */
  def pinned(df: DataFrame): DataFrame = {
    if (!disabled) {
      df.persist(StorageLevel.MEMORY_AND_DISK)
      pins.synchronized { pins += df }
    }
    df
  }

  /** Unpersist every pin; returns the number released. */
  private[operators] def releaseAll(): Int = pins.synchronized {
    pins.foreach(_.unpersist(blocking = false))
    val n = pins.size
    pins.clear()
    n
  }
}

/** The one harness entry point: Bench, BenchOne, ProfileOne, Verify,
  * ExplainQuery and the perfbench harness call this between queries to
  * release every [[PlanCache]] pin. HARNESS-ONLY:
  * safe for a caller that owns every in-flight query. */
object GlobalOps {
  def releaseSnapshots(): Int = PlanCache.releaseAll()
}
