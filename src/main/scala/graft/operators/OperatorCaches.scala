package graft.operators

import java.nio.file.Path
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** The PER-QUERY cache scope: the single-query intermediate frames
  * graft operators persist ([[Dedup.simhashPairs]],
  * [[Similarity.embeddingNearDupPairs]],
  * [[CorpusStats.cmsHeavyHitters]]'s vocabulary, …) and the scratch
  * directories a query's result reads. The run scope is [[FramePool]],
  * which survives this registry's per-query release. It owns only what
  * it cached: a per-query release never unpersists a pooled frame.
  *
  * Spark's cache is keyed by analyzed plan, so repeated operator calls
  * over the SAME input reuse one entry — but a long-lived session running
  * dedup over many unrelated corpora would accumulate MEMORY_AND_DISK
  * entries indefinitely. Callers with that shape release them explicitly:
  *
  * {{{
  * val pairs = Dedup.lshPairs(docs, "doc_id", "text")
  * pairs.write.parquet(out)        // materialize while caches are live
  * OperatorCaches.release()        // then drop the operator intermediates
  * }}}
  *
  * `release()` is deliberately NOT automatic inside the operators: the
  * returned frame is lazy, and intermediates must stay cached until the
  * caller materializes it (an eager checkpoint inside the operator would
  * force computation before the caller's own projections/filters prune).
  *
  * A query that writes scratch files its own result reads (q08's CSV
  * round trip) registers the directory with [[deleteOnRelease]], so the
  * same per-query release deletes it once the result is materialized.
  */
object OperatorCaches {

  private val tracked = new ConcurrentLinkedQueue[DataFrame]()
  private val scratchDirs = new ConcurrentLinkedQueue[Path]()

  /** Persist `df` at the operator's storage level and remember it for
    * [[release]] — unless its plan is already cached, in which case `df`
    * comes back unchanged and untracked: that cache belongs to whoever
    * persisted it (a [[FramePool]] entry outlives this query). */
  private[graft] def persistTracked(df: DataFrame): DataFrame =
    if (df.storageLevel != StorageLevel.NONE) df
    else {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      tracked.add(p)
      p
    }

  /** Remember `dir` for [[release]] to delete; returns it. */
  private[graft] def deleteOnRelease(dir: Path): Path = {
    scratchDirs.add(dir)
    dir
  }

  /** Unpersist every operator-persisted intermediate registered since the
    * last release, and delete every registered scratch directory.
    * Non-blocking; safe to call while results derived from the caches are
    * still referenced (Spark recomputes if re-used) — but not while a
    * result still reads a scratch directory. */
  def release(): Unit = {
    var df = tracked.poll()
    while (df != null) {
      df.unpersist(blocking = false)
      df = tracked.poll()
    }
    var dir = scratchDirs.poll()
    while (dir != null) {
      Convert.deleteRecursively(dir)
      dir = scratchDirs.poll()
    }
  }

  /** Number of currently tracked cache entries (test/monitoring hook). */
  def trackedCount: Int = tracked.size()
}
