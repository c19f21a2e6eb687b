package graft.operators

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** The RUN-SCOPED artifact store (the per-query scope is
  * [[OperatorCaches]]): artifacts a real system trains once and serves
  * many times. Two kinds of entry share one monitor, one build-seconds
  * ledger and one [[release]] at end of run; both survive the per-query
  * [[OperatorCaches.release]]:
  *   - frame sets ([[frames]]): persisted pipeline heads several queries
  *     rebuild identically — the posting index ([[Postings]], tag
  *     `postings`), PQ codebooks, IVF cell assignments, shingle
  *     signatures. LRU over [[MaxEntries]] keys.
  *   - directories ([[dir]]): files a query writes once and reads on
  *     every call (q09, q112, q177, q203). Never evicted: a lazy frame
  *     may still scan one.
  *
  * Callers key by a stable corpus identity — a tuple of a pipeline tag
  * with the corpus's CANONICALIZED ANALYZED PLAN (structural equality,
  * the `sameResult` comparison; for in-memory frames it includes the
  * data, where the plan's toString or a 32-bit hash would collide) plus
  * parameters, or a scale-factor-dir string where the corpus is a fixed
  * fixture. The builder runs at most once per key per run.
  *
  * Locking: one REENTRANT monitor (this object's), not a concurrent
  * map's atomic get-or-build: a builder may itself resolve pooled
  * entries (Logit.pooledTrajectory from pooledFeatures, q177's directory
  * from the posting index), and a nested atomic update of one hash map
  * throws "Recursive update" whenever the two keys share a bin — a
  * nondeterministic failure that fired in round 15. A miss builds while
  * holding the monitor, so a build's Spark jobs block every other
  * caller, even for unrelated keys. Harmless for the single-threaded
  * query loops that drive the store; a caller resolving entries from
  * several threads serializes behind each build.
  */
object FramePool {

  /** A full 204-query registry run touches ~14 distinct keys for ONE
    * corpus (per-corpus shingle/band frames multiply per bipartite side
    * and per evaluation sample); 32 leaves a ×2 margin before any
    * eviction fires at all. */
  val MaxEntries = 32

  // every field is guarded by this object's monitor; `pool` iterates in
  // LRU order (a hit re-inserts its key at the back)
  private val pool = mutable.LinkedHashMap.empty[Any, Seq[DataFrame]]
  private val dirs = mutable.HashMap.empty[Any, Path]

  /** Build seconds per TAG (the key tuple's leading string), summed
    * over keys: constructing AND materializing a frame set, or writing a
    * directory, on a miss. Bench reports it as `pool_builds`, the build
    * cost that pool-warm per-query numbers amortize (VERDICT r16 item 7).
    * Cleared by [[release]]. */
  private val buildSecs = mutable.HashMap.empty[String, Double]

  private def tagOf(key: Any): String = key match {
    case p: Product if p.productArity >= 1 => p.productElement(0) match {
      case s: String => s
      case other => other.getClass.getSimpleName
    }
    case s: String => s
    case other => other.getClass.getSimpleName
  }

  /** Run `build`, adding its seconds to `key`'s tag in the ledger. */
  private def timed[A](key: Any)(build: => A): A = {
    val t0 = System.nanoTime()
    val built = build
    val tag = tagOf(key)
    buildSecs(tag) = buildSecs.getOrElse(tag, 0.0) + (System.nanoTime() - t0) / 1e9
    built
  }

  /** Snapshot of accumulated pool-build seconds by tag (bench hook). */
  def buildSeconds: Map[String, Double] = synchronized { buildSecs.toMap }

  /** Get-or-build the named frame set; frames are persisted
    * MEMORY_AND_DISK on first build, in order, so a later frame of the
    * set reads the earlier ones' cache. The builder's frames may already
    * be persisted — re-persisting at the same level is a no-op.
    *
    * Capacity: exceeding [[MaxEntries]] evicts the LEAST-RECENTLY-USED
    * entry only — a flush-all would also drop the hot frames the
    * in-flight query family is amortizing, and FIFO (insertion order)
    * could evict a key the CURRENT query just re-accessed. That matters
    * more than a cache miss: pooled frames may be `localCheckpoint`ed
    * (lineage-truncated — e.g. the PQ codebook/codes artifacts), and
    * unpersisting one while an in-flight plan still references it is
    * unrecoverable, not a recompute. LRU keeps the active family's keys
    * at the back of the eviction order. */
  def frames(key: Any)(build: => Seq[DataFrame]): Seq[DataFrame] = synchronized {
    pool.remove(key) match {
      case Some(hit) =>
        pool(key) = hit
        hit
      case None =>
        while (pool.size >= MaxEntries)
          pool.remove(pool.head._1).foreach(_.foreach(_.unpersist(blocking = false)))
        val built = timed(key) {
          val fs = build.map(_.persist(StorageLevel.MEMORY_AND_DISK))
          // Materialize eagerly so the recorded build seconds are the TRUE
          // cost (plan construction + execution), not just plan-build time.
          // Every pooled frame is fully scanned by its consumers anyway
          // (that is why it is pooled), so the count() adds one cached
          // read, never new work — and the cost still lands inside the
          // FIRST consumer's timed region, exactly where it landed before.
          fs.foreach(_.count())
          fs
        }
        pool(key) = built
        built
    }
  }

  /** The run-scoped directory for `key`: created in the temp dir as
    * `graft_<tag>…` and written by `fill` on the first call, then
    * returned as-is until [[release]] deletes it — the run-scope twin of
    * [[OperatorCaches.deleteOnRelease]]. A `fill` that throws leaves no
    * directory and no entry behind. */
  def dir(key: Any)(fill: Path => Unit): Path = synchronized {
    dirs.getOrElse(key, {
      val d = timed(key) {
        val d = Files.createTempDirectory(s"graft_${tagOf(key)}")
        try fill(d)
        catch { case e: Throwable => Convert.deleteRecursively(d); throw e }
        d
      }
      dirs(key) = d
      d
    })
  }

  /** Unpersist (non-blocking) and forget every frame set, delete every
    * directory, and clear the ledger. Takes the monitor, so a lifecycle
    * sweep (end of a run, a streaming sink's per-batch release) cannot
    * unpersist frames another thread is resolving mid-plan — for
    * localCheckpoint'ed entries that is unrecoverable, not a recompute.
    * NOTE the release is JVM-GLOBAL: concurrently running queries that
    * share the store must not interleave with it. */
  def release(): Unit = synchronized {
    pool.values.foreach(_.foreach(_.unpersist(blocking = false)))
    pool.clear()
    dirs.values.foreach(Convert.deleteRecursively)
    dirs.clear()
    buildSecs.clear()
  }

  /** Currently pooled frame-set key count (test/monitoring hook). */
  def pooledCount: Int = synchronized { pool.size }

  /** Currently pooled directories (test hook). */
  private[graft] def pooledDirs: Set[Path] = synchronized { dirs.values.toSet }
}
