package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.storage.StorageLevel

import graft.operators.{FramePool, OperatorCaches}

/** The run-scoped artifact store: build-once semantics for frame sets and
  * directories, LRU capacity, release — and the per-query scope
  * (`OperatorCaches`) leaving its entries alone. */
class FramePoolSpec extends SparkSpec {

  test("frames builds once per key and returns the same persisted frames") {
    FramePool.release()
    import spark.implicits._
    var builds = 0
    def build() = FramePool.frames("fp-test") {
      builds += 1
      Seq(Seq((1L, "a")).toDF("id", "s"))
    }
    val a = build(); val b = build()
    assert(builds === 1)
    assert(a.head eq b.head)
    assert(FramePool.pooledCount === 1)
    FramePool.release()
    assert(FramePool.pooledCount === 0)
  }

  test("pool caps its size by evicting the LRU entry, not flushing everything") {
    FramePool.release()
    import spark.implicits._
    var rebuilds = 0
    def touch(i: Int) = FramePool.frames(s"fp-$i") {
      rebuilds += 1
      Seq(Seq((i.toLong, "x")).toDF("id", "s"))
    }
    (0 until FramePool.MaxEntries).foreach(touch) // exactly at capacity
    // LRU, not FIFO: re-access the OLDEST entry, then overflow — the
    // victim must be fp-1 (now least recently used), never the
    // just-touched fp-0. This is the hazard that matters for
    // localCheckpoint'ed pooled frames: evicting a key the in-flight
    // family just accessed would drop blocks its plans cannot recompute.
    touch(0)
    val before = rebuilds
    touch(FramePool.MaxEntries) // one past capacity → evict LRU
    assert(FramePool.pooledCount === FramePool.MaxEntries)
    touch(0)
    assert(rebuilds === before + 1, "recently-used entry was evicted")
    touch(1)
    assert(rebuilds === before + 2, "LRU entry survived the eviction")
    FramePool.release()
  }

  test("persistTracked on a pooled frame leaves it untracked and cached past the per-query release") {
    FramePool.release()
    OperatorCaches.release()
    import spark.implicits._
    val Seq(pooled) = FramePool.frames("fp-owned")(Seq(Seq((1L, "a")).toDF("id", "s")))
    val same = OperatorCaches.persistTracked(pooled)
    assert(same eq pooled)
    assert(OperatorCaches.trackedCount === 0)
    OperatorCaches.release()
    assert(pooled.storageLevel === StorageLevel.MEMORY_AND_DISK)
    // a frame nobody cached is still the per-query scope's to persist
    val own = OperatorCaches.persistTracked(Seq((2L, "b")).toDF("id", "s"))
    assert(OperatorCaches.trackedCount === 1)
    OperatorCaches.release()
    assert(own.storageLevel === StorageLevel.NONE)
    FramePool.release()
  }

  test("dir fills once per key and release deletes it; a failed fill leaves nothing") {
    FramePool.release()
    var fills = 0
    def dir() = FramePool.dir(("fp_dir", "k")) { d =>
      fills += 1
      Files.writeString(d.resolve("x"), "1")
    }
    val a = dir(); val b = dir()
    assert(fills === 1)
    assert(a === b)
    assert(a.getFileName.toString.startsWith("graft_fp_dir"))
    assert(Files.exists(a.resolve("x")))
    assert(FramePool.buildSeconds.contains("fp_dir"))
    FramePool.release()
    assert(!Files.exists(a))
    assert(dir() != a) // a new run rebuilds
    assert(fills === 2)
    val before = graftDirs("graft_fp_fail")
    intercept[IllegalStateException] {
      FramePool.dir(("fp_fail", "k")) { _ => throw new IllegalStateException("no") }
    }
    assert(graftDirs("graft_fp_fail") === before)
    FramePool.release()
  }

  private def graftDirs(prefix: String): Set[Path] = {
    val s = Files.list(Paths.get(System.getProperty("java.io.tmpdir")))
    try s.iterator().asScala.filter(_.getFileName.toString.startsWith(prefix)).toSet
    finally s.close()
  }

  test("q112, q177 and q203 artifact directories live until FramePool.release and then rebuild") {
    FramePool.release()
    val queries = Seq("q112_bucketed_join", "q177_bm25_serve_artifact",
      "q203_dupgraph_serve_artifact")
    def run(q: String) =
      SparkEntry.queries(q)(spark, sfDir).collect().toSeq.map(_.toSeq)
    val first = queries.map(q => q -> run(q)).toMap
    val built = FramePool.pooledDirs
    assert(built.map(_.getFileName.toString.replaceAll("[0-9]+$", "")) ===
      Set("graft_bucketed", "graft_text_index", "graft_dup_graph"))
    assert(built.forall(Files.isDirectory(_)))
    // a second call in the same run reuses each directory
    queries.foreach(q => assert(run(q) === first(q)))
    assert(FramePool.pooledDirs === built)
    OperatorCaches.release()
    FramePool.release()
    built.foreach(d => assert(!Files.exists(d), s"$d survived the release"))
    assert(FramePool.pooledDirs.isEmpty)
    // the next run rebuilds and serves the same rows
    queries.foreach(q => assert(run(q) === first(q)))
    assert(FramePool.pooledDirs.size === 3)
    assert((FramePool.pooledDirs & built).isEmpty)
    FramePool.release()
  }
}
