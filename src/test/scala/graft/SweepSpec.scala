package graft

import graft.operators.{FramePool, OperatorCaches, Postings}

/** The registry cache lifecycle `SparkEntry.sweep` owns, on synthetic
  * queries: single-query intermediates never outlive their query, the
  * cross-query pools outlive every query but not the sweep, and a
  * throwing query is reported by name without stopping the sweep. */
class SweepSpec extends SparkSpec {

  import spark.implicits._

  test("sweep releases operator caches per query, pools at the end, and survives a throw") {
    val persists: SparkEntry.Query = (s, _) =>
      OperatorCaches.persistTracked(s.range(10).toDF("id"))
    val pools: SparkEntry.Query = (s, _) => {
      val docs = Seq((1L, "a b c"), (2L, "b c d")).toDF("id", "text")
      Postings.forCorpus(docs, "id", "text")
      FramePool.frames("sweep-spec")(Seq(s.range(5).toDF("id"))).head
    }
    val throws: SparkEntry.Query = (_, _) => throw new IllegalStateException("boom")
    OperatorCaches.release()
    // (query, tracked, pooled keys) as each query starts; a posting index
    // is one FramePool key
    val seen = scala.collection.mutable.ArrayBuffer[(String, Int, Int)]()
    val results = SparkEntry.sweep(Seq(
      "persists" -> persists, "pools" -> pools, "throws" -> throws,
      "persists_again" -> persists)) { (name, fn) =>
      seen += ((name, OperatorCaches.trackedCount, FramePool.pooledCount))
      fn(spark, sfDir).count()
    }

    assert(results.map(_._1) ===
      Seq("persists", "pools", "throws", "persists_again"))
    assert(results.collect { case (n, Left(e)) => n -> e.getMessage } ===
      Seq("throws" -> "boom"))
    assert(results.collect { case (n, Right(c)) => n -> c } ===
      Seq("persists" -> 10L, "pools" -> 5L, "persists_again" -> 10L))
    // no query starts with an earlier query's operator caches
    assert(seen.map(_._2).toSeq === Seq(0, 0, 0, 0))
    // the pooled entries built by "pools" survive into every later query
    assert(seen.map(s => (s._1, s._3)).toSeq === Seq(
      ("persists", 0), ("pools", 0), ("throws", 2), ("persists_again", 2)))
    // ... and not past the sweep
    assert(OperatorCaches.trackedCount === 0)
    assert(FramePool.pooledCount === 0)
  }

  test("q37 and q111 in one sweep build the pooled clusters once") {
    FramePool.release()
    val names = Seq("q37_dup_clusters", "q111_dup_clusters_star")
    // (query, pooled keys, ledger tags) as each query ends
    val seen = scala.collection.mutable.ArrayBuffer[(String, Int, Set[String])]()
    val results = SparkEntry.sweep(names.map(n => n -> SparkEntry.queries(n))) {
      (name, fn) =>
        val rows = fn(spark, sfDir).collect().toSeq
        seen += ((name, FramePool.pooledCount, FramePool.buildSeconds.keySet))
        rows
    }
    val rows = results.map {
      case (_, Right(r)) => r
      case (n, Left(e)) => fail(s"$n threw", e)
    }
    assert(rows(0).nonEmpty, "no clusters — vacuous fixture")
    assert(rows(1) === rows(0))
    // q111 adds no pool entry: it reads q37's one `dupclusters` build
    assert(seen(1)._2 === seen(0)._2)
    assert(seen(1)._3.filter(_.startsWith("dupclusters")) === Set("dupclusters"))
  }
}
