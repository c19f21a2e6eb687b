package graft

import org.apache.spark.sql.functions._

import graft.operators.{FramePool, Postings}

/** The shared corpus posting index: one FramePool entry per logical
  * corpus (plan-keyed, so repeated reads of the same path unify), exact
  * frame contents, and explicit release. */
class PostingsSpec extends SparkSpec {

  test("repeated reads of the same corpus resolve to one pooled index") {
    FramePool.release()
    val a = Postings.forCorpus(
      spark.read.parquet(s"$sfDir/documents.parquet"), "doc_id", "text")
    val b = Postings.forCorpus(
      spark.read.parquet(s"$sfDir/documents.parquet"), "doc_id", "text")
    assert(FramePool.pooledCount === 1)
    assert(a.tf eq b.tf) // the identical persisted frame, not a rebuild
    FramePool.release()
    assert(FramePool.pooledCount === 0)
  }

  test("posting frames carry exact tf/df/dl/n/t over a known corpus") {
    FramePool.release()
    import spark.implicits._
    val docs = Seq(
      (1L, "a b a"),    // tf: a->2, b->1; dl=3
      (2L, "b  c"),     // double space -> empty token; dl=3 (b, "", c)
      (3L, "a")         // dl=1
    ).toDF("doc_id", "text")
    val ix = Postings.forCorpus(docs, "doc_id", "text")
    val tf = ix.tf.as[(String, Long, Long)].collect().toSet
    assert(tf === Set(("a", 1L, 2L), ("b", 1L, 1L), ("b", 2L, 1L),
      ("", 2L, 1L), ("c", 2L, 1L), ("a", 3L, 1L)))
    val df = ix.df.as[(String, Long)].collect().toSet
    assert(df === Set(("a", 2L), ("b", 2L), ("c", 1L), ("", 1L)))
    val dl = ix.dl.as[(Long, Long)].collect().toSet
    assert(dl === Set((1L, 3L), (2L, 3L), (3L, 1L)))
    assert(ix.nd.head().getLong(0) === 3L)
    assert(ix.tt.head().getLong(0) === 7L)
    FramePool.release()
  }

  test("delete adjusts every frame incrementally, equal to a rebuild") {
    FramePool.release()
    import spark.implicits._
    val docs = Seq(
      (1L, "a b a"), (2L, "b c"), (3L, "a"), (4L, "c d d")
    ).toDF("doc_id", "text")
    val pruned = Postings.delete(
      Postings.forCorpus(docs, "doc_id", "text"),
      Seq(2L, 4L).toDF("doc_id"), "doc_id")
    // hand-checked against the remaining docs {1, 3}: term d vanishes
    // (df hit 0), c vanishes, b's df drops to 1
    assert(pruned.tf.as[(String, Long, Long)].collect().toSet
      === Set(("a", 1L, 2L), ("b", 1L, 1L), ("a", 3L, 1L)))
    assert(pruned.df.as[(String, Long)].collect().toSet
      === Set(("a", 2L), ("b", 1L)))
    assert(pruned.dl.as[(Long, Long)].collect().toSet
      === Set((1L, 3L), (3L, 1L)))
    assert(pruned.nd.head().getLong(0) === 2L)
    assert(pruned.tt.head().getLong(0) === 4L)
    // and frame-for-frame equal to a fresh build over the remainder
    val rebuilt = Postings.forCorpus(
      docs.filter(col("doc_id") % 2 === 1), "doc_id", "text")
    assert(pruned.tf.collect().map(_.toSeq).toSet
      === rebuilt.tf.collect().map(_.toSeq).toSet)
    assert(pruned.df.collect().map(_.toSeq).toSet
      === rebuilt.df.collect().map(_.toSeq).toSet)
    // deleting an id that is not in the corpus is a no-op on the counts
    val noop = Postings.delete(
      Postings.forCorpus(docs, "doc_id", "text"),
      Seq(99L).toDF("doc_id"), "doc_id")
    assert(noop.nd.head().getLong(0) === 4L)
    assert(noop.tt.head().getLong(0) === 9L)
    // a DUPLICATED id must not double-decrement the stats (the anti-
    // joins are idempotent, so without the internal distinct df/n_docs/
    // t_total would silently diverge from the postings)
    val dup = Postings.delete(
      Postings.forCorpus(docs, "doc_id", "text"),
      Seq(2L, 2L, 4L, 4L, 4L).toDF("doc_id"), "doc_id")
    assert(dup.df.as[(String, Long)].collect().toSet
      === Set(("a", 2L), ("b", 1L)))
    assert(dup.nd.head().getLong(0) === 2L)
    assert(dup.tt.head().getLong(0) === 4L)
    FramePool.release()
  }

  test("distinct corpora pool separately") {
    FramePool.release()
    import spark.implicits._
    val base = Seq((1L, "x y")).toDF("doc_id", "text")
    val corpora = (0 until 4).map(i => base.filter(col("doc_id") >= i))
    val first = corpora.map(Postings.forCorpus(_, "doc_id", "text"))
    assert(FramePool.pooledCount === corpora.size)
    // each corpus resolves back to its own entry: no growth, no rebuild
    corpora.zip(first).foreach { case (c, ix) =>
      assert(Postings.forCorpus(c, "doc_id", "text").tf eq ix.tf)
    }
    assert(FramePool.pooledCount === corpora.size)
    FramePool.release()
  }

  test("a posting index is one FramePool key, built eagerly under the postings tag") {
    FramePool.release()
    val ix = Postings.forCorpus(
      spark.read.parquet(s"$sfDir/documents.parquet"), "doc_id", "text")
    assert(FramePool.pooledCount === 1)
    assert(FramePool.buildSeconds.keySet === Set("postings"))
    assert(FramePool.buildSeconds("postings") > 0.0)
    // materialized by the build, not by a consumer
    Seq(ix.tf, ix.df, ix.dl, ix.nd, ix.tt).foreach { f =>
      assert(f.queryExecution.withCachedData.collectFirst {
        case r: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
          r.cacheBuilder.isCachedColumnBuffersLoaded
      } === Some(true))
    }
    FramePool.release()
    assert(FramePool.pooledCount === 0)
    assert(FramePool.buildSeconds.isEmpty)
  }

  test("BM25 served from a saved/loaded artifact is row-identical to the live index") {
    FramePool.release()
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val qs = Seq("q1" -> Seq("spark", "join"), "q2" -> Seq("window", "scan"))
    val live = graft.operators.InvertedIndex
      .bm25TopK(docs, "doc_id", "text", qs, k = 5)
      .orderBy("q_id", "rank").collect().toSeq
    val dir = java.nio.file.Files.createTempDirectory("graft_pidx").toString
    Postings.save(Postings.forCorpus(docs, "doc_id", "text"), dir)
    FramePool.release() // serving must not lean on the session pool
    val served = graft.operators.InvertedIndex
      .bm25TopKFromIndex(Postings.load(spark, dir), qs, k = 5)
      .orderBy("q_id", "rank").collect().toSeq
    assert(served === live)
    assert(served.nonEmpty)
    FramePool.release()
    graft.operators.Convert.deleteRecursively(java.nio.file.Paths.get(dir))
  }
}
