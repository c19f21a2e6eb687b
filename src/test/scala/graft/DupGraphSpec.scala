package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, DupGraph, FramePool, OperatorCaches}

/** Artifact ≡ live for the persisted near-dup graph: saving the LSH
  * pair frame + CC labels to parquet and loading them back must
  * reproduce the live q111 pipeline row for row — the dedup-family
  * analog of PostingsSpec (text index) and PqSpec (vector index). */
class DupGraphSpec extends SparkSpec {

  import spark.implicits._

  test("saved dup-graph frames round-trip and match the live pipeline") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val frames = DupGraph.build(docs, "doc_id", "text",
      numBands = 4, minJaccard = 0.1, k = 3, rowsPerBand = 2)
    val dir = java.nio.file.Files.createTempDirectory("graft_dupgraph_spec")
    try {
      DupGraph.save(frames, dir.toString)
      val loaded = DupGraph.load(spark, dir.toString)

      // pairs: exact round-trip (jac compared bit-for-bit — parquet
      // stores the double verbatim)
      val livePairs = Dedup.lshPairs(docs, "doc_id", "text",
        numBands = 4, minJaccard = 0.1, k = 3, rowsPerBand = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val artPairs = loaded.pairs
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(artPairs === livePairs)
      assert(livePairs.nonEmpty, "fixture produced no near-dup pairs — vacuous")

      // clusters: the loaded labels equal a fresh live clustering
      val liveClusters = Dedup.dupClusters(livePairs.toSeq
          .toDF("a_id", "b_id", "jac"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val artClusters = loaded.clusters
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(artClusters === liveClusters)

      // serving never touches the corpus: the loaded plan reads ONLY the
      // artifact parquet
      val scanned = loaded.clusters.inputFiles
      assert(scanned.nonEmpty && scanned.forall(_.contains(dir.toString)),
        s"serve plan reads outside the artifact: ${scanned.mkString(",")}")
    } finally {
      graft.operators.Convert.deleteRecursively(dir)
      OperatorCaches.release()
      FramePool.release()
    }
  }

  test("append to the graph artifact equals a full rebuild") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val oldDocs = docs.filter(col("doc_id") % 10 =!= 7)
    val newDocs = docs.filter(col("doc_id") % 10 === 7)
    val appended = DupGraph.append(
      DupGraph.build(oldDocs, "doc_id", "text"), oldDocs, newDocs,
      "doc_id", "text")
    val rebuilt = DupGraph.build(docs, "doc_id", "text")
    def labels(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(labels(appended.clusters) === labels(rebuilt.clusters))
    assert(labels(rebuilt.clusters).nonEmpty, "no clusters — vacuous fixture")
    // the appended pair set covers the rebuild's (orientation-free)
    def pairKeys(df: org.apache.spark.sql.DataFrame) =
      df.collect().map { r =>
        val (a, b) = (r.getLong(0), r.getLong(1))
        (math.min(a, b), math.max(a, b))
      }.toSet
    assert(pairKeys(appended.pairs) === pairKeys(rebuilt.pairs))
    OperatorCaches.release()
    FramePool.release()
  }

  test("delete re-derives labels: removing a bridge SPLITS its component") {
    // hand-built pair frame (delete operates on the artifact, so no LSH
    // needed): path 1-2-3 plus component {7,8}; doc 2 is the only
    // bridge between 1 and 3
    val pairs = Seq((1L, 2L, 1.0), (2L, 3L, 1.0), (7L, 8L, 1.0))
      .toDF("a_id", "b_id", "jac")
    val idx = DupGraph.Frames(pairs, Dedup.dupClusters(pairs))
    // before: one component {1,2,3} labeled 1
    assert(idx.clusters.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      === Set((1L, 1L), (2L, 1L), (3L, 1L), (7L, 7L), (8L, 7L)))
    val afterBridge = DupGraph.delete(idx,
      Seq(2L).toDF("doc_id"), "doc_id")
    // 1 and 3 fall apart into singletons (absent, per the contract);
    // a label FILTER would have kept them merged under label 1
    assert(afterBridge.pairs.count() === 1)
    assert(afterBridge.clusters.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
      === Set((7L, 7L), (8L, 7L)))
    // deleting a non-bridge member relabels when the minimum leaves
    val afterMin = DupGraph.delete(idx, Seq(7L).toDF("doc_id"), "doc_id")
    assert(afterMin.clusters.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
      === Set((1L, 1L), (2L, 1L), (3L, 1L)))
    OperatorCaches.release()
  }

  test("delete from the graph artifact equals a rebuild over the remainder") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val full = DupGraph.build(docs, "doc_id", "text")
    val deleted = DupGraph.delete(full,
      docs.filter(col("doc_id") % 10 === 4).select("doc_id"), "doc_id")
    val rebuilt = DupGraph.build(docs.filter(col("doc_id") % 10 =!= 4),
      "doc_id", "text")
    def labels(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(labels(deleted.clusters) === labels(rebuilt.clusters))
    assert(labels(rebuilt.clusters).nonEmpty, "no clusters — vacuous fixture")
    def pairKeys(df: org.apache.spark.sql.DataFrame) =
      df.collect().map { r =>
        val (a, b) = (r.getLong(0), r.getLong(1))
        (math.min(a, b), math.max(a, b))
      }.toSet
    assert(pairKeys(deleted.pairs) === pairKeys(rebuilt.pairs))
    OperatorCaches.release()
    FramePool.release()
  }
}
