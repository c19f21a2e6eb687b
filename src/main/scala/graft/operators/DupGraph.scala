package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Persisted near-dup GRAPH artifact — the dedup-family sibling of
  * [[Postings]] (text index) and [[VectorIndex]] (ANN index): a real
  * curation deployment detects near-duplicate pairs and resolves
  * clusters ONCE, writes both next to the corpus, and every downstream
  * consumer (dedup apply, leakage-safe splits, duplicate-graph
  * analytics, keep-policy audits) reads the ARTIFACT — it does not
  * re-shingle and re-band 100 TB of text per question.
  *
  * The artifact is two plain parquet frames (no custom format — any
  * engine, including the DuckDB oracle, can read them):
  *   - `pairs`    (a_id, b_id, jac): confirmed LSH near-dup pairs
  *   - `clusters` (doc_id, cluster_id): connected-component labels
  *     (cluster_id = component-minimum doc id; singletons absent, the
  *     [[Dedup.dupClusters]] contract)
  *
  * Scale shape: both frames are pair/member-sized (bounded by the LSH
  * bucket caps, never corpus²) and narrow; serving is a parquet scan.
  * Build cost is exactly one [[Dedup.lshPairs]] + one O(log n)-round
  * [[Dedup.dupClusters]] — identical to the live q111 pipeline, so
  * serve-from-artifact is hash-equal to live-compute (q203 gates this
  * against q111's own oracle; DupGraphSpec proves frame round-trip).
  * The ONLINE maintenance half is the streaming side:
  * `EventStreams.nearDupIngestSink` maintains the same pair stream plus
  * LIVE cluster labels incrementally per batch.
  */
object DupGraph {

  final case class Frames(pairs: DataFrame, clusters: DataFrame)

  /** Detect + cluster: the live q111 pipeline packaged as an artifact
    * build. Parameters mirror [[Dedup.lshPairs]]. */
  def build(docs: DataFrame, idCol: String, textCol: String,
            numBands: Int = 4, minJaccard: Double = 0.1, k: Int = 3,
            rowsPerBand: Int = 2): Frames = {
    // pooled pair + label frames: the graph IS the artifact this object
    // documents — detect and cluster once per corpus per run, serve to
    // every consumer (q203 writes it, q204 appends to it)
    val pairs = Dedup.pooledLshPairs(docs, idCol, textCol,
      numBands = numBands, minJaccard = minJaccard, k = k,
      rowsPerBand = rowsPerBand)
    Frames(pairs, Dedup.pooledDupClusters(pairs))
  }

  /** Append a NEW document batch to an existing graph artifact — the
    * ONLINE half of dup-graph maintenance (re-detecting from scratch is
    * the offline half). New pairs are the batch's internal pairs plus
    * the bipartite batch×corpus pairs ([[Dedup.lshPairsAgainst]] — never
    * corpus×corpus); labels fold in via [[Dedup.incrementalClusters]]
    * (contract-and-merge, CC over the new pairs only). Because the
    * banding and exact-Jaccard confirm are the same algorithm on both
    * paths, the appended pair set equals the full-rebuild pair set
    * whenever no LSH bucket cap triggers differently across the split —
    * and the labels then match the full rebuild EXACTLY (min-of-mins),
    * which q204 oracle-gates and DupGraphSpec pins. `corpus` must be
    * the previously-indexed documents (idCol, textCol). */
  def append(idx: Frames, corpus: DataFrame, newDocs: DataFrame,
             idCol: String, textCol: String,
             numBands: Int = 4, minJaccard: Double = 0.1, k: Int = 3,
             rowsPerBand: Int = 2): Frames = {
    val within = Dedup.lshPairs(newDocs, idCol, textCol,
      numBands = numBands, minJaccard = minJaccard, k = k,
      rowsPerBand = rowsPerBand)
    val cross = Dedup.lshPairsAgainst(newDocs, corpus, idCol, textCol,
      numBands = numBands, minJaccard = minJaccard, k = k,
      rowsPerBand = rowsPerBand)
      .select(org.apache.spark.sql.functions.col("new_id").as("a_id"),
        org.apache.spark.sql.functions.col("corpus_id").as("b_id"),
        org.apache.spark.sql.functions.col("jac"))
    val newPairs = within.unionByName(cross)
    Frames(
      pairs = idx.pairs.unionByName(newPairs),
      clusters = Dedup.incrementalClusters(Some(idx.clusters), newPairs))
  }

  /** DELETE a document set from the graph artifact — the other online
    * half next to [[append]]. Pairs are pairwise, so the residual pair
    * set after dropping every pair that TOUCHES a deleted id equals the
    * rebuild-over-remainder pair set with no re-shingling (exactly,
    * modulo the same bucket-cap caveat as append: a cap that binds on
    * the full corpus but not the remainder would make the rebuild
    * surface extra pairs — q213's full-recompute oracle proves caps
    * don't bind at gate scale). Cluster labels are RE-DERIVED from the
    * residual pairs rather than filtered, because deletion can SPLIT a
    * component — the deleted doc may be its only bridge, and a label
    * filter would leave the phantom merge behind. Cost: one anti-join
    * pass over the pair frame + a pairs-sized CC; never a corpus pass. */
  def delete(idx: Frames, ids: DataFrame, idCol: String): Frames = {
    import org.apache.spark.sql.functions.col
    val residual = idx.pairs
      .join(ids.select(col(idCol).as("a_id")), Seq("a_id"), "left_anti")
      .join(ids.select(col(idCol).as("b_id")), Seq("b_id"), "left_anti")
    Frames(residual, Dedup.dupClusters(residual))
  }

  def save(frames: Frames, dir: String): Unit = {
    frames.pairs.write.mode("overwrite").parquet(s"$dir/pairs")
    frames.clusters.write.mode("overwrite").parquet(s"$dir/clusters")
  }

  def load(spark: SparkSession, dir: String): Frames = Frames(
    pairs = spark.read.parquet(s"$dir/pairs"),
    clusters = spark.read.parquet(s"$dir/clusters"))
}
