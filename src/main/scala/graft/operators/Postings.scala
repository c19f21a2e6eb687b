package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The corpus posting index — the whitespace-token posting frames every
  * retrieval-family operator starts from (BM25, sparse TF-IDF cosine,
  * inverted-index stats, vocabulary coverage, corpus TF-IDF) — and its
  * parquet artifact format. This object holds no state: live indexes are
  * [[FramePool]] entries.
  *
  * Rationale: q27/q95/q101/q132/q138/q145 each begin with the identical
  * tokenize→explode→(term, doc) count pipeline over the same documents
  * table. Spark's own cache only unifies IDENTICAL analyzed plans, and
  * each query composes a slightly different frame on top — so without an
  * explicit shared base the corpus is re-tokenized and re-shuffled once
  * per query. A real engine amortizes this as INDEX CONSTRUCTION: the
  * posting frame is built once per corpus and every retrieval query is
  * parameterized by its query set only. At 100 TB the tokenize+shuffle is
  * by far the dominant cost of every retrieval query, so the amortization
  * is the difference between O(corpus) per query and O(corpus) once.
  *
  * Contents are the UNFILTERED postings (empty tokens from consecutive
  * delimiters included) — BM25's doc-length contract counts them, and
  * consumers that exclude them (termStats, sparseCosinePairs) filter
  * `length(term) > 0` downstream, which commutes with the (term, doc)
  * grouping because empty tokens form their own groups.
  *
  * Lifecycle: [[forCorpus]] pools the index in [[FramePool]] (tag
  * `postings`), so it survives the per-query [[OperatorCaches.release]]
  * like any index, shares the pool's LRU bound, and is dropped by
  * `FramePool.release()` at end of run. MEMORY_AND_DISK spills to
  * executor-local disk, so the bound is cluster disk, not RAM; at full
  * 100 TB production scale the same amortization is realized by
  * materializing these frames ONCE to a parquet index table ([[save]])
  * and scanning it ([[load]]) — the streaming
  * `EventStreams.indexPartialsSink` + `servingTermStats` pair is exactly
  * that shape, incrementally maintained.
  */
object Postings {

  /** Live posting frames for one (corpus, idCol, textCol):
    *   - `tf`: (term, doc, tf) — one row per distinct (term, document)
    *   - `df`: (term, df)     — postings per term (= distinct docs)
    *   - `dl`: (doc, dl)      — token count per document
    *   - `nd`: 1 row (n_docs)
    *   - `tt`: 1 row (t_total) — corpus token count */
  final case class Index(tf: DataFrame, df: DataFrame, dl: DataFrame,
                         nd: DataFrame, tt: DataFrame)

  /** The pooled posting index for `docs`, built and materialized on the
    * first request of a run. Keyed by the CANONICALIZED analyzed plan
    * itself (structural equality — exactly the comparison Spark's cache
    * manager `sameResult` performs), so repeated
    * `spark.read.parquet(samePath)` frames — each a fresh
    * `LogicalRelation` — resolve to one entry, and two genuinely
    * different corpora can never collide (a 32-bit `semanticHash` key
    * could, silently serving the wrong corpus). */
  def forCorpus(docs: DataFrame, idCol: String, textCol: String): Index = {
    val key = ("postings", docs.queryExecution.analyzed.canonicalized, idCol, textCol)
    val Seq(tf, df, dl, nd, tt) = FramePool.frames(key)(build(docs, idCol, textCol))
    Index(tf, df, dl, nd, tt)
  }

  /** The index frames in [[Index]] field order. The two corpus scalars
    * are computed here and served as one-row LOCAL frames: consumers
    * cross-join them, and a literal row carries no single-partition
    * aggregate into every consumer's plan. tf and dl are persisted
    * first so that computing t_total fills their caches. */
  private def build(docs: DataFrame, idCol: String, textCol: String): Seq[DataFrame] = {
    def p(df: DataFrame): DataFrame = df.persist(StorageLevel.MEMORY_AND_DISK)
    def scalar(agg: DataFrame): DataFrame =
      agg.sparkSession.createDataFrame(agg.collectAsList(), agg.schema)
    val tf = p(docs
      .select(col(idCol).as("doc"), explode(split(col(textCol), " ")).as("term"))
      .groupBy(col("term"), col("doc"))
      .agg(count(lit(1)).as("tf")))
    val dl = p(tf.groupBy(col("doc")).agg(sum(col("tf")).as("dl")))
    Seq(tf, tf.groupBy(col("term")).agg(count(lit(1)).as("df")), dl,
      scalar(docs.agg(count(lit(1)).as("n_docs"))),
      scalar(dl.agg(sum(col("dl")).as("t_total"))))
  }

  /** Materialize an index as a parquet ARTIFACT — five plain parquet
    * frames under `dir` (tf/df/dl/nd/tt), readable by any engine. This
    * is the production form of the session pool's amortization: at
    * 100 TB the posting index is built once, written next to the
    * corpus, and every retrieval query scans the artifact instead of
    * re-tokenizing the corpus (the streaming `indexPartialsSink` +
    * `servingTermStats` pair is the incrementally-maintained variant of
    * the same artifact). PostingsSpec proves BM25 served from a loaded
    * artifact is row-identical to the live index; q177 oracle-gates it. */
  def save(ix: Index, dir: String): Unit = {
    ix.tf.write.mode("overwrite").parquet(s"$dir/tf")
    ix.df.write.mode("overwrite").parquet(s"$dir/df")
    ix.dl.write.mode("overwrite").parquet(s"$dir/dl")
    ix.nd.write.mode("overwrite").parquet(s"$dir/nd")
    ix.tt.write.mode("overwrite").parquet(s"$dir/tt")
  }

  /** DELETE a document set from an index — the text-family sibling of
    * `VectorIndex.delete`/`DupGraph.delete`, closing the lifecycle
    * under both mutations next to q147's delta MERGE. Every adjustment
    * is INCREMENTAL and |deleted|-proportional: the dropped postings
    * (tf ⋈ deleted) are exactly the per-term df decrements and the
    * dropped doc-lengths are the n_docs/t_total decrements — no
    * recount touches the surviving corpus. Counters are exact longs,
    * so delete ≡ rebuild-over-remainder EXACTLY (PostingsSpec pins the
    * frames; q214 oracle-gates BM25 served from the pruned index
    * against a full recompute on the remaining documents). Terms whose
    * df reaches 0 leave the dictionary, matching a fresh build. */
  def delete(ix: Index, ids: DataFrame, idCol: String): Index = {
    // distinct: a duplicated id would double-count deadTf/deadDl (over-
    // decrementing df/n_docs/t_total, possibly below zero) while the
    // anti-joins stay idempotent — the delete ≡ rebuild-over-remainder
    // contract must hold for ANY caller-supplied id frame
    val del = ids.select(col(idCol).as("doc")).distinct()
    val deadTf = ix.tf.join(del, Seq("doc"))
    val deadDl = ix.dl.join(del, Seq("doc"))
    val dfDelta = deadTf.groupBy(col("term")).agg(count(lit(1)).as("ddf"))
    val ndDelta = deadDl.agg(count(lit(1)).as("dnd"))
    val ttDelta = deadDl.agg(coalesce(sum(col("dl")), lit(0L)).as("dtt"))
    Index(
      // the using-column anti-join puts the key first — restore the
      // (term, doc, tf) frame contract
      tf = ix.tf.join(del, Seq("doc"), "left_anti")
        .select(col("term"), col("doc"), col("tf")),
      df = ix.df.join(dfDelta, Seq("term"), "left")
        .select(col("term"),
          (col("df") - coalesce(col("ddf"), lit(0L))).as("df"))
        .filter(col("df") > 0),
      dl = ix.dl.join(del, Seq("doc"), "left_anti"),
      nd = ix.nd.crossJoin(ndDelta)
        .select((col("n_docs") - col("dnd")).as("n_docs")),
      tt = ix.tt.crossJoin(ttDelta)
        .select((col("t_total") - col("dtt")).as("t_total")))
  }

  /** Load a [[save]]d index artifact. Frames are NOT pooled or
    * persisted — the artifact scan is the serving path (columnar,
    * filter-pushdown on the term key), exactly how a 100 TB deployment
    * reads its index table. */
  def load(spark: org.apache.spark.sql.SparkSession, dir: String): Index =
    Index(
      tf = spark.read.parquet(s"$dir/tf"),
      df = spark.read.parquet(s"$dir/df"),
      dl = spark.read.parquet(s"$dir/dl"),
      nd = spark.read.parquet(s"$dir/nd"),
      tt = spark.read.parquet(s"$dir/tt"))

  // Shims for perfbench, which predates the merge into FramePool; nothing
  // under src/ may use them (ToolingSpec). `pooledCount` is 0 because
  // indexes count in `FramePool.pooledCount`, and perfbench sums the two.
  def release(): Unit = FramePool.release()
  def pooledCount: Int = 0
  val MaxCorpora = 4
}
