package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.plans.GraftFunctions.normalizeNative

/** The end-to-end corpus-cleaning pass a training-data pipeline runs
  * before tokenization, composed from the engine's own operators:
  *
  *   1. token-count gate (drop fragments and monsters),
  *   2. near-exact dedup on normalized content (keep the smallest id),
  *   3. benchmark decontamination (drop docs sharing any word-k-gram
  *      with the held-out benchmark — [[Quality.contaminatedDocs]]).
  *
  * Each stage is shuffle-by-derived-key (md5 of normalized content;
  * shingle hash), so the composition inherits every stage's 100 TB shape
  * — the point of this operator is demonstrating the stages COMPOSE:
  * filters stream out of the scan, the dedup groupBy keys on a
  * fixed-width hash, and the decontamination join only ever moves
  * shingle hashes, never text.
  */
object CorpusClean {

  /** Rows of `docs` that survive all three stages, schema unchanged.
    * `minTokens`/`maxTokens` bound the whitespace token count
    * (inclusive); `k` is the decontamination n-gram width. */
  def clean(docs: DataFrame, benchmark: DataFrame, idCol: String,
            textCol: String, minTokens: Int = 10, maxTokens: Int = 1000,
            k: Int = 8): DataFrame = {
    // gated/deduped are multiply consumed but deliberately NOT persisted:
    // both recompute as a columnar scan + codegen'd filter/semi-join with
    // no shuffle, and caching full text rows costs ~3× more in cold
    // columnar serialization than the recomputes save (measured,
    // PERF_NOTES.md "CorpusClean persist experiment"). The genuinely
    // expensive intermediates (shingle-hash streams) live behind the
    // decontamination join keyed by hash, not here.
    val gated = docs.filter(
      size(split(col(textCol), " ")).between(minTokens, maxTokens))
    // keep-min per normalized content; the group key is the md5 of the
    // normalized text — fixed-width shuffle key, never the text itself
    val keepIds = gated
      .select(col(idCol), md5(normalizeNative(col(textCol))).as("__nk"))
      .groupBy(col("__nk"))
      .agg(min(col(idCol)).as(idCol))
      .select(col(idCol))
    val deduped = gated.join(keepIds, Seq(idCol), "left_semi")
    val contaminated = Quality
      .contaminatedDocs(deduped, benchmark, idCol, textCol, k)
      .select(col(idCol))
    deduped.join(contaminated, Seq(idCol), "left_anti")
  }

  /** Per-stage survivorship of [[clean]] — the curation FUNNEL every
    * dataset card publishes (docs/tokens in → after gate → after dedup →
    * after decontamination): one row per stage with surviving doc and
    * token counts. Computed in ONE corpus pass, not four: each document
    * is tagged with the DEEPEST stage it survives (the gate is a scalar
    * predicate; keeper-ship and contamination arrive as two id-keyed
    * left joins — the same joins [[clean]] pays), a 4-key aggregation
    * collapses the corpus, and the nested stage counts are a running
    * sum over the 4-row stage spine (cardinality = stages — the
    * hour-spine argument for its window). Stage s's count = docs with
    * deepest ≥ s, which is exactly "survives stages 1..s". */
  def funnel(docs: DataFrame, benchmark: DataFrame, idCol: String,
             textCol: String, minTokens: Int = 10, maxTokens: Int = 1000,
             k: Int = 8): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val base = docs.select(col(idCol), col(textCol),
      size(split(col(textCol), " ")).cast("long").as("__nt"))
    val gated = base.filter(col("__nt").between(minTokens, maxTokens))
    val keepIds = gated
      .select(col(idCol), md5(normalizeNative(col(textCol))).as("__nk"))
      .groupBy(col("__nk")).agg(min(col(idCol)).as(idCol))
      .select(col(idCol), lit(true).as("__keep"))
    val contaminated = Quality
      .contaminatedDocs(gated.join(keepIds.select(col(idCol)), Seq(idCol), "left_semi"),
        benchmark, idCol, textCol, k)
      .select(col(idCol), lit(true).as("__cont"))
    val perDeepest = base
      .join(keepIds, Seq(idCol), "left")
      .join(contaminated, Seq(idCol), "left")
      .select(col("__nt"),
        when(col("__nt") < minTokens || col("__nt") > maxTokens, lit(0L))
          .when(col("__keep").isNull, lit(1L))
          .when(col("__cont").isNotNull, lit(2L))
          .otherwise(lit(3L)).as("__deepest"))
      .groupBy(col("__deepest"))
      .agg(count(lit(1)).as("__d"), sum(col("__nt")).as("__t"))
    val names = Seq("raw", "gated", "deduped", "decontaminated")
    val spine = names.indices.map(_.toLong).toDF("stage")
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(desc("stage"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    spine
      .join(perDeepest.select(col("__deepest").as("stage"), col("__d"), col("__t")),
        Seq("stage"), "left")
      .select(col("stage"),
        coalesce(col("__d"), lit(0L)).as("__d"),
        coalesce(col("__t"), lit(0L)).as("__t"))
      .withColumn("n_docs", sum(col("__d")).over(w))
      .withColumn("n_tokens", sum(col("__t")).over(w))
      .select(col("stage"),
        element_at(typedLit(names), (col("stage") + 1).cast("int"))
          .as("stage_name"),
        col("n_docs"), col("n_tokens"))
  }
}
