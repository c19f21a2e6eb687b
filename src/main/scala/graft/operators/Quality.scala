package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-quality operators for the training-data pipeline: repetition
  * signals (the Gopher-rules family), PII scrubbing, and deterministic
  * stratified sampling.
  *
  * Scale shapes: the repetition signals are one explode + two groupBy
  * shuffles keyed by doc (partial aggregation map-side); the scrub is
  * pure codegen'd regexp over a single pass; the sampler is a stateless
  * hash filter — no shuffle at all, and the same rows are kept on any
  * cluster size or partitioning (seeded-RNG samples are NOT stable across
  * partitionings; content-hash gates are).
  */
object Quality {

  /** Engine-portable 60-bit hash (md5-derived, same discipline as
    * TextFunctions.md5Long). */
  private def md5Long(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Per-document repetition/quality signals in the Gopher-rules shape:
    *  - `dup_token_frac`: 1 − distinct/total tokens (high = repetitive)
    *  - `top_bigram_frac`: occurrences of the most frequent bigram over
    *    all bigram slots (boilerplate detector)
    *  - `mean_token_len`: (chars − spaces) / tokens — the text is
    *    single-space tokenized, so token length sum = len − (n−1) without
    *    a second array pass
    *  - `flagged`: true when any signal crosses its threshold — the rows
    *    a quality filter would drop.
    *
    * The bigram top-count runs explode → count(doc, bigram) → max per
    * doc: two partial-aggregated shuffles keyed by doc_id, never a
    * per-row interpreted sort. Documents with <2 tokens contribute no
    * bigrams and re-enter via left join with zero counts.
    */
  def gopherSignals(docs: DataFrame, idCol: String, textCol: String,
                    maxDupTokenFrac: Double = 0.6,
                    maxTopBigramFrac: Double = 0.18,
                    minMeanTokenLen: Double = 3.0,
                    maxMeanTokenLen: Double = 10.0): DataFrame = {
    // base feeds BOTH the bigram aggregation and the join probe side —
    // persist (tracked) so the corpus is scanned and tokenized once, not
    // twice (same discipline as the dedup operators' shared projections;
    // release via OperatorCaches.release()).
    val base = OperatorCaches.persistTracked(docs
      .select(col(idCol), col(textCol).as("__text"),
        split(col(textCol), " ").as("__toks"))
      .select(col(idCol),
        size(col("__toks")).cast("long").as("n_tokens"),
        size(array_distinct(col("__toks"))).cast("long").as("n_distinct"),
        (length(col("__text")) - (size(col("__toks")) - 1)).cast("long").as("__sum_len"),
        col("__toks")))
    val bigrams = base
      .filter(size(col("__toks")) >= 2)
      .select(col(idCol), explode(transform(
        sequence(lit(1), size(col("__toks")) - 1),
        i => concat_ws(" ", element_at(col("__toks"), i),
          element_at(col("__toks"), i + 1)))).as("bigram"))
      .groupBy(col(idCol), col("bigram")).agg(count(lit(1)).as("c"))
      .groupBy(col(idCol))
      .agg(max(col("c")).as("top_cnt"), sum(col("c")).as("n_bigrams"))
    val joined = base.join(bigrams, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        (lit(1.0) - col("n_distinct").cast("double") / col("n_tokens").cast("double"))
          .as("dup_token_frac"),
        coalesce(col("top_cnt").cast("double") / col("n_bigrams").cast("double"), lit(0.0))
          .as("top_bigram_frac"),
        (col("__sum_len").cast("double") / col("n_tokens").cast("double"))
          .as("mean_token_len"))
    joined.withColumn("flagged",
      col("dup_token_frac") > maxDupTokenFrac ||
        col("top_bigram_frac") > maxTopBigramFrac ||
        col("mean_token_len") < minMeanTokenLen ||
        col("mean_token_len") > maxMeanTokenLen)
  }

  /** PII patterns, scrubbed in a fixed order. Explicit char classes only
    * (no \w, no \p{...}) so Java-regex Spark and RE2 oracles agree. */
  val EmailPattern = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val UrlPattern = "https?://[a-z0-9./_-]+"
  val PhonePattern = "[0-9]{3}-[0-9]{4}"

  /** Scrub emails, URLs, and phone-shaped tokens from `textCol`, emitting
    * the redaction counts per category and the scrubbed text. One
    * codegen'd pass per pattern, applied email → url → phone (order
    * matters: a URL containing an @ must not be half-eaten by the email
    * pass — emails go first, then URLs over what remains). */
  /** Compression-ratio quality signal: deflate(text).length /
    * octet_length(text), via the native codegen'd `graft_deflate_len`
    * kernel ([[graft.plans.DeflateLength]]). Repetitive machine text
    * compresses far below natural prose and near-random noise above it,
    * so both ratio tails are removal candidates (the RefinedWeb/
    * MassiveText signal). Pure map-side — no shuffle; spec-verified
    * (no SQL engine can twin deflate, so it is deliberately outside the
    * oracle-gated query registry). */
  def compressionSignal(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    docs.select(col(idCol),
        octet_length(col(textCol)).as("raw_len"),
        graft.plans.GraftFunctions.deflateLenNative(col(textCol)).as("deflate_len"))
      .withColumn("ratio",
        when(col("raw_len") > 0,
          col("deflate_len").cast("double") / col("raw_len").cast("double")))
  }

  /** Curriculum interleave ordering (q169's operator form, shared with
    * the Refinery pipeline): rank each document within its source by
    * quality (distinct-token richness, ties to id) — emitting the corpus
    * sorted by (src_rank, source) yields source-balanced, best-first
    * training order. The only window partitions by source. */
  def curriculumOrder(docs: DataFrame, idCol: String, sourceCol: String,
                      textCol: String): DataFrame = {
    val qv = docs.select(col(idCol), col(sourceCol).as("source"),
      size(array_distinct(split(col(textCol), " "))).cast("long").as("q"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(desc("q"), col(idCol))
    qv.withColumn("src_rank", row_number().over(w).cast("long"))
  }

  def piiScrub(df: DataFrame, textCol: String): DataFrame = {
    val t0 = col(textCol)
    val t1 = regexp_replace(t0, EmailPattern, "<EMAIL>")
    val t2 = regexp_replace(t1, UrlPattern, "<URL>")
    val t3 = regexp_replace(t2, PhonePattern, "<PHONE>")
    df
      .withColumn("n_email", regexp_count(t0, lit(EmailPattern)))
      .withColumn("n_url", regexp_count(t1, lit(UrlPattern)))
      .withColumn("n_phone", regexp_count(t2, lit(PhonePattern)))
      .withColumn("scrubbed", t3)
  }

  /** Fixed-size token chunking with overlap — the context-window
    * splitting step of a training pipeline. Each document yields
    * ceil((n−overlap)/(size−overlap)) chunks of up to `size` tokens,
    * consecutive chunks sharing `overlap` tokens. Pure per-row HOF
    * arithmetic over a materialized token array (no shuffle); emits
    * (id, chunk_id, chunk_tokens, chunk_text). */
  def chunkTokens(docs: DataFrame, idCol: String, textCol: String,
                  chunkSize: Int = 64, overlap: Int = 16): DataFrame = {
    require(chunkSize > overlap && overlap >= 0, "need chunkSize > overlap >= 0")
    val stride = chunkSize - overlap
    val n = size(col("__toks"))
    // 1 if n <= chunkSize else 2 + floor((n - chunkSize - 1) / stride),
    // in integer arithmetic (Column '/' is double division — cast back)
    val nChunks =
      when(n <= chunkSize, lit(1))
        .otherwise(lit(2) + ((n - chunkSize - 1) / stride).cast("int"))
    docs
      .select(col(idCol), split(col(textCol), " ").as("__toks"))
      .select(col(idCol), col("__toks"),
        posexplode(transform(sequence(lit(0), nChunks - 1),
          i => slice(col("__toks"), i * stride + 1, lit(chunkSize)))))
      .select(col(idCol), col("pos").cast("long").as("chunk_id"),
        size(col("col")).cast("long").as("chunk_tokens"),
        concat_ws(" ", col("col")).as("chunk_text"))
  }

  /** Contiguous sequence packing: assign documents (in id order) to
    * training bins of `budget` tokens — bin id = the bin the doc's
    * first token lands in after concatenating the ordered corpus. The
    * packing every "concat then split into context windows" pipeline
    * performs, made explicit and auditable.
    *
    * The global running sum runs DISTRIBUTED ([[PrefixSum]]: range
    * partition by id, per-partition cumsum, broadcast prefix offsets) —
    * no SinglePartition exchange anywhere in the plan (asserted in
    * PrefixSumSpec), so the corpus-length cumsum scales with the
    * cluster instead of funnelling (id, n_tokens) through one task.
    * Bin ids are bit-identical to [[packContiguousSinglePass]], the
    * one-window reference form kept as the property-tested verify twin. */
  def packContiguous(docs: DataFrame, idCol: String, textCol: String,
                     budget: Int = 512): DataFrame = {
    val sized = docs
      .select(col(idCol), size(split(col(textCol), " ")).cast("long").as("n_tokens"))
    val (withEnd, _) = PrefixSum.rankedRunningSum(
      sized, Seq(col(idCol)), col("n_tokens"), "__rn", "__end")
    withEnd.select(col(idCol), col("n_tokens"),
      ((col("__end") - col("n_tokens")) / budget).cast("long").as("bin_id"))
  }

  /** Single-window reference form of [[packContiguous]] — the semantics
    * twin (one global cumsum over a SinglePartition exchange). Kept for
    * the equality property test; production callers use the distributed
    * form. */
  def packContiguousSinglePass(docs: DataFrame, idCol: String, textCol: String,
                               budget: Int = 512): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col(idCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    docs
      .select(col(idCol), size(split(col(textCol), " ")).cast("long").as("n_tokens"))
      .withColumn("__end", sum(col("n_tokens")).over(w))
      .select(col(idCol), col("n_tokens"),
        ((col("__end") - col("n_tokens")) / budget).cast("long").as("bin_id"))
  }

  /** Deterministic train/val/test split: md5-gated per-row assignment
    * (train below `trainPct`, val next `valPct`, else test) — the same
    * reproducibility contract as [[stratifiedHashSample]]. */
  def hashSplit(df: DataFrame, idCol: String,
                trainPct: Int = 90, valPct: Int = 5,
                salt: String = "split"): DataFrame = {
    require(trainPct + valPct < 100, "train + val must leave room for test")
    val h = pmod(md5Long(concat(lit(salt + "|"), col(idCol))), lit(100L))
    df.withColumn("split",
      when(h < trainPct, lit("train"))
        .when(h < trainPct + valPct, lit("val"))
        .otherwise(lit("test")))
  }

  /** Leakage-safe train/val/test split: assign splits per NEAR-DUP
    * CLUSTER, not per document — with per-doc assignment ([[hashSplit]]),
    * two near-duplicates can land one in train and one in test, and the
    * eval set silently scores memorization (the classic split-leakage
    * failure near-dup detection exists to prevent). `clusters` is a
    * (idCol, cluster_id) frame from Dedup.dupClusters — only PAIRED docs
    * appear in it; unpaired docs are their own singleton cluster
    * (cluster_key = own id, the clusterer's cluster_id = component-minimum
    * convention extended to singletons).
    *
    * The md5 gate hashes the CLUSTER key, so membership of every doc in a
    * cluster decides identically — same reproducibility contract as
    * [[hashSplit]] (pure function of the key, engine-portable, stable
    * under reordering). Scale shape: one left equi-join of the corpus
    * against the (tiny — only paired docs) cluster frame, then a
    * codegen'd hash filter; nothing new shuffles at corpus scale.
    */
  def leakageSafeSplit(docs: DataFrame, idCol: String, clusters: DataFrame,
                       trainPct: Int = 80, valPct: Int = 10,
                       salt: String = "split"): DataFrame = {
    require(trainPct + valPct < 100, "train + val must leave room for test")
    val keyed = docs.select(col(idCol))
      .join(clusters.select(col(idCol), col("cluster_id")), Seq(idCol), "left")
      .withColumn("cluster_key", coalesce(col("cluster_id"), col(idCol)))
    val h = pmod(md5Long(concat(lit(salt + "|"), col("cluster_key"))), lit(100L))
    keyed.select(col(idCol), col("cluster_key"),
      when(h < trainPct, lit("train"))
        .when(h < trainPct + valPct, lit("val"))
        .otherwise(lit("test")).as("split"))
  }

  /** Benchmark decontamination: training docs sharing at least one
    * word-`k`-gram with any benchmark doc. Both sides reduce to their
    * 60-bit shingle-hash sets; the overlap is an equi-join ON THE HASH
    * (shuffle partitioned by hash — never doc×doc), then a distinct count
    * per contaminated training doc. The standard n-gram-overlap
    * decontamination pass of an LLM data pipeline at its scale shape. */
  def contaminatedDocs(training: DataFrame, benchmark: DataFrame,
                       idCol: String, textCol: String, k: Int = 8): DataFrame = {
    val th = Dedup.pooledShingleSets(training, idCol, textCol, k)
      .select(col(idCol), explode(col("hset")).as("h"))
    val bh = Dedup.shingleSets(benchmark, idCol, textCol, k)
      .select(explode(col("hset")).as("h")).distinct()
    th.join(bh, "h")
      .groupBy(col(idCol))
      .agg(countDistinct(col("h")).as("n_shared_ngrams"))
  }

  /** [[contaminatedDocs]] with a Bloom prefilter on the training side —
    * the shape that survives 100 TB of training data.
    *
    * The exact-join formulation shuffles EVERY training shingle hash to
    * its reducer; at corpus scale that is the full token stream crossing
    * the wire to intersect with a benchmark set millions of times smaller.
    * Here the benchmark hashes are folded into a driver-built Bloom filter
    * (~1.2 bytes/item at 1% fpp — a few MB for a benchmark suite), shipped
    * to every task as a binary literal, and probed by Spark's codegen'd
    * might-contain expression; only the hashes that pass (true overlaps +
    * fpp of the rest) enter the confirming equi-join. False positives are
    * eliminated there, so the result is bit-identical to the exact
    * operator — the filter changes the data volume, never the answer.
    * Same contract as [[contaminatedDocs]]: (idCol, n_shared_ngrams).
    */
  def bloomContaminatedDocs(training: DataFrame, benchmark: DataFrame,
                            idCol: String, textCol: String, k: Int = 8,
                            fpp: Double = 0.01): DataFrame = {
    val th = Dedup.pooledShingleSets(training, idCol, textCol, k)
      .select(col(idCol), explode(col("hset")).as("h"))
    val (bh, bytes) = benchBloom(benchmark, idCol, textCol, k, fpp)
    th.filter(graft.plans.GraftFunctions.mightContainNative(lit(bytes), col("h")))
      .join(bh, "h")
      .groupBy(col(idCol))
      .agg(countDistinct(col("h")).as("n_shared_ngrams"))
  }

  /** Distinct benchmark shingle hashes (persistTracked — they feed the
    * Bloom build AND the confirm join) plus the serialized Bloom filter
    * over them. One source of the filter-construction policy for
    * [[bloomContaminatedDocs]] and [[bloomPrefilterStats]]. */
  private def benchBloom(benchmark: DataFrame, idCol: String, textCol: String,
                         k: Int, fpp: Double): (DataFrame, Array[Byte]) = {
    val bh = OperatorCaches.persistTracked(
      Dedup.shingleSets(benchmark, idCol, textCol, k)
        .select(explode(col("hset")).as("h")).distinct())
    val bloom = bh.stat.bloomFilter("h", math.max(bh.count(), 1L), fpp)
    val bos = new java.io.ByteArrayOutputStream()
    bloom.writeTo(bos)
    (bh, bos.toByteArray)
  }

  /** Measurement hook for the prefilter's shuffle-volume claim:
    * (total training hashes, hashes passing the Bloom probe, serialized
    * filter size in bytes) under exactly the filter
    * [[bloomContaminatedDocs]] would build — evidence stays in sync with
    * the operator by construction. */
  def bloomPrefilterStats(training: DataFrame, benchmark: DataFrame,
                          idCol: String, textCol: String, k: Int = 8,
                          fpp: Double = 0.01): (Long, Long, Int) = {
    val (_, bytes) = benchBloom(benchmark, idCol, textCol, k, fpp)
    val th = OperatorCaches.persistTracked(
      Dedup.pooledShingleSets(training, idCol, textCol, k)
        .select(col(idCol), explode(col("hset")).as("h")))
    val total = th.count()
    val kept = th.filter(
      graft.plans.GraftFunctions.mightContainNative(lit(bytes), col("h"))).count()
    (total, kept, bytes.length)
  }

  /** Intra-document dedup: drop repeated sentences WITHIN each document
    * (the boilerplate/navigation-chrome remover that runs before
    * corpus-level dedup), keeping each sentence's first occurrence and
    * reassembling in original order. One explode + two groupBy shuffles
    * keyed by doc — same scale shape as [[gopherSignals]]; the rebuilt
    * text never leaves the executors except as requested output.
    * Returns (idCol, n_sentences, n_unique, cleaned). */
  def dedupSentences(docs: DataFrame, idCol: String, textCol: String,
                     sep: String = ". "): DataFrame = {
    val sepRegex = java.util.regex.Pattern.quote(sep)
    val sent = docs.select(col(idCol),
      posexplode(split(col(textCol), sepRegex)).as(Seq("pos", "snt")))
    val firsts = sent.groupBy(col(idCol), col("snt"))
      .agg(min(col("pos")).as("pos"), count(lit(1)).as("cnt"))
    // n_sentences = Σ occurrence counts — carried through the existing
    // aggregation, so the text column is scanned exactly once
    val rebuilt = firsts.groupBy(col(idCol))
      .agg(sum(col("cnt")).as("n_sentences"),
        count(lit(1)).as("n_unique"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("snt")))),
          s => s.getField("snt")), sep).as("cleaned"))
    // left join from the (id-only, text-pruned) doc list: a null-text doc
    // re-enters with null stats instead of silently vanishing — the same
    // convention as gopherSignals' zero-count re-entry
    docs.select(col(idCol)).join(rebuilt, Seq(idCol), "left")
  }

  /** CROSS-document line dedup (the C4 discipline, Raffel et al. 2020 —
    * public): drop every repeated sentence/line CORPUS-WIDE, keeping only
    * its globally first occurrence (minimum (doc, pos) pair), and
    * reassemble each document from its surviving lines in original
    * order. The cross-doc twin of [[dedupSentences]]: boilerplate that
    * recurs ACROSS pages (navigation chrome, cookie banners, license
    * headers) appears exactly once in the training set.
    *
    * Scale shape: posexplode streams from the scan; ONE shuffle keyed by
    * the line for the global keeper aggregation (map-side-combinable min
    * over (doc, pos) structs — lexicographic struct order IS the
    * "globally first" contract); the keeper frame joins back on the same
    * line key; the rebuild is one groupBy(doc). Nothing doc×doc, no
    * windows over the corpus. A doc whose every line first appeared
    * elsewhere re-enters with n_kept = 0 and empty cleaned.
    * Returns (idCol, n_lines, n_kept, cleaned). */
  def dedupLinesGlobal(docs: DataFrame, idCol: String, textCol: String,
                       sep: String = ". "): DataFrame = {
    val sepRegex = java.util.regex.Pattern.quote(sep)
    val sent = docs.select(col(idCol),
      posexplode(split(col(textCol), sepRegex)).as(Seq("pos", "snt")))
    val keepers = sent.groupBy(col("snt"))
      .agg(min(struct(col(idCol), col("pos"))).as("keep"))
      .select(col("snt"), col("keep").getField(idCol).as("__kid"),
        col("keep").getField("pos").as("__kpos"))
    val kept = sent.join(keepers, "snt")
      .filter(col(idCol) === col("__kid") && col("pos") === col("__kpos"))
    val rebuilt = kept.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("snt")))),
          s => s.getField("snt")), sep).as("cleaned"))
    val counts = sent.groupBy(col(idCol)).agg(count(lit(1)).as("n_lines"))
    docs.select(col(idCol)).join(counts, Seq(idCol), "left")
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_lines"), lit(0L)).as("n_lines"), // null-text docs
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("cleaned"), lit("")).as("cleaned"))
  }

  /** Deterministic training shuffle: the final pre-training step — a
    * reproducible pseudo-random permutation of the corpus into `nShards`
    * shards with a stable position inside each. The permutation key is
    * md5("salt|id") (engine-portable, partitioning-invariant — the same
    * discipline as [[stratifiedHashSample]]), so any engine, any cluster
    * size, any rerun produces the identical shard layout; seeded-RNG
    * shuffles do not survive a repartition, let alone an engine swap.
    * shard = key mod nShards; position = rank of the key inside the
    * shard (a per-shard window — parallel across shards, never a global
    * sort). Ties are impossible: distinct ids give distinct 60-bit keys
    * (collision odds at corpus scale are ~n²/2^61 — and a collision only
    * swaps two neighbors). */
  def trainingShuffle(docs: DataFrame, idCol: String, nShards: Int,
                      salt: String = "shuf"): DataFrame = {
    require(nShards >= 1, s"nShards must be >= 1 (got $nShards)")
    require(!Set("pos", "shard", "__key", "__shard").contains(idCol),
      s"trainingShuffle reserves the column names pos/shard/__key/__shard; " +
        s"rename the id column (got '$idCol')")
    val key = md5Long(concat(lit(salt + "|"), col(idCol)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__shard")).orderBy(col("__key"), col(idCol))
    docs.select(col(idCol), key.as("__key"))
      .withColumn("__shard", pmod(col("__key"), lit(nShards.toLong)))
      .withColumn("pos", row_number().over(w).cast("long"))
      .select(col(idCol), col("__shard").as("shard"), col("pos"))
  }

  /** Deterministic stratified sampling: keep a row iff
    * md5("salt|id") mod 100 < rate(stratum). The gate depends only on row
    * identity — reproducible across engines, partitionings, and reruns
    * (the property that makes a 100 TB sample auditable), unlike
    * seeded-RNG `sample()` whose draw order is partition-dependent.
    * `rates` maps stratum value → percentage [0,100]; unlisted strata use
    * `defaultRate`. */
  def stratifiedHashSample(df: DataFrame, idCol: String, strataCol: String,
                           rates: Seq[(String, Int)], defaultRate: Int,
                           salt: String = "strat"): DataFrame = {
    require((defaultRate +: rates.map(_._2)).forall(r => r >= 0 && r <= 100),
      "rates are percentages in [0, 100]")
    val rate = rates.foldRight(lit(defaultRate)) { case ((k, r), acc) =>
      when(col(strataCol) === k, lit(r)).otherwise(acc)
    }
    df.filter(pmod(md5Long(concat(lit(salt + "|"), col(idCol))), lit(100L)) < rate)
  }

  /** l-diversity report assembly from a per-group frame carrying
    * `gsz` (member count) and `l` (distinct sensitive values): groups
    * histogrammed by l with l < 3 flagged — the derivation SHARED by
    * batch q275 and the streaming monitor's serving path, so the
    * streamed report is the batch report by construction once the
    * inputs merge (sizes are additive; the distinct (group, value)
    * pair set unions — a group counts as diverse when its values span
    * WAVES, which per-batch l's could never see). */
  def lDiversityReport(groups: DataFrame): DataFrame =
    groups.groupBy(col("l").as("l_distinct"))
      .agg(count(lit(1)).as("n_groups"), sum(col("gsz")).as("n_rows"))
      .select(col("l_distinct"), col("n_groups"), col("n_rows"),
        (col("l_distinct") < 3L).as("risky"))
}
