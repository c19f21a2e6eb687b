package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._

/** Corpus-level statistical scoring for training-data curation: unigram
  * language-model typicality scores, cross-document duplicated-span
  * detection (the span-granular exact dedup of "Deduplicating Training
  * Data Makes Language Models Better", Lee et al. 2022, done with
  * fingerprint postings instead of a suffix array), and Count-Min-sketch
  * heavy-hitter extraction with an exact confirm pass.
  *
  * Design rules shared by all three:
  *   - every score is EXACT RATIONAL arithmetic (integer numerators and
  *     denominators, one final correctly-rounded IEEE division), so results
  *     are bit-identical across engines — no transcendentals, whose libm
  *     rounding is engine-private (the discipline from q27's tf·N/df);
  *   - every shuffle key is either a value column or an md5-derived 60-bit
  *     fingerprint ([[graft.functions.TextFunctions.md5Long]]) — stable in
  *     any engine, so the DuckDB oracle can reproduce the keys verbatim;
  *   - aggregation before join: postings are reduced to per-key counts
  *     (map-side combinable) before anything is joined back, so the wide
  *     side of each join carries counts, never token streams.
  */
object CorpusStats {

  /** Per-document unigram-LM typicality scores against the corpus's own
    * unigram distribution (the CCNet-style "how much does this document
    * look like the corpus" signal, in exact-arithmetic form).
    *
    * Two passes over one tokenization:
    *   1. corpus LM: `groupBy(token) → count` (partial aggregation does the
    *      heavy lifting map-side; the shuffle carries one row per distinct
    *      token);
    *   2. per-doc score: reduce each document's tokens to per-(doc, token)
    *      counts FIRST, join those against the LM on the token key, then
    *      aggregate per document. The token-keyed join input is therefore
    *      |distinct (doc,token) pairs|, not |tokens| — on repetitive web
    *      text that is the difference between shuffling the corpus and
    *      shuffling its vocabulary projection.
    *
    * Scores per document (all exact rationals in doubles):
    *   - `avg_p`: mean unigram probability of the document's tokens,
    *     Σ_tok cnt(tok) / (n_tok · N) — high = built from common words;
    *   - `min_cnt`: corpus count of the document's rarest token — a 1-row
    *     gibberish detector (hapax in the corpus ⇒ 1);
    *   - `rare_frac`: fraction of token POSITIONS whose corpus count is
    *     below `rareBelow` — the mass-based variant of the same signal.
    *
    * At 100 TB: pass 1's shuffle is the distinct vocabulary (Zipf-bounded,
    * ~10⁸ rows — trivial); pass 2 shuffles per-doc distinct postings on the
    * token key and then per-doc partials on doc_id. No broadcast is assumed
    * anywhere: the LM side joins shuffled, so an arbitrarily large
    * vocabulary still works (Catalyst will broadcast it when small enough).
    */
  def unigramLmScore(docs: DataFrame, idCol: String, textCol: String,
                     rareBelow: Long = 100L): DataFrame = {
    val toks = docs.select(col(idCol), explode(tokens(col(textCol))).as("tok"))
    // per-(doc, token) occurrence counts — the projection joined to the LM
    val docTok = toks.groupBy(col(idCol), col("tok"))
      .agg(count(lit(1)).as("k"))
    val lm = toks.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    val n = toks.agg(count(lit(1)).as("n_total"))
    docTok.join(lm, "tok")
      .groupBy(col(idCol))
      .agg(
        sum(col("k")).as("n_tok"),
        sum(col("k") * col("cnt")).as("p_num"),
        min(col("cnt")).as("min_cnt"),
        sum(when(col("cnt") < rareBelow, col("k")).otherwise(0L))
          .as("n_rare"))
      .crossJoin(n)
      .select(
        col(idCol),
        col("n_tok"),
        // exact: long numerator / (long · long) product, one IEEE division
        (col("p_num").cast("double") /
          (col("n_tok") * col("n_total")).cast("double")).as("avg_p"),
        col("min_cnt"),
        (col("n_rare").cast("double") / col("n_tok").cast("double"))
          .as("rare_frac"))
  }

  /** Cross-document duplicated-span detection: every k-token sliding
    * window of every document is fingerprinted (md5-derived 60-bit long,
    * ~1e-13 collision odds corpus-wide); a span fingerprint that occurs in
    * ≥ 2 DISTINCT documents marks all its positions as duplicated. Returns
    * one row per document: total spans, duplicated-span positions, and the
    * duplicated fraction — the per-document "copied text" mass that
    * span-level dedup would remove.
    *
    * Shape: postings are aggregated to per-(fingerprint) doc-counts before
    * the join back (the fingerprint-keyed shuffle carries one row per
    * distinct span, not per position), and the join back to positions is a
    * semi-join against the duplicated subset only — on mostly-unique
    * corpora the duplicated set is a sliver, so the second shuffle is
    * near-empty. No arrays cross a shuffle: spans live inside a per-row
    * higher-order transform, positions explode to (doc, fp) pairs only.
    */
  def duplicatedSpans(docs: DataFrame, idCol: String, textCol: String,
                      k: Int = 8): DataFrame = {
    val withToks = docs.select(col(idCol), tokens(col(textCol)).as("t"))
    val posting = withToks
      .select(col(idCol), explode(graft.plans.GraftFunctions.shingleHashesNative(col("t"), k)).as("fp"))
    // one row per distinct span fingerprint, with its distinct-doc count
    val dupFps = posting.groupBy(col("fp"))
      .agg(countDistinct(col(idCol)).as("n_docs"))
      .filter(col("n_docs") >= 2)
      .select(col("fp"))
    val dupPos = posting.join(dupFps, "fp")
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_dup"))
    withToks
      .select(col(idCol),
        greatest(size(col("t")) - (k - 1), lit(0)).cast("long").as("n_spans"))
      .join(dupPos, Seq(idCol), "left")
      .select(
        col(idCol),
        col("n_spans"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"),
        when(col("n_spans") > 0,
          coalesce(col("n_dup"), lit(0L)).cast("double") /
            col("n_spans").cast("double"))
          .otherwise(lit(0.0)).as("dup_frac"))
  }

  /** Count-Min-sketch parameters: `depth` independent universal hash rows
    * (reusing the MinHash (a,b) pairs — fixed public constants shared with
    * the oracle SQL) of `width` counters each. */
  final case class CmsParams(depth: Int = 4, width: Int = 1024) {
    require(depth >= 1 && depth <= MinhashA.length, s"depth 1..${MinhashA.length}")
  }

  /** Build the Count-Min sketch of a token column as a (row, cell) → count
    * DataFrame: `depth × width` counters, each the exact sum of the tokens
    * hashing into it. The build is ONE map-side-combinable aggregation over
    * the exploded (row, cell) keys — at any scale the shuffle is bounded by
    * depth·width rows per map task, not by data volume. The sketch is
    * mergeable across batches by summing cells (same partial→final
    * topology as the HLL partials in q99).
    */
  def cmsSketch(toksCol: DataFrame, tokCol: String,
                p: CmsParams = CmsParams()): DataFrame = {
    val h = md5Long(col(tokCol)) % MinhashP
    val cells = array((0 until p.depth).map { j =>
      struct(lit(j).as("row"),
        (((lit(MinhashA(j)) * h + MinhashB(j)) % MinhashP) % p.width)
          .as("cell"))
    }: _*)
    toksCol.select(explode(cells).as("rc"))
      .select(col("rc.row").as("row"), col("rc.cell").as("cell"))
      .groupBy(col("row"), col("cell"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Heavy hitters (tokens with exact frequency ≥ `threshold`) via
    * CMS-prefilter + exact confirm:
    *   1. reduce the posting to its vocabulary-sized (token, n) frame —
    *      ONE map-side-combinable shuffle, the only aggregation that sees
    *      full data (an exact-confirmed heavy-hitter answer needs at least
    *      one vocabulary enumeration; the previous formulation paid this
    *      twice — a `distinct` for candidates plus a semi-joined recount);
    *   2. build the sketch from the weighted vocabulary (identical cells
    *      to summing raw occurrences; bounded depth×width shuffle) —
    *      mergeable across batches by cell-sum, the partial→final
    *      topology a streaming/batch split actually uses;
    *   3. estimate each token as the min over its `depth` cells — CMS
    *      never underestimates, so `estimate ≥ threshold` is a SUPERSET
    *      of the true heavy hitters (no false negatives, the
    *      Bloom-decontamination guarantee shape);
    *   4. exact confirm: apply the true threshold to the candidates' exact
    *      counts (already in hand from step 1 — no second corpus pass).
    * Output is EXACT (the sketch only prunes), so the oracle is plain
    * threshold SQL. */
  def cmsHeavyHitters(docs: DataFrame, textCol: String, threshold: Long,
                      p: CmsParams = CmsParams()): DataFrame = {
    val termCounts = OperatorCaches.persistTracked(
      docs.select(explode(tokens(col(textCol))).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("n")))
    val h = md5Long(col("tok")) % MinhashP
    val cellCols = (0 until p.depth).map { j =>
      (((lit(MinhashA(j)) * h + MinhashB(j)) % MinhashP) % p.width).as(s"c$j")
    }
    val withCells = termCounts.select(col("tok") +: col("n") +: cellCols: _*)
    // sketch cells from the weighted vocabulary — Σ n over a cell's tokens
    // ≡ the raw-occurrence cell sum, the same mergeable counters
    val cells = array((0 until p.depth).map { j =>
      struct(lit(j).as("row"), col(s"c$j").as("cell"))
    }: _*)
    val sketch = OperatorCaches.persistTracked(
      withCells.select(explode(cells).as("rc"), col("n"))
        .select(col("rc.row").as("row"), col("rc.cell").as("cell"), col("n"))
        .groupBy(col("row"), col("cell"))
        .agg(sum(col("n")).as("cnt")))
    // estimate = min over the token's depth cells
    val est = (0 until p.depth).foldLeft(withCells) { (acc, j) =>
      acc.join(
        sketch.filter(col("row") === j)
          .select(col("cell").as(s"c$j"), col("cnt").as(s"cnt$j")),
        Seq(s"c$j"))
    }.select(col("tok"), col("n"),
      least((0 until p.depth).map(j => col(s"cnt$j")): _*).as("est"))
    est.filter(col("est") >= threshold) // CMS prune: superset of the truth
      .filter(col("n") >= threshold)    // exact confirm, no second pass
      .select(col("tok"), col("n").as("cnt"))
  }

  /** DSIR-style hashed n-gram importance weighting (Xie et al. 2023,
    * "Data Selection for Language Models via Importance Resampling"), in
    * the exact-rational form this engine's oracle discipline demands.
    *
    * DSIR scores each raw document by how much more likely its hashed
    * n-gram features are under a TARGET distribution (e.g. Wikipedia-like
    * text) than under the RAW pool's own distribution, then resamples by
    * that weight. The published form uses log-probability ratios; ln()'s
    * libm rounding is engine-private, so this variant reports the
    * probability ratio itself as one IEEE division of two exact
    * integer-product doubles (correctly-rounded and bit-identical in any
    * engine — the q117/q27 discipline):
    *
    *   dsir_w(d) = (Σ_b k_b·t_b · N_r) / (Σ_b k_b·r_b · N_t)
    *
    * where k_b = doc d's count of hashed-bigram bucket b, t_b / r_b = the
    * target / raw pool's bucket counts, N_t / N_r their totals — i.e. the
    * mean target-probability of the doc's features over their mean
    * raw-probability. Monotone in the same direction as the published
    * log-ratio for unigram-factored scoring, and hash-checkable.
    *
    * Shape at 100 TB: feature hashing bounds BOTH distribution frames at
    * `buckets` rows however big the corpus is — the bucket-stats frame is
    * aggregated map-side, broadcast back onto the per-doc bucket counts,
    * and the only corpus-scale shuffles are the (doc, bucket) reduce and
    * the final per-doc reduce. Nothing all-pairs, nothing driver-side.
    * BIGINT bound: Σ k·t ≤ n_feat(doc)·N_t — past ~1e18 (N_t ≈ 1e13 with
    * 1e5-token docs) seed the products in DECIMAL(38,0); at any plausible
    * target-set size the BIGINT form below is exact, and the final doubles
    * are engine-identical regardless because both sides round the same
    * BIGINT values the same way.
    */
  def dsirAffinity(docs: DataFrame, idCol: String, textCol: String,
                   isTarget: Column, buckets: Int = 4096): DataFrame = {
    require(buckets > 0, "buckets must be positive")
    // one tokenization; hashed-bigram feature stream (positions, not set)
    val feats = docs
      .select(col(idCol), isTarget.as("__tgt"), tokens(col(textCol)).as("t"))
      .select(col(idCol), col("__tgt"),
        explode(graft.plans.GraftFunctions.shingleHashesNative(col("t"), 2)).as("fp"))
      .select(col(idCol), col("__tgt"), (col("fp") % buckets).as("b"))
    // per-doc feature counts — the (doc, bucket) projection
    val kb = feats.groupBy(col(idCol), col("b")).agg(count(lit(1)).as("k"))
    // bucket-hashed target and raw distributions in ONE pass (≤ buckets rows)
    val dist = feats.groupBy(col("b")).agg(
      count(lit(1)).as("r"),
      sum(when(col("__tgt"), 1L).otherwise(0L)).as("tc"))
    val totals = dist.agg(sum(col("r")).as("n_r"), sum(col("tc")).as("n_t"))
    kb.join(broadcast(dist), "b")
      .groupBy(col(idCol))
      .agg(
        sum(col("k")).as("n_feat"),
        sum(col("k") * col("tc")).as("t_dot"),
        sum(col("k") * col("r")).as("r_dot"))
      .crossJoin(broadcast(totals))
      .select(
        col(idCol),
        col("n_feat"),
        col("t_dot"),
        col("r_dot"),
        // r_dot ≥ n_feat > 0 (every doc feature is in the raw pool), so
        // the denominator is never zero for an emitted row
        when(col("n_t") > 0,
          (col("t_dot").cast("double") * col("n_r").cast("double")) /
            (col("r_dot").cast("double") * col("n_t").cast("double")))
          .otherwise(lit(0.0)).as("dsir_w"))
  }

  /** Benchmark-contamination MASS per training document: the fraction of
    * the doc's k-token sliding windows that occur verbatim in a benchmark
    * document set — the ratio extension of the boolean decontamination
    * gate (q77/q92: "has ≥1 colliding n-gram"), needed when the policy is
    * threshold-based ("drop if > x% overlapped") rather than any-hit.
    *
    * Same posting shape as [[duplicatedSpans]]: span fingerprints are
    * md5-derived 60-bit longs, the benchmark's fingerprint set is
    * distinct-reduced BEFORE the join (its size is the benchmark's span
    * vocabulary, tiny next to the training corpus — Catalyst broadcasts
    * it at real scale, and the Bloom prefilter of
    * [[Quality.bloomContaminatedDocs]] composes in front of this join
    * unchanged when even that set is too big to ship), and the fp-keyed
    * join carries per-position rows only for training docs. Output: one
    * row per training (non-benchmark) document — total spans, overlapped
    * span positions, overlap fraction.
    */
  def spanContamination(docs: DataFrame, idCol: String, textCol: String,
                        isBench: Column, k: Int = 8): DataFrame = {
    val withT = docs.select(col(idCol), isBench.as("__b"),
      tokens(col(textCol)).as("t"))
    val spans = withT.select(col(idCol), col("__b"),
      explode(graft.plans.GraftFunctions.shingleHashesNative(col("t"), k)).as("fp"))
    val benchFps = spans.filter(col("__b")).select(col("fp")).distinct()
    val hits = spans.filter(!col("__b"))
      .join(benchFps, "fp")
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_hit"))
    withT.filter(!col("__b"))
      .select(col(idCol),
        greatest(size(col("t")) - (k - 1), lit(0)).cast("long").as("n_spans"))
      .join(hits, Seq(idCol), "left")
      .select(
        col(idCol),
        col("n_spans"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        when(col("n_spans") > 0,
          coalesce(col("n_hit"), lit(0L)).cast("double") /
            col("n_spans").cast("double"))
          .otherwise(lit(0.0)).as("contam_frac"))
  }

  /** Systematic (fixed-interval) weighted sampling: walk the cumulative
    * integer-weight axis in a total order and keep every row whose weight
    * interval `(cum − w, cum]` contains a multiple of `step` — the classic
    * particle-filter / PPS-systematic scheme, picked over
    * Efraimidis–Spirakis exponential keys because it is EXACT integer
    * arithmetic end to end (u^(1/w) keys need pow(), whose rounding is
    * engine-private). `picks = ⌊cum/step⌋ − ⌊(cum−w)/step⌋` is also the
    * row's multiplicity for weight-proportional replication.
    *
    * The cumulative weight comes from [[PrefixSum.rankedRunningSum]] — the
    * range-partition + broadcast-offset prefix sum, so there is no
    * single-partition window anywhere and the shape survives any corpus
    * size. `sortExprs` must be a total order (tiebreak included).
    */
  def systematicWeightedSample(df: DataFrame, sortExprs: Seq[Column],
                               weight: Column, step: Long): DataFrame = {
    require(step > 0, "step must be positive")
    val (withCum, _) = PrefixSum.rankedRunningSum(
      df.withColumn("__w", weight.cast("long")), sortExprs,
      col("__w"), rnCol = "__rn", cumCol = "cum_w")
    withCum
      // integer DIV keeps the multiplicity exact at any cumulative-weight
      // magnitude (a double division would wobble past 2^53)
      .withColumn("picks",
        expr(s"(cum_w DIV $step) - ((cum_w - __w) DIV $step)"))
      .filter(col("picks") > 0)
      .drop("__w", "__rn")
  }

  /** Per-document CONDITIONAL bigram-LM typicality — the order-sensitive
    * upgrade of [[unigramLmScore]] (a doc built from common words in an
    * uncommon order scores high there but low here). For every bigram
    * occurrence (w1,w2) the model probability is c(w1,w2)/c(w1·) — corpus
    * bigram count over corpus bigram-PREFIX count — and the document score
    * is the mean over its bigram positions.
    *
    * Exact-arithmetic form (the q138 BM25 discipline): each conditional
    * probability becomes the fixed-point integer ⌊c(w1,w2)·10⁹ / c(w1·)⌋,
    * evaluated with a DECIMAL(38,0)-seeded numerator so the product cannot
    * wrap at any corpus size; per-doc sums of those integers stay exact in
    * BIGINT (each term ≤ 10⁹, so a doc needs 2⁶³⁻³⁰ ≈ 8·10⁹ tokens to
    * overflow — no document is 8 billion tokens). One final IEEE division
    * renders the mean as a double; `avg_p9` keeps the all-integer floor
    * form, bit-stable in any engine.
    *
    * Scale shape, identical to the unigram pass: documents are reduced to
    * per-(doc, bigram) counts BEFORE joining the LM — the bigram-keyed
    * join input is |distinct (doc,bigram)|, not |tokens|; the LM and
    * prefix frames are vocabulary²-bounded (Zipf-tiny against the corpus)
    * and join shuffled, with Catalyst free to broadcast them when small. */
  def bigramLmScore(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val arr = docs.select(col(idCol), tokens(col(textCol)).as("s"))
    val bi = arr.filter(size(col("s")) >= 2)
      .select(col(idCol), explode(expr(
        "transform(sequence(1, size(s)-1), i -> struct(s[i-1] AS w1, s[i] AS w2))"))
        .as("b"))
      .select(col(idCol), col("b.w1"), col("b.w2"))
    val dt = bi.groupBy(col(idCol), col("w1"), col("w2"))
      .agg(count(lit(1)).as("k"))
    val bg = bi.groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
    val pw = bg.groupBy("w1").agg(sum("cb").as("cw"))
    dt.join(bg, Seq("w1", "w2")).join(pw, Seq("w1"))
      .withColumn("q",
        expr("CAST((CAST(cb AS DECIMAL(38,0)) * 1000000000) DIV cw AS BIGINT)"))
      .groupBy(col(idCol))
      .agg(sum(col("k")).as("n_bi"),
        sum(col("k") * col("q")).as("p9_sum"))
      .select(col(idCol), col("n_bi"),
        expr("p9_sum DIV n_bi").as("avg_p9"),
        (col("p9_sum").cast("double") /
          (col("n_bi") * lit(1000000000L)).cast("double")).as("avg_p"))
  }

  /** Collocation extraction by PMI lift: the top-N unordered token pairs
    * co-occurring within a ±`window` position window, ranked by
    * p(a,b) / (p(a)·p(b)) — the corpus-analysis primitive behind phrase
    * vocabularies, multi-word-expression mining, and word2vec-era
    * co-occurrence statistics. The raw lift ratio replaces log-PMI: the
    * ranking is identical (log is monotone) and the ratio is ONE IEEE
    * division of two exactly-computed BIGINT products, so results are
    * bit-identical across engines where log's libm rounding is not.
    *
    * The pair stream is built by `window` LINEAR passes over the token
    * arrays (one offset-d zip per d ≤ window, exploded and unioned) — a
    * map-side-only expansion of ≤ window·N rows; no positional self-join
    * touches the corpus. The only shuffles are vocabulary-shaped
    * aggregations (pair counts, token counts) plus two one-row totals that
    * broadcast back. `minPairCount` prunes the hapax-pair tail BEFORE the
    * count joins, which is what keeps the joined frame collocation-sized
    * rather than vocabulary²-sized.
    *
    * 64-bit bound, documented AND enforced: the numerator c(a,b)·N² with
    * c(a,b) ≤ w·N needs w·N³ < 2⁶³, which holds to N ≈ 1.4·10⁸ tokens at
    * w=3; past that, seed the products with DECIMAL(38,0) exactly as
    * [[bigramLmScore]] does (kept in BIGINT here so the oracle's
    * overflow-CHECKED BIGINT arithmetic independently proves the bound
    * holds on the fixtures). A corpus past the bound would silently wrap
    * in non-ANSI Spark while the oracle raises — so an in-plan
    * `assert_true` on the token total makes the engine fail LOUDLY
    * instead of shipping a corrupted ranking. */
  def pmiCollocations(docs: DataFrame, idCol: String, textCol: String,
                      window: Int = 3, minPairCount: Long = 20L,
                      topN: Int = 50): DataFrame = {
    require(window >= 1, s"window must be >= 1 (got $window)")
    val arr = docs.select(col(idCol), tokens(col(textCol)).as("s"))
    val toks = arr.select(explode(col("s")).as("w"))
    val pairs = (1 to window).map { d =>
      arr.filter(size(col("s")) > d).select(explode(expr(
        s"""transform(sequence(1, size(s)-$d),
           |  i -> struct(least(s[i-1], s[i+$d-1]) AS w1,
           |              greatest(s[i-1], s[i+$d-1]) AS w2))""".stripMargin))
        .as("pr"))
    }.reduce(_ unionAll _).select(col("pr.w1"), col("pr.w2"))
    val cw = toks.groupBy("w").agg(count(lit(1)).as("c"))
    // totals derive from the aggregated frames (Σc over the vocabulary,
    // Σcab over the pre-filter pair counts) — never a second scan of the
    // raw token/pair explodes, whose map-side cost dominates the query
    val nTok = cw.agg(sum(col("c")).as("nn"))
    val cpAll = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("cab"))
    val nPair = cpAll.agg(sum(col("cab")).as("npr"))
    val cp = cpAll.filter(col("cab") >= minPairCount)
    // N bound for 64-bit lift products (both numerator and denominator
    // are ≤ w·N³): fail loudly in-plan rather than wrap silently
    val maxN = math.cbrt(Long.MaxValue.toDouble / window).toLong - 1
    cp.join(cw.select(col("w").as("w1"), col("c").as("ca")), Seq("w1"))
      .join(cw.select(col("w").as("w2"), col("c").as("cb")), Seq("w2"))
      .crossJoin(broadcast(nTok))
      .crossJoin(broadcast(nPair))
      .filter(isnull(assert_true(col("nn") <= maxN,
        lit(s"pmiCollocations: corpus token count exceeds the 64-bit lift " +
          s"bound ($maxN at window=$window) — seed the products with " +
          "DECIMAL(38,0) as bigramLmScore does"))))
      .select(col("w1"), col("w2"), col("cab"),
        ((col("cab") * col("nn") * col("nn")).cast("double") /
          (col("npr") * col("ca") * col("cb")).cast("double")).as("lift"))
      .orderBy(desc("lift"), asc("w1"), asc("w2"))
      .limit(topN)
  }

  /** Token-distribution drift between two corpus partitions — the
    * "did the crawl change under us" detector run between snapshots,
    * sources, or time slices before retraining on a refreshed corpus.
    * `sideA` is any boolean partitioning expression; for each token with
    * ≥ `minTotal` total occurrences the add-one-smoothed rate ratio
    *
    *   r = ((c_a+1)/(n_a+1)) / ((c_b+1)/(n_b+1))
    *
    * is computed in fixed-point (⌊·10⁶⌋, DECIMAL-seeded products so the
    * integer form cannot wrap at any corpus size), and the drift score is
    * max(r, 1/r) — symmetric, so a token over-represented on EITHER side
    * ranks. Ratio instead of log-odds / chi-square: monotone for ranking
    * and exact-integer, where log and the χ² division-of-rationals both
    * land on engine-private float summation.
    *
    * Scale shape: ONE tokenize-explode pass, one vocabulary-shaped
    * groupBy carrying both sides' counts as conditional sums (map-side
    * combined), a one-row totals frame broadcast back, and a top-N
    * TakeOrdered. Nothing per-document survives the first aggregation. */
  def tokenDrift(docs: DataFrame, textCol: String, sideA: Column,
                 minTotal: Long = 50L, topN: Int = 30): DataFrame = {
    val toks = docs.select(sideA.as("side_a"),
      explode(tokens(col(textCol))).as("tok"))
    // c_b's branch mirrors the oracle's CASE WHEN side_a THEN 0 ELSE 1
    // exactly: a NULL-valued predicate buckets the token into side B in
    // both engines (a negated when() would drop it from both sides)
    val ct = toks.groupBy("tok").agg(
      sum(when(col("side_a"), lit(1L)).otherwise(lit(0L))).as("c_a"),
      sum(when(col("side_a"), lit(0L)).otherwise(lit(1L))).as("c_b"))
    driftScores(ct, minTotal, topN)
  }

  /** Shared fixed-point scoring tail of both drift forms: `ct` must carry
    * (tok, c_a, c_b). One copy of the smoothing/DECIMAL-seeding
    * arithmetic keeps the batch operator, the counts form, and the
    * streaming monitor provably identical. */
  private def driftScores(ct: DataFrame, minTotal: Long, topN: Int): DataFrame = {
    val tot = ct.agg(sum("c_a").as("n_a"), sum("c_b").as("n_b"))
    ct.filter(col("c_a") + col("c_b") >= minTotal)
      .crossJoin(broadcast(tot))
      .withColumn("r6", expr(
        """CAST((CAST(c_a + 1 AS DECIMAL(38,0)) * (n_b + 1) * 1000000)
          |  DIV (CAST(c_b + 1 AS DECIMAL(38,0)) * (n_a + 1)) AS BIGINT)"""
          .stripMargin))
      .withColumn("rinv6", expr(
        """CAST((CAST(c_b + 1 AS DECIMAL(38,0)) * (n_a + 1) * 1000000)
          |  DIV (CAST(c_a + 1 AS DECIMAL(38,0)) * (n_b + 1)) AS BIGINT)"""
          .stripMargin))
      .select(col("tok"), col("c_a"), col("c_b"),
        greatest(col("r6"), col("rinv6")).as("drift6"))
      .orderBy(desc("drift6"), asc("tok"))
      .limit(topN)
  }

  /** [[tokenDrift]] from two PRE-AGGREGATED count frames (`(tok, c)`
    * each) — the incremental/streaming form: an ingest monitor keeps the
    * accumulated corpus as a count frame and compares each arriving
    * batch's counts against it without ever re-tokenizing history. Same
    * fixed-point arithmetic and the same output contract as the one-pass
    * batch form (proven equivalent in ContainmentCollocationSpec). */
  def tokenDriftFromCounts(countsA: DataFrame, countsB: DataFrame,
                           minTotal: Long = 50L, topN: Int = 30): DataFrame = {
    val a = countsA.select(col("tok"), col("c").cast("long").as("c_a"))
    val b = countsB.select(col("tok"), col("c").cast("long").as("c_b"))
    val ct = a.join(b, Seq("tok"), "full_outer")
      .select(col("tok"),
        coalesce(col("c_a"), lit(0L)).as("c_a"),
        coalesce(col("c_b"), lit(0L)).as("c_b"))
    driftScores(ct, minTotal, topN)
  }

  /** Per-doc token counts reduced to a `(tok, c)` frame — the partial the
    * drift monitor accumulates per batch. */
  def tokenCounts(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(tokens(col(textCol))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c"))

  /** The per-source DATASET CARD (q167's operator form, shared with the
    * Refinery pipeline): one row per source with volume (docs, tokens,
    * mean length), exact-copy duplication ([[md5]] multiplicity), and
    * span novelty vs every other source ([[sourceNovelty]], left-joined —
    * a source with no k-token doc reports null novelty). */
  def datasetCard(docs: DataFrame, sourceCol: String, textCol: String,
                  k: Int = 8): DataFrame = {
    val base = docs.select(col(sourceCol).as("source"), md5(col(textCol)).as("k"),
      size(tokens(col(textCol))).cast("long").as("ntok"))
    val m = base.groupBy("k").agg(count(lit(1)).as("m"))
    val core = base.join(m, "k").groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      sum(when(col("m") > 1, lit(1L)).otherwise(lit(0L))).as("n_dup"),
      sum(col("ntok")).as("n_tokens"))
    val nov = sourceNovelty(docs, sourceCol, textCol, k)
      .select(col("source"), col("novelty"))
    core.join(nov, Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("n_dup"),
        (col("n_dup").cast("double") / col("n_docs").cast("double"))
          .as("dup_frac"),
        col("n_tokens"),
        (col("n_tokens").cast("double") / col("n_docs").cast("double"))
          .as("mean_tokens"),
        col("novelty"))
  }

  /** Per-source novelty mass — "what does this source add": for each
    * source, the fraction of its distinct k-token span fingerprints found
    * in NO other source. The marginal-utility signal behind source
    * acquisition and mixture-weighting decisions (a crawl that is 95%
    * spans every other source already has buys almost nothing).
    *
    * Shape: one span-fingerprint explode (the [[spanContamination]]
    * machinery), reduced to DISTINCT (source, fp) immediately — the only
    * corpus-scale shuffle, keyed by the 60-bit fingerprint. The per-fp
    * source count then joins back on the same fp key (partitioning
    * reused) and collapses to one row per source. Exact-integer counts,
    * one final IEEE division per source. */
  def sourceNovelty(docs: DataFrame, sourceCol: String, textCol: String,
                    k: Int = 8): DataFrame = {
    val withT = docs.select(col(sourceCol).as("source"),
      tokens(col(textCol)).as("t"))
    val fps = withT
      .select(col("source"),
        explode(graft.plans.GraftFunctions.shingleHashesNative(col("t"), k)).as("fp"))
      .distinct()
    val ns = fps.groupBy("fp").agg(count(lit(1)).as("ns"))
    fps.join(ns, "fp")
      .groupBy("source")
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("ns") === 1, lit(1L)).otherwise(lit(0L))).as("n_unique"))
      .select(col("source"), col("n_spans"), col("n_unique"),
        (col("n_unique").cast("double") / col("n_spans").cast("double"))
          .as("novelty"))
  }

  /** Per-source KMV (k-minimum-values) shingle sketch: each source's
    * `sketchK` smallest DISTINCT 60-bit k-gram shingle hashes — order
    * statistics of a uniform hash, so two sources' sketches are
    * comparable bounded samples of their shingle spaces. Shared by the
    * q187 overlap report and the streaming maintenance sink
    * (EventStreams.kmvSketchSink); deterministic by construction (order
    * statistics, not sampling). The per-source top-K window is
    * source-keyed, never global. */
  def kmvSourceSketch(docs: DataFrame, srcCol: String, textCol: String,
                      k: Int = 3, sketchK: Int = 256): DataFrame = {
    val sh = docs.filter(size(split(col(textCol), " ")) >= k)
      .select(col(srcCol).as("source"), explode(
        graft.plans.GraftFunctions.shingleHashesNative(
          split(col(textCol), " "), k)).as("h"))
      .distinct()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("h"))
    sh.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= sketchK).select(col("source"), col("h"))
  }

  /** Gini concentration of a (source, x) volume frame — the shared core
    * of q192 and the streaming balance monitor: with volumes ranked
    * ascending (ties by source), gini = (2·Σ r·x − (n+1)·Σx)/(n·Σx),
    * exact integers until one final double division. The rank window
    * runs over the SOURCE-sized frame. Returns one row
    * (n_sources, total_tokens, gini). */
  def giniFromVolumes(volumes: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("x"), col("source"))
    volumes.select(col("source"), col("x").cast("long").as("x"))
      .withColumn("r", row_number().over(w).cast("long"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("tot"),
        sum(col("r") * col("x")).as("srx"))
      .select(col("n").as("n_sources"), col("tot").as("total_tokens"),
        ((lit(2L) * col("srx") - (col("n") + lit(1L)) * col("tot"))
          .cast("double") /
          (col("n") * col("tot")).cast("double")).as("gini"))
  }

  /** Merge per-subset KMV sketch partials into the sketch of the UNION
    * of their document sets — KMV's order-statistic mergeability: any
    * hash among the union's sketchK smallest for a source must, inside
    * the part containing it, be among THAT part's sketchK smallest
    * (otherwise the part already holds sketchK smaller hashes, all in
    * the union — contradiction). So dedup + re-rank over the stacked
    * partials is EXACTLY the full-corpus sketch, never an
    * approximation of it; history is never re-shingled. Parts must be
    * (source, h) frames produced with the same k and an equal-or-larger
    * sketchK. */
  def mergeKmvSketches(parts: DataFrame, sketchK: Int = 256): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("h"))
    parts.select(col("source"), col("h")).distinct()
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= sketchK).select(col("source"), col("h"))
  }
}
