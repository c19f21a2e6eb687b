package graft.queries

import org.apache.spark.sql.functions._

import graft.operators.CorpusStats
import Q._

/** Corpus-statistics surface for training-data curation: unigram-LM
  * typicality scoring, span-granular exact duplication measurement,
  * systematic weighted sampling, and sketch-prefiltered heavy hitters.
  * All exact-arithmetic (rational scores, md5-derived fingerprints) so
  * every query is hash-checked against the DuckDB oracle — see
  * [[graft.operators.CorpusStats]] for the shared design rules.
  */
object CorpusQueries {

  val specs: Seq[QuerySpec] = Seq(

    // Unigram-LM typicality: score every document against the corpus's own
    // unigram distribution (CCNet-style LM filtering, exact-rational form —
    // avg token probability instead of perplexity, because ln()'s libm
    // rounding is engine-private while Σcnt/(n·N) is one IEEE division).
    QuerySpec("q117_unigram_lm",
      (s, d) => CorpusStats.unigramLmScore(
        t(s, d, "documents"), "doc_id", "text", rareBelow = 100L)
        .orderBy("doc_id"),
      Some("""WITH tokd AS (
             |  SELECT doc_id, unnest(string_split(text,' ')) AS tok FROM documents
             |), dt AS (
             |  SELECT doc_id, tok, count(*) AS k FROM tokd GROUP BY doc_id, tok
             |), lm AS (
             |  SELECT tok, count(*) AS cnt FROM tokd GROUP BY tok
             |), n AS (SELECT count(*) AS n_total FROM tokd),
             |agg AS (
             |  SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_tok,
             |    CAST(sum(k * cnt) AS BIGINT) AS p_num,
             |    min(cnt) AS min_cnt,
             |    CAST(sum(CASE WHEN cnt < 100 THEN k ELSE 0 END) AS BIGINT) AS n_rare
             |  FROM dt JOIN lm USING (tok) GROUP BY doc_id)
             |SELECT doc_id, n_tok,
             |  CAST(p_num AS DOUBLE) / CAST(n_tok * n_total AS DOUBLE) AS avg_p,
             |  min_cnt,
             |  CAST(n_rare AS DOUBLE) / CAST(n_tok AS DOUBLE) AS rare_frac
             |FROM agg CROSS JOIN n ORDER BY doc_id""".stripMargin)),

    // Span-granular exact duplication (Lee et al. 2022, fingerprint-posting
    // form): fraction of each document's 8-token sliding windows that also
    // occur verbatim in some OTHER document. The oracle rebuilds the same
    // md5-derived 60-bit span fingerprints with a DuckDB list comprehension.
    QuerySpec("q118_span_dedup",
      (s, d) => CorpusStats.duplicatedSpans(
        t(s, d, "documents"), "doc_id", "text", k = 8)
        .orderBy("doc_id"),
      Some("""WITH tk AS (
             |  SELECT doc_id, string_split(text,' ') AS t FROM documents
             |), sp AS (
             |  SELECT doc_id,
             |    unnest([('0x' || substr(md5(array_to_string(t[i:i+7],' ')),1,15))::BIGINT
             |            FOR i IN range(1, len(t)-6)]) AS fp
             |  FROM tk WHERE len(t) >= 8
             |), dup AS (
             |  SELECT fp FROM sp GROUP BY fp HAVING count(DISTINCT doc_id) >= 2
             |), dp AS (
             |  SELECT doc_id, count(*) AS n_dup FROM sp JOIN dup USING (fp)
             |  GROUP BY doc_id)
             |SELECT tk.doc_id,
             |  CAST(greatest(len(t)-7, 0) AS BIGINT) AS n_spans,
             |  COALESCE(n_dup, 0) AS n_dup,
             |  CASE WHEN len(t) >= 8
             |    THEN CAST(COALESCE(n_dup,0) AS DOUBLE) / CAST(len(t)-7 AS DOUBLE)
             |    ELSE 0.0 END AS dup_frac
             |FROM tk LEFT JOIN dp USING (doc_id) ORDER BY tk.doc_id""".stripMargin)),

    // Systematic weighted sampling over the cumulative integer-weight axis
    // (every row whose (cum−w, cum] interval contains a multiple of the
    // step; picks = multiplicity). Exact integer arithmetic end to end —
    // and the cumulative sum is the distributed range-partition prefix sum,
    // not a single-partition window (the oracle's global window is the
    // oracle's privilege; see PrefixSum).
    QuerySpec("q119_weighted_sample",
      (s, d) => CorpusStats.systematicWeightedSample(
        t(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity")),
        Seq(col("l_orderkey"), col("l_linenumber")),
        col("l_quantity"), step = 997L)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").cast("long").as("w"), col("cum_w"), col("picks"))
        .orderBy("l_orderkey", "l_linenumber"),
      Some("""WITH c AS (
             |  SELECT l_orderkey, l_linenumber,
             |    CAST(l_quantity AS BIGINT) AS w,
             |    CAST(sum(CAST(l_quantity AS BIGINT)) OVER (
             |      ORDER BY l_orderkey, l_linenumber
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             |      AS cum_w
             |  FROM lineitem)
             |SELECT l_orderkey, l_linenumber, w, cum_w,
             |  (cum_w // 997) - ((cum_w - w) // 997) AS picks
             |FROM c WHERE (cum_w // 997) - ((cum_w - w) // 997) > 0
             |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // Heavy hitters with a Count-Min-sketch prefilter and an exact confirm
    // pass: the output is EXACT (sketch estimates only prune — CMS never
    // underestimates, so candidates ⊇ true heavy hitters), which is why the
    // oracle is plain threshold SQL with no sketch in sight.
    QuerySpec("q124_heavy_hitters",
      (s, d) => CorpusStats.cmsHeavyHitters(
        t(s, d, "documents"), "text", threshold = 900L)
        .orderBy("tok"),
      Some("""SELECT tok, count(*) AS cnt
             |FROM (SELECT unnest(string_split(text,' ')) AS tok FROM documents)
             |GROUP BY tok HAVING count(*) >= 900 ORDER BY tok""".stripMargin)),

    // Mixture/balance sampling across sources (the data-MIXING step):
    // every source downsampled to ≈ the smallest source's size with the
    // deterministic md5-bucket rule at 1/10000 grain — keep-rates are
    // integer thresholds (exact in both engines), membership is a pure
    // function of doc_id, and the achieved per-source kept-counts are
    // hash-checked.
    QuerySpec("q136_mixture_sample",
      (s, d) => {
        val docs = t(s, d, "documents")
        val counts = docs.groupBy(col("source")).agg(count(lit(1)).as("n_orig"))
        val thr = counts
          .crossJoin(counts.agg(min(col("n_orig")).as("mn")))
          .select(col("source"), col("n_orig"),
            expr("(mn * 10000) DIV n_orig").as("thr"))
        val kept = graft.operators.Transforms
          .mixtureBalanceSample(docs, "source", "doc_id")
          .groupBy(col("source")).agg(count(lit(1)).as("n_kept"))
        thr.join(kept, Seq("source"), "left")
          .select(col("source"), col("n_orig"), col("thr"),
            coalesce(col("n_kept"), lit(0L)).as("n_kept"))
          .orderBy("source")
      },
      Some("""WITH c AS (
             |  SELECT source, count(*) AS n_orig FROM documents GROUP BY source
             |), m AS (SELECT min(n_orig) AS mn FROM c),
             |kept AS (
             |  SELECT d.source, count(*) AS n_kept
             |  FROM documents d JOIN c USING (source) CROSS JOIN m
             |  WHERE ('0x' || substr(md5(d.doc_id::VARCHAR),1,15))::BIGINT % 10000
             |        < (mn * 10000) // n_orig
             |  GROUP BY d.source)
             |SELECT c.source, c.n_orig, (mn * 10000) // c.n_orig AS thr,
             |  COALESCE(n_kept, 0) AS n_kept
             |FROM c CROSS JOIN m LEFT JOIN kept ON kept.source = c.source
             |ORDER BY c.source""".stripMargin)),

    // DSIR importance weighting (Xie et al. 2023): score every document by
    // the ratio of its hashed-bigram features' likelihood under the TARGET
    // distribution (here: the corpus's English slice — the "quality
    // exemplar" pool) vs under the raw pool — exact-rational probability
    // ratio instead of the paper's log-ratio (ln() rounding is
    // engine-private; the ratio is monotone-equivalent for selection).
    // Feature hashing bounds both distributions at 4096 buckets at any
    // corpus size; see CorpusStats.dsirAffinity for the 100 TB shape.
    QuerySpec("q149_dsir_weights",
      (s, d) => CorpusStats.dsirAffinity(
        t(s, d, "documents"), "doc_id", "text",
        isTarget = col("lang") === "en", buckets = 4096)
        .orderBy("doc_id"),
      Some("""WITH tk AS (
             |  SELECT doc_id, lang, string_split(text,' ') AS s FROM documents
             |), bg AS (
             |  SELECT doc_id, lang,
             |    unnest([('0x' || substr(md5(s[i] || ' ' || s[i+1]),1,15))::BIGINT % 4096
             |            FOR i IN range(1, len(s))]) AS b
             |  FROM tk WHERE len(s) >= 2
             |), kb AS (
             |  SELECT doc_id, b, count(*) AS k FROM bg GROUP BY doc_id, b
             |), dist AS (
             |  SELECT b, count(*) AS r,
             |    count(*) FILTER (lang = 'en') AS tc
             |  FROM bg GROUP BY b
             |), tot AS (
             |  SELECT CAST(sum(r) AS BIGINT) AS n_r, CAST(sum(tc) AS BIGINT) AS n_t
             |  FROM dist)
             |SELECT doc_id,
             |  CAST(sum(k) AS BIGINT) AS n_feat,
             |  CAST(sum(k * tc) AS BIGINT) AS t_dot,
             |  CAST(sum(k * r) AS BIGINT) AS r_dot,
             |  CASE WHEN n_t > 0 THEN
             |    (CAST(CAST(sum(k * tc) AS BIGINT) AS DOUBLE) * CAST(n_r AS DOUBLE))
             |    / (CAST(CAST(sum(k * r) AS BIGINT) AS DOUBLE) * CAST(n_t AS DOUBLE))
             |  ELSE 0.0 END AS dsir_w
             |FROM kb JOIN dist USING (b) CROSS JOIN tot
             |GROUP BY doc_id, n_r, n_t ORDER BY doc_id""".stripMargin)),

    // Benchmark-contamination MASS: per training document, the fraction of
    // its 8-token sliding windows that appear verbatim in the benchmark
    // set (the deterministic 5% md5-bucket slice stands in for a held-out
    // eval suite) — the threshold-policy extension of q92's boolean gate.
    QuerySpec("q152_contamination_frac",
      (s, d) => CorpusStats.spanContamination(
        t(s, d, "documents"), "doc_id", "text",
        isBench = graft.operators.Transforms.hashBucket(col("doc_id")) < 5,
        k = 8)
        .orderBy("doc_id"),
      Some("""WITH tk AS (
             |  SELECT doc_id,
             |    ('0x' || substr(md5(doc_id::VARCHAR),1,15))::BIGINT % 100 < 5 AS bm,
             |    string_split(text,' ') AS t
             |  FROM documents
             |), sp AS (
             |  SELECT doc_id, bm,
             |    unnest([('0x' || substr(md5(array_to_string(t[i:i+7],' ')),1,15))::BIGINT
             |            FOR i IN range(1, len(t)-6)]) AS fp
             |  FROM tk WHERE len(t) >= 8
             |), bf AS (
             |  SELECT DISTINCT fp FROM sp WHERE bm
             |), hits AS (
             |  SELECT doc_id, count(*) AS n_hit FROM sp JOIN bf USING (fp)
             |  WHERE NOT bm GROUP BY doc_id)
             |SELECT tk.doc_id,
             |  CAST(greatest(len(t)-7, 0) AS BIGINT) AS n_spans,
             |  COALESCE(n_hit, 0) AS n_hit,
             |  CASE WHEN len(t) >= 8
             |    THEN CAST(COALESCE(n_hit,0) AS DOUBLE) / CAST(len(t)-7 AS DOUBLE)
             |    ELSE 0.0 END AS contam_frac
             |FROM tk LEFT JOIN hits USING (doc_id)
             |WHERE NOT bm ORDER BY tk.doc_id""".stripMargin)),

    // Collocation mining by PMI lift: top-50 unordered token pairs
    // co-occurring within ±3 positions, ranked by p(a,b)/(p(a)·p(b)).
    // Raw lift instead of log-PMI (monotone, so same ranking) keeps the
    // score ONE IEEE division of two exact BIGINT products —
    // hash-matchable where a log never is. Pair stream = three linear
    // offset-zip passes (map-side explode), never a positional self-join.
    QuerySpec("q158_pmi_collocations",
      (s, d) => CorpusStats.pmiCollocations(
        t(s, d, "documents"), "doc_id", "text",
        window = 3, minPairCount = 20L, topN = 50)
        .orderBy(desc("lift"), col("w1"), col("w2")),
      Some("WITH arr AS (SELECT doc_id, string_split(text, ' ') AS s FROM documents),\n" +
        "tok AS (SELECT unnest(s) AS w FROM arr),\npr AS (\n" +
        (1 to 3).map(dd =>
          s"""  SELECT least(s[i], s[i+$dd]) AS w1, greatest(s[i], s[i+$dd]) AS w2
             |  FROM (SELECT s, unnest(range(1, len(s)+1-$dd)) AS i
             |        FROM arr WHERE len(s) > $dd)""".stripMargin)
          .mkString("\n  UNION ALL\n") +
        """
          |), cw AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
          |n AS (SELECT count(*) AS nn FROM tok),
          |np AS (SELECT count(*) AS npr FROM pr),
          |cp AS (SELECT w1, w2, count(*) AS cab FROM pr
          |       GROUP BY w1, w2 HAVING count(*) >= 20)
          |SELECT cp.w1, cp.w2, cab,
          |  CAST(cab * nn * nn AS DOUBLE)
          |    / CAST(npr * ca.c * cb.c AS DOUBLE) AS lift
          |FROM cp
          |JOIN cw ca ON ca.w = cp.w1
          |JOIN cw cb ON cb.w = cp.w2
          |CROSS JOIN n CROSS JOIN np
          |ORDER BY lift DESC, w1, w2 LIMIT 50""".stripMargin)),

    // Conditional bigram-LM typicality — the order-sensitive upgrade of
    // q117's unigram score: p(w2|w1) = c(w1,w2)/c(w1·) per bigram
    // position, fixed-point ⌊p·10⁹⌋ per term (DECIMAL-seeded numerator on
    // the Spark side, overflow-checked BIGINT on the oracle side), exact
    // integer sums per doc, one final IEEE division for the mean.
    QuerySpec("q159_bigram_lm",
      (s, d) => CorpusStats.bigramLmScore(
        t(s, d, "documents"), "doc_id", "text")
        .orderBy("doc_id"),
      Some("""WITH bi AS (
             |  SELECT doc_id, s[i] AS w1, s[i+1] AS w2
             |  FROM (SELECT doc_id, s, unnest(range(1, len(s))) AS i
             |        FROM (SELECT doc_id, string_split(text, ' ') AS s
             |              FROM documents))
             |), dt AS (
             |  SELECT doc_id, w1, w2, count(*) AS k FROM bi
             |  GROUP BY doc_id, w1, w2
             |), bg AS (
             |  SELECT w1, w2, count(*) AS cb FROM bi GROUP BY w1, w2
             |), pw AS (
             |  SELECT w1, CAST(sum(cb) AS BIGINT) AS cw FROM bg GROUP BY w1
             |), sc AS (
             |  SELECT doc_id,
             |    CAST(sum(k) AS BIGINT) AS n_bi,
             |    CAST(sum(k * ((cb * 1000000000) // cw)) AS BIGINT) AS p9_sum
             |  FROM dt JOIN bg USING (w1, w2) JOIN pw USING (w1)
             |  GROUP BY doc_id
             |)
             |SELECT doc_id, n_bi, p9_sum // n_bi AS avg_p9,
             |  CAST(p9_sum AS DOUBLE)
             |    / CAST(n_bi * 1000000000 AS DOUBLE) AS avg_p
             |FROM sc ORDER BY doc_id""".stripMargin)),

    // Token-distribution drift between two corpus halves (even- vs
    // odd-numbered sources — the snapshot-comparison axis): top-30 tokens
    // by symmetric smoothed rate-ratio drift, exact fixed-point. The
    // "did the crawl change under us" report run before retraining.
    QuerySpec("q160_token_drift",
      (s, d) => CorpusStats.tokenDrift(
        t(s, d, "documents"), "text",
        sideA = expr("CAST(substring(source, 4) AS INT) % 2 = 0"),
        minTotal = 50L, topN = 30)
        .orderBy(desc("drift6"), col("tok")),
      Some("""WITH toks AS (
             |  SELECT substr(source, 4)::INT % 2 = 0 AS side_a,
             |    unnest(string_split(text, ' ')) AS tok
             |  FROM documents
             |), ct AS (
             |  SELECT tok,
             |    CAST(sum(CASE WHEN side_a THEN 1 ELSE 0 END) AS BIGINT) AS c_a,
             |    CAST(sum(CASE WHEN side_a THEN 0 ELSE 1 END) AS BIGINT) AS c_b
             |  FROM toks GROUP BY tok
             |), tot AS (
             |  SELECT CAST(sum(c_a) AS BIGINT) AS n_a,
             |    CAST(sum(c_b) AS BIGINT) AS n_b FROM ct
             |), r AS (
             |  SELECT tok, c_a, c_b,
             |    ((c_a + 1) * (n_b + 1) * 1000000)
             |      // ((c_b + 1) * (n_a + 1)) AS r6,
             |    ((c_b + 1) * (n_a + 1) * 1000000)
             |      // ((c_a + 1) * (n_b + 1)) AS rinv6
             |  FROM ct CROSS JOIN tot WHERE c_a + c_b >= 50
             |)
             |SELECT tok, c_a, c_b, greatest(r6, rinv6) AS drift6
             |FROM r ORDER BY drift6 DESC, tok LIMIT 30""".stripMargin)),

    // Per-source novelty mass: the fraction of each source's distinct
    // 8-token span fingerprints found in NO other source — the marginal-
    // utility report behind source acquisition and mixture weighting.
    // One fp-keyed shuffle (distinct (source, fp)), per-fp source counts
    // rejoined on the same key, exact-integer counts, one division.
    QuerySpec("q162_source_novelty",
      (s, d) => CorpusStats.sourceNovelty(
        t(s, d, "documents"), "source", "text", k = 8)
        .orderBy("source"),
      Some("""WITH sp0 AS (
             |  SELECT source,
             |    unnest([('0x' || substr(md5(array_to_string(t[i:i+7],' ')),1,15))::BIGINT
             |            FOR i IN range(1, len(t)-6)]) AS fp
             |  FROM (SELECT source, string_split(text,' ') AS t FROM documents)
             |  WHERE len(t) >= 8
             |), sp AS (
             |  SELECT DISTINCT source, fp FROM sp0
             |), ns AS (
             |  SELECT fp, count(*) AS ns FROM sp GROUP BY fp
             |)
             |SELECT source, count(*) AS n_spans,
             |  CAST(sum(CASE WHEN ns = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
             |  CAST(sum(CASE WHEN ns = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             |    / CAST(count(*) AS DOUBLE) AS novelty
             |FROM sp JOIN ns USING (fp)
             |GROUP BY source ORDER BY source""".stripMargin)),

    // Span provenance: for the 10 most-duplicated 8-token spans in the
    // corpus (total occurrences, ties by fingerprint, restricted to
    // spans seen in ≥ 2 documents), the per-source occurrence
    // distribution — "WHERE does the boilerplate come from", the
    // follow-up question every q118 duplication report raises before a
    // source gets down-weighted or a cleaning rule gets written. Work
    // is one span explode + a fingerprint-keyed aggregate for the
    // top-10 (TakeOrdered), then a broadcast of the 10 winners back
    // onto the span stream for the per-source rollup — the corpus is
    // walked once, the provenance join touches only the winners' rows.
    QuerySpec("q188_span_provenance",
      (s, d) => {
        import graft.functions.TextFunctions.tokens
        // persisted (tracked): the span stream feeds the top-10 aggregate
        // AND the provenance join — without it the corpus is tokenized
        // and md5'd twice. Hashing rides the native kernel (bit-identical
        // to the HOF form, ShingleHashesSpec).
        val sp = graft.operators.OperatorCaches.persistTracked(
          t(s, d, "documents")
            .select(col("doc_id"), col("source"), tokens(col("text")).as("t"))
            .select(col("doc_id"), col("source"),
              explode(graft.plans.GraftFunctions.shingleHashesNative(
                col("t"), 8)).as("fp")))
        val top = sp.groupBy(col("fp"))
          .agg(count(lit(1)).as("total_occ"),
            countDistinct(col("doc_id")).as("n_docs"))
          .filter(col("n_docs") >= 2)
          .orderBy(desc("total_occ"), col("fp")).limit(10)
        sp.join(broadcast(top), "fp")
          .groupBy(col("fp"), col("total_occ"), col("n_docs"), col("source"))
          .agg(count(lit(1)).as("src_occ"))
          .orderBy(desc("total_occ"), col("fp"), col("source"))
      },
      Some("""WITH tk AS (
             |  SELECT doc_id, source, string_split(text,' ') AS t FROM documents
             |), sp AS (
             |  SELECT doc_id, source,
             |    unnest([('0x' || substr(md5(array_to_string(t[i:i+7],' ')),1,15))::BIGINT
             |            FOR i IN range(1, len(t)-6)]) AS fp
             |  FROM tk WHERE len(t) >= 8
             |), top AS (
             |  SELECT fp, count(*) AS total_occ, count(DISTINCT doc_id) AS n_docs
             |  FROM sp GROUP BY fp HAVING count(DISTINCT doc_id) >= 2
             |  ORDER BY total_occ DESC, fp LIMIT 10
             |)
             |SELECT sp.fp AS fp, total_occ, n_docs, source, count(*) AS src_occ
             |FROM sp JOIN top USING (fp)
             |GROUP BY sp.fp, total_occ, n_docs, source
             |ORDER BY total_occ DESC, sp.fp, source""".stripMargin)),

    // Heaps'-law vocabulary growth (V ≈ K·nᵝ): cumulative span mass vs
    // cumulative DISTINCT type arrivals across ten doc-axis prefix
    // deciles — the V(n) PAIRING the Heaps fit needs, which neither
    // q101 (frequency-rank coverage: "how much mass do the top-k types
    // cover") nor q254 (per-decile novelty RATE of first arrivals,
    // normalized per doc) publishes: the tokenizer/ngram budget is
    // sized off cumulative-vocab-vs-cumulative-MASS, so this query
    // carries both axes in one frame. Types are TRIGRAM span
    // fingerprints (the
    // q118 md5 derivation): the fixture's unigram vocabulary is 31
    // words and saturates in decile 0, while its trigram space keeps
    // growing — the regime where Heaps analysis means something. Exact
    // integers end to end: a type's arrival decile is the decile of its
    // min(doc_id) (one vocabulary-shaped groupBy — the shuffle axis
    // every posting build pays), deciles by pure integer arithmetic on
    // the doc-id extent, and the cumulative window runs over TEN rows
    // (bounded by construction — never a corpus-sized single-partition
    // exchange).
    QuerySpec("q261_heaps_law",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        import graft.functions.TextFunctions.tokens
        val docs = t(s, d, "documents")
        val nd = docs.agg(max(col("doc_id"))).head.getLong(0) + 1
        val sp = docs.select(col("doc_id"),
          explode(graft.plans.GraftFunctions.shingleHashesNative(
            tokens(col("text")), 3)).as("fp"))
        // Per-bucket span MASS needs no explode: a doc's trigram count is
        // pure arithmetic on its token count (n≥3 ? n−2 : 0, the exact
        // cardinality of shingleHashSeqFromTokens), and a doc with zero
        // spans contributes zero rows to the exploded stream — so the
        // filter keeps the bucket row-presence identical to the explode
        // formulation while the whole occ branch collapses from a second
        // corpus explode + shuffle to one map-side-combined aggregation
        // over one row per doc (guide §2.3/§2.4: the explode was
        // recomputed per consumer; only the vocabulary branch needs it).
        val occ = docs
          .select(col("doc_id"),
            size(tokens(col("text"))).cast("long").as("n"))
          .filter(col("n") >= 3)
          .groupBy(expr(s"doc_id * 10 DIV $nd").as("bucket"))
          .agg(sum(col("n") - 2).as("n_spans"))
        val nw = sp.groupBy(col("fp")).agg(min(col("doc_id")).as("f"))
          .groupBy(expr(s"f * 10 DIV $nd").as("bucket"))
          .agg(count(lit(1)).as("new_types"))
        val w = Window.orderBy("bucket")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        occ.join(nw, Seq("bucket"), "left")
          .select(col("bucket"), col("n_spans"),
            coalesce(col("new_types"), lit(0L)).as("new_types"))
          .withColumn("spans_cum", sum("n_spans").over(w))
          .withColumn("vocab_cum", sum("new_types").over(w))
          .orderBy("bucket")
      },
      Some("""WITH nd AS (SELECT max(doc_id) + 1 AS nd FROM documents),
             |tk AS (
             |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
             |), sp AS (
             |  SELECT doc_id,
             |    unnest([('0x' || substr(md5(array_to_string(t[i:i+2],
             |      ' ')), 1, 15))::BIGINT FOR i IN range(1, len(t) - 1)])
             |      AS fp
             |  FROM tk WHERE len(t) >= 3
             |), occ AS (
             |  SELECT doc_id * 10 // nd AS bucket, count(*) AS n_spans
             |  FROM sp CROSS JOIN nd GROUP BY 1
             |), fo AS (
             |  SELECT fp, min(doc_id) AS f FROM sp GROUP BY 1
             |), nw AS (
             |  SELECT f * 10 // nd AS bucket, count(*) AS new_types
             |  FROM fo CROSS JOIN nd GROUP BY 1
             |)
             |SELECT occ.bucket, n_spans,
             |  COALESCE(new_types, 0) AS new_types,
             |  CAST(sum(n_spans) OVER (ORDER BY occ.bucket) AS BIGINT)
             |    AS spans_cum,
             |  CAST(sum(COALESCE(new_types, 0)) OVER
             |    (ORDER BY occ.bucket) AS BIGINT) AS vocab_cum
             |FROM occ LEFT JOIN nw USING (bucket)
             |ORDER BY bucket""".stripMargin)))
}
