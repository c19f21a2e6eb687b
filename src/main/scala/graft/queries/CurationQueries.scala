package graft.queries

import org.apache.spark.sql.functions._

import Q._

/** Corpus-curation ranking surface: link-graph centrality for source
  * weighting, lexical retrieval scoring, tokenizer training statistics,
  * ANN quality measurement, and classifier calibration — the "which data
  * do we keep, and can we prove the infrastructure ranks it right"
  * queries of a training-data pipeline. All exact-arithmetic (integer
  * fixed-point / quantized weights) so every query hash-matches the
  * DuckDB oracle; see the operator scaladocs for the scale shapes.
  */
object CurationQueries {

  /** One served-index artifact per corpus dir per run for q177 (a
    * FramePool directory): the build-and-save runs once instead of on
    * every DataFrame construction — plan screening, golden sweeps, and
    * bench warm+timed runs would otherwise each rebuild a full index
    * copy. */
  private def servedTextIndexDir(s: org.apache.spark.sql.SparkSession,
                                 d: String): String =
    graft.operators.FramePool.dir(("text_index", d)) { dir =>
      graft.operators.Postings.save(
        graft.operators.Postings.forCorpus(
          t(s, d, "documents"), "doc_id", "text"), dir.toString)
    }.toString

  /** The BM25 query set + oracle shared by q138 (live pooled index) and
    * q177 (served from the persisted parquet index artifact): both must
    * hash-match the SAME DuckDB recompute, which is exactly the
    * artifact-parity claim. */
  private val Bm25Queries = Seq(
    "q1" -> Seq("spark", "join"), "q2" -> Seq("window", "scan"),
    "q3" -> Seq("stream", "batch", "hash"))
  private def bm25OracleFrom(rel: String) = s"""WITH qt(q_id, term) AS (VALUES
             |  ('q1','spark'),('q1','join'),('q2','window'),('q2','scan'),
             |  ('q3','stream'),('q3','batch'),('q3','hash')),
             |tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS term
             |        FROM $rel),
             |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
             |       GROUP BY doc_id, term),
             |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf
             |       GROUP BY doc_id),
             |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
             |g AS (SELECT count(*) AS n_docs FROM $rel),
             |tt AS (SELECT CAST(sum(dl) AS BIGINT) AS t_total FROM dl),
             |sc AS (
             |  SELECT q_id, tf.doc_id,
             |    CAST(sum((22 * t_total * tf * ((n_docs * 1000) // df))
             |      // (10 * t_total * tf + 3 * t_total + 9 * dl * n_docs))
             |      AS BIGINT) AS score
             |  FROM qt JOIN tf USING (term) JOIN df USING (term)
             |  JOIN dl ON dl.doc_id = tf.doc_id
             |  CROSS JOIN g CROSS JOIN tt
             |  GROUP BY q_id, tf.doc_id),
             |r AS (SELECT q_id, doc_id, score,
             |        row_number() OVER (PARTITION BY q_id
             |          ORDER BY score DESC, doc_id) AS rank
             |      FROM sc)
             |SELECT q_id, rank, doc_id, score FROM r
             |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin

  private val Bm25Oracle = bm25OracleFrom("documents")

  val specs: Seq[QuerySpec] = Seq(

    // Link-graph centrality for source quality weighting: a co-purchase
    // graph (customer↔supplier through orders×lineitem, both directions)
    // ranked by 3 iterations of integer fixed-point PageRank. Every
    // arithmetic step is BIGINT floor division on a 1e9 grid, so the
    // iterated scores hash-match the oracle's unrolled 3-layer SQL —
    // float PageRank never could (partition-order-dependent sums).
    QuerySpec("q137_pagerank",
      (s, d) => {
        // pooled weighted co-purchase frame (Q.copurchaseEdgesWeighted);
        // its key set IS the old distinct (src, dst) projection
        val e0 = Q.copurchaseEdgesWeighted(s, d).select(col("src"), col("dst"))
        val edges = e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
        graft.operators.Graphs.pageRank(edges, iterations = 3)
          .orderBy("node")
      },
      Some("""WITH e0 AS (
             |  SELECT DISTINCT 'c' || o_custkey::VARCHAR AS src,
             |         's' || l_suppkey::VARCHAR AS dst
             |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
             |), e AS (SELECT src, dst FROM e0
             |         UNION ALL SELECT dst, src FROM e0),
             |n AS (SELECT DISTINCT node FROM
             |        (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
             |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
             |p0 AS (SELECT node, 1000000000::BIGINT AS pr FROM n),
             |c1 AS (SELECT dst, sum(pr // deg) AS s FROM e
             |       JOIN deg USING (src) JOIN p0 ON p0.node = e.src GROUP BY dst),
             |p1 AS (SELECT node, 150000000 + (85 * COALESCE(s, 0)) // 100 AS pr
             |       FROM n LEFT JOIN c1 ON c1.dst = n.node),
             |c2 AS (SELECT dst, sum(pr // deg) AS s FROM e
             |       JOIN deg USING (src) JOIN p1 ON p1.node = e.src GROUP BY dst),
             |p2 AS (SELECT node, 150000000 + (85 * COALESCE(s, 0)) // 100 AS pr
             |       FROM n LEFT JOIN c2 ON c2.dst = n.node),
             |c3 AS (SELECT dst, sum(pr // deg) AS s FROM e
             |       JOIN deg USING (src) JOIN p2 ON p2.node = e.src GROUP BY dst),
             |p3 AS (SELECT node, 150000000 + (85 * COALESCE(s, 0)) // 100 AS pr
             |       FROM n LEFT JOIN c3 ON c3.dst = n.node)
             |SELECT node, CAST(pr AS BIGINT) AS pr FROM p3 ORDER BY node""".stripMargin)),

    // PERSONALIZED PageRank on the same copurchase graph: teleport mass
    // lands only on the CUSTOMER nodes (the trusted seed set), ranking
    // suppliers by customer-seeded centrality — topic-sensitive source
    // weighting in the same integer fixed-point contract as q137, so
    // three iterations hash-match the unrolled oracle with its per-node
    // base computed from the same two counts.
    QuerySpec("q175_personalized_pagerank",
      (s, d) => {
        // pooled weighted co-purchase frame — see q137
        val e0 = Q.copurchaseEdgesWeighted(s, d).select(col("src"), col("dst"))
        val edges = e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
        graft.operators.Graphs.personalizedPageRank(edges,
          isPreferred = col("node").startsWith("c"), iterations = 3)
          .orderBy("node")
      },
      Some("""WITH e0 AS (
             |  SELECT DISTINCT 'c' || o_custkey::VARCHAR AS src,
             |         's' || l_suppkey::VARCHAR AS dst
             |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
             |), e AS (SELECT src, dst FROM e0
             |         UNION ALL SELECT dst, src FROM e0),
             |n AS (SELECT DISTINCT node FROM
             |        (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
             |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
             |cnts AS (SELECT count(*) AS nn,
             |           count(*) FILTER (node LIKE 'c%') AS np FROM n),
             |nb AS (SELECT node,
             |         CASE WHEN node LIKE 'c%'
             |           THEN (15::BIGINT * 1000000000 * nn) // (100 * np)
             |           ELSE 0 END AS base
             |       FROM n CROSS JOIN cnts),
             |p0 AS (SELECT node, 1000000000::BIGINT AS pr FROM n),
             |c1 AS (SELECT dst, sum(pr // deg) AS s FROM e
             |       JOIN deg USING (src) JOIN p0 ON p0.node = e.src GROUP BY dst),
             |p1 AS (SELECT nb.node, base + (85 * COALESCE(s, 0)) // 100 AS pr
             |       FROM nb LEFT JOIN c1 ON c1.dst = nb.node),
             |c2 AS (SELECT dst, sum(pr // deg) AS s FROM e
             |       JOIN deg USING (src) JOIN p1 ON p1.node = e.src GROUP BY dst),
             |p2 AS (SELECT nb.node, base + (85 * COALESCE(s, 0)) // 100 AS pr
             |       FROM nb LEFT JOIN c2 ON c2.dst = nb.node),
             |c3 AS (SELECT dst, sum(pr // deg) AS s FROM e
             |       JOIN deg USING (src) JOIN p2 ON p2.node = e.src GROUP BY dst),
             |p3 AS (SELECT nb.node, base + (85 * COALESCE(s, 0)) // 100 AS pr
             |       FROM nb LEFT JOIN c3 ON c3.dst = nb.node)
             |SELECT node, CAST(pr AS BIGINT) AS pr FROM p3 ORDER BY node""".stripMargin)),

    // BM25 lexical retrieval: top-5 documents for a literal 3-query set,
    // scored with quantized-integer BM25 (k1=1.2, b=0.75 cleared to one
    // BIGINT floor division per term — see InvertedIndex.bm25TopK). The
    // query set broadcasts onto the term key: candidates are the query
    // terms' posting lists, never a corpus scan.
    QuerySpec("q138_bm25",
      (s, d) => graft.operators.InvertedIndex.bm25TopK(
        t(s, d, "documents"), "doc_id", "text", Bm25Queries, k = 5)
        .orderBy("q_id", "rank"),
      Some(Bm25Oracle)),

    // BM25 served from the PERSISTED text-index artifact: the pooled
    // index materialized as five plain parquet frames (Postings.save),
    // loaded back, and scored with the identical pipeline — the corpus
    // never enters the plan. This is the production serving shape at
    // 100 TB (the index is a table you scan, not a session cache you
    // rebuild); hash-matching q138's oracle IS the artifact-parity
    // proof, driver-gated. The vector-index twin is q140/PqSpec.
    // NOTE: constructing this query's DataFrame has a side effect — it
    // builds and WRITES the index artifact (once per corpus dir per JVM,
    // memoized below and removed at exit); plan screening and bench
    // warm-up therefore pay the build exactly once, and the timed runs
    // measure pure serve-from-storage.
    QuerySpec("q177_bm25_serve_artifact",
      (s, d) => graft.operators.InvertedIndex.bm25TopKFromIndex(
        graft.operators.Postings.load(s, servedTextIndexDir(s, d)),
        Bm25Queries, k = 5)
        .orderBy("q_id", "rank"),
      Some(Bm25Oracle)),

    // BPE tokenizer statistics: the corpus-wide adjacent-character-pair
    // scan that seeds byte-pair-encoding training (every stage-0 merge
    // candidate and its count; top 30, count desc, pair lexicographic).
    // The iterative merge LOOP is Bpe.trainMerges, spec-proven against a
    // sequential reference (BpeSpec) — this query oracle-gates its
    // distributed heavy-lifting stage, which at web scale is the only
    // part that ever touches the corpus.
    QuerySpec("q139_bpe_pairs",
      (s, d) => t(s, d, "documents")
        .select(explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) >= 2)
        .select(explode(
          expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
          .as("pair"))
        .groupBy(col("pair")).agg(count(lit(1)).as("cnt"))
        .orderBy(desc("cnt"), col("pair")).limit(30),
      Some("""WITH w AS (SELECT unnest(string_split(text,' ')) AS w FROM documents),
             |p AS (SELECT unnest([substr(w, i, 2) FOR i IN range(1, len(w))]) AS pair
             |      FROM w WHERE len(w) >= 2)
             |SELECT pair, count(*) AS cnt FROM p
             |GROUP BY pair ORDER BY cnt DESC, pair LIMIT 30""".stripMargin)),

    // ANN quality measurement: recall@3 of the IVF-restricted search
    // (q55's exact configuration) against the brute-force exact top-3,
    // per query — the acceptance metric every approximate index ships
    // with. Both sides and the intersection are computed in-engine; the
    // oracle rebuilds them from the same float arithmetic.
    QuerySpec("q140_ann_recall",
      (s, d) => {
        val e = t(s, d, "embeddings")
          .select(col("vec_id"), graft.functions.VectorFunctions
            .asDouble(col("embedding")).as("v"))
        val c = e.filter(col("vec_id") < 16)
          .select(col("vec_id").as("c_id"), col("v").as("cv"))
        val qp = col("vec_id") >= 100 && col("vec_id") < 110
        val exact = graft.operators.Similarity
          .bruteForceTopK(e, e.filter(qp).select(col("vec_id").as("q_id"),
            col("v").as("qv")), 3)
          .select(col("q_id"), col("neighbor_id"))
        val approx = graft.operators.Similarity.ivfSearch(e, c, 3, qp)
          .select(col("q_id"), col("neighbor_id"))
        exact.join(approx, Seq("q_id", "neighbor_id"), "left_semi")
          .groupBy(col("q_id")).agg(count(lit(1)).as("n_hit"))
          .join(exact.groupBy(col("q_id")).agg(count(lit(1)).as("k")),
            Seq("q_id"), "right")
          .select(col("q_id"), col("k"),
            coalesce(col("n_hit"), lit(0L)).as("n_hit"))
          .withColumn("recall",
            col("n_hit").cast("double") / col("k").cast("double"))
          .orderBy("q_id")
      },
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             |c AS (SELECT vec_id AS c_id, v AS cv FROM e WHERE vec_id < 16),
             |q AS (SELECT vec_id AS q_id, v AS qv FROM e
             |      WHERE vec_id >= 100 AND vec_id < 110),
             |ex AS (
             |  SELECT q_id, neighbor_id FROM (
             |    SELECT q_id, e.vec_id AS neighbor_id,
             |      row_number() OVER (PARTITION BY q_id ORDER BY
             |        list_dot_product(qv, e.v)
             |          / (sqrt(list_dot_product(qv, qv))
             |             * sqrt(list_dot_product(e.v, e.v))) DESC, e.vec_id) AS rn
             |    FROM q CROSS JOIN e WHERE e.vec_id <> q_id)
             |  WHERE rn <= 3),
             |asg AS (
             |  SELECT vec_id, c_id AS cluster_id FROM (
             |    SELECT e.vec_id, c_id,
             |      row_number() OVER (PARTITION BY e.vec_id
             |        ORDER BY list_dot_product(v, v) - 2.0*list_dot_product(v, cv)
             |          + list_dot_product(cv, cv), c_id) AS rn
             |    FROM e CROSS JOIN c)
             |  WHERE rn = 1),
             |ap AS (
             |  SELECT q_id, neighbor_id FROM (
             |    SELECT qa.q_id, a.vec_id AS neighbor_id,
             |      row_number() OVER (PARTITION BY qa.q_id ORDER BY
             |        list_dot_product(qa.qv, e.v)
             |          / (sqrt(list_dot_product(qa.qv, qa.qv))
             |             * sqrt(list_dot_product(e.v, e.v))) DESC, a.vec_id) AS rn
             |    FROM (SELECT q.q_id, q.qv, asg.cluster_id FROM q
             |          JOIN asg ON asg.vec_id = q.q_id) qa
             |    JOIN asg a ON a.cluster_id = qa.cluster_id
             |    JOIN e ON e.vec_id = a.vec_id
             |    WHERE a.vec_id <> qa.q_id)
             |  WHERE rn <= 3),
             |hit AS (
             |  SELECT ex.q_id, count(*) AS n_hit FROM ex
             |  JOIN ap ON ap.q_id = ex.q_id AND ap.neighbor_id = ex.neighbor_id
             |  GROUP BY ex.q_id),
             |kk AS (SELECT q_id, count(*) AS k FROM ex GROUP BY q_id)
             |SELECT kk.q_id, kk.k, COALESCE(n_hit, 0) AS n_hit,
             |  CAST(COALESCE(n_hit, 0) AS DOUBLE) / CAST(kk.k AS DOUBLE) AS recall
             |FROM kk LEFT JOIN hit ON hit.q_id = kk.q_id
             |ORDER BY kk.q_id""".stripMargin)),

    // Classifier threshold sweep: documents ranked by the TRAINED
    // quality logit (operators/Logit serving the q278 trajectory's
    // final round; score desc, doc_id tiebreak — a total order), with
    // exact cumulative true-positive counts at every 97th rank
    // (decimated output; prime step so no stratum aliasing). Truth
    // label: the planted clean/boilerplate axis the model was trained
    // on — the trio now evaluates the model the engine itself produced.
    // The cumulative counts run on the distributed range-partition
    // prefix sum (PrefixSum.rankedRunningSum) — NOT a global window;
    // the oracle's single window is the oracle's privilege. z is BIGINT
    // fixed-point, so the whole sweep is exact integer arithmetic.
    QuerySpec("q141_threshold_sweep",
      (s, d) => {
        val scored = graft.operators.Logit.scoredDocs(s, d)
          .select(col("doc_id"), col("z"), col("y").as("is_pos"))
        val (ranked, _) = graft.operators.PrefixSum.rankedRunningSum(
          scored, Seq(org.apache.spark.sql.functions.col("z").desc,
            col("doc_id").asc),
          col("is_pos"), rnCol = "rn", cumCol = "cum_tp")
        ranked.filter(col("rn") % 97 === 0)
          .select(col("rn"), col("doc_id"), col("z"),
            col("cum_tp"), (col("rn") - col("cum_tp")).as("cum_fp"))
          .orderBy("rn")
      },
      Some(LogitOracle.scored +
        """, r AS (
          |  SELECT doc_id, z,
          |    row_number() OVER (ORDER BY z DESC, doc_id) AS rn,
          |    CAST(sum(y) OVER (
          |      ORDER BY z DESC, doc_id
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          |      AS cum_tp
          |  FROM scored)
          |SELECT rn, doc_id, z, cum_tp, rn - cum_tp AS cum_fp
          |FROM r WHERE rn % 97 = 0 ORDER BY rn""".stripMargin)),

    // Temperature-weighted mixture sampling (α = 0.5): per-source keep
    // rate ∝ √(n_min/n_s) — the standard multilingual/multi-source
    // rebalancing softer than q136's full leveling. Quantization contract:
    // thresholds are ratios of integer √⌊·⌋ values at 1/10000 grain
    // (floor(sqrt(BIGINT)) is correctly rounded and < 2^53 in both
    // engines ⇒ deterministic); membership is the same md5-bucket pure
    // function of doc_id as q136/q38.
    QuerySpec("q142_temperature_mix",
      (s, d) => {
        val docs = t(s, d, "documents")
        val counts = docs.groupBy(col("source")).agg(count(lit(1)).as("n_orig"))
        val thr = counts
          .crossJoin(counts.agg(min(col("n_orig")).as("mn")))
          .select(col("source"), col("n_orig"),
            expr("""(10000 * CAST(FLOOR(SQRT(CAST(mn AS DOUBLE))) AS BIGINT))
                   | DIV CAST(FLOOR(SQRT(CAST(n_orig AS DOUBLE))) AS BIGINT)"""
              .stripMargin).as("thr"))
        val kept = docs
          .join(broadcast(thr.select(col("source"), col("thr"))), "source")
          .filter(graft.functions.TextFunctions
            .md5Long(col("doc_id").cast("string")) % 10000 < col("thr"))
          .groupBy(col("source")).agg(count(lit(1)).as("n_kept"))
        thr.join(kept, Seq("source"), "left")
          .select(col("source"), col("n_orig"), col("thr"),
            coalesce(col("n_kept"), lit(0L)).as("n_kept"))
          .orderBy("source")
      },
      Some("""WITH c AS (
             |  SELECT source, count(*) AS n_orig FROM documents GROUP BY source
             |), m AS (SELECT min(n_orig) AS mn FROM c),
             |t AS (
             |  SELECT source, n_orig,
             |    (10000 * CAST(FLOOR(SQRT(CAST(mn AS DOUBLE))) AS BIGINT))
             |      // CAST(FLOOR(SQRT(CAST(n_orig AS DOUBLE))) AS BIGINT) AS thr
             |  FROM c CROSS JOIN m),
             |kept AS (
             |  SELECT d.source, count(*) AS n_kept
             |  FROM documents d JOIN t USING (source)
             |  WHERE ('0x' || substr(md5(d.doc_id::VARCHAR),1,15))::BIGINT
             |        % 10000 < thr
             |  GROUP BY d.source)
             |SELECT t.source, t.n_orig, t.thr, COALESCE(n_kept, 0) AS n_kept
             |FROM t LEFT JOIN kept ON kept.source = t.source
             |ORDER BY t.source""".stripMargin)),

    // Cross-source contamination matrix: for every source pair, how many
    // distinct 8-token span fingerprints they share — the "is my training
    // mix leaking between sources" audit (q118's span fingerprints, lifted
    // from doc×doc to source×source). Shape: ONE shuffle keyed by fp with
    // a map-side-combined collect_set(source) — the set is bounded by the
    // number of SOURCES (a handful at any corpus scale), so per-fp state
    // is O(s), and the s²/2 pair explosion happens after the reduce, on
    // vocabulary-sized data. (The naive alternative — distinct + fp-keyed
    // self-join — shuffles the posting frame twice more and recomputes
    // the corpus tokenize on each join side.) Tokens are PROJECTED before
    // the shingle kernel — the lambda-scope discipline: an inline
    // `tokens(text)` inside the HOF re-evaluates the split per
    // element_at, turning span extraction O(len²) per document
    // (measured: 10.2 s → 1.3 s at sf0.1 for this query).
    QuerySpec("q143_source_overlap",
      (s, d) => {
        import graft.functions.TextFunctions._
        val srcs = t(s, d, "documents")
          .select(col("source"), tokens(col("text")).as("toks"))
          .select(col("source"), explode(
            graft.plans.GraftFunctions.shingleHashesNative(col("toks"), 8)).as("fp"))
          .groupBy(col("fp")).agg(collect_set(col("source")).as("srcs"))
        srcs
          .select(explode(expr(
            """flatten(transform(array_sort(srcs), (a, i) ->
              |  transform(slice(array_sort(srcs), i + 2, size(srcs)),
              |            b -> struct(a AS src_a, b AS src_b))))"""
              .stripMargin)).as("p"))
          .groupBy(col("p.src_a").as("src_a"), col("p.src_b").as("src_b"))
          .agg(count(lit(1)).as("n_shared"))
          .orderBy("src_a", "src_b")
      },
      Some("""WITH tk AS (
             |  SELECT source, string_split(text,' ') AS t FROM documents
             |), sp0 AS (
             |  SELECT source,
             |    unnest([('0x' || substr(md5(array_to_string(t[i:i+7],' ')),1,15))::BIGINT
             |            FOR i IN range(1, len(t)-6)]) AS fp
             |  FROM tk WHERE len(t) >= 8
             |), sp AS (SELECT DISTINCT source, fp FROM sp0),
             |pr AS (
             |  SELECT a.source AS src_a, b.source AS src_b
             |  FROM sp a JOIN sp b USING (fp) WHERE a.source < b.source)
             |SELECT src_a, src_b, count(*) AS n_shared
             |FROM pr GROUP BY src_a, src_b ORDER BY src_a, src_b""".stripMargin)),

    // Hybrid retrieval: BM25 top-10 candidates (q138's exact-integer
    // scorer) re-ranked by reciprocal-rank fusion with the q123 quality
    // logit as the document prior — relevance × authority, fused in rank
    // space (no score normalization, hence exactly reproducible: each RRF
    // term is one correctly-rounded division of exact integers). Both
    // rank windows partition by q_id; the prior rank is deliberately
    // candidate-local (the standard re-rank contract — NOT equivalent to
    // fusing corpus-wide prior ranks, since RRF consumes rank
    // magnitudes). See InvertedIndex.rrfRerank.
    QuerySpec("q145_hybrid_rrf",
      (s, d) => {
        val bm = graft.operators.InvertedIndex.bm25TopK(
          t(s, d, "documents"), "doc_id", "text",
          Seq("q1" -> Seq("spark", "join"), "q2" -> Seq("window", "scan"),
            "q3" -> Seq("stream", "batch", "hash")), k = 10)
        val z = t(s, d, "documents")
          .select(col("doc_id"), col("n_chars"),
            size(split(col("text"), " ")).cast("long").as("n_tok"),
            size(filter(split(col("text"), " "),
              x => x.isin("a", "the", "of", "to"))).cast("long").as("n_stop"))
          .select(col("doc_id"),
            (lit(-1.5) + lit(0.02) * col("n_tok").cast("double")
              + lit(1.6) * (col("n_stop").cast("double") / col("n_tok").cast("double"))
              - lit(0.12) * ((col("n_chars") - (col("n_tok") - 1)).cast("double")
                  / col("n_tok").cast("double"))).as("z"))
        graft.operators.InvertedIndex.rrfRerank(
            bm.join(z, "doc_id"), prior = col("z"), n = 5)
          .orderBy("q_id", "rrf_rank")
      },
      Some("""WITH qt(q_id, term) AS (VALUES
             |  ('q1','spark'),('q1','join'),('q2','window'),('q2','scan'),
             |  ('q3','stream'),('q3','batch'),('q3','hash')),
             |tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS term
             |        FROM documents),
             |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
             |       GROUP BY doc_id, term),
             |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf
             |       GROUP BY doc_id),
             |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
             |g AS (SELECT count(*) AS n_docs FROM documents),
             |tt AS (SELECT CAST(sum(dl) AS BIGINT) AS t_total FROM dl),
             |sc AS (
             |  SELECT q_id, tf.doc_id,
             |    CAST(sum((22 * t_total * tf * ((n_docs * 1000) // df))
             |      // (10 * t_total * tf + 3 * t_total + 9 * dl * n_docs))
             |      AS BIGINT) AS score
             |  FROM qt JOIN tf USING (term) JOIN df USING (term)
             |  JOIN dl ON dl.doc_id = tf.doc_id
             |  CROSS JOIN g CROSS JOIN tt
             |  GROUP BY q_id, tf.doc_id),
             |r AS (SELECT q_id, doc_id, score,
             |        row_number() OVER (PARTITION BY q_id
             |          ORDER BY score DESC, doc_id) AS rank
             |      FROM sc),
             |hits AS (SELECT q_id, doc_id, rank FROM r WHERE rank <= 10),
             |zt AS (
             |  SELECT doc_id,
             |    -1.5 + 0.02 * CAST(n_tok AS DOUBLE)
             |      + 1.6 * (CAST(n_stop AS DOUBLE) / CAST(n_tok AS DOUBLE))
             |      - 0.12 * (CAST(n_chars - (n_tok - 1) AS DOUBLE)
             |          / CAST(n_tok AS DOUBLE)) AS z
             |  FROM (
             |    SELECT doc_id, n_chars,
             |      CAST(len(string_split(text,' ')) AS BIGINT) AS n_tok,
             |      CAST(len(list_filter(string_split(text,' '),
             |        x -> x IN ('a','the','of','to'))) AS BIGINT) AS n_stop
             |    FROM documents)),
             |pk AS (
             |  SELECT h.q_id, h.doc_id, h.rank,
             |    row_number() OVER (PARTITION BY h.q_id
             |      ORDER BY z DESC, h.doc_id) AS p_rank
             |  FROM hits h JOIN zt USING (doc_id)),
             |f AS (
             |  SELECT q_id, doc_id, rank AS rel_rank, p_rank,
             |    1.0 / (60.0 + CAST(rank AS DOUBLE))
             |      + 1.0 / (60.0 + CAST(p_rank AS DOUBLE)) AS rrf
             |  FROM pk),
             |ff AS (
             |  SELECT q_id, doc_id, rel_rank, p_rank, rrf,
             |    row_number() OVER (PARTITION BY q_id
             |      ORDER BY rrf DESC, doc_id) AS rrf_rank
             |  FROM f)
             |SELECT q_id, rrf_rank, doc_id, rel_rank, p_rank, rrf
             |FROM ff WHERE rrf_rank <= 5 ORDER BY q_id, rrf_rank""".stripMargin)),

    // Exact-phrase retrieval on a POSITIONAL inverted index — "these
    // words, adjacent, in order", which the (term, doc, tf) index cannot
    // answer. Phrase = the corpus's own top trigram (count desc, trigram
    // asc — self-contained, fixture-independent); the probe joins the
    // three terms' (doc, pos) posting lists on (doc, pos+offset), so at
    // corpus scale the cost is the phrase's posting mass, never the
    // corpus. The one winning trigram row crosses the driver (the Bpe
    // argmax pattern); positions are 1-based for DuckDB list parity.
    QuerySpec("q156_phrase_search",
      (s, d) => graft.operators.InvertedIndex.phraseMatchTopTrigram(
        t(s, d, "documents"), "doc_id", "text")
        .orderBy("doc_id"),
      Some("""WITH tt AS (
             |  SELECT doc_id, i AS pos,
             |    s[i] || ' ' || s[i+1] || ' ' || s[i+2] AS tri
             |  FROM (SELECT doc_id, s, unnest(range(1, len(s)-1)) AS i
             |        FROM (SELECT doc_id, string_split(text, ' ') AS s
             |              FROM documents))
             |), top AS (
             |  SELECT tri FROM tt GROUP BY tri
             |  ORDER BY count(*) DESC, tri LIMIT 1
             |)
             |SELECT doc_id, count(*) AS n_occ, min(pos) AS first_pos
             |FROM tt JOIN top USING (tri)
             |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Hard-negative mining for retrieval training: the top-10 BM25 hits
    // per query that do NOT contain every query term — documents the
    // scorer ranks high on partial evidence, exactly the negatives a
    // dense-retriever trainer wants (BM25-negative sampling, the DPR
    // recipe). Composes the pooled BM25 scorer with a per-(query, doc)
    // distinct-term presence count off the same posting index; a hit is
    // a hard negative when n_present < n_terms.
    QuerySpec("q168_hard_negatives",
      (s, d) => {
        val docs = t(s, d, "documents")
        // query sets anchor on the corpus's one genuinely rare term
        // ('dup', df ≈ 5% of docs): high-idf anchor + common terms is
        // the mix that actually produces partial-evidence hits
        val qs = Seq("q1" -> Seq("dup", "merge"), "q2" -> Seq("dup", "scan", "line"),
          "q3" -> Seq("dup", "window", "hash"))
        val hits = graft.operators.InvertedIndex.bm25TopK(
          docs, "doc_id", "text", qs, k = 10)
        val spark = s
        import spark.implicits._
        val qt = broadcast(
          qs.flatMap { case (q, ts) => ts.map(q -> _) }.toDF("q_id", "term"))
        val tf = graft.operators.Postings.forCorpus(docs, "doc_id", "text")
          .tf.select(col("term"), col("doc").as("doc_id"))
        val pres = qt.join(tf, "term")
          .groupBy("q_id", "doc_id")
          .agg(countDistinct(col("term")).as("n_present"))
        val nq = qt.groupBy("q_id").agg(count(lit(1)).as("n_terms"))
        hits.join(pres, Seq("q_id", "doc_id"))
          .join(broadcast(nq), "q_id")
          .filter(col("n_present") < col("n_terms"))
          .select(col("q_id"), col("rank"), col("doc_id"), col("score"),
            col("n_present"), col("n_terms"))
          .orderBy("q_id", "rank")
      },
      Some("""WITH qt(q_id, term) AS (VALUES
             |  ('q1','dup'),('q1','merge'),('q2','dup'),('q2','scan'),
             |  ('q2','line'),('q3','dup'),('q3','window'),('q3','hash')),
             |tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS term
             |        FROM documents),
             |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
             |       GROUP BY doc_id, term),
             |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf
             |       GROUP BY doc_id),
             |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
             |g AS (SELECT count(*) AS n_docs FROM documents),
             |tt AS (SELECT CAST(sum(dl) AS BIGINT) AS t_total FROM dl),
             |sc AS (
             |  SELECT q_id, tf.doc_id,
             |    CAST(sum((22 * t_total * tf * ((n_docs * 1000) // df))
             |      // (10 * t_total * tf + 3 * t_total + 9 * dl * n_docs))
             |      AS BIGINT) AS score
             |  FROM qt JOIN tf USING (term) JOIN df USING (term)
             |  JOIN dl ON dl.doc_id = tf.doc_id
             |  CROSS JOIN g CROSS JOIN tt
             |  GROUP BY q_id, tf.doc_id),
             |r AS (SELECT q_id, doc_id, score,
             |        row_number() OVER (PARTITION BY q_id
             |          ORDER BY score DESC, doc_id) AS rank
             |      FROM sc),
             |pres AS (
             |  SELECT q_id, doc_id, count(DISTINCT term) AS n_present
             |  FROM qt JOIN tf USING (term) GROUP BY q_id, doc_id),
             |nq AS (SELECT q_id, count(*) AS n_terms FROM qt GROUP BY q_id)
             |SELECT r.q_id, rank, r.doc_id, score, n_present, n_terms
             |FROM r
             |JOIN pres ON pres.q_id = r.q_id AND pres.doc_id = r.doc_id
             |JOIN nq ON nq.q_id = r.q_id
             |WHERE rank <= 10 AND n_present < n_terms
             |ORDER BY r.q_id, rank""".stripMargin)),

    // Posting-list delta-compression audit — the index-ENGINEERING metric
    // behind every inverted-index deployment decision: per term, the
    // delta-encoded size of its doc-id posting list (sum of bit-lengths
    // of successive doc-id gaps; first gap anchored at doc_id + 1 so a
    // 0-id is representable) vs the raw 64-bit encoding. Dense terms
    // (small gaps) compress hardest — exactly why real indexes
    // gap-encode — and the report ranks the 30 heaviest lists, the ones
    // paying the most index bytes. Exact integer end to end: the bit
    // length is length(bin(gap)), no logs, no floats. Scale shape: the
    // lag window and the aggregation are both keyed by term
    // (vocabulary-shaped), off the pooled posting index — no corpus
    // re-tokenize, nothing global.
    QuerySpec("q178_posting_compression",
      (s, d) => {
        val ix = graft.operators.Postings.forCorpus(
          t(s, d, "documents"), "doc_id", "text")
        val tf = ix.tf.filter(length(col("term")) > 0)
          .select(col("term"), col("doc").as("doc_id"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("term")).orderBy(col("doc_id"))
        tf.withColumn("prev", lag(col("doc_id"), 1).over(w))
          .withColumn("gap", when(col("prev").isNull, col("doc_id") + 1)
            .otherwise(col("doc_id") - col("prev")))
          .withColumn("bits", length(bin(col("gap"))).cast("long"))
          .groupBy(col("term"))
          .agg(count(lit(1)).as("df"), sum(col("bits")).as("delta_bits"))
          .filter(col("df") >= 8)
          .select(col("term"), col("df"), col("delta_bits"),
            (col("df") * lit(64L)).as("raw_bits"))
          .orderBy(desc("delta_bits"), col("term")).limit(30)
      },
      Some("""WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS term
             |             FROM documents),
             |tf AS (SELECT term, doc_id FROM tok WHERE len(term) > 0
             |       GROUP BY term, doc_id),
             |g AS (SELECT term, doc_id,
             |        CASE WHEN lag(doc_id) OVER w IS NULL THEN doc_id + 1
             |             ELSE doc_id - lag(doc_id) OVER w END AS gap
             |      FROM tf WINDOW w AS (PARTITION BY term ORDER BY doc_id)),
             |a AS (SELECT term, count(*) AS df,
             |        CAST(sum(len(bin(gap))) AS BIGINT) AS delta_bits
             |      FROM g GROUP BY term)
             |SELECT term, df, delta_bits, df * 64 AS raw_bits
             |FROM a WHERE df >= 8
             |ORDER BY delta_bits DESC, term LIMIT 30""".stripMargin)),

    // Pseudo-relevance feedback (the RM3 recipe, rank-pipeline form):
    // stage 1 retrieves BM25 top-5 per query; each query is EXPANDED
    // with the 3 highest-weight terms from its own top documents
    // (weight = Σ tf·idfq over the hit docs, integer-quantized idf —
    // exact BIGINT, ties by term; original query terms excluded); stage
    // 2 re-retrieves with original ∪ expansion terms. The second
    // stage's query set is DATA-DEPENDENT — it comes out of stage 1's
    // hits as a DataFrame (bm25TopKTerms), which is the capability this
    // query pins: the scorer composes with computed query sets, not
    // just literals. Both stages and the expansion weights run off the
    // ONE pooled posting index; candidate mass is the hit-docs' posting
    // rows, never the corpus.
    QuerySpec("q191_rm3_expansion",
      (s, d) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val ix = graft.operators.Postings.forCorpus(
          t(s, d, "documents"), "doc_id", "text")
        val qt0 = Bm25Queries.flatMap { case (q, ts) => ts.map(q -> _) }
          .toDF("q_id", "term")
        val hits1 = graft.operators.InvertedIndex
          .bm25TopKTerms(ix, broadcast(qt0), 5)
          .select(col("q_id"), col("doc_id"))
        val tf = ix.tf.filter(length(col("term")) > 0)
          .select(col("term"), col("doc").as("doc_id"), col("tf"))
        val cand = hits1.join(tf, "doc_id")
          .join(ix.df, "term").crossJoin(broadcast(ix.nd))
          .withColumn("idfq", expr("(n_docs * 1000) DIV df"))
          .groupBy(col("q_id"), col("term"))
          .agg(sum(col("tf") * col("idfq")).as("w"))
          .join(qt0, Seq("q_id", "term"), "left_anti")
        val wx = Window.partitionBy(col("q_id")).orderBy(desc("w"), col("term"))
        val exp = cand.withColumn("rn", row_number().over(wx))
          .filter(col("rn") <= 3).select(col("q_id"), col("term"))
        val qt2 = qt0.unionByName(exp).distinct()
        graft.operators.InvertedIndex.bm25TopKTerms(ix, broadcast(qt2), 5)
          .orderBy("q_id", "rank")
      },
      Some("""WITH qt0(q_id, term) AS (VALUES
             |  ('q1','spark'),('q1','join'),('q2','window'),('q2','scan'),
             |  ('q3','stream'),('q3','batch'),('q3','hash')),
             |tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS term
             |        FROM documents),
             |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
             |       GROUP BY doc_id, term),
             |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf
             |       GROUP BY doc_id),
             |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
             |g AS (SELECT count(*) AS n_docs FROM documents),
             |tt AS (SELECT CAST(sum(dl) AS BIGINT) AS t_total FROM dl),
             |sc1 AS (
             |  SELECT q_id, tf.doc_id,
             |    CAST(sum((22 * t_total * tf * ((n_docs * 1000) // df))
             |      // (10 * t_total * tf + 3 * t_total + 9 * dl * n_docs))
             |      AS BIGINT) AS score
             |  FROM qt0 JOIN tf USING (term) JOIN df USING (term)
             |  JOIN dl ON dl.doc_id = tf.doc_id
             |  CROSS JOIN g CROSS JOIN tt
             |  GROUP BY q_id, tf.doc_id),
             |h1 AS (SELECT q_id, doc_id FROM (
             |    SELECT q_id, doc_id,
             |      row_number() OVER (PARTITION BY q_id
             |        ORDER BY score DESC, doc_id) AS rank
             |    FROM sc1) WHERE rank <= 5),
             |cand AS (
             |  SELECT h1.q_id, tf.term,
             |    CAST(sum(tf * ((n_docs * 1000) // df)) AS BIGINT) AS w
             |  FROM h1 JOIN tf ON tf.doc_id = h1.doc_id
             |  JOIN df USING (term) CROSS JOIN g
             |  WHERE len(tf.term) > 0
             |  GROUP BY h1.q_id, tf.term),
             |cand2 AS (
             |  SELECT c.* FROM cand c
             |  LEFT JOIN qt0 ON qt0.q_id = c.q_id AND qt0.term = c.term
             |  WHERE qt0.term IS NULL),
             |exp AS (SELECT q_id, term FROM (
             |    SELECT q_id, term,
             |      row_number() OVER (PARTITION BY q_id
             |        ORDER BY w DESC, term) AS rn
             |    FROM cand2) WHERE rn <= 3),
             |qt2 AS (SELECT q_id, term FROM qt0
             |        UNION SELECT q_id, term FROM exp),
             |sc2 AS (
             |  SELECT q_id, tf.doc_id,
             |    CAST(sum((22 * t_total * tf * ((n_docs * 1000) // df))
             |      // (10 * t_total * tf + 3 * t_total + 9 * dl * n_docs))
             |      AS BIGINT) AS score
             |  FROM qt2 JOIN tf USING (term) JOIN df USING (term)
             |  JOIN dl ON dl.doc_id = tf.doc_id
             |  CROSS JOIN g CROSS JOIN tt
             |  GROUP BY q_id, tf.doc_id),
             |r2 AS (SELECT q_id, doc_id, score,
             |         row_number() OVER (PARTITION BY q_id
             |           ORDER BY score DESC, doc_id) AS rank
             |       FROM sc2)
             |SELECT q_id, rank, doc_id, score FROM r2
             |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin)),

    // WEIGHTED link-graph centrality: the q137 co-purchase graph with
    // edge strength = interaction volume (lineitem count between the
    // customer and supplier), so a node's rank splits proportionally to
    // how much business each neighbor carries — the form a source-
    // weighting pipeline actually wants (link multiplicity matters;
    // uniform PageRank can't see it). Same integer fixed-point contract
    // as q137 — per-edge (pr·w) DIV sw floor division, 3 iterations —
    // hash-matching an unrolled 3-layer SQL oracle; same two shuffles
    // per iteration.
    QuerySpec("q193_weighted_pagerank",
      (s, d) => {
        // pooled weighted co-purchase frame — see q137
        val e0 = Q.copurchaseEdgesWeighted(s, d)
        val edges = e0.unionByName(
          e0.select(col("dst").as("src"), col("src").as("dst"), col("w")))
        graft.operators.Graphs.weightedPageRank(edges, iterations = 3)
          .orderBy("node")
      },
      Some("""WITH e0 AS (
             |  SELECT 'c' || o_custkey::VARCHAR AS src,
             |         's' || l_suppkey::VARCHAR AS dst,
             |         count(*) AS w
             |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
             |  GROUP BY 1, 2
             |), e AS (SELECT src, dst, w FROM e0
             |         UNION ALL SELECT dst, src, w FROM e0),
             |n AS (SELECT DISTINCT node FROM
             |        (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
             |sw AS (SELECT src, CAST(sum(w) AS BIGINT) AS sw FROM e GROUP BY src),
             |p0 AS (SELECT node, 1000000000::BIGINT AS pr FROM n),
             |c1 AS (SELECT dst, sum((pr * w) // sw) AS s FROM e
             |       JOIN sw USING (src) JOIN p0 ON p0.node = e.src GROUP BY dst),
             |p1 AS (SELECT n.node, 150000000 + (85 * COALESCE(s, 0)) // 100 AS pr
             |       FROM n LEFT JOIN c1 ON c1.dst = n.node),
             |c2 AS (SELECT dst, sum((pr * w) // sw) AS s FROM e
             |       JOIN sw USING (src) JOIN p1 ON p1.node = e.src GROUP BY dst),
             |p2 AS (SELECT n.node, 150000000 + (85 * COALESCE(s, 0)) // 100 AS pr
             |       FROM n LEFT JOIN c2 ON c2.dst = n.node),
             |c3 AS (SELECT dst, sum((pr * w) // sw) AS s FROM e
             |       JOIN sw USING (src) JOIN p2 ON p2.node = e.src GROUP BY dst),
             |p3 AS (SELECT n.node, 150000000 + (85 * COALESCE(s, 0)) // 100 AS pr
             |       FROM n LEFT JOIN c3 ON c3.dst = n.node)
             |SELECT node, CAST(pr AS BIGINT) AS pr FROM p3 ORDER BY node""".stripMargin)),

    // Text-index DELETE maintenance, oracle-gated — the retrieval-family
    // sibling of q212 (vector) and q213 (dup graph), next to q147's
    // delta MERGE on the append side: the doc_id % 10 = 6 documents are
    // deleted from the posting index by INCREMENTAL, |deleted|-sized
    // adjustments (Postings.delete — the dropped postings ARE the
    // per-term df decrements, the dropped doc-lengths the n_docs/t_total
    // decrements; no recount touches the surviving corpus), and the q138
    // BM25 scoring runs from the pruned index. Counters are exact longs,
    // so the scores hash-match the oracle's FULL recompute over the
    // remaining documents — delete ≡ rebuild, with the three queries'
    // candidate sets exercising both pruned postings and pruned stats.
    QuerySpec("q214_bm25_delete",
      (s, d) => {
        val docs = t(s, d, "documents")
        val pruned = graft.operators.Postings.delete(
          graft.operators.Postings.forCorpus(docs, "doc_id", "text"),
          docs.filter(col("doc_id") % 10 === 6), "doc_id")
        graft.operators.InvertedIndex.bm25TopKFromIndex(pruned,
          Bm25Queries, k = 5)
          .orderBy("q_id", "rank")
      },
      Some(bm25OracleFrom(
        "(SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 6)"))),

    // Bloom-filter membership, oracle-gated END TO END — the
    // set-membership sketch next to CMS (q217, frequencies) and KMV
    // (q187, distincts): k = 3 affine hash rows into m = 16384 bits,
    // built as a DISTINCT (bit) frame ≤ m rows no matter the corpus,
    // probed by a bit-keyed equi-join (k rows per probe term, never a
    // corpus pass). One source's vocabulary is the member set, another
    // source's vocabulary probes it, and the report carries the
    // filter's verdict NEXT TO exact ground truth — false positives
    // surfaced per term, false negatives impossible by construction
    // (the planted spec pins that, and `present AND NOT in_bloom`
    // rows would fail the hash gate here). The md5 bridge + literal
    // affine constants make the set-bit frame itself bit-identical in
    // DuckDB — the filter is hash-CHECKED, not statistically trusted;
    // q92's opaque driver-built Bloom prefilter gets an auditable,
    // mergeable (union-of-partials) sibling the streaming monitor
    // maintains per batch (EventStreams.bloomMonitorSink).
    QuerySpec("q219_bloom_membership",
      (s, d) => {
        val docs = t(s, d, "documents")
        def vocab(src: String) = docs.filter(col("source") === src)
          .select(explode(split(col("text"), " ")).as("term"))
          .filter(length(col("term")) > 0).distinct()
        val members = vocab("src0")
        val bits = graft.operators.BloomSet.sketch(members, "term")
        graft.operators.BloomSet.report(bits, members, vocab("src1"))
      },
      Some("""WITH mem AS (
             |  SELECT DISTINCT t.term FROM (
             |    SELECT unnest(string_split(text, ' ')) AS term
             |    FROM documents WHERE source = 'src0') t
             |  WHERE len(t.term) > 0
             |), mh AS (
             |  SELECT ('0x' || substr(md5(term),1,15))::BIGINT % 2147483647 AS hp
             |  FROM mem
             |), bits AS (
             |  SELECT DISTINCT bit FROM (
             |    SELECT (1103515245*hp + 12345) % 2147483647 % 16384 AS bit FROM mh
             |    UNION ALL SELECT (214013*hp + 2531011) % 2147483647 % 16384 FROM mh
             |    UNION ALL SELECT (134775813*hp + 1) % 2147483647 % 16384 FROM mh)
             |), probes AS (
             |  SELECT DISTINCT t.term FROM (
             |    SELECT unnest(string_split(text, ' ')) AS term
             |    FROM documents WHERE source = 'src1') t
             |  WHERE len(t.term) > 0
             |), ph AS (
             |  SELECT term,
             |    ('0x' || substr(md5(term),1,15))::BIGINT % 2147483647 AS hp
             |  FROM probes
             |), pb AS (
             |  SELECT term, (1103515245*hp + 12345) % 2147483647 % 16384 AS bit FROM ph
             |  UNION ALL SELECT term, (214013*hp + 2531011) % 2147483647 % 16384 FROM ph
             |  UNION ALL SELECT term, (134775813*hp + 1) % 2147483647 % 16384 FROM ph
             |), mm AS (
             |  SELECT pb.term, count(b.bit) = 3 AS in_bloom
             |  FROM pb LEFT JOIN bits b ON b.bit = pb.bit
             |  GROUP BY pb.term
             |)
             |SELECT mm.term, mm.in_bloom,
             |  (mm.term IN (SELECT term FROM mem)) AS present,
             |  mm.in_bloom AND NOT (mm.term IN (SELECT term FROM mem))
             |    AS false_positive
             |FROM mm ORDER BY mm.term""".stripMargin)),

    // Water-filling token-budget allocation — the mixture-balancing
    // primitive: given per-source token volumes and a global budget
    // (90% of the corpus here), find the uniform level c such that
    // Σ min(tokens_s, c) spends the budget — small sources keep
    // everything, large sources are capped at c. One corpus pass for
    // the volumes; everything after runs on the |sources|-row frame
    // (the single-partition window is over 20 rows — bounded and
    // declared). Exact integers throughout: for each rank r over the
    // ascending volumes, the candidate level funds the r−1 smallest
    // fully and splits the remainder (budget − prefix_{r−1}) DIV
    // (n−r+1); the level is the candidate at the LARGEST feasible
    // rank (lvl ≥ tokens_{r−1}); DIV truncation leaves < n tokens
    // unspent (documented, and both engines truncate identically).
    QuerySpec("q242_token_waterfill",
      (s, d) => {
        val tok = graft.operators.OperatorCaches.persistTracked(
          t(s, d, "documents").groupBy(col("source"))
            .agg(sum(size(split(col("text"), " ")).cast("long"))
              .as("tokens")))
        graft.operators.Mixture.waterfill(tok).orderBy("source")
      },
      Some("""WITH tok AS (
             |  SELECT source,
             |    CAST(sum(len(string_split(text, ' '))) AS BIGINT)
             |      AS tokens
             |  FROM documents GROUP BY 1
             |), tot AS (
             |  SELECT CAST(sum(tokens) AS BIGINT) AS total,
             |    count(*) AS n FROM tok
             |), ranked AS (
             |  SELECT source, tokens,
             |    CAST(row_number() OVER (ORDER BY tokens, source)
             |      AS BIGINT) AS r,
             |    CAST(sum(tokens) OVER (ORDER BY tokens, source
             |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS prefix,
             |    CAST(COALESCE(lag(tokens) OVER (ORDER BY tokens, source),
             |      0) AS BIGINT) AS prev_t
             |  FROM tok
             |), lv AS (
             |  SELECT ((total * 9 // 10) - (prefix - tokens))
             |    // (n - r + 1) AS lvl
             |  FROM ranked, tot
             |  WHERE ((total * 9 // 10) - (prefix - tokens))
             |    // (n - r + 1) >= prev_t
             |  ORDER BY r DESC LIMIT 1
             |)
             |SELECT source, tokens,
             |  CAST(least(tokens, lvl) AS BIGINT) AS allocated,
             |  least(tokens, lvl) * 10000 // tokens AS kept_bp
             |FROM tok, lv ORDER BY source""".stripMargin)),

    // Greedy source selection by MARGINAL NOVELTY — submodular
    // coverage maximization (Nemhauser's (1−1/e) greedy), the
    // data-mixing question asked forward: "which 5 sources, added in
    // order, cover the most distinct 3-gram shingles?" Each round
    // scores every remaining source by the shingles it adds BEYOND the
    // already-covered set (one anti-join + keyed count into a
    // |sources|-row frame; only the 1-row argmax crosses the driver —
    // the Bpe convention), picks the max (count DESC, source ASC
    // tiebreak), and folds its shingles into the covered frame. The
    // report is 5 rows: pick order, marginal gain, cumulative
    // coverage — the curve whose flattening tells a 100 TB mixer when
    // additional sources stop buying vocabulary. Oracle: the same 5
    // rounds unrolled in DuckDB. Coverage state is vocabulary-sized,
    // never corpus-sized.
    QuerySpec("q241_greedy_source_cover",
      (s, d) => graft.operators.Mixture.pooledGreedySourceCover(
        t(s, d, "documents"), "doc_id", "text", "source", rounds = 5)
        .orderBy("round"),
      Some {
        val shCte = """WITH sh AS (
          |  SELECT DISTINCT doc_id,
          |    ('0x' || substr(md5(s[i] || ' ' || s[i+1] || ' ' || s[i+2]),1,15))::BIGINT AS h
          |  FROM (SELECT doc_id, s, unnest(range(1, len(s)-1)) AS i
          |        FROM (SELECT doc_id, string_split(text, ' ') AS s
          |              FROM documents))
          |), ss AS (
          |  SELECT DISTINCT source, h FROM sh
          |  JOIN documents USING (doc_id)
          |), srcs AS (SELECT DISTINCT source FROM ss)""".stripMargin
        val rounds = (1 to 5).map { r =>
          val notChosen = (1 until r)
            .map(i => s"s.source NOT IN (SELECT source FROM p$i)")
          val whereSrc = if (notChosen.isEmpty) ""
            else notChosen.mkString(" WHERE ", " AND ", "")
          val notCovered = if (r == 1) ""
            else s" AND ss.h NOT IN (SELECT h FROM c${r - 1})"
          val prevCov = if (r == 1) ""
            else s"SELECT h FROM c${r - 1} UNION "
          s"""
          |, g$r AS (
          |  SELECT s.source,
          |    (SELECT count(*) FROM ss
          |     WHERE ss.source = s.source$notCovered) AS gain
          |  FROM srcs s$whereSrc
          |), p$r AS (
          |  SELECT source, CAST(gain AS BIGINT) AS gain FROM g$r
          |  ORDER BY gain DESC, source LIMIT 1
          |), c$r AS (
          |  ${prevCov}SELECT DISTINCT h FROM ss JOIN p$r USING (source)
          |)""".stripMargin
        }.mkString
        val sel = (1 to 5).map(r =>
          s"""SELECT CAST($r AS BIGINT) AS round, source, gain,
             |  (SELECT CAST(count(*) AS BIGINT) FROM c$r)
             |    AS cum_coverage FROM p$r""".stripMargin)
          .mkString("\n", "\nUNION ALL\n", "\nORDER BY round")
        shCte + rounds + sel
      }),

    // MIXTURE DESIGN — the q241+q242 composite a curator actually runs:
    // select 5 sources by greedy marginal novelty, then water-fill the
    // 90% token budget over ONLY the selection (max-min fair allocation
    // of the kept tokens across the chosen sources). One row per pick:
    // its selection round and marginal gain joined to its volume,
    // allocation, and kept fraction. Both halves are the oracle-gated
    // operators (Mixture.greedySourceCover = q241,
    // Mixture.waterfill = q242); the oracle unrolls the same 5 rounds
    // and water-fills over the picked subset. The join is
    // 5-row × |sources|-row — driver-free, broadcast by size.
    QuerySpec("q244_mixture_design",
      (s, d) => {
        val docs = t(s, d, "documents")
        // pooled with q241's identical selection — five greedy rounds of
        // scans + argmax collects run once per corpus per run
        val picks = graft.operators.Mixture.pooledGreedySourceCover(
          docs, "doc_id", "text", "source", rounds = 5)
        val tok = docs.join(picks.select("source"), Seq("source"))
          .groupBy(col("source"))
          .agg(sum(size(split(col("text"), " ")).cast("long"))
            .as("tokens"))
        graft.operators.Mixture.waterfill(tok)
          .join(picks, Seq("source"))
          .select(col("round"), col("source"), col("gain"),
            col("tokens"), col("allocated"), col("kept_bp"))
          .orderBy("round")
      },
      Some {
        val shCte = """WITH sh AS (
          |  SELECT DISTINCT doc_id,
          |    ('0x' || substr(md5(s[i] || ' ' || s[i+1] || ' ' || s[i+2]),1,15))::BIGINT AS h
          |  FROM (SELECT doc_id, s, unnest(range(1, len(s)-1)) AS i
          |        FROM (SELECT doc_id, string_split(text, ' ') AS s
          |              FROM documents))
          |), ss AS (
          |  SELECT DISTINCT source, h FROM sh
          |  JOIN documents USING (doc_id)
          |), srcs AS (SELECT DISTINCT source FROM ss)""".stripMargin
        val rounds = (1 to 5).map { r =>
          val notChosen = (1 until r)
            .map(i => s"s.source NOT IN (SELECT source FROM p$i)")
          val whereSrc = if (notChosen.isEmpty) ""
            else notChosen.mkString(" WHERE ", " AND ", "")
          val notCovered = if (r == 1) ""
            else s" AND ss.h NOT IN (SELECT h FROM c${r - 1})"
          val prevCov = if (r == 1) ""
            else s"SELECT h FROM c${r - 1} UNION "
          s"""
          |, g$r AS (
          |  SELECT s.source,
          |    (SELECT count(*) FROM ss
          |     WHERE ss.source = s.source$notCovered) AS gain
          |  FROM srcs s$whereSrc
          |), p$r AS (
          |  SELECT source, CAST(gain AS BIGINT) AS gain FROM g$r
          |  ORDER BY gain DESC, source LIMIT 1
          |), c$r AS (
          |  ${prevCov}SELECT DISTINCT h FROM ss JOIN p$r USING (source)
          |)""".stripMargin
        }.mkString
        val waterfill = (1 to 5).map(r =>
          s"SELECT CAST($r AS BIGINT) AS round, source, gain FROM p$r")
          .mkString("\n, picks AS (\n", "\nUNION ALL\n", ")") +
          """
          |, tok AS (
          |  SELECT source,
          |    CAST(sum(len(string_split(text, ' '))) AS BIGINT)
          |      AS tokens
          |  FROM documents JOIN picks USING (source) GROUP BY 1
          |), tot AS (
          |  SELECT CAST(sum(tokens) AS BIGINT) AS total,
          |    count(*) AS n FROM tok
          |), ranked AS (
          |  SELECT source, tokens,
          |    CAST(row_number() OVER (ORDER BY tokens, source)
          |      AS BIGINT) AS r,
          |    CAST(sum(tokens) OVER (ORDER BY tokens, source
          |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS prefix,
          |    CAST(COALESCE(lag(tokens) OVER (ORDER BY tokens, source),
          |      0) AS BIGINT) AS prev_t
          |  FROM tok
          |), lv AS (
          |  SELECT ((total * 9 // 10) - (prefix - tokens))
          |    // (n - r + 1) AS lvl
          |  FROM ranked, tot
          |  WHERE ((total * 9 // 10) - (prefix - tokens))
          |    // (n - r + 1) >= prev_t
          |  ORDER BY r DESC LIMIT 1
          |)
          |SELECT round, source, gain, tokens,
          |  CAST(least(tokens, lvl) AS BIGINT) AS allocated,
          |  least(tokens, lvl) * 10000 // tokens AS kept_bp
          |FROM tok JOIN picks USING (source) CROSS JOIN lv
          |ORDER BY round""".stripMargin
        shCte + rounds + waterfill
      }),

    // Stratified sampling with EXACT largest-remainder (Hamilton)
    // allocation: 100 eval documents split across sources proportionally
    // to token volume — floor quotas, the missing seats to the largest
    // integer remainders (ties source ASC) — then each stratum filled by
    // md5-hash rank over the id (the deterministic "random" both engines
    // reproduce, the q66 split discipline). The balanced-eval-set /
    // per-source-cap primitive; allocation is |sources|-row exact
    // integer arithmetic, selection one source-partitioned window. See
    // operators/Mixture.stratifiedSample.
    QuerySpec("q246_stratified_sample",
      (s, d) => {
        val docs = t(s, d, "documents")
        val w = docs.groupBy(col("source"))
          .agg(sum(size(split(col("text"), " ")).cast("long")).as("w"))
        graft.operators.Mixture.stratifiedSample(
          docs, "doc_id", "source", w, n = 100L)
          .orderBy("source", "doc_id")
      },
      Some("""WITH w AS (
             |  SELECT source,
             |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS w
             |  FROM documents GROUP BY 1
             |), tot AS (SELECT CAST(sum(w) AS BIGINT) AS tw FROM w),
             |q0 AS (
             |  SELECT source, w, 100 * w // tw AS fl,
             |    100 * w - (100 * w // tw) * tw AS rem
             |  FROM w, tot
             |), def AS (
             |  SELECT 100 - CAST(sum(fl) AS BIGINT) AS deficit FROM q0
             |), q AS (
             |  SELECT source,
             |    CAST(fl + CASE WHEN row_number()
             |        OVER (ORDER BY rem DESC, source) <= deficit
             |      THEN 1 ELSE 0 END AS BIGINT) AS quota_s
             |  FROM q0, def
             |), r AS (
             |  SELECT source, doc_id,
             |    row_number() OVER (PARTITION BY source
             |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
             |  FROM documents
             |)
             |SELECT r.source, r.doc_id, quota_s
             |FROM r JOIN q ON q.source = r.source
             |WHERE r.rk <= quota_s
             |ORDER BY r.source, r.doc_id""".stripMargin)),

    // HITS hubs & authorities on the customer→part purchase bipartite
    // graph — the mutual-reinforcement centrality (an asset matters
    // because important consumers touch it; a consumer matters because
    // it touches important assets) that one-sided degree counting and
    // PageRank's single score cannot express on a bipartite curation
    // graph. Two full auth→hub rounds of integer L1-normalized HITS
    // (see operators/Graphs.hits: L1 instead of the textbook L2 keeps
    // the whole trajectory in exact DECIMAL/HUGEINT arithmetic — same
    // ranking, no sqrt), top-20 per side published. The oracle unrolls
    // the same two rounds.
    QuerySpec("q249_hits",
      (s, d) => {
        // pooled bipartite edge frame (Q.custPartEdges): the
        // orders⋈lineitem + distinct was rebuilt on every run
        val edges = Q.custPartEdges(s, d)
        graft.operators.Graphs.hits(edges, iterations = 2)
          .withColumn("rk", row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col("side"))
              .orderBy(desc("score"), asc("node"))).cast("long"))
          .filter(col("rk") <= 20)
          .select(col("side"), col("rk"), col("node"), col("score"))
          .orderBy("side", "rk")
      },
      Some("""WITH e AS (
             |  SELECT DISTINCT o_custkey AS src, l_partkey AS dst
             |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
             |), h0 AS (
             |  SELECT DISTINCT src, 1000000000::HUGEINT AS h FROM e
             |), a1r AS (
             |  SELECT dst, sum(h) AS raw FROM e JOIN h0 USING (src)
             |  GROUP BY dst
             |), a1 AS (
             |  SELECT dst, raw * 1000000000 // (SELECT sum(raw) FROM a1r)
             |    AS a FROM a1r
             |), h1r AS (
             |  SELECT src, sum(a) AS raw FROM e JOIN a1 USING (dst)
             |  GROUP BY src
             |), h1 AS (
             |  SELECT src, raw * 1000000000 // (SELECT sum(raw) FROM h1r)
             |    AS h FROM h1r
             |), a2r AS (
             |  SELECT dst, sum(h) AS raw FROM e JOIN h1 USING (src)
             |  GROUP BY dst
             |), a2 AS (
             |  SELECT dst, raw * 1000000000 // (SELECT sum(raw) FROM a2r)
             |    AS a FROM a2r
             |), h2r AS (
             |  SELECT src, sum(a) AS raw FROM e JOIN a2 USING (dst)
             |  GROUP BY src
             |), h2 AS (
             |  SELECT src, raw * 1000000000 // (SELECT sum(raw) FROM h2r)
             |    AS h FROM h2r
             |), scores AS (
             |  SELECT 'auth' AS side, dst AS node, CAST(a AS BIGINT)
             |    AS score FROM a2
             |  UNION ALL
             |  SELECT 'hub', src, CAST(h AS BIGINT) FROM h2
             |), r AS (
             |  SELECT side, node, score,
             |    CAST(row_number() OVER (PARTITION BY side
             |      ORDER BY score DESC, node) AS BIGINT) AS rk
             |  FROM scores
             |)
             |SELECT side, rk, node, score FROM r
             |WHERE rk <= 20 ORDER BY side, rk""".stripMargin)),

    // Sequence-packing efficiency audit — the padding-waste report a
    // training pipeline reads before choosing its packing strategy:
    // per source, the sequence count and wasted-pad tokens under
    // ONE-DOC-PER-SEQUENCE packing (each doc padded to the 512-token
    // boundary — ⌈nt/512⌉ sequences, the overflow chunking rule) vs
    // CONTIGUOUS packing (q77's concatenated form — ⌈Σnt/512⌉
    // sequences, only the source's final sequence padded), with the
    // utilization of each in exact basis points. Pure arithmetic on the
    // per-doc token counts: one map + one keyed aggregation, no joins,
    // no windows — a single map-side-combined pass at any corpus size.
    QuerySpec("q252_packing_audit",
      (s, d) => t(s, d, "documents")
        .select(col("source"),
          size(split(col("text"), " ")).cast("long").as("nt"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("nt")).as("n_tokens"),
          sum(expr("(nt + 511) DIV 512")).as("seqs_padded"))
        .select(col("source"), col("n_docs"), col("n_tokens"),
          col("seqs_padded"),
          (col("seqs_padded") * 512 - col("n_tokens")).as("pad_padded"),
          expr("(n_tokens + 511) DIV 512").as("seqs_packed"),
          (expr("(n_tokens + 511) DIV 512") * 512 - col("n_tokens"))
            .as("pad_packed"),
          expr("n_tokens * 10000 DIV (seqs_padded * 512)")
            .as("util_padded_bp"),
          expr("n_tokens * 10000 DIV (((n_tokens + 511) DIV 512) * 512)")
            .as("util_packed_bp"))
        .orderBy("source"),
      Some("""WITH d AS (
             |  SELECT source,
             |    CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
             |  FROM documents
             |), a AS (
             |  SELECT source, count(*) AS n_docs,
             |    CAST(sum(nt) AS BIGINT) AS n_tokens,
             |    CAST(sum((nt + 511) // 512) AS BIGINT) AS seqs_padded
             |  FROM d GROUP BY 1
             |)
             |SELECT source, n_docs, n_tokens, seqs_padded,
             |  seqs_padded * 512 - n_tokens AS pad_padded,
             |  (n_tokens + 511) // 512 AS seqs_packed,
             |  ((n_tokens + 511) // 512) * 512 - n_tokens AS pad_packed,
             |  n_tokens * 10000 // (seqs_padded * 512) AS util_padded_bp,
             |  n_tokens * 10000 // (((n_tokens + 511) // 512) * 512)
             |    AS util_packed_bp
             |FROM a ORDER BY source""".stripMargin)),

    // Per-source retention cap (the RefinedWeb/FineWeb anti-domination
    // rule): no source contributes more than 30 documents, survivors
    // are the source's best 30 by token count (ties to doc_id), and the
    // report is what a curator actually reads — kept/dropped doc and
    // token volumes plus the quality cutoff each over-contributing
    // source paid. One SOURCE-KEYED window (never a global sort) + one
    // aggregate; the ranked frame comes from Mixture.sourceCap so the
    // same mechanism also serves the filtered corpus itself.
    QuerySpec("q262_source_cap",
      (s, d) => {
        val ranked = graft.operators.Mixture.sourceCap(
          t(s, d, "documents"), "source", "doc_id",
          size(split(col("text"), " ")).cast("long"), cap = 30)
        ranked.groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("rk") <= 30, 1L).otherwise(0L)).as("kept"),
            sum(when(col("rk") > 30, 1L).otherwise(0L)).as("dropped"),
            sum(when(col("rk") <= 30, col("quality")).otherwise(0L))
              .as("kept_tokens"),
            sum(when(col("rk") > 30, col("quality")).otherwise(0L))
              .as("dropped_tokens"),
            min(when(col("rk") <= 30, col("quality")))
              .as("cutoff_tokens"))
          .orderBy("source")
      },
      Some("""WITH ranked AS (
             |  SELECT source, doc_id,
             |    CAST(len(string_split(text, ' ')) AS BIGINT) AS quality,
             |    row_number() OVER (PARTITION BY source
             |      ORDER BY len(string_split(text, ' ')) DESC, doc_id)
             |      AS rk
             |  FROM documents
             |)
             |SELECT source, count(*) AS n_docs,
             |  CAST(sum(CASE WHEN rk <= 30 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS kept,
             |  CAST(sum(CASE WHEN rk > 30 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS dropped,
             |  CAST(sum(CASE WHEN rk <= 30 THEN quality ELSE 0 END)
             |    AS BIGINT) AS kept_tokens,
             |  CAST(sum(CASE WHEN rk > 30 THEN quality ELSE 0 END)
             |    AS BIGINT) AS dropped_tokens,
             |  CAST(min(CASE WHEN rk <= 30 THEN quality END) AS BIGINT)
             |    AS cutoff_tokens
             |FROM ranked GROUP BY source ORDER BY source""".stripMargin)),

    // Data-constrained epoch scheduling (Muennighoff et al. 2023): the
    // token budget is 2× the corpus, each source gets a uniform target,
    // and small sources REPEAT up to 4 epochs to meet it instead of
    // letting big sources dominate the mix — with the unmet remainder
    // (what 4 epochs cannot fill) reported as the acquisition signal.
    // Exact integer DIV end-to-end; |sources|-row frames only past the
    // token count (Mixture.epochSchedule).
    QuerySpec("q271_epoch_schedule",
      (s, d) => {
        val tok = t(s, d, "documents").groupBy(col("source"))
          .agg(sum(size(split(col("text"), " ")).cast("long"))
            .as("tokens"))
        graft.operators.Mixture.epochSchedule(tok, num = 2L, den = 1L,
          maxEpochs = 4).orderBy("source")
      },
      Some("""WITH tok AS (
             |  SELECT source,
             |    CAST(sum(len(string_split(text, ' '))) AS BIGINT)
             |      AS tokens
             |  FROM documents GROUP BY 1
             |), tot AS (
             |  SELECT CAST(sum(tokens) AS BIGINT) AS total,
             |    count(*) AS n FROM tok
             |), base AS (
             |  SELECT source, tokens,
             |    CAST((total * 2 // 1) // n AS BIGINT) AS target,
             |    CAST(least(4, (((total * 2 // 1) // n) + tokens - 1)
             |      // tokens) AS BIGINT) AS epochs
             |  FROM tok, tot
             |)
             |SELECT source, tokens, target, epochs,
             |  CAST(least(target, epochs * tokens) AS BIGINT) AS served,
             |  CAST(target - least(target, epochs * tokens) AS BIGINT)
             |    AS unmet,
             |  CAST(CASE WHEN least(target, epochs * tokens) = 0 THEN 0
             |    ELSE (least(target, epochs * tokens)
             |          - least(least(target, epochs * tokens), tokens))
             |         * 10000 // least(target, epochs * tokens)
             |  END AS BIGINT) AS repeated_bp
             |FROM base ORDER BY source""".stripMargin)),

    // Retrieval acceptance: MRR@10 of the q138 BM25 runs against an
    // exact relevance rule (a document is relevant to a query iff its
    // token set contains EVERY query term — the conjunctive-containment
    // labeling both engines can state deterministically). Reciprocal
    // rank rides the exact-integer grid (rr_bp = 10⁴ DIV first relevant
    // rank; 0 when no relevant doc ranks in the top 10), so the
    // classic ranking metric is hash-checkable — the acceptance gate a
    // retrieval stack ships with next to recall@k (q140, vectors) and
    // AUC (q220, classifiers). Work shape: the q138 scorer over pooled
    // postings + one (term)-keyed relevance join; no new corpus pass.
    QuerySpec("q276_retrieval_mrr",
      (s, d) => {
        import s.implicits._
        val docs = t(s, d, "documents")
        val runs = graft.operators.InvertedIndex.bm25TopK(
          docs, "doc_id", "text", Bm25Queries, k = 10)
        val qt = Bm25Queries
          .flatMap { case (q, ts) => ts.map(q -> _) }.toDF("q_id", "term")
        val nt = qt.groupBy(col("q_id"))
          .agg(countDistinct(col("term")).as("n_terms"))
        val dtok = docs.select(col("doc_id"),
          explode(split(col("text"), " ")).as("term")).distinct()
        val rel = dtok.join(broadcast(qt), "term")
          .groupBy(col("q_id"), col("doc_id"))
          .agg(countDistinct(col("term")).as("m"))
          .join(broadcast(nt), "q_id")
          .filter(col("m") === col("n_terms"))
          .select(col("q_id"), col("doc_id"), lit(true).as("is_rel"))
        runs.join(rel, Seq("q_id", "doc_id"), "left")
          .groupBy(col("q_id"))
          .agg(sum(when(col("is_rel"), 1L).otherwise(0L)).as("n_rel_top10"),
            min(when(col("is_rel"), col("rank").cast("long")))
              .as("__fr"))
          .select(col("q_id"), col("n_rel_top10"),
            coalesce(col("__fr"), lit(0L)).as("first_rel_rank"),
            when(col("__fr").isNull, lit(0L))
              .otherwise(expr("10000 DIV __fr")).as("rr_bp"))
          .orderBy("q_id")
      },
      Some("""WITH qt(q_id, term) AS (VALUES
             |  ('q1','spark'),('q1','join'),('q2','window'),('q2','scan'),
             |  ('q3','stream'),('q3','batch'),('q3','hash')),
             |tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS term
             |        FROM documents),
             |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
             |       GROUP BY doc_id, term),
             |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf
             |       GROUP BY doc_id),
             |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
             |g AS (SELECT count(*) AS n_docs FROM documents),
             |tt AS (SELECT CAST(sum(dl) AS BIGINT) AS t_total FROM dl),
             |sc AS (
             |  SELECT q_id, tf.doc_id,
             |    CAST(sum((22 * t_total * tf * ((n_docs * 1000) // df))
             |      // (10 * t_total * tf + 3 * t_total + 9 * dl * n_docs))
             |      AS BIGINT) AS score
             |  FROM qt JOIN tf USING (term) JOIN df USING (term)
             |  JOIN dl ON dl.doc_id = tf.doc_id
             |  CROSS JOIN g CROSS JOIN tt
             |  GROUP BY q_id, tf.doc_id),
             |r AS (SELECT q_id, doc_id, score,
             |        row_number() OVER (PARTITION BY q_id
             |          ORDER BY score DESC, doc_id) AS rank
             |      FROM sc),
             |hits AS (SELECT q_id, doc_id, rank FROM r WHERE rank <= 10),
             |dtok AS (SELECT DISTINCT doc_id, term FROM tok),
             |nt AS (SELECT q_id, count(DISTINCT term) AS n_terms
             |       FROM qt GROUP BY 1),
             |relc AS (SELECT qt.q_id, dtok.doc_id,
             |           count(DISTINCT dtok.term) AS m
             |         FROM qt JOIN dtok USING (term) GROUP BY 1, 2),
             |rel AS (SELECT relc.q_id, doc_id FROM relc
             |        JOIN nt USING (q_id) WHERE m = n_terms),
             |j AS (SELECT hits.q_id, hits.rank,
             |        (rel.doc_id IS NOT NULL) AS is_rel
             |      FROM hits LEFT JOIN rel
             |        ON rel.q_id = hits.q_id AND rel.doc_id = hits.doc_id)
             |SELECT q_id,
             |  CAST(sum(CASE WHEN is_rel THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_rel_top10,
             |  CAST(COALESCE(min(CASE WHEN is_rel THEN rank END), 0)
             |    AS BIGINT) AS first_rel_rank,
             |  CAST(CASE WHEN min(CASE WHEN is_rel THEN rank END) IS NULL
             |    THEN 0 ELSE 10000 // min(CASE WHEN is_rel THEN rank END)
             |  END AS BIGINT) AS rr_bp
             |FROM j GROUP BY q_id ORDER BY q_id""".stripMargin)))
}
