package graft.queries

import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._
import Q._

/** Deduplication surface over `documents`: exact (hash-groupBy), MinHash+LSH
  * (shingle → minhash → band → bucket equi-join), SimHash, and n-gram
  * Jaccard — the training-data-pipeline dedup family.
  *
  * Scale shape: every variant reduces to groupBy/equi-join on a derived key
  * (content hash, band hash, bucket) — shuffle-partitionable by that key,
  * never an O(n²) cross join. The only pairwise work (exact Jaccard) runs on
  * LSH candidates, whose count is governed by true similarity, not n².
  *
  * Hashing is md5-derived (see TextFunctions) so each stage is reproducible
  * in DuckDB — the MinHash signature and LSH pair queries are fully
  * oracle-checked, which is rare for sketch pipelines.
  */
object DedupQueries {

  private val P = MinhashP
  private val NumBands = 4
  private val RowsPerBand = 2 // b×r banding: 4 bands × 2 rows = 8 signatures
  private val NumSigs = NumBands * RowsPerBand
  private val MaxBucket = graft.operators.Dedup.DefaultMaxBucketSize

  /** SRP banding for the embedding near-dup (q35): 3 bands × 4 planes over
    * the 64-dim embeddings; deterministic seed shared with the oracle SQL
    * (the planes are rendered into it as literals). */
  private val NeardupBands = 3
  private val NeardupPlanesPerBand = 4
  private val NeardupPlanes: Seq[Array[Double]] =
    graft.functions.VectorFunctions.gaussianPlanes(NeardupBands * NeardupPlanesPerBand, 64)

  /** DuckDB twin of VectorFunctions.lshBucket over band `band`'s planes. */
  private def srpBucketSql(vExpr: String, band: Int): String =
    graft.functions.VectorFunctions.lshBucketSql(vExpr,
      NeardupPlanes.slice(band * NeardupPlanesPerBand, (band + 1) * NeardupPlanesPerBand))

  /** DuckDB twin of TextFunctions.shingleHashSet(k=3), as a CTE prefix:
    * 60-bit md5 hash per 3-gram shingle, distinct per doc. `rel` is the
    * document source relation — `documents` for the corpus-wide queries,
    * an inline filtered subquery for the sampled-evaluation ones (q150). */
  private def shingleCteFrom(rel: String) =
    s"""WITH sh AS (
      |  SELECT DISTINCT doc_id,
      |    ('0x' || substr(md5(s[i] || ' ' || s[i+1] || ' ' || s[i+2]),1,15))::BIGINT AS h60
      |  FROM (SELECT doc_id, s, unnest(range(1, len(s)-1)) AS i
      |        FROM (SELECT doc_id, string_split(text, ' ') AS s FROM $rel))
      |), h AS (
      |  SELECT doc_id, h60 % 2147483647 AS hp FROM sh
      |), sig AS (
      |  SELECT doc_id, """.stripMargin +
      (0 until NumSigs).map(j =>
        s"min((${MinhashA(j)}*hp + ${MinhashB(j)}) % $P) AS m$j").mkString(",\n    ") +
      "\n  FROM h GROUP BY doc_id\n)"

  private val shingleCte = shingleCteFrom("documents")

  /** DuckDB twin of Dedup.lshPairs (b×r banding, bucket cap, exact Jaccard
    * on candidates), as a CTE suite ending in `lsh_pairs(a_id, b_id, jac)`.
    * Shared by q32 (the raw pair query) and q34 (pairs restricted to equal
    * (lang, source) blocks); the `rel`-parameterized form serves the
    * sampled-evaluation recall query (q150). */
  private def lshCteFrom(rel: String) = shingleCteFrom(rel) +
    """, sets AS (
      |  SELECT doc_id, list(DISTINCT h60) AS shset FROM sh GROUP BY doc_id
      |), bands AS (
      |""".stripMargin +
    (0 until NumBands).map(j =>
      // band key generated from RowsPerBand — one source of truth with the
      // Spark side's concat_ws over m{j*r}..m{j*r+r-1}
      s"  SELECT doc_id, $j AS band, " +
        (0 until RowsPerBand).map(r => s"m${j * RowsPerBand + r}::VARCHAR")
          .mkString(" || '_' || ") + " AS mv FROM sig")
      .mkString("\n  UNION ALL\n") +
    s"""
      |), bcnt AS (
      |  SELECT band, mv FROM bands GROUP BY band, mv HAVING count(*) <= $MaxBucket
      |), capped AS (
      |  SELECT bands.* FROM bands JOIN bcnt USING (band, mv)
      |), cand AS (
      |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
      |  FROM capped a JOIN capped b
      |    ON a.band = b.band AND a.mv = b.mv AND a.doc_id < b.doc_id
      |), lsh_pairs AS (
      |  SELECT a_id, b_id,
      |    CAST(len(list_intersect(sa.shset, sb.shset)) AS DOUBLE)
      |      / len(list_distinct(list_concat(sa.shset, sb.shset))) AS jac
      |  FROM cand
      |  JOIN sets sa ON sa.doc_id = a_id
      |  JOIN sets sb ON sb.doc_id = b_id
      |)""".stripMargin

  private val lshCte = lshCteFrom("documents")

  /** DuckDB twin of connected components over the q32 LSH pair stream
    * (recursive reachability + per-source minimum) — the shared oracle of
    * q37 (label propagation) and q111 (star contraction): both clusterers
    * promise (doc_id, cluster_id = component minimum). */
  private def clustersCteFrom(rel: String): String =
    lshCteFrom(rel).replaceFirst("^WITH ", "WITH RECURSIVE ") +
      """
        |, e AS (
        |  SELECT a_id AS s, b_id AS t FROM lsh_pairs WHERE jac >= 0.1
        |  UNION ALL
        |  SELECT b_id, a_id FROM lsh_pairs WHERE jac >= 0.1
        |), reach AS (
        |  SELECT DISTINCT s AS src, s AS node FROM e
        |  UNION
        |  SELECT r.src, e.t FROM reach r JOIN e ON e.s = r.node
        |), clu AS (
        |  SELECT src AS doc_id, min(node) AS cluster_id
        |  FROM reach GROUP BY src
        |)""".stripMargin

  private lazy val clustersCte: String = clustersCteFrom("documents")

  private lazy val clustersOracle: String =
    clustersCte + "\nSELECT doc_id, cluster_id FROM clu ORDER BY doc_id"

  /** DuckDB twin of Dedup.editDistancePairs' PassJoin-style blocking:
    * index segments (⌊i·l/k⌋ boundaries), shifted probes for every target
    * length l±maxDist, index-side bucket cap, levenshtein confirm — the
    * full candidate pipeline mirrored, so blocking itself is hash-checked.
    * `baseSelect` must yield columns (id, s). */
  private def editDistSql(baseSelect: String, maxDist: Int,
                          cap: Long = MaxBucket): String = {
    val k = maxDist + 1
    val d = maxDist
    s"""WITH base AS (
       |  SELECT * FROM ($baseSelect) WHERE len(s) >= $k
       |), idx AS (
       |  SELECT id, len(s) AS l, i AS slot,
       |    substr(s, (i*len(s))//$k + 1,
       |           ((i+1)*len(s))//$k - (i*len(s))//$k) AS seg
       |  FROM base CROSS JOIN (SELECT unnest(range($k)) AS i) ii
       |), small AS (
       |  SELECT slot, seg, l FROM idx
       |  GROUP BY slot, seg, l HAVING count(*) <= $cap
       |), cidx AS (
       |  SELECT idx.* FROM idx JOIN small USING (slot, seg, l)
       |), pr0 AS (
       |  SELECT id, s, len(s) AS l, len(s) + dl AS l2, i AS slot
       |  FROM base
       |  CROSS JOIN (SELECT unnest(range(-$d, ${d + 1})) AS dl) dd
       |  CROSS JOIN (SELECT unnest(range($k)) AS i) ii
       |  WHERE len(s) + dl >= $k
       |), pr1 AS (
       |  SELECT id, s, l2, slot,
       |    ((slot+1)*l2)//$k - (slot*l2)//$k AS slen,
       |    unnest(range(greatest(1, (slot*l2)//$k + 1 - $d),
       |                 least(l - (((slot+1)*l2)//$k - (slot*l2)//$k) + 1,
       |                       (slot*l2)//$k + 1 + $d) + 1)) AS j
       |  FROM pr0
       |), probe AS (
       |  SELECT DISTINCT id, l2, slot, substr(s, j, slen) AS sub FROM pr1
       |), cand AS (
       |  SELECT DISTINCT least(p.id, t.id) AS a_id, greatest(p.id, t.id) AS b_id
       |  FROM probe p JOIN cidx t
       |    ON p.slot = t.slot AND p.sub = t.seg AND p.l2 = t.l AND p.id <> t.id
       |)
       |SELECT a_id, b_id, CAST(levenshtein(ba.s, bb.s) AS INTEGER) AS dist
       |FROM cand
       |JOIN base ba ON ba.id = a_id
       |JOIN base bb ON bb.id = b_id
       |WHERE levenshtein(ba.s, bb.s) <= $d
       |ORDER BY a_id, b_id""".stripMargin
  }

  val specs: Seq[QuerySpec] = Seq(

    // Exact dedup: group by content, keep the smallest doc_id. The 100 TB
    // form groups by md5(content) (fixed-width shuffle key) rather than the
    // content itself; both shown here.
    QuerySpec("q30_dedup_exact",
      (s, d) => graft.operators.Dedup.exact(t(s, d, "documents"), "doc_id", "text")
        .orderBy("keep_id"),
      Some("""SELECT md5(text) AS text_md5, min(doc_id) AS keep_id,
             |  count(*) AS dup_count
             |FROM documents GROUP BY text ORDER BY keep_id""".stripMargin)),

    // Near-exact dedup on NORMALIZED content: case/punctuation/whitespace
    // differences collapse before the hash-groupBy — the standard cheap
    // first pass before MinHash.
    QuerySpec("q66_dedup_normalized",
      (s, d) => graft.operators.Dedup.exactNormalized(
        t(s, d, "documents"), "doc_id", "text")
        .orderBy("keep_id"),
      Some("""SELECT md5(n) AS norm_md5, min(doc_id) AS keep_id,
             |  count(*) AS dup_count
             |FROM (SELECT doc_id,
             |        trim(regexp_replace(regexp_replace(lower(text),
             |          '[^a-z0-9 ]+', ' ', 'g'), ' +', ' ', 'g')) AS n
             |      FROM documents)
             |GROUP BY n ORDER BY keep_id""".stripMargin)),

    // MinHash signatures: 8 universal hashes over the 3-gram shingle hash
    // set. One md5 per shingle, then 8 cheap arithmetic mins.
    QuerySpec("q31_minhash_sig",
      (s, d) => graft.operators.Dedup.minhashSignatures(
        graft.operators.Dedup.shingleSets(t(s, d, "documents"), "doc_id", "text", 3),
        "doc_id", NumSigs)
        .orderBy("doc_id"),
      Some(shingleCte +
        "\nSELECT * FROM sig ORDER BY doc_id")),

    // MinHash LSH near-dup candidates: b×r banding (band key = r
    // concatenated signature values), bucket-size cap, per-band equi-join
    // (shuffle-partitionable — the scale path), dedup pairs, then
    // exact-Jaccard the survivors. The shingle sets are persisted inside
    // the operator (they feed signatures AND the final Jaccard join).
    QuerySpec("q32_minhash_lsh_pairs",
      (s, d) => graft.operators.Dedup.pooledLshPairs(t(s, d, "documents"),
        "doc_id", "text", numBands = NumBands, minJaccard = 0.1, k = 3,
        rowsPerBand = RowsPerBand)
        .orderBy("a_id", "b_id"),
      Some(lshCte +
        "\nSELECT a_id, b_id, jac FROM lsh_pairs WHERE jac >= 0.1 ORDER BY a_id, b_id")),

    // LSH recall measurement on a deterministic FIXED-SIZE sample (the
    // 1000 smallest md5-rank doc_ids — Transforms.hashTopK): exact
    // all-pairs Jaccard ground truth (the sample's privilege — the
    // operator under test stays sub-quadratic) vs the same b×r banding
    // production runs. Fixed SIZE, not fixed rate: a rate-bounded sample
    // grows with the corpus and its pair set grows quadratically; a
    // fixed-k sample keeps the audit O(k²) at any scale. Per-pair hit
    // rows keep the metric hash-checked; precision is 1.0 by
    // construction (lshPairs exact-confirms).
    QuerySpec("q150_lsh_recall",
      (s, d) => {
        val sample = graft.operators.Transforms.hashTopK(
          t(s, d, "documents"), col("doc_id"), 1000)
        graft.operators.Dedup.lshRecall(sample, "doc_id", "text",
          numBands = NumBands, minJaccard = 0.1, k = 3,
          rowsPerBand = RowsPerBand)
          .orderBy("a_id", "b_id")
      },
      Some(lshCteFrom(
        "(SELECT * FROM documents ORDER BY ('0x' || substr(md5(doc_id::VARCHAR),1,15))::BIGINT, doc_id LIMIT 1000)") +
        """
          |, truth AS (
          |  SELECT sa.doc_id AS a_id, sb.doc_id AS b_id,
          |    CAST(len(list_intersect(sa.shset, sb.shset)) AS DOUBLE)
          |      / len(list_distinct(list_concat(sa.shset, sb.shset))) AS jac
          |  FROM sets sa JOIN sets sb ON sa.doc_id < sb.doc_id
          |)
          |SELECT t.a_id, t.b_id, t.jac,
          |  (l.a_id IS NOT NULL) AS lsh_hit
          |FROM truth t
          |LEFT JOIN (SELECT DISTINCT a_id, b_id FROM lsh_pairs WHERE jac >= 0.1) l
          |  ON l.a_id = t.a_id AND l.b_id = t.b_id
          |WHERE t.jac >= 0.1 ORDER BY t.a_id, t.b_id""".stripMargin)),

    // SimHash: 16-bit majority-vote sketch per document (near-dup = small
    // hamming distance; pairing happens by code-prefix buckets at scale).
    QuerySpec("q33_simhash",
      (s, d) => graft.operators.Dedup.simhashCodes(t(s, d, "documents"), "doc_id", "text", 16)
        .orderBy("doc_id"),
      Some("""WITH tok AS (
             |  SELECT doc_id, unnest(string_split(text,' ')) AS tk FROM documents
             |), h AS (
             |  SELECT doc_id, ('0x' || substr(md5(tk),1,15))::BIGINT AS hv FROM tok
             |), votes AS (
             |  SELECT doc_id, b,
             |    count(*) FILTER (((hv >> b) & 1) = 1) AS ones, count(*) AS n
             |  FROM h CROSS JOIN (SELECT unnest(range(16)) AS b) bs
             |  GROUP BY doc_id, b
             |)
             |SELECT doc_id,
             |  CAST(sum(CASE WHEN 2*ones > n THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS simhash16
             |FROM votes GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Duplicate clusters: connected components over the LSH near-dup
    // pairs via iterative min-label propagation (one join+groupBy shuffle
    // per iteration, iterations = component diameter); cluster_id = min
    // doc_id in the component — the canonical survivor. The oracle walks
    // the same graph with a recursive reachability CTE.
    QuerySpec("q37_dup_clusters",
      (s, d) => {
        val pairs = graft.operators.Dedup.pooledLshPairs(t(s, d, "documents"),
          "doc_id", "text", numBands = NumBands, minJaccard = 0.1, k = 3,
          rowsPerBand = RowsPerBand)
        graft.operators.Dedup.pooledDupClusters(pairs).orderBy("doc_id")
      },
      Some(clustersOracle)),

    // The SAME connected components via alternating large-star/small-star
    // contraction — the O(log n)-round scale path past label propagation
    // (which needs one round per unit of component DIAMETER). Identical
    // output contract (doc_id, cluster_id = component minimum), so it
    // hash-matches the exact q37 oracle — the two clusterers are
    // interchangeable and both oracle-gated.
    QuerySpec("q111_dup_clusters_star",
      (s, d) => {
        val pairs = graft.operators.Dedup.pooledLshPairs(t(s, d, "documents"),
          "doc_id", "text", numBands = NumBands, minJaccard = 0.1, k = 3,
          rowsPerBand = RowsPerBand)
        graft.operators.Dedup.pooledDupClustersStar(pairs).orderBy("doc_id")
      },
      Some(clustersOracle)),

    // Leakage-safe train/val/test split: the md5 split gate hashes the
    // near-dup CLUSTER key (component minimum; own id for singletons), so
    // near-duplicates can never straddle train and test — the
    // memorization-leak guard a per-doc split (q78) cannot give. Composes
    // the pooled LSH pairing + connected components with the hashSplit
    // assignment rule; the oracle walks the same graph recursively.
    QuerySpec("q154_leakage_safe_split",
      (s, d) => {
        val docs = t(s, d, "documents")
        val pairs = graft.operators.Dedup.pooledLshPairs(docs,
          "doc_id", "text", numBands = NumBands, minJaccard = 0.1, k = 3,
          rowsPerBand = RowsPerBand)
        val clusters = graft.operators.Dedup.pooledDupClusters(pairs)
        graft.operators.Quality.leakageSafeSplit(docs, "doc_id", clusters)
          .orderBy("doc_id")
      },
      Some(clustersCte + """
        |, keyed AS (
        |  SELECT d.doc_id,
        |    COALESCE(c.cluster_id, d.doc_id) AS cluster_key
        |  FROM documents d LEFT JOIN clu c ON c.doc_id = d.doc_id
        |), gate AS (
        |  SELECT doc_id, cluster_key,
        |    ('0x' || substr(md5('split|' || cluster_key), 1, 15))::BIGINT % 100 AS hv
        |  FROM keyed
        |)
        |SELECT doc_id, cluster_key,
        |  CASE WHEN hv < 80 THEN 'train'
        |       WHEN hv < 90 THEN 'val' ELSE 'test' END AS split
        |FROM gate ORDER BY doc_id""".stripMargin)),

    // The full near-dup pipeline applied: detect (LSH pairs) → cluster
    // (connected components) → drop non-canonical members via left-anti
    // join. Output = the deduplicated corpus, the artifact a training-data
    // pipeline actually ships.
    QuerySpec("q65_dedup_apply",
      (s, d) => {
        val docs = t(s, d, "documents")
        val pairs = graft.operators.Dedup.pooledLshPairs(docs, "doc_id", "text",
          numBands = NumBands, minJaccard = 0.1, k = 3, rowsPerBand = RowsPerBand)
        val clusters = graft.operators.Dedup.pooledDupClusters(pairs)
        graft.operators.Dedup.applyClusters(docs, "doc_id", clusters)
          .select(col("doc_id"), col("lang"), col("source"))
          .orderBy("doc_id")
      },
      Some(lshCte.replaceFirst("^WITH ", "WITH RECURSIVE ") +
        """
          |, e AS (
          |  SELECT a_id AS s, b_id AS t FROM lsh_pairs WHERE jac >= 0.1
          |  UNION ALL
          |  SELECT b_id, a_id FROM lsh_pairs WHERE jac >= 0.1
          |), reach AS (
          |  SELECT DISTINCT s AS src, s AS node FROM e
          |  UNION
          |  SELECT r.src, e.t FROM reach r JOIN e ON e.s = r.node
          |), clusters AS (
          |  SELECT src AS doc_id, min(node) AS cluster_id FROM reach GROUP BY src
          |)
          |SELECT d.doc_id, d.lang, d.source FROM documents d
          |WHERE NOT EXISTS (SELECT 1 FROM clusters c
          |                  WHERE c.doc_id = d.doc_id AND c.cluster_id <> c.doc_id)
          |ORDER BY doc_id""".stripMargin)),

    // Duplicate-cluster size distribution: how much of the corpus sits in
    // clusters of each size — the dedup-yield report every pipeline run
    // emits (reuses the q37 component machinery; singletons are docs in
    // no pair and appear as size 1 via the corpus left join).
    QuerySpec("q89_cluster_sizes",
      (s, d) => {
        val docs = t(s, d, "documents")
        val pairs = graft.operators.Dedup.pooledLshPairs(docs, "doc_id", "text",
          numBands = NumBands, minJaccard = 0.1, k = 3, rowsPerBand = RowsPerBand)
        val clusters = graft.operators.Dedup.pooledDupClusters(pairs)
        val withSingles = docs.select(col("doc_id"))
          .join(clusters, Seq("doc_id"), "left")
          .select(coalesce(col("cluster_id"), col("doc_id")).as("cid"))
        withSingles.groupBy(col("cid")).agg(count(lit(1)).as("sz"))
          .groupBy(col("sz").as("cluster_size"))
          .agg(count(lit(1)).as("n_clusters"))
          .orderBy("cluster_size")
      },
      Some(lshCte.replaceFirst("^WITH ", "WITH RECURSIVE ") +
        """
          |, e AS (
          |  SELECT a_id AS s, b_id AS t FROM lsh_pairs WHERE jac >= 0.1
          |  UNION ALL
          |  SELECT b_id, a_id FROM lsh_pairs WHERE jac >= 0.1
          |), reach AS (
          |  SELECT DISTINCT s AS src, s AS node FROM e
          |  UNION
          |  SELECT r.src, e.t FROM reach r JOIN e ON e.s = r.node
          |), clusters AS (
          |  SELECT src AS doc_id, min(node) AS cluster_id FROM reach GROUP BY src
          |), cid AS (
          |  SELECT COALESCE(c.cluster_id, d.doc_id) AS cid
          |  FROM documents d LEFT JOIN clusters c ON c.doc_id = d.doc_id
          |), sizes AS (
          |  SELECT cid, count(*) AS sz FROM cid GROUP BY cid
          |)
          |SELECT sz AS cluster_size, count(*) AS n_clusters
          |FROM sizes GROUP BY sz ORDER BY cluster_size""".stripMargin)),

    // Semantic decontamination in embedding space: NEW vectors
    // (vec_id % 10 = 0) SRP-bucket-joined against the corpus (the rest)
    // only — the embedding twin of q86's bipartite ingest shape, catching
    // test-set leakage that paraphrasing hides from n-gram overlap.
    QuerySpec("q90_embedding_decontam",
      (s, d) => {
        val e = t(s, d, "embeddings")
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        val nw = e.filter(pmod(col("vec_id"), lit(10)) === 0)
        val corpus = e.filter(pmod(col("vec_id"), lit(10)) =!= 0)
        graft.operators.Similarity.embeddingNearDupAgainst(
          nw, corpus, "vec_id", "v", blockCols = Seq.empty,
          planes = NeardupPlanes, planesPerBand = NeardupPlanesPerBand,
          minCos = 0.35)
          .select(col("new_id"), col("corpus_id"), round(col("cos"), 4).as("cos4"))
          .orderBy("new_id", "corpus_id")
      },
      Some("WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),\nbands AS (\n" +
        (0 until NeardupBands).map(b =>
          s"  SELECT vec_id, $b AS band, ${srpBucketSql("v", b)} AS bkt FROM e")
          .mkString("\n  UNION ALL\n") +
        """
          |), cand AS (
          |  SELECT DISTINCT a.vec_id AS new_id, b.vec_id AS corpus_id
          |  FROM (SELECT * FROM bands WHERE vec_id % 10 = 0) a
          |  JOIN (SELECT * FROM bands WHERE vec_id % 10 <> 0) b
          |    ON a.band = b.band AND a.bkt = b.bkt
          |), p AS (
          |  SELECT new_id, corpus_id,
          |    list_dot_product(ea.v, eb.v)
          |      / (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))) AS cos
          |  FROM cand
          |  JOIN e ea ON ea.vec_id = new_id
          |  JOIN e eb ON eb.vec_id = corpus_id
          |)
          |SELECT new_id, corpus_id, round(cos, 4) AS cos4
          |FROM p WHERE cos >= 0.35 ORDER BY new_id, corpus_id""".stripMargin)),

    // SimHash near-dup pairs via block pigeonhole: 32-bit codes split into
    // 4 × 8-bit blocks — hamming ≤ 3 pairs must share a whole block, so
    // candidate generation is a per-(block, value) equi-join (256 values
    // per block), never all-pairs; exact hamming filters the candidates.
    // Fully oracle-checked end to end (codes, blocking, cap, hamming).
    QuerySpec("q36_simhash_pairs",
      (s, d) => graft.operators.Dedup.simhashPairs(t(s, d, "documents"),
        "doc_id", "text", bits = 32, numBlocks = 4, maxHamming = 3)
        .orderBy("a_id", "b_id"),
      Some(s"""WITH tok AS (
              |  SELECT doc_id, unnest(string_split(text,' ')) AS tk FROM documents
              |), h AS (
              |  SELECT doc_id, ('0x' || substr(md5(tk),1,15))::BIGINT AS hv FROM tok
              |), votes AS (
              |  SELECT doc_id, b,
              |    count(*) FILTER (((hv >> b) & 1) = 1) AS ones, count(*) AS n
              |  FROM h CROSS JOIN (SELECT unnest(range(32)) AS b) bs
              |  GROUP BY doc_id, b
              |), codes AS (
              |  SELECT doc_id,
              |    CAST(sum(CASE WHEN 2*ones > n THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS code
              |  FROM votes GROUP BY doc_id
              |), blocks AS (
              |  SELECT doc_id, code, j AS blk, (code >> (j*8)) & 255 AS bv
              |  FROM codes CROSS JOIN (SELECT unnest(range(4)) AS j) js
              |), bcnt AS (
              |  SELECT blk, bv FROM blocks GROUP BY blk, bv HAVING count(*) <= $MaxBucket
              |), capped AS (
              |  SELECT blocks.* FROM blocks JOIN bcnt USING (blk, bv)
              |), cand AS (
              |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
              |    a.code AS a_code, b.code AS b_code
              |  FROM capped a JOIN capped b
              |    ON a.blk = b.blk AND a.bv = b.bv AND a.doc_id < b.doc_id
              |)
              |SELECT a_id, b_id, CAST(bit_count(xor(a_code, b_code)) AS BIGINT) AS ham
              |FROM cand WHERE bit_count(xor(a_code, b_code)) <= 3
              |ORDER BY a_id, b_id""".stripMargin)),

    // Incremental dedup: NEW docs (doc_id % 5 = 0) paired against the
    // EXISTING corpus (the rest) — bipartite band join only, never
    // new×new or corpus×corpus; bucket cap on the corpus side. The
    // production ingest shape: dedup today's batch against the
    // accumulated corpus.
    QuerySpec("q86_dedup_incremental",
      (s, d) => {
        val docs = t(s, d, "documents")
        val nw = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
        val corpus = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
        graft.operators.Dedup.lshPairsAgainst(nw, corpus, "doc_id", "text",
          numBands = NumBands, minJaccard = 0.1, k = 3, rowsPerBand = RowsPerBand)
          .orderBy("new_id", "corpus_id")
      },
      Some(shingleCte +
        """, sets AS (
          |  SELECT doc_id, list(DISTINCT h60) AS shset FROM sh GROUP BY doc_id
          |), bands AS (
          |""".stripMargin +
        (0 until NumBands).map(j =>
          s"  SELECT doc_id, $j AS band, " +
            (0 until RowsPerBand).map(r => s"m${j * RowsPerBand + r}::VARCHAR")
              .mkString(" || '_' || ") + " AS mv FROM sig")
          .mkString("\n  UNION ALL\n") +
        s"""
          |), nb AS (SELECT * FROM bands WHERE doc_id % 5 = 0),
          |cb AS (SELECT * FROM bands WHERE doc_id % 5 <> 0),
          |bcnt AS (
          |  SELECT band, mv FROM cb GROUP BY band, mv HAVING count(*) <= $MaxBucket
          |), capped AS (
          |  SELECT cb.* FROM cb JOIN bcnt USING (band, mv)
          |), cand AS (
          |  SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS corpus_id
          |  FROM nb a JOIN capped b ON a.band = b.band AND a.mv = b.mv
          |), p AS (
          |  SELECT new_id, corpus_id,
          |    CAST(len(list_intersect(sa.shset, sb.shset)) AS DOUBLE)
          |      / len(list_distinct(list_concat(sa.shset, sb.shset))) AS jac
          |  FROM cand
          |  JOIN sets sa ON sa.doc_id = new_id
          |  JOIN sets sb ON sb.doc_id = corpus_id
          |)
          |SELECT new_id, corpus_id, jac FROM p WHERE jac >= 0.1
          |ORDER BY new_id, corpus_id""".stripMargin)),

    // n-gram Jaccard near-dups within (lang, source) blocks, via LSH
    // candidates: the block key is a cheap post-filter on the LSH pair
    // stream, NOT a join key for all-pairs — block sizes are unbounded at
    // scale, so the quadratic term must be governed by the banding/bucket
    // cap (it is: this reuses exactly the q32 machinery), never by block
    // cardinality.
    QuerySpec("q34_ngram_jaccard",
      (s, d) => {
        val docs = t(s, d, "documents")
        val pairs = graft.operators.Dedup.pooledLshPairs(docs, "doc_id", "text",
          numBands = NumBands, minJaccard = 0.1, k = 3, rowsPerBand = RowsPerBand)
        val meta = docs.select(col("doc_id"), col("lang"), col("source"))
        pairs
          .join(meta.select(col("doc_id").as("a_id"),
            col("lang"), col("source")), "a_id")
          .join(meta.select(col("doc_id").as("b_id"),
            col("lang").as("b_lang"), col("source").as("b_source")), "b_id")
          .filter(col("lang") === col("b_lang") && col("source") === col("b_source"))
          .select(col("a_id"), col("b_id"), col("lang"), col("source"), col("jac"))
          .orderBy("a_id", "b_id")
      },
      Some(lshCte +
        """
          |SELECT p.a_id, p.b_id, da.lang AS lang, da.source AS source, p.jac
          |FROM lsh_pairs p
          |JOIN documents da ON da.doc_id = p.a_id
          |JOIN documents db ON db.doc_id = p.b_id
          |WHERE p.jac >= 0.1 AND da.lang = db.lang AND da.source = db.source
          |ORDER BY a_id, b_id""".stripMargin)),

    // Sorted-neighborhood near-dup pairs: rank docs by a bounded
    // normalized sort key, candidate = within 6 positions, confirm by
    // exact Jaccard. The rank is computed DISTRIBUTED on the Spark side
    // (range partition + per-partition enumeration + offset map); the
    // oracle's single window function is the semantic twin.
    QuerySpec("q93_sorted_neighborhood",
      (s, d) => graft.operators.Dedup.sortedNeighborPairs(
        t(s, d, "documents"), "doc_id", "text",
        window = 6, minJaccard = 0.1, k = 3)
        .orderBy("a_id", "b_id"),
      Some("""WITH nrm AS (
             |  SELECT doc_id, substr(trim(regexp_replace(regexp_replace(lower(substr(text, 1, 256)),
             |    '[^a-z0-9 ]+', ' ', 'g'), ' +', ' ', 'g')), 1, 64) AS sk
             |  FROM documents
             |), rnk AS (
             |  SELECT doc_id, row_number() OVER (ORDER BY sk NULLS FIRST, doc_id) AS rn
             |  FROM nrm
             |), cand AS (
             |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
             |  FROM rnk a JOIN rnk b ON b.rn > a.rn AND b.rn - a.rn < 6
             |), shn AS (
             |  SELECT DISTINCT doc_id,
             |    ('0x' || substr(md5(s[i] || ' ' || s[i+1] || ' ' || s[i+2]),1,15))::BIGINT AS h60
             |  FROM (SELECT doc_id, s, unnest(range(1, len(s)-1)) AS i
             |        FROM (SELECT doc_id, string_split(text, ' ') AS s FROM documents))
             |), st AS (SELECT doc_id, list(DISTINCT h60) AS shset FROM shn GROUP BY doc_id)
             |SELECT * FROM (
             |  SELECT a_id, b_id,
             |    CAST(len(list_intersect(sa.shset, sb.shset)) AS DOUBLE)
             |      / len(list_distinct(list_concat(sa.shset, sb.shset))) AS jac
             |  FROM cand
             |  JOIN st sa ON sa.doc_id = a_id
             |  JOIN st sb ON sb.doc_id = b_id
             |) WHERE jac >= 0.1 ORDER BY a_id, b_id""".stripMargin)),

    // Edit-distance entity resolution: supplier names within one
    // Levenshtein edit of each other, candidates from PassJoin-style
    // shifted-segment pigeonhole blocking (Dedup.editDistancePairs),
    // confirmed by levenshtein — identical DP distance in both engines.
    // The oracle mirrors the full blocking pipeline (segments, probes,
    // cap), so candidate generation itself is hash-checked.
    QuerySpec("q109_editdist_pairs",
      (s, d) => graft.operators.Dedup.editDistancePairs(
        t(s, d, "supplier"), "s_suppkey", "s_name")
        .orderBy("a_id", "b_id"),
      Some(editDistSql("SELECT s_suppkey AS id, s_name AS s FROM supplier",
        maxDist = 1))),

    // Edit-distance at maxDist = 2 INCLUDING insert/delete edits: the
    // zero-stripped supplier names ("Supplier#12" vs "Supplier#120")
    // differ by insertions as well as substitutions, exercising the
    // cross-length probe legs (l2 ≠ l) of the PassJoin blocking. Same
    // fully-mirrored oracle pipeline as q109.
    QuerySpec("q110_editdist_maxdist2",
      (s, d) => graft.operators.Dedup.editDistancePairs(
        t(s, d, "supplier")
          .select(col("s_suppkey"),
            regexp_replace(col("s_name"), "#0+", "#").as("s_short")),
        "s_suppkey", "s_short", maxDist = 2)
        .orderBy("a_id", "b_id"),
      Some(editDistSql(
        "SELECT s_suppkey AS id, regexp_replace(s_name, '#0+', '#', 'g') AS s FROM supplier",
        maxDist = 2))),

    // Winnowing fingerprints (MOSS): min hash per sliding window of 4
    // consecutive 3-gram hashes — a content-defined fingerprint set that
    // two documents share in proportion to overlapping runs. Sorted
    // renderings on both engines (Spark array_distinct keeps first
    // occurrence, DuckDB list_distinct is unordered — only the sorted
    // set is comparable).
    QuerySpec("q63_winnowing",
      (s, d) => {
        val w = 4
        t(s, d, "documents")
          .filter(size(tokens(col("text"))) >= 3)
          .select(col("doc_id"), tokens(col("text")).as("toks"))
          .select(col("doc_id"),
            graft.plans.GraftFunctions.shingleHashesNative(col("toks"), 3).as("hs"))
          .select(col("doc_id"),
            sort_array(winnowFingerprints(col("hs"), w)).as("fps"))
          .select(col("doc_id"), size(col("fps")).cast("long").as("n_fp"),
            // joined string, not a raw array: scalar types for the row hash
            array_join(col("fps"), ",").as("fps"))
          .orderBy("doc_id")
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, string_split(text, ' ') AS s FROM documents
             |  WHERE len(string_split(text, ' ')) >= 3
             |), hs AS (
             |  SELECT doc_id, list_transform(range(1, len(s) - 1),
             |    i -> ('0x' || substr(md5(s[i] || ' ' || s[i+1] || ' ' || s[i+2]), 1, 15))::BIGINT) AS h
             |  FROM toks
             |), fp AS (
             |  SELECT doc_id, list_sort(list_distinct(
             |    CASE WHEN len(h) >= 4
             |         THEN list_transform(range(1, len(h) - 2), j -> list_min(h[j:j+3]))
             |         WHEN len(h) > 0 THEN [list_min(h)]
             |         ELSE [] END)) AS fps
             |  FROM hs
             |)
             |SELECT doc_id, len(fps) AS n_fp,
             |  array_to_string(fps, ',') AS fps
             |FROM fp ORDER BY doc_id""".stripMargin)),

    // Embedding-cosine near-dup via SRP-banded LSH: 3 bands × 4 signed
    // random projections bucket each vector (planes are driver constants,
    // no shuffle to bucket); candidates share a (band, bucket, label) key;
    // exact cosine on candidates only. The label is part of the candidate
    // key but the quadratic term is governed by the 2^4 buckets per band,
    // not by label cardinality — the same b×r discipline as q32/q34. The
    // oracle embeds the plane vectors as SQL literals (Scala's shortest
    // round-trip double rendering), so bucketing is bit-reproducible in
    // DuckDB and the pair set is fully hash-checked.
    QuerySpec("q35_embedding_neardup",
      (s, d) => {
        val e = t(s, d, "embeddings")
          .select(col("vec_id"), col("label"),
            col("embedding").cast("array<double>").as("v"))
        graft.operators.Similarity.embeddingNearDupPairs(
          e, "vec_id", "v", blockCols = Seq("label"),
          planes = NeardupPlanes, planesPerBand = NeardupPlanesPerBand,
          minCos = 0.35)
          .select(col("a_id"), col("b_id"), col("label"), round(col("cos"), 4).as("cos4"))
          .orderBy("a_id", "b_id")
      },
      Some("WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),\nbands AS (\n" +
        (0 until NeardupBands).map(b =>
          s"  SELECT vec_id, label, $b AS band, ${srpBucketSql("v", b)} AS bkt FROM e")
          .mkString("\n  UNION ALL\n") +
        """
          |), cand AS (
          |  SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id, a.label AS label
          |  FROM bands a JOIN bands b
          |    ON a.band = b.band AND a.bkt = b.bkt AND a.label = b.label
          |      AND a.vec_id < b.vec_id
          |), p AS (
          |  SELECT a_id, b_id, cand.label AS label,
          |    list_dot_product(ea.v, eb.v)
          |      / (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))) AS cos
          |  FROM cand
          |  JOIN e ea ON ea.vec_id = a_id
          |  JOIN e eb ON eb.vec_id = b_id
          |)
          |SELECT a_id, b_id, label, round(cos, 4) AS cos4
          |FROM p WHERE cos >= 0.35 ORDER BY a_id, b_id""".stripMargin)),

    // Asymmetric containment C(A→B) = |S(A)∩S(B)|/|S(A)| — the
    // subset/quotation detector Jaccard misses (a short doc pasted into a
    // long one unions large, so jac stays low while containment ≈ 1).
    // Posting-intersection shape with the hot-shingle cap mirrored in the
    // oracle; directional, so both orientations of each pair appear and
    // the threshold reads the A-side size only.
    QuerySpec("q155_containment_pairs",
      (s, d) => graft.operators.Dedup.containmentPairs(
        t(s, d, "documents"), "doc_id", "text", k = 3, minContainment = 0.5)
        .orderBy("a_id", "b_id"),
      Some(shingleCte + s"""
        |, szs AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id)
        |, pc AS (SELECT h60 FROM sh GROUP BY h60 HAVING count(*) <= $MaxBucket)
        |, cp AS (SELECT sh.doc_id, sh.h60 FROM sh JOIN pc USING (h60))
        |, pr AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
        |  FROM cp a JOIN cp b ON a.h60 = b.h60 AND a.doc_id <> b.doc_id
        |  GROUP BY a.doc_id, b.doc_id)
        |SELECT a_id, b_id, sa.n AS na, sb.n AS nb, inter,
        |  CAST(inter AS DOUBLE) / CAST(sa.n AS DOUBLE) AS containment
        |FROM pr JOIN szs sa ON sa.doc_id = a_id JOIN szs sb ON sb.doc_id = b_id
        |WHERE CAST(inter AS DOUBLE) / CAST(sa.n AS DOUBLE) >= 0.5
        |ORDER BY a_id, b_id""".stripMargin)),

    // Quality-aware canonical selection: instead of q37's "keep the
    // minimum id", keep each duplicate cluster's RICHEST member (most
    // distinct tokens; ties to the smallest id) — the keeper rule real
    // curation pipelines want, since the canonical copy should be the
    // best copy, not the first-crawled one. Composes the pooled LSH
    // pairing + connected components with a struct-max argmax (one
    // aggregate over the cluster frame; no window over the corpus).
    QuerySpec("q157_canonical_select",
      (s, d) => {
        val docs = t(s, d, "documents")
        val pairs = graft.operators.Dedup.pooledLshPairs(docs,
          "doc_id", "text", numBands = NumBands, minJaccard = 0.1, k = 3,
          rowsPerBand = RowsPerBand)
        val clusters = graft.operators.Dedup.pooledDupClusters(pairs)
        val quality = docs.select(col("doc_id"),
          size(array_distinct(split(col("text"), " "))).cast("long").as("q"))
        clusters.join(quality, "doc_id")
          .groupBy("cluster_id")
          .agg(count(lit(1)).as("n_members"),
            max(struct(col("q"), (-col("doc_id")).as("nid"))).as("s"))
          .select(col("cluster_id"), col("n_members"),
            (-col("s.nid")).as("keeper_id"), col("s.q").as("keeper_q"))
          .orderBy("cluster_id")
      },
      Some(clustersCte + """
        |, qv AS (
        |  SELECT doc_id,
        |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS q
        |  FROM documents
        |), m AS (
        |  SELECT c.cluster_id, c.doc_id, qv.q FROM clu c JOIN qv USING (doc_id)
        |), agg AS (
        |  SELECT cluster_id, count(*) AS n_members, max(q) AS mq
        |  FROM m GROUP BY cluster_id
        |)
        |SELECT a.cluster_id, a.n_members, min(m.doc_id) AS keeper_id,
        |  a.mq AS keeper_q
        |FROM agg a JOIN m ON m.cluster_id = a.cluster_id AND m.q = a.mq
        |GROUP BY a.cluster_id, a.n_members, a.mq
        |ORDER BY a.cluster_id""".stripMargin)),

    // One-hop label spreading over the near-dup graph: each paired doc's
    // predicted label = the majority `lang` among its LSH neighbors (ties
    // to the lexicographically smallest label) — metadata imputation /
    // mislabel detection by graph consensus, the semi-supervised use of
    // the same pair stream the dedup family already pays for. The argmax
    // is a struct-min per doc ((−count, label) lexicographic), never a
    // corpus-wide window; neighbors come from the pooled LSH frames.
    QuerySpec("q161_label_spread",
      (s, d) => {
        val docs = t(s, d, "documents")
        val docsL = docs.select(col("doc_id"), col("lang"))
        val pairs = graft.operators.Dedup.pooledLshPairs(docs,
          "doc_id", "text", numBands = NumBands, minJaccard = 0.1, k = 3,
          rowsPerBand = RowsPerBand).select("a_id", "b_id")
        val e = pairs.union(
          pairs.select(col("b_id").as("a_id"), col("a_id").as("b_id")))
        // null-labeled neighbors carry no vote (and Spark struct-min vs
        // SQL ORDER BY disagree on null placement — exclude both sides)
        val cnt = e
          .join(docsL.select(col("doc_id").as("b_id"), col("lang").as("nl")),
            "b_id")
          .filter(col("nl").isNotNull)
          .groupBy(col("a_id"), col("nl")).agg(count(lit(1)).as("c"))
        cnt.groupBy("a_id")
          .agg(sum("c").as("n_neighbors"),
            min(struct((-col("c")).as("nc"), col("nl").as("lab"))).as("s"))
          .select(col("a_id").as("doc_id"), col("n_neighbors"),
            col("s.lab").as("pred_lang"))
          .join(docsL, "doc_id")
          .select(col("doc_id"), col("lang").as("own_lang"), col("pred_lang"),
            col("n_neighbors"), (col("lang") === col("pred_lang")).as("agree"))
          .orderBy("doc_id")
      },
      Some(lshCte + """
        |, e AS (
        |  SELECT a_id AS s, b_id AS t FROM lsh_pairs WHERE jac >= 0.1
        |  UNION ALL
        |  SELECT b_id, a_id FROM lsh_pairs WHERE jac >= 0.1
        |), cnt AS (
        |  SELECT e.s AS doc_id, d.lang AS nl, count(*) AS c
        |  FROM e JOIN documents d ON d.doc_id = e.t
        |  WHERE d.lang IS NOT NULL
        |  GROUP BY e.s, d.lang
        |), pick AS (
        |  SELECT doc_id, nl, c,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, nl) AS rn,
        |    sum(c) OVER (PARTITION BY doc_id) AS nn
        |  FROM cnt
        |)
        |SELECT p.doc_id, d.lang AS own_lang, p.nl AS pred_lang,
        |  CAST(p.nn AS BIGINT) AS n_neighbors, d.lang = p.nl AS agree
        |FROM pick p JOIN documents d ON d.doc_id = p.doc_id
        |WHERE rn = 1 ORDER BY p.doc_id""".stripMargin)),

    // Triangle census of the near-dup graph, per duplicate cluster — the
    // density diagnostic that separates TIGHT clusters (every member
    // similar to every other: many triangles) from weak CHAINS (A≈B≈C
    // but A≉C: zero triangles), which is the difference between "safe to
    // keep one canonical doc" and "the transitive closure over-merged".
    // Compact-forward enumeration: every edge is oriented from its
    // LOWER-DEGREE endpoint to the higher (ties by id), so wedge work at
    // a node is O(out-degree²) with out-degrees bounded O(√m) on ANY
    // degree distribution — an id-ordered orientation is O(hub-degree²)
    // the moment the pair stream has a hub (it survives here only
    // because the LSH bucket caps bound degrees; this shape doesn't need
    // them to). Each triangle {x,y,z} with key(x)<key(y)<key(z) is found
    // exactly once, as the wedge at x closed by the y→z edge — two
    // equi-joins, never a matrix product. Edges and triangles attach to
    // the cluster by any member node's component label (all three nodes
    // share a component by definition).
    QuerySpec("q172_dup_triangles",
      (s, d) => {
        val pairs = graft.operators.Dedup.pooledLshPairs(t(s, d, "documents"),
          "doc_id", "text", numBands = NumBands, minJaccard = 0.1, k = 3,
          rowsPerBand = RowsPerBand)
        val e = pairs.select(col("a_id"), col("b_id"))
        val clusters = graft.operators.Dedup.pooledDupClusters(pairs)
        // degrees from the pair stream: one keyed aggregation
        val deg = e.select(explode(array(col("a_id"), col("b_id"))).as("n"))
          .groupBy("n").agg(count(lit(1)).as("dg"))
        val withDeg = e
          .join(deg.select(col("n").as("a_id"), col("dg").as("da")), "a_id")
          .join(deg.select(col("n").as("b_id"), col("dg").as("db")), "b_id")
        val aFirst =
          struct(col("da"), col("a_id")) < struct(col("db"), col("b_id"))
        // (u → v) with key(u) < key(v) under the (degree, id) total order;
        // kv carries v's key so the wedge join can order out-neighbors
        // without a re-join. o feeds three join sides — persist (tracked).
        val o = graft.operators.OperatorCaches.persistTracked(withDeg.select(
          when(aFirst, col("a_id")).otherwise(col("b_id")).as("u"),
          when(aFirst, col("b_id")).otherwise(col("a_id")).as("v"),
          when(aFirst, struct(col("db").as("d"), col("b_id").as("i")))
            .otherwise(struct(col("da").as("d"), col("a_id").as("i")))
            .as("kv")))
        val tri = o.as("e1")
          .join(o.as("e2"),
            col("e1.u") === col("e2.u") && col("e1.kv") < col("e2.kv"))
          .join(o.as("e3"),
            col("e3.u") === col("e1.v") && col("e3.v") === col("e2.v"))
          .select(col("e1.u").as("node"))
        val triPerCluster = tri
          .join(clusters.select(col("doc_id").as("node"), col("cluster_id")),
            "node")
          .groupBy("cluster_id").agg(count(lit(1)).as("n_triangles"))
        val edgesPerCluster = e
          .join(clusters.select(col("doc_id").as("a_id"), col("cluster_id")),
            "a_id")
          .groupBy("cluster_id").agg(count(lit(1)).as("n_edges"))
        edgesPerCluster.join(triPerCluster, Seq("cluster_id"), "left")
          .select(col("cluster_id"), col("n_edges"),
            coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
          .orderBy("cluster_id")
      },
      Some(clustersCte + """
        |, eg AS (
        |  SELECT a_id, b_id FROM lsh_pairs WHERE jac >= 0.1
        |), tri AS (
        |  SELECT ab.a_id AS node
        |  FROM eg ab
        |  JOIN eg bc ON bc.a_id = ab.b_id
        |  JOIN eg ac ON ac.a_id = ab.a_id AND ac.b_id = bc.b_id
        |), tc AS (
        |  SELECT c.cluster_id, count(*) AS n_triangles
        |  FROM tri JOIN clu c ON c.doc_id = tri.node
        |  GROUP BY c.cluster_id
        |), ec AS (
        |  SELECT c.cluster_id, count(*) AS n_edges
        |  FROM eg JOIN clu c ON c.doc_id = eg.a_id
        |  GROUP BY c.cluster_id
        |)
        |SELECT ec.cluster_id, n_edges, COALESCE(n_triangles, 0) AS n_triangles
        |FROM ec LEFT JOIN tc USING (cluster_id)
        |ORDER BY ec.cluster_id""".stripMargin)),

    // Dedup-threshold percolation sweep — the calibration report behind
    // picking minJaccard: pair/cluster statistics at five thresholds off
    // ONE pooled pair computation (the banding always surfaces at 0.1;
    // higher thresholds are filters over the same frame). Watching
    // n_clusters and max_cluster percolate as the threshold drops is how
    // a curation team distinguishes "true duplicate groups" from "the
    // transitive closure is merging the corpus". Percolation is monotone
    // (stricter clusters are sub-clusters of looser ones), so full CC
    // runs ONCE, at the strictest threshold; each looser level runs only
    // on the supernode-contracted residual graph
    // (Dedup.percolationClusters) — 1 full + 4 cheap incremental runs,
    // labels provably identical to 5 independent runs.
    QuerySpec("q173_dedup_threshold_sweep",
      (s, d) => {
        val thresholds = Seq(10, 20, 30, 40, 50)
        val pairs = graft.operators.Dedup.pooledLshPairs(t(s, d, "documents"),
          "doc_id", "text", numBands = NumBands, minJaccard = 0.1, k = 3,
          rowsPerBand = RowsPerBand)
        // every per-threshold statistic aggregates KEYED BY thr_pct (5
        // keys), never as five one-row global aggregates — each pair row
        // fans out to its covering thresholds once
        val pairCounts = pairs
          .select(col("jac"),
            explode(typedLit(thresholds.map(_.toLong))).as("thr_pct"))
          .filter(col("jac") >= col("thr_pct").cast("double") / 100.0)
          .groupBy("thr_pct").agg(count(lit(1)).as("n_pairs"))
        val clusterSizes = graft.operators.Dedup
          .percolationClusters(pairs, thresholds)
          .map { case (pct, clu) =>
            clu.groupBy("cluster_id").agg(count(lit(1)).as("sz"))
              .select(lit(pct.toLong).as("thr_pct"), col("sz"))
          }.reduce(_ unionAll _)
        val clusterStats = clusterSizes.groupBy("thr_pct").agg(
          count(lit(1)).as("n_clusters"), sum("sz").as("n_docs"),
          max("sz").as("max_cluster"))
        // explicit threshold spine so a pair-free threshold still reports
        // its all-zero row (as the oracle's per-threshold blocks do)
        import s.implicits._
        thresholds.map(_.toLong).toDF("thr_pct")
          .join(pairCounts, Seq("thr_pct"), "left")
          .join(clusterStats, Seq("thr_pct"), "left")
          .select(col("thr_pct"),
            coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
            coalesce(col("n_docs"), lit(0L)).as("n_docs"),
            coalesce(col("n_clusters"), lit(0L)).as("n_clusters"),
            coalesce(col("max_cluster"), lit(0L)).as("max_cluster"))
          .orderBy("thr_pct")
      },
      Some(clustersCte.replaceFirst("WITH RECURSIVE ", "WITH RECURSIVE\n") +
        Seq(10, 20, 30, 40, 50).map { pct =>
          val t = pct / 100.0
          s"""
             |, e$pct AS (
             |  SELECT a_id AS s, b_id AS t FROM lsh_pairs WHERE jac >= $t
             |  UNION ALL
             |  SELECT b_id, a_id FROM lsh_pairs WHERE jac >= $t
             |), reach$pct AS (
             |  SELECT DISTINCT s AS src, s AS node FROM e$pct
             |  UNION
             |  SELECT r.src, e$pct.t FROM reach$pct r
             |  JOIN e$pct ON e$pct.s = r.node
             |), clu$pct AS (
             |  SELECT src AS doc_id, min(node) AS cluster_id
             |  FROM reach$pct GROUP BY src
             |), sz$pct AS (
             |  SELECT cluster_id, count(*) AS sz FROM clu$pct
             |  GROUP BY cluster_id
             |), row$pct AS (
             |  SELECT CAST($pct AS BIGINT) AS thr_pct,
             |    (SELECT count(*) FROM lsh_pairs WHERE jac >= $t) AS n_pairs,
             |    CAST(COALESCE((SELECT sum(sz) FROM sz$pct), 0) AS BIGINT) AS n_docs,
             |    (SELECT count(*) FROM sz$pct) AS n_clusters,
             |    CAST(COALESCE((SELECT max(sz) FROM sz$pct), 0) AS BIGINT) AS max_cluster
             |)""".stripMargin
        }.mkString +
        "\n" + Seq(10, 20, 30, 40, 50)
          .map(p => s"SELECT * FROM row$p").mkString("\nUNION ALL\n") +
        "\nORDER BY thr_pct")),

    // Degree distribution of the near-dup graph, log₂-bucketed — the
    // graph-health diagnostic read BEFORE clustering: a fat tail (nodes
    // in high buckets) means boilerplate hubs that will chain-merge the
    // corpus under transitive closure, and is the empirical basis for
    // the LSH bucket caps. Buckets are exact integer bit lengths
    // (length(bin(degree)) — no logs, no floats); work is one explode +
    // two keyed aggregations over the pooled pair stream.
    QuerySpec("q186_dupgraph_degrees",
      (s, d) => {
        val pairs = graft.operators.Dedup.pooledLshPairs(t(s, d, "documents"),
          "doc_id", "text", numBands = NumBands, minJaccard = 0.1, k = 3,
          rowsPerBand = RowsPerBand)
        pairs.select(explode(array(col("a_id"), col("b_id"))).as("n"))
          .groupBy(col("n")).agg(count(lit(1)).as("dg"))
          .groupBy(length(bin(col("dg"))).cast("long").as("bucket"))
          .agg(count(lit(1)).as("n_nodes"),
            min(col("dg")).as("min_deg"), max(col("dg")).as("max_deg"))
          .orderBy("bucket")
      },
      Some(lshCte + """
        |, e AS (SELECT a_id AS n FROM lsh_pairs WHERE jac >= 0.1
        |        UNION ALL SELECT b_id FROM lsh_pairs WHERE jac >= 0.1),
        |deg AS (SELECT n, count(*) AS dg FROM e GROUP BY n)
        |SELECT CAST(len(bin(dg)) AS BIGINT) AS bucket, count(*) AS n_nodes,
        |  min(dg) AS min_deg, max(dg) AS max_deg
        |FROM deg GROUP BY bucket ORDER BY bucket""".stripMargin)),

    // Bounded-sketch corpus overlap between sources: each source keeps
    // only its K=256 SMALLEST distinct 60-bit shingle hashes (a
    // k-minimum-values sketch — order statistics of a uniform hash, so
    // the sketches of two sources are comparable samples of their
    // shingle spaces) and the report is every source pair's sketch
    // intersection next to the true per-source shingle totals. This is
    // the O(K·|sources|)-state pre-check run before q143's exact
    // cross-source span pass: sketch_inter ≈ 0 rules a pair out without
    // ever joining their full fingerprint masses. Exact-integer and
    // deterministic end to end (the sketch is defined by order
    // statistics, not sampling); the per-source window is source-keyed.
    QuerySpec("q187_source_kmv_overlap",
      (s, d) => {
        val docs = t(s, d, "documents")
        val sh = docs.filter(size(split(col("text"), " ")) >= 3)
          .select(col("source"), explode(
            graft.plans.GraftFunctions.shingleHashesNative(
              split(col("text"), " "), 3)).as("h"))
          .distinct()
        val tot = sh.groupBy(col("source")).agg(count(lit(1)).as("n_shingles"))
        // the sketch itself is the shared operator (also maintained
        // incrementally by EventStreams.kmvSketchSink)
        val sk = graft.operators.CorpusStats
          .kmvSourceSketch(docs, "source", "text", k = 3, sketchK = 256)
        val inter = sk.as("a").join(sk.as("b"),
            col("a.h") === col("b.h") && col("a.source") < col("b.source"))
          .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
          .agg(count(lit(1)).as("sketch_inter"))
        val srcs = docs.select(col("source")).distinct()
        val spine = srcs.select(col("source").as("src_a"))
          .join(srcs.select(col("source").as("src_b")),
            col("src_a") < col("src_b"))
        spine.join(inter, Seq("src_a", "src_b"), "left")
          .join(tot.select(col("source").as("src_a"), col("n_shingles").as("n_a")), "src_a")
          .join(tot.select(col("source").as("src_b"), col("n_shingles").as("n_b")), "src_b")
          .select(col("src_a"), col("src_b"),
            coalesce(col("sketch_inter"), lit(0L)).as("sketch_inter"),
            col("n_a"), col("n_b"))
          .orderBy("src_a", "src_b")
      },
      Some("""WITH sh AS (
             |  SELECT DISTINCT source,
             |    ('0x' || substr(md5(s[i] || ' ' || s[i+1] || ' ' || s[i+2]),1,15))::BIGINT AS h
             |  FROM (SELECT source, s, unnest(range(1, len(s)-1)) AS i
             |        FROM (SELECT source, string_split(text, ' ') AS s FROM documents))
             |), tot AS (
             |  SELECT source, count(*) AS n_shingles FROM sh GROUP BY source
             |), sk AS (
             |  SELECT source, h FROM (
             |    SELECT source, h,
             |      row_number() OVER (PARTITION BY source ORDER BY h) AS rn
             |    FROM sh)
             |  WHERE rn <= 256
             |), inter AS (
             |  SELECT a.source AS src_a, b.source AS src_b, count(*) AS sketch_inter
             |  FROM sk a JOIN sk b ON a.h = b.h AND a.source < b.source
             |  GROUP BY a.source, b.source
             |), srcs AS (SELECT DISTINCT source FROM documents),
             |pairs AS (
             |  SELECT a.source AS src_a, b.source AS src_b
             |  FROM srcs a JOIN srcs b ON a.source < b.source
             |)
             |SELECT p.src_a AS src_a, p.src_b AS src_b,
             |  COALESCE(sketch_inter, 0) AS sketch_inter,
             |  ta.n_shingles AS n_a, tb.n_shingles AS n_b
             |FROM pairs p
             |LEFT JOIN inter ON inter.src_a = p.src_a AND inter.src_b = p.src_b
             |JOIN tot ta ON ta.source = p.src_a
             |JOIN tot tb ON tb.source = p.src_b
             |ORDER BY p.src_a, p.src_b""".stripMargin)),

    // MinHash estimator calibration: per LSH pair, the signature-
    // agreement Jaccard ESTIMATE (agreeing signatures / 8) next to the
    // exact Jaccard — the sketch-acceptance report that says how far the
    // 8-signature estimator wanders from truth on THIS corpus (its
    // per-signature agreement probability is exactly the Jaccard; with
    // 8 draws the estimate is coarse, which is precisely what the
    // report exposes and what sizing the signature count trades
    // against). Complements q150, which measures the BANDING's recall;
    // this measures the ESTIMATOR's accuracy on the surfaced pairs.
    // Exact-integer agreement counts off the pooled signature frame —
    // one pair-keyed double join, no new corpus pass.
    QuerySpec("q196_minhash_calibration",
      (s, d) => {
        val docs = t(s, d, "documents")
        val pairs = graft.operators.Dedup.pooledLshPairs(docs,
          "doc_id", "text", numBands = NumBands, minJaccard = 0.1, k = 3,
          rowsPerBand = RowsPerBand)
        val sig = graft.operators.Dedup.minhashSignatures(
          graft.operators.Dedup.shingleSets(docs, "doc_id", "text", 3),
          "doc_id", NumSigs)
        val agree = (0 until NumSigs)
          .map(j => when(col(s"a.m$j") === col(s"b.m$j"), 1L).otherwise(0L))
          .reduce(_ + _)
        pairs
          .join(sig.as("a"), col("a_id") === col("a.doc_id"))
          .join(sig.as("b"), col("b_id") === col("b.doc_id"))
          .select(col("a_id"), col("b_id"), col("jac"),
            agree.as("n_agree"),
            (agree.cast("double") / NumSigs.toDouble).as("jac_est"))
          .orderBy("a_id", "b_id")
      },
      Some(lshCte + """
        |SELECT a_id, b_id, jac,
        |  CAST(""".stripMargin +
        (0 until 8).map(j =>
          s"(CASE WHEN sa.m$j = sb.m$j THEN 1 ELSE 0 END)").mkString(" + ") +
        """ AS BIGINT) AS n_agree,
        |  CAST(""".stripMargin +
        (0 until 8).map(j =>
          s"(CASE WHEN sa.m$j = sb.m$j THEN 1 ELSE 0 END)").mkString(" + ") +
        """ AS DOUBLE) / 8.0 AS jac_est
        |FROM lsh_pairs
        |JOIN sig sa ON sa.doc_id = a_id
        |JOIN sig sb ON sb.doc_id = b_id
        |WHERE jac >= 0.1
        |ORDER BY a_id, b_id""".stripMargin)),

    // Degree assortativity of the near-dup graph: Pearson correlation of
    // endpoint degrees over the (both-directions) edge list — positive
    // means similar-degree nodes pair (clean twin clusters), negative
    // means hubs attach to leaves (boilerplate cores pulling in
    // satellites — the over-merge precursor q186's tail buckets hint
    // at). All five sums are exact DECIMAL(38,0) integers (HUGEINT in
    // the oracle) with the final r assembled in double; a zero-variance
    // graph reports NULL rather than 0/0. Work: the degree aggregate +
    // two id-keyed joins + one one-row reduction — nothing beyond the
    // pair stream the family already pays for.
    QuerySpec("q202_degree_assortativity",
      (s, d) => {
        val pairs = graft.operators.Dedup.pooledLshPairs(t(s, d, "documents"),
          "doc_id", "text", numBands = NumBands, minJaccard = 0.1, k = 3,
          rowsPerBand = RowsPerBand)
        val und = pairs.select(explode(array(
            struct(col("a_id").as("u"), col("b_id").as("v")),
            struct(col("b_id").as("u"), col("a_id").as("v")))).as("e"))
          .select(col("e.u").as("u"), col("e.v").as("v"))
        val deg = und.groupBy(col("u")).agg(count(lit(1)).as("dg"))
        val xy = und
          .join(deg.select(col("u"), col("dg").as("du")), "u")
          .join(deg.select(col("u").as("v"), col("dg").as("dv")), "v")
        val agg = xy.agg(
          count(lit(1)).as("m"),
          sum(expr("CAST(du AS DECIMAL(38,0))")).as("sx"),
          sum(expr("CAST(dv AS DECIMAL(38,0))")).as("sy"),
          sum(expr("CAST(du AS DECIMAL(38,0)) * dv")).as("sxy"),
          sum(expr("CAST(du AS DECIMAL(38,0)) * du")).as("sxx"),
          sum(expr("CAST(dv AS DECIMAL(38,0)) * dv")).as("syy"))
        agg.select(col("m").as("n_directed_edges"),
          when(
            (col("m") * col("sxx") - col("sx") * col("sx")).cast("double") *
              (col("m") * col("syy") - col("sy") * col("sy")).cast("double")
              === 0.0, lit(null).cast("double"))
            .otherwise(
              (col("m") * col("sxy") - col("sx") * col("sy")).cast("double") /
                (sqrt((col("m") * col("sxx") - col("sx") * col("sx")).cast("double")) *
                  sqrt((col("m") * col("syy") - col("sy") * col("sy")).cast("double"))))
            .as("assortativity"))
      },
      Some(lshCte + """
        |, e AS (SELECT a_id AS u, b_id AS v FROM lsh_pairs WHERE jac >= 0.1
        |        UNION ALL SELECT b_id, a_id FROM lsh_pairs WHERE jac >= 0.1),
        |deg AS (SELECT u, count(*) AS dg FROM e GROUP BY u),
        |xy AS (
        |  SELECT CAST(da.dg AS HUGEINT) AS du, CAST(db.dg AS HUGEINT) AS dv
        |  FROM e JOIN deg da ON da.u = e.u JOIN deg db ON db.u = e.v
        |), a AS (
        |  SELECT count(*) AS m, sum(du) AS sx, sum(dv) AS sy,
        |    sum(du * dv) AS sxy, sum(du * du) AS sxx, sum(dv * dv) AS syy
        |  FROM xy
        |)
        |SELECT CAST(m AS BIGINT) AS n_directed_edges,
        |  CASE WHEN CAST(m * sxx - sx * sx AS DOUBLE)
        |            * CAST(m * syy - sy * sy AS DOUBLE) = 0.0 THEN NULL
        |       ELSE CAST(m * sxy - sx * sy AS DOUBLE)
        |         / (sqrt(CAST(m * sxx - sx * sx AS DOUBLE))
        |            * sqrt(CAST(m * syy - sy * sy AS DOUBLE)))
        |  END AS assortativity
        |FROM a""".stripMargin)),

    // Near-dup graph served from the PERSISTED artifact: the LSH pair
    // frame + connected-component labels materialized as two plain
    // parquet frames (DupGraph.save — the dedup-family sibling of the
    // q177 text index and q189 vector index), loaded back, and the
    // cluster labels answered from storage — the corpus is never
    // re-shingled. Hash-matching q111's own oracle IS the
    // artifact-parity proof, driver-gated; DupGraphSpec pins frame
    // round-trip. NOTE: constructing this query's DataFrame has a side
    // effect — it builds and WRITES the graph artifact (once per corpus
    // dir per JVM, memoized; removed at exit), so plan screening and
    // bench warm-up pay the build exactly once and the timed runs
    // measure pure serve-from-storage.
    QuerySpec("q203_dupgraph_serve_artifact",
      (s, d) => graft.operators.DupGraph
        .load(s, servedDupGraphDir(s, d)).clusters
        .orderBy("doc_id"),
      Some(clustersOracle)),

    // Dup-graph APPEND maintenance, oracle-gated: the graph is built
    // over 90% of the corpus, the held-out 10% (doc_id % 10 = 7) is
    // APPENDED (DupGraph.append — batch-internal pairs + bipartite
    // batch×corpus pairs folded into the labels by the supernode
    // contraction of Dedup.incrementalClusters; the online half of graph
    // maintenance, mirroring q189's frozen-quantizer vector append and
    // q147's text-index delta merge), and the resulting labels must
    // hash-match the SAME full-corpus recompute oracle as q37/q111/q203
    // — append ≡ rebuild, because both paths surface the identical pair
    // set (same banding, same exact-Jaccard confirm) and the contracted
    // CC's min-of-mins is the global min.
    QuerySpec("q204_dupgraph_append",
      (s, d) => {
        val docs = t(s, d, "documents")
        val oldDocs = docs.filter(col("doc_id") % 10 =!= 7)
        val newDocs = docs.filter(col("doc_id") % 10 === 7)
        val idx = graft.operators.DupGraph.build(oldDocs, "doc_id", "text",
          numBands = NumBands, minJaccard = 0.1, k = 3,
          rowsPerBand = RowsPerBand)
        graft.operators.DupGraph.append(idx, oldDocs, newDocs,
          "doc_id", "text", numBands = NumBands, minJaccard = 0.1, k = 3,
          rowsPerBand = RowsPerBand)
          .clusters
          .orderBy("doc_id")
      },
      Some(clustersOracle)),

    // Source-partition MODULARITY of the near-dup graph — label homophily
    // along the `source` axis: per source s, the observed within-source
    // edge fraction e_s/m versus the degree-expected (d_s/2m)² under
    // random rewiring, and their difference (the per-source Newman
    // modularity contribution; Q = Σ_s delta). High delta = a source's
    // near-dups are its own (internal templating); negative/low with fat
    // cross_edges = cross-source syndication — the boilerplate-import
    // signal q143's exact span matrix confirms span-by-span. Counts are
    // exact integers off the pooled pair stream (deg_sum = 2·within +
    // cross needs no per-node degree pass), the one-row edge total
    // crosses back as a declared broadcast singleton, and the doubles
    // are assembled by the same literal expression tree in both engines
    // (divide, then square, then subtract — bit-identical IEEE).
    QuerySpec("q206_dupgraph_source_modularity",
      (s, d) => {
        val docs = t(s, d, "documents")
        val pairs = graft.operators.Dedup.pooledLshPairs(docs, "doc_id", "text",
          numBands = NumBands, minJaccard = 0.1, k = 3,
          rowsPerBand = RowsPerBand)
        val src = docs.select(col("doc_id"), col("source"))
        val e = pairs
          .join(src.as("sa"), col("a_id") === col("sa.doc_id"))
          .join(src.as("sb"), col("b_id") === col("sb.doc_id"))
          .select(col("sa.source").as("s_a"), col("sb.source").as("s_b"))
        // counters + report are the shared Graphs machinery so the
        // streaming monitor (EventStreams.modularityMonitorSink) and
        // this batch query are the SAME expression tree over the same
        // exact-integer counters; m = Σ within + (Σ cross)/2 equals the
        // old direct edge count by construction
        graft.operators.Graphs.modularityReport(
          graft.operators.Graphs.sourceEdgeCounts(e))
      },
      Some(lshCte + """
        |, e AS (
        |  SELECT da.source AS s_a, db.source AS s_b
        |  FROM lsh_pairs
        |  JOIN documents da ON da.doc_id = a_id
        |  JOIN documents db ON db.doc_id = b_id
        |  WHERE jac >= 0.1
        |), tot AS (SELECT count(*) AS m FROM e),
        |w AS (SELECT s_a AS source, count(*) AS within_edges
        |      FROM e WHERE s_a = s_b GROUP BY 1),
        |c AS (SELECT source, count(*) AS cross_edges FROM (
        |        SELECT s_a AS source FROM e WHERE s_a <> s_b
        |        UNION ALL SELECT s_b FROM e WHERE s_a <> s_b)
        |      GROUP BY 1),
        |ps AS (SELECT coalesce(w.source, c.source) AS source,
        |              coalesce(within_edges, 0) AS within_edges,
        |              coalesce(cross_edges, 0) AS cross_edges
        |       FROM w FULL OUTER JOIN c ON w.source = c.source)
        |SELECT source,
        |  CAST(within_edges AS BIGINT) AS within_edges,
        |  CAST(cross_edges AS BIGINT) AS cross_edges,
        |  CAST(2*within_edges + cross_edges AS BIGINT) AS deg_sum,
        |  CAST(within_edges AS DOUBLE) / m AS within_frac,
        |  (CAST(2*within_edges + cross_edges AS DOUBLE) / (2.0 * m))
        |    * (CAST(2*within_edges + cross_edges AS DOUBLE) / (2.0 * m))
        |    AS expected_frac,
        |  CAST(within_edges AS DOUBLE) / m
        |    - (CAST(2*within_edges + cross_edges AS DOUBLE) / (2.0 * m))
        |      * (CAST(2*within_edges + cross_edges AS DOUBLE) / (2.0 * m))
        |    AS modularity_delta
        |FROM ps, tot ORDER BY source""".stripMargin)),

    // Per-node LOCAL clustering coefficient over the near-dup graph —
    // the node-resolution sibling of q172's per-cluster census: for each
    // document in the pair graph, its degree d, its triangle count t,
    // and c = 2t/(d(d−1)) — c≈1 marks docs inside tight copy-cliques
    // (template farms), c≈0 marks chain articulation points where the
    // transitive closure is doing the merging (the doc to re-examine
    // before trusting its cluster). Same compact-forward enumeration as
    // q172 (edges oriented low-degree→high, wedge work O(out-deg²) with
    // out-degrees O(√m) on any degree distribution); the one new move is
    // exploding all THREE corners of each found triangle before the
    // per-node count, so each triangle credits x, y, and z exactly once.
    // Counts are exact longs; c is assembled per-row from them by the
    // same literal expression tree in both engines.
    QuerySpec("q207_local_clustering",
      (s, d) => {
        val pairs = graft.operators.Dedup.pooledLshPairs(t(s, d, "documents"),
          "doc_id", "text", numBands = NumBands, minJaccard = 0.1, k = 3,
          rowsPerBand = RowsPerBand)
        val e = pairs.select(col("a_id"), col("b_id"))
        val deg = e.select(explode(array(col("a_id"), col("b_id"))).as("n"))
          .groupBy("n").agg(count(lit(1)).as("dg"))
        val withDeg = e
          .join(deg.select(col("n").as("a_id"), col("dg").as("da")), "a_id")
          .join(deg.select(col("n").as("b_id"), col("dg").as("db")), "b_id")
        val aFirst =
          struct(col("da"), col("a_id")) < struct(col("db"), col("b_id"))
        val o = graft.operators.OperatorCaches.persistTracked(withDeg.select(
          when(aFirst, col("a_id")).otherwise(col("b_id")).as("u"),
          when(aFirst, col("b_id")).otherwise(col("a_id")).as("v"),
          when(aFirst, struct(col("db").as("d"), col("b_id").as("i")))
            .otherwise(struct(col("da").as("d"), col("a_id").as("i")))
            .as("kv")))
        val corners = o.as("e1")
          .join(o.as("e2"),
            col("e1.u") === col("e2.u") && col("e1.kv") < col("e2.kv"))
          .join(o.as("e3"),
            col("e3.u") === col("e1.v") && col("e3.v") === col("e2.v"))
          .select(explode(array(col("e1.u"), col("e1.v"), col("e2.v")))
            .as("n"))
        val tcnt = corners.groupBy("n").agg(count(lit(1)).as("t"))
        deg.join(tcnt, Seq("n"), "left")
          .select(col("n").as("doc_id"), col("dg").as("degree"),
            coalesce(col("t"), lit(0L)).as("n_triangles"),
            when(col("dg") < 2, lit(0.0d))
              .otherwise(lit(2.0d) * coalesce(col("t"), lit(0L))
                / (col("dg") * (col("dg") - lit(1L))))
              .as("clustering_coeff"))
          .orderBy("doc_id")
      },
      Some(lshCte + """
        |, eg AS (
        |  SELECT a_id, b_id FROM lsh_pairs WHERE jac >= 0.1
        |), tri AS (
        |  SELECT ab.a_id AS x, ab.b_id AS y, bc.b_id AS z
        |  FROM eg ab
        |  JOIN eg bc ON bc.a_id = ab.b_id
        |  JOIN eg ac ON ac.a_id = ab.a_id AND ac.b_id = bc.b_id
        |), corners AS (
        |  SELECT x AS n FROM tri
        |  UNION ALL SELECT y FROM tri
        |  UNION ALL SELECT z FROM tri
        |), tcnt AS (SELECT n, count(*) AS t FROM corners GROUP BY 1),
        |deg AS (
        |  SELECT n, count(*) AS dg FROM (
        |    SELECT a_id AS n FROM eg UNION ALL SELECT b_id AS n FROM eg)
        |  GROUP BY 1)
        |SELECT deg.n AS doc_id, dg AS degree,
        |  COALESCE(t, 0) AS n_triangles,
        |  CASE WHEN dg < 2 THEN 0.0
        |       ELSE 2.0 * COALESCE(t, 0) / (dg * (dg - 1)) END
        |    AS clustering_coeff
        |FROM deg LEFT JOIN tcnt USING (n) ORDER BY doc_id""".stripMargin)),

    // 2-CORE of the near-dup graph by bounded peeling — the dense-core
    // extractor: iteratively discard degree-<2 nodes (chain tendrils,
    // isolated pairs) until what remains is the subgraph where every doc
    // has ≥2 surviving near-dup partners — the part of the dup graph
    // where transitive-closure clustering is structurally corroborated
    // rather than riding one fragile edge. Both engines run the SAME
    // fixed 8 peel rounds (the oracle unrolls them as chained CTEs, the
    // q175 discipline), so parity is unconditional — no convergence
    // argument needed; 8 rounds converge on every gate fixture, and at
    // production scale the peel loop runs to fixpoint instead (each
    // round is two semi-joins + one keyed count on a shrinking frame —
    // the textbook distributed k-core shape). Filtering the FULL edge
    // set by round-i survivors equals filtering round i's residual
    // (survivor sets are nested), which keeps every round a 2-join
    // restriction of the one pooled pair frame.
    QuerySpec("q211_kcore_peel",
      (s, d) => {
        val e = graft.operators.Dedup.pooledLshPairs(t(s, d, "documents"),
          "doc_id", "text", numBands = NumBands, minJaccard = 0.1, k = 3,
          rowsPerBand = RowsPerBand)
          .select(col("a_id"), col("b_id"))
        def degrees(g: org.apache.spark.sql.DataFrame) =
          g.select(explode(array(col("a_id"), col("b_id"))).as("n"))
            .groupBy("n").agg(count(lit(1)).as("dg"))
        def restrict(alive: org.apache.spark.sql.DataFrame) =
          e.join(alive.select(col("n").as("a_id")), "a_id")
            .join(alive.select(col("n").as("b_id")), "b_id")
        var g = e
        var prevAlive = -1L
        var round = 0
        while (round < 8 && prevAlive != 0L) {
          // eager localCheckpoint: truncates the per-round join lineage
          // (8 stacked restrictions otherwise compound into one
          // heap-exhausting plan) and gives the optimizer exact sizes
          // for the survivor side — the Graphs.pageRank discipline
          val alive = degrees(g).filter(col("dg") >= 2).select("n")
            .localCheckpoint()
          // early exit on a FIXPOINT: peeling is monotone (alive_i ⊆
          // alive_{i-1}), so an unchanged count means an unchanged set
          // and every remaining round is an identity — the result is
          // exactly the oracle's full 8-round unroll, minus the no-op
          // jobs (8 sequential checkpoints cost ~2.8 s even converged)
          val n = alive.count()
          if (n == prevAlive) round = 8
          else { prevAlive = n; g = restrict(alive); round += 1 }
        }
        degrees(g)
          .select(col("n").as("doc_id"), col("dg").as("core_degree"))
          .orderBy("doc_id")
      },
      Some(lshCte + {
        // MATERIALIZED: each CTE is referenced 2-3× downstream; without
        // the hint DuckDB inlines them and re-runs the whole LSH shingle
        // pipeline per reference (observed: fd exhaustion at 9 copies)
        val sb = new StringBuilder(
          "\n, eg AS MATERIALIZED" +
            " (SELECT a_id, b_id FROM lsh_pairs WHERE jac >= 0.1)" +
            "\n, g1 AS MATERIALIZED (SELECT a_id, b_id FROM eg)")
        for (i <- 1 to 8) {
          sb ++= s"\n, a$i AS MATERIALIZED" +
            s" (SELECT n FROM (SELECT a_id AS n FROM g$i" +
            s" UNION ALL SELECT b_id FROM g$i) GROUP BY n" +
            " HAVING count(*) >= 2)"
          sb ++= s"\n, g${i + 1} AS MATERIALIZED (SELECT a_id, b_id FROM eg" +
            s" JOIN a$i x ON x.n = eg.a_id JOIN a$i y ON y.n = eg.b_id)"
        }
        sb ++= "\nSELECT n AS doc_id, CAST(count(*) AS BIGINT)" +
          " AS core_degree FROM (SELECT a_id AS n FROM g9" +
          " UNION ALL SELECT b_id FROM g9) GROUP BY n ORDER BY doc_id"
        sb.toString
      })),

    // Dup-graph DELETE maintenance, oracle-gated — q204's other half
    // (and the dedup sibling of q212's vector delete): the graph is
    // built over the FULL corpus, the doc_id % 10 = 4 documents are
    // DELETED (DupGraph.delete — every pair touching a deleted id drops
    // via two anti-joins; pairs are pairwise, so the residual IS the
    // rebuild-over-remainder pair set with no re-shingling), and the
    // labels are RE-DERIVED from the residual pairs — deletion can
    // SPLIT a component (the deleted doc may be its only bridge), which
    // is exactly what a label filter would get wrong. The oracle is the
    // same recursive-CC recompute over the REMAINING documents, so the
    // split case is proven, not assumed.
    QuerySpec("q213_dupgraph_delete",
      (s, d) => {
        val docs = t(s, d, "documents")
        val full = graft.operators.DupGraph.build(docs, "doc_id", "text",
          numBands = NumBands, minJaccard = 0.1, k = 3,
          rowsPerBand = RowsPerBand)
        graft.operators.DupGraph.delete(full,
            docs.filter(col("doc_id") % 10 === 4), "doc_id")
          .clusters
          .orderBy("doc_id")
      },
      Some(clustersCteFrom(
        "(SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 4)") +
        "\nSELECT doc_id, cluster_id FROM clu ORDER BY doc_id"))

    ,
    // Dedup SURVIVORSHIP-BIAS audit — the "what did dedup do to my
    // data" report a curation team signs off on before shipping a
    // deduped corpus: per (source, kept/dropped) cell under the
    // keep-cluster-minimum rule (q65's exact keep policy — kept =
    // singleton or component minimum), document counts and the
    // length profile of each cell. A dropped-mean ≫ kept-mean gap
    // inside a source is the survivorship red flag: the dedup policy
    // is systematically discarding the longer (often richer) twin
    // instead of a random one. Counts and char totals are exact longs
    // off the pooled pair/cluster frames; the mean is one per-row
    // division.
    QuerySpec("q216_dedup_survivorship",
      (s, d) => {
        val docs = t(s, d, "documents")
        val pairs = graft.operators.Dedup.pooledLshPairs(docs, "doc_id", "text",
          numBands = NumBands, minJaccard = 0.1, k = 3,
          rowsPerBand = RowsPerBand)
        val clusters = graft.operators.Dedup.pooledDupClusters(pairs)
        docs.join(clusters, Seq("doc_id"), "left")
          .select(col("source"),
            when(col("cluster_id").isNull
                || col("cluster_id") === col("doc_id"),
              lit("kept")).otherwise(lit("dropped")).as("status"),
            col("n_chars"))
          .groupBy(col("source"), col("status"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars").cast("long")).as("total_chars"))
          .select(col("source"), col("status"), col("n_docs"),
            col("total_chars"),
            (col("total_chars").cast("double") / col("n_docs"))
              .as("mean_chars"))
          .orderBy("source", "status")
      },
      Some(clustersCte + """
        |SELECT source,
        |  CASE WHEN cluster_id IS NULL OR cluster_id = doc_id
        |       THEN 'kept' ELSE 'dropped' END AS status,
        |  count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  CAST(CAST(sum(n_chars) AS BIGINT) AS DOUBLE) / count(*)
        |    AS mean_chars
        |FROM documents LEFT JOIN clu USING (doc_id)
        |GROUP BY 1, 2 ORDER BY source, status""".stripMargin)),

    // Common-neighbor link prediction over the co-purchase graph — the
    // recommendation classic: parts NEVER bought together that share
    // many co-purchase partners are the missing edges a recommender
    // surfaces first. (The near-dup graph is the wrong domain for this
    // — transitive LSH clusters are cliques, so its two-hop pairs are
    // already edges; measured: 3 wedge pairs at sf0.01, all adjacent.)
    // Graph: nodes = parts, edges = pairs co-occurring in ≥2 distinct
    // orders (the support threshold sparsifies the projection), built
    // by q194's basket-keyed self-join so pair work is Σ basket²,
    // never n². Wedges come from Graphs.cappedWedgePairs: one
    // self-join of the undirected adjacency on the center part, each
    // unordered neighbor pair kept once by id order — with the
    // per-center fan-out CAPPED at the 64 strongest neighbors
    // (support DESC, id ASC), so a super-hub part cannot turn Σ deg²
    // quadratic (the lshPairs bounded-bucket discipline; on this
    // fixture max degree is 51 at sf0.001 and falls with scale, so
    // the cap binds nowhere and capped ≡ uncapped — the oracle
    // mirrors the capped semantics regardless). Existing edges drop
    // by one anti-join against the canonical pair frame, and only
    // the top 20 (common DESC, part ids) survive.
    // Semi-supervised label propagation over the near-dup graph (Zhu &
    // Ghahramani): a 20% trusted-audit seed set (doc_id % 5 == 0, score
    // = 10⁶·[n_chars ≥ 200] — stand-in for a human quality verdict)
    // spreads through the LSH pair graph by 6 rounds of clamped-seed
    // neighbor averaging (Graphs.labelPropagation) — the way a few
    // thousand human audits extend across a 100 TB corpus's duplicate
    // structure without labeling it. Propagation state is the
    // graph-node frame (≤ 2·|pairs| rows, bucket-cap bounded), never
    // the corpus; out-of-graph docs keep seed/prior statically. All
    // integer fixed-point (neighbor avg = sum DIV count), so the
    // per-source rollup — doc/seed/in-graph/moved counts and the mean
    // propagated score — hash-matches 6 unrolled DuckDB rounds.
    QuerySpec("q238_label_propagation",
      (s, d) => {
        val docs = t(s, d, "documents")
        val und = graft.operators.Dedup.pooledLshPairs(docs, "doc_id", "text",
            numBands = NumBands, minJaccard = 0.1, k = 3,
            rowsPerBand = RowsPerBand)
          .select(explode(array(
            struct(col("a_id").as("u"), col("b_id").as("v")),
            struct(col("b_id").as("u"), col("a_id").as("v")))).as("p"))
          .select(col("p.u").as("u"), col("p.v").as("v"))
        val seeds = docs.select(col("doc_id").as("id"),
          (col("doc_id") % 5 === 0).as("is_seed"),
          when(col("n_chars") >= 200, lit(1000000L)).otherwise(lit(0L))
            .as("sv"))
        val sc = graft.operators.Graphs.labelPropagation(
          und, seeds, prior = 500000L, iterations = 6)
        docs.select(col("doc_id"), col("source"),
            (col("doc_id") % 5 === 0).as("is_seed"),
            when(col("n_chars") >= 200, lit(1000000L)).otherwise(lit(0L))
              .as("sv"))
          .join(sc.select(col("u").as("doc_id"), col("sc")),
            Seq("doc_id"), "left")
          .select(col("source"), col("is_seed"),
            col("sc").isNotNull.as("in_graph"),
            coalesce(col("sc"),
              when(col("is_seed"), col("sv")).otherwise(lit(500000L)))
              .as("score"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("is_seed"), 1L).otherwise(0L)).as("n_seeds"),
            sum(when(col("in_graph"), 1L).otherwise(0L)).as("n_graph"),
            sum(when(!col("is_seed") && col("score") =!= 500000L, 1L)
              .otherwise(0L)).as("n_moved"),
            expr("sum(score) DIV count(1)").as("mean_score_fp"))
          .orderBy("source")
      },
      Some(lshCte + """
        |, und AS (
        |  SELECT a_id AS u, b_id AS v FROM lsh_pairs WHERE jac >= 0.1
        |  UNION ALL
        |  SELECT b_id, a_id FROM lsh_pairs WHERE jac >= 0.1
        |), sd AS (
        |  SELECT doc_id AS id, doc_id % 5 = 0 AS is_seed,
        |    CASE WHEN n_chars >= 200 THEN 1000000 ELSE 0 END AS sv
        |  FROM documents
        |), nodes AS (
        |  SELECT DISTINCT u, is_seed, sv FROM und JOIN sd ON id = u
        |), it0 AS (
        |  SELECT u, CASE WHEN is_seed THEN sv ELSE 500000 END AS sc
        |  FROM nodes
        |)""".stripMargin +
        (1 to 6).map(i => s"""
        |, it$i AS (
        |  SELECT n.u,
        |    CASE WHEN n.is_seed THEN n.sv ELSE nb.a END AS sc
        |  FROM nodes n JOIN (
        |    SELECT e.u, CAST(sum(p.sc) AS BIGINT) // count(*) AS a
        |    FROM und e JOIN it${i - 1} p ON p.u = e.v GROUP BY e.u
        |  ) nb ON nb.u = n.u
        |)""".stripMargin).mkString +
        """
        |SELECT d.source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN d.doc_id % 5 = 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_seeds,
        |  CAST(sum(CASE WHEN it6.sc IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_graph,
        |  CAST(sum(CASE WHEN d.doc_id % 5 <> 0 AND COALESCE(it6.sc,
        |      CASE WHEN d.doc_id % 5 = 0 THEN
        |        CASE WHEN d.n_chars >= 200 THEN 1000000 ELSE 0 END
        |      ELSE 500000 END) <> 500000
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_moved,
        |  CAST(sum(COALESCE(it6.sc,
        |      CASE WHEN d.doc_id % 5 = 0 THEN
        |        CASE WHEN d.n_chars >= 200 THEN 1000000 ELSE 0 END
        |      ELSE 500000 END)) AS BIGINT) // count(*) AS mean_score_fp
        |FROM documents d LEFT JOIN it6 ON it6.u = d.doc_id
        |GROUP BY d.source ORDER BY d.source""".stripMargin)),

    // EXACT-threshold Jaccard self-join via prefix filtering (AllPairs/
    // PPJoin) — the lossless counterpart to the LSH family: every pair
    // with J ≥ 1/2 returned, none missed, no banding probability. The
    // Spark side probes only each doc's |x|−⌈x/2⌉+1 RAREST shingles
    // against the full posting list (work Σ prefix(t)·posting(t), and
    // hot boilerplate shingles almost never make a prefix), length-
    // filters (2·min ≥ max), then verifies exactly. The oracle computes
    // the ground truth BRUTE-FORCE (full posting self-join) — hash
    // equality of the result sets IS the losslessness proof, re-run at
    // every gate scale. Threshold is the rational 1/2, so every test is
    // exact integer arithmetic (den·|∩| ≥ num·|∪|); jac published in
    // millionths by integer division.
    QuerySpec("q239_prefix_filter_join",
      (s, d) => graft.operators.Dedup.prefixFilterPairs(
          t(s, d, "documents"), "doc_id", "text", jacNum = 1, jacDen = 2)
        .select(col("a_id"), col("b_id"), col("inter"), col("uni"),
          expr("inter * 1000000 DIV uni").as("jac_fp"))
        .orderBy("a_id", "b_id"),
      Some("""WITH sh AS (
        |  SELECT DISTINCT doc_id,
        |    ('0x' || substr(md5(s[i] || ' ' || s[i+1] || ' ' || s[i+2]),1,15))::BIGINT AS h60
        |  FROM (SELECT doc_id, s, unnest(range(1, len(s)-1)) AS i
        |        FROM (SELECT doc_id, string_split(text, ' ') AS s
        |              FROM documents))
        |), sets AS (
        |  SELECT doc_id, list(h60) AS shset FROM sh GROUP BY 1
        |), cand AS (
        |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        |  FROM sh a JOIN sh b ON a.h60 = b.h60 AND a.doc_id < b.doc_id
        |), j AS (
        |  SELECT a_id, b_id,
        |    CAST(len(list_intersect(sa.shset, sb.shset)) AS BIGINT)
        |      AS inter,
        |    CAST(len(list_distinct(list_concat(sa.shset, sb.shset)))
        |      AS BIGINT) AS uni
        |  FROM cand
        |  JOIN sets sa ON sa.doc_id = a_id
        |  JOIN sets sb ON sb.doc_id = b_id
        |)
        |SELECT a_id, b_id, inter, uni, inter * 1000000 // uni AS jac_fp
        |FROM j WHERE inter * 2 >= uni
        |ORDER BY a_id, b_id""".stripMargin)),

    QuerySpec("q223_link_prediction",
      (s, d) => {
        // pooled basket pair stream (Q.basketPairOcc) — the distinct +
        // basket self-join are shared with q194/q226
        val strong = Q.basketPairOcc(s, d)
          .groupBy(col("x"), col("y"))
          .agg(count(lit(1)).as("support"))
          .filter(col("support") >= 2L)
        val und = strong.select(explode(array(
            struct(col("x").as("u"), col("y").as("v"), col("support")),
            struct(col("y").as("u"), col("x").as("v"), col("support"))))
            .as("e"))
          .select(col("e.u").as("u"), col("e.v").as("v"), col("e.support"))
        val cn = graft.operators.Graphs.cappedWedgePairs(und)
        cn.join(strong.select(col("x"), col("y")), Seq("x", "y"),
            "left_anti")
          .select(col("x").as("part_a"), col("y").as("part_b"),
            col("common_neighbors"))
          .orderBy(desc("common_neighbors"), col("part_a"), col("part_b"))
          .limit(20)
      },
      Some("""WITH b AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
        |), strong AS (
        |  SELECT a.pk AS x, bb.pk AS y, count(*) AS support
        |  FROM b a JOIN b bb ON a.ok = bb.ok AND a.pk < bb.pk
        |  GROUP BY 1, 2 HAVING count(*) >= 2
        |), e0 AS (
        |  SELECT x AS u, y AS v, support FROM strong
        |  UNION ALL SELECT y, x, support FROM strong
        |), e AS (
        |  SELECT u, v FROM (
        |    SELECT u, v, row_number() OVER (
        |      PARTITION BY u ORDER BY support DESC, v) AS r
        |    FROM e0)
        |  WHERE r <= """.stripMargin +
        graft.operators.Graphs.DefaultMaxNeighbors + """
        |), w AS (
        |  SELECT a.v AS x, bb.v AS y
        |  FROM e a JOIN e bb ON a.u = bb.u AND a.v < bb.v
        |), cn AS (
        |  SELECT x, y, count(*) AS common_neighbors FROM w GROUP BY 1, 2
        |), pred AS (
        |  SELECT * FROM cn WHERE NOT EXISTS (
        |    SELECT 1 FROM strong WHERE strong.x = cn.x AND strong.y = cn.y)
        |)
        |SELECT x AS part_a, y AS part_b,
        |  CAST(common_neighbors AS BIGINT) AS common_neighbors
        |FROM pred
        |ORDER BY common_neighbors DESC, part_a, part_b LIMIT 20""".stripMargin)),

    // SPLIT-LEAKAGE audit: near-dup pairs crossing the naive per-doc
    // 90/5/5 hash split (Quality.hashSplit, q78) — an eval doc with a
    // train-side MinHash twin scores memorization, not generalization,
    // which is exactly why Quality.leakageSafeSplit assigns splits per
    // CLUSTER. This is the measurement that justifies it: one row per
    // leaked eval doc (val+test side) with its twin count and its
    // worst (max-Jaccard, ties to larger id — the struct-max order)
    // train twin. Composes the pooled q32 pairing with the q78 split
    // hash; cost is the LSH pairing plus two id-keyed split joins.
    QuerySpec("q248_split_leakage",
      (s, d) => {
        val docs = t(s, d, "documents")
        val split = graft.operators.Quality.hashSplit(docs, "doc_id")
          .select(col("doc_id"), (col("split") =!= "train").as("ev"))
        val pairs = graft.operators.Dedup.pooledLshPairs(docs, "doc_id", "text",
          numBands = NumBands, minJaccard = 0.1, k = 3,
          rowsPerBand = RowsPerBand)
        pairs
          .join(split.select(col("doc_id").as("a_id"), col("ev").as("ae")),
            "a_id")
          .join(split.select(col("doc_id").as("b_id"), col("ev").as("be")),
            "b_id")
          .filter(col("ae") =!= col("be"))
          .select(when(col("ae"), col("a_id")).otherwise(col("b_id"))
              .as("eval_id"),
            when(col("ae"), col("b_id")).otherwise(col("a_id"))
              .as("train_id"),
            col("jac"))
          .groupBy(col("eval_id"))
          .agg(count(lit(1)).as("n_train_twins"),
            max(struct(col("jac"), col("train_id"))).as("m"))
          .select(col("eval_id"), col("n_train_twins"),
            col("m.train_id").as("worst_train_id"),
            round(col("m.jac"), 4).as("max_jac4"))
          .orderBy("eval_id")
      },
      Some(lshCte + """
        |, sp AS (
        |  SELECT doc_id,
        |    ('0x' || substr(md5('split|' || doc_id), 1, 15))::BIGINT % 100
        |      >= 90 AS ev
        |  FROM documents
        |), ors AS (
        |  SELECT CASE WHEN sa.ev THEN a_id ELSE b_id END AS eval_id,
        |    CASE WHEN sa.ev THEN b_id ELSE a_id END AS train_id, jac
        |  FROM lsh_pairs p
        |  JOIN sp sa ON sa.doc_id = p.a_id
        |  JOIN sp sb ON sb.doc_id = p.b_id
        |  WHERE p.jac >= 0.1 AND sa.ev <> sb.ev
        |), rk AS (
        |  SELECT eval_id, train_id, jac,
        |    count(*) OVER (PARTITION BY eval_id) AS n_train_twins,
        |    row_number() OVER (PARTITION BY eval_id
        |      ORDER BY jac DESC, train_id DESC) AS r
        |  FROM ors
        |)
        |SELECT eval_id, CAST(n_train_twins AS BIGINT) AS n_train_twins,
        |  train_id AS worst_train_id, round(jac, 4) AS max_jac4
        |FROM rk WHERE r = 1 ORDER BY eval_id""".stripMargin)),

    // Shingle-novelty SATURATION curve over ingestion order — the
    // "diminishing returns of more data" report behind acquisition
    // decisions: docs in id (arrival) order split into 10 equal ranks
    // via the distributed PrefixSum rank (never a data-sized global
    // window), each distinct 3-gram shingle credited to the decile of
    // its FIRST-carrying doc (one min per shingle key), and the decile
    // spine reports new-distinct-span mass, its running total, and the
    // per-doc novelty rate in exact basis points. A flattening curve =
    // the corpus is saturating; the only global window runs over the
    // 10-row decile spine (the hour-spine argument). Shingle hashing is
    // the q241 md5 convention, shared with Dedup.shingleSets.
    QuerySpec("q254_novelty_saturation",
      (s, d) => {
        val docs = t(s, d, "documents")
        val (ranked, n) = graft.operators.PrefixSum.rank(
          docs.select(col("doc_id")), Seq(col("doc_id")), "__rn")
        val buckets = graft.operators.OperatorCaches.persistTracked(
          ranked.select(col("doc_id"),
            expr(s"(__rn - 1) * 10 DIV $n").as("bucket")))
        val sh = graft.operators.Dedup.shingleSets(docs, "doc_id", "text")
          .select(col("doc_id"), explode(col("hset")).as("h"))
        val firstB = sh.join(buckets, "doc_id")
          .groupBy(col("h")).agg(min(col("bucket")).as("b"))
        val newPer = firstB.groupBy(col("b"))
          .agg(count(lit(1)).as("new_spans"))
        buckets.groupBy(col("bucket")).agg(count(lit(1)).as("n_docs"))
          .join(newPer, col("bucket") === col("b"), "left")
          .select(col("bucket"), col("n_docs"),
            coalesce(col("new_spans"), lit(0L)).as("new_spans"))
          .withColumn("cum_spans",
            sum(col("new_spans")).over(
              org.apache.spark.sql.expressions.Window.orderBy("bucket")
                .rowsBetween(org.apache.spark.sql.expressions.Window
                  .unboundedPreceding, 0)))
          .withColumn("per_doc_bp",
            expr("new_spans * 10000 DIV n_docs"))
          .orderBy("bucket")
      },
      Some("""WITH r AS (
             |  SELECT doc_id, row_number() OVER (ORDER BY doc_id) AS rn,
             |    count(*) OVER () AS n
             |  FROM documents
             |), b AS (
             |  SELECT doc_id, CAST((rn - 1) * 10 // n AS BIGINT) AS bucket
             |  FROM r
             |), sh AS (
             |  SELECT DISTINCT doc_id,
             |    ('0x' || substr(md5(s[i] || ' ' || s[i+1] || ' ' || s[i+2]),1,15))::BIGINT AS h
             |  FROM (SELECT doc_id, s, unnest(range(1, len(s)-1)) AS i
             |        FROM (SELECT doc_id, string_split(text, ' ') AS s
             |              FROM documents))
             |), fb AS (
             |  SELECT h, min(bucket) AS b FROM sh JOIN b USING (doc_id)
             |  GROUP BY h
             |), np AS (SELECT b, count(*) AS new_spans FROM fb GROUP BY b),
             |dp AS (SELECT bucket, count(*) AS n_docs FROM b GROUP BY bucket)
             |SELECT bucket, n_docs,
             |  COALESCE(new_spans, 0) AS new_spans,
             |  CAST(sum(COALESCE(new_spans, 0)) OVER (ORDER BY bucket
             |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_spans,
             |  COALESCE(new_spans, 0) * 10000 // n_docs AS per_doc_bp
             |FROM dp LEFT JOIN np ON np.b = dp.bucket
             |ORDER BY bucket""".stripMargin)),

    // Medoid canonicalization of the q37 near-dup clusters — the
    // SemDeDup-style "pick the representative by CONTENT, not by id"
    // step: within each cluster, the survivor is the member sharing the
    // most distinct shingles with the rest of its cluster (affinity =
    // Σ_b |A∩B| over co-members — exact integer, no rational Jaccard
    // sums), ties to doc_id ASC via the explicit two-step argmax. The
    // id-minimum canonical (q37's cluster_id) is arbitrary under
    // re-ingestion; the medoid is stable under id relabeling. Scale
    // shape: the affinity self-join is keyed (cluster_id, shingle) —
    // work is Σ per-key co-occurrence², the same exposure the LSH
    // bucket join already accepts, bounded because LSH clusters are
    // small (and capped upstream); never corpus².
    QuerySpec("q264_cluster_medoid",
      (s, d) => {
        val docs = t(s, d, "documents")
        val pairs = graft.operators.Dedup.pooledLshPairs(docs,
          "doc_id", "text", numBands = NumBands, minJaccard = 0.1, k = 3,
          rowsPerBand = RowsPerBand)
        val clu = graft.operators.Dedup.pooledDupClusters(pairs)
        val mem = clu.groupBy(col("cluster_id"))
          .agg(count(lit(1)).as("n_members"))
          .filter(col("n_members") >= 2)
        // the POOLED distinct-shingle sets (round 16, verdict item 5):
        // lshPairs above already built and pooled exactly this frame —
        // re-shingling the corpus here paid the registry's single most
        // expensive row twice. Restrict to cluster members BY ID-JOIN
        // BEFORE the explode (the q263 component-frame recipe): only
        // clustered docs fan out to (cluster, shingle) rows. hset is
        // per-doc DISTINCT by construction, so no post-explode distinct.
        val msh = graft.operators.Dedup
          .pooledShingleSets(docs, "doc_id", "text", 3)
          .join(clu, "doc_id").join(mem, "cluster_id")
          .select(col("cluster_id"), col("doc_id"),
            explode(col("hset")).as("h60"))
        val aff = msh.as("a").join(msh.as("b"),
            col("a.cluster_id") === col("b.cluster_id") &&
              col("a.h60") === col("b.h60") &&
              col("a.doc_id") =!= col("b.doc_id"))
          .groupBy(col("a.cluster_id").as("cluster_id"),
            col("a.doc_id").as("doc_id"))
          .agg(count(lit(1)).as("affinity"))
        val affall = clu.join(mem, "cluster_id")
          .join(aff, Seq("cluster_id", "doc_id"), "left")
          .select(col("cluster_id"), col("n_members"), col("doc_id"),
            coalesce(col("affinity"), lit(0L)).as("affinity"))
        val mx = affall.groupBy(col("cluster_id"))
          .agg(max(col("affinity")).as("ma"))
        affall.join(mx, "cluster_id")
          .filter(col("affinity") === col("ma"))
          .groupBy(col("cluster_id"), col("n_members"), col("ma"))
          .agg(min(col("doc_id")).as("medoid"))
          .select(col("cluster_id"), col("n_members"), col("medoid"),
            col("ma").as("affinity"))
          .orderBy("cluster_id")
      },
      Some(clustersCte + """
        |, mem AS (
        |  SELECT cluster_id, count(*) AS n_members
        |  FROM clu GROUP BY 1 HAVING count(*) >= 2
        |), msh AS (
        |  SELECT clu.cluster_id, sh.doc_id, h60
        |  FROM sh JOIN clu USING (doc_id) JOIN mem USING (cluster_id)
        |), aff AS (
        |  SELECT a.cluster_id, a.doc_id, count(*) AS affinity
        |  FROM msh a JOIN msh b
        |    ON a.cluster_id = b.cluster_id AND a.h60 = b.h60
        |      AND a.doc_id <> b.doc_id
        |  GROUP BY 1, 2
        |), affall AS (
        |  SELECT clu.cluster_id, n_members, clu.doc_id,
        |    COALESCE(affinity, 0) AS affinity
        |  FROM clu JOIN mem USING (cluster_id)
        |  LEFT JOIN aff ON aff.cluster_id = clu.cluster_id
        |    AND aff.doc_id = clu.doc_id
        |), mx AS (
        |  SELECT cluster_id, max(affinity) AS ma FROM affall GROUP BY 1
        |)
        |SELECT affall.cluster_id AS cluster_id, n_members,
        |  CAST(min(doc_id) AS BIGINT) AS medoid,
        |  CAST(ma AS BIGINT) AS affinity
        |FROM affall JOIN mx ON affall.cluster_id = mx.cluster_id
        |  AND affall.affinity = mx.ma
        |GROUP BY affall.cluster_id, n_members, ma
        |ORDER BY affall.cluster_id""".stripMargin))
  )

  /** One served dup-graph artifact per corpus dir per run for q203 —
    * the q177 pattern (a FramePool directory: build+save once, serve
    * many). */
  private def servedDupGraphDir(s: org.apache.spark.sql.SparkSession,
                                d: String): String =
    graft.operators.FramePool.dir(("dup_graph", d)) { dir =>
      graft.operators.DupGraph.save(
        graft.operators.DupGraph.build(t(s, d, "documents"), "doc_id",
          "text", numBands = NumBands, minJaccard = 0.1, k = 3,
          rowsPerBand = RowsPerBand), dir.toString)
    }.toString
}
