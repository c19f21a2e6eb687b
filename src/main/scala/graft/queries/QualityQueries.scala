package graft.queries

import org.apache.spark.sql.functions._

import graft.operators.Quality
import Q._

/** Corpus-quality surface: Gopher-style repetition signals, PII
  * scrubbing, and deterministic stratified sampling — the quality-filter
  * stages of a training-data pipeline, each oracle-checked.
  */
object QualityQueries {

  /** Shared DuckDB CTE chain for the refinery's query-expressible
    * stages (q243's oracle, reused by q280): token gate → exact dedup
    * → benchmark decontamination → containment drop, ending in `cur`
    * (the post-containment survivor frame). `lead` is "WITH " at a
    * statement head or ", " to append to an existing WITH list. */
  private def refineryCurCtes(lead: String): String =
    s"${lead}gated AS (\n" +
      """  SELECT doc_id, text, source FROM documents
        |  WHERE doc_id % 10 <> 0
        |    AND len(string_split(text, ' ')) BETWEEN 10 AND 1000
        |), keep AS (
        |  SELECT min(doc_id) AS doc_id FROM (
        |    SELECT doc_id, md5(trim(regexp_replace(regexp_replace(lower(text),
        |      '[^a-z0-9 ]+', ' ', 'g'), ' +', ' ', 'g'))) AS nk
        |    FROM gated) GROUP BY nk
        |), dd AS (SELECT g.* FROM gated g JOIN keep USING (doc_id)),
        |sh8 AS (
        |  SELECT doc_id, ('0x' || substr(md5(""".stripMargin +
      (0 until 8).map(j => s"s[i+$j]").mkString(" || ' ' || ") +
      s"""), 1, 15))::BIGINT AS h
        |  FROM (SELECT doc_id, s, unnest(range(1, len(s) - 6)) AS i
        |        FROM (SELECT doc_id, string_split(text, ' ') AS s FROM documents)
        |        WHERE len(s) >= 8)
        |), bm AS (SELECT DISTINCT h FROM sh8 WHERE doc_id % 10 = 0),
        |cont AS (
        |  SELECT DISTINCT sh8.doc_id FROM sh8 JOIN bm USING (h)
        |  JOIN dd ON dd.doc_id = sh8.doc_id
        |), cl AS (
        |  SELECT dd.* FROM dd LEFT JOIN cont ON cont.doc_id = dd.doc_id
        |  WHERE cont.doc_id IS NULL
        |), sh3 AS (
        |  SELECT DISTINCT doc_id,
        |    ('0x' || substr(md5(s[i] || ' ' || s[i+1] || ' ' || s[i+2]),1,15))::BIGINT AS h60
        |  FROM (SELECT doc_id, s, unnest(range(1, len(s)-1)) AS i
        |        FROM (SELECT doc_id, string_split(text, ' ') AS s FROM cl))
        |), szs AS (SELECT doc_id, count(*) AS n FROM sh3 GROUP BY doc_id),
        |pc AS (SELECT h60 FROM sh3 GROUP BY h60
        |       HAVING count(*) <= ${graft.operators.Dedup.DefaultMaxBucketSize}),
        |cp AS (SELECT sh3.doc_id, sh3.h60 FROM sh3 JOIN pc USING (h60)),
        |pr AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
        |  FROM cp a JOIN cp b ON a.h60 = b.h60 AND a.doc_id <> b.doc_id
        |  GROUP BY 1, 2
        |), dropped AS (
        |  SELECT DISTINCT a_id AS doc_id
        |  FROM pr JOIN szs sa ON sa.doc_id = a_id
        |  JOIN szs sb ON sb.doc_id = b_id
        |  WHERE CAST(inter AS DOUBLE) / CAST(sa.n AS DOUBLE) >= 0.8
        |    AND (sa.n < sb.n OR (sa.n = sb.n AND a_id > b_id))
        |), cur AS (
        |  SELECT cl.* FROM cl LEFT JOIN dropped ON dropped.doc_id = cl.doc_id
        |  WHERE dropped.doc_id IS NULL
        |)""".stripMargin

  /** PII injection: the fixture text is clean, so both engines append the
    * same synthetic PII to a deterministic subset of docs before
    * scrubbing — the scrub itself is then a real-work parity check. */
  private def injectPii(textCol: org.apache.spark.sql.Column,
                        idCol: org.apache.spark.sql.Column) = {
    val m = pmod(idCol, lit(7))
    when(m === 0, concat(textCol, lit(" contact user"), idCol.cast("string"),
      lit("@example.com now")))
      .when(m === 1, concat(textCol, lit(" visit http://site"), idCol.cast("string"),
        lit(".example.org/page today")))
      .when(m === 2, concat(textCol, lit(" call 555-"),
        lpad(pmod(idCol, lit(10000)).cast("string"), 4, "0")))
      .otherwise(textCol)
  }

  private val injectPiiSql =
    """CASE doc_id % 7
      |    WHEN 0 THEN text || ' contact user' || doc_id || '@example.com now'
      |    WHEN 1 THEN text || ' visit http://site' || doc_id || '.example.org/page today'
      |    WHEN 2 THEN text || ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
      |    ELSE text END""".stripMargin

  val specs: Seq[QuerySpec] = Seq(

    // Gopher-style repetition signals + the quality flag. The bigram
    // top-count is explode → two partial-aggregated shuffles keyed by
    // doc_id (never a per-row interpreted sort); the other signals are
    // single-pass codegen arithmetic.
    QuerySpec("q68_gopher_quality",
      (s, d) => Quality.gopherSignals(t(s, d, "documents"), "doc_id", "text")
        .select(col("doc_id"), col("n_tokens"),
          round(col("dup_token_frac"), 6).as("dup_frac6"),
          round(col("top_bigram_frac"), 6).as("bigram_frac6"),
          round(col("mean_token_len"), 6).as("mean_len6"),
          col("flagged"))
        .orderBy("doc_id"),
      Some("""WITH toks AS (
             |  SELECT doc_id, text, string_split(text, ' ') AS s FROM documents
             |), base AS (
             |  SELECT doc_id, len(s) AS n_tokens, len(list_distinct(s)) AS n_distinct,
             |    len(text) - (len(s) - 1) AS sum_len
             |  FROM toks
             |), bg AS (
             |  SELECT doc_id, s[i] || ' ' || s[i+1] AS bigram
             |  FROM (SELECT doc_id, s, unnest(range(1, len(s))) AS i
             |        FROM toks WHERE len(s) >= 2)
             |), bgc AS (
             |  SELECT doc_id, bigram, count(*) AS c FROM bg GROUP BY doc_id, bigram
             |), bga AS (
             |  SELECT doc_id, max(c) AS top_cnt, sum(c) AS n_bigrams FROM bgc GROUP BY doc_id
             |), sig AS (
             |  SELECT b.doc_id, CAST(b.n_tokens AS BIGINT) AS n_tokens,
             |    1.0 - CAST(b.n_distinct AS DOUBLE) / b.n_tokens AS dup_token_frac,
             |    COALESCE(CAST(a.top_cnt AS DOUBLE) / a.n_bigrams, 0.0) AS top_bigram_frac,
             |    CAST(b.sum_len AS DOUBLE) / b.n_tokens AS mean_token_len
             |  FROM base b LEFT JOIN bga a ON a.doc_id = b.doc_id
             |)
             |SELECT doc_id, n_tokens,
             |  round(dup_token_frac, 6) AS dup_frac6,
             |  round(top_bigram_frac, 6) AS bigram_frac6,
             |  round(mean_token_len, 6) AS mean_len6,
             |  (dup_token_frac > 0.6 OR top_bigram_frac > 0.18
             |    OR mean_token_len < 3.0 OR mean_token_len > 10.0) AS flagged
             |FROM sig ORDER BY doc_id""".stripMargin)),

    // PII scrub over deterministically-injected emails/URLs/phones:
    // per-category redaction counts + md5 of the scrubbed text (the
    // strictest possible equality on the rewrite itself).
    QuerySpec("q69_pii_scrub",
      (s, d) => {
        val aug = t(s, d, "documents")
          .select(col("doc_id"), injectPii(col("text"), col("doc_id")).as("text"))
        Quality.piiScrub(aug, "text")
          .select(col("doc_id"),
            col("n_email").cast("long").as("n_email"),
            col("n_url").cast("long").as("n_url"),
            col("n_phone").cast("long").as("n_phone"),
            md5(col("scrubbed")).as("scrub_md5"))
          .orderBy("doc_id")
      },
      Some(s"""WITH aug AS (
              |  SELECT doc_id,
              |    $injectPiiSql AS text
              |  FROM documents
              |), scrub AS (
              |  SELECT doc_id, text,
              |    regexp_replace(text, '${Quality.EmailPattern}', '<EMAIL>', 'g') AS t1
              |  FROM aug
              |), scrub2 AS (
              |  SELECT doc_id, text, t1,
              |    regexp_replace(t1, '${Quality.UrlPattern}', '<URL>', 'g') AS t2
              |  FROM scrub
              |)
              |SELECT doc_id,
              |  CAST(len(regexp_extract_all(text, '${Quality.EmailPattern}')) AS BIGINT) AS n_email,
              |  CAST(len(regexp_extract_all(t1, '${Quality.UrlPattern}')) AS BIGINT) AS n_url,
              |  CAST(len(regexp_extract_all(t2, '${Quality.PhonePattern}')) AS BIGINT) AS n_phone,
              |  md5(regexp_replace(t2, '${Quality.PhonePattern}', '<PHONE>', 'g')) AS scrub_md5
              |FROM scrub2 ORDER BY doc_id""".stripMargin)),

    // Fixed-size token chunking with overlap (64-token chunks, 16-token
    // overlap): the context-window splitting step. Pure per-row HOF
    // slicing — no shuffle; chunk text pinned by md5.
    QuerySpec("q76_chunk_split",
      (s, d) => Quality.chunkTokens(t(s, d, "documents"), "doc_id", "text",
        chunkSize = 64, overlap = 16)
        .select(col("doc_id"), col("chunk_id"), col("chunk_tokens"),
          md5(col("chunk_text")).as("chunk_md5"))
        .orderBy("doc_id", "chunk_id"),
      Some("""WITH toks AS (
             |  SELECT doc_id, string_split(text, ' ') AS s FROM documents
             |), c AS (
             |  SELECT doc_id, i AS chunk_id, s[(i*48+1):(i*48+64)] AS chunk
             |  FROM (SELECT doc_id, s,
             |          unnest(range(CASE WHEN len(s) <= 64 THEN 1
             |                            ELSE 2 + (len(s) - 65) // 48 END)) AS i
             |        FROM toks)
             |)
             |SELECT doc_id, chunk_id, CAST(len(chunk) AS BIGINT) AS chunk_tokens,
             |  md5(array_to_string(chunk, ' ')) AS chunk_md5
             |FROM c ORDER BY doc_id, chunk_id""".stripMargin)),

    // Contiguous sequence packing into 512-token training bins: one
    // window cumsum in doc_id order (the explicit form of concat-then-
    // split packing), then per-bin occupancy.
    QuerySpec("q77_pack_bins",
      (s, d) => Quality.packContiguous(t(s, d, "documents"), "doc_id", "text",
        budget = 512)
        .groupBy(col("bin_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("bin_tokens"))
        .orderBy("bin_id"),
      Some("""WITH t AS (
             |  SELECT doc_id,
             |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
             |  FROM documents
             |), c AS (
             |  SELECT doc_id, n_tokens,
             |    CAST((sum(n_tokens) OVER (ORDER BY doc_id
             |            ROWS UNBOUNDED PRECEDING) - n_tokens) // 512 AS BIGINT) AS bin_id
             |  FROM t
             |)
             |SELECT bin_id, count(*) AS n_docs,
             |  CAST(sum(n_tokens) AS BIGINT) AS bin_tokens
             |FROM c GROUP BY bin_id ORDER BY bin_id""".stripMargin)),

    // Deterministic 90/5/5 train/val/test split: md5-gated, so the
    // assignment is stable across engines, partitionings, and reruns —
    // the property that makes a split auditable.
    QuerySpec("q78_train_split",
      (s, d) => Quality.hashSplit(t(s, d, "documents"), "doc_id")
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n"),
          min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
        .orderBy("split"),
      Some("""WITH h AS (
             |  SELECT doc_id,
             |    ('0x' || substr(md5('split|' || doc_id), 1, 15))::BIGINT % 100 AS hv
             |  FROM documents
             |)
             |SELECT CASE WHEN hv < 90 THEN 'train'
             |            WHEN hv < 95 THEN 'val' ELSE 'test' END AS split,
             |  count(*) AS n, min(doc_id) AS min_id, max(doc_id) AS max_id
             |FROM h GROUP BY 1 ORDER BY split""".stripMargin)),

    // Benchmark decontamination: training docs sharing any word-8-gram
    // with the benchmark subset (doc_id % 10 = 0). Both sides reduce to
    // 60-bit shingle hashes; overlap = equi-join ON THE HASH (shuffle by
    // hash, never doc×doc).
    QuerySpec("q79_decontaminate",
      (s, d) => {
        val docs = t(s, d, "documents")
        val bench = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
        val train = docs.filter(pmod(col("doc_id"), lit(10)) =!= 0)
        Quality.contaminatedDocs(train, bench, "doc_id", "text", k = 8)
          .orderBy("doc_id")
      },
      Some("WITH sh AS (\n" +
        "  SELECT doc_id, ('0x' || substr(md5(" +
        (0 until 8).map(j => s"s[i+$j]").mkString(" || ' ' || ") +
        """), 1, 15))::BIGINT AS h
          |  FROM (SELECT doc_id, s, unnest(range(1, len(s) - 6)) AS i
          |        FROM (SELECT doc_id, string_split(text, ' ') AS s FROM documents)
          |        WHERE len(s) >= 8)
          |), tr AS (SELECT DISTINCT doc_id, h FROM sh WHERE doc_id % 10 <> 0),
          |bm AS (SELECT DISTINCT h FROM sh WHERE doc_id % 10 = 0)
          |SELECT tr.doc_id, count(DISTINCT tr.h) AS n_shared_ngrams
          |FROM tr JOIN bm USING (h)
          |GROUP BY tr.doc_id ORDER BY doc_id""".stripMargin)),

    // Decontamination at the 100 TB shape: identical semantics to q79 but
    // the training side is prefiltered through a broadcast Bloom filter of
    // the benchmark hashes before the confirming equi-join — only true
    // overlaps (+ ~1% fpp) of the training token stream ever shuffle. The
    // oracle is the EXACT join: the Bloom stage must not change the answer.
    QuerySpec("q92_bloom_decontam",
      (s, d) => {
        val docs = t(s, d, "documents")
        val bench = docs.filter(pmod(col("doc_id"), lit(7)) === 0)
        val train = docs.filter(pmod(col("doc_id"), lit(7)) =!= 0)
        Quality.bloomContaminatedDocs(train, bench, "doc_id", "text", k = 6)
          .orderBy("doc_id")
      },
      Some("WITH sh AS (\n" +
        "  SELECT doc_id, ('0x' || substr(md5(" +
        (0 until 6).map(j => s"s[i+$j]").mkString(" || ' ' || ") +
        """), 1, 15))::BIGINT AS h
          |  FROM (SELECT doc_id, s, unnest(range(1, len(s) - 4)) AS i
          |        FROM (SELECT doc_id, string_split(text, ' ') AS s FROM documents)
          |        WHERE len(s) >= 6)
          |), tr AS (SELECT DISTINCT doc_id, h FROM sh WHERE doc_id % 7 <> 0),
          |bm AS (SELECT DISTINCT h FROM sh WHERE doc_id % 7 = 0)
          |SELECT tr.doc_id, count(DISTINCT tr.h) AS n_shared_ngrams
          |FROM tr JOIN bm USING (h)
          |GROUP BY tr.doc_id ORDER BY doc_id""".stripMargin)),

    // The full cleaning pipeline in ONE query — token gate → normalized
    // dedup (keep-min) → benchmark decontamination — then corpus stats per
    // source. Exists to prove the stages COMPOSE (each is oracle-checked
    // alone: q66, q79); the oracle chains the same stages as CTEs.
    QuerySpec("q96_corpus_clean",
      (s, d) => {
        val docs = t(s, d, "documents")
        val bench = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
        val train = docs.filter(pmod(col("doc_id"), lit(10)) =!= 0)
        graft.operators.CorpusClean.clean(train, bench, "doc_id", "text")
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(size(split(col("text"), " ")).cast("long")).as("total_tokens"))
          .orderBy("source")
      },
      Some("WITH gated AS (\n" +
        """  SELECT doc_id, text, source FROM documents
          |  WHERE doc_id % 10 <> 0
          |    AND len(string_split(text, ' ')) BETWEEN 10 AND 1000
          |), keep AS (
          |  SELECT min(doc_id) AS doc_id FROM (
          |    SELECT doc_id, md5(trim(regexp_replace(regexp_replace(lower(text),
          |      '[^a-z0-9 ]+', ' ', 'g'), ' +', ' ', 'g'))) AS nk
          |    FROM gated) GROUP BY nk
          |), dd AS (SELECT g.* FROM gated g JOIN keep USING (doc_id)),
          |sh AS (
          |  SELECT doc_id, ('0x' || substr(md5(""".stripMargin +
        (0 until 8).map(j => s"s[i+$j]").mkString(" || ' ' || ") +
        """), 1, 15))::BIGINT AS h
          |  FROM (SELECT doc_id, s, unnest(range(1, len(s) - 6)) AS i
          |        FROM (SELECT doc_id, string_split(text, ' ') AS s FROM documents)
          |        WHERE len(s) >= 8)
          |), bm AS (SELECT DISTINCT h FROM sh WHERE doc_id % 10 = 0),
          |cont AS (
          |  SELECT DISTINCT sh.doc_id FROM sh JOIN bm USING (h)
          |  JOIN dd ON dd.doc_id = sh.doc_id
          |), fin AS (
          |  SELECT dd.* FROM dd LEFT JOIN cont ON cont.doc_id = dd.doc_id
          |  WHERE cont.doc_id IS NULL
          |)
          |SELECT source, count(*) AS n_docs,
          |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
          |FROM fin GROUP BY source ORDER BY source""".stripMargin)),

    // Intra-document sentence dedup: repeated-boilerplate removal inside
    // each doc, first occurrence kept, original order reassembled. The
    // cleaned text is md5'd in the output (scalar hashing discipline);
    // the oracle rebuilds with an ORDER BY-qualified string_agg.
    QuerySpec("q105_intradoc_dedup",
      (s, d) => Quality.dedupSentences(
        t(s, d, "documents"), "doc_id", "text")
        .select(col("doc_id"), col("n_sentences"), col("n_unique"),
          md5(col("cleaned")).as("cleaned_md5"))
        .orderBy("doc_id"),
      Some("""WITH sent AS (
             |  SELECT doc_id, i AS pos, s[i] AS snt
             |  FROM (SELECT doc_id, string_split(text, '. ') AS s FROM documents),
             |       unnest(range(1, len(s) + 1)) AS t(i)
             |), f AS (
             |  SELECT doc_id, snt, min(pos) AS pos FROM sent GROUP BY doc_id, snt
             |), r AS (
             |  SELECT doc_id, count(*) AS n_unique,
             |    md5(string_agg(snt, '. ' ORDER BY pos)) AS cleaned_md5
             |  FROM f GROUP BY doc_id
             |)
             |SELECT d.doc_id, CAST(len(string_split(d.text, '. ')) AS BIGINT)
             |    AS n_sentences,
             |  r.n_unique, r.cleaned_md5
             |FROM documents d JOIN r ON r.doc_id = d.doc_id
             |ORDER BY d.doc_id""".stripMargin)),

    // CROSS-document line dedup (C4-style): every repeated sentence is
    // kept only at its globally first (doc, pos) occurrence and each doc
    // is rebuilt from survivors — corpus-recurring boilerplate appears
    // once in the training set. One shuffle keyed by line, min-keeper
    // map-side combined; oracle pins the keeper with a per-line window.
    QuerySpec("q146_line_dedup_global",
      (s, d) => graft.operators.Quality.dedupLinesGlobal(
        t(s, d, "documents"), "doc_id", "text")
        .select(col("doc_id"), col("n_lines"), col("n_kept"),
          md5(col("cleaned")).as("cleaned_md5"))
        .orderBy("doc_id"),
      Some("""WITH sent AS (
             |  SELECT doc_id, i AS pos, s[i] AS snt
             |  FROM (SELECT doc_id, string_split(text, '. ') AS s FROM documents),
             |       unnest(range(1, len(s) + 1)) AS t(i)
             |), k AS (
             |  SELECT doc_id, pos, snt,
             |    row_number() OVER (PARTITION BY snt ORDER BY doc_id, pos) AS rn
             |  FROM sent
             |), reb AS (
             |  SELECT doc_id, count(*) AS n_kept,
             |    md5(string_agg(snt, '. ' ORDER BY pos)) AS cleaned_md5
             |  FROM k WHERE rn = 1 GROUP BY doc_id
             |), cnt AS (
             |  SELECT doc_id, count(*) AS n_lines FROM sent GROUP BY doc_id
             |)
             |SELECT d.doc_id, COALESCE(cnt.n_lines, 0) AS n_lines,
             |  COALESCE(reb.n_kept, 0) AS n_kept,
             |  COALESCE(reb.cleaned_md5, md5('')) AS cleaned_md5
             |FROM documents d LEFT JOIN cnt USING (doc_id)
             |LEFT JOIN reb USING (doc_id)
             |ORDER BY d.doc_id""".stripMargin)),

    // The C4-style pipeline END TO END: cross-document line dedup (q146)
    // rebuilds every doc from its globally-first lines, and the rebuilt
    // corpus flows through the full cleaning pass (token gate →
    // normalized keep-min dedup → benchmark decontamination, q96's
    // stages) to per-source corpus stats. Exists to prove the NEW stage
    // composes: every constituent is oracle-checked alone (q146, q66,
    // q79, q96); the oracle chains the identical CTEs over the rebuilt
    // text.
    QuerySpec("q148_c4_pipeline",
      (s, d) => {
        val docs = t(s, d, "documents")
        val rebuilt = graft.operators.Quality
          .dedupLinesGlobal(docs, "doc_id", "text")
          .filter(col("n_kept") > 0)
          .select(col("doc_id"), col("cleaned").as("text"))
          .join(docs.select(col("doc_id"), col("source")), "doc_id")
        val bench = rebuilt.filter(pmod(col("doc_id"), lit(10)) === 0)
        val train = rebuilt.filter(pmod(col("doc_id"), lit(10)) =!= 0)
        graft.operators.CorpusClean.clean(train, bench, "doc_id", "text")
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(size(split(col("text"), " ")).cast("long")).as("total_tokens"))
          .orderBy("source")
      },
      Some("WITH sent AS (\n" +
        """  SELECT doc_id, i AS pos, s[i] AS snt
          |  FROM (SELECT doc_id, string_split(text, '. ') AS s FROM documents),
          |       unnest(range(1, len(s) + 1)) AS t(i)
          |), kk AS (
          |  SELECT doc_id, pos, snt,
          |    row_number() OVER (PARTITION BY snt ORDER BY doc_id, pos) AS rn
          |  FROM sent
          |), reb AS (
          |  SELECT doc_id, string_agg(snt, '. ' ORDER BY pos) AS text
          |  FROM kk WHERE rn = 1 GROUP BY doc_id
          |), cd AS (
          |  SELECT d.doc_id, reb.text, d.source
          |  FROM documents d JOIN reb USING (doc_id)
          |), gated AS (
          |  SELECT doc_id, text, source FROM cd
          |  WHERE doc_id % 10 <> 0
          |    AND len(string_split(text, ' ')) BETWEEN 10 AND 1000
          |), keep AS (
          |  SELECT min(doc_id) AS doc_id FROM (
          |    SELECT doc_id, md5(trim(regexp_replace(regexp_replace(lower(text),
          |      '[^a-z0-9 ]+', ' ', 'g'), ' +', ' ', 'g'))) AS nk
          |    FROM gated) GROUP BY nk
          |), dd AS (SELECT g.* FROM gated g JOIN keep USING (doc_id)),
          |sh AS (
          |  SELECT doc_id, ('0x' || substr(md5(""".stripMargin +
        (0 until 8).map(j => s"s[i+$j]").mkString(" || ' ' || ") +
        """), 1, 15))::BIGINT AS h
          |  FROM (SELECT doc_id, s, unnest(range(1, len(s) - 6)) AS i
          |        FROM (SELECT doc_id, string_split(text, ' ') AS s FROM cd)
          |        WHERE len(s) >= 8)
          |), bm AS (SELECT DISTINCT h FROM sh WHERE doc_id % 10 = 0),
          |cont AS (
          |  SELECT DISTINCT sh.doc_id FROM sh JOIN bm USING (h)
          |  JOIN dd ON dd.doc_id = sh.doc_id
          |), fin AS (
          |  SELECT dd.* FROM dd LEFT JOIN cont ON cont.doc_id = dd.doc_id
          |  WHERE cont.doc_id IS NULL
          |)
          |SELECT source, count(*) AS n_docs,
          |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
          |FROM fin GROUP BY source ORDER BY source""".stripMargin)),

    // Deterministic training shuffle: reproducible pseudo-random
    // permutation into 8 shards + stable in-shard position — the layout a
    // training data loader reads. Hash-keyed, so the identical layout
    // falls out of any engine/partitioning (the oracle proves it).
    QuerySpec("q104_training_shuffle",
      (s, d) => Quality.trainingShuffle(
        t(s, d, "documents"), "doc_id", nShards = 8)
        .orderBy("shard", "pos"),
      Some("""SELECT doc_id, k % 8 AS shard,
             |  CAST(row_number() OVER (PARTITION BY k % 8 ORDER BY k, doc_id)
             |    AS BIGINT) AS pos
             |FROM (SELECT doc_id,
             |        ('0x' || substr(md5('shuf|' || doc_id), 1, 15))::BIGINT AS k
             |      FROM documents)
             |ORDER BY shard, pos""".stripMargin)),

    // Deterministic stratified sampling: per-language keep rates gated on
    // a content hash — reproducible on any partitioning/engine, unlike
    // seeded RNG sampling (q06's count contract is the closest RNG gets).
    QuerySpec("q70_stratified_sample",
      (s, d) => Quality.stratifiedHashSample(
        t(s, d, "documents"), "doc_id", "lang",
        rates = Seq("en" -> 10, "de" -> 25, "es" -> 50), defaultRate = 75)
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id, lang FROM documents
             |WHERE ('0x' || substr(md5('strat|' || doc_id), 1, 15))::BIGINT % 100 <
             |  CASE lang WHEN 'en' THEN 10 WHEN 'de' THEN 25 WHEN 'es' THEN 50
             |       ELSE 75 END
             |ORDER BY doc_id""".stripMargin)),

    // Per-source winsorized quality normalization: clamp each document's
    // raw quality score to its SOURCE's [p10, p90] order statistics and
    // min-max rescale — the per-source calibration step before any global
    // quality threshold (a web crawl and a books corpus score on
    // different scales; thresholding uncalibrated mixes whole sources
    // away). Bounds are EXACT integer-rank order statistics from the
    // distributed grouped rank selection (Percentiles.groupedAtRanks —
    // range-partitioned, a big source never pins one reducer, and integer
    // ranks sidestep any interpolation-formula coupling with the oracle);
    // the tiny per-source bounds frame broadcasts back onto the corpus
    // for a codegen'd clamp.
    QuerySpec("q153_winsorize_quality",
      (s, d) => {
        val docs = t(s, d, "documents")
          .select(col("doc_id"), col("source"),
            col("n_chars").cast("double").as("score"))
        val at = graft.operators.Percentiles.groupedAtRanks(
          docs, "source", "score",
          n => array(graft.operators.Percentiles.floorPctRank(n, 10),
            graft.operators.Percentiles.floorPctRank(n, 90)))
        val bounds = at.groupBy(col("source")).agg(
          min(col("value")).as("p10"), max(col("value")).as("p90"))
        docs.join(broadcast(bounds), "source")
          .select(col("doc_id"), col("source"), col("score"),
            col("p10"), col("p90"),
            least(greatest(col("score"), col("p10")), col("p90"))
              .as("winsorized"),
            when(col("p90") > col("p10"),
              (least(greatest(col("score"), col("p10")), col("p90")) - col("p10"))
                / (col("p90") - col("p10")))
              .otherwise(lit(0.5)).as("scaled"))
          .orderBy("doc_id")
      },
      Some("""WITH sc AS (
             |  SELECT doc_id, source, CAST(n_chars AS DOUBLE) AS score
             |  FROM documents
             |), r AS (
             |  SELECT source, score,
             |    row_number() OVER (PARTITION BY source ORDER BY score) AS rn,
             |    count(*) OVER (PARTITION BY source) AS n
             |  FROM sc
             |), b AS (
             |  SELECT source,
             |    min(CASE WHEN rn = (n-1)*10//100 + 1 THEN score END) AS p10,
             |    max(CASE WHEN rn = (n-1)*90//100 + 1 THEN score END) AS p90
             |  FROM r GROUP BY source)
             |SELECT doc_id, sc.source, score, p10, p90,
             |  least(greatest(score, p10), p90) AS winsorized,
             |  CASE WHEN p90 > p10 THEN
             |    (least(greatest(score, p10), p90) - p10) / (p90 - p10)
             |  ELSE 0.5 END AS scaled
             |FROM sc JOIN b USING (source) ORDER BY doc_id""".stripMargin)),

    // Per-source duplication report — the dataset-card metric "how much
    // of this source is copies": for each source, its doc count, the
    // number of its docs whose exact content occurs >1× corpus-wide
    // (either side of the copy counts), and the fraction. Group key is
    // md5(text) — fixed-width shuffle key, the q30 discipline — with the
    // multiplicity frame rejoined on the same key.
    QuerySpec("q165_source_dup_report",
      (s, d) => {
        val keyed = t(s, d, "documents")
          .select(col("source"), md5(col("text")).as("k"))
        val m = keyed.groupBy("k").agg(count(lit(1)).as("m"))
        keyed.join(m, "k").groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("m") > 1, lit(1L)).otherwise(lit(0L))).as("n_dup"))
          .select(col("source"), col("n_docs"), col("n_dup"),
            (col("n_dup").cast("double") / col("n_docs").cast("double"))
              .as("dup_frac"))
          .orderBy("source")
      },
      Some("""WITH keyed AS (
             |  SELECT source, md5(text) AS k FROM documents
             |), m AS (
             |  SELECT k, count(*) AS m FROM keyed GROUP BY k
             |)
             |SELECT source, count(*) AS n_docs,
             |  CAST(sum(CASE WHEN m > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
             |  CAST(sum(CASE WHEN m > 1 THEN 1 ELSE 0 END) AS DOUBLE)
             |    / CAST(count(*) AS DOUBLE) AS dup_frac
             |FROM keyed JOIN m USING (k)
             |GROUP BY source ORDER BY source""".stripMargin)),

    // The per-source DATASET CARD — one row per source with the numbers a
    // curation review reads first: volume (docs, tokens, mean length),
    // exact-copy duplication (q165's metric), and span novelty vs every
    // other source (q162's metric). Pure composition of already-gated
    // pieces joined on the source key; exact integer sums, one IEEE
    // division per reported ratio. Novelty left-joins (a source with no
    // 8-token doc has no span set) — null then, in both engines.
    QuerySpec("q167_dataset_card",
      (s, d) => graft.operators.CorpusStats.datasetCard(
        t(s, d, "documents"), "source", "text", k = 8)
        .orderBy("source"),
      Some("""WITH keyed AS (
             |  SELECT source, md5(text) AS k,
             |    CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok
             |  FROM documents
             |), m AS (
             |  SELECT k, count(*) AS m FROM keyed GROUP BY k
             |), core AS (
             |  SELECT source, count(*) AS n_docs,
             |    CAST(sum(CASE WHEN m > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
             |    CAST(sum(ntok) AS BIGINT) AS n_tokens
             |  FROM keyed JOIN m USING (k) GROUP BY source
             |), sp0 AS (
             |  SELECT source,
             |    unnest([('0x' || substr(md5(array_to_string(t[i:i+7],' ')),1,15))::BIGINT
             |            FOR i IN range(1, len(t)-6)]) AS fp
             |  FROM (SELECT source, string_split(text,' ') AS t FROM documents)
             |  WHERE len(t) >= 8
             |), sp AS (
             |  SELECT DISTINCT source, fp FROM sp0
             |), ns AS (
             |  SELECT fp, count(*) AS ns FROM sp GROUP BY fp
             |), nov AS (
             |  SELECT source,
             |    CAST(sum(CASE WHEN ns = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             |      / CAST(count(*) AS DOUBLE) AS novelty
             |  FROM sp JOIN ns USING (fp) GROUP BY source
             |)
             |SELECT c.source, n_docs, n_dup,
             |  CAST(n_dup AS DOUBLE) / CAST(n_docs AS DOUBLE) AS dup_frac,
             |  n_tokens,
             |  CAST(n_tokens AS DOUBLE) / CAST(n_docs AS DOUBLE) AS mean_tokens,
             |  novelty
             |FROM core c LEFT JOIN nov USING (source)
             |ORDER BY source""".stripMargin)),

    // Leave-one-source-out influence: how much each source moves the
    // corpus mean document length — the jackknife form of "is this source
    // dragging our length distribution", computed from per-source integer
    // sums (one vocabulary-sized aggregate) and the broadcast totals; each
    // reported mean is ONE exact-integer division, the influence is one
    // subtraction of two such doubles (deterministic in any engine).
    QuerySpec("q174_source_influence",
      (s, d) => {
        val per = t(s, d, "documents")
          .select(col("source"),
            size(split(col("text"), " ")).cast("long").as("ntok"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"), sum("ntok").as("s_tok"))
        val tot = per.agg(sum("n_docs").as("nn"), sum("s_tok").as("tt"))
        per.crossJoin(broadcast(tot))
          .select(col("source"), col("n_docs"), col("s_tok"),
            (col("tt").cast("double") / col("nn").cast("double"))
              .as("full_mean"),
            // single-source corpus: leaving the only source out divides
            // 0/0 → guard to NULL (both engines) instead of NaN-poisoning
            when(col("nn") > col("n_docs"),
              (col("tt") - col("s_tok")).cast("double") /
                (col("nn") - col("n_docs")).cast("double")).as("loo_mean"))
          .withColumn("influence", col("full_mean") - col("loo_mean"))
          .orderBy("source")
      },
      Some("""WITH per AS (
             |  SELECT source, count(*) AS n_docs,
             |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS s_tok
             |  FROM documents GROUP BY source
             |), tot AS (
             |  SELECT CAST(sum(n_docs) AS BIGINT) AS nn,
             |    CAST(sum(s_tok) AS BIGINT) AS tt FROM per
             |)
             |SELECT source, n_docs, s_tok,
             |  CAST(tt AS DOUBLE) / CAST(nn AS DOUBLE) AS full_mean,
             |  CASE WHEN nn > n_docs THEN
             |    CAST(tt - s_tok AS DOUBLE) / CAST(nn - n_docs AS DOUBLE)
             |  END AS loo_mean,
             |  CAST(tt AS DOUBLE) / CAST(nn AS DOUBLE)
             |    - CASE WHEN nn > n_docs THEN
             |        CAST(tt - s_tok AS DOUBLE) / CAST(nn - n_docs AS DOUBLE)
             |      END AS influence
             |FROM per CROSS JOIN tot ORDER BY source""".stripMargin)),

    // Difficulty deciles: docs ranked corpus-wide by quality (distinct-
    // token richness, ties to id) on the DISTRIBUTED rank axis
    // (PrefixSum.rank — range partitions + broadcast offsets,
    // no global window), bucketed ⌊(rank−1)·10/N⌋, with per-decile stats.
    // The "bucket the corpus by difficulty" step of curriculum schedules
    // — pairs with q169's within-source ordering.
    QuerySpec("q176_difficulty_deciles",
      (s, d) => {
        val qv = t(s, d, "documents").select(col("doc_id"),
          size(array_distinct(split(col("text"), " "))).cast("long").as("q"),
          size(split(col("text"), " ")).cast("long").as("ntok"))
        val (ranked, n) = graft.operators.PrefixSum.rank(
          qv, Seq(col("q"), col("doc_id")), "rk")
        ranked
          .withColumn("decile", expr(s"((rk - 1) * 10) DIV $n"))
          .groupBy("decile")
          .agg(count(lit(1)).as("n_docs"), min("q").as("min_q"),
            max("q").as("max_q"), sum("ntok").as("s_tok"))
          .select(col("decile"), col("n_docs"), col("min_q"), col("max_q"),
            (col("s_tok").cast("double") / col("n_docs").cast("double"))
              .as("mean_ntok"))
          .orderBy("decile")
      },
      Some("""WITH qv AS (
             |  SELECT doc_id,
             |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS q,
             |    CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok
             |  FROM documents
             |), r AS (
             |  SELECT q, ntok,
             |    row_number() OVER (ORDER BY q, doc_id) AS rn,
             |    count(*) OVER () AS n
             |  FROM qv
             |)
             |SELECT ((rn - 1) * 10) // n AS decile, count(*) AS n_docs,
             |  min(q) AS min_q, max(q) AS max_q,
             |  CAST(sum(ntok) AS DOUBLE) / CAST(count(*) AS DOUBLE)
             |    AS mean_ntok
             |FROM r GROUP BY decile ORDER BY decile""".stripMargin)),

    // Curriculum interleave ordering — the deterministic data-ordering
    // export: rank each document within its source by quality (distinct-
    // token richness, ties to doc_id), then emit the corpus in
    // (src_rank, source) order — a round-robin over sources with each
    // source's best documents first, so early training batches are both
    // high-quality and source-balanced. The only window partitions by
    // source (keyed, never global); the global interleave is the SORT
    // ORDER itself, not a materialized position column.
    QuerySpec("q169_curriculum_order",
      (s, d) => Quality.curriculumOrder(
        t(s, d, "documents"), "doc_id", "source", "text")
        .orderBy("src_rank", "source", "doc_id"),
      Some("""WITH qv AS (
             |  SELECT doc_id, source,
             |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS q
             |  FROM documents
             |)
             |SELECT doc_id, source, q,
             |  row_number() OVER (PARTITION BY source
             |    ORDER BY q DESC, doc_id) AS src_rank
             |FROM qv ORDER BY src_rank, source, doc_id""".stripMargin)),

    // Multi-signal quality ensemble by reciprocal-rank fusion: three
    // independent quality axes — token volume (more is better),
    // duplicate-token excess (less is better), raw length — each ranked
    // CORPUS-WIDE, fused in rank space (RRF, k=60: the q145 fusion
    // applied to quality signals instead of retrieval scores). Rank
    // fusion needs no signal normalization, which is what makes a
    // heterogeneous ensemble reproducible: ranks are exact integers and
    // each RRF term is one correctly-rounded division with a fixed
    // association order. The three global ranks come from the
    // DISTRIBUTED range-partition rank (operators/PrefixSum) — an
    // ORDER-BY-only window would plan an Exchange SinglePartition and
    // funnel the corpus through one task; this never does.
    QuerySpec("q181_quality_rank_ensemble",
      (s, d) => {
        val base = t(s, d, "documents").select(col("doc_id"), col("n_chars"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"),
          size(array_distinct(split(col("text"), " "))).cast("long").as("n_distinct"))
        val (r1, _) = graft.operators.PrefixSum.rank(base,
          Seq(col("n_tokens").desc, col("doc_id")), "r_vol")
        val (r2, _) = graft.operators.PrefixSum.rank(r1,
          Seq((col("n_tokens") - col("n_distinct")).cast("double") /
            col("n_tokens").cast("double"), col("doc_id")), "r_dup")
        val (r3, _) = graft.operators.PrefixSum.rank(r2,
          Seq(col("n_chars").desc, col("doc_id")), "r_len")
        r3.select(col("doc_id"), col("r_vol"), col("r_dup"), col("r_len"),
            (lit(1.0) / (lit(60.0) + col("r_vol")) +
              lit(1.0) / (lit(60.0) + col("r_dup")) +
              lit(1.0) / (lit(60.0) + col("r_len"))).as("rrf"))
          .orderBy(desc("rrf"), col("doc_id")).limit(25)
      },
      Some("""WITH base AS (
             |  SELECT doc_id, n_chars,
             |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct
             |  FROM documents
             |), ranked AS (
             |  SELECT doc_id,
             |    row_number() OVER (ORDER BY n_tokens DESC, doc_id) AS r_vol,
             |    row_number() OVER (ORDER BY
             |      CAST(n_tokens - n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE),
             |      doc_id) AS r_dup,
             |    row_number() OVER (ORDER BY n_chars DESC, doc_id) AS r_len
             |  FROM base
             |)
             |SELECT doc_id, r_vol, r_dup, r_len,
             |  1.0/(60.0 + r_vol) + 1.0/(60.0 + r_dup) + 1.0/(60.0 + r_len) AS rrf
             |FROM ranked ORDER BY rrf DESC, doc_id LIMIT 25""".stripMargin)),

    // The curation FUNNEL: per-stage survivorship of the q96 cleaning
    // pipeline (raw → token gate → normalized dedup → benchmark
    // decontamination), docs and tokens per stage — the pipeline's own
    // dataset-card row, the table every curation paper publishes.
    // Engine-side it is ONE corpus pass (CorpusClean.funnel: deepest-
    // surviving-stage tagging + a 4-key aggregate + a running sum over
    // the 4-row stage spine), not four count queries; the oracle walks
    // q96's own CTE chain and counts each stage.
    QuerySpec("q190_curation_funnel",
      (s, d) => {
        val docs = t(s, d, "documents")
        val bench = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
        val train = docs.filter(pmod(col("doc_id"), lit(10)) =!= 0)
        graft.operators.CorpusClean.funnel(train, bench, "doc_id", "text")
          .orderBy("stage")
      },
      Some("WITH gated AS (\n" +
        """  SELECT doc_id, text, source FROM documents
          |  WHERE doc_id % 10 <> 0
          |    AND len(string_split(text, ' ')) BETWEEN 10 AND 1000
          |), keep AS (
          |  SELECT min(doc_id) AS doc_id FROM (
          |    SELECT doc_id, md5(trim(regexp_replace(regexp_replace(lower(text),
          |      '[^a-z0-9 ]+', ' ', 'g'), ' +', ' ', 'g'))) AS nk
          |    FROM gated) GROUP BY nk
          |), dd AS (SELECT g.* FROM gated g JOIN keep USING (doc_id)),
          |sh AS (
          |  SELECT doc_id, ('0x' || substr(md5(""".stripMargin +
        (0 until 8).map(j => s"s[i+$j]").mkString(" || ' ' || ") +
        """), 1, 15))::BIGINT AS h
          |  FROM (SELECT doc_id, s, unnest(range(1, len(s) - 6)) AS i
          |        FROM (SELECT doc_id, string_split(text, ' ') AS s FROM documents)
          |        WHERE len(s) >= 8)
          |), bm AS (SELECT DISTINCT h FROM sh WHERE doc_id % 10 = 0),
          |cont AS (
          |  SELECT DISTINCT sh.doc_id FROM sh JOIN bm USING (h)
          |  JOIN dd ON dd.doc_id = sh.doc_id
          |), fin AS (
          |  SELECT dd.* FROM dd LEFT JOIN cont ON cont.doc_id = dd.doc_id
          |  WHERE cont.doc_id IS NULL
          |), st AS (
          |  SELECT CAST(0 AS BIGINT) AS stage, 'raw' AS stage_name,
          |    count(*) AS n_docs,
          |    CAST(COALESCE(sum(len(string_split(text, ' '))), 0) AS BIGINT) AS n_tokens
          |  FROM documents WHERE doc_id % 10 <> 0
          |  UNION ALL
          |  SELECT 1, 'gated', count(*),
          |    CAST(COALESCE(sum(len(string_split(text, ' '))), 0) AS BIGINT)
          |  FROM gated
          |  UNION ALL
          |  SELECT 2, 'deduped', count(*),
          |    CAST(COALESCE(sum(len(string_split(text, ' '))), 0) AS BIGINT)
          |  FROM dd
          |  UNION ALL
          |  SELECT 3, 'decontaminated', count(*),
          |    CAST(COALESCE(sum(len(string_split(text, ' '))), 0) AS BIGINT)
          |  FROM fin
          |)
          |SELECT stage, stage_name, n_docs, n_tokens FROM st
          |ORDER BY stage""".stripMargin)),

    // Source-volume concentration (Gini coefficient) — the one-number
    // balance metric behind mixture design: gini → 0 means token mass
    // is spread evenly across sources, → 1 means one source dominates
    // (and the mixture/temperature samplers q136/q142 have real work to
    // do). Exact rational form: with per-source token masses x ranked
    // ascending (ties by source), gini = (2·Σ r·x − (n+1)·Σx)/(n·Σx) —
    // integer numerator and denominator, ONE final double division. The
    // rank window runs over the SOURCE-sized frame (cardinality =
    // sources — the hour-spine argument); corpus-scale work ends at the
    // per-source aggregate.
    QuerySpec("q192_source_gini",
      (s, d) => graft.operators.CorpusStats.giniFromVolumes(
        t(s, d, "documents")
          .groupBy(col("source"))
          .agg(sum(size(split(col("text"), " ")).cast("long")).as("x"))),
      Some("""WITH x AS (
             |  SELECT source,
             |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS x
             |  FROM documents GROUP BY source
             |), r AS (
             |  SELECT source, x,
             |    CAST(row_number() OVER (ORDER BY x, source) AS BIGINT) AS r
             |  FROM x
             |), a AS (
             |  SELECT count(*) AS n, CAST(sum(x) AS BIGINT) AS tot,
             |    CAST(sum(r * x) AS BIGINT) AS srx
             |  FROM r
             |)
             |SELECT n AS n_sources, tot AS total_tokens,
             |  CAST(2 * srx - (n + 1) * tot AS DOUBLE)
             |    / CAST(n * tot AS DOUBLE) AS gini
             |FROM a""".stripMargin)),

    // Benford first-digit audit on line prices — the classic
    // synthetic-data / fabrication screen: organically-generated
    // magnitudes follow P(d) = log10(1 + 1/d); templated or synthesized
    // numbers don't. The leading digit comes from a comparison LADDER of
    // exact power-of-ten double literals (x ≥ 1e7, ≥ 1e6, …) and one
    // IEEE division — NOT floor(log10(x)), whose 1-ulp slack at exact
    // powers of ten flips the bracket and differs between libm and
    // java.lang.Math. Expected frequencies are spelled as full-precision
    // double LITERALS on both sides (decimal→double parsing is
    // round-to-nearest in both engines), so every double in the report
    // is reproduced bit-for-bit; counts are exact longs and the one-row
    // total is a declared broadcast singleton.
    QuerySpec("q209_benford_audit",
      (s, d) => {
        val x = t(s, d, "lineitem")
          .select(col("l_extendedprice").as("x"))
          .filter(col("x") >= lit(1.0d))
        // fold smallest→largest so the LARGEST power's test lands
        // outermost in the nested when-chain (first match wins)
        val p = Seq(1e1, 1e2, 1e3, 1e4, 1e5, 1e6, 1e7)
          .foldLeft(lit(1.0d)) { (acc, pw) =>
            when(col("x") >= lit(pw), lit(pw)).otherwise(acc)
          }
        val dg = x.select(floor(col("x") / p).cast("long").as("digit"))
          .groupBy("digit").agg(count(lit(1)).as("n"))
        val tot = dg.agg(sum(col("n")).as("tot"))
        val benford = Seq(
          1L -> 0.3010299956639812d, 2L -> 0.17609125905568124d,
          3L -> 0.12493873660829992d, 4L -> 0.09691001300805642d,
          5L -> 0.07918124604762482d, 6L -> 0.06694678963061322d,
          7L -> 0.05799194697768673d, 8L -> 0.05115252244738129d,
          9L -> 0.04575749056067514d)
          .foldLeft(lit(0.0d)) { case (acc, (dig, f)) =>
            when(col("digit") === lit(dig), lit(f)).otherwise(acc)
          }
        dg.crossJoin(broadcast(tot))
          .select(col("digit"), col("n"),
            (col("n").cast("double") / col("tot").cast("double"))
              .as("freq"),
            benford.as("benford_freq"),
            abs(col("n").cast("double") / col("tot").cast("double")
              - benford).as("abs_dev"))
          .orderBy("digit")
      },
      Some("""WITH x AS (
             |  SELECT l_extendedprice AS x FROM lineitem
             |  WHERE l_extendedprice >= 1.0
             |), dg AS (
             |  SELECT CAST(floor(x / (CASE
             |      WHEN x >= 1e7 THEN 1e7 WHEN x >= 1e6 THEN 1e6
             |      WHEN x >= 1e5 THEN 1e5 WHEN x >= 1e4 THEN 1e4
             |      WHEN x >= 1e3 THEN 1e3 WHEN x >= 1e2 THEN 1e2
             |      WHEN x >= 1e1 THEN 1e1 ELSE 1.0 END)) AS BIGINT)
             |    AS digit
             |  FROM x
             |), c AS (SELECT digit, count(*) AS n FROM dg GROUP BY 1),
             |t AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM c),
             |b AS (
             |  SELECT digit, n,
             |    CAST(CASE digit
             |      WHEN 1 THEN 0.3010299956639812
             |      WHEN 2 THEN 0.17609125905568124
             |      WHEN 3 THEN 0.12493873660829992
             |      WHEN 4 THEN 0.09691001300805642
             |      WHEN 5 THEN 0.07918124604762482
             |      WHEN 6 THEN 0.06694678963061322
             |      WHEN 7 THEN 0.05799194697768673
             |      WHEN 8 THEN 0.05115252244738129
             |      WHEN 9 THEN 0.04575749056067514
             |      ELSE 0.0 END AS DOUBLE) AS benford_freq
             |  FROM c)
             |SELECT digit, n,
             |  CAST(n AS DOUBLE) / CAST(tot AS DOUBLE) AS freq,
             |  benford_freq,
             |  abs(CAST(n AS DOUBLE) / CAST(tot AS DOUBLE) - benford_freq)
             |    AS abs_dev
             |FROM b, t ORDER BY digit""".stripMargin)),

    // k-anonymity audit over quasi-identifiers — the privacy-governance
    // screen a training corpus's metadata table gets before release: bin
    // the population by its (nationality, market-segment) equivalence
    // classes and report, per class SIZE, how many classes and rows sit
    // there and whether the size clears k=5 — rows in small classes are
    // re-identifiable by the quasi-identifiers alone. Two keyed
    // aggregations (class sizes, then the size histogram) plus a one-row
    // broadcast total; every reported number is an exact long or a
    // per-row ratio of longs.
    QuerySpec("q210_k_anonymity",
      (s, d) => {
        val g = t(s, d, "customer")
          .groupBy(col("c_nationkey"), col("c_mktsegment"))
          .agg(count(lit(1)).as("gsz"))
        val tot = g.agg(sum(col("gsz")).as("tot"))
        g.groupBy(col("gsz").as("group_size"))
          .agg(count(lit(1)).as("n_groups"))
          .crossJoin(broadcast(tot))
          .select(col("group_size"), col("n_groups"),
            (col("group_size") * col("n_groups")).as("n_rows"),
            ((col("group_size") * col("n_groups")).cast("double")
              / col("tot").cast("double")).as("frac_rows"),
            (col("group_size") < lit(5L)).as("risky"))
          .orderBy("group_size")
      },
      Some("""WITH g AS (
             |  SELECT c_nationkey, c_mktsegment, count(*) AS gsz
             |  FROM customer GROUP BY 1, 2
             |), t AS (SELECT CAST(sum(gsz) AS BIGINT) AS tot FROM g),
             |h AS (
             |  SELECT gsz AS group_size, count(*) AS n_groups
             |  FROM g GROUP BY 1)
             |SELECT group_size, n_groups,
             |  CAST(group_size * n_groups AS BIGINT) AS n_rows,
             |  CAST(group_size * n_groups AS DOUBLE) / CAST(tot AS DOUBLE)
             |    AS frac_rows,
             |  group_size < 5 AS risky
             |FROM h, t ORDER BY group_size""".stripMargin)),

    // Exact AUC (Mann–Whitney, tie-corrected) of the TRAINED quality
    // logit on its planted boilerplate axis — the classifier
    // EVALUATION metric next to q141's threshold sweep, now measuring
    // the model the engine itself trained (operators/Logit, the q278
    // trajectory's final round): score is the fixed-point logit z,
    // positive class is "clean" (y = 1; docs whose text got the
    // duplicated spam line are the negatives), so AUC ≈ 0.73 reads as
    // "the trained keep-score ranks clean above boilerplate". The rank
    // statistic is computed on the DISTINCT-SCORE axis — group to (z,
    // n_pos, n_neg) first, then one exclusive prefix sum of n_neg in
    // score order via the distributed PrefixSum.rankedRunningSum
    // (range partitions + broadcast offsets, never a single-partition
    // window): 2·U = Σ_z n_pos(z)·(2·cumNegBelow(z) + n_neg(z)) counts
    // each (pos, neg) pair twice, ties once each — all exact longs,
    // with AUC = U / (n_pos·n_neg) assembled in ONE double division.
    // At 100 TB the windowed frame is |distinct scores|, not |docs|.
    QuerySpec("q220_auc_dup_detection",
      (s, d) => {
        val lab = graft.operators.Logit.scoredDocs(s, d)
          .select(col("z"), (col("y") === 1L).as("clean"))
        val byScore = lab.groupBy(col("z"))
          .agg(sum(when(col("clean"), 1L).otherwise(0L)).as("n_pos"),
            sum(when(col("clean"), 0L).otherwise(1L)).as("n_neg"))
        val (cum, _) = graft.operators.PrefixSum.rankedRunningSum(
          byScore, Seq(col("z")), col("n_neg"), "__rn", "cum_neg")
        cum.agg(
            sum(col("n_pos")).as("np"), sum(col("n_neg")).as("nn"),
            sum(col("n_pos") * (lit(2L) * col("cum_neg") - col("n_neg")))
              .as("u2"))
          .select(col("np").as("n_pos"), col("nn").as("n_neg"),
            col("u2"),
            when(col("np") === 0L || col("nn") === 0L,
              lit(null).cast("double"))
              .otherwise(col("u2").cast("double") /
                (lit(2L) * col("np") * col("nn")).cast("double"))
              .as("auc"))
      },
      Some(LogitOracle.scored +
        """, s AS (
             |  SELECT z,
             |    CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
             |    CAST(sum(CASE WHEN y = 1 THEN 0 ELSE 1 END) AS BIGINT) AS n_neg
             |  FROM scored GROUP BY z
             |), c AS (
             |  SELECT n_pos, n_neg,
             |    CAST(sum(n_neg) OVER (ORDER BY z
             |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_neg
             |  FROM s
             |), a AS (
             |  SELECT CAST(sum(n_pos) AS BIGINT) AS n_pos,
             |    CAST(sum(n_neg) AS BIGINT) AS n_neg,
             |    CAST(sum(n_pos * (2 * cum_neg - n_neg)) AS BIGINT) AS u2
             |  FROM c)
             |SELECT n_pos, n_neg, u2,
             |  CASE WHEN n_pos = 0 OR n_neg = 0 THEN NULL
             |       ELSE CAST(u2 AS DOUBLE) / CAST(2 * n_pos * n_neg AS DOUBLE)
             |  END AS auc
             |FROM a""".stripMargin)),

    // Chi-squared discriminative tokens per source — the classic
    // feature-selection statistic over the (token present in doc) ×
    // (doc from source) 2×2 table: a = docs of the source containing
    // the token, b/c/d the complements, χ² = N(ad−bc)² / ((a+b)(c+d)
    // (a+c)(b+d)). The numerator is a SQUARE, so everything is
    // non-negative and the fixed-point ⌊χ²·10⁶⌋ integer division has
    // no floor-vs-truncate ambiguity between engines; intermediates
    // peak ≈ N³·10⁶ and ride DECIMAL(38,0) / HUGEINT. Work: one
    // distinct (doc, term) pass, a vocabulary-shaped (term, source)
    // aggregation, broadcast source totals + a one-row N cross — the
    // per-source ranking window runs over |sources|·|vocab ≥ minDf|
    // rows, never docs. Top-5 per source = "what marks this source's
    // text apart" — the mixture-design diagnostic next to q160's
    // drift and q158's novelty.
    QuerySpec("q221_chi2_tokens",
      (s, d) => {
        val docs = t(s, d, "documents")
        val docTok = docs
          .select(col("doc_id"), col("source"),
            explode(split(col("text"), " ")).as("term"))
          .filter(length(col("term")) > 0).distinct()
        val tokSrc = docTok.groupBy(col("term"), col("source"))
          .agg(count(lit(1)).as("a"))
        val tokDf = docTok.groupBy(col("term"))
          .agg(count(lit(1)).as("df")).filter(col("df") >= 5L)
        val srcTot = docs.groupBy(col("source"))
          .agg(count(lit(1)).as("ns"))
        val tot = docs.agg(count(lit(1)).as("nn"))
        val cells = tokSrc.join(tokDf, "term")
          .join(broadcast(srcTot), "source")
          .crossJoin(broadcast(tot))
          // a token in EVERY doc has zero column variance — χ²
          // undefined (and its denominator literally 0); drop it
          .filter(col("df") < col("nn"))
        val chi = cells.select(col("source"), col("term"),
            col("a"), col("df"),
            expr("""CAST(nn AS DECIMAL(38,0))
                 * (CAST(a AS DECIMAL(38,0)) * (nn - df - ns + a)
                    - CAST(df - a AS DECIMAL(38,0)) * (ns - a))
                 * (CAST(a AS DECIMAL(38,0)) * (nn - df - ns + a)
                    - CAST(df - a AS DECIMAL(38,0)) * (ns - a))
                 * 1000000
                 DIV (CAST(df AS DECIMAL(38,0)) * (nn - df)
                      * ns * (nn - ns))""").as("chi2_fp"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("source"))
          .orderBy(desc("chi2_fp"), col("term"))
        chi.withColumn("rank", row_number().over(w).cast("long"))
          .filter(col("rank") <= 5L)
          .select(col("source"), col("rank"), col("term"), col("a"),
            col("df"), col("chi2_fp"))
          .orderBy("source", "rank")
      },
      Some("""WITH dt AS (
             |  SELECT DISTINCT doc_id, source, t.term FROM (
             |    SELECT doc_id, source,
             |      unnest(string_split(text, ' ')) AS term
             |    FROM documents) t
             |  WHERE len(t.term) > 0
             |), ts AS (
             |  SELECT term, source, count(*) AS a FROM dt GROUP BY 1, 2
             |), td AS (
             |  SELECT term, count(*) AS df FROM dt GROUP BY 1
             |  HAVING count(*) >= 5
             |), st AS (
             |  SELECT source, count(*) AS ns FROM documents GROUP BY 1
             |), tt AS (SELECT count(*) AS nn FROM documents),
             |chi AS (
             |  SELECT source, term, a, df,
             |    CAST((CAST(nn AS HUGEINT)
             |      * (CAST(a AS HUGEINT) * (nn - df - ns + a)
             |         - CAST(df - a AS HUGEINT) * (ns - a))
             |      * (CAST(a AS HUGEINT) * (nn - df - ns + a)
             |         - CAST(df - a AS HUGEINT) * (ns - a))
             |      * 1000000)
             |      // (CAST(df AS HUGEINT) * (nn - df) * ns * (nn - ns))
             |      AS BIGINT) AS chi2_fp
             |  FROM ts JOIN td USING (term) JOIN st USING (source), tt
             |  WHERE df < nn
             |), r AS (
             |  SELECT source, term, a, df, chi2_fp,
             |    CAST(row_number() OVER (PARTITION BY source
             |      ORDER BY chi2_fp DESC, term) AS BIGINT) AS rank
             |  FROM chi)
             |SELECT source, rank, term, a, df, chi2_fp
             |FROM r WHERE rank <= 5 ORDER BY source, rank""".stripMargin)),

    // Exact two-sample Kolmogorov–Smirnov drift test of every source's
    // document-length distribution against the src0 baseline — the
    // distribution-level drift statistic next to q160's token drift
    // and q220's AUC: D = sup_x |F_src(x) − F_base(x)|, computed
    // EXACTLY as max |cum_src·n_base − cum_base·n_src| over the merged
    // threshold axis (the sup over all reals is attained at a step of
    // either CDF, and every step is a distinct observed length) with
    // the single double division deferred to the final KS column. The
    // axis is the DISTINCT-LENGTH frame — bounded by the length
    // domain, never by the corpus: one (source, x) count aggregation,
    // a dense axis × sources completion (axis join broadcast sources),
    // per-source cumulative windows (partitioned BY SOURCE — never a
    // single-partition window over data), and a per-source max. At
    // 100 TB every frame after the first aggregation is
    // |axis|·|sources|-sized. The algebra lives in operators/KsDrift —
    // (source, value) count partials merge by addition, so the
    // streaming monitor (EventStreams.ksMonitorSink) maintains the
    // same report from per-batch partials, spec-proven equal.
    QuerySpec("q225_ks_drift",
      (s, d) => {
        import graft.operators.KsDrift
        KsDrift.report(
          KsDrift.counts(t(s, d, "documents"), "source", "n_chars"), "src0")
      },
      Some("""WITH v AS (
             |  SELECT source, CAST(n_chars AS BIGINT) AS x FROM documents
             |  WHERE n_chars IS NOT NULL
             |), axis AS (SELECT DISTINCT x FROM v),
             |srcs AS (SELECT DISTINCT source FROM v),
             |cnts AS (
             |  SELECT source, x, count(*) AS c FROM v GROUP BY 1, 2
             |), dense AS (
             |  SELECT s.source, a.x, COALESCE(c.c, 0) AS c
             |  FROM axis a CROSS JOIN srcs s
             |  LEFT JOIN cnts c ON c.source = s.source AND c.x = a.x
             |), cum AS (
             |  SELECT source, x,
             |    sum(c) OVER (PARTITION BY source ORDER BY x
             |      ROWS UNBOUNDED PRECEDING) AS cum
             |  FROM dense
             |), tot AS (SELECT source, count(*) AS n FROM v GROUP BY 1),
             |base AS (SELECT x, cum AS cum0 FROM cum WHERE source = 'src0'),
             |nb AS (SELECT n AS n_base FROM tot WHERE source = 'src0'),
             |d AS (
             |  SELECT c.source, nb.n_base, t.n AS n_src,
             |    CAST(max(abs(CAST(c.cum AS HUGEINT) * nb.n_base
             |      - CAST(b.cum0 AS HUGEINT) * t.n)) AS BIGINT) AS d_num
             |  FROM cum c
             |  JOIN base b USING (x) JOIN tot t USING (source), nb
             |  WHERE c.source <> 'src0'
             |  GROUP BY 1, 2, 3)
             |SELECT source, n_base, n_src, d_num,
             |  CAST(d_num AS DOUBLE) / CAST(n_src * n_base AS DOUBLE) AS ks
             |FROM d ORDER BY source""".stripMargin)),

    // Calibration by score decile (the reliability diagram's table
    // form) — the third leg of the classifier-evaluation trio: q141
    // sweeps thresholds, q220 scores ranking (AUC), this measures
    // whether the score's LEVELS mean anything — per score-decile, the
    // observed duplicate rate next to the decile's score range. A
    // well-calibrated detector shows monotone rates; a flat column
    // says the score ranks but its magnitudes lie. Score is the
    // TRAINED fixed-point logit (operators/Logit, q278's final round)
    // and the observed rate is the planted-boilerplate rate per decile
    // (y = 0, the axis the model was trained on) — expected to FALL as
    // z rises. Deciles come from the DISTRIBUTED rank axis
    // (PrefixSum.rank over (z, doc_id) — the doc_id tiebreak makes
    // bucket boundaries engine-deterministic even across equal scores;
    // never an ntile() single-reducer window), the bucket formula
    // ⌊(rn−1)·10/N⌋ is exact integer arithmetic, counts are exact
    // longs, z_lo/z_hi are exact BIGINT order statistics, and the only
    // double is ONE division for the rate.
    QuerySpec("q235_calibration_deciles",
      (s, d) => {
        val lab = graft.operators.Logit.scoredDocs(s, d)
          .select(col("doc_id"), col("z"),
            when(col("y") === 0L, 1L).otherwise(0L).as("pos"))
        val (ranked, n) = graft.operators.PrefixSum.rank(
          lab, Seq(col("z"), col("doc_id")), "__rn")
        ranked
          .select(expr(s"((__rn - 1) * 10) DIV ${n}L").as("decile"),
            col("z"), col("pos"))
          .groupBy(col("decile"))
          .agg(count(lit(1)).as("n"), sum(col("pos")).as("n_dup"),
            min(col("z")).as("z_lo"), max(col("z")).as("z_hi"))
          .select(col("decile"), col("n"), col("n_dup"),
            (col("n_dup").cast("double") / col("n").cast("double"))
              .as("dup_rate"),
            col("z_lo"), col("z_hi"))
          .orderBy("decile")
      },
      Some(LogitOracle.scored +
        """, r AS (
             |  SELECT z, CASE WHEN y = 0 THEN 1 ELSE 0 END AS pos,
             |    row_number() OVER (ORDER BY z, doc_id) AS rn,
             |    count(*) OVER () AS n
             |  FROM scored
             |), b AS (
             |  SELECT CAST(((rn - 1) * 10) // n AS BIGINT) AS decile, z, pos
             |  FROM r
             |)
             |SELECT decile, count(*) AS n,
             |  CAST(sum(pos) AS BIGINT) AS n_dup,
             |  CAST(sum(pos) AS DOUBLE) / count(*) AS dup_rate,
             |  min(z) AS z_lo, max(z) AS z_hi
             |FROM b GROUP BY 1 ORDER BY decile""".stripMargin)),

    // The REFINERY COMPOSITE — pipelines/Refinery.run's query-expressible
    // acceptance gate as ONE oracle row set: gate → normalized dedup →
    // benchmark decontamination (CorpusClean.clean, the q96 chain) →
    // the containment pass with the acyclic size rule (q155's operator,
    // Refinery's filter) → the per-source dataset card (q167) over the
    // CURATED survivors. A 100 TB deployment accepts the pipeline on
    // this composite, not on the stages — each stage is oracle-gated
    // alone; this row set proves they compose in BOTH engines. Same
    // parameters as Refinery.run's defaults (gate 10–1000 tokens,
    // decontam k=8, containment k=3 at 0.8, card k=8); benchmark =
    // doc_id % 10 = 0 (the q79/q96 split).
    QuerySpec("q243_refinery_composite",
      (s, d) => {
        val docs = t(s, d, "documents")
        val bench = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
        val train = docs.filter(pmod(col("doc_id"), lit(10)) =!= 0)
        val cleaned = graft.operators.CorpusClean.clean(
          train, bench, "doc_id", "text")
        // the POOLED containment pairs (round 16): q280 chains the same
        // cleaned corpus through the same posting self-join — the pair
        // frame is the materialize-once artifact both acceptance queries
        // read
        val contained = graft.operators.Dedup.pooledContainmentPairs(
            cleaned, "doc_id", "text", k = 3, minContainment = 0.8)
          .filter(col("na") < col("nb") ||
            (col("na") === col("nb") && col("a_id") > col("b_id")))
          .select(col("a_id").as("doc_id")).distinct()
        // curated is deliberately NOT persisted despite the card's two
        // consumptions: an A/B at sf0.1 was a storage-noise wash
        // (3.8-4.8 s both ways), so the call follows the measured
        // CorpusClean doctrine — caching full text rows costs about as
        // much in cold columnar serialization as the recompute saves;
        // the id-sized containment frame is the intermediate worth
        // persisting and Dedup pools the shingle sets underneath
        val curated = cleaned.join(contained, Seq("doc_id"), "left_anti")
        graft.operators.CorpusStats.datasetCard(
          curated, "source", "text", k = 8).orderBy("source")
      },
      Some(refineryCurCtes("WITH ") +
        """, keyed AS (
          |  SELECT source, md5(text) AS k,
          |    CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok
          |  FROM cur
          |), m AS (
          |  SELECT k, count(*) AS m FROM keyed GROUP BY k
          |), core AS (
          |  SELECT source, count(*) AS n_docs,
          |    CAST(sum(CASE WHEN m > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
          |    CAST(sum(ntok) AS BIGINT) AS n_tokens
          |  FROM keyed JOIN m USING (k) GROUP BY source
          |), sp0 AS (
          |  SELECT source,
          |    unnest([('0x' || substr(md5(array_to_string(t[i:i+7],' ')),1,15))::BIGINT
          |            FOR i IN range(1, len(t)-6)]) AS fp
          |  FROM (SELECT source, string_split(text,' ') AS t FROM cur)
          |  WHERE len(t) >= 8
          |), sp AS (
          |  SELECT DISTINCT source, fp FROM sp0
          |), ns AS (
          |  SELECT fp, count(*) AS ns FROM sp GROUP BY fp
          |), nov AS (
          |  SELECT source,
          |    CAST(sum(CASE WHEN ns = 1 THEN 1 ELSE 0 END) AS DOUBLE)
          |      / CAST(count(*) AS DOUBLE) AS novelty
          |  FROM sp JOIN ns USING (fp) GROUP BY source
          |)
          |SELECT c.source, n_docs, n_dup,
          |  CAST(n_dup AS DOUBLE) / CAST(n_docs AS DOUBLE) AS dup_frac,
          |  n_tokens,
          |  CAST(n_tokens AS DOUBLE) / CAST(n_docs AS DOUBLE) AS mean_tokens,
          |  novelty
          |FROM core c LEFT JOIN nov USING (source)
          |ORDER BY c.source""".stripMargin)),

    // Tie-corrected SPEARMAN rank correlation between the TRAINED
    // quality logit (operators/Logit's served round, like the rest of
    // the trio) and document length — the length-confound audit run
    // before trusting a quality signal ("is the classifier just
    // measuring length?"). Fractional average ranks ride a ×2 integer grid so
    // everything stays exact: on each axis's DISTINCT-VALUE frame,
    // 2·avgRank(v) = 2·cumCount(<v) + count(=v) + 1 via the distributed
    // PrefixSum running sum (the q220 discipline — the windowed frame is
    // |distinct values|, never |docs|), joined back per doc, then
    // Pearson over the integer rank pairs with every moment an exact
    // DECIMAL(38,0)/HUGEINT sum, composed into ρ by the q130 discipline
    // — exact decimal intermediates, ONE final deterministic double
    // assembly (decimal→double is correctly rounded in both engines via
    // the VARCHAR bridge; sqrt is IEEE) — rather than a ⌊ρ²·10⁶⌋
    // integer square: squaring the n⁴-scale covariance doubles its
    // digits and busts DECIMAL(38,0) at ~50k docs (the 10× scale probe
    // caught exactly that), while the moments themselves hold to ~10⁹
    // docs.
    QuerySpec("q253_spearman_length_confound",
      (s, d) => {
        val scored = graft.operators.Logit.scoredDocs(s, d)
          .select(col("doc_id"), col("n_chars"), col("z"))
        def ranks2(valCol: String, outCol: String) = {
          val byV = scored.groupBy(col(valCol)).agg(count(lit(1)).as("c"))
          val (cum, _) = graft.operators.PrefixSum.rankedRunningSum(
            byV, Seq(col(valCol)), col("c"), "__rn", "__cum")
          cum.select(col(valCol),
            (lit(2L) * (col("__cum") - col("c")) + col("c") + 1L)
              .as(outCol))
        }
        scored
          .join(ranks2("n_chars", "rx"), Seq("n_chars"))
          .join(ranks2("z", "ry"), Seq("z"))
          .agg(count(lit(1)).as("n"),
            sum(expr("CAST(rx AS DECIMAL(38,0))")).as("sx"),
            sum(expr("CAST(ry AS DECIMAL(38,0))")).as("sy"),
            sum(expr("CAST(rx AS DECIMAL(38,0)) * ry")).as("sxy"),
            sum(expr("CAST(rx AS DECIMAL(38,0)) * rx")).as("sxx"),
            sum(expr("CAST(ry AS DECIMAL(38,0)) * ry")).as("syy"))
          .select(col("n").as("n_docs"),
            expr("CAST(n * sxy - sx * sy AS DOUBLE)").as("num"),
            expr("CAST(n * sxx - sx * sx AS DOUBLE)").as("dx"),
            expr("CAST(n * syy - sy * sy AS DOUBLE)").as("dy"))
          .select(col("n_docs"),
            (col("num") / (sqrt(col("dx")) * sqrt(col("dy"))))
              .as("rho_spearman"))
      },
      Some(LogitOracle.scored +
        """, cxv AS (
             |  SELECT n_chars AS v, count(*) AS c FROM scored GROUP BY 1
             |), cxr AS (
             |  SELECT v,
             |    2 * (sum(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) - c)
             |      + c + 1 AS rx
             |  FROM cxv
             |), cyv AS (
             |  SELECT z AS v, count(*) AS c FROM scored GROUP BY 1
             |), cyr AS (
             |  SELECT v,
             |    2 * (sum(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) - c)
             |      + c + 1 AS ry
             |  FROM cyv
             |), j AS (
             |  SELECT CAST(rx AS HUGEINT) AS rx, CAST(ry AS HUGEINT) AS ry
             |  FROM scored g JOIN cxr ON g.n_chars = cxr.v
             |  JOIN cyr ON g.z = cyr.v
             |), m AS (
             |  SELECT count(*) AS n, sum(rx) AS sx, sum(ry) AS sy,
             |    sum(rx * ry) AS sxy, sum(rx * rx) AS sxx,
             |    sum(ry * ry) AS syy
             |  FROM j)
             |SELECT CAST(n AS BIGINT) AS n_docs,
             |  CAST(CAST(n * sxy - sx * sy AS VARCHAR) AS DOUBLE)
             |    / (sqrt(CAST(CAST(n * sxx - sx * sx AS VARCHAR) AS DOUBLE))
             |     * sqrt(CAST(CAST(n * syy - sy * sy AS VARCHAR) AS DOUBLE)))
             |    AS rho_spearman
             |FROM m""".stripMargin)),

    // Code-vs-prose census: the curation split every pre-training mix
    // needs (code and prose get different quality rules, dedup grains,
    // and mixture weights). Deterministically code-wrapped docs
    // (doc_id % 7 = 3, the q69 injection discipline) are detected by an
    // exact integer symbol heuristic — brace + semicolon counts via
    // length-difference (codegen'd, no regex in the hot path) — and the
    // per-source report carries the code share and mean symbol density
    // in basis points. One map-side pass + one |sources|-row aggregate.
    QuerySpec("q272_code_prose",
      (s, d) => {
        val aug = t(s, d, "documents").select(col("doc_id"), col("source"),
          when(pmod(col("doc_id"), lit(7)) === 3,
            concat(lit("void f"), col("doc_id").cast("string"),
              lit("() { int x = "),
              pmod(col("doc_id"), lit(100)).cast("string"), lit("; "),
              col("text"), lit("; return; }")))
            .otherwise(col("text")).as("text"))
        aug
          .withColumn("n_chars", length(col("text")).cast("long"))
          .withColumn("n_brace", expr("CAST(length(text)" +
            " - length(replace(text, '{', '')) + length(text)" +
            " - length(replace(text, '}', '')) AS BIGINT)"))
          .withColumn("n_semi", expr("CAST(length(text)" +
            " - length(replace(text, ';', '')) AS BIGINT)"))
          .withColumn("n_eq", expr("CAST(length(text)" +
            " - length(replace(text, '=', '')) AS BIGINT)"))
          .withColumn("is_code", col("n_brace") >= 2 && col("n_semi") >= 2)
          .withColumn("sym_bp", expr("(n_brace + n_semi + n_eq) * 10000" +
            " DIV greatest(n_chars, 1)"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("is_code"), 1L).otherwise(0L)).as("n_code"),
            expr("sum(CASE WHEN is_code THEN 1 ELSE 0 END) * 10000" +
              " DIV count(1)").as("code_bp"),
            expr("sum(sym_bp) DIV count(1)").as("mean_sym_bp"))
          .orderBy("source")
      },
      Some("""WITH aug AS (
             |  SELECT doc_id, source,
             |    CASE WHEN doc_id % 7 = 3
             |      THEN 'void f' || doc_id || '() { int x = '
             |           || (doc_id % 100) || '; ' || text || '; return; }'
             |      ELSE text END AS text
             |  FROM documents
             |), f AS (
             |  SELECT source,
             |    CAST(len(text) AS BIGINT) AS n_chars,
             |    CAST(len(text) - len(replace(text, '{', ''))
             |      + len(text) - len(replace(text, '}', '')) AS BIGINT)
             |      AS n_brace,
             |    CAST(len(text) - len(replace(text, ';', '')) AS BIGINT)
             |      AS n_semi,
             |    CAST(len(text) - len(replace(text, '=', '')) AS BIGINT)
             |      AS n_eq
             |  FROM aug
             |), g AS (
             |  SELECT source,
             |    (n_brace >= 2 AND n_semi >= 2) AS is_code,
             |    (n_brace + n_semi + n_eq) * 10000
             |      // greatest(n_chars, 1) AS sym_bp
             |  FROM f
             |)
             |SELECT source, count(*) AS n_docs,
             |  CAST(sum(CASE WHEN is_code THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_code,
             |  CAST(sum(CASE WHEN is_code THEN 1 ELSE 0 END) * 10000
             |    // count(*) AS BIGINT) AS code_bp,
             |  CAST(sum(sym_bp) // count(*) AS BIGINT) AS mean_sym_bp
             |FROM g GROUP BY source ORDER BY source""".stripMargin)),

    // l-diversity audit — the privacy-governance sibling of q210's
    // k-anonymity: a quasi-identifier group can be large (k-anonymous)
    // yet still leak its members' SENSITIVE value when every member
    // shares it. Per (nation, segment) group, l = distinct sensitive
    // values (thousand-dollar balance bucket on the exact-cents grid —
    // the ARCHITECTURE money rule, engine-identical); the report
    // histograms groups by l with l < 3 flagged. Two keyed aggregates,
    // group-count-shaped frames only.
    QuerySpec("q275_l_diversity",
      (s, d) => {
        val g = t(s, d, "customer")
          .groupBy(col("c_nationkey"), col("c_mktsegment"))
          .agg(count(lit(1)).as("gsz"),
            countDistinct(expr("CAST(floor(c_acctbal * 100 + 0.5)" +
              " AS BIGINT) DIV 100000")).as("l"))
        graft.operators.Quality.lDiversityReport(g).orderBy("l_distinct")
      },
      Some("""WITH g AS (
             |  SELECT c_nationkey, c_mktsegment, count(*) AS gsz,
             |    count(DISTINCT CAST(floor(c_acctbal * 100 + 0.5)
             |      AS BIGINT) // 100000) AS l
             |  FROM customer GROUP BY 1, 2
             |)
             |SELECT CAST(l AS BIGINT) AS l_distinct,
             |  count(*) AS n_groups,
             |  CAST(sum(gsz) AS BIGINT) AS n_rows,
             |  l < 3 AS risky
             |FROM g GROUP BY l ORDER BY l_distinct""".stripMargin)),

    // In-engine quality-classifier TRAINING trajectory — the model half
    // the evaluation trio (q141 sweep, q220 AUC, q235 calibration) was
    // missing: 4 rounds of batch gradient descent for logistic
    // regression under the hard-sigmoid link, every step BIGINT on the
    // 10⁶ fixed-point grid (trunc DIV identical in both engines), so
    // the full weight trajectory hash-matches the oracle's unrolled
    // 4-layer CTE suite — the q137 PageRank / q35 Lloyd discipline
    // applied to model training. Labels come from the planted
    // boilerplate axis (doc_id % 5, the q272 injection discipline);
    // features are centered fixed-point (n_tok/100, stop_frac,
    // mean_len/10). Work per round: ONE map-side-combined aggregation
    // over the pooled id-sized feature frame; driver traffic is 4
    // longs + a count per round (the Lloyd-step bound). The trained
    // vector persists via Logit.save/load (the Bpe artifact pattern,
    // loud on truncation — LogitSpec proves the round trip) and serves
    // q123/q141/q220/q235/q253.
    QuerySpec("q278_logit_training",
      (s, d) => {
        val traj = graft.operators.Logit.pooledTrajectory(s, d)
        import s.implicits._
        traj.toDF("round", "w0", "w1", "w2", "w3").orderBy("round")
      },
      Some(LogitOracle.prefix + "\n" +
        (1 to graft.operators.Logit.Rounds).map(r =>
          s"SELECT CAST($r AS BIGINT) AS round, w0, w1, w2, w3 FROM wr$r")
          .mkString("", "\nUNION ALL\n", "\nORDER BY round"))),

    // OUT-OF-SAMPLE learning curve for the trained classifier — the
    // other half of the training discipline q278 establishes: train on
    // the doc_id % 3 ≠ 0 split (centering statistics INCLUDED — holdout
    // rows never touch the means; they score through train-fitted
    // statistics), then per training round report the exact
    // Mann–Whitney AUC on the HELD-OUT third, in basis points (the q220
    // rank-sum shape per round — distinct-score axis, distributed
    // prefix sum, all exact longs, auc_bp = (u2·10⁴) DIV (2·n₊·n₋)).
    // This is how a curation deployment picks the served round —
    // validation AUC, not faith in the loss going down; a trajectory
    // whose holdout AUC degrades while training continues is the
    // overfit alarm. Since round 16 the curve HAS its actuator:
    // Logit.servingWeights serves the argmax round (ties → later), and
    // every scored-docs consumer + its oracle re-selects identically
    // (LogitSpec plants a round-2-peaked trajectory and proves round 2
    // serves). auc_bp multiplies through DECIMAL(38,0)/HUGEINT so the
    // ×10⁴ product cannot wrap past ~10⁹-doc holdouts. Work: the
    // pooled split feature frame + 4 |holdout|-sized scoring passes
    // with |distinct z|-sized windows.
    QuerySpec("q279_logit_holdout_auc",
      (s, d) => graft.operators.Logit.pooledHoldoutCurve(s, d)
        .orderBy("round"),
      Some(LogitOracle.trainRestrictedPrefix(
        s"doc_id % ${graft.operators.Logit.HoldoutMod} <> 0") +
        LogitOracle.holdoutAucCtes("",
          s"doc_id % ${graft.operators.Logit.HoldoutMod} = 0") + "\n" +
        (1 to graft.operators.Logit.Rounds).map(r =>
          s"SELECT round, n_pos, n_neg, u2, " +
            s"${LogitOracle.aucBpExpr} AS auc_bp FROM ha$r")
          .mkString("", "\nUNION ALL\n", "\nORDER BY round"))),

    // REFINERY × TRAINED CLASSIFIER acceptance — the end-to-end
    // deployment recipe composed as one oracle-gated chain: train the
    // quality logit in-engine (q278), pick the served round by holdout
    // AUC (q279's actuator), derive the max-F1 operating point from
    // the threshold sweep (q141's actuator), then run the refinery's
    // query-expressible stages (q243's gate → dedup → decontaminate →
    // containment-drop) and GATE the survivors at z ≥ threshold —
    // pipelines/Refinery.run's QualityGate stage, registry-proven.
    // Report: per-source survivorship (n_curated → n_kept) plus the
    // threshold, all exact integers. The scoring pass is a pure
    // per-row projection over the survivor frame (no shuffle beyond
    // the survivorship groupBy); the threshold derivation is one
    // |distinct z| frame + a 1-row reduction — both 100 TB shapes.
    QuerySpec("q280_refinery_quality_gate",
      (s, d) => {
        val docs = t(s, d, "documents")
        val bench = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
        val train = docs.filter(pmod(col("doc_id"), lit(10)) =!= 0)
        val cleaned = graft.operators.CorpusClean.clean(
          train, bench, "doc_id", "text")
        // pooled with q243's identical chain — see the note there
        val contained = graft.operators.Dedup.pooledContainmentPairs(
            cleaned, "doc_id", "text", k = 3, minContainment = 0.8)
          .filter(col("na") < col("nb") ||
            (col("na") === col("nb") && col("a_id") > col("b_id")))
          .select(col("a_id").as("doc_id")).distinct()
        val cur = cleaned.join(contained, Seq("doc_id"), "left_anti")
        val model = graft.operators.Logit.servingModel(s, d)
        val thr = graft.operators.Logit.maxF1Threshold(s, d)
        graft.operators.Logit.scoreCorpus(cur, model)
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_curated"),
            sum(when(col("z") >= thr, 1L).otherwise(0L)).as("n_kept"))
          .withColumn("thr_z", lit(thr))
          .orderBy("source")
      },
      Some(LogitOracle.scored + refineryCurCtes(", ") +
        s""", bys AS (
           |  SELECT z, CAST(sum(y) AS BIGINT) AS n_pos,
           |    CAST(count(*) AS BIGINT) AS n_all
           |  FROM scored GROUP BY z
           |), cumz AS (
           |  SELECT z,
           |    CAST(sum(n_pos) OVER (ORDER BY z DESC
           |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tp,
           |    CAST(sum(n_all) OVER (ORDER BY z DESC
           |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_n
           |  FROM bys
           |), tpv AS (SELECT CAST(sum(y) AS BIGINT) AS p FROM scored),
           |f1 AS (
           |  SELECT z, CAST((CAST(2 * cum_tp AS HUGEINT) * 1000000000000)
           |    // (cum_n + p) AS BIGINT) AS f1_sc
           |  FROM cumz, tpv
           |), thrv AS (
           |  SELECT z AS thr_z FROM f1
           |  ORDER BY f1_sc DESC, z DESC LIMIT 1
           |), rfq AS (
           |  SELECT doc_id, source,
           |    CAST(len(string_split(text,' ')) AS BIGINT) AS n_tok,
           |    CAST(len(list_filter(string_split(text,' '),
           |      x -> x IN ('a','the','of','to'))) AS BIGINT) AS n_stop,
           |    CAST(length(text) AS BIGINT) AS n_chars
           |  FROM cur
           |), zq AS (
           |  SELECT doc_id, source,
           |    (w0 * ${graft.operators.Logit.Grid}
           |     + w1 * ((n_tok * ${graft.operators.Logit.Grid}) // 100 - m1)
           |     + w2 * ((n_stop * ${graft.operators.Logit.Grid}) // n_tok - m2)
           |     + w3 * (((n_chars - (n_tok - 1))
           |         * ${graft.operators.Logit.Grid}) // (n_tok * 10) - m3))
           |      // ${graft.operators.Logit.Grid} AS z
           |  FROM rfq, ws, mu
           |)
           |SELECT zq.source, count(*) AS n_curated,
           |  CAST(sum(CASE WHEN zq.z >= thr_z THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_kept,
           |  CAST(min(thr_z) AS BIGINT) AS thr_z
           |FROM zq, thrv GROUP BY zq.source
           |ORDER BY zq.source""".stripMargin))
  )
}
