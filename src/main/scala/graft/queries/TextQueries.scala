package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._
import Q._

/** Text-analysis surface over the `documents` fixture: token counting,
  * quality scoring, language statistics, heuristic language ID, content
  * fingerprinting. All pure-function pipelines (no shuffle except the
  * grouped variants), oracle-checked against DuckDB.
  */
object TextQueries {

  // Char-class regexes shared verbatim between Spark (Java regex) and the
  // DuckDB oracle (RE2) — explicit classes, no \p{...} shorthands.
  private val Vowels = "[aeiou]"
  private val EnMarkers = "\\b(the|and|of|to|in|join|group)\\b"

  // lazy: cmsJoinSizeSpec is declared below (next to its term list) —
  // a strict val here would read it before initialization
  lazy val specs: Seq[QuerySpec] =
    baseSpecs :+ cmsJoinSizeSpec :+ cmsDeleteSpec :+ markupStripSpec

  /** Markup stripping — the text-EXTRACTION stage upstream of every
    * quality/dedup operator when the corpus arrives as HTML (the
    * trafilatura/resiliparse step of a web-crawl pipeline, reduced to
    * its deterministic core): drop script bodies and comments WHOLE
    * (their content is not prose — a tag-only strip would leak
    * `var x=1;` into the text), then strip tags, then collapse
    * whitespace. The fixture wraps each document in a deterministic
    * HTML shell (title/div/p/script/comment) so the whole rewrite is
    * closed-form for the oracle; the md5 pins the extracted text
    * byte-for-byte. One codegen'd map pass, no shuffle before the
    * ordered output. Engine-parity note: Spark regexp_replace is
    * global; DuckDB needs the explicit 'g' flag; the lazy `.*?`
    * quantifiers are supported by both (java.util.regex / RE2). */
  private lazy val markupStripSpec: QuerySpec =
    QuerySpec("q273_markup_strip",
      (s, d) => {
        val html = concat(
          lit("<html><head><title>doc "), col("doc_id").cast("string"),
          lit("</title></head><body><div class=\"c\"><p>"), col("text"),
          lit("</p><script>var x = 1;</script><!-- footer --></div>" +
            "</body></html>"))
        t(s, d, "documents")
          .select(col("doc_id"), html.as("html"))
          .withColumn("noscript", regexp_replace(
            regexp_replace(col("html"), "<script>.*?</script>", " "),
            "<!--.*?-->", " "))
          .withColumn("stripped", trim(regexp_replace(
            regexp_replace(col("noscript"), "<[^>]+>", " "), " +", " ")))
          .select(col("doc_id"),
            length(col("html")).cast("long").as("n_raw"),
            length(col("stripped")).cast("long").as("n_text"),
            (length(col("html")) -
              length(expr("replace(html, '<', '')"))).cast("long")
              .as("n_tags"),
            md5(col("stripped")).as("text_md5"))
          .orderBy("doc_id")
      },
      Some("""WITH h AS (
             |  SELECT doc_id,
             |    '<html><head><title>doc ' || doc_id
             |    || '</title></head><body><div class="c"><p>' || text
             |    || '</p><script>var x = 1;</script><!-- footer --></div>'
             |    || '</body></html>' AS html
             |  FROM documents
             |), ns AS (
             |  SELECT doc_id, html,
             |    regexp_replace(regexp_replace(html,
             |      '<script>.*?</script>', ' ', 'g'),
             |      '<!--.*?-->', ' ', 'g') AS noscript
             |  FROM h
             |), st AS (
             |  SELECT doc_id, html,
             |    trim(regexp_replace(regexp_replace(noscript,
             |      '<[^>]+>', ' ', 'g'), ' +', ' ', 'g')) AS stripped
             |  FROM ns
             |)
             |SELECT doc_id,
             |  CAST(len(html) AS BIGINT) AS n_raw,
             |  CAST(len(stripped) AS BIGINT) AS n_text,
             |  CAST(len(html) - len(replace(html, '<', '')) AS BIGINT)
             |    AS n_tags,
             |  md5(stripped) AS text_md5
             |FROM st ORDER BY doc_id""".stripMargin))

  private lazy val baseSpecs: Seq[QuerySpec] = Seq(

    // Corpus TF-IDF top terms per language: explode tokens (one shuffle to
    // the (lang, tok) grouping), document frequency per token, score =
    // tf · N / df composed identically on both engines (pure integer
    // arithmetic inside doubles — bit-exact, unlike ln-based idf whose
    // libm rounding is engine-private), top-5 per lang by window rank.
    QuerySpec("q27_tfidf_topterms",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val docs = t(s, d, "documents")
        val toks = docs.select(col("lang"), col("doc_id"),
          explode(tokens(col("text"))).as("tok"))
        val tf = toks.groupBy(col("lang"), col("tok"))
          .agg(count(lit(1)).as("tf"))
        // Document frequency and corpus size come from the shared posting
        // index: postings are distinct per (term, doc), so the pooled df
        // IS countDistinct(doc_id) — without re-running the expensive
        // distinct aggregation over the exploded corpus.
        val ix = graft.operators.Postings.forCorpus(docs, "doc_id", "text")
        val dfd = ix.df.select(col("term").as("tok"), col("df").as("df_docs"))
        val nd = ix.nd
        val w = Window.partitionBy(col("lang"))
          .orderBy(desc("score"), col("tok"))
        tf.join(dfd, "tok").crossJoin(nd)
          .withColumn("score",
            col("tf").cast("double") * col("n_docs") / col("df_docs"))
          .withColumn("rank", row_number().over(w).cast("long"))
          .filter(col("rank") <= 5)
          .select(col("lang"), col("rank"), col("tok"), col("tf"),
            col("df_docs"), col("score"))
          .orderBy("lang", "rank")
      },
      Some("""WITH tokd AS (
             |  SELECT lang, doc_id, unnest(string_split(text,' ')) AS tok FROM documents
             |), tf AS (
             |  SELECT lang, tok, count(*) AS tf FROM tokd GROUP BY lang, tok
             |), dfd AS (
             |  SELECT tok, count(DISTINCT doc_id) AS df_docs FROM tokd GROUP BY tok
             |), nd AS (SELECT count(*) AS n_docs FROM documents),
             |scored AS (
             |  SELECT lang, tok, tf, df_docs,
             |    CAST(tf AS DOUBLE) * n_docs / df_docs AS score
             |  FROM tf JOIN dfd USING (tok) CROSS JOIN nd
             |), ranked AS (
             |  SELECT *, row_number() OVER (PARTITION BY lang
             |    ORDER BY score DESC, tok) AS rank
             |  FROM scored
             |)
             |SELECT lang, rank, tok, tf, df_docs, score
             |FROM ranked WHERE rank <= 5 ORDER BY lang, rank""".stripMargin)),

    // Token counting: whitespace tokens, distinct tokens, char recount,
    // mean token length — all codegen'd, zero shuffles before the sort.
    QuerySpec("q20_token_stats",
      (s, d) => t(s, d, "documents")
        .select(
          col("doc_id"),
          size(tokens(col("text"))).cast("long").as("n_tokens"),
          size(tokenSet(col("text"))).cast("long").as("n_distinct"),
          length(col("text")).cast("long").as("n_chars_actual"),
          ((length(col("text")) - (size(tokens(col("text"))) - 1))
            .cast("double") / size(tokens(col("text"))).cast("double"))
            .as("avg_token_len"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |  len(string_split(text, ' ')) AS n_tokens,
             |  len(list_distinct(string_split(text, ' '))) AS n_distinct,
             |  length(text) AS n_chars_actual,
             |  CAST(length(text) - (len(string_split(text,' ')) - 1) AS DOUBLE)
             |    / len(string_split(text,' ')) AS avg_token_len
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // Quality scoring: character-class ratios + marker-word density,
    // combined into a single score. Int/int double divisions — bit-identical
    // across engines.
    QuerySpec("q21_text_quality",
      (s, d) => t(s, d, "documents")
        .select(
          col("doc_id"),
          charRatio(col("text"), Vowels).as("vowel_ratio"),
          charRatio(col("text"), " ").as("space_ratio"),
          (matchCount(col("text"), EnMarkers).cast("double") /
            size(tokens(col("text"))).cast("double")).as("stopword_ratio"))
        .withColumn("quality_score",
          col("vowel_ratio") * 0.25 + col("space_ratio") * 0.25 +
            col("stopword_ratio") * 0.5)
        .orderBy("doc_id"),
      Some(s"""SELECT doc_id, vowel_ratio, space_ratio, stopword_ratio,
             |  vowel_ratio*0.25 + space_ratio*0.25 + stopword_ratio*0.5 AS quality_score
             |FROM (
             |  SELECT doc_id,
             |    CAST(length(text) - length(regexp_replace(text, '$Vowels', '', 'g')) AS DOUBLE)/length(text) AS vowel_ratio,
             |    CAST(length(text) - length(regexp_replace(text, ' ', '', 'g')) AS DOUBLE)/length(text) AS space_ratio,
             |    CAST(len(regexp_extract_all(text, '$EnMarkers')) AS DOUBLE)
             |      / len(string_split(text,' ')) AS stopword_ratio
             |  FROM documents) x ORDER BY doc_id""".stripMargin)),

    // Grouped language statistics (map-side-combinable aggregation).
    QuerySpec("q22_lang_stats",
      (s, d) => t(s, d, "documents")
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          (sum(col("n_chars")).cast("double") / count(lit(1))).as("avg_chars"),
          countDistinct(col("source")).as("n_sources"))
        .orderBy("lang"),
      Some("""SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars,
             |  CAST(sum(n_chars) AS DOUBLE)/count(*) AS avg_chars,
             |  count(DISTINCT source) AS n_sources
             |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),

    // Heuristic language ID: marker-hit scores per language, argmax guess,
    // compared against the labeled lang. The real-pipeline shape (n-gram
    // scores → argmax) with SQL-expressible scoring.
    QuerySpec("q23_langid",
      (s, d) => {
        val base = t(s, d, "documents").select(
          col("doc_id"), col("lang"),
          matchCount(col("text"), LangMarkers(0)._2).cast("long").as("score_en"),
          matchCount(col("text"), LangMarkers(1)._2).cast("long").as("score_de"),
          matchCount(col("text"), LangMarkers(2)._2).cast("long").as("score_es"),
          langGuess(col("text")).as("guess"))
        base.withColumn("agrees", (col("guess") === col("lang")).cast("int"))
          .orderBy("doc_id")
      },
      Some(s"""SELECT doc_id, lang, score_en, score_de, score_es,
             |  CASE WHEN score_en = best AND score_en > 0 THEN 'en'
             |       WHEN score_de = best AND score_de > 0 THEN 'de'
             |       WHEN score_es = best AND score_es > 0 THEN 'es'
             |       ELSE 'und' END AS guess,
             |  CASE WHEN (CASE WHEN score_en = best AND score_en > 0 THEN 'en'
             |       WHEN score_de = best AND score_de > 0 THEN 'de'
             |       WHEN score_es = best AND score_es > 0 THEN 'es'
             |       ELSE 'und' END) = lang THEN 1 ELSE 0 END AS agrees
             |FROM (
             |  SELECT doc_id, lang,
             |    len(regexp_extract_all(text, '${LangMarkers(0)._2}')) AS score_en,
             |    len(regexp_extract_all(text, '${LangMarkers(1)._2}')) AS score_de,
             |    len(regexp_extract_all(text, '${LangMarkers(2)._2}')) AS score_es,
             |    greatest(len(regexp_extract_all(text, '${LangMarkers(0)._2}')),
             |             len(regexp_extract_all(text, '${LangMarkers(1)._2}')),
             |             len(regexp_extract_all(text, '${LangMarkers(2)._2}'))) AS best
             |  FROM documents) x ORDER BY doc_id""".stripMargin)),

    // Content fingerprinting: md5-derived 60-bit fingerprint — identical in
    // any engine with md5 (the cross-engine hash discipline all our
    // sketches build on).
    QuerySpec("q24_fingerprint",
      (s, d) => t(s, d, "documents")
        .select(
          col("doc_id"),
          substring(md5(col("text")), 1, 15).as("fp_hex"),
          fingerprint(col("text")).as("fp_int"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id, substr(md5(text),1,15) AS fp_hex,
             |  ('0x' || substr(md5(text),1,15))::BIGINT AS fp_int
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // Inverted-index term statistics: doc_freq / total_tf / deterministic
    // top posting per term. Two exchanges end to end (see
    // operators.InvertedIndex); the oracle's window mirrors the
    // tie-broken top-posting rank exactly.
    QuerySpec("q95_inverted_index",
      (s, d) => graft.operators.InvertedIndex.termStats(
        t(s, d, "documents"), "doc_id", "text", minDf = 2L)
        .orderBy("term"),
      Some("""WITH tf AS (
             |  SELECT term, doc_id, count(*) AS tf FROM (
             |    SELECT doc_id, unnest(string_split(text, ' ')) AS term
             |    FROM documents)
             |  WHERE len(term) > 0 GROUP BY term, doc_id
             |), r AS (
             |  SELECT term, doc_id, tf,
             |    row_number() OVER (PARTITION BY term
             |      ORDER BY tf DESC, doc_id) AS rn
             |  FROM tf
             |)
             |SELECT term, count(*) AS doc_freq,
             |  CAST(sum(tf) AS BIGINT) AS total_tf,
             |  max(CASE WHEN rn = 1 THEN doc_id END) AS top_doc,
             |  max(CASE WHEN rn = 1 THEN tf END) AS top_tf
             |FROM r GROUP BY term HAVING count(*) >= 2
             |ORDER BY term""".stripMargin)),

    // Incremental index maintenance: the corpus is split into disjoint
    // base/delta batches, each publishes UNFILTERED termStats partials,
    // and the serving stats are their merge (sums + lexicographic-max
    // top posting, minDf applied post-merge so threshold-crossing terms
    // survive). The oracle is q95's FULL recompute — if the merge
    // algebra were wrong anywhere, the hashes would differ.
    QuerySpec("q147_index_delta_merge",
      (s, d) => {
        val docs = t(s, d, "documents")
        val base = docs.filter(col("doc_id") % 10 =!= 0)
        val delta = docs.filter(col("doc_id") % 10 === 0)
        graft.operators.InvertedIndex.mergeTermStats(Seq(
            graft.operators.InvertedIndex.termStats(base, "doc_id", "text", minDf = 1L),
            graft.operators.InvertedIndex.termStats(delta, "doc_id", "text", minDf = 1L)),
          minDf = 2L)
          .orderBy("term")
      },
      Some("""WITH tf AS (
             |  SELECT term, doc_id, count(*) AS tf FROM (
             |    SELECT doc_id, unnest(string_split(text, ' ')) AS term
             |    FROM documents)
             |  WHERE len(term) > 0 GROUP BY term, doc_id
             |), r AS (
             |  SELECT term, doc_id, tf,
             |    row_number() OVER (PARTITION BY term
             |      ORDER BY tf DESC, doc_id) AS rn
             |  FROM tf
             |)
             |SELECT term, count(*) AS doc_freq,
             |  CAST(sum(tf) AS BIGINT) AS total_tf,
             |  max(CASE WHEN rn = 1 THEN doc_id END) AS top_doc,
             |  max(CASE WHEN rn = 1 THEN tf END) AS top_tf
             |FROM r GROUP BY term HAVING count(*) >= 2
             |ORDER BY term""".stripMargin)),

    // Vocabulary coverage curve: the smallest frequency-ranked vocabulary
    // covering 50/90/99% of all token occurrences — the tokenizer-sizing
    // question. All-integer arithmetic (100·cum >= pct·total), so the
    // answer is exact on any engine. The frequency ranking + running sum
    // run DISTRIBUTED (PrefixSum.rankedRunningSum: range partition by
    // (n desc, term), per-partition window, broadcast prefix offsets) —
    // at web scale the distinct-token vocabulary is itself billions of
    // rows, so a global Window.orderBy would die in its SinglePartition
    // exchange (plan-asserted absent in PrefixSumSpec). The grand total
    // comes free from the driver-side partition sums.
    QuerySpec("q101_vocab_coverage",
      (s, d) => {
        // Corpus-wide term counts fold out of the shared posting index
        // (sum of per-doc tf ≡ count of occurrences) instead of a fresh
        // tokenize+shuffle of the whole corpus.
        val tf = graft.operators.Postings.forCorpus(
            t(s, d, "documents"), "doc_id", "text").tf
          .filter(length(col("term")) > 0)
          .groupBy(col("term")).agg(sum(col("tf")).as("n"))
        val (ranked, total) = graft.operators.PrefixSum.rankedRunningSum(
          tf, Seq(desc("n"), col("term")), col("n"), "rn", "cum")
        val pcts = s.range(0, 3).select(
          element_at(typedLit(Seq(50L, 90L, 99L)), col("id").cast("int") + 1).as("pct"))
        ranked.crossJoin(broadcast(pcts))
          .filter(col("cum") * 100 >= col("pct") * lit(total))
          .groupBy(col("pct"))
          .agg(min(col("rn")).as("vocab_size"))
          .orderBy("pct")
      },
      Some("""WITH tf AS (
             |  SELECT term, count(*) AS n FROM (
             |    SELECT unnest(string_split(text, ' ')) AS term FROM documents)
             |  WHERE len(term) > 0 GROUP BY term
             |), r AS (
             |  SELECT n, row_number() OVER (ORDER BY n DESC, term) AS rn,
             |    sum(n) OVER (ORDER BY n DESC, term
             |      ROWS UNBOUNDED PRECEDING) AS cum
             |  FROM tf
             |), tot AS (SELECT sum(n) AS t FROM tf)
             |SELECT CAST(p.pct AS BIGINT) AS pct, min(rn) AS vocab_size
             |FROM r, tot, (VALUES (50), (90), (99)) p(pct)
             |WHERE cum * 100 >= p.pct * t
             |GROUP BY p.pct ORDER BY pct""".stripMargin)),

    // URL provenance filtering — the web-corpus "drop blocklisted domains,
    // count what's left per (host, ref)" gate. The URL column is
    // synthesized deterministically from fixture fields (the fixtures carry
    // no URLs), then parsed back with Spark's native parse_url expression;
    // the oracle parses the identically-synthesized string with regexes.
    // The blocklist is a literal IN filter — at scale an arbitrary-size
    // blocklist becomes a broadcast anti-join on the host key (q79's
    // decontamination shape); the parse/filter/count topology is identical.
    QuerySpec("q122_url_filter",
      (s, d) => {
        val url = concat(lit("https://"), col("source"),
          lit(".example.com/docs/"), col("doc_id").cast("string"),
          lit("?ref="), col("lang"))
        t(s, d, "documents")
          .withColumn("url", url)
          .withColumn("host", parse_url(col("url"), lit("HOST")))
          .withColumn("ref", parse_url(col("url"), lit("QUERY"), lit("ref")))
          .filter(!col("host").isin("src1.example.com", "src3.example.com"))
          .groupBy(col("host"), col("ref"))
          .agg(count(lit(1)).as("n"), max(col("doc_id")).as("max_doc"))
          .orderBy("host", "ref")
      },
      Some("""WITH u AS (
             |  SELECT doc_id,
             |    'https://' || source || '.example.com/docs/' || doc_id::VARCHAR
             |      || '?ref=' || lang AS url
             |  FROM documents
             |), p AS (
             |  SELECT doc_id,
             |    regexp_extract(url, 'https://([^/?#]+)', 1) AS host,
             |    regexp_extract(url, '[?&]ref=([^&#]*)', 1) AS ref
             |  FROM u)
             |SELECT host, ref, count(*) AS n, max(doc_id) AS max_doc
             |FROM p WHERE host NOT IN ('src1.example.com', 'src3.example.com')
             |GROUP BY host, ref ORDER BY host, ref""".stripMargin)),

    // Linear quality classifier, scored from the ENGINE-TRAINED weights
    // (operators/Logit): the logit z the trio q141/q220/q235 evaluates
    // is now the final round of the in-engine fixed-point batch-GD
    // trajectory (q278), not hand-fixed literals — train → persist →
    // serve like every other model state (BPE, k-means, PQ, IVF). The
    // published score is the LINEAR fixed-point logit (BIGINT on the
    // 10⁶ grid — bit-exact by construction, stronger than the old
    // association-order double contract); keep = z > 0. Labels/spam
    // axis are planted by the q272 injection discipline and the oracle
    // re-trains the identical model in an unrolled CTE suite.
    QuerySpec("q123_quality_logit",
      (s, d) => graft.operators.Logit.scoredDocs(s, d)
        .select(col("doc_id"), col("y"), col("z"), (col("z") > 0L).as("keep"))
        .orderBy("doc_id"),
      Some(LogitOracle.scored +
        "\nSELECT doc_id, y, z, z > 0 AS keep FROM scored ORDER BY doc_id")),

    // Unicode NFC canonicalization via the native codegen'd expression
    // (plans.UnicodeNormalizeExpr — Spark ships no normalizer built-in;
    // the UDF alternative boxes and kills codegen). The fixture is ASCII,
    // so each name gets a DECOMPOSED accent ("e" + U+0301) appended in
    // both engines; NFC must fuse it to the composed é — codepoint counts
    // drop by one, and the normalized strings hash-match byte for byte
    // (both engines implement UAX #15). Canonicalization-before-hashing is
    // the dedup precondition: composed and decomposed spellings of the
    // same text MUST fingerprint identically.
    QuerySpec("q127_unicode_nfc",
      (s, d) => {
        t(s, d, "supplier")
          .select(col("s_suppkey"),
            // decomposed on purpose: "e" + U+0301 COMBINING ACUTE, written as an
            // escape so no editor/encoding pass can silently precompose it
            concat(col("s_name"), lit("e\u0301")).as("raw"))
          .select(col("s_suppkey"),
            length(col("raw")).cast("long").as("raw_len"),
            graft.plans.GraftFunctions
              .unicodeNormalizeNative(col("raw"), "NFC").as("nfc"))
          .withColumn("nfc_len", length(col("nfc")).cast("long"))
          .orderBy("s_suppkey")
      },
      Some("""SELECT s_suppkey,
             |  length(s_name || 'e' || chr(769)) AS raw_len,
             |  nfc_normalize(s_name || 'e' || chr(769)) AS nfc,
             |  length(nfc_normalize(s_name || 'e' || chr(769))) AS nfc_len
             |FROM supplier ORDER BY s_suppkey""".stripMargin)),

    // BPE-style pre-tokenization (the GPT-2 pattern's shape with explicit
    // char classes — contractions, space-prefixed letter runs, digit runs,
    // punctuation runs, whitespace): the token COUNT a byte-pair tokenizer
    // would see, vs the whitespace count (q20's). Both regex engines (Java,
    // RE2) use leftmost-first alternation, so the same pattern text yields
    // the same split. A punctuation/number/contraction tail is appended to
    // each document (the fixture is bare lowercase words) so every branch
    // of the pattern is exercised and oracle-checked.
    QuerySpec("q129_bpe_regex_tokens",
      (s, d) => {
        val pat = "'(?:s|t|re|ve|m|ll|d)| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+| +"
        t(s, d, "documents")
          .select(col("doc_id"),
            concat(col("text"), lit(", isn't it 42 %!")).as("txt"))
          .select(col("doc_id"),
            size(split(col("txt"), " ")).cast("long").as("n_ws"),
            size(regexp_extract_all(col("txt"), lit(pat), lit(0)))
              .cast("long").as("n_bpe"))
          .withColumn("expansion",
            col("n_bpe").cast("double") / col("n_ws").cast("double"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
             |  len(string_split(text || ', isn''t it 42 %!', ' ')) AS n_ws,
             |  len(regexp_extract_all(text || ', isn''t it 42 %!',
             |    '''(?:s|t|re|ve|m|ll|d)| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+| +'))
             |    AS n_bpe,
             |  CAST(len(regexp_extract_all(text || ', isn''t it 42 %!',
             |    '''(?:s|t|re|ve|m|ll|d)| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+| +'))
             |    AS DOUBLE) /
             |  len(string_split(text || ', isn''t it 42 %!', ' ')) AS expansion
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // Sparse TF-IDF retrieval: prefix-filtered (PPJoin-style, rarest-term
    // block) candidate pairs scored by exact sparse cosine — integer
    // quantized-idf weights make every dot product and norm an exact
    // BIGINT sum (no float summation order), so the whole retrieval
    // pipeline is hash-checked. See InvertedIndex.sparseCosinePairs for
    // the recall contract.
    QuerySpec("q132_tfidf_retrieval",
      (s, d) => graft.operators.InvertedIndex.sparseCosinePairs(
        t(s, d, "documents"), "doc_id", "text", minCos = 0.5)
        .orderBy("a_id", "b_id"),
      Some("""WITH tokd AS (
             |  SELECT doc_id AS doc, unnest(string_split(text,' ')) AS term
             |  FROM documents
             |), tf AS (
             |  SELECT term, doc, count(*) AS tf FROM tokd GROUP BY 1, 2
             |), dft AS (
             |  SELECT term, count(*) AS df FROM tf GROUP BY term
             |), nd AS (SELECT count(*) AS n_docs FROM documents),
             |wts AS (
             |  SELECT doc, term, tf, df,
             |    tf * ((n_docs * 1000) // df) AS w
             |  FROM tf JOIN dft USING (term) CROSS JOIN nd
             |), norms AS (
             |  SELECT doc, CAST(sum(w * w) AS BIGINT) AS nn FROM wts GROUP BY doc
             |), rarest AS (
             |  SELECT doc, btok FROM (
             |    SELECT doc, btok,
             |      row_number() OVER (PARTITION BY btok ORDER BY doc) AS bn
             |    FROM (
             |      SELECT doc, term AS btok FROM (
             |        SELECT doc, term,
             |          row_number() OVER (PARTITION BY doc ORDER BY df, term) AS rn
             |        FROM wts) WHERE rn = 1))
             |  WHERE bn <= 64
             |), cand AS (
             |  SELECT a.doc AS a_id, b.doc AS b_id
             |  FROM rarest a JOIN rarest b USING (btok) WHERE a.doc < b.doc
             |), dot AS (
             |  SELECT c.a_id, c.b_id, CAST(sum(wa.w * wb.w) AS BIGINT) AS dot
             |  FROM cand c
             |  JOIN wts wa ON wa.doc = c.a_id
             |  JOIN wts wb ON wb.doc = c.b_id AND wb.term = wa.term
             |  GROUP BY 1, 2)
             |SELECT d.a_id, d.b_id, d.dot,
             |  CAST(d.dot AS DOUBLE) /
             |    (sqrt(CAST(na.nn AS DOUBLE)) * sqrt(CAST(nb.nn AS DOUBLE))) AS cos
             |FROM dot d
             |JOIN norms na ON na.doc = d.a_id
             |JOIN norms nb ON nb.doc = d.b_id
             |WHERE CAST(d.dot AS DOUBLE) /
             |    (sqrt(CAST(na.nn AS DOUBLE)) * sqrt(CAST(nb.nn AS DOUBLE))) >= 0.5
             |ORDER BY a_id, b_id""".stripMargin)),

    // Per-source lexical diversity — the vocabulary-richness report a
    // mixture designer reads before weighting sources: token volume,
    // distinct-type count, type-token ratio, and hapax (frequency-1)
    // mass. One (source, token) reduce (map-side combinable; shuffle is
    // the per-source vocabulary projection, Zipf-bounded at any corpus
    // size) feeding a source-keyed rollup — ratios are exact integer
    // divisions in doubles.
    QuerySpec("q151_lexical_diversity",
      (s, d) => {
        val docs = t(s, d, "documents")
        val st = docs
          .select(col("source"), explode(tokens(col("text"))).as("tok"))
          .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("c"))
        val perSrc = st.groupBy(col("source")).agg(
          sum(col("c")).as("n_tok"),
          count(lit(1)).as("n_types"),
          sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_hapax"))
        val nd = docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
        nd.join(perSrc, "source")
          .select(col("source"), col("n_docs"), col("n_tok"), col("n_types"),
            col("n_hapax"),
            (col("n_types").cast("double") / col("n_tok").cast("double"))
              .as("ttr"),
            (col("n_hapax").cast("double") / col("n_types").cast("double"))
              .as("hapax_frac"))
          .orderBy("source")
      },
      Some("""WITH st AS (
             |  SELECT source, tok, count(*) AS c FROM (
             |    SELECT source, unnest(string_split(text,' ')) AS tok
             |    FROM documents)
             |  GROUP BY source, tok
             |), per_src AS (
             |  SELECT source, CAST(sum(c) AS BIGINT) AS n_tok,
             |    count(*) AS n_types,
             |    CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax
             |  FROM st GROUP BY source
             |), nd AS (
             |  SELECT source, count(*) AS n_docs FROM documents GROUP BY source)
             |SELECT source, n_docs, n_tok, n_types, n_hapax,
             |  CAST(n_types AS DOUBLE) / CAST(n_tok AS DOUBLE) AS ttr,
             |  CAST(n_hapax AS DOUBLE) / CAST(n_types AS DOUBLE) AS hapax_frac
             |FROM nd JOIN per_src USING (source)
             |ORDER BY source""".stripMargin)),

    // Repetition-loop detector: per document, the most-repeated trigram
    // and its count — the WITHIN-document repetition signal that catches
    // degenerate generation loops and boilerplate stutters ("batch batch
    // batch…"), the complement of q118's corpus-wide span duplication
    // and q68's token-level dup fractions (a doc can pass both while one
    // phrase loops). The argmax is a struct-max per doc ((count, gram)
    // lexicographic, ties to the largest gram — mirrored exactly in the
    // oracle's ORDER BY c DESC, g DESC), never a corpus window; work is
    // one linear trigram explode + one (doc, gram)-keyed aggregation +
    // one doc-keyed rollup, all map-side combinable.
    QuerySpec("q183_repetition_loops",
      (s, d) => {
        val grams = t(s, d, "documents")
          .select(col("doc_id"), split(col("text"), " ").as("s"))
          .filter(size(col("s")) >= 3)
          .select(col("doc_id"), explode(expr(
            "transform(sequence(1, size(s)-2), i -> concat_ws(' ', s[i-1], s[i], s[i+1]))"))
            .as("g"))
        grams.groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
          .groupBy(col("doc_id"))
          .agg(max(struct(col("c"), col("g"))).as("m"),
            sum(col("c")).as("n_grams"),
            count(lit(1)).as("n_distinct_grams"))
          .select(col("doc_id"), col("m.c").as("max_repeat"),
            col("m.g").as("top_gram"), col("n_grams"), col("n_distinct_grams"),
            (col("m.c") >= 3).as("loop_flag"))
          .orderBy("doc_id")
      },
      Some("""WITH s AS (
             |  SELECT doc_id, string_split(text, ' ') AS s FROM documents
             |  WHERE len(string_split(text, ' ')) >= 3
             |), g AS (
             |  SELECT doc_id,
             |    unnest([array_to_string(s[i:i+2], ' ')
             |            FOR i IN range(1, len(s) - 1)]) AS g
             |  FROM s
             |), cnt AS (
             |  SELECT doc_id, g, count(*) AS c FROM g GROUP BY doc_id, g
             |), pick AS (
             |  SELECT doc_id, g, c,
             |    row_number() OVER (PARTITION BY doc_id
             |      ORDER BY c DESC, g DESC) AS rn,
             |    CAST(sum(c) OVER (PARTITION BY doc_id) AS BIGINT) AS n_grams,
             |    count(*) OVER (PARTITION BY doc_id) AS n_distinct_grams
             |  FROM cnt
             |)
             |SELECT doc_id, c AS max_repeat, g AS top_gram, n_grams,
             |  n_distinct_grams, c >= 3 AS loop_flag
             |FROM pick WHERE rn = 1 ORDER BY doc_id""".stripMargin)),

    // Zipf rank-frequency profile: the top-50 tokens with their global
    // frequency rank and the rank·count product — the corpus-linguistics
    // sanity check (Zipf's law: rank·freq ≈ constant) that exposes a
    // synthetic or template-stamped corpus (flat products) versus
    // natural text (≈ hyperbolic decay) at a glance, and sizes stopword
    // lists. Corpus-scale work is one vocabulary-shaped aggregation +
    // TakeOrdered 50; the rank column is a window over the 50
    // SURVIVORS, not the vocabulary (the spine argument).
    QuerySpec("q197_zipf_profile",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val top = t(s, d, "documents")
          .select(explode(split(col("text"), " ")).as("tok"))
          .filter(length(col("tok")) > 0)
          .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
          .orderBy(desc("cnt"), col("tok")).limit(50)
        top.withColumn("rank",
            row_number().over(Window.orderBy(desc("cnt"), col("tok"))).cast("long"))
          .select(col("rank"), col("tok"), col("cnt"),
            (col("rank") * col("cnt")).as("rank_times_cnt"))
          .orderBy("rank")
      },
      Some("""WITH c AS (
             |  SELECT tok, count(*) AS cnt FROM (
             |    SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
             |  WHERE len(tok) > 0 GROUP BY tok
             |  ORDER BY cnt DESC, tok LIMIT 50
             |)
             |SELECT CAST(row_number() OVER (ORDER BY cnt DESC, tok) AS BIGINT) AS rank,
             |  tok, cnt,
             |  CAST(row_number() OVER (ORDER BY cnt DESC, tok) AS BIGINT) * cnt
             |    AS rank_times_cnt
             |FROM c ORDER BY rank""".stripMargin)),

    // Count-Min sketch heavy hitters, oracle-gated END TO END — the
    // mergeable frequency sketch next to the KMV distinct sketch (q187)
    // and HLL (q73/q99): 4 affine hash rows × 1024 buckets of exact
    // long counters built in ONE keyed aggregation (map-side combined;
    // the counter frame is ≤4096 rows no matter the corpus), point
    // estimates as the min over a term's 4 bucket reads, and the
    // one-sided error surfaced as `overcount` (collisions only ever
    // inflate — estimate ≥ exact ALWAYS, which the planted spec pins
    // and the exact column exposes per term). The md5 term-hash bridge
    // and literal affine constants make the whole sketch bit-identical
    // in DuckDB — the sketch is hash-CHECKED, not statistically
    // trusted. Streaming form: cmsMonitorSink merges per-batch counter
    // partials by plain addition.
    QuerySpec("q217_countmin_heavyhitters",
      (s, d) => {
        import s.implicits._
        val toks = t(s, d, "documents")
          .select(explode(split(col("text"), " ")).as("term"))
        val counters = graft.operators.CountMin.sketch(toks, "term")
        val qt = CmsTerms.toDF("term")
        val exacts = toks.join(broadcast(qt), Seq("term"))
          .groupBy(col("term")).agg(count(lit(1)).as("exact_cnt"))
        graft.operators.CountMin.report(counters, exacts, qt)
      },
      Some("""WITH tok AS (
             |  SELECT unnest(string_split(text, ' ')) AS term FROM documents
             |), h AS (
             |  SELECT term,
             |    ('0x' || substr(md5(term),1,15))::BIGINT % 2147483647 AS hp
             |  FROM tok
             |), pairs AS (
             |  SELECT 0 AS r, (1103515245*hp + 12345) % 2147483647 % 1024 AS bkt FROM h
             |  UNION ALL SELECT 1, (214013*hp + 2531011) % 2147483647 % 1024 FROM h
             |  UNION ALL SELECT 2, (134775813*hp + 1) % 2147483647 % 1024 FROM h
             |  UNION ALL SELECT 3, (22695477*hp + 7777) % 2147483647 % 1024 FROM h
             |), counters AS (SELECT r, bkt, count(*) AS c FROM pairs GROUP BY 1, 2),
             |qt(term) AS (VALUES ('spark'),('join'),('window'),('scan'),
             |                    ('stream'),('batch'),('hash')),
             |qh AS (
             |  SELECT term,
             |    ('0x' || substr(md5(term),1,15))::BIGINT % 2147483647 AS hp
             |  FROM qt
             |), qp AS (
             |  SELECT term, 0 AS r, (1103515245*hp + 12345) % 2147483647 % 1024 AS bkt FROM qh
             |  UNION ALL SELECT term, 1, (214013*hp + 2531011) % 2147483647 % 1024 FROM qh
             |  UNION ALL SELECT term, 2, (134775813*hp + 1) % 2147483647 % 1024 FROM qh
             |  UNION ALL SELECT term, 3, (22695477*hp + 7777) % 2147483647 % 1024 FROM qh
             |), est AS (
             |  SELECT term, CAST(min(COALESCE(c, 0)) AS BIGINT) AS cms_estimate
             |  FROM qp LEFT JOIN counters USING (r, bkt) GROUP BY term
             |), ex AS (
             |  SELECT term, count(*) AS exact_cnt FROM tok
             |  WHERE term IN (SELECT term FROM qt) GROUP BY term)
             |SELECT qt.term, COALESCE(exact_cnt, 0) AS exact_cnt,
             |  cms_estimate,
             |  cms_estimate - COALESCE(exact_cnt, 0) AS overcount
             |FROM qt LEFT JOIN ex USING (term) JOIN est USING (term)
             |ORDER BY term""".stripMargin))
  )

  /** q217's fixed probe terms — shared with the streaming CMS monitor
    * so the streamed report is comparable to the batch query. */
  val CmsTerms: Seq[String] =
    Seq("spark", "join", "window", "scan", "stream", "batch", "hash")

  /** q218 lives here rather than in the Seq literal above only to keep
    * the two CMS queries adjacent to their shared term list. */
  val cmsJoinSizeSpec: QuerySpec =
    // Sketch-based JOIN-SIZE estimation (the AGMS/CMS inner-product
    // classic) — what a planner consults BEFORE picking a join
    // strategy at 100 TB: the equijoin cardinality between two token
    // streams (even vs odd doc_ids) bounded from two CONSTANT-SIZE
    // counter frames, Σ_b cA[r][b]·cB[r][b] per hash row, one-sided
    // (≥ the true Σ_t fA·fB for every row; the min over the 4 rows is
    // the usable estimate). The true size is computed exactly beside
    // it, so the report carries its own error audit — and everything
    // is exact longs + one per-row ratio, bit-identical in DuckDB.
    QuerySpec("q218_cms_join_size",
      (s, d) => {
        val docs = t(s, d, "documents")
        def toks(even: Boolean) = docs
          .filter(col("doc_id") % 2 === (if (even) 0 else 1))
          .select(explode(split(col("text"), " ")).as("term"))
        val (a, b) = (toks(even = true), toks(even = false))
        val est = graft.operators.CountMin.joinSizeEstimates(
          graft.operators.CountMin.sketch(a, "term"),
          graft.operators.CountMin.sketch(b, "term"))
        val exact = a.groupBy(col("term")).agg(count(lit(1)).as("fa"))
          .join(b.groupBy(col("term")).agg(count(lit(1)).as("fb")), "term")
          .agg(coalesce(sum(col("fa") * col("fb")), lit(0L))
            .as("exact_size"))
        est.crossJoin(broadcast(exact))
          .select(col("r").cast("long").as("r"), col("estimate"),
            col("exact_size"),
            when(col("exact_size") > 0,
              col("estimate").cast("double") / col("exact_size"))
              .as("ratio"))
          .orderBy("r")
      },
      Some("""WITH ta AS (
             |  SELECT unnest(string_split(text, ' ')) AS term
             |  FROM documents WHERE doc_id % 2 = 0
             |), tb AS (
             |  SELECT unnest(string_split(text, ' ')) AS term
             |  FROM documents WHERE doc_id % 2 = 1
             |), ha AS (
             |  SELECT ('0x' || substr(md5(term),1,15))::BIGINT % 2147483647
             |    AS hp FROM ta
             |), pa AS (
             |  SELECT 0 AS r, (1103515245*hp + 12345) % 2147483647 % 1024 AS bkt FROM ha
             |  UNION ALL SELECT 1, (214013*hp + 2531011) % 2147483647 % 1024 FROM ha
             |  UNION ALL SELECT 2, (134775813*hp + 1) % 2147483647 % 1024 FROM ha
             |  UNION ALL SELECT 3, (22695477*hp + 7777) % 2147483647 % 1024 FROM ha
             |), ca AS (SELECT r, bkt, count(*) AS c FROM pa GROUP BY 1, 2),
             |hb AS (
             |  SELECT ('0x' || substr(md5(term),1,15))::BIGINT % 2147483647
             |    AS hp FROM tb
             |), pb AS (
             |  SELECT 0 AS r, (1103515245*hp + 12345) % 2147483647 % 1024 AS bkt FROM hb
             |  UNION ALL SELECT 1, (214013*hp + 2531011) % 2147483647 % 1024 FROM hb
             |  UNION ALL SELECT 2, (134775813*hp + 1) % 2147483647 % 1024 FROM hb
             |  UNION ALL SELECT 3, (22695477*hp + 7777) % 2147483647 % 1024 FROM hb
             |), cb AS (SELECT r, bkt, count(*) AS c FROM pb GROUP BY 1, 2),
             |est AS (
             |  SELECT ca.r, CAST(sum(ca.c * cb.c) AS BIGINT) AS estimate
             |  FROM ca JOIN cb ON ca.r = cb.r AND ca.bkt = cb.bkt
             |  GROUP BY ca.r
             |), ex AS (
             |  SELECT CAST(COALESCE(sum(fa * fb), 0) AS BIGINT) AS exact_size
             |  FROM (SELECT term, count(*) AS fa FROM ta GROUP BY 1) a
             |  JOIN (SELECT term, count(*) AS fb FROM tb GROUP BY 1) b
             |    USING (term))
             |SELECT CAST(r AS BIGINT) AS r, estimate, exact_size,
             |  CASE WHEN exact_size > 0
             |       THEN CAST(estimate AS DOUBLE) / exact_size END AS ratio
             |FROM est, ex ORDER BY r""".stripMargin))

  /** CMS DELETE maintenance — the sketch family closed under deletion
    * where the mathematics allows it: counters are linear, so the
    * pruned sketch is the full sketch MINUS the tombstoned docs' own
    * sketch — a |deleted|-sized adjustment, never a recount of the
    * surviving corpus — and equals a fresh build over the remainder
    * EXACTLY (CountMinSpec pins frame equality; this query gates the
    * served report). Bloom (q219) and KMV (q187) provably lack the
    * property (a shared bit cannot be unset, a discarded (k+1)-th
    * minimum cannot be recovered) — for them deletion means rebuild,
    * which is why only CMS gets the delete column in the lifecycle
    * table. The report is q217's, served from the pruned sketch with
    * exact remainder counts beside it — one-sidedness survives pruning
    * because pruned ≡ rebuild-over-remainder.
    */
  val cmsDeleteSpec: QuerySpec =
    QuerySpec("q228_cms_delete",
      (s, d) => {
        import s.implicits._
        val docs = t(s, d, "documents")
        def toks(df: org.apache.spark.sql.DataFrame) =
          df.select(explode(split(col("text"), " ")).as("term"))
        val full = graft.operators.CountMin.sketch(toks(docs), "term")
        val deleted = graft.operators.CountMin.sketch(
          toks(docs.filter(col("doc_id") % 10 === 7)), "term")
        val pruned = graft.operators.CountMin.delete(full, deleted)
        val qt = CmsTerms.toDF("term")
        val remainder = toks(docs.filter(col("doc_id") % 10 =!= 7))
        val exacts = remainder.join(broadcast(qt), Seq("term"))
          .groupBy(col("term")).agg(count(lit(1)).as("exact_cnt"))
        graft.operators.CountMin.report(pruned, exacts, qt)
      },
      Some("""WITH tok AS (
             |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
             |  FROM documents
             |), h AS (
             |  SELECT doc_id,
             |    ('0x' || substr(md5(term),1,15))::BIGINT % 2147483647 AS hp
             |  FROM tok
             |), pairs AS (
             |  SELECT doc_id, 0 AS r, (1103515245*hp + 12345) % 2147483647 % 1024 AS bkt FROM h
             |  UNION ALL SELECT doc_id, 1, (214013*hp + 2531011) % 2147483647 % 1024 FROM h
             |  UNION ALL SELECT doc_id, 2, (134775813*hp + 1) % 2147483647 % 1024 FROM h
             |  UNION ALL SELECT doc_id, 3, (22695477*hp + 7777) % 2147483647 % 1024 FROM h
             |), full_c AS (SELECT r, bkt, count(*) AS c FROM pairs GROUP BY 1, 2),
             |del_c AS (
             |  SELECT r, bkt, count(*) AS c FROM pairs
             |  WHERE doc_id % 10 = 7 GROUP BY 1, 2
             |), pruned AS (
             |  SELECT f.r, f.bkt, f.c - COALESCE(d.c, 0) AS c
             |  FROM full_c f LEFT JOIN del_c d
             |    ON f.r = d.r AND f.bkt = d.bkt
             |  WHERE f.c - COALESCE(d.c, 0) > 0
             |), qt(term) AS (VALUES ('spark'),('join'),('window'),('scan'),
             |                       ('stream'),('batch'),('hash')),
             |qh AS (
             |  SELECT term,
             |    ('0x' || substr(md5(term),1,15))::BIGINT % 2147483647 AS hp
             |  FROM qt
             |), qp AS (
             |  SELECT term, 0 AS r, (1103515245*hp + 12345) % 2147483647 % 1024 AS bkt FROM qh
             |  UNION ALL SELECT term, 1, (214013*hp + 2531011) % 2147483647 % 1024 FROM qh
             |  UNION ALL SELECT term, 2, (134775813*hp + 1) % 2147483647 % 1024 FROM qh
             |  UNION ALL SELECT term, 3, (22695477*hp + 7777) % 2147483647 % 1024 FROM qh
             |), est AS (
             |  SELECT term, CAST(min(COALESCE(c, 0)) AS BIGINT) AS cms_estimate
             |  FROM qp LEFT JOIN pruned USING (r, bkt) GROUP BY term
             |), ex AS (
             |  SELECT term, count(*) AS exact_cnt FROM tok
             |  WHERE doc_id % 10 <> 7 AND term IN (SELECT term FROM qt)
             |  GROUP BY term)
             |SELECT qt.term, COALESCE(exact_cnt, 0) AS exact_cnt,
             |  cms_estimate,
             |  cms_estimate - COALESCE(exact_cnt, 0) AS overcount
             |FROM qt LEFT JOIN ex USING (term) JOIN est USING (term)
             |ORDER BY term""".stripMargin))
}
