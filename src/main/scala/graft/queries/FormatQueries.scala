package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.{Convert, OperatorCaches}
import graft.sources.Scan
import Q._

/** Interchange-format round-trips (JSON-lines, ORC) plus the
  * approximate-vs-exact sketch contract and the typed custom Aggregator —
  * oracles aggregate the same parquet source directly, so a round-trip
  * that drops or mangles rows hash-mismatches.
  */
object FormatQueries {

  val specs: Seq[QuerySpec] = Seq(

    // Compression-codec round-trips: zstd parquet and gzip CSV written and
    // read back losslessly (storage codecs are a first-order cost lever at
    // 100 TB — zstd parquet is the archival default, gzip the CSV-export
    // compromise). The aggregate after each round trip must equal the
    // plain-SQL oracle over the source table; the `fmt` column pins which
    // path produced which rows.
    QuerySpec("q133_codec_roundtrip",
      (s, d) => {
        val docs = t(s, d, "documents")
        val tmp = OperatorCaches.deleteOnRelease(
          Files.createTempDirectory("graft_codec")).toString
        Convert.toParquet(docs, s"$tmp/zstd_pq", codec = "zstd")
        docs.write.option("compression", "gzip").option("header", "true")
          .mode("overwrite").csv(s"$tmp/gz_csv")
        def agg(df: org.apache.spark.sql.DataFrame, fmt: String) =
          df.groupBy(col("lang"))
            .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
            .withColumn("fmt", lit(fmt))
        val pq = s.read.parquet(s"$tmp/zstd_pq")
        val csv = s.read.schema(docs.schema).option("header", "true")
          .csv(s"$tmp/gz_csv")
        agg(pq, "parquet_zstd").unionByName(agg(csv, "csv_gzip"))
          .select(col("fmt"), col("lang"), col("n"), col("sum_chars"))
          .orderBy("fmt", "lang")
      },
      Some("""SELECT fmt, lang, count(*) AS n,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
             |FROM documents
             |CROSS JOIN (VALUES ('csv_gzip'), ('parquet_zstd')) f(fmt)
             |GROUP BY fmt, lang ORDER BY fmt, lang""".stripMargin)),

    // JSONL sink → schema'd JSONL scan → aggregate. Inference is never
    // used (scale doctrine: schema-on-read over millions of JSON files
    // costs a second full pass and unions drifted types).
    QuerySpec("q71_jsonl_roundtrip",
      (s, d) => {
        val docs = t(s, d, "documents")
        val tmp = OperatorCaches.deleteOnRelease(
          Files.createTempDirectory("graft_jsonl")).toString
        Convert.toJsonl(docs, s"$tmp/docs")
        Scan.jsonlWithSchema(s, docs.schema, s"$tmp/docs")
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
          .orderBy("lang")
      },
      Some("""SELECT lang, count(*) AS n,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
             |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),

    // ORC sink → ORC scan → aggregate (the other native columnar format;
    // column pruning and predicate pushdown reach its reader like
    // parquet's).
    QuerySpec("q72_orc_roundtrip",
      (s, d) => {
        val docs = t(s, d, "documents")
        val tmp = OperatorCaches.deleteOnRelease(
          Files.createTempDirectory("graft_orc")).toString
        Convert.toOrc(docs, s"$tmp/docs")
        Scan.orc(s, s"$tmp/docs")
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n"),
            min(col("n_chars")).as("min_chars"), max(col("n_chars")).as("max_chars"))
          .orderBy("source")
      },
      Some("""SELECT source, count(*) AS n,
             |  min(n_chars) AS min_chars, max(n_chars) AS max_chars
             |FROM documents GROUP BY source ORDER BY source""".stripMargin)),

    // Approximate distinct-count (HyperLogLog++) against the exact count:
    // the oracle pins the exact side and the 5%-tolerance contract — the
    // sketch itself is engine-private, its ERROR BOUND is the portable
    // fact. (At these cardinalities Spark's HLL++ sparse mode is exact,
    // so the flag is deterministically true.)
    QuerySpec("q73_approx_distinct",
      (s, d) => t(s, d, "documents")
        .groupBy(col("lang"))
        .agg(countDistinct(col("text")).as("exact_distinct"),
          approx_count_distinct(col("text"), 0.01).as("__approx"))
        .select(col("lang"), col("exact_distinct"),
          (abs(col("__approx") - col("exact_distinct")) <=
            col("exact_distinct").cast("double") * 0.05).as("within_tol"))
        .orderBy("lang"),
      Some("""SELECT lang, count(DISTINCT text) AS exact_distinct,
             |  true AS within_tol
             |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),

    // MERGEABLE sketches — the property that makes approximation work on
    // a cluster: per-(lang, source) HLL partials (Datasketches
    // hll_sketch_agg) are UNIONED per lang and only then estimated,
    // mirroring the partial→final topology of a 1000-executor rollup
    // (sketches cross the wire, rows never do). Contract like q73: the
    // merged estimate must sit within 5% of exact.
    QuerySpec("q99_hll_merge",
      (s, d) => {
        val docs = t(s, d, "documents")
        val partials = docs
          .groupBy(col("lang"), col("source"))
          .agg(expr("hll_sketch_agg(text, 14)").as("sk"))
        val merged = partials.groupBy(col("lang"))
          .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("__est"))
        val exact = docs.groupBy(col("lang"))
          .agg(countDistinct(col("text")).as("exact_distinct"))
        // null-safe join key: a NULL-lang group must still pair up with
        // its exact twin (a plain equi-join would silently drop it,
        // diverging from the oracle's single-table GROUP BY); explicit
        // aliases because both sides share the docs lineage
        merged.as("m").join(exact.as("e"), col("m.lang") <=> col("e.lang"))
          .select(col("e.lang").as("lang"), col("exact_distinct"),
            (abs(col("__est") - col("exact_distinct")) <=
              col("exact_distinct").cast("double") * 0.05).as("within_tol"))
          .orderBy("lang")
      },
      Some("""SELECT lang, count(DISTINCT text) AS exact_distinct,
             |  true AS within_tol
             |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),

    // Approximate percentile (quantile sketch) under a RANK-tolerance
    // contract: the sketch value itself is engine-private, but the
    // fraction of rows at or below it must sit within 1 percentage point
    // of the target rank (accuracy 10000 → ε = 1e-4, so the 1 pp bound is
    // generous) — the portable fact the oracle pins, like q73's HLL
    // contract.
    QuerySpec("q85_approx_percentile",
      (s, d) => {
        val li = t(s, d, "lineitem")
          .select(col("l_returnflag"), col("l_extendedprice"))
        val ap = li.groupBy(col("l_returnflag"))
          .agg(expr("approx_percentile(l_extendedprice, 0.5, 10000)").as("__amed"))
        li.join(ap, "l_returnflag")
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"),
            sum(when(col("l_extendedprice") <= col("__amed"), 1L).otherwise(0L))
              .as("__below"))
          .select(col("l_returnflag"), col("n"),
            (col("__below").cast("double") / col("n").cast("double"))
              .between(0.49, 0.51).as("rank_ok"))
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag, count(*) AS n, true AS rank_ok
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // The custom whole-operator path (LogicalPlan + SparkStrategy +
    // SparkPlan via SparkSessionExtensions): per-key top-k with map-side
    // bounded heaps — shuffles only ≤ k·keys·partitions survivor rows and
    // never sorts a group, where the window formulation (q11) shuffles and
    // sorts EVERY row. Same result contract under a total order; the
    // oracle is the row_number formulation.
    QuerySpec("q75_topk_native",
      (s, d) => graft.plans.TopKPerKeyPlans.topKPerKey(
        t(s, d, "orders"), Seq("o_orderpriority"),
        Seq(desc("o_totalprice"), col("o_orderkey")), k = 3)
        .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_orderpriority"), desc("o_totalprice"), col("o_orderkey")),
      Some("""SELECT o_orderpriority, o_orderkey, o_totalprice FROM (
             |  SELECT o_orderpriority, o_orderkey, o_totalprice,
             |    row_number() OVER (PARTITION BY o_orderpriority
             |                       ORDER BY o_totalprice DESC, o_orderkey) AS rnk
             |  FROM orders) x
             |WHERE rnk <= 3
             |ORDER BY o_orderpriority, o_totalprice DESC, o_orderkey""".stripMargin)),

    // Typed custom Aggregator (the Dataset-side escalation path):
    // deterministic mean/variance via exact integer-cents accumulation —
    // float avg/var_samp are partition-order-dependent and can never
    // hash-match an oracle; this formulation is bit-reproducible in any
    // engine (see ExactMoments).
    QuerySpec("q74_exact_moments",
      (s, d) => {
        import s.implicits._
        t(s, d, "lineitem")
          .select(col("l_returnflag"), col("l_quantity"))
          .as[(String, Double)]
          .groupByKey(_._1)
          .agg(graft.functions.ExactMoments.of2.toColumn.name("m"))
          .select(col("key").as("l_returnflag"), col("m.n").as("n"),
            round(col("m.mean"), 6).as("mean_qty"),
            round(col("m.varSamp"), 6).as("var_qty"))
          .orderBy("l_returnflag")
      },
      Some("""WITH a AS (
             |  SELECT l_returnflag, count(*) AS n,
             |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS s,
             |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))
             |             * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS ss
             |  FROM lineitem GROUP BY l_returnflag)
             |SELECT l_returnflag, n,
             |  round(s / n, 6) AS mean_qty,
             |  round((ss - s * s / n) / (n - 1), 6) AS var_qty
             |FROM a ORDER BY l_returnflag""".stripMargin))
  )
}
