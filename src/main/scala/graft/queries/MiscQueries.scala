package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Scan
import Q._

/** Remaining operator coverage: schema-merge multi-file scan with file
  * provenance (S3), distinct, rollup, JSON extraction, scalar function
  * suite — each oracle-checked.
  */
object MiscQueries {

  /** q09's drifted-schema parquet sides, staged once per sfDir per run
    * (a FramePool directory) — the operator under test is the MERGE SCAN,
    * not the fixture construction; re-writing the sides on every call
    * would dominate its wall time (and a bench cell would time fixture
    * setup, not the scan). */
  private def stagedMergeSides(s: org.apache.spark.sql.SparkSession, d: String): String =
    graft.operators.FramePool.dir(("merge", d)) { tmp =>
      val c = t(s, d, "customer")
      c.select(col("c_custkey"), col("c_acctbal"))
        .write.mode("overwrite").parquet(s"$tmp/side_a")
      c.select(col("c_custkey"), col("c_mktsegment"))
        .write.mode("overwrite").parquet(s"$tmp/side_b")
    }.toString

  val specs: Seq[QuerySpec] = Seq(

    // S3: scan two parquet files with DRIFTED schemas (staged once from
    // customer) as one table with mergeSchema + input_file_name
    // provenance, and aggregate per source file. Null patterns prove
    // union-by-name alignment.
    QuerySpec("q09_merge_schema",
      (s, d) => {
        val tmp = stagedMergeSides(s, d)
        Scan.parquetMerged(s, Seq(s"$tmp/side_a", s"$tmp/side_b"))
          .withColumn("side", regexp_extract(col("filename"), "side_([ab])", 1))
          .groupBy(col("side"))
          .agg(count(lit(1)).as("n"),
            count(col("c_acctbal")).as("n_acctbal"),
            count(col("c_mktsegment")).as("n_mkt"),
            dsum(col("c_acctbal")).as("sum_acctbal"))
          .orderBy("side")
      },
      Some("""SELECT 'a' AS side, count(*) AS n, count(c_acctbal) AS n_acctbal,
             |  CAST(0 AS BIGINT) AS n_mkt,
             |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal
             |FROM customer
             |UNION ALL
             |SELECT 'b', count(*), CAST(0 AS BIGINT), count(c_mktsegment),
             |  CAST(NULL AS DOUBLE)
             |FROM customer ORDER BY side""".stripMargin)),

    // Distinct (shuffle dedup on the projected key set).
    QuerySpec("q16_distinct",
      (s, d) => t(s, d, "customer")
        .select("c_mktsegment", "c_nationkey").distinct()
        .orderBy("c_mktsegment", "c_nationkey"),
      Some("""SELECT DISTINCT c_mktsegment, c_nationkey FROM customer
             |ORDER BY c_mktsegment, c_nationkey""".stripMargin)),

    // Rollup (grouping-set aggregation). NULLS FIRST pinned on both sides —
    // Spark defaults nulls-first ascending, DuckDB nulls-last.
    QuerySpec("q17_rollup",
      (s, d) => t(s, d, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
        .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus")),
      Some("""SELECT l_returnflag, l_linestatus, count(*) AS n,
             |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
             |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
             |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin)),

    // Semi/anti joins: existence filtering without duplication — the
    // "keep documents that have/lack a match" primitive (Spark plans a
    // broadcast/shuffled semi join, never materializing the probe side).
    QuerySpec("q28_semi_anti",
      (s, d) => {
        val c = t(s, d, "customer")
        val o = t(s, d, "orders").select(col("o_custkey"))
        def agg(j: String, tag: String) =
          c.join(o, col("c_custkey") === col("o_custkey"), j)
            .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n"))
            .withColumn("op", lit(tag))
        agg("left_semi", "semi").unionByName(agg("left_anti", "anti"))
          .select(col("op"), col("c_mktsegment"), col("n"))
          .orderBy("op", "c_mktsegment")
      },
      Some("""SELECT 'semi' AS op, c_mktsegment, count(*) AS n FROM customer
             |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
             |GROUP BY c_mktsegment
             |UNION ALL
             |SELECT 'anti', c_mktsegment, count(*) FROM customer
             |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
             |GROUP BY c_mktsegment
             |ORDER BY op, c_mktsegment""".stripMargin)),

    // Cube (full grouping-set lattice; rollup's big sibling — q17).
    QuerySpec("q29_cube",
      (s, d) => t(s, d, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
        .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus")),
      Some("""SELECT l_returnflag, l_linestatus, count(*) AS n,
             |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
             |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
             |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin)),

    // JSON field extraction from the events props column + aggregation.
    // One from_json parse with an explicit schema per row — N extracted
    // fields cost one parse, where per-field get_json_object would re-parse
    // the document N times (it was the 2nd-slowest bench query that way).
    QuerySpec("q18_json_extract",
      (s, d) => events(s, d)
        .select(from_json(col("props"),
            org.apache.spark.sql.types.StructType.fromDDL("k INT"))
          .getField("k").as("k"),
          col("value"))
        .groupBy(col("k"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
        .orderBy("k"),
      Some("""SELECT CAST(props->>'k' AS INTEGER) AS k, count(*) AS n,
             |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
             |FROM events GROUP BY 1 ORDER BY k""".stripMargin)),

    // Window-function suite: lag/lead/rank/running-count per user over
    // event time — one state-partition key (user_id), total order inside.
    QuerySpec("q25_window_suite",
      (s, d) => {
        val byTime = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        val byValue = Window.partitionBy(col("user_id"))
          .orderBy(desc("value"), col("event_id"))
        events(s, d).filter(col("user_id") < 20)
          .select(col("user_id"), col("event_id"), col("value"),
            lag(col("value"), 1).over(byTime).as("prev_value"),
            lead(col("value"), 1).over(byTime).as("next_value"),
            rank().over(byValue).cast("long").as("rnk"),
            count(lit(1)).over(byTime.rowsBetween(Window.unboundedPreceding,
              Window.currentRow)).as("run_n"))
          .orderBy("user_id", "event_id")
      },
      Some("""SELECT user_id, event_id, value,
             |  lag(value) OVER wt AS prev_value,
             |  lead(value) OVER wt AS next_value,
             |  rank() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rnk,
             |  count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |                 ROWS UNBOUNDED PRECEDING) AS run_n
             |FROM events WHERE user_id < 20
             |WINDOW wt AS (PARTITION BY user_id ORDER BY ts, event_id)
             |ORDER BY user_id, event_id""".stripMargin)),

    // RANGE-frame window: trailing 1-hour sum per user over event time.
    // The frame key is integer epoch-seconds on BOTH engines (Spark's
    // cast(ts as long) truncation mirrored as epoch_us // 1000000), and
    // the windowed sum runs in exact decimal — Spark's sliding-frame
    // add/subtract accumulation order is not float-reproducible, decimal
    // is order-free.
    QuerySpec("q46_range_window",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        import org.apache.spark.sql.types.DecimalType
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts").cast("long")).rangeBetween(-3600, 0)
        events(s, d).filter(col("user_id") < 10)
          .select(col("user_id"), col("event_id"), col("value"),
            sum(col("value").cast(DecimalType(18, 2))).over(w)
              .cast("double").as("trailing_sum"))
          .orderBy("user_id", "event_id")
      },
      Some("""SELECT user_id, event_id, value,
             |  CAST(sum(CAST(value AS DECIMAL(18,2))) OVER (
             |    PARTITION BY user_id ORDER BY epoch_us(ts) // 1000000
             |    RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS DOUBLE)
             |    AS trailing_sum
             |FROM events WHERE user_id < 10
             |ORDER BY user_id, event_id""".stripMargin)),

    // Interval (range) join: each purchase joined to the views by the
    // same user in the preceding hour — the attribution shape. The join
    // condition is an equi-key (user_id) plus a time-range predicate;
    // Spark hash-partitions on the equi-key and range-filters within the
    // partition (never a cross join), and the same pipeline runs as a
    // watermarked stream-stream join (StreamingSpec twin).
    QuerySpec("q47_interval_join",
      (s, d) => {
        val e = events(s, d).filter(col("user_id") < 20)
        val p = e.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id").as("purchase_id"),
            col("ts").as("p_ts"))
        val v = e.filter(col("event_type") === "view")
          .select(col("user_id"), col("event_id").as("view_id"),
            col("ts").as("v_ts"))
        p.join(v, Seq("user_id"))
          .filter(col("v_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
            col("v_ts") <= col("p_ts"))
          .select(col("user_id"), col("purchase_id"), col("view_id"))
          .orderBy("user_id", "purchase_id", "view_id")
      },
      Some("""SELECT p.user_id, p.event_id AS purchase_id, v.event_id AS view_id
             |FROM (SELECT * FROM events WHERE user_id < 20 AND event_type = 'purchase') p
             |JOIN (SELECT * FROM events WHERE user_id < 20 AND event_type = 'view') v
             |  ON v.user_id = p.user_id
             | AND v.ts >= p.ts - INTERVAL 1 HOUR AND v.ts <= p.ts
             |ORDER BY p.user_id, purchase_id, view_id""".stripMargin)),

    // Relative-rank window family (complements q25's lag/lead/rank/count):
    // percent_rank, cume_dist, ntile quartiles, dense_rank — all over a
    // TOTAL per-user order (unique tie-break), so the peer-group-sensitive
    // functions are deterministic and engine-portable.
    QuerySpec("q108_rank_suite",
      (s, d) => {
        val byValue = Window.partitionBy(col("user_id"))
          .orderBy(desc("value"), col("event_id"))
        events(s, d).filter(col("user_id") < 10)
          .select(col("user_id"), col("event_id"), col("value"),
            percent_rank().over(byValue).as("pr"),
            cume_dist().over(byValue).as("cd"),
            ntile(4).over(byValue).cast("long").as("quartile"),
            dense_rank().over(byValue).cast("long").as("drnk"))
          .orderBy("user_id", "event_id")
      },
      Some("""SELECT user_id, event_id, value,
             |  percent_rank() OVER w AS pr,
             |  cume_dist() OVER w AS cd,
             |  ntile(4) OVER w AS quartile,
             |  CAST(dense_rank() OVER w AS BIGINT) AS drnk
             |FROM events WHERE user_id < 10
             |WINDOW w AS (PARTITION BY user_id
             |             ORDER BY value DESC, event_id)
             |ORDER BY user_id, event_id""".stripMargin)),

    // Per-row group standardization (z-score): the feature-engineering
    // normalize step. Group moments come from ONE decimal-exact
    // aggregation (q43's co-moment discipline — order-independent), get
    // broadcast back, and every row is standardized in the scan pass —
    // two jobs total, no window over the fact table. Deterministic output
    // order over every column (the fixture has repeated PK rows).
    QuerySpec("q103_zscore",
      (s, d) => {
        import org.apache.spark.sql.types.DecimalType
        val li = t(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"),
            col("l_returnflag"), col("l_quantity"))
        val dec = col("l_quantity").cast(DecimalType(18, 2))
        val nd = col("n").cast("double")
        val stats = li.groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"), sum(dec).as("sxd"),
            sum(dec * dec).as("sx2d"))
          .select(col("l_returnflag"),
            (col("sxd").cast("double") / nd).as("mean"),
            sqrt((nd * col("sx2d").cast("double")
              - col("sxd").cast("double") * col("sxd").cast("double"))
              / (nd * (nd - 1.0))).as("sd"))
        li.join(broadcast(stats), "l_returnflag")
          .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
            col("l_quantity"),
            ((col("l_quantity") - col("mean")) / col("sd")).as("z"))
          .orderBy("l_returnflag", "l_orderkey", "l_linenumber", "l_quantity")
      },
      Some("""WITH m AS (
             |  SELECT l_returnflag, count(*) AS n,
             |    sum(CAST(l_quantity AS DECIMAL(18,2))) AS sxd,
             |    sum(CAST(l_quantity AS DECIMAL(18,2))
             |      * CAST(l_quantity AS DECIMAL(18,2))) AS sx2d
             |  FROM lineitem GROUP BY l_returnflag
             |), st AS (
             |  SELECT l_returnflag,
             |    CAST(sxd AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
             |    sqrt((CAST(n AS DOUBLE) * CAST(sx2d AS DOUBLE)
             |      - CAST(sxd AS DOUBLE) * CAST(sxd AS DOUBLE))
             |      / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))) AS sd
             |  FROM m
             |)
             |SELECT l_orderkey, l_linenumber, l.l_returnflag, l_quantity,
             |  (l_quantity - mean) / sd AS z
             |FROM lineitem l JOIN st ON l.l_returnflag = st.l_returnflag
             |ORDER BY l.l_returnflag, l_orderkey, l_linenumber, l_quantity""".stripMargin)),

    // Equi-DEPTH histogram (complement of q39's fixed-width): exact decile
    // boundaries by DISTRIBUTED rank selection (operators.Percentiles —
    // range-partition sort + 18 rank fetches; Spark's own `percentile`
    // aggregate merges every value on one reducer, the single-task cliff
    // this path exists to avoid, and 2.4 s of the old 2.5 s bench cost),
    // then every row assigned by comparing against the 9 boundary values
    // in one codegen'd when-chain pass.
    QuerySpec("q102_equidepth_histogram",
      (s, d) => {
        val li = t(s, d, "lineitem").select(col("l_extendedprice"))
        val qs = graft.operators.Percentiles.exactInterpolated(
          li, "l_extendedprice",
          Seq(0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9))
        val bucket = qs.map(b =>
            when(col("l_extendedprice") > lit(b), 1).otherwise(0))
          .reduce(_ + _)
        li.groupBy(bucket.cast("long").as("bucket"))
          .agg(count(lit(1)).as("n"),
            min(col("l_extendedprice")).as("lo_price"),
            max(col("l_extendedprice")).as("hi_price"))
          .orderBy("bucket")
      },
      Some("""WITH q AS (
             |  SELECT quantile_cont(l_extendedprice,
             |    [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS qs
             |  FROM lineitem
             |), b AS (
             |  SELECT l_extendedprice,
             |    CAST((CASE WHEN l_extendedprice > qs[1] THEN 1 ELSE 0 END +
             |          CASE WHEN l_extendedprice > qs[2] THEN 1 ELSE 0 END +
             |          CASE WHEN l_extendedprice > qs[3] THEN 1 ELSE 0 END +
             |          CASE WHEN l_extendedprice > qs[4] THEN 1 ELSE 0 END +
             |          CASE WHEN l_extendedprice > qs[5] THEN 1 ELSE 0 END +
             |          CASE WHEN l_extendedprice > qs[6] THEN 1 ELSE 0 END +
             |          CASE WHEN l_extendedprice > qs[7] THEN 1 ELSE 0 END +
             |          CASE WHEN l_extendedprice > qs[8] THEN 1 ELSE 0 END +
             |          CASE WHEN l_extendedprice > qs[9] THEN 1 ELSE 0 END) AS BIGINT)
             |      AS bucket
             |  FROM lineitem, q
             |)
             |SELECT bucket, count(*) AS n, min(l_extendedprice) AS lo_price,
             |  max(l_extendedprice) AS hi_price
             |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin)),

    // PURE range join (no equi-key): price lookups against overlapping
    // intervals. Spark would plan the raw predicate join as a nested loop
    // — operators.RangeJoin bins both sides and equi-joins on the bin id
    // (residual containment filter after), the 100 TB shape. JoinSpec
    // asserts no NestedLoop/Cartesian appears in the plan.
    QuerySpec("q100_range_join_binned",
      (s, d) => {
        val li = t(s, d, "lineitem").select(col("l_extendedprice"))
        val iv = t(s, d, "orders")
          .filter(pmod(col("o_orderkey"), lit(229)) === 0)
          .select(col("o_orderkey").as("iv_id"),
            (col("o_totalprice") * 0.45).as("lo"),
            (col("o_totalprice") * 0.55).as("hi"))
        graft.operators.RangeJoin.pointInInterval(
            li, "l_extendedprice", iv, "lo", "hi", binWidth = 10000.0)
          .groupBy(col("iv_id"))
          .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("sum_price"))
          .orderBy("iv_id")
      },
      Some("""WITH iv AS (
             |  SELECT o_orderkey AS iv_id, o_totalprice*0.45 AS lo,
             |         o_totalprice*0.55 AS hi
             |  FROM orders WHERE o_orderkey % 229 = 0)
             |SELECT iv_id, count(*) AS n,
             |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
             |FROM lineitem JOIN iv
             |  ON l_extendedprice >= lo AND l_extendedprice <= hi
             |GROUP BY iv_id ORDER BY iv_id""".stripMargin)),

    // Set operations: INTERSECT and EXCEPT (distinct semantics) between the
    // customer and supplier nation-key sets.
    QuerySpec("q26_setops",
      (s, d) => {
        val c = t(s, d, "customer").select(col("c_nationkey").as("x"))
        val sup = t(s, d, "supplier").select(col("s_nationkey").as("x"))
        c.intersect(sup).withColumn("op", lit("intersect"))
          .unionByName(c.except(sup).withColumn("op", lit("except")))
          .orderBy("op", "x")
      },
      Some("""SELECT x, 'intersect' AS op FROM
             |  (SELECT c_nationkey AS x FROM customer
             |   INTERSECT SELECT s_nationkey FROM supplier)
             |UNION ALL
             |SELECT x, 'except' FROM
             |  (SELECT c_nationkey AS x FROM customer
             |   EXCEPT SELECT s_nationkey FROM supplier)
             |ORDER BY op, x""".stripMargin)),

    // Deterministic hash-stratified sample: md5-derived bucket of doc_id
    // under a per-lang percentage. Unlike the seeded-RNG sample (O2/q06,
    // engine-private ordering → count-only checkable), membership is a
    // pure function of the key — reproducible across engines, stable
    // under reordering, nested across pct increases — so the SAMPLE
    // ITSELF is hash-checked row for row. No shuffle: a codegen'd filter.
    QuerySpec("q38_hash_sample",
      (s, d) => {
        val docs = t(s, d, "documents")
        val pct = when(col("lang") === "en", 40)
          .when(col("lang") === "de", 20).otherwise(10)
        graft.operators.Transforms.hashSample(docs, col("doc_id"), pct)
          .select(col("doc_id"), col("lang"),
            graft.operators.Transforms.hashBucket(col("doc_id")).as("bucket"))
          .orderBy("doc_id")
      },
      Some("""WITH b AS (
             |  SELECT doc_id, lang,
             |    ('0x' || substr(md5(doc_id::VARCHAR),1,15))::BIGINT % 100 AS bucket
             |  FROM documents
             |)
             |SELECT doc_id, lang, bucket FROM b
             |WHERE bucket < CASE WHEN lang = 'en' THEN 40
             |                    WHEN lang = 'de' THEN 20 ELSE 10 END
             |ORDER BY doc_id""".stripMargin)),

    // Portable histogram: fixed-width binning by floor arithmetic (no
    // engine-specific width_bucket), counts + exact decimal sums per bin.
    QuerySpec("q39_histogram",
      (s, d) => t(s, d, "lineitem")
        .select(floor((col("l_quantity") - 1.0) / 5.0).cast("long").as("bin"),
          col("l_quantity"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
        .orderBy("bin"),
      Some("""SELECT CAST(floor((l_quantity - 1.0) / 5.0) AS BIGINT) AS bin,
             |  count(*) AS n,
             |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
             |FROM lineitem GROUP BY 1 ORDER BY bin""".stripMargin)),

    // Exact-moment descriptive stats: mean/variance/stddev composed from
    // decimal Σx and Σx² (exact, partition-order-free) with the final
    // double arithmetic written identically on both engines — the
    // scale-safe alternative to builtin var_samp/stddev, whose distributed
    // co-moment accumulation is not bit-reproducible across engines.
    QuerySpec("q43_group_stats",
      (s, d) => {
        import org.apache.spark.sql.types.DecimalType
        val dec = col("l_quantity").cast(DecimalType(18, 2))
        t(s, d, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"),
            sum(dec).as("sxd"),
            sum(dec * dec).as("sx2d"))
          .select(col("l_returnflag"), col("n"),
            (col("sxd").cast("double") / col("n").cast("double")).as("mean"),
            ((col("n").cast("double") * col("sx2d").cast("double")
              - col("sxd").cast("double") * col("sxd").cast("double"))
              / (col("n").cast("double") * (col("n").cast("double") - 1.0)))
              .as("var_samp"),
            sqrt((col("n").cast("double") * col("sx2d").cast("double")
              - col("sxd").cast("double") * col("sxd").cast("double"))
              / (col("n").cast("double") * (col("n").cast("double") - 1.0)))
              .as("stddev"))
          .orderBy("l_returnflag")
      },
      Some("""WITH m AS (
             |  SELECT l_returnflag, count(*) AS n,
             |    sum(CAST(l_quantity AS DECIMAL(18,2))) AS sxd,
             |    sum(CAST(l_quantity AS DECIMAL(18,2))
             |      * CAST(l_quantity AS DECIMAL(18,2))) AS sx2d
             |  FROM lineitem GROUP BY l_returnflag
             |)
             |SELECT l_returnflag, n,
             |  CAST(sxd AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
             |  (CAST(n AS DOUBLE) * CAST(sx2d AS DOUBLE)
             |     - CAST(sxd AS DOUBLE) * CAST(sxd AS DOUBLE))
             |    / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) AS var_samp,
             |  sqrt((CAST(n AS DOUBLE) * CAST(sx2d AS DOUBLE)
             |     - CAST(sxd AS DOUBLE) * CAST(sxd AS DOUBLE))
             |    / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))) AS stddev
             |FROM m ORDER BY l_returnflag""".stripMargin)),

    // Salted two-phase aggregation (skew mitigation): result must be
    // bit-identical to the plain one-phase GROUP BY the oracle runs —
    // decimal sums are associative, so the salt fan-out is semantically
    // invisible.
    QuerySpec("q44_salted_agg",
      (s, d) => graft.operators.Skew.saltedDsum(
        t(s, d, "lineitem"), Seq("l_returnflag"), col("l_quantity"))
        .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag,
             |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
             |  count(*) AS n
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // Exact interpolated quartiles per group (percentile ≡ DuckDB
    // quantile_cont: linear interpolation on the sorted values).
    QuerySpec("q45_percentiles",
      // grouped quartiles WITHOUT the per-group value-map reducer:
      // groupBy(g).agg(percentile(...)) gives each group ONE task holding
      // every value of that group (three giant groups here ⇒ three giant
      // tasks at 100 TB); operators.Percentiles range-partitions on
      // (group, value) so a group's values span partitions, and in-group
      // ranks come from broadcast per-(partition, group) offsets. Values
      // are bit-equal to the aggregate (PercentilesSpec pins it).
      (s, d) => {
        val pct = graft.operators.Percentiles.groupedExactInterpolated(
          t(s, d, "lineitem"), "l_returnflag", "l_quantity",
          Seq(0.25, 0.5, 0.75))
        pct.groupBy(col("l_returnflag"))
          .agg(
            max(when(col("p") === 0.25, col("value"))).as("p25"),
            max(when(col("p") === 0.5, col("value"))).as("p50"),
            max(when(col("p") === 0.75, col("value"))).as("p75"))
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag,
             |  quantile_cont(l_quantity, 0.25) AS p25,
             |  quantile_cont(l_quantity, 0.5) AS p50,
             |  quantile_cont(l_quantity, 0.75) AS p75
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // Full-outer join with null-side coalescing: per-nation customer vs
    // (restricted) supplier counts — rows survive from both unmatched
    // sides.
    QuerySpec("q48_outer_join",
      (s, d) => {
        val c = t(s, d, "customer")
          .groupBy(col("c_nationkey").as("key")).agg(count(lit(1)).as("n_cust"))
        val su = t(s, d, "supplier").filter(col("s_nationkey") < 10)
          .groupBy(col("s_nationkey").as("key")).agg(count(lit(1)).as("n_supp"))
        c.join(su, Seq("key"), "full_outer")
          .select(col("key"),
            coalesce(col("n_cust"), lit(0L)).as("n_cust"),
            coalesce(col("n_supp"), lit(0L)).as("n_supp"))
          .orderBy("key")
      },
      Some("""SELECT COALESCE(c.key, s.key) AS key,
             |  COALESCE(n_cust, 0) AS n_cust, COALESCE(n_supp, 0) AS n_supp
             |FROM (SELECT c_nationkey AS key, count(*) AS n_cust
             |      FROM customer GROUP BY 1) c
             |FULL JOIN (SELECT s_nationkey AS key, count(*) AS n_supp
             |           FROM supplier WHERE s_nationkey < 10 GROUP BY 1) s
             |  ON c.key = s.key
             |ORDER BY key""".stripMargin)),

    // Null-handling surface (DataFrameNaFunctions): derive nulls
    // deterministically, then fill one column and drop rows on another —
    // the data-cleaning primitives of a curation pipeline.
    QuerySpec("q49_na_clean",
      (s, d) => {
        val df = t(s, d, "lineitem").select(
          col("l_orderkey"),
          when(col("l_discount") === 0.0, lit(null)).otherwise(col("l_discount"))
            .as("disc"),
          when(col("l_tax") > 0.05, lit(null)).otherwise(col("l_tax")).as("tax"))
        df.na.fill(Map("disc" -> -1.0)).na.drop(Seq("tax"))
          .groupBy()
          .agg(count(lit(1)).as("n"),
            dsum(col("disc")).as("sum_disc"),
            dsum(col("tax")).as("sum_tax"))
      },
      Some("""SELECT count(*) AS n,
             |  CAST(sum(CAST(COALESCE(disc, -1.0) AS DECIMAL(18,2))) AS DOUBLE) AS sum_disc,
             |  CAST(sum(CAST(tax AS DECIMAL(18,2))) AS DOUBLE) AS sum_tax
             |FROM (
             |  SELECT CASE WHEN l_discount = 0.0 THEN NULL ELSE l_discount END AS disc,
             |         CASE WHEN l_tax > 0.05 THEN NULL ELSE l_tax END AS tax
             |  FROM lineitem
             |) WHERE tax IS NOT NULL""".stripMargin)),

    // Unpivot (melt): the inverse of A1's pivot — wide metric columns back
    // to (key, metric, value) rows; portable oracle via UNION ALL.
    QuerySpec("q54_unpivot",
      (s, d) => {
        import org.apache.spark.sql.types.DecimalType
        val wide = t(s, d, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(dsum(col("l_quantity")).as("sum_qty"),
            dsum(col("l_extendedprice")).as("sum_price"))
        wide.unpivot(Array(col("l_returnflag")),
            Array(col("sum_qty"), col("sum_price")), "metric", "value")
          .orderBy("l_returnflag", "metric")
      },
      Some("""WITH w AS (
             |  SELECT l_returnflag,
             |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
             |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
             |  FROM lineitem GROUP BY l_returnflag
             |)
             |SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS value FROM w
             |UNION ALL
             |SELECT l_returnflag, 'sum_price', sum_price FROM w
             |ORDER BY l_returnflag, metric""".stripMargin)),

    // Array-function suite over tokenized text: size, indexing, sort,
    // slice, membership, distinct-count — Spark array functions against
    // DuckDB list functions (binary string ordering on both engines).
    QuerySpec("q56_array_funcs",
      (s, d) => t(s, d, "documents")
        .select(col("doc_id"), graft.functions.TextFunctions.tokens(col("text")).as("toks"))
        .select(
          col("doc_id"),
          size(col("toks")).cast("long").as("n"),
          element_at(col("toks"), 1).as("first_tok"),
          // joined string, not a raw array: keeps the driver's row hasher
          // on scalar types
          array_join(slice(sort_array(col("toks")), 1, 3), ",").as("sorted3"),
          element_at(sort_array(col("toks"), asc = false), 1).as("max_tok"),
          array_contains(col("toks"), "the").as("has_the"),
          size(array_distinct(col("toks"))).cast("long").as("dset_n"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |  len(s) AS n,
             |  s[1] AS first_tok,
             |  array_to_string((list_sort(s))[1:3], ',') AS sorted3,
             |  (list_reverse_sort(s))[1] AS max_tok,
             |  list_contains(s, 'the') AS has_the,
             |  len(list_distinct(s)) AS dset_n
             |FROM (SELECT doc_id, string_split(text, ' ') AS s FROM documents)
             |ORDER BY doc_id""".stripMargin)),

    // Regex suite: group extraction, global replacement, match counting —
    // explicit char classes; DuckDB regexp_replace needs the 'g' flag to
    // match Spark's replace-all semantics.
    QuerySpec("q57_regex_suite",
      (s, d) => t(s, d, "documents")
        .select(
          col("doc_id"),
          regexp_extract(col("text"), "([a-z]+)orde", 1).as("pre_orde"),
          regexp_replace(col("text"), "[0-9]+", "#").as("masked"),
          regexp_count(col("text"), lit("[aeiou]{2}")).cast("long").as("double_vowels"))
        .orderBy("doc_id").limit(300),
      Some("""SELECT doc_id,
             |  regexp_extract(text, '([a-z]+)orde', 1) AS pre_orde,
             |  regexp_replace(text, '[0-9]+', '#', 'g') AS masked,
             |  len(regexp_extract_all(text, '[aeiou]{2}')) AS double_vowels
             |FROM documents ORDER BY doc_id LIMIT 300""".stripMargin)),

    // Date arithmetic suite: add/diff/trunc/last-day over order dates.
    QuerySpec("q58_date_funcs",
      (s, d) => t(s, d, "orders")
        .select(
          col("o_orderkey"),
          col("o_orderdate"),
          date_add(col("o_orderdate"), 30).as("due"),
          datediff(lit(java.sql.Date.valueOf("1998-12-31")), col("o_orderdate"))
            .cast("long").as("age_days"),
          trunc(col("o_orderdate"), "month").as("month_start"),
          last_day(col("o_orderdate")).as("month_end"),
          (year(col("o_orderdate")) * 100 + month(col("o_orderdate")))
            .cast("long").as("yyyymm"))
        .orderBy("o_orderkey").limit(1000),
      Some("""SELECT o_orderkey, o_orderdate,
             |  CAST(o_orderdate AS DATE) + 30 AS due,
             |  date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-12-31') AS age_days,
             |  CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
             |  last_day(CAST(o_orderdate AS DATE)) AS month_end,
             |  year(o_orderdate) * 100 + month(o_orderdate) AS yyyymm
             |FROM orders ORDER BY o_orderkey LIMIT 1000""".stripMargin)),

    // Map-function suite: per-user event_type→count maps built in-engine
    // (map_from_entries over sorted collected structs), then key lookup,
    // cardinality, and sorted key join — the typed-metadata access
    // pattern. DuckDB map extraction returns a single-element list, hence
    // (m['k'])[1].
    QuerySpec("q59_map_funcs",
      (s, d) => {
        val per = events(s, d).filter(col("user_id") < 30)
          .groupBy(col("user_id"), col("event_type"))
          .agg(count(lit(1)).as("n"))
        per.groupBy(col("user_id"))
          .agg(map_from_entries(
            sort_array(collect_list(struct(col("event_type"), col("n"))))).as("m"))
          .select(col("user_id"),
            size(map_keys(col("m"))).cast("long").as("n_types"),
            element_at(col("m"), "click").as("clicks"),
            array_join(sort_array(map_keys(col("m"))), ",").as("types"))
          .orderBy("user_id")
      },
      Some("""WITH per AS (
             |  SELECT user_id, event_type, count(*) AS n
             |  FROM events WHERE user_id < 30 GROUP BY 1, 2
             |), mp AS (
             |  SELECT user_id,
             |    MAP(list(event_type ORDER BY event_type),
             |        list(n ORDER BY event_type)) AS m
             |  FROM per GROUP BY user_id
             |)
             |SELECT user_id,
             |  len(map_keys(m)) AS n_types,
             |  (m['click'])[1] AS clicks,
             |  array_to_string(list_sort(map_keys(m)), ',') AS types
             |FROM mp ORDER BY user_id""".stripMargin)),

    // Stopword filtering with an order-preserving, duplicate-preserving
    // lambda filter (array_except would dedup) — the token-cleaning step
    // of a text pipeline.
    QuerySpec("q60_stopword_filter",
      (s, d) => {
        val stop = Seq("the", "and", "of", "to", "in")
        t(s, d, "documents")
          .select(col("doc_id"), graft.functions.TextFunctions.tokens(col("text")).as("toks"))
          .select(col("doc_id"),
            filter(col("toks"), tk => !tk.isin(stop: _*)).as("kept"))
          .select(col("doc_id"),
            size(col("kept")).cast("long").as("n_kept"),
            array_join(slice(col("kept"), 1, 5), " ").as("first5"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
             |  len(kept) AS n_kept,
             |  array_to_string(kept[1:5], ' ') AS first5
             |FROM (
             |  SELECT doc_id,
             |    list_filter(string_split(text, ' '),
             |      x -> x NOT IN ('the', 'and', 'of', 'to', 'in')) AS kept
             |  FROM documents
             |)
             |ORDER BY doc_id""".stripMargin)),

    // Explicit GROUPING SETS through the SQL surface (spark.sql over a
    // registered view) — the engine's queries are DataFrame-first, but
    // the SQL entry point must work identically for users porting SQL.
    QuerySpec("q61_grouping_sets",
      (s, d) => {
        t(s, d, "lineitem").createOrReplaceTempView("lineitem_v")
        s.sql("""SELECT l_returnflag, l_linestatus, count(*) AS n,
                |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
                |FROM lineitem_v
                |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
                |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin)
      },
      Some("""SELECT l_returnflag, l_linestatus, count(*) AS n,
             |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
             |FROM lineitem
             |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
             |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin)),

    // Collection aggregates: distinct-set and ordered-list collection per
    // group, rendered deterministically (sorted) for the oracle.
    QuerySpec("q62_collect_aggs",
      (s, d) => t(s, d, "documents")
        .groupBy(col("lang"))
        .agg(
          array_join(sort_array(collect_set(col("source"))), ",").as("sources"),
          count(lit(1)).as("n_docs"),
          sort_array(collect_list(col("doc_id"))).getItem(0).as("min_doc"))
        .orderBy("lang"),
      Some("""SELECT lang,
             |  array_to_string(list_sort(list(DISTINCT source)), ',') AS sources,
             |  count(*) AS n_docs,
             |  min(doc_id) AS min_doc
             |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),

    // Null-safe equality join (<=> / IS NOT DISTINCT FROM): null keys
    // match each other — the semantics plain equi-joins silently drop.
    QuerySpec("q64_nullsafe_join",
      (s, d) => {
        val a = t(s, d, "nation")
          .select(when(col("n_regionkey") === 2, lit(null))
            .otherwise(col("n_regionkey")).as("k"), col("n_nationkey"))
        val b = t(s, d, "region")
          .select(when(col("r_regionkey") === 2, lit(null))
            .otherwise(col("r_regionkey")).as("k"), col("r_regionkey"))
        a.as("a").join(b.as("b"), col("a.k") <=> col("b.k"))
          .groupBy(col("a.k").as("k"))
          .agg(count(lit(1)).as("n"))
          .orderBy(asc_nulls_first("k"))
      },
      Some("""SELECT a.k AS k, count(*) AS n
             |FROM (SELECT CASE WHEN n_regionkey = 2 THEN NULL ELSE n_regionkey END AS k,
             |             n_nationkey FROM nation) a
             |JOIN (SELECT CASE WHEN r_regionkey = 2 THEN NULL ELSE r_regionkey END AS k,
             |             r_regionkey FROM region) b
             |  ON a.k IS NOT DISTINCT FROM b.k
             |GROUP BY a.k ORDER BY a.k NULLS FIRST""".stripMargin)),

    // Aggregate suite: arg-max/arg-min (max_by/min_by ≡ DuckDB
    // arg_max/arg_min — the selector metric embeds the row id so ties
    // cannot introduce nondeterminism), boolean aggregates, and
    // conditional counting.
    QuerySpec("q67_agg_suite",
      (s, d) => t(s, d, "documents")
        .select(col("lang"), col("doc_id"), length(col("text")).as("len"))
        .withColumn("metric", col("len") * 100000 + col("doc_id"))
        .groupBy(col("lang"))
        .agg(
          max_by(col("doc_id"), col("metric")).as("longest_doc"),
          min_by(col("doc_id"), col("metric")).as("shortest_doc"),
          bool_and(col("len") > 50).as("all_gt50"),
          bool_or(col("len") > 400).as("any_gt400"),
          count(when(col("len") > 200, 1)).as("n_gt200"))
        .orderBy("lang"),
      Some("""SELECT lang,
             |  arg_max(doc_id, metric) AS longest_doc,
             |  arg_min(doc_id, metric) AS shortest_doc,
             |  bool_and(len > 50) AS all_gt50,
             |  bool_or(len > 400) AS any_gt400,
             |  count(*) FILTER (len > 200) AS n_gt200
             |FROM (SELECT lang, doc_id, length(text) AS len,
             |        length(text) * 100000 + doc_id AS metric
             |      FROM documents)
             |GROUP BY lang ORDER BY lang""".stripMargin)),

    // Scalar-function suite: date parts, floor, abs, string ops.
    QuerySpec("q19_scalar_funcs",
      (s, d) => t(s, d, "orders")
        .select(
          col("o_orderkey"),
          year(col("o_orderdate")).cast("long").as("y"),
          month(col("o_orderdate")).cast("long").as("m"),
          dayofmonth(col("o_orderdate")).cast("long").as("dom"),
          floor(col("o_totalprice")).as("floor_price"),
          abs(col("o_totalprice") - 100000.0).as("absdiff"),
          upper(col("o_orderstatus")).as("stat"),
          length(col("o_orderpriority")).cast("long").as("prio_len"),
          concat(col("o_orderstatus"), lit("-"), col("o_orderpriority")).as("tag"))
        .orderBy("o_orderkey").limit(1000),
      Some("""SELECT o_orderkey, year(o_orderdate) AS y, month(o_orderdate) AS m,
             |  day(o_orderdate) AS dom,
             |  CAST(floor(o_totalprice) AS BIGINT) AS floor_price,
             |  abs(o_totalprice - 100000.0) AS absdiff,
             |  upper(o_orderstatus) AS stat,
             |  length(o_orderpriority) AS prio_len,
             |  o_orderstatus || '-' || o_orderpriority AS tag
             |FROM orders ORDER BY o_orderkey LIMIT 1000""".stripMargin)),

    // Explicit GROUPING SETS (the general form behind q17's rollup and
    // q29's cube): three hand-picked sets, disambiguated by per-column
    // grouping() flags (grouping_id()'s bit order is engine-private, the
    // per-column flags are not). NULLS FIRST pinned as in q17.
    QuerySpec("q120_grouping_sets",
      (s, d) => t(s, d, "lineitem")
        .groupingSets(
          Seq(Seq(col("l_returnflag"), col("l_linestatus")),
            Seq(col("l_linestatus")), Seq.empty[org.apache.spark.sql.Column]),
          col("l_returnflag"), col("l_linestatus"))
        .agg(grouping(col("l_returnflag")).cast("long").as("g_rf"),
          grouping(col("l_linestatus")).cast("long").as("g_ls"),
          count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("sum_price"))
        .orderBy(asc_nulls_first("l_returnflag"),
          asc_nulls_first("l_linestatus")),
      Some("""SELECT l_returnflag, l_linestatus,
             |  CAST(GROUPING(l_returnflag) AS BIGINT) AS g_rf,
             |  CAST(GROUPING(l_linestatus) AS BIGINT) AS g_ls,
             |  count(*) AS n,
             |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
             |FROM lineitem
             |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())
             |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin)),

    // Deterministic string aggregation (listagg): per-nation roster of its
    // 5 alphabetically-first supplier names. collect_list carries NO
    // ordering contract across partitions, so the deterministic form is
    // always sort-the-array-then-join — never trust arrival order.
    QuerySpec("q121_string_agg",
      (s, d) => t(s, d, "supplier")
        .groupBy(col("s_nationkey"))
        .agg(array_join(slice(array_sort(collect_list(col("s_name"))), 1, 5), "|")
          .as("roster"),
          count(lit(1)).as("n_sup"))
        .orderBy("s_nationkey"),
      Some("""SELECT s_nationkey,
             |  array_to_string((list_sort(list(s_name)))[1:5], '|') AS roster,
             |  count(*) AS n_sup
             |FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin)),

    // Correlation / covariance, exact: Spark's corr/covar aggregates sum
    // doubles in partition order (non-deterministic bits), so the moments
    // are built from EXACT DECIMAL sums instead — inputs cast to decimal
    // BEFORE multiplying (a double product cast to decimal rounds
    // differently per engine — README discipline), every Σ exact, one
    // double cast per sum, then the textbook formulas composed in the
    // same association order on both engines (sqrt is IEEE
    // correctly-rounded, so same bits in, same bits out).
    QuerySpec("q130_corr_covar",
      (s, d) => {
        import org.apache.spark.sql.types.DecimalType
        val x = col("l_quantity").cast(DecimalType(9, 2))
        val y = col("l_extendedprice").cast(DecimalType(18, 2))
        t(s, d, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(
            count(lit(1)).as("n"),
            sum(x).cast("double").as("sx"),
            sum(y).cast("double").as("sy"),
            sum(x * y).cast("double").as("sxy"),
            sum(x * x).cast("double").as("sxx"),
            sum(y * y).cast("double").as("syy"))
          .select(
            col("l_returnflag"), col("n"),
            ((col("n") * col("sxy") - col("sx") * col("sy")) /
              (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
                sqrt(col("n") * col("syy") - col("sy") * col("sy"))))
              .as("corr_qty_price"),
            ((col("n") * col("sxy") - col("sx") * col("sy")) /
              (col("n") * col("n")).cast("double")).as("covar_pop"),
            ((col("n") * col("sxy") - col("sx") * col("sy")) /
              (col("n") * (col("n") - lit(1)).cast("double"))).as("covar_samp"))
          .orderBy("l_returnflag")
      },
      Some("""WITH m AS (
             |  SELECT l_returnflag, count(*) AS n,
             |    CAST(sum(CAST(l_quantity AS DECIMAL(9,2))) AS DOUBLE) AS sx,
             |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
             |    CAST(CAST(sum(CAST(l_quantity AS DECIMAL(9,2)) *
             |             CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sxy,
             |    CAST(CAST(sum(CAST(l_quantity AS DECIMAL(9,2)) *
             |             CAST(l_quantity AS DECIMAL(9,2))) AS VARCHAR) AS DOUBLE) AS sxx,
             |    CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
             |             CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS syy
             |  FROM lineitem GROUP BY l_returnflag)
             |SELECT l_returnflag, n,
             |  (n * sxy - sx * sy) /
             |    (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))
             |    AS corr_qty_price,
             |  (n * sxy - sx * sy) / CAST(n * n AS DOUBLE) AS covar_pop,
             |  (n * sxy - sx * sy) / (n * CAST(n - 1 AS DOUBLE)) AS covar_samp
             |FROM m ORDER BY l_returnflag""".stripMargin)),

    // Event-rate anomaly detection: flag hours whose count deviates from
    // the trailing-24-observed-hours mean by more than 2σ — entirely in
    // EXACT integer arithmetic by squaring the z-condition:
    //   (c·n − S)² > 4·(n·Q − S²),  n=24, S=Σc, Q=Σc²
    // (no sqrt, no float mean — the products are DECIMAL-seeded on the
    // Spark side, HUGEINT on the oracle side, so nothing wraps at any
    // event rate). The global window runs over the HOURLY spine, whose
    // cardinality is hours-not-events (8.8k rows/year) — the one place a
    // single-partition window is the right call at any corpus size.
    QuerySpec("q163_event_anomaly",
      (s, d) => graft.operators.Transforms.eventAnomalyFlags(
        events(s, d)
          .groupBy(date_trunc("hour", col("ts")).as("h"))
          .agg(count(lit(1)).as("c")))
        .orderBy("h"),
      Some("""WITH hourly AS (
             |  SELECT date_trunc('hour', ts) AS h, count(*) AS c
             |  FROM events GROUP BY 1
             |), w AS (
             |  SELECT h, c,
             |    count(*) OVER win AS n,
             |    sum(c) OVER win AS s,
             |    sum(c*c) OVER win AS q
             |  FROM hourly
             |  WINDOW win AS (ORDER BY h ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
             |), dv AS (
             |  SELECT h, c, n, s,
             |    CAST(c AS HUGEINT) * 24 - CAST(s AS HUGEINT) AS dev,
             |    24 * CAST(q AS HUGEINT)
             |      - CAST(s AS HUGEINT) * CAST(s AS HUGEINT) AS varn
             |  FROM w
             |)
             |SELECT h, c, CAST(n AS BIGINT) AS n_prev,
             |  CAST(COALESCE(s, 0) AS BIGINT) AS s_prev,
             |  CASE WHEN n = 24 THEN dev * dev > 4 * varn
             |       ELSE FALSE END AS anomaly
             |FROM dv ORDER BY h""".stripMargin)),

    // Sliding-window EXACT distinct users (6 h window, 1 h slide) — the
    // audience-reach counterpart of q98's sliding sums, which countDistinct
    // cannot share partials with. Spark's TimeWindow generate expands each
    // event into its 6 covering windows (linear ×6 map-side), then the
    // two-phase distinct aggregate shuffles (window, user) before the
    // window rollup — both keys time-dimension × audience-bounded, never
    // event-mass-bounded. Epoch-aligned hourly starts in both engines.
    QuerySpec("q164_sliding_distinct_users",
      (s, d) => events(s, d)
        .groupBy(window(col("ts"), "6 hours", "1 hour").as("w"))
        .agg(countDistinct(col("user_id")).as("users"))
        .select(col("w.start").as("window_start"), col("users"))
        .orderBy("window_start"),
      Some("""WITH e AS (
             |  SELECT date_trunc('hour', ts) - i * INTERVAL 1 HOUR AS ws,
             |    user_id
             |  FROM events CROSS JOIN (SELECT unnest(range(6)) AS i) ii
             |)
             |SELECT ws AS window_start, count(DISTINCT user_id) AS users
             |FROM e GROUP BY ws ORDER BY ws""".stripMargin)),

    // The SCALE PATH for q164: hourly HLL partials (one sketch per hour,
    // built once) expanded to the 6 sliding windows each hour covers and
    // UNIONED per window — sketches cross the shuffle, user ids never do,
    // and the per-hour partial is shared by 6 windows where exact
    // countDistinct must re-shuffle every (window, user) pair. Contract
    // like q73/q99: the merged estimate must sit within 5% of the exact
    // q164 count (HLL lgK=14 is exact in sparse mode at these
    // cardinalities, generous at any).
    QuerySpec("q166_sliding_users_hll",
      (s, d) => {
        val ev = events(s, d)
        val hourly = ev
          .groupBy(date_trunc("hour", col("ts")).as("h"))
          .agg(expr("hll_sketch_agg(user_id, 14)").as("sk"))
        val est = hourly
          .select(explode(expr("sequence(0, 5)")).as("i"), col("h"), col("sk"))
          .select(expr("timestampadd(HOUR, -i, h)").as("window_start"), col("sk"))
          .groupBy("window_start")
          .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("__est"))
        val exact = ev
          .groupBy(window(col("ts"), "6 hours", "1 hour").as("w"))
          .agg(countDistinct(col("user_id")).as("users"))
          .select(col("w.start").as("window_start"), col("users"))
        exact.join(est, "window_start")
          .select(col("window_start"), col("users"),
            (abs(col("__est") - col("users")) <=
              col("users").cast("double") * 0.05).as("within_tol"))
          .orderBy("window_start")
      },
      Some("""WITH e AS (
             |  SELECT date_trunc('hour', ts) - i * INTERVAL 1 HOUR AS ws,
             |    user_id
             |  FROM events CROSS JOIN (SELECT unnest(range(6)) AS i) ii
             |)
             |SELECT ws AS window_start, count(DISTINCT user_id) AS users,
             |  true AS within_tol
             |FROM e GROUP BY ws ORDER BY ws""".stripMargin)),

    // Last-observation-carried-forward imputation per entity — the
    // sparse-reading backfill of feature/metric pipelines ('view' events
    // simulate the reading-absent rows; each user's latest prior reading
    // fills them). Pure copy-forward, no arithmetic — the carried doubles
    // hash-compare exactly. The window partitions by user (keyed at any
    // scale) with (ts, event_id) total order; leading nulls stay null in
    // both engines.
    QuerySpec("q170_locf_impute",
      (s, d) => {
        val sparse = when(col("event_type") =!= "view", col("value"))
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        events(s, d)
          .select(col("event_id"), col("user_id"), col("ts"),
            sparse.as("reading"))
          .withColumn("filled", last(col("reading"), ignoreNulls = true).over(w))
          .orderBy("user_id", "ts", "event_id")
      },
      Some("""SELECT event_id, user_id, ts,
             |  CASE WHEN event_type <> 'view' THEN value END AS reading,
             |  last_value(CASE WHEN event_type <> 'view' THEN value END
             |             IGNORE NULLS)
             |    OVER (PARTITION BY user_id ORDER BY ts, event_id
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |    AS filled
             |FROM events ORDER BY user_id, ts, event_id""".stripMargin)),

    // Cohort retention matrix — the classic growth-analytics rollup:
    // users cohorted by first-seen (Monday-aligned) week, each later
    // active week bucketed as an exact integer week offset (epoch-second
    // difference of two week-truncated timestamps DIV 604800), retention
    // = active/cohort in ONE division. Shuffles are user- then
    // cohort-keyed; the matrix itself is weeks², tiny forever.
    QuerySpec("q171_cohort_retention",
      (s, d) => {
        val ev = events(s, d)
        val firstWeek = ev.groupBy("user_id")
          .agg(date_trunc("week", min(col("ts"))).as("cohort"))
        val active = ev
          .select(col("user_id"), date_trunc("week", col("ts")).as("wk"))
          .distinct()
        val sizes = firstWeek.groupBy("cohort")
          .agg(count(lit(1)).as("n_cohort"))
        active.join(firstWeek, "user_id")
          .withColumn("wk_n", expr(
            "(unix_timestamp(wk) - unix_timestamp(cohort)) DIV 604800"))
          .groupBy("cohort", "wk_n")
          .agg(count(lit(1)).as("n_active"))
          .join(sizes, "cohort")
          .select(col("cohort"), col("wk_n"), col("n_active"), col("n_cohort"),
            (col("n_active").cast("double") / col("n_cohort").cast("double"))
              .as("retention"))
          .orderBy("cohort", "wk_n")
      },
      Some("""WITH fw AS (
             |  SELECT user_id,
             |    CAST(date_trunc('week', min(ts)) AS TIMESTAMP) AS cohort
             |  FROM events GROUP BY user_id
             |), act AS (
             |  SELECT DISTINCT user_id,
             |    CAST(date_trunc('week', ts) AS TIMESTAMP) AS wk
             |  FROM events
             |), sz AS (
             |  SELECT cohort, count(*) AS n_cohort FROM fw GROUP BY cohort
             |), m AS (
             |  SELECT cohort,
             |    (epoch(wk)::BIGINT - epoch(cohort)::BIGINT) // 604800 AS wk_n,
             |    count(*) AS n_active
             |  FROM act JOIN fw USING (user_id)
             |  GROUP BY cohort, wk_n
             |)
             |SELECT cohort, wk_n, n_active, n_cohort,
             |  CAST(n_active AS DOUBLE) / CAST(n_cohort AS DOUBLE) AS retention
             |FROM m JOIN sz USING (cohort)
             |ORDER BY cohort, wk_n""".stripMargin)),

    // Behavioral motif mining: the top-20 3-step event-type sequences
    // occurring WITHIN sessions (q14's 30-minute-gap sessionization) —
    // the "what do users actually do, in order" report behind funnel
    // design and anomaly triage (a motif like view>view>error surfacing
    // above view>click>purchase is a product signal no per-type count
    // shows). Order within a session is the (ts, event_id) total order,
    // trigrams come from two lead() steps over it, and every window is
    // keyed by user (sessionize) or (user, session) (motifs) — the
    // per-motif count is one vocabulary-shaped aggregation; nothing
    // global, nothing quadratic.
    QuerySpec("q180_event_motifs",
      (s, d) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        val gapUs = 1800L * 1000000L
        val sess = events(s, d)
          .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
          .withColumn("new_s",
            when(col("prev_us").isNull, 1)
              .when(unix_micros(col("ts")) - col("prev_us") > gapUs, 1)
              .otherwise(0))
          .withColumn("session_id", sum(col("new_s"))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        val ws = Window.partitionBy(col("user_id"), col("session_id"))
          .orderBy(col("ts"), col("event_id"))
        sess
          .withColumn("t2", lead(col("event_type"), 1).over(ws))
          .withColumn("t3", lead(col("event_type"), 2).over(ws))
          .filter(col("t3").isNotNull)
          .select(concat_ws(">", col("event_type"), col("t2"), col("t3")).as("motif"))
          .groupBy(col("motif")).agg(count(lit(1)).as("cnt"))
          .orderBy(desc("cnt"), col("motif")).limit(20)
      },
      Some("""WITH x AS (
             |  SELECT user_id, event_id, ts, event_type,
             |    CASE WHEN lag(ts) OVER w IS NULL THEN 1
             |         WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000 THEN 1
             |         ELSE 0 END AS new_s
             |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
             |), y AS (
             |  SELECT user_id, event_id, ts, event_type,
             |    CAST(sum(new_s) OVER (PARTITION BY user_id
             |      ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
             |  FROM x
             |), tri AS (
             |  SELECT concat_ws('>', event_type,
             |    lead(event_type, 1) OVER ws, lead(event_type, 2) OVER ws) AS motif,
             |    lead(event_type, 2) OVER ws AS t3
             |  FROM y WINDOW ws AS (PARTITION BY user_id, session_id
             |                       ORDER BY ts, event_id)
             |)
             |SELECT motif, count(*) AS cnt FROM tri WHERE t3 IS NOT NULL
             |GROUP BY motif ORDER BY cnt DESC, motif LIMIT 20""".stripMargin)),

    // Market-basket pair mining: the top-20 part pairs co-occurring in
    // orders, with support and exact-rational lift — the association-
    // rules classic (Agrawal et al.), reduced to its scale-safe core:
    // the pair join is keyed by BASKET (order key), so work is
    // Σ basket² with baskets bounded by order size (≤ 7 lineitems in
    // this schema; at 100 TB the same plan holds for any bounded-basket
    // domain, and a hot-basket cap handles degenerate ones). Lift's
    // numerator/denominator are exact integers (support·N vs c_a·c_b)
    // with one final double division; the one-row order count enters as
    // a broadcast-singleton cross.
    QuerySpec("q194_basket_pairs",
      (s, d) => {
        // pooled basket frames (Q.basketItems / Q.basketPairOcc) — the
        // distinct + basket self-join are shared with q223/q226
        val li = Q.basketItems(s, d)
        val cnt = li.groupBy(col("pk")).agg(count(lit(1)).as("c"))
        val nOrders = li.select(col("ok")).distinct()
          .agg(count(lit(1)).as("n_orders"))
        Q.basketPairOcc(s, d)
          .groupBy(col("x").as("p_a"), col("y").as("p_b"))
          .agg(count(lit(1)).as("support"))
          .join(cnt.select(col("pk").as("p_a"), col("c").as("ca")), "p_a")
          .join(cnt.select(col("pk").as("p_b"), col("c").as("cb")), "p_b")
          .crossJoin(broadcast(nOrders))
          .select(col("p_a"), col("p_b"), col("support"),
            ((col("support") * col("n_orders")).cast("double") /
              (col("ca") * col("cb")).cast("double")).as("lift"))
          .orderBy(desc("support"), col("p_a"), col("p_b")).limit(20)
      },
      Some("""WITH li AS (
             |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
             |), cnt AS (SELECT pk, count(*) AS c FROM li GROUP BY pk),
             |n AS (SELECT count(DISTINCT ok) AS n_orders FROM li),
             |p AS (
             |  SELECT a.pk AS p_a, b.pk AS p_b, count(*) AS support
             |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
             |  GROUP BY a.pk, b.pk
             |)
             |SELECT p_a, p_b, support,
             |  CAST(support * n_orders AS DOUBLE)
             |    / CAST(ca.c * cb.c AS DOUBLE) AS lift
             |FROM p
             |JOIN cnt ca ON ca.pk = p_a
             |JOIN cnt cb ON cb.pk = p_b
             |CROSS JOIN n
             |ORDER BY support DESC, p_a, p_b LIMIT 20""".stripMargin)),

    // Inter-arrival latency percentiles per event type: the time between
    // a user's consecutive events of the same type, summarized as exact
    // interpolated p50/p90/p99 — the ops/behavioral report behind
    // engagement cadence and alerting thresholds. Deltas are exact
    // integer microseconds from a (user, type)-keyed lag; the grouped
    // percentiles run through the DISTRIBUTED grouped rank selection
    // (operators/Percentiles — a giant group spans partitions instead of
    // pinning one reducer, values bit-equal to quantile_cont's
    // interpolation).
    QuerySpec("q195_interarrival_percentiles",
      (s, d) => {
        val w = Window.partitionBy(col("user_id"), col("event_type"))
          .orderBy(col("ts"), col("event_id"))
        val deltas = events(s, d)
          .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
          .filter(col("prev_us").isNotNull)
          .select(col("event_type"),
            (unix_micros(col("ts")) - col("prev_us")).as("delta_us"))
        graft.operators.Percentiles
          .groupedExactInterpolated(deltas, "event_type", "delta_us",
            Seq(0.5, 0.9, 0.99))
          .groupBy(col("event_type"))
          .agg(max(when(col("p") === 0.5, col("value"))).as("p50"),
            max(when(col("p") === 0.9, col("value"))).as("p90"),
            max(when(col("p") === 0.99, col("value"))).as("p99"))
          .orderBy("event_type")
      },
      Some("""WITH x AS (
             |  SELECT event_type, epoch_us(ts) - lag(epoch_us(ts)) OVER (
             |      PARTITION BY user_id, event_type
             |      ORDER BY ts, event_id) AS delta_us
             |  FROM events
             |)
             |SELECT event_type,
             |  quantile_cont(delta_us, 0.5) AS p50,
             |  quantile_cont(delta_us, 0.9) AS p90,
             |  quantile_cont(delta_us, 0.99) AS p99
             |FROM x WHERE delta_us IS NOT NULL
             |GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // Event-type transition matrix: first-order Markov counts over each
    // user's chronological event stream (from → to, count, and the
    // row-normalized transition probability) — the behavioral model
    // behind "what usually follows a view", next-event prediction
    // baselines, and bot detection (improbable transition mass). One
    // user-keyed lag window, one (from,to)-keyed aggregation (≤
    // |types|² rows), per-from totals rejoined on the same key;
    // probability is one exact-integer division per cell.
    QuerySpec("q200_event_transitions",
      (s, d) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        val tr = events(s, d)
          .withColumn("prev", lag(col("event_type"), 1).over(w))
          .filter(col("prev").isNotNull)
          .groupBy(col("prev").as("from_type"), col("event_type").as("to_type"))
          .agg(count(lit(1)).as("n"))
        val tot = tr.groupBy(col("from_type")).agg(sum(col("n")).as("tot"))
        tr.join(tot, "from_type")
          .select(col("from_type"), col("to_type"), col("n"),
            (col("n").cast("double") / col("tot").cast("double")).as("p"))
          .orderBy("from_type", "to_type")
      },
      Some("""WITH x AS (
             |  SELECT event_type,
             |    lag(event_type) OVER (PARTITION BY user_id
             |      ORDER BY ts, event_id) AS prev
             |  FROM events
             |), tr AS (
             |  SELECT prev AS from_type, event_type AS to_type,
             |    count(*) AS n
             |  FROM x WHERE prev IS NOT NULL
             |  GROUP BY prev, event_type
             |), tot AS (
             |  SELECT from_type, CAST(sum(n) AS BIGINT) AS tot
             |  FROM tr GROUP BY from_type
             |)
             |SELECT tr.from_type AS from_type, to_type, n,
             |  CAST(n AS DOUBLE) / CAST(tot AS DOUBLE) AS p
             |FROM tr JOIN tot USING (from_type)
             |ORDER BY from_type, to_type""".stripMargin)),

    // Conversion latency: for every click/purchase, the time since the
    // same user's MOST RECENT PRIOR view (the backward as-of over the
    // interleaved stream, as a running last-view watermark — one keyed
    // window pass, no join), summarized as exact interpolated p50/p90
    // per conversion kind. The "how long does intent take to convert"
    // report product analytics runs daily; exact integer µs deltas, and
    // the percentiles go through the distributed grouped rank selection
    // (no per-group reducer), bit-equal to quantile_cont.
    QuerySpec("q201_conversion_latency",
      (s, d) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        val lastView = last(
          when(col("event_type") === "view", unix_micros(col("ts"))),
          ignoreNulls = true)
          .over(w.rowsBetween(Window.unboundedPreceding, -1))
        val lat = events(s, d)
          .withColumn("lv", lastView)
          .filter(col("event_type").isin("click", "purchase") &&
            col("lv").isNotNull)
          .select(concat(lit("view>"), col("event_type")).as("conv"),
            (unix_micros(col("ts")) - col("lv")).as("delta_us"))
        graft.operators.Percentiles
          .groupedExactInterpolated(lat, "conv", "delta_us", Seq(0.5, 0.9))
          .groupBy(col("conv"))
          .agg(max(when(col("p") === 0.5, col("value"))).as("p50"),
            max(when(col("p") === 0.9, col("value"))).as("p90"))
          .orderBy("conv")
      },
      Some("""WITH x AS (
             |  SELECT event_type, epoch_us(ts) AS us,
             |    max(CASE WHEN event_type = 'view' THEN epoch_us(ts) END)
             |      OVER (PARTITION BY user_id ORDER BY ts, event_id
             |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lv
             |  FROM events
             |), lat AS (
             |  SELECT 'view>' || event_type AS conv, us - lv AS delta_us
             |  FROM x WHERE event_type IN ('click', 'purchase')
             |    AND lv IS NOT NULL
             |)
             |SELECT conv, quantile_cont(delta_us, 0.5) AS p50,
             |  quantile_cont(delta_us, 0.9) AS p90
             |FROM lat GROUP BY conv ORDER BY conv""".stripMargin)),

    // RFM segmentation — the classic growth-analytics user-value grid:
    // per-user Recency / Frequency / Monetary, each scored 1–5 against
    // corpus-wide QUINTILE thresholds, users counted per (r,f,m) segment.
    // Scale shape: one user-keyed aggregate over events, then the four
    // quintile boundaries per axis come from the DISTRIBUTED exact
    // order-statistic machinery (Percentiles.groupedAtRanks under a
    // constant group — one "group" spanning every partition is exactly
    // what the joined-offsets rewrite supports; the ntile() alternative
    // is an ORDER-BY-only window that pins the whole user frame on one
    // reducer AND splits tied metrics nondeterministically, so no oracle
    // could hash-match it). Scores are pure value comparisons against
    // the 4 broadcast thresholds (strictly-greater ⇒ next bucket), which
    // makes ties deterministic in both engines; monetary is exact
    // integer cents (floor(value·100) — identical IEEE floor in both),
    // and only 3 one-row threshold frames cross back (declared broadcast
    // singletons). Rank wishlist = greatest(⌊n·k/5⌋, 1), k=1..4, derived
    // in-frame from the per-axis non-null count.
    QuerySpec("q205_rfm_segments",
      (s, d) => {
        // persisted: the three quintile passes AND the scoring join all
        // read this |users|-sized frame — without the cache the events
        // scan+aggregate would run four times (released per query by the
        // harness via OperatorCaches, the library-wide convention)
        val u = graft.operators.OperatorCaches.persistTracked(
          events(s, d).groupBy(col("user_id")).agg(
            max(unix_micros(col("ts"))).as("r_us"),
            count(lit(1)).as("f_cnt"),
            sum(floor(col("value") * lit(100))).as("m_cents")))
        val quintiles: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
          ng => array((1 to 4).map(k =>
            greatest(floor((ng * lit(k.toLong)) / lit(5.0d)).cast("long"),
              lit(1L))): _*)
        // ONE rank-selection pass for all three axes: stack (axis, value)
        // rows and let the axis BE the group — 1 sort shuffle instead of 3
        val stacked = u.select(explode(map(
          lit("r"), col("r_us").cast("double"),
          lit("f"), col("f_cnt").cast("double"),
          lit("m"), col("m_cents").cast("double"))).as(Seq("axis", "v")))
        val thr = graft.operators.Percentiles
          .groupedAtRanks(stacked, "axis", "v", quintiles)
          .groupBy(col("axis"))
          .agg(sort_array(collect_list(col("value"))).as("t"))
          .groupBy()
          .agg(map_from_arrays(
            collect_list(col("axis")), collect_list(col("t"))).as("ts"))
        def score(metric: org.apache.spark.sql.Column, axis: String) =
          (lit(1) + size(filter(element_at(col("ts"), lit(axis)),
            tv => metric > tv))).cast("long")
        u.crossJoin(broadcast(thr))
          .select(
            score(col("r_us"), "r").as("r_score"),
            score(col("f_cnt"), "f").as("f_score"),
            score(col("m_cents"), "m").as("m_score"),
            col("m_cents"))
          .groupBy(col("r_score"), col("f_score"), col("m_score"))
          .agg(count(lit(1)).as("users"), sum(col("m_cents")).as("cents"))
          .orderBy("r_score", "f_score", "m_score")
      },
      Some("""WITH u AS (
             |  SELECT user_id, max(epoch_us(ts)) AS r_us, count(*) AS f_cnt,
             |    sum(CAST(floor(value*100) AS BIGINT)) AS m_cents
             |  FROM events GROUP BY user_id
             |), ks AS (SELECT unnest([1,2,3,4]) AS k),
             |rt AS (
             |  SELECT x.rn, x.v
             |  FROM (SELECT r_us AS v, row_number() OVER (ORDER BY r_us) AS rn
             |        FROM u WHERE r_us IS NOT NULL) x
             |  JOIN (SELECT DISTINCT greatest((n*k)//5, 1) AS rn
             |        FROM (SELECT count(r_us) AS n FROM u), ks) r USING (rn)
             |), ft AS (
             |  SELECT x.rn, x.v
             |  FROM (SELECT f_cnt AS v, row_number() OVER (ORDER BY f_cnt) AS rn
             |        FROM u WHERE f_cnt IS NOT NULL) x
             |  JOIN (SELECT DISTINCT greatest((n*k)//5, 1) AS rn
             |        FROM (SELECT count(f_cnt) AS n FROM u), ks) r USING (rn)
             |), mt AS (
             |  SELECT x.rn, x.v
             |  FROM (SELECT m_cents AS v, row_number() OVER (ORDER BY m_cents) AS rn
             |        FROM u WHERE m_cents IS NOT NULL) x
             |  JOIN (SELECT DISTINCT greatest((n*k)//5, 1) AS rn
             |        FROM (SELECT count(m_cents) AS n FROM u), ks) r USING (rn)
             |), sc AS (
             |  SELECT user_id, m_cents,
             |    1 + (SELECT count(*) FROM rt WHERE u.r_us > rt.v) AS r_score,
             |    1 + (SELECT count(*) FROM ft WHERE u.f_cnt > ft.v) AS f_score,
             |    1 + (SELECT count(*) FROM mt WHERE u.m_cents > mt.v) AS m_score
             |  FROM u)
             |SELECT r_score, f_score, m_score, count(*) AS users,
             |  CAST(sum(m_cents) AS BIGINT) AS cents
             |FROM sc GROUP BY 1, 2, 3
             |ORDER BY r_score, f_score, m_score""".stripMargin)),

    // Robust per-group outlier audit: per-supplier MEDIAN and MAD
    // (median absolute deviation) of line price, plus the count of that
    // supplier's lines beyond the 3σ-equivalent robust fence
    // (3·1.4826·MAD) — the mean/stddev-free screen that a handful of
    // mispriced lines can't drag the way they drag a z-score (q103's
    // moment-based sibling). TWO grouped rank selections ride
    // Percentiles.groupedAtRanks — the round-10 joined-offsets rewrite —
    // at the highest group cardinality in the registry (|suppliers|
    // groups: 100 at sf0.01, 1000 at sf0.1), with a group's values
    // spanning range partitions and nothing group-sized in the plan.
    // Lower-median integer ranks (rank ⌊(n−1)/2⌋+1, floorPctRank(n,50))
    // keep both engines on the same well-defined order statistic — no
    // interpolation-formula coupling — and the deviations and the fence
    // comparison are per-row double expressions identical on both sides.
    QuerySpec("q208_grouped_mad",
      (s, d) => {
        val base = t(s, d, "lineitem")
          .select(col("l_suppkey"), col("l_extendedprice").as("x"))
        // the rank machinery stringifies its group key internally —
        // restore the long key here so every downstream join and the
        // report column stay bigint
        def med50(df: org.apache.spark.sql.DataFrame,
                  valueCol: String, outCol: String) =
          graft.operators.Percentiles.groupedAtRanks(
            df, "l_suppkey", valueCol,
            n => array(graft.operators.Percentiles.floorPctRank(n, 50)))
            .select(col("l_suppkey").cast("long").as("l_suppkey"),
              col("value").as(outCol))
        // med/dev/mad each feed TWO consumers (the deviation pass + the
        // final report join; the fence count + the report) — persist so
        // the rank machinery runs once per frame, not once per consumer
        // (unpersisted: 5.4 s at sf0.1; persisted: the four range-sorts
        // collapse to two)
        val med = graft.operators.OperatorCaches.persistTracked(
          med50(base, "x", "med"))
        val dev = graft.operators.OperatorCaches.persistTracked(
          base.join(broadcast(med), "l_suppkey")
            .select(col("l_suppkey"), abs(col("x") - col("med")).as("dev")))
        val mad = graft.operators.OperatorCaches.persistTracked(
          med50(dev, "dev", "mad"))
        val stats = dev.join(broadcast(mad), "l_suppkey")
          .groupBy("l_suppkey")
          .agg(count(lit(1)).as("n"),
            sum(when(col("dev") > lit(3.0d) * lit(1.4826d) * col("mad"),
              lit(1L)).otherwise(lit(0L))).as("n_outliers"))
        med.join(mad, "l_suppkey").join(stats, "l_suppkey")
          .select(col("l_suppkey"), col("n"), col("med"), col("mad"),
            col("n_outliers"))
          .orderBy("l_suppkey")
      },
      Some("""WITH base AS (
             |  SELECT l_suppkey, l_extendedprice AS x FROM lineitem
             |), r AS (
             |  SELECT l_suppkey, x,
             |    row_number() OVER (PARTITION BY l_suppkey ORDER BY x) AS rn,
             |    count(*) OVER (PARTITION BY l_suppkey) AS n
             |  FROM base
             |), med AS (
             |  SELECT l_suppkey,
             |    min(CASE WHEN rn = (n-1)*50//100 + 1 THEN x END) AS med
             |  FROM r GROUP BY 1
             |), dev AS (
             |  SELECT b.l_suppkey, abs(b.x - m.med) AS dev
             |  FROM base b JOIN med m USING (l_suppkey)
             |), rd AS (
             |  SELECT l_suppkey, dev,
             |    row_number() OVER (PARTITION BY l_suppkey ORDER BY dev) AS rn,
             |    count(*) OVER (PARTITION BY l_suppkey) AS n
             |  FROM dev
             |), mad AS (
             |  SELECT l_suppkey,
             |    min(CASE WHEN rn = (n-1)*50//100 + 1 THEN dev END) AS mad
             |  FROM rd GROUP BY 1
             |), st AS (
             |  SELECT v.l_suppkey, count(*) AS n,
             |    CAST(sum(CASE WHEN v.dev > 3.0 * 1.4826 * d.mad
             |             THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
             |  FROM dev v JOIN mad d USING (l_suppkey) GROUP BY 1)
             |SELECT m.l_suppkey, st.n, m.med, d.mad, st.n_outliers
             |FROM med m JOIN mad d USING (l_suppkey) JOIN st USING (l_suppkey)
             |ORDER BY l_suppkey""".stripMargin)),

    // Burst detection over the event stream — the rate-anomaly monitor
    // of an ingestion pipeline: each (event_type, hour) cell's count
    // against the SUM of the trailing 24 hours (a RANGE frame on the
    // epoch key, [−86400 s, −3600 s] — value-ranged, so missing hours
    // weigh zero without gap-filling), flagged when the hourly rate
    // exceeds 3× the trailing average. The flag is the pure-integer
    // comparison 24·n > 3·base24 — no doubles in the decision — and the
    // reported ratio is one per-row division of exact longs (null while
    // the trailing window is empty). One keyed aggregation plus one
    // window partitioned by event_type: never a global sort.
    QuerySpec("q215_burst_detection",
      (s, d) => graft.operators.Transforms.burstFlags(
        events(s, d).filter(col("ts").isNotNull)
          .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
          .agg(count(lit(1)).as("n"))),
      Some("""WITH hourly AS (
             |  SELECT event_type, date_trunc('hour', ts) AS hour,
             |    count(*) AS n
             |  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
             |), w AS (
             |  SELECT event_type, hour, n,
             |    COALESCE(sum(n) OVER (PARTITION BY event_type
             |      ORDER BY epoch_us(hour) // 1000000
             |      RANGE BETWEEN 86400 PRECEDING AND 3600 PRECEDING), 0)
             |      AS base24
             |  FROM hourly)
             |SELECT event_type, hour, CAST(n AS BIGINT) AS n,
             |  CAST(base24 AS BIGINT) AS base24,
             |  CASE WHEN base24 > 0 THEN CAST(24 * n AS DOUBLE) / base24 END
             |    AS burst_ratio,
             |  base24 > 0 AND 24 * n > 3 * base24 AS is_burst
             |FROM w ORDER BY event_type, hour""".stripMargin)),

    // Per-type OLS trend — closed-form simple linear regression of
    // event value over time (is this metric drifting?): x = whole days
    // since 2024-01-01 (exact integers), y = value in EXACT micro-units
    // (the deterministic IEEE→DECIMAL(18,6) cast ×10⁶ — the dsum
    // discipline), all five sufficient statistics (n, Σx, Σy, Σxy, Σx²)
    // exact DECIMAL(38,0) / HUGEINT sums, and the normal-equation
    // solution published FIXED-POINT: slope·10⁹ = ⌊Sxy·10³/Sxx⌋ and
    // intercept·10⁹ = ⌊(Σy·Sxx − Sxy·Σx)·10³/(n·Sxx)⌋ (the ×10³ on
    // micro-scaled y lands both on a 10⁹ grid; integer division
    // truncates toward zero IDENTICALLY in both engines — verified,
    // and deliberately chosen over a decimal→double cast, which is NOT
    // correctly rounded for >2⁵³ intermediates in every engine). The
    // whole query is one map + one 5-accumulator aggregation per type:
    // at 100 TB it is a single map-side-combined pass, no window, no
    // join, constant output. Degenerate (single-day) groups report
    // NULL, not 0/0. The algebra lives in operators/Ols — sufficient
    // statistics merge by addition, so the streaming monitor
    // (EventStreams.olsMonitorSink) maintains the same report from
    // per-batch partials, spec-proven equal to this query.
    QuerySpec("q222_ols_value_trend",
      (s, d) => {
        import graft.operators.Ols
        Ols.solve(Ols.suffStats(Ols.xy(events(s, d))))
      },
      Some("""WITH e AS (
             |  SELECT event_type,
             |    CAST(date_diff('day', DATE '2024-01-01',
             |      CAST(ts AS DATE)) AS BIGINT) AS x,
             |    CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS y
             |  FROM events WHERE ts IS NOT NULL
             |), a AS (
             |  SELECT event_type, count(*) AS n,
             |    sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
             |    sum(CAST(x AS HUGEINT) * y) AS sxy,
             |    sum(CAST(x AS HUGEINT) * x) AS sxx
             |  FROM e GROUP BY 1
             |), b AS (
             |  SELECT event_type, n,
             |    n * sxy - sx * sy AS s_num, n * sxx - sx * sx AS s_den,
             |    sy, sx
             |  FROM a)
             |SELECT event_type, CAST(n AS BIGINT) AS n,
             |  CASE WHEN s_den = 0 THEN NULL
             |       ELSE CAST((s_num * 1000) // s_den AS BIGINT)
             |  END AS slope_fp9,
             |  CASE WHEN s_den = 0 THEN NULL
             |       ELSE CAST(((sy * s_den - s_num * sx) * 1000)
             |                 // (n * s_den) AS BIGINT)
             |  END AS intercept_fp9
             |FROM b ORDER BY event_type""".stripMargin)),

    // Equi-width histogram quantile sketch, oracle-gated END TO END
    // with its exact error audit — the quantile sibling completing the
    // sketch family (CMS q217 frequencies, KMV q187 distincts, Bloom
    // q219 membership): event values in micro-units land in 1.0-unit
    // bins of exact long counters (ONE map-side-combined aggregation
    // into a range/W-sized frame), every requested percentile is
    // answered from the bin frame alone — target rank ⌈p·N/100⌉,
    // cumulative walk, within-bin linear interpolation, all integer
    // fixed-point — and the EXACT order statistic at the same rank is
    // computed beside it on the distributed rank axis
    // (PrefixSum.rank — range partitions + broadcast
    // offsets, never a single-partition window over data), so the
    // report carries the sketch's true error per percentile. At 100 TB
    // the serving cost is sketch-sized (the walk touches ≤ range/W
    // rows); bin partials merge by addition, which the streaming
    // monitor rides (EventStreams.histMonitorSink, spec-proven equal
    // to this query's estimate columns).
    QuerySpec("q224_hist_quantile_sketch",
      (s, d) => {
        val e = events(s, d).filter(col("value").isNotNull)
          .select((col("value").cast("decimal(18,6)") * lit(1000000))
            .cast("long").as("y"))
        val est = graft.operators.HistSketch.quantiles(
          graft.operators.HistSketch.sketch(e, "y"), HistPcts)
        val (ranked, _) = graft.operators.PrefixSum.rank(e, Seq(col("y")), "__rn")
        broadcast(est).join(ranked.select(col("__rn").as("target_rank"),
            col("y").as("exact_fp")), Seq("target_rank"))
          .select(col("p_pct"), col("target_rank"), col("est_fp"),
            col("exact_fp"), (col("est_fp") - col("exact_fp")).as("err_fp"))
          .orderBy("p_pct")
      },
      Some("""WITH e AS (
             |  SELECT CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)
             |    AS y
             |  FROM events WHERE value IS NOT NULL
             |), nn AS (SELECT count(*) AS n FROM e),
             |b AS (SELECT y // 1000000 AS bin, count(*) AS c FROM e GROUP BY 1),
             |cumb AS (
             |  SELECT bin, c, sum(c) OVER (ORDER BY bin
             |    ROWS UNBOUNDED PRECEDING) AS cum
             |  FROM b
             |), q(p_pct) AS (VALUES (1),(5),(25),(50),(75),(90),(99)),
             |t AS (
             |  SELECT CAST(p_pct AS BIGINT) AS p_pct,
             |    CAST((p_pct * n + 99) // 100 AS BIGINT) AS target_rank
             |  FROM q, nn
             |), hit AS (
             |  SELECT t.p_pct, t.target_rank, min(cb.bin) AS bin
             |  FROM t JOIN cumb cb ON cb.cum >= t.target_rank
             |  GROUP BY 1, 2
             |), est AS (
             |  SELECT h.p_pct, h.target_rank,
             |    CAST(h.bin * 1000000
             |      + (1000000 * (h.target_rank - (cb.cum - cb.c))) // cb.c
             |      AS BIGINT) AS est_fp
             |  FROM hit h JOIN cumb cb USING (bin)
             |), ranked AS (
             |  SELECT y, CAST(row_number() OVER (ORDER BY y) AS BIGINT) AS rn
             |  FROM e)
             |SELECT est.p_pct, est.target_rank, est.est_fp,
             |  r.y AS exact_fp, CAST(est.est_fp - r.y AS BIGINT) AS err_fp
             |FROM est JOIN ranked r ON r.rn = est.target_rank
             |ORDER BY est.p_pct""".stripMargin)),

    // Histogram-sketch DELETE — the last cell of the sketch-family
    // lifecycle table (CMS deletes by linearity in q228; Bloom/KMV
    // provably cannot). The bin counters are plain per-bin sums, so
    // pruned = full − deleted-values'-own-sketch equals a fresh build
    // over the remainder bin for bin, drained bins vanishing
    // (HistSketchSpec pins the frames, including a fully-drained bin).
    // The gate exploits exactly that: Spark serves quantiles from the
    // SUBTRACTED sketch while the oracle builds DuckDB bins over the
    // remainder from scratch — hash equality IS the delete ≡ rebuild
    // proof, with the exact remainder order statistic beside each
    // estimate (same error-audit shape as q224). The adjustment is
    // |deleted|-sized: both join sides are ≤ range/W bin rows.
    QuerySpec("q236_hist_sketch_delete",
      (s, d) => {
        val all = events(s, d).filter(col("value").isNotNull)
          .select(col("event_id"),
            (col("value").cast("decimal(18,6)") * lit(1000000))
              .cast("long").as("y"))
        val full = graft.operators.HistSketch.sketch(
          all.select(col("y")), "y")
        val delSk = graft.operators.HistSketch.sketch(
          all.filter(col("event_id") % 10 === 7).select(col("y")), "y")
        val pruned = graft.operators.HistSketch.delete(full, delSk)
        val est = graft.operators.HistSketch.quantiles(pruned, HistPcts)
        val rem = all.filter(col("event_id") % 10 =!= 7).select(col("y"))
        val (ranked, _) = graft.operators.PrefixSum.rank(rem, Seq(col("y")), "__rn")
        broadcast(est).join(ranked.select(col("__rn").as("target_rank"),
            col("y").as("exact_fp")), Seq("target_rank"))
          .select(col("p_pct"), col("target_rank"), col("est_fp"),
            col("exact_fp"), (col("est_fp") - col("exact_fp")).as("err_fp"))
          .orderBy("p_pct")
      },
      Some("""WITH e AS (
             |  SELECT CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)
             |    AS y
             |  FROM events WHERE value IS NOT NULL AND event_id % 10 <> 7
             |), nn AS (SELECT count(*) AS n FROM e),
             |b AS (SELECT y // 1000000 AS bin, count(*) AS c FROM e GROUP BY 1),
             |cumb AS (
             |  SELECT bin, c, sum(c) OVER (ORDER BY bin
             |    ROWS UNBOUNDED PRECEDING) AS cum
             |  FROM b
             |), q(p_pct) AS (VALUES (1),(5),(25),(50),(75),(90),(99)),
             |t AS (
             |  SELECT CAST(p_pct AS BIGINT) AS p_pct,
             |    CAST((p_pct * n + 99) // 100 AS BIGINT) AS target_rank
             |  FROM q, nn
             |), hit AS (
             |  SELECT t.p_pct, t.target_rank, min(cb.bin) AS bin
             |  FROM t JOIN cumb cb ON cb.cum >= t.target_rank
             |  GROUP BY 1, 2
             |), est AS (
             |  SELECT h.p_pct, h.target_rank,
             |    CAST(h.bin * 1000000
             |      + (1000000 * (h.target_rank - (cb.cum - cb.c))) // cb.c
             |      AS BIGINT) AS est_fp
             |  FROM hit h JOIN cumb cb USING (bin)
             |), ranked AS (
             |  SELECT y, CAST(row_number() OVER (ORDER BY y) AS BIGINT) AS rn
             |  FROM e)
             |SELECT est.p_pct, est.target_rank, est.est_fp,
             |  r.y AS exact_fp, CAST(est.est_fp - r.y AS BIGINT) AS err_fp
             |FROM est JOIN ranked r ON r.rn = est.target_rank
             |ORDER BY est.p_pct""".stripMargin)),

    // Priority sampling + Horvitz–Thompson estimation (Duffield–Lund–
    // Thorup) — the audit-economics primitive: ONE fixed k-row weighted
    // sample of the corpus answers arbitrary "total by X" questions
    // with unbiased estimates and ~1/√k error, instead of a corpus
    // scan per question. The report serves per-returnflag HT revenue
    // estimates from a k=1000 sample BESIDE the exact totals with the
    // signed difference and quantized relative error — both engines
    // draw the SAME sample (md5-bridge uniforms, IEEE priorities,
    // deterministic (priority DESC, key) tiebreak), so the whole
    // report hash-matches. Plan: map-side priorities, ONE top-(k+1)
    // (per-partition top-k + merge, never a global sort), then
    // everything is k-row-sized except the one exact-totals pass the
    // audit itself requires. The sample state is merge-closed (the KMV
    // argument on the priority axis) — the streaming monitor rides it.
    QuerySpec("q237_priority_sample_ht",
      (s, d) => {
        val li = t(s, d, "lineitem").select(col("l_returnflag"),
          concat(col("l_orderkey").cast("string"), lit("_"),
            col("l_linenumber").cast("string")).as("k"),
          floor(col("l_extendedprice") * lit(100.0d) + lit(0.5d))
            .cast("long").as("w_c"))
        val pri = graft.operators.PrioritySample.withPriority(
          li, col("k"), col("w_c"))
        val (samp, tau) = graft.operators.PrioritySample
          .sampleWithTau(pri, 1000)
        val est = graft.operators.PrioritySample
          .htGroupTotals(samp, tau, "l_returnflag")
        val exact = li.groupBy("l_returnflag")
          .agg(count(lit(1)).as("n_total"),
            sum(col("w_c").cast("decimal(38,0)")).as("exact_c0"))
        exact.join(est, Seq("l_returnflag"), "left")
          .select(col("l_returnflag"), col("n_total"),
            coalesce(col("n_sampled"), lit(0L)).as("n_sampled"),
            col("exact_c0").cast("long").as("exact_c"),
            coalesce(col("ht_c"), lit(0L).cast("decimal(38,0)"))
              .cast("long").as("ht_c"))
          .withColumn("diff_c", col("ht_c") - col("exact_c"))
          .withColumn("abs_err_bp",
            expr("abs(ht_c - exact_c) * 10000 DIV exact_c"))
          .orderBy("l_returnflag")
      },
      Some("""WITH w AS (
             |  SELECT l_returnflag,
             |    CAST(l_orderkey AS VARCHAR) || '_' ||
             |      CAST(l_linenumber AS VARCHAR) AS k,
             |    CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS w_c
             |  FROM lineitem
             |), p AS (
             |  SELECT l_returnflag, k, w_c,
             |    CAST(w_c AS DOUBLE) /
             |      ((('0x' || substr(md5(k),1,15))::BIGINT + 1)
             |        / 1152921504606846976.0) AS prio
             |  FROM w
             |), r AS (
             |  SELECT *, row_number() OVER (ORDER BY prio DESC, k) AS rn
             |  FROM p
             |), tau AS (
             |  -- 0 when the population has <= 1000 items (every item
             |  -- sampled, HT degenerates to the exact sum) -- the
             |  -- Spark side's n <= k fallback, mirrored
             |  SELECT COALESCE((SELECT prio FROM r WHERE rn = 1001), 0.0)
             |    AS t
             |), est AS (
             |  SELECT l_returnflag, count(*) AS n_sampled,
             |    CAST(sum(greatest(w_c, CAST(floor(t) AS BIGINT)))
             |      AS BIGINT) AS ht_c
             |  FROM r, tau WHERE rn <= 1000 GROUP BY 1
             |), ex AS (
             |  SELECT l_returnflag, count(*) AS n_total,
             |    CAST(sum(w_c) AS BIGINT) AS exact_c
             |  FROM w GROUP BY 1
             |)
             |SELECT ex.l_returnflag, n_total,
             |  COALESCE(n_sampled, 0) AS n_sampled, exact_c,
             |  COALESCE(ht_c, 0) AS ht_c,
             |  COALESCE(ht_c, 0) - exact_c AS diff_c,
             |  abs(COALESCE(ht_c, 0) - exact_c) * 10000 // exact_c
             |    AS abs_err_bp
             |FROM ex LEFT JOIN est USING (l_returnflag)
             |ORDER BY l_returnflag""".stripMargin)),

    // Rendezvous (highest-random-weight) sharding vs mod-hash — the
    // shard-count-change audit run BEFORE a 100 TB corpus is re-laid
    // out: growing 16 → 17 shards moves ~1/17 of keys (~588 bp) under
    // rendezvous assignment (each key independently follows its argmax
    // score, which changes only when the NEW shard wins) but ~16/17
    // (~9412 bp) under mod-hash — a full-corpus rewrite. Both
    // assignments are md5-bridge exact, the argmax deterministic with
    // a declared (score, shard) tiebreak, so the report hash-matches.
    // Cost: one |docs|×17 broadcast cross for the scores (linear,
    // map-side), per-key argmax, two ≤17-row balance rollups.
    QuerySpec("q240_rendezvous_sharding",
      (s, d) => {
        val ks = t(s, d, "documents")
          .select(col("doc_id").cast("string").as("k"))
        val shards = s.range(17).select(col("id").as("shard"))
        // persisted: both rvAssign calls read it — without this the
        // |docs|×17 md5 cross runs twice
        val sc = graft.operators.OperatorCaches.persistTracked(
          ks.crossJoin(broadcast(shards))
            .select(col("k"), col("shard"),
              graft.functions.TextFunctions.md5Long(
                concat(col("k"), lit("#"), col("shard").cast("string")))
                .as("score")))
        def rvAssign(n: Int) = sc.filter(col("shard") < n)
          .groupBy(col("k"))
          .agg(max(struct(col("score"), col("shard"))).as("m"))
          .select(col("k"), col("m.shard").as(s"s$n"))
        val rv = rvAssign(16).join(rvAssign(17), Seq("k"))
        val md = ks.select(col("k"),
          (graft.functions.TextFunctions.md5Long(col("k")) % 16)
            .as("s16"),
          (graft.functions.TextFunctions.md5Long(col("k")) % 17)
            .as("s17"))
        def report(name: String, a: org.apache.spark.sql.DataFrame) = {
          val moved = a.agg(count(lit(1)).as("n_docs"),
            sum(when(col("s16") =!= col("s17"), 1L).otherwise(0L))
              .as("n_moved"))
          val load = a.groupBy(col("s17")).agg(count(lit(1)).as("c"))
            .agg(max(col("c")).as("max_load17"))
          moved.crossJoin(load)
            .select(lit(name).as("method"), col("n_docs"),
              col("n_moved"),
              expr("n_moved * 10000 DIV n_docs").as("moved_bp"),
              col("max_load17"))
        }
        report("mod", md).unionByName(report("rendezvous", rv))
          .orderBy("method")
      },
      Some("""WITH k AS (
             |  SELECT CAST(doc_id AS VARCHAR) AS k FROM documents
             |), sh AS (SELECT unnest(range(0, 17)) AS shard),
             |sc AS (
             |  SELECT k, shard,
             |    ('0x' || substr(md5(k || '#' || CAST(shard AS VARCHAR)),
             |      1, 15))::BIGINT AS score
             |  FROM k, sh
             |), r16 AS (
             |  SELECT k, shard AS s16 FROM (
             |    SELECT k, shard, row_number() OVER (
             |      PARTITION BY k ORDER BY score DESC, shard DESC) AS rn
             |    FROM sc WHERE shard < 16) WHERE rn = 1
             |), r17 AS (
             |  SELECT k, shard AS s17 FROM (
             |    SELECT k, shard, row_number() OVER (
             |      PARTITION BY k ORDER BY score DESC, shard DESC) AS rn
             |    FROM sc) WHERE rn = 1
             |), rv AS (SELECT k.k, s16, s17 FROM k
             |          JOIN r16 USING (k) JOIN r17 USING (k)),
             |md AS (
             |  SELECT k,
             |    ('0x' || substr(md5(k),1,15))::BIGINT % 16 AS s16,
             |    ('0x' || substr(md5(k),1,15))::BIGINT % 17 AS s17
             |  FROM k
             |), rep AS (
             |  SELECT 'mod' AS method,
             |    count(*) AS n_docs,
             |    CAST(sum(CASE WHEN s16 <> s17 THEN 1 ELSE 0 END)
             |      AS BIGINT) AS n_moved,
             |    (SELECT CAST(max(c) AS BIGINT) FROM (
             |      SELECT count(*) c FROM md GROUP BY s17)) AS max_load17
             |  FROM md
             |  UNION ALL
             |  SELECT 'rendezvous', count(*),
             |    CAST(sum(CASE WHEN s16 <> s17 THEN 1 ELSE 0 END)
             |      AS BIGINT),
             |    (SELECT CAST(max(c) AS BIGINT) FROM (
             |      SELECT count(*) c FROM rv GROUP BY s17))
             |  FROM rv
             |)
             |SELECT method, n_docs, n_moved,
             |  n_moved * 10000 // n_docs AS moved_bp, max_load17
             |FROM rep ORDER BY method""".stripMargin)),

    // Apriori frequent-triple mining — the candidate-generation step
    // that makes market-basket analysis survive scale (Agrawal et al.):
    // NEVER enumerate all Σ basket³ triples; instead (1) mine L2 =
    // pairs with support ≥ 2 (q194's basket-keyed self-join, work
    // Σ basket²), (2) generate candidate triples only as TWO L2 pairs
    // sharing (order, first item) — the per-order occurrence stream is
    // semi-joined to L2 FIRST, so candidate work is Σ_order Σ_x
    // freq_pairs(x)², (3) prune candidates whose third face (y, z) is
    // not in L2 (the Apriori closure property: every subset of a
    // frequent set is frequent), (4) confirm by exact count. The x<y<z
    // orientation counts each triple once. Top-20 by support — at the
    // fixture's sparsity the confirmation pass IS the report (sf0.1
    // has exactly one surviving candidate); the pruning ratio, not the
    // threshold, is what transfers to 100 TB.
    QuerySpec("q226_frequent_triples",
      (s, d) => {
        // pooled basket pair stream (Q.basketPairOcc, FramePool-persisted)
        // — shared with q194/q223; the per-query persistTracked is gone
        // because the pool already holds the frame
        val occ2 = Q.basketPairOcc(s, d)
        val l2 = occ2.groupBy(col("x"), col("y"))
          .agg(count(lit(1)).as("s")).filter(col("s") >= 2L)
          .select(col("x"), col("y"))
        val occ2f = graft.operators.OperatorCaches.persistTracked(
          occ2.join(l2, Seq("x", "y"), "left_semi"))
        val cand = occ2f.as("p").join(occ2f.as("q"),
            col("p.ok") === col("q.ok") && col("p.x") === col("q.x")
              && col("p.y") < col("q.y"))
          .select(col("p.ok").as("ok"), col("p.x").as("x"),
            col("p.y").as("y"), col("q.y").as("z"))
        val pruned = cand.join(
          l2.select(col("x").as("y"), col("y").as("z")),
          Seq("y", "z"), "left_semi")
        pruned.groupBy(col("x"), col("y"), col("z"))
          .agg(count(lit(1)).as("support"))
          .select(col("x").as("part_a"), col("y").as("part_b"),
            col("z").as("part_c"), col("support"))
          .orderBy(desc("support"), col("part_a"), col("part_b"),
            col("part_c"))
          .limit(20)
      },
      Some("""WITH b AS (
             |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
             |), occ2 AS (
             |  SELECT a.ok, a.pk AS x, bb.pk AS y
             |  FROM b a JOIN b bb ON a.ok = bb.ok AND a.pk < bb.pk
             |), l2 AS (
             |  SELECT x, y FROM (
             |    SELECT x, y, count(*) AS s FROM occ2 GROUP BY 1, 2)
             |  WHERE s >= 2
             |), occ2f AS (
             |  SELECT occ2.* FROM occ2 SEMI JOIN l2 USING (x, y)
             |), cand AS (
             |  SELECT p.ok, p.x, p.y, q.y AS z
             |  FROM occ2f p JOIN occ2f q
             |    ON p.ok = q.ok AND p.x = q.x AND p.y < q.y
             |), pruned AS (
             |  SELECT cand.* FROM cand
             |  SEMI JOIN (SELECT x AS y, y AS z FROM l2) USING (y, z)
             |)
             |SELECT x AS part_a, y AS part_b, z AS part_c,
             |  count(*) AS support
             |FROM pruned GROUP BY 1, 2, 3
             |ORDER BY support DESC, part_a, part_b, part_c
             |LIMIT 20""".stripMargin)),

    // Multi-touch (linear) conversion attribution — the marketing-
    // analytics classic the single-touch q201 cannot answer: every
    // view in the 24 h before a purchase shares that conversion's
    // credit EQUALLY (1/k to each of the k views), and the report
    // rolls credit up by the VIEW's hour-of-day — "which hours'
    // impressions actually drive purchases". Credit is exact
    // fixed-point ⌊10⁶/k⌋ per pair (integer division, no float sums);
    // hour-of-day is pure epoch arithmetic ((µs DIV 3600·10⁶) mod 24 —
    // no timezone/locale surface between engines). The view×purchase
    // pairing is a USER-KEYED equi-join with a range residual — per-
    // user work is views·purchases within the same user, never a
    // cross-user product; k comes from one purchase-keyed count joined
    // back. At 100 TB everything is user-partitioned until the 24-row
    // final rollup.
    QuerySpec("q227_multitouch_attribution",
      (s, d) => {
        val e = events(s, d).filter(col("ts").isNotNull)
        val views = e.filter(col("event_type") === "view")
          .select(col("user_id"), col("event_id").as("view_id"),
            unix_micros(col("ts")).as("vts"))
        val purch = e.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id").as("p_id"),
            unix_micros(col("ts")).as("pts"))
        val pairs = graft.operators.OperatorCaches.persistTracked(
          views.join(purch, Seq("user_id"))
            .filter(col("vts") < col("pts")
              && col("vts") >= col("pts") - lit(86400000000L)))
        val k = pairs.groupBy(col("p_id")).agg(count(lit(1)).as("k"))
        pairs.join(k, Seq("p_id"))
          .select((pmod(expr("vts DIV 3600000000"), lit(24L))).as("hour"),
            col("p_id"), expr("1000000 DIV k").as("credit_fp"))
          .groupBy(col("hour"))
          .agg(count(lit(1)).as("touches"),
            countDistinct(col("p_id")).as("purchases_touched"),
            sum(col("credit_fp")).as("credit_fp"))
          .orderBy("hour")
      },
      Some("""WITH v AS (
             |  SELECT user_id, event_id AS view_id, epoch_us(ts) AS vts
             |  FROM events WHERE event_type = 'view' AND ts IS NOT NULL
             |), p AS (
             |  SELECT user_id, event_id AS p_id, epoch_us(ts) AS pts
             |  FROM events WHERE event_type = 'purchase' AND ts IS NOT NULL
             |), pairs AS (
             |  SELECT v.view_id, p.p_id, v.vts
             |  FROM v JOIN p ON v.user_id = p.user_id
             |    AND v.vts < p.pts AND v.vts >= p.pts - 86400000000
             |), k AS (
             |  SELECT p_id, count(*) AS k FROM pairs GROUP BY 1
             |)
             |SELECT (pairs.vts // 3600000000) % 24 AS hour,
             |  count(*) AS touches,
             |  CAST(count(DISTINCT pairs.p_id) AS BIGINT) AS purchases_touched,
             |  CAST(sum(1000000 // k.k) AS BIGINT) AS credit_fp
             |FROM pairs JOIN k USING (p_id)
             |GROUP BY 1 ORDER BY hour""".stripMargin)),

    // Next-event prediction BACKTEST — the temporal-split evaluation
    // discipline every production model is judged by, run on the
    // simplest possible model (first-order Markov argmax, q200's
    // transition matrix turned into a predictor): TRAIN on consecutive
    // (prev, next) pairs whose successor lands before 2024-01-22,
    // predict argmax next-type per prev-type (ties to the
    // lexicographically first — engine-deterministic), EVALUATE on the
    // pairs at or after the boundary. The split is on the SUCCESSOR's
    // timestamp, so no test label ever leaks into training. Exact
    // integer hits with ONE double division per row; prev-types absent
    // from training predict NULL and score misses (the honest-coverage
    // rule). One user-keyed lead() pass, one |types|²-shaped model
    // aggregation, one broadcast model join back onto test pairs.
    QuerySpec("q232_markov_backtest",
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        val pairs = graft.operators.OperatorCaches.persistTracked(
          events(s, d).filter(col("ts").isNotNull)
            .select(col("user_id"), col("ts"), col("event_id"),
              col("event_type"))
            .withColumn("next_type", lead(col("event_type"), 1).over(w))
            .withColumn("next_ts", lead(col("ts"), 1).over(w))
            .filter(col("next_type").isNotNull)
            .select(col("event_type").as("prev_type"), col("next_type"),
              col("next_ts")))
        val boundary = lit("2024-01-22").cast("timestamp")
        val model = pairs.filter(col("next_ts") < boundary)
          .groupBy(col("prev_type"), col("next_type"))
          .agg(count(lit(1)).as("cnt"))
          .withColumn("rk", row_number().over(
            Window.partitionBy(col("prev_type"))
              .orderBy(desc("cnt"), col("next_type"))))
          .filter(col("rk") === 1)
          .select(col("prev_type"), col("next_type").as("predicted"))
        pairs.filter(col("next_ts") >= boundary)
          .join(broadcast(model), Seq("prev_type"), "left")
          .groupBy(col("prev_type"), col("predicted"))
          .agg(count(lit(1)).as("n_test"),
            sum(when(col("next_type") === col("predicted"), 1L)
              .otherwise(0L)).as("hits"))
          .select(col("prev_type"), col("predicted"), col("n_test"),
            col("hits"),
            (col("hits").cast("double") / col("n_test").cast("double"))
              .as("accuracy"))
          .orderBy("prev_type")
      },
      Some("""WITH p AS (
             |  SELECT event_type AS prev_type,
             |    lead(event_type, 1) OVER w AS next_type,
             |    lead(ts, 1) OVER w AS next_ts
             |  FROM events WHERE ts IS NOT NULL
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
             |), pairs AS (
             |  SELECT * FROM p WHERE next_type IS NOT NULL
             |), model AS (
             |  SELECT prev_type, next_type AS predicted FROM (
             |    SELECT prev_type, next_type, count(*) AS cnt,
             |      row_number() OVER (PARTITION BY prev_type
             |        ORDER BY count(*) DESC, next_type) AS rk
             |    FROM pairs WHERE next_ts < TIMESTAMP '2024-01-22'
             |    GROUP BY 1, 2)
             |  WHERE rk = 1
             |)
             |SELECT pairs.prev_type, model.predicted,
             |  count(*) AS n_test,
             |  CAST(sum(CASE WHEN next_type = predicted THEN 1 ELSE 0 END)
             |    AS BIGINT) AS hits,
             |  CAST(sum(CASE WHEN next_type = predicted THEN 1 ELSE 0 END)
             |    AS DOUBLE) / count(*) AS accuracy
             |FROM pairs LEFT JOIN model USING (prev_type)
             |WHERE next_ts >= TIMESTAMP '2024-01-22'
             |GROUP BY 1, 2 ORDER BY prev_type""".stripMargin)),

    // Shard-balance audit — the key-choice check run BEFORE committing
    // a shuffle-heavy job to a partition key at 100 TB: for each
    // candidate key, hash rows into 32 buckets (the md5 bridge, so the
    // assignment is engine-deterministic — Spark's internal hash would
    // not be) and report the balance profile: bucket-count max, min,
    // nonempty buckets, and the max/mean skew ratio in one double
    // division. user_id spreads fine; event_type has 5 values for 32
    // buckets (structural skew — the report SHOWS it, which is the
    // point); day is in between. One keyed aggregation per candidate
    // into a ≤32-row frame, rolled to one row per key — the whole
    // report costs three map-side-combined passes, output 3 rows.
    QuerySpec("q234_shard_balance",
      (s, d) => {
        val e = events(s, d).filter(col("ts").isNotNull)
        def profile(keyName: String, key: org.apache.spark.sql.Column) =
          e.select((graft.functions.TextFunctions.md5Long(key.cast("string"))
              % lit(32L)).as("bucket"))
            .groupBy(col("bucket")).agg(count(lit(1)).as("c"))
            .agg(sum(col("c")).as("n_rows"),
              count(lit(1)).as("buckets_used"),
              max(col("c")).as("max_bucket"),
              min(col("c")).as("min_bucket"))
            .select(lit(keyName).as("key"), col("n_rows"),
              col("buckets_used"), col("max_bucket"), col("min_bucket"),
              ((col("max_bucket") * lit(32L)).cast("double")
                / col("n_rows").cast("double")).as("skew_ratio"))
        profile("day", col("ts").cast("date"))
          .unionByName(profile("event_type", col("event_type")))
          .unionByName(profile("user_id", col("user_id")))
          .orderBy("key")
      },
      Some("""WITH e AS (SELECT * FROM events WHERE ts IS NOT NULL),
             |p1 AS (
             |  SELECT ('0x' || substr(md5(CAST(CAST(ts AS DATE)
             |    AS VARCHAR)),1,15))::BIGINT % 32 AS bucket, count(*) AS c
             |  FROM e GROUP BY 1
             |), p2 AS (
             |  SELECT ('0x' || substr(md5(event_type),1,15))::BIGINT % 32
             |    AS bucket, count(*) AS c
             |  FROM e GROUP BY 1
             |), p3 AS (
             |  SELECT ('0x' || substr(md5(CAST(user_id AS VARCHAR)),1,15))
             |    ::BIGINT % 32 AS bucket, count(*) AS c
             |  FROM e GROUP BY 1
             |), r1 AS (
             |  SELECT 'day' AS key, CAST(sum(c) AS BIGINT) AS n_rows,
             |    count(*) AS buckets_used, max(c) AS max_bucket,
             |    min(c) AS min_bucket,
             |    CAST(max(c) * 32 AS DOUBLE) / CAST(sum(c) AS DOUBLE)
             |      AS skew_ratio
             |  FROM p1
             |), r2 AS (
             |  SELECT 'event_type', CAST(sum(c) AS BIGINT), count(*),
             |    max(c), min(c),
             |    CAST(max(c) * 32 AS DOUBLE) / CAST(sum(c) AS DOUBLE)
             |  FROM p2
             |), r3 AS (
             |  SELECT 'user_id', CAST(sum(c) AS BIGINT), count(*),
             |    max(c), min(c),
             |    CAST(max(c) * 32 AS DOUBLE) / CAST(sum(c) AS DOUBLE)
             |  FROM p3
             |)
             |SELECT * FROM r1 UNION ALL SELECT * FROM r2
             |UNION ALL SELECT * FROM r3 ORDER BY key""".stripMargin)),

    // Late-arrival census — the WATERMARK-DESIGN instrument a streaming
    // deployment runs before picking `withWatermark` bounds: per event,
    // lateness = (max event-time seen at its arrival) − its event-time,
    // bucketed by hour; the per-type max is exactly the disorder horizon
    // a watermark must cover, and mass in high buckets is the state a
    // tighter bound would DROP. Arrival order is a deterministic md5
    // shuffle of event_id (the q69 injection discipline — the fixture
    // stream is generation-ordered, so real disorder must be planted to
    // exercise the operator; both engines state the same permutation).
    // The strict-predecessor running max is the distributed
    // PrefixSum.rankedRunningMax — range partitions + broadcast offsets,
    // never an ORDER-BY-only window; the oracle's window frame is its
    // single-node privilege. In-order events land in bucket −1.
    QuerySpec("q277_lateness_profile",
      (s, d) => {
        val ev = events(s, d).select(col("event_id"), col("event_type"),
          expr("unix_micros(ts)").as("us"))
        val arrival = graft.functions.TextFunctions.md5Long(
          col("event_id").cast("string"))
        val rm = graft.operators.PrefixSum.rankedRunningMax(
          ev, Seq(arrival, col("event_id")), col("us"), "__rn", "pm")
        rm.select(col("event_type"),
            when(col("pm").isNotNull && col("pm") > col("us"),
              col("pm") - col("us")).otherwise(0L).as("late_us"))
          .groupBy(col("event_type"),
            expr("CAST(CASE WHEN late_us = 0 THEN -1" +
              " ELSE late_us DIV 3600000000 END AS BIGINT)")
              .as("late_bucket_h"))
          .agg(count(lit(1)).as("n_events"),
            max(col("late_us")).as("max_late_us"))
          .orderBy("event_type", "late_bucket_h")
      },
      Some("""WITH e AS (
             |  SELECT event_id, event_type, epoch_us(ts) AS us
             |  FROM events
             |), r AS (
             |  SELECT event_type, us,
             |    max(us) OVER (
             |      ORDER BY ('0x' || substr(md5(event_id::VARCHAR),1,15))
             |        ::BIGINT, event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             |      AS pm
             |  FROM e
             |), l AS (
             |  SELECT event_type,
             |    CASE WHEN pm IS NOT NULL AND pm > us THEN pm - us
             |         ELSE 0 END AS late_us
             |  FROM r
             |)
             |SELECT event_type,
             |  CAST(CASE WHEN late_us = 0 THEN -1
             |       ELSE late_us // 3600000000 END AS BIGINT)
             |    AS late_bucket_h,
             |  count(*) AS n_events,
             |  CAST(max(late_us) AS BIGINT) AS max_late_us
             |FROM l GROUP BY 1, 2
             |ORDER BY event_type, late_bucket_h""".stripMargin))
  )

  /** q224's fixed percentile list — shared with the streaming histogram
    * monitor so the streamed report is comparable to the batch query. */
  val HistPcts: Seq[Int] = Seq(1, 5, 25, 50, 75, 90, 99)
}
