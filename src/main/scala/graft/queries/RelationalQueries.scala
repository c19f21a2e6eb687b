package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.operators.{Convert, OperatorCaches, Transforms}
import graft.sources.Scan
import Q._

/** Reference-parity operators (SURVEY.md §2: scans, sinks, projections,
  * filters, sorts, sampling, pivot, union-by-name) plus the relational
  * machinery the scale extensions need (joins, grouped aggregation, window
  * functions, sessionization, as-of join) — all absent from the reference
  * (§2.9) but mandated by the north star.
  *
  * Every query ends in a deterministic orderBy; float aggregates go through
  * Q.dsum (exact decimal summation) so results hash-match the DuckDB oracle.
  */
object RelationalQueries {

  val specs: Seq[QuerySpec] = Seq(

    // S1 + O1: full parquet scan, global sort. At scale this is a
    // range-partitioned shuffle; Spark samples boundaries automatically.
    QuerySpec("q01_scan_sort",
      // (l_orderkey, l_linenumber) is NOT unique in the synthetic fixture;
      // the 7-column key leaves ties only between fully-identical rows, so
      // the hash compare is order-safe.
      (s, d) => t(s, d, "lineitem").orderBy("l_orderkey", "l_linenumber",
        "l_partkey", "l_suppkey", "l_quantity", "l_extendedprice", "l_shipdate"),
      Some("""SELECT * FROM lineitem ORDER BY l_orderkey, l_linenumber,
             |  l_partkey, l_suppkey, l_quantity, l_extendedprice, l_shipdate""".stripMargin)),

    // P1/P2-shape: projection + predicate; both reach the parquet scan
    // (ReadSchema prunes to 4 columns, PushedFilters carries the predicate).
    QuerySpec("q02_project_filter",
      (s, d) => t(s, d, "lineitem")
        .filter(col("l_quantity") > 30)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate")
        .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate"),
      Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_shipdate
             |FROM lineitem WHERE l_quantity > 30
             |ORDER BY l_orderkey, l_linenumber, l_quantity, l_shipdate""".stripMargin)),

    // P2+P3: suffix filter + first-dot stem extraction (the reference's
    // manifest filtering, re-expressed over the documents fixture).
    QuerySpec("q03_filter_suffix_stem",
      (s, d) => {
        val named = t(s, d, "documents").withColumn("filename",
          concat_ws(".", col("source"),
            when(col("doc_id") % 3 === 0, "parquet").otherwise("csv")))
        Transforms.filterSuffix(named, "filename", ".parquet")
          .select(col("doc_id"), col("filename"),
            Transforms.stem(col("filename")).as("stem"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, source || '.parquet' AS filename, source AS stem
             |FROM documents WHERE doc_id % 3 = 0 ORDER BY doc_id""".stripMargin)),

    // O1 desc + limit: Catalyst plans TakeOrderedAndProject — per-partition
    // top-k then a tiny driver merge; no full sort at scale.
    QuerySpec("q04_sort_topk",
      (s, d) => t(s, d, "orders")
        .orderBy(desc("o_totalprice"), col("o_orderkey")).limit(100),
      Some("SELECT * FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 100")),

    // §2.6 union-by-name with missing-column tolerance (reference
    // union_by_name=true); row set checkable, so oracle-verified.
    QuerySpec("q05_union_by_name",
      (s, d) => {
        val c = t(s, d, "customer").select(
          col("c_name").as("name"), col("c_acctbal").as("acctbal"),
          lit("customer").as("side"), col("c_mktsegment").as("mktsegment"))
        val sup = t(s, d, "supplier").select(
          col("s_name").as("name"), col("s_acctbal").as("acctbal"),
          lit("supplier").as("side"))
        c.unionByName(sup, allowMissingColumns = true).orderBy("side", "name")
      },
      Some("""SELECT c_name AS name, c_acctbal AS acctbal, 'customer' AS side,
             |       c_mktsegment AS mktsegment FROM customer
             |UNION ALL
             |SELECT s_name, s_acctbal, 'supplier', CAST(NULL AS VARCHAR) FROM supplier
             |ORDER BY side, name""".stripMargin)),

    // O2: seeded exact-n sample. Cross-engine RNG parity is impossible
    // (SURVEY.md §5.4) so the oracle checks the exact-count contract.
    QuerySpec("q06_sample_count",
      (s, d) => Transforms.sampleExactN(t(s, d, "lineitem"), 1234, seed = 721L)
        .agg(count(lit(1)).as("n_rows")),
      Some("SELECT CAST(least(1234, count(*)) AS BIGINT) AS n_rows FROM lineitem")),

    // A1: long→wide pivot with explicit values (skips the distinct-values
    // pre-job) — the reference's only true grouped operator.
    QuerySpec("q07_pivot",
      (s, d) => t(s, d, "lineitem")
        .groupBy(col("l_linestatus"))
        .pivot("l_returnflag", Seq("A", "N", "R"))
        .agg(dsum(col("l_quantity")))
        .orderBy("l_linestatus"),
      Some("""SELECT l_linestatus,
             |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) FILTER (l_returnflag='A') AS DOUBLE) AS "A",
             |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) FILTER (l_returnflag='N') AS DOUBLE) AS "N",
             |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) FILTER (l_returnflag='R') AS DOUBLE) AS "R"
             |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin)),

    // K4→S4 round-trip: parquet → partitioned CSV (maxRecordsPerFile) →
    // schema'd CSV scan → aggregate. Proves the conversion core preserves
    // values (incl. µs timestamps) inside the correctness gate itself.
    QuerySpec("q08_convert_roundtrip",
      (s, d) => {
        val src = t(s, d, "lineitem")
        val tmp = OperatorCaches.deleteOnRelease(
          Files.createTempDirectory("graft_rt")).toString + "/lineitem_csv"
        Convert.toCsvDir(src, tmp)
        Scan.csvWithSchema(s, src.schema, tmp)
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("sum_price"),
            min(col("l_shipdate")).as("min_ship"), max(col("l_shipdate")).as("max_ship"))
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag, count(*) AS n,
             |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
             |  min(l_shipdate) AS min_ship, max(l_shipdate) AS max_ship
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // Multi-table join + grouped agg. nation/customer are broadcast (dim
    // tables); the lineitem⋈orders join shuffles on the shared key once.
    QuerySpec("q10_join_revenue_by_nation",
      (s, d) => {
        val li = t(s, d, "lineitem"); val o = t(s, d, "orders")
        val c = t(s, d, "customer"); val n = t(s, d, "nation")
        li.join(o, li("l_orderkey") === o("o_orderkey"))
          .join(broadcast(c), o("o_custkey") === c("c_custkey"))
          .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
          .groupBy(col("n_name"))
          .agg(
            // all-decimal arithmetic: casting the double PRODUCT to decimal
            // rounds differently in Spark (shortest-string repr, HALF_UP)
            // vs DuckDB (binary value) at .xx5 boundaries — so cast each
            // factor first and multiply exactly.
            sum(col("l_extendedprice").cast(DecimalType(18, 2)) *
                (lit(1).cast(DecimalType(18, 2)) - col("l_discount").cast(DecimalType(18, 2))))
              .cast("double").as("revenue"),
            count(lit(1)).as("n_rows"))
          .orderBy("n_name")
      },
      Some("""SELECT n_name,
             |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
             |  count(*) AS n_rows
             |FROM lineitem
             |JOIN orders   ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |JOIN nation   ON c_nationkey = n_nationkey
             |GROUP BY n_name ORDER BY n_name""".stripMargin)),

    // Window top-k per group (row_number over partition).
    QuerySpec("q11_window_topk",
      (s, d) => {
        val o = t(s, d, "orders"); val c = t(s, d, "customer")
        val w = Window.partitionBy(col("c_mktsegment"))
          .orderBy(desc("o_totalprice"), col("o_orderkey"))
        o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
          .withColumn("rnk", row_number().over(w))
          .filter(col("rnk") <= 3)
          .withColumn("rnk", col("rnk").cast("long"))
          .select("c_mktsegment", "rnk", "o_orderkey", "o_totalprice")
          .orderBy("c_mktsegment", "rnk")
      },
      Some("""SELECT c_mktsegment, rnk, o_orderkey, o_totalprice FROM (
             |  SELECT c_mktsegment, o_orderkey, o_totalprice,
             |    row_number() OVER (PARTITION BY c_mktsegment
             |                       ORDER BY o_totalprice DESC, o_orderkey) AS rnk
             |  FROM orders JOIN customer ON o_custkey = c_custkey) x
             |WHERE rnk <= 3 ORDER BY c_mktsegment, rnk""".stripMargin)),

    // TPC-H Q1-shape grouped aggregation (count/sum/avg/min/max) — fully
    // map-side-combinable; partial aggregation keeps the shuffle tiny.
    QuerySpec("q12_agg_pricing_summary",
      (s, d) => t(s, d, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          count(lit(1)).as("n"),
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_price"),
          (dsum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
          min(col("l_shipdate")).as("min_ship"),
          max(col("l_shipdate")).as("max_ship"))
        .orderBy("l_returnflag", "l_linestatus"),
      Some("""SELECT l_returnflag, l_linestatus, count(*) AS n,
             |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
             |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
             |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
             |  min(l_shipdate) AS min_ship, max(l_shipdate) AS max_ship
             |FROM lineitem GROUP BY l_returnflag, l_linestatus
             |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    // Tumbling event-time window (batch shape; the streaming twin lives in
    // graft.streaming and is exercised by scalatest with a MemoryStream).
    QuerySpec("q13_events_hourly",
      (s, d) => events(s, d)
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
        .orderBy("hour", "event_type"),
      Some("""SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n,
             |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
             |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin)),

    // Sliding (hopping) event-time windows: 1-hour windows every 15
    // minutes — each event lands in 4 overlapping windows. Spark's
    // window() generator expands the 4 memberships at the scan (epoch-
    // aligned starts); the oracle derives the same 4 starts per event
    // arithmetically. The trend-smoothing aggregation shape of a
    // monitoring pipeline; null-ts rows are excluded explicitly (the
    // generator drops them, SQL must match).
    QuerySpec("q98_sliding_window",
      (s, d) => events(s, d)
        .filter(col("ts").isNotNull)
        .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
        .select(col("w.start").as("win_start"), col("event_type"),
          col("n"), col("sum_value"))
        .orderBy("win_start", "event_type"),
      Some("""WITH e AS (
             |  SELECT time_bucket(INTERVAL '15 minutes', ts)
             |           - i * INTERVAL '15 minutes' AS win_start,
             |         event_type, value
             |  FROM events, unnest(range(0, 4)) AS t(i)
             |  WHERE ts IS NOT NULL
             |)
             |SELECT win_start, event_type, count(*) AS n,
             |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
             |FROM e GROUP BY 1, 2 ORDER BY win_start, event_type""".stripMargin)),

    // Sessionization: 30-min-gap sessions via lag + running sum windows.
    QuerySpec("q14_sessionize",
      (s, d) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        val gapUs = 1800L * 1000000L
        events(s, d)
          .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
          .withColumn("new_s",
            when(col("prev_us").isNull, 1)
              .when(unix_micros(col("ts")) - col("prev_us") > gapUs, 1)
              .otherwise(0))
          .withColumn("session_id", sum(col("new_s"))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy(col("user_id"), col("session_id"))
          .agg(count(lit(1)).as("n_events"),
            min(col("ts")).as("session_start"), max(col("ts")).as("session_end"))
          .orderBy("user_id", "session_id")
      },
      Some("""WITH x AS (
             |  SELECT user_id, event_id, ts,
             |    CASE WHEN lag(ts) OVER w IS NULL THEN 1
             |         WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000 THEN 1
             |         ELSE 0 END AS new_s
             |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
             |), y AS (
             |  SELECT user_id, ts, CAST(sum(new_s) OVER (PARTITION BY user_id
             |    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
             |  FROM x
             |)
             |SELECT user_id, session_id, count(*) AS n_events,
             |       min(ts) AS session_start, max(ts) AS session_end
             |FROM y GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin)),

    // As-of join (most recent prior click per purchase) — an operator Spark
    // lacks natively, composed from a tagged union + last-ignoreNulls window
    // (SURVEY.md §7.3: compose built-ins before custom Catalyst).
    QuerySpec("q15_asof_join",
      (s, d) => {
        val ev = events(s, d)
        val clicks = ev.filter(col("event_type") === "click").select(
          col("user_id"), col("ts"), lit(0).as("tag"),
          col("event_id").as("click_id"), col("ts").as("click_ts"),
          lit(null).cast("bigint").as("purchase_id"))
        val purchases = ev.filter(col("event_type") === "purchase").select(
          col("user_id"), col("ts"), lit(1).as("tag"),
          lit(null).cast("bigint").as("click_id"),
          lit(null).cast("timestamp").as("click_ts"),
          col("event_id").as("purchase_id"))
        // clicks sort before purchases at equal ts (tag 0 < 1) → ASOF's
        // "<=" semantics; last(ignoreNulls) carries the latest click forward.
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("tag"), col("click_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        clicks.unionByName(purchases)
          .withColumn("asof_click_id", last(col("click_id"), ignoreNulls = true).over(w))
          .withColumn("asof_click_ts", last(col("click_ts"), ignoreNulls = true).over(w))
          .filter(col("tag") === 1 && col("asof_click_id").isNotNull)
          .select(col("purchase_id"), col("user_id"), col("ts").as("purchase_ts"),
            col("asof_click_id").as("click_id"), col("asof_click_ts").as("click_ts"))
          .orderBy("purchase_id")
      },
      Some("""SELECT p.event_id AS purchase_id, p.user_id, p.ts AS purchase_ts,
             |       c.event_id AS click_id, c.ts AS click_ts
             |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
             |ASOF JOIN (SELECT * FROM events WHERE event_type = 'click') c
             |  ON p.user_id = c.user_id AND p.ts >= c.ts
             |ORDER BY purchase_id""".stripMargin)),

    // merge_asof, full pandas semantics: direction backward AND forward,
    // 5-minute tolerance, left rows kept with nulled matches past the
    // tolerance — the operators.AsOf union+window composition (one shuffle
    // per direction, no nested loop). Tolerance compares exact integer
    // microseconds on both engines.
    QuerySpec("q125_asof_tolerance",
      (s, d) => {
        val ev = events(s, d)
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id").as("purchase_id"), col("user_id"), col("ts"))
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("event_id").as("click_id"), col("user_id"), col("ts"))
        def side(dir: String) = graft.operators.AsOf.asofJoin(
          purchases, clicks, "user_id", "ts", dir,
          tolerance = Some(300000000L))
          .select(lit(dir).as("direction"), col("purchase_id"), col("user_id"),
            col("ts").as("purchase_ts"),
            col("asof_click_id").as("click_id"),
            col("asof_ts").as("click_ts"))
        side("backward").unionByName(side("forward"))
          .orderBy("direction", "purchase_id")
      },
      Some("""WITH p AS (
             |  SELECT event_id AS purchase_id, user_id, ts FROM events
             |  WHERE event_type = 'purchase'
             |), c AS (
             |  SELECT event_id AS click_id, user_id, ts FROM events
             |  WHERE event_type = 'click')
             |SELECT 'backward' AS direction, p.purchase_id, p.user_id,
             |  p.ts AS purchase_ts,
             |  CASE WHEN c.ts IS NOT NULL
             |         AND epoch_us(p.ts) - epoch_us(c.ts) <= 300000000
             |       THEN c.click_id END AS click_id,
             |  CASE WHEN c.ts IS NOT NULL
             |         AND epoch_us(p.ts) - epoch_us(c.ts) <= 300000000
             |       THEN c.ts END AS click_ts
             |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
             |UNION ALL
             |SELECT 'forward' AS direction, p.purchase_id, p.user_id,
             |  p.ts AS purchase_ts,
             |  CASE WHEN c.ts IS NOT NULL
             |         AND epoch_us(c.ts) - epoch_us(p.ts) <= 300000000
             |       THEN c.click_id END AS click_id,
             |  CASE WHEN c.ts IS NOT NULL
             |         AND epoch_us(c.ts) - epoch_us(p.ts) <= 300000000
             |       THEN c.ts END AS click_ts
             |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts <= c.ts
             |ORDER BY direction, purchase_id""".stripMargin)),

    // Event funnel (view → click → purchase): each stage is a FORWARD
    // as-of join against the previous stage's timestamp — the funnel is
    // literally "earliest next-stage event at-or-after", which is
    // operators.AsOf's forward direction, chained. Users who fall out
    // keep null downstream stages (left-outer contract); depth counts
    // completed stages. Two shuffles per stage, no correlated subquery.
    QuerySpec("q131_event_funnel",
      (s, d) => {
        val ev = events(s, d)
        def stage(tpe: String, idAs: String) =
          ev.filter(col("event_type") === tpe)
            .select(col("user_id"), col("ts"), col("event_id").as(idAs))
        val v = ev.filter(col("event_type") === "view")
          .groupBy(col("user_id")).agg(min(col("ts")).as("ts"))
        val s1 = graft.operators.AsOf.asofJoin(
          v, stage("click", "click_id"), "user_id", "ts", "forward")
        val withClick = s1.filter(col("asof_ts").isNotNull)
          .select(col("user_id"), col("ts").as("view_ts"),
            col("asof_ts").as("ts"), col("asof_click_id").as("click_id"))
        val s2 = graft.operators.AsOf.asofJoin(
          withClick, stage("purchase", "purchase_id"), "user_id", "ts", "forward")
          .select(col("user_id"), col("view_ts"), col("click_id"),
            col("ts").as("click_ts"),
            col("asof_purchase_id").as("purchase_id"),
            col("asof_ts").as("purchase_ts"))
        val noClick = s1.filter(col("asof_ts").isNull)
          .select(col("user_id"), col("ts").as("view_ts"),
            lit(null).cast("bigint").as("click_id"),
            lit(null).cast("timestamp").as("click_ts"),
            lit(null).cast("bigint").as("purchase_id"),
            lit(null).cast("timestamp").as("purchase_ts"))
        s2.unionByName(noClick)
          .withColumn("depth",
            when(col("purchase_ts").isNotNull, 3L)
              .when(col("click_ts").isNotNull, 2L).otherwise(1L))
          .orderBy("user_id")
      },
      Some("""WITH v AS (
             |  SELECT user_id, min(ts) AS view_ts FROM events
             |  WHERE event_type = 'view' GROUP BY user_id
             |), c AS (
             |  SELECT v.user_id, v.view_ts,
             |    min(e.ts) AS click_ts, arg_min(e.event_id, e.ts) AS click_id
             |  FROM v LEFT JOIN events e
             |    ON e.user_id = v.user_id AND e.event_type = 'click'
             |       AND e.ts >= v.view_ts
             |  GROUP BY v.user_id, v.view_ts
             |), p AS (
             |  SELECT c.user_id, c.view_ts, c.click_id, c.click_ts,
             |    min(e.ts) AS purchase_ts, arg_min(e.event_id, e.ts) AS purchase_id
             |  FROM c LEFT JOIN events e
             |    ON e.user_id = c.user_id AND e.event_type = 'purchase'
             |       AND c.click_ts IS NOT NULL AND e.ts >= c.click_ts
             |  GROUP BY c.user_id, c.view_ts, c.click_id, c.click_ts)
             |SELECT user_id, view_ts, click_id, click_ts, purchase_id,
             |  purchase_ts,
             |  CAST(CASE WHEN purchase_ts IS NOT NULL THEN 3
             |       WHEN click_ts IS NOT NULL THEN 2 ELSE 1 END AS BIGINT) AS depth
             |FROM p ORDER BY user_id""".stripMargin)),

    // Skyline (Pareto frontier): parts not dominated on (price asc,
    // size desc) — x is dominated if some y is no worse on both axes
    // and strictly better on one. The multi-objective shortlist query
    // (cheapest-for-its-size catalog) no single ORDER BY can answer.
    // 2D sweep form: collapse to per-price maxima, then a price-ordered
    // STRICT-predecessor running max (PrefixSum.rankedRunningMax — the
    // distributed two-pass prefix machinery, no ORDER-BY-only window);
    // a price group survives iff its max size strictly exceeds
    // everything cheaper, and the frontier joins back to all parts
    // attaining (price, max size) — equal-(price,size) twins are
    // mutually non-dominating and all kept.
    QuerySpec("q198_pareto_parts",
      (s, d) => {
        val parts = t(s, d, "part")
        val g = parts.groupBy(col("p_retailprice").as("price"))
          .agg(max(col("p_size")).as("msz"))
        val gm = graft.operators.PrefixSum.rankedRunningMax(
          g, Seq(col("price")), col("msz"), "__rn", "pm")
        val kept = gm
          .filter(col("pm").isNull || col("msz") > col("pm"))
          .select(col("price"), col("msz"))
        parts.join(kept,
            col("p_retailprice") === col("price") &&
              col("p_size") === col("msz").cast("int"))
          .select(col("p_partkey"), col("p_retailprice"), col("p_size"))
          .orderBy("p_partkey")
      },
      Some("""WITH g AS (
             |  SELECT p_retailprice AS price, max(p_size) AS msz
             |  FROM part GROUP BY 1
             |), r AS (
             |  SELECT price, msz, max(msz) OVER (ORDER BY price
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
             |  FROM g
             |), k AS (SELECT price, msz FROM r WHERE pm IS NULL OR msz > pm)
             |SELECT p_partkey, p_retailprice, p_size
             |FROM part JOIN k ON p_retailprice = price AND p_size = msz
             |ORDER BY p_partkey""".stripMargin)),

    // Key-gap audit (islands-and-gaps): every missing run in a key
    // sequence, as (gap_start, gap_end, n_missing) — the ingestion
    // completeness check run after every bulk load ("did we drop a
    // batch"). Audited here over the fulfilled-order ('F') key stream,
    // whose gaps are the other statuses' keys — a real, non-empty gap
    // report. Over DISTINCT ascending keys the strict-predecessor
    // running max IS the previous key, so the same distributed
    // PrefixSum.rankedRunningMax machinery answers it with no
    // ORDER-BY-only window — the oracle's lag() is the oracle's
    // single-node privilege. Output is capped to the 50 WIDEST gaps
    // (ties by start) so the report stays triage-sized at any scale.
    QuerySpec("q199_key_gap_audit",
      (s, d) => {
        val keys = t(s, d, "orders")
          .filter(col("o_orderstatus") === "F")
          .select(col("o_orderkey").as("k"))
        graft.operators.PrefixSum.rankedRunningMax(
            keys, Seq(col("k")), col("k"), "__rn", "pm")
          .filter(col("pm").isNotNull && col("k") > col("pm") + 1)
          .select((col("pm") + 1).as("gap_start"), (col("k") - 1).as("gap_end"),
            (col("k") - col("pm") - 1).as("n_missing"))
          .orderBy(desc("n_missing"), col("gap_start")).limit(50)
      },
      Some("""WITH r AS (
             |  SELECT o_orderkey AS k,
             |    lag(o_orderkey) OVER (ORDER BY o_orderkey) AS pm
             |  FROM orders WHERE o_orderstatus = 'F'
             |)
             |SELECT pm + 1 AS gap_start, k - 1 AS gap_end,
             |  k - pm - 1 AS n_missing
             |FROM r WHERE pm IS NOT NULL AND k > pm + 1
             |ORDER BY n_missing DESC, gap_start LIMIT 50""".stripMargin)),

    // Referential-integrity audit across every FK edge of the star —
    // the ingestion health check a 100 TB warehouse runs after each
    // load: per edge, child volume, distinct child keys, ORPHAN child
    // keys (no matching parent — broken joins waiting to happen) and
    // UNREFERENCED parents (e.g. customers with no orders — real data,
    // not an error, but the number mixture design wants). Each edge is
    // one child-side aggregation + ONE full-outer key join rolled to a
    // one-row summary (never an anti-join pair per direction); the
    // 5-row report assembles by union. Key frames only — no payload
    // columns ever shuffle.
    QuerySpec("q229_ref_integrity",
      (s, d) => {
        def edge(name: String, child: org.apache.spark.sql.DataFrame,
                 childKey: String, parent: org.apache.spark.sql.DataFrame,
                 parentKey: String) = {
          val ck = child.select(col(childKey).as("k"))
          val stats = ck.agg(count(lit(1)).as("child_rows"),
            countDistinct(col("k")).as("child_keys"))
          val j = ck.distinct().withColumn("c", lit(1))
            .join(parent.select(col(parentKey).as("k")).distinct()
              .withColumn("p", lit(1)), Seq("k"), "full_outer")
            .agg(sum(when(col("p").isNull, 1L).otherwise(0L))
                .as("orphan_keys"),
              sum(when(col("c").isNull, 1L).otherwise(0L))
                .as("unreferenced_parents"))
          stats.crossJoin(broadcast(j))
            .select(lit(name).as("fk"), col("child_rows"), col("child_keys"),
              col("orphan_keys"), col("unreferenced_parents"))
        }
        val li = t(s, d, "lineitem")
        Seq(
          edge("customer.c_nationkey->nation", t(s, d, "customer"),
            "c_nationkey", t(s, d, "nation"), "n_nationkey"),
          edge("lineitem.l_orderkey->orders", li, "l_orderkey",
            t(s, d, "orders"), "o_orderkey"),
          edge("lineitem.l_partkey->part", li, "l_partkey",
            t(s, d, "part"), "p_partkey"),
          edge("lineitem.l_suppkey->supplier", li, "l_suppkey",
            t(s, d, "supplier"), "s_suppkey"),
          edge("orders.o_custkey->customer", t(s, d, "orders"),
            "o_custkey", t(s, d, "customer"), "c_custkey"))
          .reduce(_ unionByName _)
          .orderBy("fk")
      },
      Some("""WITH e1 AS (
             |  SELECT 'customer.c_nationkey->nation' AS fk,
             |    (SELECT count(*) FROM customer) AS child_rows,
             |    (SELECT count(DISTINCT c_nationkey) FROM customer) AS child_keys,
             |    (SELECT count(*) FROM (SELECT DISTINCT c_nationkey FROM customer) c
             |      WHERE c_nationkey NOT IN (SELECT n_nationkey FROM nation)) AS orphan_keys,
             |    (SELECT count(*) FROM nation
             |      WHERE n_nationkey NOT IN (SELECT c_nationkey FROM customer)) AS unreferenced_parents
             |), e2 AS (
             |  SELECT 'lineitem.l_orderkey->orders',
             |    (SELECT count(*) FROM lineitem),
             |    (SELECT count(DISTINCT l_orderkey) FROM lineitem),
             |    (SELECT count(*) FROM (SELECT DISTINCT l_orderkey FROM lineitem) c
             |      WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)),
             |    (SELECT count(*) FROM orders
             |      WHERE o_orderkey NOT IN (SELECT l_orderkey FROM lineitem))
             |), e3 AS (
             |  SELECT 'lineitem.l_partkey->part',
             |    (SELECT count(*) FROM lineitem),
             |    (SELECT count(DISTINCT l_partkey) FROM lineitem),
             |    (SELECT count(*) FROM (SELECT DISTINCT l_partkey FROM lineitem) c
             |      WHERE l_partkey NOT IN (SELECT p_partkey FROM part)),
             |    (SELECT count(*) FROM part
             |      WHERE p_partkey NOT IN (SELECT l_partkey FROM lineitem))
             |), e4 AS (
             |  SELECT 'lineitem.l_suppkey->supplier',
             |    (SELECT count(*) FROM lineitem),
             |    (SELECT count(DISTINCT l_suppkey) FROM lineitem),
             |    (SELECT count(*) FROM (SELECT DISTINCT l_suppkey FROM lineitem) c
             |      WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier)),
             |    (SELECT count(*) FROM supplier
             |      WHERE s_suppkey NOT IN (SELECT l_suppkey FROM lineitem))
             |), e5 AS (
             |  SELECT 'orders.o_custkey->customer',
             |    (SELECT count(*) FROM orders),
             |    (SELECT count(DISTINCT o_custkey) FROM orders),
             |    (SELECT count(*) FROM (SELECT DISTINCT o_custkey FROM orders) c
             |      WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)),
             |    (SELECT count(*) FROM customer
             |      WHERE c_custkey NOT IN (SELECT o_custkey FROM orders))
             |)
             |SELECT * FROM e1 UNION ALL SELECT * FROM e2
             |UNION ALL SELECT * FROM e3 UNION ALL SELECT * FROM e4
             |UNION ALL SELECT * FROM e5 ORDER BY fk""".stripMargin)),

    // Financial reconciliation: does o_totalprice equal the recomputed
    // Σ extendedprice·(1−discount)·(1+tax) over the order's lineitems?
    // The audit every billing/warehouse pipeline runs, in arithmetic
    // that cannot drift: money enters as integer CENTS and rate
    // BASIS-POINT-hundredths via the deterministic IEEE→DECIMAL casts,
    // the recomputed total is exact integer cents·10⁴ (e_cents ·
    // (100−d) · (100+t)), and the order-level diff is an exact long —
    // mismatch means |diff| > 1 cent. One lineitem aggregation + one
    // key join + a |status|-row rollup; sums ride DECIMAL(38,0). (This
    // fixture's totals are synthetic, so the report shows 100%
    // mismatch with a wide error distribution — the audit's value is
    // the exactness of the measurement, which both engines reproduce
    // bit-identically.) Cents quantization is floor(x*100+0.5) on the
    // raw double in BOTH engines: a double→DECIMAL(18,2) cast is
    // engine-dependent when the stored value carries >2 decimal digits
    // (Spark rounds the shortest decimal representation, DuckDB the
    // exact binary expansion), while IEEE multiply/add/floor is
    // bit-identical everywhere — this keeps the audit fixture-drift-
    // proof no matter what precision a regenerated fixture emits.
    QuerySpec("q230_order_total_audit",
      (s, d) => {
        val li = t(s, d, "lineitem").select(col("l_orderkey").as("ok"),
          floor(col("l_extendedprice") * lit(100.0d) + lit(0.5d))
            .cast("long").as("e_cents"),
          floor(col("l_discount") * lit(100.0d) + lit(0.5d))
            .cast("long").as("d_bp"),
          floor(col("l_tax") * lit(100.0d) + lit(0.5d))
            .cast("long").as("t_bp"))
        val recomputed = li
          .select(col("ok"),
            (col("e_cents") * (lit(10000L) - lit(100L) * col("d_bp")
              + lit(100L) * col("t_bp")
              - col("d_bp") * col("t_bp"))).as("part_u"))
          .groupBy(col("ok"))
          .agg(sum(expr("CAST(part_u AS DECIMAL(38,0))")).as("recomputed_u"))
        t(s, d, "orders")
          .select(col("o_orderkey").as("ok"), col("o_orderstatus"),
            (floor(col("o_totalprice") * lit(100.0d) + lit(0.5d))
              .cast("long") * lit(10000L)).as("stated_u"))
          .join(recomputed, Seq("ok"), "left")
          .select(col("o_orderstatus"),
            (col("stated_u") - coalesce(col("recomputed_u"),
              lit(0L).cast("decimal(38,0)"))).as("diff_u"))
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n_orders"),
            sum(when(abs(col("diff_u")) > 10000L, 1L).otherwise(0L))
              .as("n_mismatch"),
            // Output surface is BIGINT: the internal sum rides
            // DECIMAL(38,0), but the driver's compare layer
            // canonicalizes wide decimals differently across DuckDB
            // versions (r10/r11 lesson) — and every value here fits
            // long with 100× headroom (max observed 7.87e15 < 2^63).
            sum(abs(col("diff_u"))).cast("long")
              .as("total_abs_diff_u"),
            max(abs(col("diff_u"))).cast("long").as("max_abs_diff_u"))
          .orderBy("o_orderstatus")
      },
      Some("""WITH li AS (
             |  SELECT l_orderkey AS ok,
             |    CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)
             |      AS e_cents,
             |    CAST(floor(l_discount * 100.0 + 0.5) AS BIGINT) AS d_bp,
             |    CAST(floor(l_tax * 100.0 + 0.5) AS BIGINT) AS t_bp
             |  FROM lineitem
             |), rc AS (
             |  SELECT ok, sum(CAST(e_cents * (10000 - 100*d_bp + 100*t_bp
             |    - d_bp*t_bp) AS HUGEINT)) AS recomputed_u
             |  FROM li GROUP BY 1
             |), o AS (
             |  SELECT o_orderstatus,
             |    CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)
             |      * 10000 AS stated_u,
             |    COALESCE(rc.recomputed_u, 0) AS recomputed_u
             |  FROM orders LEFT JOIN rc ON o_orderkey = rc.ok
             |)
             |SELECT o_orderstatus, count(*) AS n_orders,
             |  CAST(sum(CASE WHEN abs(stated_u - recomputed_u) > 10000
             |    THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatch,
             |  CAST(sum(abs(stated_u - recomputed_u)) AS BIGINT)
             |    AS total_abs_diff_u,
             |  CAST(max(abs(stated_u - recomputed_u)) AS BIGINT)
             |    AS max_abs_diff_u
             |FROM o GROUP BY 1 ORDER BY o_orderstatus""".stripMargin))
  )
}
