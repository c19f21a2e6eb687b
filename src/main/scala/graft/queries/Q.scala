package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** One named, oracle-checkable query (the driver contract's unit).
  *
  * @param fn     (spark, sfDir) => result; must end in a deterministic
  *               orderBy (the driver hash-compares rows in order)
  * @param oracle equivalent DuckDB SQL over the same tables; None for ops
  *               not expressible in SQL (driver falls back to a rows>0 check)
  */
final case class QuerySpec(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

/** Shared helpers for oracle-deterministic queries. */
object Q {

  /** Load a fixture table from the scale-factor dir. */
  def t(spark: SparkSession, sfDir: String, name: String): DataFrame =
    graft.sources.Scan.parquet(spark, s"$sfDir/$name.parquet")

  /** Schema-adaptive events reader. The fixture's `ts` physical type has
    * drifted across driver regenerations — TIMESTAMP(NANOS) (which Spark 4
    * rejects outright, PARQUET_TYPE_ILLEGAL, hence the nanosAsLong conf),
    * then TIMESTAMP(MICROS, isAdjustedToUTC=false) → TimestampNTZType —
    * so branch on the dtype Spark actually resolves:
    *   - LongType (nanos read as long): floor-truncate to microseconds.
    *     Integer `DIV` keeps the ~1.7e18 ns values exact (a double
    *     division would lose precision past 2^53) and matches DuckDB's
    *     TIMESTAMP_NS truncation.
    *   - TimestampNTZType: cast to session-zoned TimestampType. The
    *     session is pinned to UTC (Verify/Bench builders), so wall-clock
    *     values are unchanged and the DuckDB oracle lines up.
    *   - TimestampType: pass through. */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = t(spark, sfDir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }

  /** Exact-arithmetic sum of a currency-ish double column: cast each value
    * to DECIMAL(18,2) (deterministic IEEE→decimal rounding), sum exactly,
    * cast the one result back to double. Sidesteps float-summation-order
    * nondeterminism between Spark partitions and the DuckDB oracle
    * (SURVEY.md §7.4.6). Oracle twin:
    * `CAST(sum(CAST(x AS DECIMAL(18,2))) AS DOUBLE)`. */
  def dsum(c: Column): Column = sum(c.cast(DecimalType(18, 2))).cast("double")

  /** Exact-arithmetic mean built from dsum / count; oracle twin:
    * `CAST(sum(CAST(x AS DECIMAL(18,2))) AS DOUBLE) / count(*)`. */
  def davg(c: Column): Column = dsum(c) / count(lit(1))

  /** Weighted customer↔supplier co-purchase edges (src='c'||custkey,
    * dst='s'||suppkey, w = lineitem multiplicity), POOLED across queries
    * ([[graft.operators.FramePool]], fixture-dir key): the link graph is
    * the artifact a source-weighting pipeline materializes once, and the
    * three centrality queries (q137 PageRank, q175 personalized, q193
    * weighted) were each re-running the same orders⋈lineitem join +
    * edge aggregation. The unweighted edge set the first two need is the
    * weighted frame's key set (groupBy keys are unique by construction),
    * so dropping `w` IS the old `.distinct()` — same rows, no second
    * shuffle. Guide §2.4: two operations keyed the same way share one
    * exchange; here they share the whole build. */
  def copurchaseEdgesWeighted(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.FramePool.frames(("copurchase_cs", sfDir)) {
      Seq(t(spark, sfDir, "orders")
        .join(t(spark, sfDir, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy(concat(lit("c"), col("o_custkey")).as("src"),
          concat(lit("s"), col("l_suppkey")).as("dst"))
        .agg(count(lit(1)).as("w")))
    }.head

  /** Distinct customer→part purchase edges (src = o_custkey,
    * dst = l_partkey), POOLED across queries ([[graft.operators.FramePool]],
    * fixture-dir key) — the bipartite consumer×asset graph the HITS
    * centrality (q249) ranks: the orders⋈lineitem join + distinct is the
    * expensive derivation, built once per run (the copurchase pattern,
    * different key pair). */
  def custPartEdges(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.FramePool.frames(("custpart_edges", sfDir)) {
      Seq(t(spark, sfDir, "orders")
        .join(t(spark, sfDir, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("src"), col("l_partkey").as("dst"))
        .distinct())
    }.head

  /** Distinct (ok = l_orderkey, pk = l_partkey) basket-item frame and the
    * basket-keyed co-occurrence pair stream (ok, x, y), x < y — POOLED
    * across the market-basket family (q194 pair mining, q223 link
    * prediction, q226 Apriori triples), which was re-running the same
    * distinct + basket self-join three times. Work is Σ basket² with
    * baskets bounded by order size; the pooled pair stream is the L2
    * candidate artifact an association-rules pipeline materializes once.
    * Every consumer's aggregation (support counts, strong-edge filter,
    * per-order occurrence probes) starts from these two frames. */
  def basketItems(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.FramePool.frames(("basket_items", sfDir)) {
      Seq(t(spark, sfDir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct())
    }.head

  /** See [[basketItems]]; (ok, x, y) with x < y, one row per co-occurring
    * part pair per order. */
  def basketPairOcc(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.FramePool.frames(("basket_occ2", sfDir)) {
      val b = basketItems(spark, sfDir)
      Seq(b.as("a").join(b.as("bb"),
          col("a.ok") === col("bb.ok") && col("a.pk") < col("bb.pk"))
        .select(col("a.ok").as("ok"), col("a.pk").as("x"),
          col("bb.pk").as("y")))
    }.head
}
