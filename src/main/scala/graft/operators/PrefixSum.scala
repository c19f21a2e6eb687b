package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed global rank, running sum and running max — the replacement
  * for a `Window.orderBy(...)` with no partition clause, which plans an
  * `Exchange SinglePartition` and funnels the whole frame through one task
  * (fine for a dimension table, fatal at a billion rows).
  *
  * Every caller (these three, [[Dedup.sortedNeighborPairs]] and the
  * grouped [[Percentiles]]) stands on one ranked-frame core, [[ranged]]:
  *   1. range-repartition on the TOTAL order's sort expressions and sort
  *      within partitions — rows land in globally ordered, disjoint,
  *      internally sorted partitions;
  *   2. tag each row with its partition (`__pid`) and a
  *      `monotonically_increasing_id` (`__mid`), which is contiguous within
  *      a partition, so after the sort `__mid − min(__mid)` IS the local
  *      row number; persist once;
  *   3. one tiny aggregation collects per-partition (row count, min
  *      `__mid`, value aggregate) to the driver — P rows cross the wire,
  *      never data — and a P-entry map literal lifts local positions to
  *      global ones.
  *
  * A rank is then a projection over the persisted frame: no window, and no
  * exchange beyond the range exchange. A running value still needs a
  * window partitioned by `__pid`, whose hashpartitioning exchange and sort
  * of the FULL frame are the price of the value, not of the rank.
  *
  * Results are bit-identical to the single-partition window as long as the
  * sort expressions form a total order (callers must include a tiebreak
  * column — range partition boundaries are otherwise free to split ties
  * across partitions, which would make local ranks non-deterministic).
  */
object PrefixSum {

  /** The ranked core: `df` range-partitioned on `order` (a grouped caller
    * puts its group key first), sorted within partitions, tagged `__pid`
    * and `__mid`, persisted (tracked in [[OperatorCaches]] — it feeds both
    * the stats aggregation and the ranked output). The partition count is
    * the session's `spark.sql.shuffle.partitions`. */
  private[operators] def ranged(df: DataFrame, order: Seq[Column]): DataFrame =
    OperatorCaches.persistTracked(
      df.repartitionByRange(
          df.sparkSession.sessionState.conf.numShufflePartitions, order: _*)
        .sortWithinPartitions(order: _*)
        .withColumn("__pid", spark_partition_id())
        .withColumn("__mid", monotonically_increasing_id()))

  /** One non-empty range partition: its row count, first `__mid`, and the
    * value aggregate (None when there is none, or it is null). */
  private case class Part(pid: Int, n: Long, mid0: Long, agg: Option[Long])

  /** The one P-row collect over a [[ranged]] frame, in partition order. */
  private def parts(ranged: DataFrame, agg: Option[Column]): Seq[Part] = {
    val aggs = Seq(count(lit(1)), min(col("__mid"))) ++ agg
    ranged.groupBy(col("__pid")).agg(aggs.head, aggs.tail: _*)
      .collect().toSeq
      .map(r => Part(r.getInt(0), r.getLong(1), r.getLong(2),
        Option.when(r.length > 3 && !r.isNullAt(3))(r.getLong(3))))
      .sortBy(_.pid)
  }

  /** Global 1-based row number: `__mid` plus its partition's base (rows in
    * the preceding partitions, less the partition's first `__mid`, plus 1). */
  private def rowNumber(ps: Seq[Part]): Column = {
    val base = ps.zip(ps.scanLeft(0L)(_ + _.n))
      .map { case (p, before) => p.pid -> (before - p.mid0 + 1) }.toMap
    col("__mid") + element_at(typedLit(base), col("__pid"))
  }

  /** Add a global 1-based row number `rnCol` over the total order given by
    * `sortExprs`. Returns the ranked frame plus its row count. */
  def rank(df: DataFrame, sortExprs: Seq[Column],
           rnCol: String): (DataFrame, Long) = {
    val r = ranged(df, sortExprs)
    val ps = parts(r, None)
    (r.withColumn(rnCol, rowNumber(ps)).drop("__pid", "__mid"), ps.map(_.n).sum)
  }

  /** The per-partition window that computes a running value in the total
    * order (`__mid` order within a partition IS that order). */
  private val inPartition = Window.partitionBy(col("__pid")).orderBy(col("__mid"))

  /** Add a global 1-based row number and a global inclusive running sum of
    * `value` (must be integral — the offsets are exact long arithmetic)
    * over the total order given by `sortExprs`. Returns the augmented
    * frame plus the grand total (free from the driver-side stats, saving
    * callers an unbounded-following window). */
  def rankedRunningSum(df: DataFrame, sortExprs: Seq[Column], value: Column,
                       rnCol: String, cumCol: String): (DataFrame, Long) = {
    val r = ranged(df.withColumn("__pv", value.cast("long")), sortExprs)
    val ps = parts(r, Some(sum(col("__pv"))))
    val sums = ps.map(_.agg.getOrElse(0L))
    val sumOffsets = ps.map(_.pid).zip(sums.scanLeft(0L)(_ + _)).toMap
    val out = r
      .withColumn(rnCol, rowNumber(ps))
      .withColumn(cumCol,
        sum(col("__pv")).over(inPartition.rowsBetween(
          Window.unboundedPreceding, Window.currentRow)) +
          element_at(typedLit(sumOffsets), col("__pid")))
      .drop("__pv", "__pid", "__mid")
    (out, sums.sum)
  }

  /** Add a global 1-based row number and the EXCLUSIVE prefix maximum of
    * `value` (the max over all STRICT predecessors in the total order —
    * null when there are none) — the running-max sibling of
    * [[rankedRunningSum]], with the per-partition offset being a prefix MAX
    * of partition maxima instead of a prefix sum. Exclusive rather than
    * inclusive because its consumer is dominance testing (skyline/Pareto
    * sweeps, q198): "is my value strictly above everything cheaper than
    * me" reads the strict-predecessor max, and the inclusive form cannot
    * recover it. `value` must be integral and non-null (filter upstream);
    * callers must include a tiebreak column in `sortExprs`. */
  def rankedRunningMax(df: DataFrame, sortExprs: Seq[Column], value: Column,
                       rnCol: String, maxCol: String): DataFrame = {
    val r = ranged(df.withColumn("__pv", value.cast("long")), sortExprs)
    val ps = parts(r, Some(max(col("__pv"))))
    require(ps.forall(_.agg.isDefined), "rankedRunningMax: value must be non-null")
    // exclusive prefix max of the preceding partitions' maxima; the
    // first non-empty partition has no entry (→ null via try_element_at)
    val exclMax: Map[Int, Long] = ps
      .zip(ps.scanLeft(Option.empty[Long]) {
        (acc, p) => Some(acc.fold(p.agg.get)(math.max(_, p.agg.get)))
      })
      .collect { case (p, Some(m)) => p.pid -> m }
      .toMap
    r.withColumn(rnCol, rowNumber(ps))
      .withColumn(maxCol,
        greatest(
          max(col("__pv")).over(
            inPartition.rowsBetween(Window.unboundedPreceding, -1)),
          // the first non-empty partition is INTENTIONALLY absent from
          // exclMax — try_element_at makes the missing-key→null contract
          // explicit (map-typed element_at happens to return null even
          // under ANSI, but that is easy to misread against the
          // array-typed form, which throws)
          try_element_at(typedLit(exclMax), col("__pid"))))
      .drop("__pv", "__pid", "__mid")
  }
}
