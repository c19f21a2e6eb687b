package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed EXACT interpolated percentiles by global-rank selection.
  *
  * Spark's `percentile` aggregate is exact but centralizes: every
  * partition builds a value→count map, and ONE reducer merges and sorts
  * all of them — memory and time O(distinct values) on a single task,
  * the classic 100 TB cliff (and measurably the slowest step of the
  * sf0.1 bench's q102 at 2.4 s of its 2.5 s).
  *
  * Rank selection instead: range-partition by value ([[PrefixSum]]'s
  * machinery — only per-partition COUNTS touch the driver), compute each
  * row's global rank from broadcast offsets, and fetch just the ≤ 2·|ps|
  * rows sitting at the interpolation ranks. The sort shuffle is fully
  * parallel, no task ever holds more than its partition, and the driver
  * receives 2·|ps| doubles. Interpolation reproduces Spark's Percentile
  * formula bit for bit: pos = p·(n−1);
  * result = (⌈pos⌉−pos)·v[⌊pos⌋] + (pos−⌊pos⌋)·v[⌈pos⌉].
  *
  * Ties across partition boundaries are harmless here (unlike general
  * ranking): rows with equal values can take either rank, but the VALUE
  * at any rank in the tie run is identical, which is all a percentile
  * reads.
  *
  * The GROUPED forms are fully plan-side: per-(partition, group) rank
  * offsets travel as a broadcast-JOINED frame, the bracket-rank wishlist
  * is derived in-frame from the group sizes, and interpolation happens in
  * the plan — NOTHING group-sized ever crosses the driver or is embedded
  * as a literal. (An earlier form carried the offsets as a
  * `typedLit` map keyed by (partition, group); that serialized
  * ≈ |groups|·|partitions| entries into the plan and into every task
  * binary — invisible with tiny group keys, a driver/plan bottleneck at
  * high group cardinality. A joined frame scales only the broadcast
  * payload, and Catalyst/AQE can re-plan the join if it ever outgrows
  * broadcast size.)
  */
object Percentiles {

  /** Exact interpolated percentiles of `valueCol` (non-null rows), as one
    * driver-side Seq aligned with `ps`. Empty input → empty Seq. */
  def exactInterpolated(df: DataFrame, valueCol: String,
                        ps: Seq[Double]): Seq[Double] = {
    require(ps.nonEmpty && ps.forall(p => p >= 0.0 && p <= 1.0),
      s"percentiles must be in [0,1] (got $ps)")
    val vals = df.select(col(valueCol).cast("double").as("__v"))
      .filter(col("__v").isNotNull)
    // rank persists the range-partitioned frame (tracked in
    // OperatorCaches — the harness/caller releases per query, the
    // library-wide convention)
    val (ranked, n) = PrefixSum.rank(vals, Seq(col("__v")), "__rn")
    if (n == 0L) return Seq.empty
    // 0-based continuous positions → the 1-based ranks that bracket them
    val positions = ps.map(_ * (n - 1))
    val wanted = positions
      .flatMap(p => Seq(p.floor.toLong + 1, p.ceil.toLong + 1)).distinct
    val atRank = ranked.filter(col("__rn").isin(wanted: _*))
      .select(col("__rn"), col("__v"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    positions.map { pos =>
      val (lo, hi) = (pos.floor.toLong, pos.ceil.toLong)
      if (lo == hi) atRank(lo + 1)
      else (hi - pos) * atRank(lo + 1) + (pos - lo) * atRank(hi + 1)
    }
  }

  /** Column twin of the integer-truncation percentile rank
    * `(n−1)·k/100 + 1` (k in [0,100]) that [[groupedAtRanks]] callers
    * previously computed in a driver closure — exact long arithmetic via
    * `(a − a mod 100) / 100` (the subtraction makes the double division
    * exact; Spark exposes no integral-divide Column op). */
  def floorPctRank(n: Column, k: Int): Column = {
    require(k >= 0 && k <= 100, s"percentile rank k must be in [0,100] (got $k)")
    val a = (n - lit(1L)) * lit(k.toLong)
    ((a - pmod(a, lit(100L))) / lit(100L)).cast("long") + lit(1L)
  }

  /** Shared grouped machinery: [[PrefixSum.ranged]] on (group, value), so
    * one group's values SPAN partitions (a giant group never pins a
    * reducer), then per-(partition, group) count offsets as a window over
    * the tiny stats frame — |groups|+|partitions|-sized, computed and
    * joined entirely plan-side. Local positions are the core's
    * `__mid − min(__mid)` per (partition, group): same arbitrary tie order
    * as a row_number, and a percentile only reads the VALUE at a rank,
    * which ties cannot change. Returns (ranged+persisted, offsets frame
    * keyed (__pid, __g, __off), group sizes frame (__g, __ng)). */
  private def rankedByGroup(df: DataFrame, groupCol: String,
                            valueCol: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val vals = df
      .select(col(groupCol).cast("string").as("__g"),
        col(valueCol).cast("double").as("__v"))
      .filter(col("__g").isNotNull && col("__v").isNotNull)
    val ranged = PrefixSum.ranged(vals, Seq(col("__g"), col("__v")))
    // per-(partition, group) counts: ≈ |groups| + |partitions| rows,
    // aggregated AND prefix-summed distributed (window partitions by
    // group over the stats frame — each group touches ≤ |partitions|
    // stats rows, so no single task ever sees more than that)
    val stats = ranged.groupBy(col("__pid"), col("__g"))
      .agg(count(lit(1)).as("__n"), min(col("__mid")).as("__m0"))
    val wOff = Window.partitionBy(col("__g")).orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = stats.select(col("__pid"), col("__g"), col("__m0"),
      coalesce(sum(col("__n")).over(wOff), lit(0L)).as("__off"))
    val nPerG = stats.groupBy(col("__g")).agg(sum(col("__n")).as("__ng"))
    (ranged, offsets, nPerG)
  }

  /** Values at the requested (group, global in-group rank) pairs:
    * per-(partition, group) local row numbers (`__mid` offsets — see
    * [[rankedByGroup]]), lifted to global in-group ranks by the
    * broadcast-joined offsets, filtered to the broadcast wishlist.
    * Output (__g, __rn, __v), one row per wanted pair. */
  private def valuesAtRanks(ranged: DataFrame, offsets: DataFrame,
                            wanted: DataFrame): DataFrame =
    ranged
      .join(broadcast(offsets), Seq("__pid", "__g"))
      .withColumn("__rn",
        col("__mid") - col("__m0") + lit(1L) + col("__off"))
      .join(broadcast(wanted), Seq("__g", "__rn"))
      .select(col("__g"), col("__rn"), col("__v"))

  /** GROUPED exact interpolated percentiles — and unlike
    * `groupBy(g).agg(percentile(...))`, a giant group does not pin a
    * reducer: rows range-partition on (group, value), so one group's
    * values SPAN partitions, and global in-group ranks come from
    * broadcast-joined per-(partition, group) count offsets (the
    * [[PrefixSum]] trick with a composite key). Fully distributed: group
    * sizes, bracket ranks, and the interpolation itself all live in the
    * plan; no collect, no group-sized literals.
    *
    * Returns a DataFrame (`groupCol`, `p`, `value`) — one row per
    * (group, requested percentile); group keys ride as strings (callers
    * re-cast/join as needed). Null groups and null values are excluded,
    * matching the aggregate's contract. Interpolation = Spark's
    * Percentile formula, identical to [[exactInterpolated]].
    */
  def groupedExactInterpolated(df: DataFrame, groupCol: String,
                               valueCol: String,
                               ps: Seq[Double]): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p >= 0.0 && p <= 1.0),
      s"percentiles must be in [0,1] (got $ps)")
    val (ranged, offsets, nPerG) = rankedByGroup(df, groupCol, valueCol)
    // one row per (group, p): continuous position and its bracket ranks
    val brackets = nPerG
      .select(col("__g"), col("__ng"), explode(typedLit(ps)).as("p"))
      .withColumn("__pos", col("p") * (col("__ng") - lit(1L)))
      .withColumn("__lorn", floor(col("__pos")) + lit(1L))
      .withColumn("__hirn", ceil(col("__pos")) + lit(1L))
    val wanted = brackets
      .select(col("__g"),
        explode(array(col("__lorn"), col("__hirn"))).as("__rn"))
      .distinct()
    // ≤ 2·|groups|·|ps| rows; persisted because the lo and hi joins both
    // read it (released by the caller via OperatorCaches, as ever)
    val rv = OperatorCaches.persistTracked(
      valuesAtRanks(ranged, offsets, wanted))
    brackets
      .join(rv.withColumnsRenamed(Map("__rn" -> "__lorn", "__v" -> "__vlo")),
        Seq("__g", "__lorn"))
      .join(rv.withColumnsRenamed(Map("__rn" -> "__hirn", "__v" -> "__vhi")),
        Seq("__g", "__hirn"))
      .select(col("__g").as(groupCol), col("p"),
        when(col("__lorn") === col("__hirn"), col("__vlo"))
          .otherwise(
            (ceil(col("__pos")).cast("double") - col("__pos")) * col("__vlo")
              + (col("__pos") - floor(col("__pos")).cast("double"))
                * col("__vhi"))
          .as("value"))
  }

  /** Per-group EXACT order statistics at caller-chosen integer ranks —
    * the no-interpolation sibling of [[groupedExactInterpolated]] (same
    * range-partition + broadcast-joined-offset machinery, same scale
    * shape: a group's values span partitions, the stats frame is
    * |groups|+|partitions|-sized, nothing crosses the driver). `ranksOf`
    * builds, FROM the group-size Column (long), the array<long> of
    * 1-based ranks wanted from that group's sorted values — a Column
    * function, so the wishlist is derived in-frame ([[floorPctRank]]
    * covers the common truncation rule); duplicates are dropped. Returns
    * (group, rn, value) for each requested rank. Integer ranks make the
    * result engine-exact with no interpolation-formula coupling: the
    * value AT a sorted rank is well-defined even under duplicate values,
    * whatever partitioning splits the ties. */
  def groupedAtRanks(df: DataFrame, groupCol: String, valueCol: String,
                     ranksOf: Column => Column): DataFrame = {
    val (ranged, offsets, nPerG) = rankedByGroup(df, groupCol, valueCol)
    val wanted = nPerG
      .select(col("__g"),
        explode(array_distinct(ranksOf(col("__ng")))).as("__rn"))
    valuesAtRanks(ranged, offsets, wanted)
      .select(col("__g").as(groupCol), col("__rn").as("rn"),
        col("__v").as("value"))
  }
}
