package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Physical-layout control: bucketing for shuffle-free co-located joins.
  *
  * A fact–fact equi-join shuffles BOTH sides on the key every time it
  * runs. When the same join recurs (the daily pipeline shape), pre-bucket
  * both tables on the join key: each side's files are hash-partitioned by
  * bucket at WRITE time, so Catalyst proves the children are co-partitioned
  * and plans a SortMergeJoin with zero Exchange — the shuffle is paid once
  * at layout time instead of on every query. This is the 100 TB answer to
  * "the same 10 TB join runs every day".
  *
  * Bucketed tables live in the session catalog (`saveAsTable` — plain
  * parquet + bucket metadata; no Hive needed). Match `numBuckets` to the
  * natural parallelism of the big side; both sides must bucket on the same
  * key with the same count for the join to stay exchange-free.
  */
object Layout {

  /** Write `df` as a bucketed (and bucket-sorted) catalog table. With
    * `path` the table is EXTERNAL (data at the given location; only bucket
    * metadata lives in the catalog) — callers outside a warehouse-rooted
    * session pass a temp/staging dir so nothing lands in the default
    * `spark-warehouse`. The table is dropped first: overwriting a catalog
    * entry whose previous incarnation pointed at a different location
    * would otherwise fail or, worse, resurrect the stale path. */
  def writeBucketed(df: DataFrame, table: String, key: String,
                    numBuckets: Int, path: Option[String] = None): Unit = {
    df.sparkSession.sql(s"DROP TABLE IF EXISTS `$table`")
    val w = df.write
      .mode(SaveMode.Overwrite)
      .bucketBy(numBuckets, key)
      .sortBy(key)
      .format("parquet")
    path.fold(w)(p => w.option("path", p)).saveAsTable(table)
  }

  /** Join two same-key bucketed tables — plans with no Exchange on either
    * side (asserted in LayoutSpec). */
  def bucketedEquiJoin(spark: SparkSession, left: String, right: String,
                       key: String): DataFrame =
    spark.table(left).join(spark.table(right), key)

  /** Range-partitioned sorted parquet write: rows are range-partitioned on
    * `sortCol` into ~`numFiles` files and sorted inside each, so every
    * file covers a DISJOINT value range and every row group's parquet
    * min/max stats are tight. A later scan with a predicate on `sortCol`
    * then skips whole files and row groups at the reader (the engine's
    * filter pushdown is already proven in ScanSpec/PLANS.md q02 — this op
    * supplies the layout that makes those stats selective). The 100 TB
    * habit: sort event/time-keyed tables on the query key at WRITE time;
    * a needle query then reads one file instead of all of them.
    * LayoutSpec asserts the disjoint-ranges property from the written
    * files' own stats. */
  def sortedWrite(df: DataFrame, dir: String, sortCol: String,
                  numFiles: Int): Unit =
    df.repartitionByRange(numFiles, org.apache.spark.sql.functions.col(sortCol))
      .sortWithinPartitions(sortCol)
      .write.mode(SaveMode.Overwrite).parquet(dir)

  /** Small-files compaction: rewrite a FLAT parquet directory into
    * ~`targetBytesPerFile` files (streaming pipelines and per-batch
    * upserts accrete small files; scans then pay one task + one footer
    * per file). Rewrites through [[swapIn]]: a hard crash between its
    * two renames leaves the data intact at `dir+".old"`, which the next
    * compact() call refuses to clobber rather than guessing which copy
    * is authoritative. Hive-partitioned layouts
    * (`key=value` subdirectories) are rejected: a flat rewrite would
    * silently inline the partition columns and drop pruning. Returns
    * (filesBefore, filesAfter). Partition count = ceil(bytes/target),
    * coalesce (no shuffle) when shrinking. */
  def compact(spark: SparkSession, dir: String,
              targetBytesPerFile: Long = 128L * 1024 * 1024): (Int, Int) = {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val partitionDirs = scala.util.Using.resource(Files.list(Paths.get(dir)))(
      _.iterator().asScala.filter(p =>
        Files.isDirectory(p) && p.getFileName.toString.contains("=")).toList)
    require(partitionDirs.isEmpty,
      s"compact only supports flat parquet layouts; $dir has hive partition " +
        s"subdirectories (${partitionDirs.take(3).map(_.getFileName).mkString(", ")}…) " +
        "— compact each partition directory individually to preserve pruning.")
    // exclude in-flight/committer leftovers (_temporary, hidden dirs)
    def parquetFiles(p: String): Seq[java.nio.file.Path] =
      scala.util.Using.resource(Files.walk(Paths.get(p)))(
        _.iterator().asScala.filter { f =>
          f.getFileName.toString.startsWith("part-") &&
            !(0 until f.getNameCount).exists { i =>
              val seg = f.getName(i).toString
              seg.startsWith("_") || seg.startsWith(".")
            }
        }.toList)
    val before = parquetFiles(dir)
    val totalBytes = before.map(Files.size).sum
    val target = math.max(1, math.ceil(totalBytes.toDouble / targetBytesPerFile).toInt)
    val df = spark.read.parquet(dir)
    val compacted =
      if (target < before.size) df.coalesce(target)
      else df.repartition(target)
    swapIn(dir, dir + ".compacting", "compact")(
      compacted.write.mode(SaveMode.Overwrite).parquet(_))
    (before.size, parquetFiles(dir).size)
  }

  /** Replace the directory `dir` with what `write` puts at `staging`,
    * refusing to guess after a crash: a `dir.old` left by an earlier
    * swap that died between its two renames holds the data from before
    * that swap, so this throws (naming the recovery path) rather than
    * clobber it. A leftover `staging` is never authoritative (it only
    * becomes so by being renamed), so it is cleared before the write —
    * otherwise a crash mid-write would wedge every retry. The swap
    * restores the original directory (and throws) if the final rename
    * fails, so no failure the caller can still be told of leaves `dir`
    * missing. `caller` names the operation in the messages. */
  private[graft] def swapIn(dir: String, staging: String, caller: String)
                           (write: String => Unit): Unit = {
    import java.nio.file.{Files, Paths}
    val (live, old, next) = (Paths.get(dir), Paths.get(dir + ".old"), Paths.get(staging))
    if (Files.exists(old))
      throw new IllegalStateException(
        s"$caller: $old exists — a previous run crashed mid-swap. " +
          s"Inspect it (it holds the data from before that run); restore " +
          s"it to $dir or delete it, then retry.")
    Convert.deleteRecursively(next)
    write(staging)
    Files.move(live, old)
    try Files.move(next, live)
    catch { case e: Throwable =>
      Files.move(old, live)
      throw new IllegalStateException(
        s"$caller: staging→live rename failed for $dir; original restored", e)
    }
    Convert.deleteRecursively(old)
  }
}
