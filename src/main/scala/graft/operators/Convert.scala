package graft.operators

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Parquet↔CSV conversion sinks (SURVEY.md §2.2, K1–K5) — the reference's
  * core capability, re-expressed on the Spark DataFrame writer.
  *
  * Reference behaviors covered:
  *  - K1 single-file CSV with header (`utils.py:130-133,185-188,210`)
  *  - K3 chunked serialization (`utils.py:160,186`) — streamed row by
  *    row through [[graft.plans.CsvBytesFormat]]'s reused byte buffer
  *    inside Spark's CSV FileFormat writer, no user knob needed
  *  - K4 partitioned CSV sink with max rows per file (`utils.py:231-239`,
  *    Polars `PartitionMaxSize(max_size=500000)`) →
  *    `option("maxRecordsPerFile", …)`, an exact built-in match
  *  - K5 parquet write (`utils.py:73`)
  *
  * Scale doctrine: [[csvSingleFile]] (`coalesce(1)` + rename) exists for
  * parity with the reference's single-named-file output and is verify-scale
  * only; the 100 TB path is [[parquetToCsv]] — a fully parallel partitioned
  * write bounded by `maxRecordsPerFile`, optionally hive-partitioned by
  * columns.
  */
object Convert {

  /** Reference chunk size (`utils.py:143,237`). */
  val DefaultMaxRecordsPerFile: Long = 500000L

  /** Pinned so CSV round-trips preserve microsecond timestamps. */
  val TimestampFormat: String = graft.plans.FastTimestampFormat.Pattern

  /** Null renders as a bare empty field, empty STRING as a quoted `""` —
    * pinned explicitly (SURVEY §7.4.1: null rendering is a reference-parity
    * trap) so null vs empty-string survives a CSV round-trip; the readers
    * in [[graft.sources.Scan]] use the mirrored options. */
  val NullValue = ""
  val EmptyValue = "\"\""

  /** Reader-side null token. Spark's CSV reader substitutes quoted-empty
    * fields with its `emptyValue` ("" by default) BEFORE the `nullValue`
    * comparison, so a reader `nullValue` of "" would collapse `""` (empty
    * string) and a bare empty field (null) to the same value; with this
    * token only bare empty fields parse as null. It is not out of band: a
    * string cell that is exactly `\N` is written unquoted, since `\`
    * alone does not trigger quoting, and reads back as null. */
  val ReaderNullSentinel = "\\N"

  /** The reader's pinned CSV options: [[graft.sources.Scan.csvWithSchema]]
    * and [[csvToParquet]]'s schema inference read with these. */
  val CsvReadOptions: Map[String, String] = Map(
    "header" -> "true",
    "timestampFormat" -> TimestampFormat,
    "timestampNTZFormat" -> TimestampFormat,
    "nullValue" -> ReaderNullSentinel)

  /** The sink's pinned CSV options (`maxRecordsPerFile` is per call). */
  val CsvOptions: Map[String, String] = Map(
    "header" -> "true",
    "timestampFormat" -> TimestampFormat,
    // NTZ must round-trip at the same pinned micro precision — the
    // writer's NTZ default (ISO-'T', millis) would silently truncate
    // microseconds (round-12 finding; CsvTimestampSpec pins this)
    "timestampNTZFormat" -> TimestampFormat,
    "nullValue" -> NullValue,
    "emptyValue" -> EmptyValue,
    // the WRITER defaults these to true and silently trims string cells;
    // a conversion must write the bytes it was given (round-trip parity
    // asserted in ConvertSpec's torture test)
    "ignoreLeadingWhiteSpace" -> "false",
    "ignoreTrailingWhiteSpace" -> "false")

  /** Every CSV sink writes through [[graft.plans.CsvBytesFormat]]: Spark's
    * CSV file format (commit, `maxRecordsPerFile`, `partitionBy`,
    * compression) with a byte-direct row encoder, byte-identical to
    * Spark's `csv` writer under [[CsvOptions]] (CsvBytesSpec). It renders
    * timestamps in the pinned format itself, so no `graft_csv_ts`
    * projection runs ahead of it, and it rejects any option that its
    * encoder does not implement. */
  private def csvWriter(df: DataFrame, maxRecordsPerFile: Long) =
    df.write.format(classOf[graft.plans.CsvBytesFormat].getName)
      .options(CsvOptions)
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .mode(SaveMode.Overwrite)

  /** K4 — the scalable conversion: every task writes its partitions in
    * parallel, each output file capped at `maxRecordsPerFile` rows. */
  def parquetToCsv(spark: SparkSession, in: String, outDir: String,
                   maxRecordsPerFile: Long = DefaultMaxRecordsPerFile): Unit =
    csvWriter(graft.sources.Scan.parquet(spark, in), maxRecordsPerFile).save(outDir)

  /** K4 over an arbitrary DataFrame. */
  def toCsvDir(df: DataFrame, outDir: String,
               maxRecordsPerFile: Long = DefaultMaxRecordsPerFile): Unit =
    csvWriter(df, maxRecordsPerFile).save(outDir)

  /** K1 — single named CSV file, reference-output parity. Serializes through
    * one task (`coalesce(1)`): verify-scale only, never the 100 TB path.
    * Asserts exactly one part file — silently picking the first of several
    * would drop data. */
  def csvSingleFile(df: DataFrame, outFile: String): Path = {
    val out = Paths.get(outFile)
    val tmpDir = out.resolveSibling(out.getFileName.toString + ".spark-tmp")
    csvWriter(df.coalesce(1), Long.MaxValue).save(tmpDir.toString)
    val parts = Using.resource(Files.list(tmpDir)) {
      _.iterator().asScala.filter(_.getFileName.toString.startsWith("part-")).toList
    }
    val part = parts match {
      case one :: Nil => one
      case other => sys.error(s"expected exactly one part file under $tmpDir, found ${other.size}")
    }
    Files.move(part, out, StandardCopyOption.REPLACE_EXISTING)
    deleteRecursively(tmpDir)
    out
  }

  /** K4 variant — hive-partitioned CSV sink: one `col=value/` directory
    * per partition-column value, files capped by `maxRecordsPerFile`.
    * Downstream scans prune whole directories on partition predicates —
    * the layout that makes "reprocess one language/day" touch only that
    * slice of a 100 TB output. */
  def toCsvPartitioned(df: DataFrame, outDir: String, partitionCols: Seq[String],
                       maxRecordsPerFile: Long = DefaultMaxRecordsPerFile): Unit =
    csvWriter(df, maxRecordsPerFile).partitionBy(partitionCols: _*).save(outDir)

  /** K5 — parquet write. `codec` picks the compression (snappy is the
    * balanced default; zstd trades ~30% smaller files for CPU — the
    * usual choice when 100 TB of output dominates storage cost; "none"
    * for page-cache-resident intermediates). */
  def toParquet(df: DataFrame, outDir: String, codec: String = "snappy"): Unit =
    df.write.option("compression", codec).mode(SaveMode.Overwrite).parquet(outDir)

  /** K5 variant — hive-partitioned parquet write (see [[toCsvPartitioned]]
    * for the layout rationale; partition values become directory keys and
    * are pruned at scan time via PartitionFilters). */
  def toParquetPartitioned(df: DataFrame, outDir: String,
                           partitionCols: Seq[String]): Unit =
    df.write.mode(SaveMode.Overwrite).partitionBy(partitionCols: _*).parquet(outDir)

  /** CSV → parquet (the reverse conversion, closing the format loop).
    * The schema is inferred with the reader's null token, then the CSV is
    * read through [[graft.sources.Scan.csvWithSchema]], so a quoted `""`
    * comes back as an empty string and only a bare empty field as null. */
  def csvToParquet(spark: SparkSession, in: String, outDir: String): Unit = {
    val schema = spark.read.options(CsvReadOptions).option("inferSchema", "true")
      .csv(in).schema
    toParquet(graft.sources.Scan.csvWithSchema(spark, schema, in), outDir)
  }

  /** JSON-lines sink: one JSON object per row, files capped like the CSV
    * sink — the interchange format most ingestion pipelines speak. Same
    * parallel-partitioned write shape as [[toCsvDir]]. */
  def toJsonl(df: DataFrame, outDir: String,
              maxRecordsPerFile: Long = DefaultMaxRecordsPerFile): Unit =
    df.write
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .option("timestampFormat", TimestampFormat)
      .option("timestampNTZFormat", TimestampFormat)
      .mode(SaveMode.Overwrite).json(outDir)

  /** ORC sink (the other columnar format Spark ships natively). */
  def toOrc(df: DataFrame, outDir: String): Unit =
    df.write.mode(SaveMode.Overwrite).orc(outDir)

  private[graft] def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p))
      Using.resource(Files.list(p))(_.iterator().asScala.toList).foreach(deleteRecursively)
    Files.deleteIfExists(p)
  }
}
