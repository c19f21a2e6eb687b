package graft.sources

import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Scan surface (SURVEY.md §2.1, S1–S4).
  *
  * Reference behavior being re-expressed (behavioral cites, not code):
  *  - S1/S2 eager+lazy parquet scans (`utils.py:131,159,184,210,236`) — Spark
  *    reads are always lazy, so one entry point covers both shapes.
  *  - S3 multi-file scan with union-by-name schema merge and per-row file
  *    provenance (`utils.py:101-105`).
  *  - S4 header CSV scan with schema inference (`main.py:14`).
  *
  * Scale notes: `mergeSchema=true` costs a footer read per file — fine for a
  * handful of files, wrong for 100 TB; prefer [[parquetWithSchema]] there.
  */
object Scan {

  /** S1/S2: parquet scan. Lazy; Catalyst prunes columns and pushes
    * predicates down to the vectorized parquet reader automatically.
    *
    * One path naming a file reads with that file's [[footerSchema]], so
    * resolving the read runs no Spark job; Spark's own schema inference
    * runs a one-task job to read the same footer. Directories, globs and
    * several paths keep Spark's inference. */
  def parquet(spark: SparkSession, paths: String*): DataFrame =
    paths match {
      case Seq(one) => footerSchema(spark, one)
        .fold(spark.read.parquet(one))(parquetWithSchema(spark, _, paths))
      case _ => spark.read.parquet(paths: _*)
    }

  /** The schema Spark's inference gives the parquet file at `path`, read
    * on the driver: the footer without row groups, converted by
    * `ParquetFileFormat.readSchemaFromFooter` with the converter settings
    * Spark's `mergeSchemasInParallel` takes from the session conf. None
    * when `path` is a glob, a directory, a name Spark's file listing
    * skips (`_x`, `.x`, `x._COPYING_`), or a footer that does not read;
    * those stay with Spark, which reports them as it always has. */
  private[graft] def footerSchema(spark: SparkSession, path: String): Option[StructType] =
    if (path.exists("{}[]*?\\".contains(_))) None
    else try {
      val p = new Path(path)
      val name = p.getName
      val hadoopConf = spark.sessionState.newHadoopConf()
      val status = p.getFileSystem(hadoopConf).getFileStatus(p)
      if (!status.isFile || name.startsWith("_") || name.startsWith(".") ||
          name.endsWith("._COPYING_")) None
      else {
        val conf = spark.sessionState.conf
        val converter = new ParquetToSparkSchemaConverter(
          assumeBinaryIsString = conf.isParquetBinaryAsString,
          assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
          inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
          nanosAsLong = conf.legacyParquetNanosAsLong,
          respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation)
        val footer = ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(status, hadoopConf), SKIP_ROW_GROUPS)
        Some(ParquetFileFormat.readSchemaFromFooter(
          new Footer(status.getPath, footer), converter))
      }
    } catch { case NonFatal(_) => None }

  /** S1 at 100 TB: explicit schema — no footer sampling over millions of
    * files, and a stable contract independent of file drift. */
  def parquetWithSchema(spark: SparkSession, schema: StructType, paths: Seq[String]): DataFrame =
    spark.read.schema(schema).parquet(paths: _*)

  /** S3: multi-file scan, union columns by name across files with drifting
    * schemas, and record each row's source file (reference
    * `union_by_name=true, filename=true`). */
  def parquetMerged(spark: SparkSession, paths: Seq[String]): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(paths: _*)
      .withColumn("filename", input_file_name())

  /** Register every fixture table under `sfDir` as a temp view (named by
    * table), so `spark.sql` users query the same data the DataFrame
    * surface does (see q61). Missing files are skipped. The events table
    * goes through the nanos-safe read (same truncation as
    * graft.queries.Q.events — Spark 4 rejects TIMESTAMP(NANOS) outright). */
  def registerViews(spark: SparkSession, sfDir: String): Seq[String] = {
    val plain = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "documents", "embeddings")
    val registered = plain.filter { t =>
      val p = s"$sfDir/$t.parquet"
      val exists = new java.io.File(p).exists()
      if (exists) parquet(spark, p).createOrReplaceTempView(t)
      exists
    }
    val eventsPath = s"$sfDir/events.parquet"
    if (new java.io.File(eventsPath).exists()) {
      // one shared schema-adaptive reader (nanos-as-long, micros-NTZ, or
      // plain timestamp fixtures all normalize identically) — drift
      // between the SQL view and the DataFrame surface would silently
      // break oracle parity
      graft.queries.Q.events(spark, sfDir).createOrReplaceTempView("events")
      registered :+ "events"
    } else registered
  }

  /** S4: CSV with header + content-inferred schema (inference reads the data
    * twice — verify-scale only; use [[csvWithSchema]] at scale). */
  def csvInferred(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").option("inferSchema", "true").csv(path)

  /** JSON-lines scan with a declared schema (schema inference over JSON
    * reads everything twice AND unions drifting types — never at scale). */
  def jsonlWithSchema(spark: SparkSession, schema: StructType, path: String): DataFrame =
    spark.read.schema(schema)
      .option("timestampFormat", graft.operators.Convert.TimestampFormat)
      .option("timestampNTZFormat", graft.operators.Convert.TimestampFormat)
      .json(path)

  /** ORC scan — columnar like parquet: pruned columns and pushed
    * predicates reach the ORC reader the same way. */
  def orc(spark: SparkSession, paths: String*): DataFrame =
    spark.read.orc(paths: _*)

  /** CSV scan with a declared schema — the scalable path, read with
    * [[graft.operators.Convert.CsvReadOptions]]. The null token is
    * [[graft.operators.Convert.ReaderNullSentinel]], so the writer's
    * bare-empty nulls and quoted-`""` empty strings read back distinctly.
    * The sentinel is not out of band: a string cell that is exactly `\N`
    * is written unquoted and reads back as null, as with Spark's reader.
    *
    * Line mode (the default) reads through [[graft.plans.CsvBytesFormat]],
    * which parses each line's bytes straight into a row and leaves every
    * line and field it does not take to Spark's own parser, so the rows
    * equal those of Spark's `csv` source with these options (CsvBytesSpec).
    * `multiLine = true` keeps Spark's `csv` source, which streams whole
    * files through univocity. */
  def csvWithSchema(spark: SparkSession, schema: StructType, path: String,
                    multiLine: Boolean = false): DataFrame = {
    val reader = spark.read.schema(schema)
      .options(graft.operators.Convert.CsvReadOptions)
    // multiLine parses quoted embedded newlines correctly but reads each
    // FILE as one unsplittable unit — at scale leave it off unless string
    // columns can actually contain line breaks (the writer quotes them;
    // the default line-mode reader would shear the record)
    if (multiLine) reader.option("multiLine", true).csv(path)
    else reader.format(classOf[graft.plans.CsvBytesFormat].getName).load(path)
  }
}
