package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.Scan
import graft.tools.JobCounter

/** S1–S4 scans (SURVEY.md §2.1): schema merge, provenance, CSV inference,
  * and the single-file read that takes its schema from the footer. */
class ScanSpec extends SparkSpec {

  private def countJobs[T](body: => T): (T, Int) =
    scala.util.Using.resource(new JobCounter(spark))(_.count(body))

  private def tables(dir: String): Seq[String] =
    new java.io.File(dir).listFiles().map(_.getPath).filter(_.endsWith(".parquet")).sorted.toSeq

  /** The schema a read resolves to, or the error it fails with. */
  private def resolved(df: => DataFrame): Either[String, StructType] =
    try Right(df.schema)
    catch { case e: Exception => Left(s"${e.getClass.getName}: ${e.getMessage}") }

  private def withNanosAsLong[T](on: Boolean)(body: => T): T = {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, on.toString)
    try body finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("a single-file read takes the schema Spark's inference gives, for every fixture table") {
    val files = tables("/root/testdata/sf0.001") ++ tables("/root/testdata/sf0.01")
    assert(files.size === 20)
    for (on <- Seq(false, true)) withNanosAsLong(on) {
      for (f <- files) {
        val want = resolved(spark.read.parquet(f))
        assert(resolved(Scan.parquet(spark, f)) === want, s"$f nanosAsLong=$on")
        // the footer path itself answered, unless Spark's inference fails too
        if (want.isRight) assert(Scan.footerSchema(spark, f) === want.toOption, f)
      }
    }
  }

  test("a single-file read resolves with no Spark job; Spark's inference runs one") {
    val f = s"$sfDir/lineitem.parquet"
    assert(countJobs(Scan.parquet(spark, f).schema)._2 === 0)
    assert(countJobs(spark.read.parquet(f).schema)._2 === 1)
    // the data is read as before
    assert(Scan.parquet(spark, f).count() === spark.read.parquet(f).count())
  }

  test("directories and several paths keep Spark's inference") {
    val tmp = Files.createTempDirectory("scanspec").toString
    val n = spark.read.parquet(s"$sfDir/nation.parquet")
    n.write.parquet(s"$tmp/dir")
    assert(Scan.footerSchema(spark, s"$tmp/dir") === None)
    val (dirSchema, dirJobs) = countJobs(Scan.parquet(spark, s"$tmp/dir").schema)
    assert(dirSchema === spark.read.parquet(s"$tmp/dir").schema)
    assert(dirJobs === 1)
    val two = Seq(s"$sfDir/nation.parquet", s"$tmp/dir")
    val (twoSchema, twoJobs) = countJobs(Scan.parquet(spark, two: _*).schema)
    assert(twoSchema === spark.read.parquet(two: _*).schema)
    assert(twoJobs === 1)
    // a glob and a hidden file name stay with Spark too
    assert(Scan.footerSchema(spark, s"$tmp/dir/*.parquet") === None)
    Files.copy(java.nio.file.Paths.get(s"$sfDir/nation.parquet"),
      java.nio.file.Paths.get(s"$tmp/_hidden.parquet"))
    assert(Scan.footerSchema(spark, s"$tmp/_hidden.parquet") === None)
  }

  test("parquetMerged unions drifted schemas by name and records provenance (S3)") {
    val tmp = Files.createTempDirectory("scanspec").toString
    val n = spark.read.parquet(s"$sfDir/nation.parquet")
    n.select("n_nationkey", "n_name").write.parquet(s"$tmp/a")
    n.select("n_nationkey", "n_regionkey").write.parquet(s"$tmp/b")
    val merged = Scan.parquetMerged(spark, Seq(s"$tmp/a", s"$tmp/b"))
    assert(merged.columns.toSet === Set("n_nationkey", "n_name", "n_regionkey", "filename"))
    assert(merged.count() === 2 * n.count())
    // provenance column populated for every row
    assert(merged.filter(col("filename") === "").count() === 0)
    // rows from file a have null n_regionkey, rows from b null n_name
    assert(merged.filter(col("filename").contains("/a/")).filter(col("n_regionkey").isNotNull).count() === 0)
    assert(merged.filter(col("filename").contains("/b/")).filter(col("n_name").isNotNull).count() === 0)
  }

  test("csvInferred infers numeric and string types from content (S4)") {
    val tmp = Files.createTempDirectory("scanspec").toString
    Files.writeString(java.nio.file.Paths.get(s"$tmp/manifest.csv"),
      "num_rows,filename\n100,a.parquet\n2000,b.parquet\n")
    val df = Scan.csvInferred(spark, s"$tmp/manifest.csv")
    assert(df.schema("num_rows").dataType === IntegerType)
    assert(df.schema("filename").dataType === StringType)
    assert(df.count() === 2)
  }

  test("explicit-schema scan pins types independent of content (scale path)") {
    val tmp = Files.createTempDirectory("scanspec").toString
    Files.writeString(java.nio.file.Paths.get(s"$tmp/m.csv"),
      "num_rows,filename\n100,a.parquet\n")
    val schema = StructType(Seq(
      StructField("num_rows", LongType), StructField("filename", StringType)))
    val df = Scan.csvWithSchema(spark, schema, s"$tmp/m.csv")
    assert(df.schema("num_rows").dataType === LongType)
    assert(df.head().getLong(0) === 100L)
  }

  test("registerViews exposes every fixture table to spark.sql, events nanos-safe") {
    val names = Scan.registerViews(spark, sfDir)
    assert(names.contains("lineitem") && names.contains("events"))
    assert(spark.sql("SELECT count(*) FROM lineitem").head().getLong(0) > 0)
    // events ts is usable as a proper timestamp through SQL
    val r = spark.sql("SELECT min(ts) FROM events").head()
    assert(r.get(0).isInstanceOf[java.sql.Timestamp])
  }

  test("parquet scans prune columns and push predicates down to the reader") {
    val plan = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .filter(col("l_quantity") > 30)
      .select("l_orderkey", "l_quantity")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30.0)]"),
      s"predicate not pushed:\n$plan")
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"),
      s"columns not pruned:\n$plan")
  }
}
