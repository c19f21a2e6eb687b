package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.operators.Convert
import graft.sources.Scan

/** K1/K3/K4/K5 sinks (SURVEY.md §2.2): CSV round-trips, header, chunked
  * output, single-file parity. */
class ConvertSpec extends SparkSpec {

  private def lineitem = spark.read.parquet(s"$sfDir/lineitem.parquet")

  test("parquet→CSV→parquet round-trip preserves every row and value") {
    val tmp = Files.createTempDirectory("convspec").toString
    val src = lineitem
    Convert.toCsvDir(src, s"$tmp/csv")
    val back = Scan.csvWithSchema(spark, src.schema, s"$tmp/csv")
    assert(back.count() === src.count())
    assert(back.exceptAll(src).count() === 0)
    assert(src.exceptAll(back).count() === 0)
  }

  test("maxRecordsPerFile caps every output CSV part (K4)") {
    val tmp = Files.createTempDirectory("convspec").toString
    Convert.toCsvDir(lineitem, s"$tmp/chunked", maxRecordsPerFile = 1000)
    val parts = Files.list(Paths.get(s"$tmp/chunked")).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-")).toSeq
    assert(parts.size >= 6) // 6000 rows / 1000
    parts.foreach { p =>
      val lines = Files.readAllLines(p).size()
      assert(lines <= 1001, s"$p has $lines lines") // +1 header
    }
  }

  test("every CSV part carries a header row") {
    val tmp = Files.createTempDirectory("convspec").toString
    Convert.toCsvDir(lineitem.select("l_orderkey", "l_quantity"), s"$tmp/hdr",
      maxRecordsPerFile = 1000)
    val parts = Files.list(Paths.get(s"$tmp/hdr")).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-")).toSeq
    assert(parts.nonEmpty)
    parts.foreach { p =>
      assert(Files.readAllLines(p).get(0) === "l_orderkey,l_quantity")
    }
  }

  test("csvSingleFile writes one named file with header (K1 parity)") {
    val tmp = Files.createTempDirectory("convspec").toString
    val out = Convert.csvSingleFile(lineitem.limit(50), s"$tmp/lineitem.csv")
    assert(Files.exists(out))
    val lines = Files.readAllLines(out)
    assert(lines.size() === 51)
    assert(lines.get(0).startsWith("l_orderkey,"))
    // temp dir cleaned up
    assert(!Files.exists(Paths.get(s"$tmp/lineitem.csv.spark-tmp")))
  }

  test("nulls and empty strings survive the CSV round-trip distinctly") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("convspec").toString
    val src = Seq(
      (1L, Option("hello"), Option(3.5)),
      (2L, Option(""), None),
      (3L, None: Option[String], Option(0.0)),
      (4L, Option("x,y \"quoted\""), None))
      .toDF("id", "s", "v")
    Convert.toCsvDir(src, s"$tmp/nulls")
    val back = Scan.csvWithSchema(spark, src.schema, s"$tmp/nulls")
    assert(back.count() === 4)
    assert(back.exceptAll(src).count() === 0)
    assert(src.exceptAll(back).count() === 0)
    // null and "" land in different CSV renderings (bare vs quoted field)
    val row2 = back.filter(col("id") === 2).select("s").as[String].collect()
    val row3 = back.filter(col("id") === 3).select("s").as[String].collect()
    assert(row2.toSeq === Seq(""))
    assert(row3.toSeq === Seq(null))
  }

  test("CSV torture round-trip: embedded newlines, quotes, separators, unicode") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("convspec").toString
    val src = Seq(
      (1L, "line one\nline two"),
      (2L, "crlf\r\nline"),
      (3L, "tab\there, comma, \"quotes\" and 'apostrophes'"),
      (4L, "ünïcödé — em-dash and ß"),
      (5L, "trailing spaces   "),
      (6L, "\"fully quoted\"")
    ).toDF("id", "s")
    Convert.toCsvDir(src, s"$tmp/torture")
    // embedded newlines need the multiLine reader (the writer quotes them)
    val back = Scan.csvWithSchema(spark, src.schema, s"$tmp/torture",
      multiLine = true)
    assert(back.count() === 6)
    assert(back.exceptAll(src).count() === 0)
    assert(src.exceptAll(back).count() === 0)
  }

  test("timestamps survive the CSV round-trip at microsecond precision") {
    val tmp = Files.createTempDirectory("convspec").toString
    val src = spark.sql(
      "SELECT timestamp'2024-03-05 01:02:03.123456' AS ts, 1 AS id")
    Convert.toCsvDir(src, s"$tmp/ts")
    val back = Scan.csvWithSchema(spark, src.schema, s"$tmp/ts")
    assert(back.exceptAll(src).count() === 0)
  }

  test("hive-partitioned sinks lay out col=value dirs and prune on read") {
    val tmp = Files.createTempDirectory("convspec").toString
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "lang", "text")

    Convert.toParquetPartitioned(docs, s"$tmp/pq", Seq("lang"))
    val langDirs = Files.list(Paths.get(s"$tmp/pq")).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("lang=")).toSeq
    assert(langDirs.nonEmpty)

    // partition pruning: the filtered scan reads only the matching dir
    val one = langDirs.head.stripPrefix("lang=")
    val scan = spark.read.parquet(s"$tmp/pq").filter(col("lang") === one)
    val plan = scan.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(lang"),
      s"expected partition filter in plan:\n$plan")
    assert(scan.count() === docs.filter(col("lang") === one).count())

    Convert.toCsvPartitioned(docs, s"$tmp/csv", Seq("lang"), maxRecordsPerFile = 100)
    val csvLangDirs = Files.list(Paths.get(s"$tmp/csv")).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("lang=")).toSeq
    assert(csvLangDirs.toSet === langDirs.toSet)
  }

  test("csvToParquet closes the reverse loop") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("convspec").toString
    val src = lineitem.select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
    Convert.toCsvDir(src, s"$tmp/csv")
    Convert.csvToParquet(spark, s"$tmp/csv", s"$tmp/pq")
    val back = spark.read.parquet(s"$tmp/pq")
    assert(back.columns.toSeq === src.columns.toSeq)
    // inference may narrow a type (bigint → int); the values must not move
    val cast = back.select(src.schema.fields.toSeq.map(f => col(f.name).cast(f.dataType)): _*)
    assert(cast.count() === src.count())
    assert(cast.exceptAll(src).count() === 0)
    assert(src.exceptAll(cast).count() === 0)

    // a quoted "" is an empty string and a bare empty field a null
    val strings = Seq((1, "a"), (2, ""), (3, null)).toDF("id", "s")
    Convert.toCsvDir(strings, s"$tmp/scsv")
    Convert.csvToParquet(spark, s"$tmp/scsv", s"$tmp/spq")
    assert(spark.read.parquet(s"$tmp/spq").orderBy("id").collect().toSeq ===
      Seq(Row(1, "a"), Row(2, ""), Row(3, null)))
  }

  test("parquet codec knob round-trips and actually changes the files") {
    import scala.jdk.CollectionConverters._
    val tmp = Files.createTempDirectory("convspec").toString
    val src = lineitem.select("l_orderkey", "l_returnflag")
    for (codec <- Seq("snappy", "zstd", "none")) {
      Convert.toParquet(src, s"$tmp/$codec", codec)
      val back = spark.read.parquet(s"$tmp/$codec")
      assert(back.count() === src.count(), s"row loss under codec=$codec")
    }
    def suffixes(dir: String) = Files.list(Paths.get(dir)).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("part-")).toList
    assert(suffixes(s"$tmp/zstd").forall(_.contains("zstd")))
    assert(suffixes(s"$tmp/snappy").forall(_.contains("snappy")))
  }
}
