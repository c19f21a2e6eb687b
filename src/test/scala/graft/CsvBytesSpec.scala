package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.{Random, Using}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

import graft.operators.Convert
import graft.plans.CsvBytesFormat

/** Differential proof for the byte-direct CSV sink: every part file the
  * [[Convert]] sinks write through [[CsvBytesFormat]] must equal, byte for
  * byte, what Spark's built-in `csv` writer writes for the same frame
  * with the same options after the `graft_csv_ts` projection that the
  * sink ran before it had its own encoder. Inputs are seeded random
  * frames over every CSV-writable atomic type, with the values a CSV
  * encoder gets wrong: quote triggers, escapes, comment characters, white
  * space, empty strings vs nulls, non-BMP and malformed UTF-8, float
  * specials and subnormals, extreme longs and decimals, timestamps in a
  * DST zone and outside years [1, 9999]; binary and ANSI intervals take
  * the generic converter path. */
class CsvBytesSpec extends SparkSpec {

  private val Pinned = Convert.TimestampFormat
  private val MicrosPerDay = 86400L * 1000000L

  // ---- seeded frames ----------------------------------------------------

  private val baseSchema = StructType(Seq(
    StructField("#s", StringType),          // first column: the comment rule
    StructField("id", LongType, nullable = false),
    StructField("b", BooleanType),
    StructField("i8", ByteType),
    StructField("i16", ShortType),
    StructField("i32", IntegerType),
    StructField("i64", LongType),
    StructField("f32", FloatType),
    StructField("f64", DoubleType),
    StructField("d5_0", DecimalType(5, 0)),
    StructField("d18_6", DecimalType(18, 6)),
    StructField("d38_18", DecimalType(38, 18)),
    StructField("days", IntegerType),
    StructField("ts_us", LongType),
    StructField("ntz_us", LongType),
    StructField("s,2 \"q\"", StringType),   // a header cell that needs quotes
    StructField("raw", BinaryType)))

  private val specialStrings = Seq("", " lead", "trail ", " both ", "#hash",
    "#", "# ", ",", "a,b", "\"", "\"q\"", "\"\"", "\\", "a\\b", "\\\"",
    "end\\", "cr\rx", "lf\nx", "crlf\r\nx", "\t", "tab\tx", "  ", "NULL",
    "\\N", "ünïcödé", "中文", "😀", "a😀,\"b\"", "x" * 300, "\u0000", "'")

  private val alphabet = Array(",", "\"", "\\", "\r", "\n", "\t", " ", "#",
    "a", "b", "Z", "0", "é", "中", "😀", "'", ";", "|")

  private def randString(rng: Random): String =
    if (rng.nextInt(10) == 0) null
    else if (rng.nextInt(4) == 0) specialStrings(rng.nextInt(specialStrings.size))
    else Seq.fill(rng.nextInt(14))(alphabet(rng.nextInt(alphabet.length))).mkString

  private def pick[T](rng: Random, specials: Seq[T], random: => T): T =
    if (rng.nextInt(3) == 0) specials(rng.nextInt(specials.size)) else random

  private def nullable[T <: AnyRef](rng: Random, v: => T): T =
    if (rng.nextInt(12) == 0) null.asInstanceOf[T] else v

  private val doubleSpecials = Seq(Double.NaN, Double.PositiveInfinity,
    Double.NegativeInfinity, -0.0, 0.0, Double.MinPositiveValue,
    java.lang.Double.MIN_NORMAL / 3, Double.MinValue, Double.MaxValue,
    1e-7, 1e7, 0.1, 123456789.123, -1.0)
  private val floatSpecials = Seq(Float.NaN, Float.PositiveInfinity,
    Float.NegativeInfinity, -0.0f, 0.0f, Float.MinPositiveValue,
    java.lang.Float.MIN_NORMAL / 3, Float.MinValue, Float.MaxValue, 1e-7f,
    1e7f, 0.1f)
  private val longSpecials = Seq(Long.MinValue, Long.MaxValue, 0L, -1L, 1L,
    9L, 10L, -10L, 99L, 100L, 1000000000000L)

  private def decimal(rng: Random, precision: Int, scale: Int) = {
    val bound = BigInt(10).pow(precision)
    val unscaled =
      if (rng.nextInt(5) == 0) BigInt(rng.nextInt(3)) // 0, 1E-scale, 2E-scale
      else BigInt(128, rng) % bound
    val signed = if (rng.nextBoolean()) -unscaled else unscaled
    new java.math.BigDecimal(signed.bigInteger, scale)
  }

  /** Micros mostly in years [1, 9999] (US DST transitions included),
    * about one in eight in years -4000..0 or 10000..50000. */
  private def micros(rng: Random): Long = {
    val year0 = -62135596800000000L // 0001-01-01
    val year10000 = 253402300800000000L
    rng.nextInt(8) match {
      case 0 => year0 - (rng.nextLong() & Long.MaxValue) % (4000L * 365 * MicrosPerDay)
      case 1 => year10000 + (rng.nextLong() & Long.MaxValue) % (40000L * 365 * MicrosPerDay)
      case 2 => 1678069800000000L + rng.nextInt(7200) * 1000000L // spring-forward
      case 3 => 1699164000000000L + rng.nextInt(7200) * 1000000L // fall-back
      case _ => year0 + (rng.nextLong() & Long.MaxValue) % (year10000 - year0)
    }
  }

  private def rows(seed: Long, n: Int): Seq[Row] = {
    val rng = new Random(seed)
    (0 until n).map { id =>
      def opt[T](v: => T): Any = if (rng.nextInt(12) == 0) null else v
      Row(
        randString(rng), id.toLong,
        opt(rng.nextBoolean()),
        opt(rng.nextInt().toByte),
        opt(rng.nextInt().toShort),
        opt(pick(rng, Seq(Int.MinValue, Int.MaxValue, 0, -1), rng.nextInt())),
        opt(pick(rng, longSpecials, rng.nextLong())),
        opt(pick(rng, floatSpecials,
          if (rng.nextBoolean()) java.lang.Float.intBitsToFloat(rng.nextInt())
          else rng.nextFloat() * 1000)),
        opt(pick(rng, doubleSpecials,
          if (rng.nextBoolean()) java.lang.Double.longBitsToDouble(rng.nextLong())
          else rng.nextGaussian() * 1e6)),
        nullable(rng, decimal(rng, 5, 0)),
        nullable(rng, decimal(rng, 18, 6)),
        nullable(rng, decimal(rng, 38, 18)),
        opt(rng.nextInt(2 * 3652425) - 719162), // days: years 1..19999
        opt(micros(rng)),
        opt(micros(rng)),
        randString(rng),
        nullable(rng, Array.fill(rng.nextInt(6))(rng.nextInt().toByte)))
    }
  }

  /** Malformed UTF-8 (bad continuation, surrogate, overlong, > U+10FFFF,
    * truncated, 0xFF) next to well-formed text. */
  private val rawUtf8 = Seq("ff", "c328", "eda080", "c0af", "f4908080",
    "e282", "61e282ac62", "22ff2c")

  /** The typed frame: `nParts` input partitions, every third one emptied. */
  private def frame(seed: Long, n: Int, nParts: Int = 6): DataFrame = {
    val rdd = spark.sparkContext.parallelize(rows(seed, n), nParts)
      .mapPartitionsWithIndex((i, it) => if (i % 3 == 1) Iterator.empty else it)
    spark.createDataFrame(rdd, baseSchema).select(
      col("`#s`"), col("id"), col("b"), col("i8"), col("i16"), col("i32"),
      col("i64"), col("f32"), col("f64"), col("d5_0"), col("d18_6"),
      col("d38_18"),
      expr("date_from_unix_date(days)").as("d"),
      expr("timestamp_micros(ts_us)").as("ts"),
      expr("cast(timestamp_micros(ntz_us) as timestamp_ntz)").as("ntz"),
      col("`s,2 \"q\"`"), col("raw"),
      expr("make_ym_interval(cast(id % 40 as int) - 20, 7)").as("ym"),
      expr("make_dt_interval(id % 900 - 450, 3, 4, 5.000006)").as("dt"),
      // malformed UTF-8 reaches the writer as a raw-byte string
      expr(s"case id % ${rawUtf8.size} " + rawUtf8.zipWithIndex.map {
        case (h, i) => s"when $i then cast(unhex('$h') as string)"
      }.mkString(" ") + " end").as("bad"))
  }

  // ---- reference writer and comparison ----------------------------------

  /** Spark's built-in CSV writer after the projection the sink ran before
    * it had its own encoder: `graft_csv_ts` on the data columns whose
    * timestamp format is the pinned one. */
  private def builtIn(df: DataFrame, dir: String, opts: Map[String, String],
                      partitionCols: Seq[String] = Nil): Unit = {
    graft.plans.GraftFunctions.ensureRegistered(spark)
    def pinned(key: String) = opts.get(key).contains(Pinned)
    val ts = df.schema.fields.filter { f =>
      !partitionCols.contains(f.name) &&
        (f.dataType == TimestampType && pinned("timestampFormat") ||
          f.dataType == TimestampNTZType && pinned("timestampNTZFormat"))
    }.map(_.name).toSet
    df.select(df.columns.toSeq.map { c =>
      if (ts(c)) call_function("graft_csv_ts", col(s"`$c`")).as(c)
      else col(s"`$c`")
    }: _*).write.options(opts).mode("overwrite")
      .partitionBy(partitionCols: _*).csv(dir)
  }

  private def bytesFormat(df: DataFrame, dir: String,
                          opts: Map[String, String]): Unit =
    df.write.format(classOf[CsvBytesFormat].getName).options(opts)
      .mode("overwrite").save(dir)

  private val Uuid = "-[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"

  /** Part files under `dir`, keyed by relative path without the job UUID. */
  private def parts(dir: String): Map[String, Array[Byte]] = {
    val root = Paths.get(dir)
    Using.resource(Files.walk(root))(_.iterator().asScala.toList)
      .filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString.startsWith("part-"))
      .map(p => root.relativize(p).toString.replaceAll(Uuid, "") ->
        Files.readAllBytes(p))
      .toMap
  }

  private def firstDiff(a: Array[Byte], b: Array[Byte]): String = {
    val i = a.indices.find(i => i >= b.length || a(i) != b(i))
      .getOrElse(a.length)
    def around(x: Array[Byte]) = new String(
      x.slice(math.max(0, i - 40), math.min(x.length, i + 40)), "UTF-8")
    s"at byte $i: got [${around(a)}] want [${around(b)}]"
  }

  private def assertSameParts(got: String, want: String): Unit = {
    val g = parts(got)
    val w = parts(want)
    assert(w.nonEmpty, s"reference wrote no part file under $want")
    assert(g.keySet === w.keySet)
    for ((k, bytes) <- w)
      assert(java.util.Arrays.equals(g(k), bytes), s"$k ${firstDiff(g(k), bytes)}")
  }

  private def tmp(): String = Files.createTempDirectory("csvbytes").toString

  private def withSessionZone[T](zone: String)(body: => T): T = {
    val key = "spark.sql.session.timeZone"
    val old = spark.conf.get(key)
    spark.conf.set(key, zone)
    try body finally spark.conf.set(key, old)
  }

  // ---- the sinks against the reference ----------------------------------

  test("toCsvDir: every atomic type, empty partitions, UTC") {
    val t = tmp()
    val df = frame(seed = 1, n = 3000)
    Convert.toCsvDir(df, s"$t/got")
    builtIn(df, s"$t/want", Convert.CsvOptions)
    assertSameParts(s"$t/got", s"$t/want")
    assert(parts(s"$t/got").size === 4) // 6 input partitions, 2 emptied
  }

  test("toCsvDir: timestamps in a DST session zone") {
    withSessionZone("America/New_York") {
      val t = tmp()
      val df = frame(seed = 2, n = 3000)
      Convert.toCsvDir(df, s"$t/got")
      builtIn(df, s"$t/want", Convert.CsvOptions)
      assertSameParts(s"$t/got", s"$t/want")
    }
  }

  test("parquetToCsv: the parquet scan feeds the same bytes") {
    val t = tmp()
    frame(seed = 3, n = 2000).write.parquet(s"$t/in")
    Convert.parquetToCsv(spark, s"$t/in", s"$t/got")
    builtIn(spark.read.parquet(s"$t/in"), s"$t/want", Convert.CsvOptions)
    assertSameParts(s"$t/got", s"$t/want")
  }

  test("an empty frame and an all-empty-partition frame write a header-only file") {
    val t = tmp()
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], baseSchema)
    Convert.toCsvDir(empty, s"$t/got0")
    builtIn(empty, s"$t/want0", Convert.CsvOptions)
    assertSameParts(s"$t/got0", s"$t/want0")
    val hollow = frame(seed = 4, n = 100).filter(col("id") < 0)
    Convert.toCsvDir(hollow, s"$t/got1")
    builtIn(hollow, s"$t/want1", Convert.CsvOptions)
    assertSameParts(s"$t/got1", s"$t/want1")
  }

  test("maxRecordsPerFile rolls over to the same files") {
    val t = tmp()
    val df = frame(seed = 5, n = 500)
    Convert.toCsvDir(df, s"$t/got", maxRecordsPerFile = 7)
    builtIn(df, s"$t/want", Convert.CsvOptions + ("maxRecordsPerFile" -> "7"))
    assertSameParts(s"$t/got", s"$t/want")
    assert(parts(s"$t/got").size > 40)
  }

  test("toCsvPartitioned: partition columns, a timestamp among them, keep their directory names") {
    val t = tmp()
    val df = frame(seed = 6, n = 1500)
      .withColumn("bucket", col("id") % 3)
      .withColumn("day", expr("timestamp_micros((id % 2) * 86400000000 + 123456)"))
    Convert.toCsvPartitioned(df, s"$t/got", Seq("bucket", "day"),
      maxRecordsPerFile = 100)
    builtIn(df, s"$t/want", Convert.CsvOptions + ("maxRecordsPerFile" -> "100"),
      partitionCols = Seq("bucket", "day"))
    assertSameParts(s"$t/got", s"$t/want")
    assert(parts(s"$t/got").keys.exists(_.contains("day=")))
  }

  test("csvSingleFile: the one named file is the coalesced reference part") {
    val t = tmp()
    val df = frame(seed = 7, n = 800)
    val out = Convert.csvSingleFile(df, s"$t/one.csv")
    builtIn(df.coalesce(1), s"$t/want", Convert.CsvOptions)
    val want = parts(s"$t/want").values.toList
    assert(want.size === 1)
    val got = Files.readAllBytes(out)
    assert(java.util.Arrays.equals(got, want.head), firstDiff(got, want.head))
  }

  test("gzip: compressed parts are byte-identical and keep the .csv.gz extension") {
    val t = tmp()
    val df = frame(seed = 8, n = 1000)
    val opts = Convert.CsvOptions + ("compression" -> "gzip")
    bytesFormat(df, s"$t/got", opts)
    builtIn(df, s"$t/want", opts)
    assertSameParts(s"$t/got", s"$t/want")
    assert(parts(s"$t/got").keys.forall(_.endsWith(".csv.gz")))
  }

  test("a lone column: null rows vanish, a leading # is quoted") {
    import spark.implicits._
    val t = tmp()
    val rng = new Random(9)
    val df = Seq.fill(400)(randString(rng)).toDF("s").repartition(3)
      .localCheckpoint()
    Convert.toCsvDir(df, s"$t/got")
    builtIn(df, s"$t/want", Convert.CsvOptions)
    assertSameParts(s"$t/got", s"$t/want")
  }

  test("honored options: nullValue, emptyValue, no header, other formats, legacy null quoting") {
    val t = tmp()
    val df = frame(seed = 10, n = 1000)
    val variants = Seq(
      Map("nullValue" -> "\\N", "emptyValue" -> "", "header" -> "false"),
      Map("nullValue" -> "a,\"b\"", "emptyValue" -> "#e"),
      Map("dateFormat" -> "dd/MM/yyyy", "timestampFormat" -> "yyyy-MM-dd'T'HH:mm:ss",
        "timestampNTZFormat" -> "yyyy-MM-dd HH:mm", "timeZone" -> "Asia/Kolkata"))
    for ((v, i) <- variants.zipWithIndex) {
      val opts = Convert.CsvOptions ++ v
      bytesFormat(df, s"$t/got$i", opts)
      builtIn(df, s"$t/want$i", opts)
      assertSameParts(s"$t/got$i", s"$t/want$i")
    }
    val legacy = SQLConf.LEGACY_NULL_VALUE_WRITTEN_AS_QUOTED_EMPTY_STRING_CSV.key
    spark.conf.set(legacy, "true")
    try {
      bytesFormat(df, s"$t/gotL", Convert.CsvOptions)
      builtIn(df, s"$t/wantL", Convert.CsvOptions)
      assertSameParts(s"$t/gotL", s"$t/wantL")
    } finally spark.conf.unset(legacy)
  }

  // ---- the fixed-notation double fast path ------------------------------

  /** Compares the fast double path with `Double.toString` one value at a
    * time: the fast path must either decline (-1) or write exactly
    * `Double.toString`'s bytes. Counts the values it took. */
  private final class FastPathCheck {
    private val buf = new Array[Byte](32)
    var hits = 0L
    private var mismatches = 0L
    private val first = Seq.newBuilder[String]

    def apply(v: Double): Unit = {
      val end = CsvBytesFormat.putFixedDouble(v, buf, 0)
      if (end >= 0) {
        hits += 1
        val want = java.lang.Double.toString(v)
        var same = end == want.length
        var i = 0
        while (same && i < end) { same = buf(i) == want.charAt(i); i += 1 }
        if (!same) {
          mismatches += 1
          if (mismatches <= 5) first += s"$want rendered ${new String(buf, 0, end, "US-ASCII")}"
        }
      }
    }

    def assertExact(what: String): Unit =
      assert(mismatches === 0L,
        s"$what: $mismatches fast-path mismatches, first: ${first.result().mkString("; ")}")
  }

  private def inFastRange(v: Double) = math.abs(v) >= 1e-3 && math.abs(v) < 1e7

  test("fast double path equals Double.toString on every m/10^k, k = 1..6") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val perK = (1 to 6).map(k => Future {
      val p = math.pow(10, k)
      val c = new FastPathCheck
      var inRange = 0L
      // m in [1, 10^7], then the 10^6 values (of either sign) just below
      // 10^7 that end the fast range
      var m = 1L
      while (m <= 10000000L) {
        val v = m / p
        if (inFastRange(v)) inRange += 1
        c(v)
        m += 1
      }
      m = 10000000L * p.toLong - 1000000L
      while (m < 10000000L * p.toLong) {
        c(m / p)
        c(-m / p)
        inRange += 2
        m += 1
      }
      (k, c, inRange)
    })
    for ((k, c, inRange) <- Await.result(Future.sequence(perK), scala.concurrent.duration.Duration.Inf)) {
      c.assertExact(s"m/10^$k")
      assert(c.hits === inRange, s"k = $k: the fast path declined an m/10^$k in its range")
    }
  }

  test("fast double path equals Double.toString on seeded random doubles") {
    val rng = new Random(20)
    // random bit patterns: every exponent, so mostly declined
    val bits = new FastPathCheck
    for (_ <- 1 to 10000000) bits(java.lang.Double.longBitsToDouble(rng.nextLong()))
    bits.assertExact("random bits")
    assert(bits.hits > 0)
    // values in [1e-3, 1e7): log-uniform full-precision doubles, and
    // decimals of 0..9 fraction digits (those of 7..9 digits must decline)
    val ranged = new FastPathCheck
    var n = 0
    while (n < 10000000) {
      val v =
        if (rng.nextBoolean()) math.pow(10, -3 + 10 * rng.nextDouble())
        else {
          val p = math.pow(10, rng.nextInt(10))
          math.floor(math.pow(10, -3 + 10 * rng.nextDouble()) * p) / p
        }
      if (inFastRange(v)) {
        ranged(if (rng.nextBoolean()) -v else v)
        n += 1
      }
    }
    ranged.assertExact("random values in [1e-3, 1e7)")
    assert(ranged.hits > 3000000L)
  }

  test("fast double path boundaries and specials") {
    val buf = new Array[Byte](32)
    def fast(v: Double): Option[String] = {
      val end = CsvBytesFormat.putFixedDouble(v, buf, 0)
      Option.when(end >= 0)(new String(buf, 0, end, "US-ASCII"))
    }
    val taken = Seq(1e-3, 0.0015, 1.0, 0.1, 5.25, 9999999.0, 9999999.999999,
      123456.789, 1234567.5, 0.123456, 1e6, 42.0)
    val declined = Seq(Math.nextDown(1e-3), 1e7, Math.nextDown(1e7),
      0.0, -0.0, Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
      Double.MinPositiveValue, java.lang.Double.MIN_NORMAL, 1e-4,
      0.1234567, 1.0 / 3, Math.nextUp(1.0), 1e300)
    for (v <- taken; x <- Seq(v, -v))
      assert(fast(x) === Some(java.lang.Double.toString(x)), s"value $x")
    for (v <- declined; x <- Seq(v, -v))
      assert(fast(x) === None, s"value $x")
    assert(fast(1e-3) === Some("0.001"))
    assert(fast(-5.25) === Some("-5.25"))
    assert(fast(9999999.0) === Some("9999999.0"))
  }

  test("short-decimal doubles through the sink: same bytes as Spark's csv writer") {
    import spark.implicits._
    val t = tmp()
    val rng = new Random(21)
    val df = Seq.fill(20000) {
      val k = rng.nextInt(8)
      val m = (rng.nextLong() & Long.MaxValue) % math.pow(10, 1 + rng.nextInt(13)).toLong
      val v = m / math.pow(10, k)
      (if (rng.nextBoolean()) -v else v, pick(rng, doubleSpecials, v * 3))
    }.toDF("a", "b").repartition(3).localCheckpoint()
    Convert.toCsvDir(df, s"$t/got")
    builtIn(df, s"$t/want", Convert.CsvOptions)
    assertSameParts(s"$t/got", s"$t/want")
  }

  // ---- options the encoder does not implement fail loudly ---------------

  private val rejected = Seq(
    "sep" -> ";", "quote" -> "'", "escape" -> "/", "quoteAll" -> "true",
    "escapeQuotes" -> "false", "lineSep" -> "\r\n", "encoding" -> "UTF-16",
    "charToEscapeQuoteEscaping" -> "/", "comment" -> "%",
    "ignoreLeadingWhiteSpace" -> "true", "ignoreTrailingWhiteSpace" -> "true")

  for ((key, value) <- rejected)
    test(s"rejects $key=${value.replace("\r\n", "CRLF")} at prepareWrite") {
      val t = tmp()
      val e = intercept[IllegalArgumentException] {
        bytesFormat(frame(seed = 11, n = 10), s"$t/out",
          Convert.CsvOptions + (key -> value))
      }
      assert(e.getMessage.contains("CsvBytesFormat does not implement"))
      assert(e.getMessage.contains(key))
      assert(!Files.exists(Paths.get(s"$t/out")) || parts(s"$t/out").isEmpty)
    }
}
