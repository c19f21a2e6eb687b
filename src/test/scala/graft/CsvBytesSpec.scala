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

  // ---- the reader against Spark's csv reader ----------------------------

  /** `Scan.csvWithSchema`'s options. */
  private val ReadOptions = Convert.CsvReadOptions

  private def byteRead(schema: StructType, path: String,
                       opts: Map[String, String] = ReadOptions): DataFrame =
    spark.read.schema(schema).options(opts)
      .format(classOf[CsvBytesFormat].getName).load(path)

  private def sparkRead(schema: StructType, path: String,
                        opts: Map[String, String] = ReadOptions): DataFrame =
    spark.read.schema(schema).options(opts).csv(path)

  /** A read's rows, strings as the hex of their UTF-8 bytes (a Java
    * `String` would hide malformed bytes) and floating-point values as
    * their bits (so -0.0 is not 0.0), or Left when the read fails. */
  private def outcome(df: DataFrame): Either[Throwable, Seq[Seq[Any]]] =
    try Right(df.select(df.schema.fields.toSeq.map { f =>
      val c = col(s"`${f.name}`")
      if (f.dataType.isInstanceOf[StringType]) hex(c.cast(BinaryType)).as(f.name) else c
    }: _*).collect().toSeq.map(_.toSeq.map {
      case d: Double => s"d${java.lang.Double.doubleToRawLongBits(d)}"
      case f: Float => s"f${java.lang.Float.floatToRawIntBits(f)}"
      case other => other
    }))
    catch { case e: org.apache.spark.SparkException => Left(e) }

  /** Both reads fail, or both return the same rows in the same order.
    * Returns the row count (-1 for a failure). */
  private def assertSameRead(got: DataFrame, want: DataFrame): Int =
    (outcome(got), outcome(want)) match {
      case (Right(g), Right(w)) =>
        val diff = g.zip(w).indexWhere { case (a, b) => a != b }
        if (diff >= 0) fail(s"row $diff: got ${g(diff)} want ${w(diff)}")
        assert(g.size === w.size)
        g.size
      case (Left(_), Left(_)) => -1
      case (g, w) => fail(s"got $g, want $w")
    }

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private val Modes = Seq("PERMISSIVE", "DROPMALFORMED", "FAILFAST")

  for (zone <- Seq("UTC", "America/New_York"))
    test(s"reader: seeded frames over every atomic type read as Spark's csv reader reads them, $zone") {
      withSessionZone(zone) {
        val t = tmp()
        val df = frame(seed = 30, n = 3000).drop("raw") // CSV does not read binary
        Convert.toCsvDir(df, s"$t/csv")
        val counts = Modes.map { mode =>
          val opts = ReadOptions + ("mode" -> mode)
          assertSameRead(byteRead(df.schema, s"$t/csv", opts),
            sparkRead(df.schema, s"$t/csv", opts))
        }
        // line mode shears the records whose strings hold line breaks
        assert(counts.head > 3000 && counts(1) > 1000 && counts(2) === -1)
      }
    }

  private def u(s: String): Array[Byte] = s.getBytes("UTF-8")
  private def hexBytes(h: String): Array[Byte] =
    h.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  /** The hand-written files' columns, and per column the cells Spark
    * parses (`good`: byte-path forms, converter forms, nulls, quoted and
    * escaped text) and cells it rejects (`bad`). */
  private val lineSchema = StructType(Seq(
    StructField("s", StringType), StructField("i", IntegerType),
    StructField("l", LongType), StructField("d", DoubleType),
    StructField("ts", TimestampType), StructField("ntz", TimestampNTZType),
    StructField("sh", ShortType), StructField("by", ByteType),
    StructField("b", BooleanType), StructField("dec", DecimalType(10, 2)),
    StructField("dt", DateType), StructField("f", FloatType)))

  private val timestampCells = (
    Seq("2020-01-01 00:00:00.000000", "2020-02-29 23:59:59.999999",
      "2000-02-29 12:00:00.000001", "0004-02-29 01:02:03.040506",
      "0001-01-01 00:00:00.000000", "9999-12-31 23:59:59.999999",
      "1969-12-31 23:59:59.999999", "1582-10-10 00:00:00.000000",
      "2023-03-12 02:30:00.000000", "2023-11-05 01:30:00.000000",
      "2020-01-01 00:00:00.5", "2020-01-01 00:00:00", "", "\\N"),
    Seq("2021-02-29 00:00:00.000000", "1900-02-29 00:00:00.000000",
      "2021-04-31 00:00:00.000000", "2021-13-01 00:00:00.000000",
      "2021-00-10 00:00:00.000000", "2021-01-00 00:00:00.000000",
      "2021-01-01 24:00:00.000000", "2021-01-01 23:60:00.000000",
      "2021-01-01 23:59:60.000000", "0000-01-01 00:00:00.000000",
      "2020-01-01T00:00:00.000000", "2020-1-01 00:00:00.000000", "x"))

  private val lineCells: Seq[(Seq[Array[Byte]], Seq[Array[Byte]])] = Seq(
    (Seq("abc", "", "\\N", "\"a,b\"", "\"\"", "\"x\\\"y\"", " sp ", "ünï中😀",
      "#c", "NaN", "x\\y", "'q'", "a b").map(u) ++
      Seq("ff", "c328", "eda080", "c0af", "f4908080", "61e282", "efbbbf61", "6101",
        "7f").map(hexBytes), Nil),
    (Seq("0", "-0", "7", "007", "+5", "-2147483648", "2147483647", "123456789",
      "1234567890", "٣", "", "\\N", "\"12\"").map(u),
      Seq("2147483648", " 1", "1 ", "1.0", "x", "-", "--1").map(u)),
    (Seq("0", "-1", "123456789012345678", "1234567890123456789",
      "9223372036854775807", "-9223372036854775808", "+3", "").map(u),
      Seq("9223372036854775808", "1e3", "1L").map(u)),
    (Seq("0", "-0", "0.0", "-0.0", "1.5", ".5", "5.", "-.5", "1e3", "1E-3",
      "NaN", "Inf", "-Inf", "Infinity", "0.1", "123.456", "9007199254740992",
      "9007199254740993", "0.30000000000000004", "1.7976931348623157E308",
      "4.9e-324", "12345678901234567890.5", "0.0000000000000000000001",
      "0.00000000000000000000001", " 1.5", "1.5d", "0x1p3", "00000000000000000000000001.5",
      "", "\\N").map(u),
      Seq(".", "-", "1_0", "1..2", "١").map(u)),
    (timestampCells._1.map(u), timestampCells._2.map(u)),
    (timestampCells._1.map(u), timestampCells._2.map(u)),
    (Seq("0", "-32768", "32767", "+1", "").map(u), Seq("32768", "-32769").map(u)),
    (Seq("0", "-128", "127", "").map(u), Seq("128", "-129").map(u)),
    (Seq("true", "false", "TRUE", "").map(u), Seq("yes", "1").map(u)),
    (Seq("1.25", "-0.5", "12345678.99", "1e2", "").map(u), Seq("123456789.99", "x").map(u)),
    (Seq("2020-02-29", "0001-01-01", "").map(u), Seq("2021-02-29", "2020-13-01").map(u)),
    (Seq("1.5", "0.1", "NaN", "-Inf", "3.4028235E38", "").map(u), Seq("x").map(u)))

  /** Whole lines outside any column's cells: blank ones, control and
    * malformed bytes, a byte-order mark, short and long lines. */
  private val oddLines: Seq[Array[Byte]] = Seq(u(""), u("   "), u("\t"), hexBytes("01"),
    hexBytes("ff"), u(","), u(",,,,,,,,,,,"), u("a,1"), u("a,1,2,3,4,5,6,7,8,9,10,11,12"),
    hexBytes("efbbbf") ++ u("bom,1,2,3.5,,,,,,,,"), u("#hash,1,,,,,,,,,,"),
    u("\"multi"), u("line\",1,,,,,,,,,,"))

  /** `n` seeded lines after a header: about half clean (every cell from
    * `good`), the rest mixing in `bad` cells and [[oddLines]]; some end in
    * CRLF. */
  private def handFile(seed: Long, n: Int, gzip: Boolean = false): Array[Byte] = {
    val rng = new Random(seed)
    val out = new java.io.ByteArrayOutputStream()
    out.write(u(lineSchema.fieldNames.mkString(",") + "\n"))
    for (_ <- 0 until n) {
      val clean = rng.nextBoolean()
      val line =
        if (!clean && rng.nextInt(8) == 0) oddLines(rng.nextInt(oddLines.size))
        else lineCells.map { case (good, bad) =>
          val pool = if (clean || bad.isEmpty || rng.nextInt(4) != 0) good else bad
          pool(rng.nextInt(pool.size))
        }.reduce(_ ++ u(",") ++ _)
      out.write(line)
      out.write(u(if (rng.nextInt(10) == 0) "\r\n" else "\n"))
    }
    if (!gzip) out.toByteArray
    else {
      val z = new java.io.ByteArrayOutputStream()
      Using.resource(new java.util.zip.GZIPOutputStream(z))(_.write(out.toByteArray))
      z.toByteArray
    }
  }

  private def writeHand(dir: String, name: String, bytes: Array[Byte]): String = {
    Files.createDirectories(Paths.get(dir))
    Files.write(Paths.get(dir, name), bytes)
    dir
  }

  for (zone <- Seq("UTC", "America/New_York"))
    test(s"reader: hand-written lines (quotes, escapes, nulls, bad UTF-8, blank, short, long) in every mode, $zone") {
      withSessionZone(zone) {
        val dir = writeHand(tmp(), "lines.csv", handFile(seed = 31, n = 4000))
        val counts = Modes.map { mode =>
          val opts = ReadOptions + ("mode" -> mode)
          assertSameRead(byteRead(lineSchema, dir, opts), sparkRead(lineSchema, dir, opts))
        }
        assert(counts(0) > 3000 && counts(1) > 1000 && counts(1) < counts(0))
        assert(counts(2) === -1, "FAILFAST should fail on the malformed lines")
        // without `nullValue` (Spark's default, "") and with other tokens
        for (extra <- Seq(Map.empty[String, String], Map("nullValue" -> "NaN", "nanValue" -> "1.5",
          "positiveInf" -> "+5", "emptyValue" -> "E", "header" -> "false"))) {
          val opts = ReadOptions - "nullValue" ++ extra
          assertSameRead(byteRead(lineSchema, dir, opts), sparkRead(lineSchema, dir, opts))
        }
      }
    }

  test("reader: a lone column skips blank and space-only lines as Spark does") {
    val lone = StructType(Seq(StructField("s", StringType)))
    val lines = Seq("s", "", "   ", "a", " b ", "\\N", "\"\"", "x,y", "\t", ",", "", "z")
    val dir = writeHand(tmp(), "lone.csv", u(lines.mkString("\n")))
    for (mode <- Modes) {
      val opts = ReadOptions + ("mode" -> mode)
      assertSameRead(byteRead(lone, dir, opts), sparkRead(lone, dir, opts))
    }
    assert(byteRead(lone, dir).count() === 7) // the blank lines are gone
  }

  test("reader: pruned columns, pushed filters, count, and column pruning off") {
    val dir = writeHand(tmp(), "lines.csv", handFile(seed = 32, n = 3000))
    def q(df: DataFrame) = df.select("ntz", "s", "d", "by")
      .filter(col("d") > 0.5 || col("s").isNull)
    for (pruning <- Seq("true", "false"))
      withConf("spark.sql.csv.parser.columnPruning.enabled" -> pruning) {
        for (mode <- Modes) {
          val opts = ReadOptions + ("mode" -> mode)
          assertSameRead(q(byteRead(lineSchema, dir, opts)), q(sparkRead(lineSchema, dir, opts)))
          assertSameRead(byteRead(lineSchema, dir, opts).select("l"),
            sparkRead(lineSchema, dir, opts).select("l"))
          if (mode != "FAILFAST")
            assert(byteRead(lineSchema, dir, opts).count() ===
              sparkRead(lineSchema, dir, opts).count())
        }
      }
  }

  test("reader: split boundaries inside a file, and a gzip file") {
    val t = tmp()
    val plain = writeHand(s"$t/plain", "lines.csv", handFile(seed = 33, n = 20000))
    withConf("spark.sql.files.maxPartitionBytes" -> "65536",
        "spark.sql.files.openCostInBytes" -> "0") {
      assert(byteRead(lineSchema, plain).rdd.getNumPartitions > 10)
      for (mode <- Modes.take(2)) {
        val opts = ReadOptions + ("mode" -> mode)
        val rows = assertSameRead(byteRead(lineSchema, plain, opts),
          sparkRead(lineSchema, plain, opts))
        assert(rows > 5000)
      }
    }
    val gz = writeHand(s"$t/gz", "lines.csv.gz", handFile(seed = 34, n = 5000, gzip = true))
    assert(assertSameRead(byteRead(lineSchema, gz), sparkRead(lineSchema, gz)) > 4000)
  }

  test("reader: the byte path takes every line of a lineitem-shaped file") {
    import org.apache.spark.paths.SparkPath
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.csv.CSVOptions
    import org.apache.spark.sql.execution.datasources.PartitionedFile
    val t = tmp()
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    Convert.toCsvDir(li, s"$t/csv")
    val opts = new CSVOptions(ReadOptions, true, "UTC")
    val files = Using.resource(Files.list(Paths.get(s"$t/csv")))(_.iterator().asScala.toList)
      .filter(_.getFileName.toString.endsWith(".csv"))
    var rows = 0L
    var declined = 0L
    for (f <- files) {
      val part = PartitionedFile(InternalRow.empty, SparkPath.fromPathString(f.toString),
        0, Files.size(f))
      val reader = new graft.plans.CsvBytesReader(part, spark.sessionState.newHadoopConf(),
        li.schema, li.schema, Nil, opts, fastTimestamps = true)
      rows += reader.size
      declined += reader.declinedLines
    }
    assert(rows === li.count())
    assert(declined === 0L)
    assert(assertSameRead(byteRead(li.schema, s"$t/csv"), sparkRead(li.schema, s"$t/csv")) === rows)
  }

  test("Scan.csvWithSchema reads line mode through CsvBytes and multiLine through Spark's csv") {
    val dir = writeHand(tmp(), "lines.csv", handFile(seed = 35, n = 200))
    def scan(multiLine: Boolean) = graft.sources.Scan.csvWithSchema(spark, lineSchema, dir,
      multiLine = multiLine).queryExecution.executedPlan.toString
    assert(scan(false).contains("Format: CsvBytes"), scan(false))
    assert(scan(true).contains("Format: CSV"), scan(true))
  }

  // ---- the reader's conversions -----------------------------------------

  private def parseDouble(s: String): Double = {
    val b = u(s)
    graft.plans.CsvBytesReader.parseDouble(b, 0, b.length)
  }

  /** The decimal `m / 10^k` written with `k` fraction digits. */
  private def decimalString(m: BigInt, k: Int, neg: Boolean): String = {
    val digits = m.toString.reverse.padTo(k + 1, '0').reverse
    val whole = digits.dropRight(k)
    (if (neg) "-" else "") + (if (k == 0) whole else whole + "." + digits.takeRight(k))
  }

  private def assertDoubleRule(s: String, m: BigInt, k: Int): Unit = {
    val got = parseDouble(s)
    if (m <= BigInt(1L << 53) && k <= 22) {
      assert(!got.isNaN, s"$s declined")
      assert(java.lang.Double.doubleToRawLongBits(got) ===
        java.lang.Double.doubleToRawLongBits(java.lang.Double.parseDouble(s)), s)
    } else assert(got.isNaN, s"$s taken")
  }

  test("reader: the double rule equals Double.parseDouble on every m/10^k sample") {
    val two53 = BigInt(1L << 53)
    val ms = (BigInt(0) to BigInt(20000)) ++ (two53 - 2000 to two53 + 2000) ++
      (0 until 20000).map(i => BigInt(53, new Random(40 + i)))
    for (k <- 0 to 24; m <- ms)
      assertDoubleRule(decimalString(m, k, neg = m % 3 == 0), m, k)
    assert(parseDouble("5.") === 5.0 && parseDouble(".5") === 0.5)
    assert(java.lang.Double.doubleToRawLongBits(parseDouble("-0")) ===
      java.lang.Double.doubleToRawLongBits(-0.0))
    for (declined <- Seq("", "-", ".", "-.", "1.2.3", "1e3", "+1", " 1", "NaN", "0x10", "1d"))
      assert(parseDouble(declined).isNaN, declined)
  }

  test("reader: the double rule on seeded random decimals") {
    val rng = new Random(41)
    var taken = 0
    for (_ <- 1 to 1000000) {
      val n = 1 + rng.nextInt(25)
      val digits = Seq.fill(n)(('0' + rng.nextInt(10)).toChar).mkString
      val k = rng.nextInt(n + 1)
      val s = (if (rng.nextBoolean()) "-" else "") + digits.dropRight(k) +
        (if (k > 0 || rng.nextBoolean()) "." else "") + digits.takeRight(k)
      assertDoubleRule(s, BigInt(digits), k)
      if (!parseDouble(s).isNaN) taken += 1
    }
    assert(taken > 250000)
  }

  test("reader: timestamps on every day of years 1..9999, leap days and invalid dates") {
    import java.time.{LocalDateTime, ZoneOffset}
    import java.time.format.{DateTimeFormatter, ResolverStyle}
    val strict = DateTimeFormatter.ofPattern("uuuu-MM-dd HH:mm:ss.SSSSSS")
      .withResolverStyle(ResolverStyle.STRICT)
    val rng = new Random(42)
    def check(s: String): Boolean = {
      val b = u(s)
      val got = graft.plans.CsvBytesReader.parseLocalMicros(b, 0, b.length)
      val want = scala.util.Try(LocalDateTime.parse(s, strict)).toOption
      want match {
        case Some(t) =>
          val micros = t.toEpochSecond(ZoneOffset.UTC) * 1000000L + t.getNano / 1000
          assert(got === micros, s)
          true
        case None =>
          assert(got === graft.plans.CsvBytesReader.NoLong, s)
          false
      }
    }
    // every (y, m, d) with d <= 31 at a random time, against LocalDate.of
    def two(v: Int) = if (v < 10) "0" + v else v.toString
    var valid = 0
    for (y <- 1 to 9999; m <- 1 to 12; d <- 1 to 31) {
      val (h, mi, sec) = (rng.nextInt(24), rng.nextInt(60), rng.nextInt(60))
      val us = rng.nextInt(1000000)
      val s = s"${"%04d".format(y)}-${two(m)}-${two(d)} ${two(h)}:${two(mi)}:${two(sec)}." +
        (us + 1000000).toString.substring(1)
      val b = u(s)
      val got = graft.plans.CsvBytesReader.parseLocalMicros(b, 0, b.length)
      scala.util.Try(java.time.LocalDate.of(y, m, d)).toOption match {
        case Some(date) =>
          valid += 1
          val want = ((date.toEpochDay * 24 + h) * 3600 + mi * 60 + sec) * 1000000L + us
          if (got != want) fail(s"$s: got $got want $want")
        case None => if (got != graft.plans.CsvBytesReader.NoLong) fail(s"$s taken")
      }
    }
    assert(valid === 3652059) // the days of years 1..9999
    for (s <- Seq("2000-02-29", "2024-02-29", "0004-02-29", "0400-02-29"))
      assert(check(s + " 00:00:00.000000"), s)
    for (s <- Seq("1900-02-29", "2100-02-29", "2021-02-29", "0100-02-29", "2021-02-30",
                  "2021-04-31", "2021-13-01", "2021-00-01", "2021-01-00"))
      assert(!check(s + " 00:00:00.000000"), s)
    // year 0 is valid but outside the byte path: Spark's converter takes it
    val year0 = u("0000-01-01 00:00:00.000000")
    assert(graft.plans.CsvBytesReader.parseLocalMicros(year0, 0, year0.length) ===
      graft.plans.CsvBytesReader.NoLong)
    for (t <- Seq("24:00:00.000000", "23:60:00.000000", "23:59:60.000000", "1:00:00.0000000",
                  "00:00:00.00000", "00:00:00.000000 ", "0a:00:00.000000"))
      assert(!check("2020-01-01 " + t), t)
  }

  // ---- read options the reader does not implement fail loudly -----------

  private val rejectedInRead = Seq(
    "sep" -> ";", "quote" -> "'", "escape" -> "/", "comment" -> "%",
    "lineSep" -> "\r\n", "encoding" -> "UTF-16", "ignoreLeadingWhiteSpace" -> "true",
    "ignoreTrailingWhiteSpace" -> "true", "multiLine" -> "true",
    "singleVariantColumn" -> "v", "maxCharsPerColumn" -> "100", "maxColumns" -> "12")

  for ((key, value) <- rejectedInRead)
    test(s"reader rejects $key=${value.replace("\r\n", "CRLF")}") {
      val dir = writeHand(tmp(), "lines.csv", handFile(seed = 36, n = 20))
      val e = intercept[IllegalArgumentException] {
        // a single variant column takes no user schema
        if (key == "singleVariantColumn")
          spark.read.options(ReadOptions + (key -> value))
            .format(classOf[CsvBytesFormat].getName).load(dir).collect()
        else byteRead(lineSchema, dir, ReadOptions + (key -> value)).collect()
      }
      assert(e.getMessage.contains("CsvBytesFormat does not implement the CSV read option"))
      assert(e.getMessage.contains(key))
    }
}
