package graft.plans

import java.io.StringWriter
import java.nio.charset.StandardCharsets.UTF_8

import scala.annotation.switch

import com.univocity.parsers.csv.CsvWriter
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, TaskAttemptContext}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.csv.CSVOptions
import org.apache.spark.sql.catalyst.expressions.ToStringBase
import org.apache.spark.sql.catalyst.util.{DateFormatter, DateTimeUtils, IntervalStringStyles, IntervalUtils, LegacyDateFormats, TimestampFormatter}
import org.apache.spark.sql.execution.datasources.{CodecStreams, OutputWriter, OutputWriterFactory, PartitionedFile}
import org.apache.spark.sql.execution.datasources.csv.CSVFileFormat
import org.apache.spark.sql.internal.{LegacyBehaviorPolicy, SQLConf}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** The parquet→CSV sink's writer and the reverse conversion's line-mode
  * reader: Spark's CSV file format with a row encoder that writes each
  * `InternalRow` straight into a reused byte buffer over the task's
  * (possibly compressed) output stream, and a reader that parses each
  * line's bytes straight into a row ([[CsvBytesReader]]; its rows equal
  * Spark's `csv` reader's, and it rejects read options outside the
  * dialect, see [[CsvBytesFormat.requireReadable]]).
  *
  * Why: Spark's own CSV writer hands every field to univocity as a Java
  * `String` and re-encodes it through an `OutputStreamWriter`
  * (`UTF8String` → `String` → chars → bytes); on the 600 k-row perfbench
  * replica that encode path, not value formatting, was most of
  * `convert.csv_encode_write_s`. Here ints and longs render as digits,
  * strings copy their UTF-8 bytes with one scan for quote triggers,
  * timestamps in the pinned pattern go through
  * [[FastTimestampFormat.render]], and floats through `Float.toString`.
  * Doubles take [[CsvBytesFormat.putFixedDouble]], which writes the
  * digits of a short fixed-notation value straight into the buffer: it
  * applies when `1e-3 <= |v| < 1e7` and some `k <= 6` gives
  * `m = round(|v| * 10^k)` with `m / 10^k == |v|`, and writes the sign,
  * `m / 10^k`, `.` and the fraction digits for the smallest such `k`.
  * That is `Double.toString`'s fixed notation: with `k <= 6` the value has
  * at most 13 significant digits, so the round-tripping decimal is unique.
  * Every other double (0, NaN, infinities, subnormals, the scientific
  * range, longer fractions) keeps `Double.toString`.
  * Every other type takes the converter rule of Spark's
  * `UnivocityGenerator` (date, timestamp and interval formatters, the
  * binary formatter, `toString`).
  *
  * Contract: the bytes equal those of Spark's `csv` source writing the
  * same frame with the same options after `graft_csv_ts` has rendered its
  * timestamps (CsvBytesSpec checks it differentially). Timestamps in
  * [[FastTimestampFormat.Pattern]] render as that formatter does, so years
  * outside [1, 9999] come out as year-of-era; under any other
  * `timestampFormat` they take Spark's formatter. The header line and the
  * null and empty-string cells are rendered once per file by univocity
  * itself. The encoder implements one CSV dialect — Spark's write
  * defaults with leading/trailing white space kept — and `prepareWrite`
  * rejects any option that would change the bytes outside it (see
  * [[CsvBytesFormat.requireImplemented]]) instead of writing something
  * else. Commit, `maxRecordsPerFile`, `partitionBy`, compression and the
  * file extension stay Spark's (`FileFormatWriter` and the parent's
  * `prepareWrite`).
  *
  * Use: `df.write.format(classOf[CsvBytesFormat].getName)`, and
  * `spark.read.schema(s).format(classOf[CsvBytesFormat].getName).load(p)`
  * ([[graft.sources.Scan.csvWithSchema]]). */
class CsvBytesFormat extends CSVFileFormat {

  override def toString: String = "CsvBytes"

  override def prepareWrite(sparkSession: SparkSession, job: Job,
                            options: Map[String, String],
                            dataSchema: StructType): OutputWriterFactory = {
    // schema validation and the compression codec's job configuration
    val parent = super.prepareWrite(sparkSession, job, options, dataSchema)
    val conf = SQLConf.get
    val csv = new CSVOptions(options, conf.csvColumnPruning,
      conf.sessionLocalTimeZone, conf.columnNameOfCorruptRecord)
    CsvBytesFormat.requireImplemented(csv)
    new OutputWriterFactory {
      override def newInstance(path: String, dataSchema: StructType,
                               context: TaskAttemptContext): OutputWriter =
        new CsvBytesWriter(path, dataSchema, context, csv)

      override def getFileExtension(context: TaskAttemptContext): String =
        parent.getFileExtension(context)
    }
  }

  /** Line-mode reads parse each line's bytes in [[CsvBytesReader]], which
    * hands Spark's own parser every line and field it does not take.
    * Spark's reader stays whole for a data schema holding the
    * corrupt-record column and under `enforceSchema=false` (whose header
    * check compares only the required columns). Options outside the
    * dialect fail (see [[CsvBytesFormat.requireReadable]]). */
  override def buildReader(sparkSession: SparkSession, dataSchema: StructType,
                           partitionSchema: StructType, requiredSchema: StructType,
                           filters: Seq[Filter], options: Map[String, String],
                           hadoopConf: Configuration): PartitionedFile => Iterator[InternalRow] = {
    val conf = sparkSession.sessionState.conf
    val csv = new CSVOptions(options, conf.csvColumnPruning,
      conf.sessionLocalTimeZone, conf.columnNameOfCorruptRecord)
    CsvBytesFormat.requireReadable(csv, dataSchema)
    if (dataSchema.exists(_.name == csv.columnNameOfCorruptRecord) || !csv.enforceSchema)
      super.buildReader(sparkSession, dataSchema, partitionSchema, requiredSchema,
        filters, options, hadoopConf)
    else {
      val hadoop = sparkSession.sparkContext.broadcast(new CsvBytesReader.HadoopConf(hadoopConf))
      // the LEGACY policy parses timestamps with SimpleDateFormat semantics
      val fastTimestamps = conf.legacyTimeParserPolicy != LegacyBehaviorPolicy.LEGACY
      file => new CsvBytesReader(file, hadoop.value.value, dataSchema, requiredSchema,
        filters, csv, fastTimestamps)
    }
  }
}

object CsvBytesFormat {

  /** Fails unless `csv` writes the one dialect [[CsvBytesWriter]]
    * encodes: `,` separator, `"` quote, `\` escape (and escape of the
    * escape), quotes escaped, no quote-all, no comment character, `\n`
    * line ends, UTF-8, white space kept. Checked on the effective
    * univocity settings, so an option set to its default value passes.
    * `header`, `nullValue`, `emptyValue`, the date/timestamp formats,
    * `locale`, `timeZone`, `compression` and `maxRecordsPerFile` are all
    * honored. */
  def requireImplemented(csv: CSVOptions): Unit = {
    val s = csv.asWriterSettings
    val f = s.getFormat
    def need(ok: Boolean, option: String): Unit =
      if (!ok) throw new IllegalArgumentException(
        s"CsvBytesFormat does not implement the CSV option $option; " +
          "write with Spark's csv source instead")
    need(f.getDelimiterString == ",", "sep")
    need(f.getQuote == '"', "quote")
    need(f.getQuoteEscape == '\\', "escape")
    need(f.getCharToEscapeQuoteEscaping == '\\', "charToEscapeQuoteEscaping")
    need(!s.getQuoteAllFields, "quoteAll")
    need(s.isQuoteEscapingEnabled, "escapeQuotes=false")
    need(f.getComment == '#', "comment")
    need(f.getLineSeparatorString == "\n", "lineSep")
    need(java.nio.charset.Charset.forName(csv.charset) == UTF_8, "encoding")
    need(!s.getIgnoreLeadingWhitespaces, "ignoreLeadingWhiteSpace=true")
    need(!s.getIgnoreTrailingWhitespaces, "ignoreTrailingWhiteSpace=true")
  }

  /** Fails unless `csv` reads in line mode the dialect [[CsvBytesReader]]
    * tokenizes: `,` separator, `"` quote, `\` escape, no comment
    * character, lines split at `\n`, `\r` or `\r\n` (or `lineSep` `\n`),
    * UTF-8, white space kept, no single variant column, no per-field
    * length cap, and fewer data columns than `maxColumns`. `header`,
    * `enforceSchema`, `mode`, `nullValue`, `emptyValue`, the NaN and
    * infinity tokens, the date/timestamp formats, `locale`, `timeZone`
    * and the compression codec are all honored. */
  def requireReadable(csv: CSVOptions, dataSchema: StructType): Unit = {
    def need(ok: Boolean, option: String): Unit =
      if (!ok) throw new IllegalArgumentException(
        s"CsvBytesFormat does not implement the CSV read option $option; " +
          "read with Spark's csv source instead")
    need(csv.delimiter == ",", "sep")
    need(csv.quote == '"', "quote")
    need(csv.escape == '\\', "escape")
    need(!csv.isCommentSet, "comment")
    need(csv.lineSeparator.forall(_ == "\n"), "lineSep")
    need(java.nio.charset.Charset.forName(csv.charset) == UTF_8, "encoding")
    need(!csv.ignoreLeadingWhiteSpaceInRead, "ignoreLeadingWhiteSpace=true")
    need(!csv.ignoreTrailingWhiteSpaceInRead, "ignoreTrailingWhiteSpace=true")
    need(!csv.multiLine, "multiLine=true")
    need(csv.singleVariantColumn.isEmpty, "singleVariantColumn")
    need(csv.maxCharsPerColumn == -1, "maxCharsPerColumn")
    need(dataSchema.length < csv.maxColumns, "maxColumns")
  }

  // column encodings, dispatched by a switch in the row loop
  private[plans] final val Str = 0
  private[plans] final val Int32 = 1
  private[plans] final val Int64 = 2
  private[plans] final val Float64 = 3
  private[plans] final val Float32 = 4
  private[plans] final val Ts = 5
  private[plans] final val TsNtz = 6
  private[plans] final val Bool = 7
  private[plans] final val Int16 = 8
  private[plans] final val Int8 = 9
  private[plans] final val Other = 10

  /** The longest [[putFixedDouble]] rendering: sign, 7 integer digits,
    * `.`, 6 fraction digits. */
  private[plans] final val FixedDoubleWidth = 15

  private val Pow10 = Array(1e0, 1e1, 1e2, 1e3, 1e4, 1e5, 1e6)
  private val LongPow10 = Array(1L, 10L, 100L, 1000L, 10000L, 100000L, 1000000L)

  /** Writes `java.lang.Double.toString(v)` into `out` at `at` when `v` is
    * in the fast path's range (see the class doc) and returns the end
    * offset; returns -1, writing nothing, for every other value. `out`
    * must have [[FixedDoubleWidth]] bytes free at `at`. */
  private[graft] def putFixedDouble(v: Double, out: Array[Byte], at: Int): Int = {
    val a = Math.abs(v)
    if (!(a >= 1e-3 && a < 1e7)) return -1
    var k = 0
    var m = 0L
    while ({ m = Math.round(a * Pow10(k)); m / Pow10(k) != a }) {
      k += 1
      if (k > 6) return -1
    }
    var p = at
    if (v < 0) { out(p) = '-'; p += 1 }
    val whole = m / LongPow10(k)
    var frac = m - whole * LongPow10(k)
    // integer digits, then the fraction's k digits: k is the smallest that
    // round-trips, so for k > 0 the last fraction digit is not 0
    var digits = 1
    var t = whole / 10
    while (t > 0) { digits += 1; t /= 10 }
    var q = p + digits - 1
    t = whole
    while (q >= p) { out(q) = ('0' + t % 10).toByte; t /= 10; q -= 1 }
    p += digits
    out(p) = '.'
    p += 1
    if (k == 0) { out(p) = '0'; return p + 1 }
    q = p + k - 1
    while (q >= p) { out(q) = ('0' + frac % 10).toByte; frac /= 10; q -= 1 }
    p + k
  }

  /** Byte classes for the field scan: 1 = quote trigger (`,` `"` CR LF),
    * 2 = escaped inside quotes (`"` `\`), 4 = non-ASCII. */
  private[plans] val ByteClass: Array[Byte] = Array.tabulate[Byte](256) { b =>
    val c = b.toChar
    if (c == '"') 3
    else if (c == ',' || c == '\n' || c == '\r') 1
    else if (c == '\\') 2
    else if (b >= 0x80) 4
    else 0
  }
}

/** One part file. The header, the null cell and the empty-string cell are
  * probed from univocity with this file's options; every other field is
  * encoded here under the dialect [[CsvBytesFormat.requireImplemented]]
  * enforces, which univocity's `CsvWriter` renders as: a field is quoted
  * when it holds `,` `"` CR or LF, or — first column only — starts with
  * the comment character `#`; inside quotes `"` and `\` are escaped with
  * `\`; any other field is written as is; a line that renders empty (a
  * lone column's null) is skipped. */
private[plans] final class CsvBytesWriter(val path: String, schema: StructType,
                                          context: TaskAttemptContext,
                                          csv: CSVOptions) extends OutputWriter {
  import CsvBytesFormat._

  private val out = CodecStreams.createOutputStream(context, new Path(path))
  private var buf = new Array[Byte](1 << 16)
  private var pos = 0
  private val FlushAt = 1 << 15

  private val types = schema.fields.map(_.dataType)
  private val kinds: Array[Int] = types.map(kindOf)
  private val zone = csv.zoneId

  private lazy val dateFormatter = DateFormatter(csv.dateFormatInWrite,
    csv.locale, LegacyDateFormats.FAST_DATE_FORMAT, isParsing = false)
  private lazy val timestampFormatter = TimestampFormatter(
    csv.timestampFormatInWrite, zone, csv.locale,
    LegacyDateFormats.FAST_DATE_FORMAT, isParsing = false)
  private lazy val ntzFormatter = TimestampFormatter(
    csv.timestampNTZFormatInWrite, zone, LegacyDateFormats.FAST_DATE_FORMAT,
    isParsing = false, forTimestampNTZ = true)
  private lazy val binaryFormatter = ToStringBase.getBinaryFormatter

  private val converters: Array[(InternalRow, Int) => String] =
    types.zip(kinds).map { case (t, k) => if (k == Other) converter(t) else null }

  // univocity's rendering of a null and an empty-string cell, in the first
  // column and in any later one (the comment rule looks at column 0 only)
  private val (null0, null1, empty0, empty1) = {
    val nullCell: AnyRef =
      if (SQLConf.get.getConf(SQLConf.LEGACY_NULL_VALUE_WRITTEN_AS_QUOTED_EMPTY_STRING_CSV))
        csv.nullValue
      else null
    def first(cell: AnyRef) = univocity(_.writeRow(cell, "x")).stripSuffix(",x\n")
    def later(cell: AnyRef) =
      univocity(_.writeRow("x", cell)).stripPrefix("x,").stripSuffix("\n")
    (first(nullCell).getBytes(UTF_8), later(nullCell).getBytes(UTF_8),
      first("").getBytes(UTF_8), later("").getBytes(UTF_8))
  }

  if (csv.headerFlag) {
    val header = univocity(_.writeHeaders(), schema.fieldNames).getBytes(UTF_8)
    ensure(header.length)
    System.arraycopy(header, 0, buf, 0, header.length)
    pos = header.length
  }

  /** What univocity, set up as Spark's writer sets it up, writes for `body`. */
  private def univocity(body: CsvWriter => Unit,
                        headers: Array[String] = Array.empty): String = {
    val sw = new StringWriter()
    val settings = csv.asWriterSettings
    if (headers.nonEmpty) settings.setHeaders(headers: _*)
    val w = new CsvWriter(sw, settings)
    body(w)
    w.close()
    sw.toString
  }

  private def kindOf(t: DataType): Int = t match {
    case _: StringType => Str
    case IntegerType => Int32
    case ShortType => Int16
    case ByteType => Int8
    case LongType => Int64
    case DoubleType => Float64
    case FloatType => Float32
    case BooleanType => Bool
    case TimestampType if csv.timestampFormatInWrite == FastTimestampFormat.Pattern => Ts
    case TimestampNTZType if csv.timestampNTZFormatInWrite == FastTimestampFormat.Pattern => TsNtz
    case udt: UserDefinedType[_] => kindOf(udt.sqlType)
    case _ => Other
  }

  /** `UnivocityGenerator`'s converter for the types without a byte path. */
  private def converter(t: DataType): (InternalRow, Int) => String = t match {
    case DateType => (r, i) => dateFormatter.format(r.getInt(i))
    case TimestampType => (r, i) => timestampFormatter.format(r.getLong(i))
    case TimestampNTZType => (r, i) =>
      ntzFormatter.format(DateTimeUtils.microsToLocalDateTime(r.getLong(i)))
    case BinaryType => (r, i) => binaryFormatter(r.getBinary(i)).toString
    case YearMonthIntervalType(start, end) => (r, i) =>
      IntervalUtils.toYearMonthIntervalString(r.getInt(i),
        IntervalStringStyles.ANSI_STYLE, start, end)
    case DayTimeIntervalType(start, end) => (r, i) =>
      IntervalUtils.toDayTimeIntervalString(r.getLong(i),
        IntervalStringStyles.ANSI_STYLE, start, end)
    case udt: UserDefinedType[_] => converter(udt.sqlType)
    case other => (r, i) => r.get(i, other).toString
  }

  override def write(row: InternalRow): Unit = {
    val start = pos
    var i = 0
    while (i < kinds.length) {
      if (i > 0) putByte(',')
      if (row.isNullAt(i)) putBytes(if (i == 0) null0 else null1)
      else (kinds(i): @switch) match {
        case Str => putUtf8(row.getUTF8String(i), i)
        case Int32 => putLong(row.getInt(i))
        case Int64 => putLong(row.getLong(i))
        case Int16 => putLong(row.getShort(i))
        case Int8 => putLong(row.getByte(i))
        case Float64 => putDouble(row.getDouble(i))
        case Float32 => putAscii(java.lang.Float.toString(row.getFloat(i)))
        case Ts => putTimestamp(row.getLong(i), zone, i)
        case TsNtz => putTimestamp(row.getLong(i), java.time.ZoneOffset.UTC, i)
        case Bool => putAscii(if (row.getBoolean(i)) "true" else "false")
        case _ => putString(converters(i)(row, i), i)
      }
      i += 1
    }
    if (pos > start) putByte('\n')
    if (pos >= FlushAt) flush()
  }

  override def close(): Unit = {
    flush()
    out.close()
  }

  private def flush(): Unit = {
    out.write(buf, 0, pos)
    pos = 0
  }

  private def ensure(n: Int): Unit =
    if (pos + n > buf.length)
      buf = java.util.Arrays.copyOf(buf, math.max(buf.length * 2, pos + n))

  private def putByte(b: Char): Unit = {
    ensure(1)
    buf(pos) = b.toByte
    pos += 1
  }

  private def putBytes(b: Array[Byte]): Unit = {
    ensure(b.length)
    System.arraycopy(b, 0, buf, pos, b.length)
    pos += b.length
  }

  /** An ASCII rendering that can hold no quote trigger (numbers, booleans). */
  private def putAscii(s: String): Unit = {
    val n = s.length
    ensure(n)
    var i = 0
    while (i < n) {
      buf(pos + i) = s.charAt(i).toByte
      i += 1
    }
    pos += n
  }

  private def putDouble(v: Double): Unit = {
    ensure(FixedDoubleWidth)
    val end = putFixedDouble(v, buf, pos)
    if (end >= 0) pos = end else putAscii(java.lang.Double.toString(v))
  }

  private def putLong(v: Long): Unit = {
    if (v == Long.MinValue) { putAscii("-9223372036854775808"); return }
    ensure(20)
    var x = v
    if (x < 0) {
      buf(pos) = '-'
      pos += 1
      x = -x
    }
    var digits = 1
    var t = x / 10
    while (t > 0) { digits += 1; t /= 10 }
    var p = pos + digits - 1
    while (p >= pos) {
      buf(p) = ('0' + x % 10).toByte
      x /= 10
      p -= 1
    }
    pos += digits
  }

  private def putTimestamp(micros: Long, z: java.time.ZoneId, col: Int): Unit = {
    ensure(FastTimestampFormat.Width)
    if (FastTimestampFormat.render(buf, pos, micros, z)) pos += FastTimestampFormat.Width
    else putString(FastTimestampFormat.fallback(micros, z), col)
  }

  private def putUtf8(s: UTF8String, col: Int): Unit = {
    val start = pos
    val classes = putText(s.getBaseObject, s.getBaseOffset, s.numBytes, col)
    // bytes that are not well-formed UTF-8 are what `toString` decodes
    // with replacement characters: take Spark's writer's route for them
    if ((classes & 4) != 0 && !s.isValid) {
      pos = start
      putString(s.toString, col)
    }
  }

  private def putString(s: String, col: Int): Unit = {
    val b = s.getBytes(UTF_8)
    putText(b, Platform.BYTE_ARRAY_OFFSET, b.length, col)
  }

  /** Copies `n` bytes of field text from `base`+`offset`, then quotes and
    * escapes them in place if the scan finds a trigger. Returns the OR of
    * the bytes' [[CsvBytesFormat.ByteClass]]es. */
  private def putText(base: AnyRef, offset: Long, n: Int, col: Int): Int = {
    if (n == 0) { putBytes(if (col == 0) empty0 else empty1); return 0 }
    ensure(n)
    Platform.copyMemory(base, offset, buf, Platform.BYTE_ARRAY_OFFSET + pos, n)
    val end = pos + n
    var classes = 0
    var escapes = 0
    var i = pos
    while (i < end) {
      val c = ByteClass(buf(i) & 0xff)
      classes |= c
      escapes += (c >> 1) & 1
      i += 1
    }
    if ((classes & 1) != 0 || (col == 0 && buf(pos) == '#')) {
      // shift right to make room for the quotes and escapes, back to front
      ensure(n + escapes + 2)
      var src = end - 1
      var dst = end + escapes + 1
      buf(dst) = '"'
      dst -= 1
      while (src >= pos) {
        val b = buf(src)
        buf(dst) = b
        dst -= 1
        if (b == '"' || b == '\\') { buf(dst) = '\\'; dst -= 1 }
        src -= 1
      }
      buf(dst) = '"'
      pos = end + escapes + 2
    } else pos = end
    classes
  }
}
