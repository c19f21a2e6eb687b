package graft.plans

import java.io.{ObjectInputStream, ObjectOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.time.{LocalDateTime, ZoneOffset, ZonedDateTime}

import scala.annotation.switch
import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration

import org.apache.spark.TaskContext
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.csv.{CSVExprUtils, CSVHeaderChecker, CSVOptions, UnivocityParser}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.FailureSafeParser
import org.apache.spark.sql.execution.datasources.{HadoopFileLinesReader, PartitionedFile}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The rows of one `PartitionedFile` (a whole file or a split of one) in
  * line mode, parsed from each line's bytes.
  *
  * Spark's line reader (`HadoopFileLinesReader`: splits, codecs) yields
  * each line as bytes, and Spark's `CSVHeaderChecker` takes the header at
  * the file's start. A line is taken here when it holds none of `"` `\`
  * or a byte below 0x20, is well-formed UTF-8 without a byte-order mark,
  * is not blank, and splits at `,` into exactly the data schema's field
  * count; the required columns are then converted from the field bytes
  * into one reused row. Under the dialect [[CsvBytesFormat.requireReadable]]
  * enforces, univocity tokenizes such a line into exactly these fields, an
  * empty one becoming the `nullValue` token. Conversions: ints and longs
  * from at most 9 or 18 digits after an optional `-`; doubles of the form
  * `-?digits[.digits]` as `m / 10^k` when the digits make `m <= 2^53` and
  * `k <= 22` (both operands exact, so the one IEEE division is the
  * correctly rounded value `Double.parseDouble` returns: Clinger's fast
  * path); strings as a `UTF8String` over the field bytes; `TIMESTAMP` and
  * `TIMESTAMP_NTZ` in [[FastTimestampFormat.Pattern]] with a valid date
  * and time in years [1, 9999] by calendar arithmetic, a `TIMESTAMP` at
  * the zone's offset exactly as `ZonedDateTime.of` resolves it.
  *
  * Exactness by delegation: a field whose type or value the byte path
  * does not take (dates, decimals, booleans, floats, other timestamp
  * patterns, `+5`, `1e3`, `NaN`, `007.5e1`, ...) goes through Spark's own
  * `UnivocityParser.makeConverter` on that field's string. A line the
  * byte path does not take, or whose delegated conversion throws, goes
  * whole to Spark's own parser, after Spark's blank-line filter, inside
  * Spark's `FailureSafeParser`: so every row, and every error, is Spark's
  * in every parse mode. Pushed filters are not applied to byte-path rows;
  * Spark evaluates them again above the scan.
  *
  * A string field references the line's bytes, which the next line
  * overwrites. That is safe because the file scan turns each row into an
  * `UnsafeRow` copy before it asks for the next one. */
private[graft] final class CsvBytesReader(file: PartitionedFile, hadoopConf: Configuration,
                                          dataSchema: StructType, requiredSchema: StructType,
                                          filters: Seq[Filter], csv: CSVOptions,
                                          fastTimestamps: Boolean)
  extends Iterator[InternalRow] {
  import CsvBytesReader._

  // Spark's parser for this file: the header check and every declined line
  private val parser = new UnivocityParser(dataSchema, requiredSchema, csv, filters)
  private val safeParser = new FailureSafeParser[String](
    line => parser.parse(line), csv.parseMode, requiredSchema, csv.columnNameOfCorruptRecord)

  private val lines = new HadoopFileLinesReader(file, csv.lineSeparatorInRead, hadoopConf)
  Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit](_ => lines.close()))
  // the header: the first line that is not blank, checked against the
  // whole data schema (`enforceSchema` is on, so a mismatch only warns)
  if (csv.headerFlag && file.start == 0)
    CSVExprUtils.extractHeader(lines.map(decode), csv).foreach(
      new CSVHeaderChecker(dataSchema, csv, s"CSV file: ${file.urlEncodedPath}")
        .checkHeaderColumnNames)

  private val width = dataSchema.length
  // each required column's field in the line, as Spark's parser picks it
  private val fieldOf = requiredSchema.fields.map(dataSchema.indexOf(_))
  private val byteLines = width > 0 && !fieldOf.contains(-1)
  private val nullable = requiredSchema.fields.map(_.nullable)
  private val converters = requiredSchema.fields.map(f =>
    parser.makeConverter(f.name, f.dataType, f.nullable))
  private val fastDoubles = Seq(csv.nanValue, csv.positiveInf, csv.negativeInf)
    .forall { s => val b = s.getBytes(UTF_8); parseDouble(b, 0, b.length).isNaN }
  private val kinds = requiredSchema.fields.map(f => kindOf(f.dataType))
  private val zone = csv.zoneId
  private val fixedOffsetMicros: Option[Long] =
    Option.when(zone.getRules.isFixedOffset)(
      zone.getRules.getOffset(java.time.Instant.EPOCH).getTotalSeconds * MicrosPerSecond)
  private val nullToken = csv.nullValue.getBytes(UTF_8)

  private val row = new GenericInternalRow(requiredSchema.length)
  // field j of a taken line is bytes (bounds(j), bounds(j + 1))
  private val bounds = new Array[Int](width + 1)
  bounds(0) = -1

  private var parsed = false
  private var pending: Iterator[InternalRow] = Iterator.empty

  /** Lines that went to Spark's parser (blank lines included). */
  private[graft] var declinedLines = 0L

  private def kindOf(t: DataType): Int = t match {
    case _: StringType => Str
    case IntegerType => Int32
    case LongType => Int64
    case ShortType => Int16
    case ByteType => Int8
    case DoubleType if fastDoubles => Float64
    case TimestampType if fastTimestamps &&
      csv.timestampFormatInRead.contains(FastTimestampFormat.Pattern) => Ts
    case TimestampNTZType if fastTimestamps &&
      csv.timestampNTZFormatInRead.contains(FastTimestampFormat.Pattern) => TsNtz
    case _ => Other
  }

  private def decode(line: org.apache.hadoop.io.Text): String =
    new String(line.getBytes, 0, line.getLength, csv.charset)

  override def hasNext: Boolean = parsed || pending.hasNext || advance()

  override def next(): InternalRow =
    if (!hasNext) Iterator.empty.next()
    else if (parsed) { parsed = false; row }
    else pending.next()

  private def advance(): Boolean = {
    while (lines.hasNext) {
      val line = lines.next()
      if (byteLines && parseLine(line.getBytes, line.getLength)) {
        parsed = true
        return true
      }
      declinedLines += 1
      pending = CSVExprUtils.filterCommentAndEmpty(Iterator.single(decode(line)), csv)
        .flatMap(safeParser.parse)
      if (pending.hasNext) return true
    }
    false
  }

  /** Fills `row` from the `n` bytes of `b`; false when the line is not the
    * byte path's (see the class doc). */
  private def parseLine(b: Array[Byte], n: Int): Boolean = {
    var classes = 0
    var commas = 0
    var i = 0
    while (i < n) {
      val c = ReadClass(b(i) & 0xff)
      classes |= c
      if (c == Comma) {
        commas += 1
        if (commas == width) return false
        bounds(commas) = i
      }
      i += 1
    }
    if (commas != width - 1 || (classes & Declined) != 0 ||
        (classes & (Comma | Visible)) == 0) return false
    if ((classes & NonAscii) != 0 && !plainUtf8(b, n)) return false
    bounds(width) = n
    var r = 0
    while (r < fieldOf.length) {
      val f = fieldOf(r)
      if (!field(r, b, bounds(f) + 1, bounds(f + 1))) return false
      r += 1
    }
    true
  }

  /** Converts bytes [s, e) of `b` into column `r` of `row`; false when the
    * value is one Spark's parser rejects. */
  private def field(r: Int, b: Array[Byte], s: Int, e: Int): Boolean = {
    val len = e - s
    if (len == 0 || len == nullToken.length &&
        java.util.Arrays.equals(b, s, e, nullToken, 0, len)) {
      // univocity turns an empty field into the null token
      if (!nullable(r)) return false
      row.setNullAt(r)
      return true
    }
    (kinds(r): @switch) match {
      case Str =>
        row.update(r, UTF8String.fromBytes(b, s, len))
        true
      case Int32 | Int16 | Int8 =>
        val v = parseLong(b, s, e, 9)
        val k = kinds(r)
        if (v == NoLong || k == Int16 && v != v.toShort || k == Int8 && v != v.toByte)
          delegate(r, b, s, len)
        else {
          row.update(r, if (k == Int32) v.toInt else if (k == Int16) v.toShort else v.toByte)
          true
        }
      case Int64 =>
        val v = parseLong(b, s, e, 18)
        if (v == NoLong) delegate(r, b, s, len) else { row.setLong(r, v); true }
      case Float64 =>
        val v = parseDouble(b, s, e)
        if (v.isNaN) delegate(r, b, s, len) else { row.setDouble(r, v); true }
      case Ts | TsNtz =>
        val local = parseLocalMicros(b, s, e)
        if (local == NoLong) delegate(r, b, s, len)
        else {
          row.setLong(r, if (kinds(r) == TsNtz) local else zoned(local))
          true
        }
      case _ => delegate(r, b, s, len)
    }
  }

  /** Spark's converter on the field's string. */
  private def delegate(r: Int, b: Array[Byte], s: Int, len: Int): Boolean =
    try {
      row.update(r, converters(r)(new String(b, s, len, UTF_8)))
      true
    } catch { case NonFatal(_) => false }

  /** Micros since the epoch of wall-clock `local` micros at the zone, as
    * Spark's formatter resolves them (`ZonedDateTime.of`: a gap moves
    * forward, an overlap takes the earlier offset). */
  private def zoned(local: Long): Long = fixedOffsetMicros match {
    case Some(offset) => local - offset
    case None =>
      val secs = Math.floorDiv(local, MicrosPerSecond)
      ZonedDateTime.of(LocalDateTime.ofEpochSecond(secs, 0, ZoneOffset.UTC), zone)
        .toEpochSecond * MicrosPerSecond + Math.floorMod(local, MicrosPerSecond)
  }
}

private[graft] object CsvBytesReader {

  /** A Hadoop configuration that serializes as a `Writable`, so a read
    * broadcasts it once instead of shipping it with every task. */
  final class HadoopConf(@transient var value: Configuration) extends Serializable {
    private def writeObject(out: ObjectOutputStream): Unit = {
      out.defaultWriteObject()
      value.write(out)
    }
    private def readObject(in: ObjectInputStream): Unit = {
      in.defaultReadObject()
      value = new Configuration(false)
      value.readFields(in)
    }
  }

  // column kinds, dispatched by a switch per field
  private final val Str = 0
  private final val Int32 = 1
  private final val Int64 = 2
  private final val Int16 = 3
  private final val Int8 = 4
  private final val Float64 = 5
  private final val Ts = 6
  private final val TsNtz = 7
  private final val Other = 8

  private final val MicrosPerSecond = 1000000L

  /** What [[parseLong]] and [[parseLocalMicros]] return for a value they
    * do not take; neither produces it otherwise. */
  private[graft] final val NoLong = Long.MinValue

  // byte classes for the line scan
  private final val Declined = 1 // `"`, `\`, a control byte
  private final val NonAscii = 2
  private final val Comma = 4
  private final val Visible = 8  // any other byte but space
  private val ReadClass: Array[Int] = Array.tabulate(256) { b =>
    if (b == '"' || b == '\\' || b < 0x20) Declined
    else if (b >= 0x80) NonAscii | Visible
    else if (b == ',') Comma
    else if (b == ' ') 0
    else Visible
  }

  /** Well-formed UTF-8 that does not start with a byte-order mark: what
    * decodes to a `String` and encodes back to the same bytes. */
  private def plainUtf8(b: Array[Byte], n: Int): Boolean =
    !(n >= 3 && b(0) == 0xef.toByte && b(1) == 0xbb.toByte && b(2) == 0xbf.toByte) && {
      val back = new String(b, 0, n, UTF_8).getBytes(UTF_8)
      java.util.Arrays.equals(back, 0, back.length, b, 0, n)
    }

  /** `-?[0-9]{1,maxDigits}` as a long; [[NoLong]] for anything else. */
  private[graft] def parseLong(b: Array[Byte], s: Int, e: Int, maxDigits: Int): Long = {
    val neg = s < e && b(s) == '-'
    var p = if (neg) s + 1 else s
    if (p == e || e - p > maxDigits) return NoLong
    var v = 0L
    while (p < e) {
      val d = b(p) - '0'
      if (d < 0 || d > 9) return NoLong
      v = v * 10 + d
      p += 1
    }
    if (neg) -v else v
  }

  private val Pow10 = Array.tabulate(23)(k => s"1e$k".toDouble)
  private final val MaxExact = 1L << 53

  /** `-?digits[.digits]` (at least one digit) as a double when its digits
    * make an integer `m <= 2^53` with `k <= 22` of them after the point:
    * then `m` and `10^k` are exact doubles and `m / 10^k` is the correctly
    * rounded value of the decimal, which is what `Double.parseDouble`
    * returns. NaN, which it never produces, for anything else. */
  private[graft] def parseDouble(b: Array[Byte], s: Int, e: Int): Double = {
    val neg = s < e && b(s) == '-'
    var p = if (neg) s + 1 else s
    var m = 0L
    var digits = 0
    var k = 0
    var point = false
    while (p < e) {
      val c = b(p)
      if (c >= '0' && c <= '9') {
        m = m * 10 + (c - '0')
        if (m > MaxExact) return Double.NaN
        digits += 1
        if (point) k += 1
      } else if (c == '.' && !point) point = true
      else return Double.NaN
      p += 1
    }
    if (digits == 0 || k > 22) return Double.NaN
    val v = m / Pow10(k)
    if (neg) -v else v
  }

  private def digit2(b: Array[Byte], p: Int): Int = {
    val hi = b(p) - '0'
    val lo = b(p + 1) - '0'
    if (hi < 0 || hi > 9 || lo < 0 || lo > 9) -1 else hi * 10 + lo
  }

  /** Bytes [s, e) in exactly `yyyy-MM-dd HH:mm:ss.SSSSSS` with a valid
    * date and time in years [1, 9999], as wall-clock micros since
    * 1970-01-01 00:00; [[NoLong]] for anything else. */
  private[graft] def parseLocalMicros(b: Array[Byte], s: Int, e: Int): Long = {
    if (e - s != FastTimestampFormat.Width || b(s + 4) != '-' || b(s + 7) != '-' ||
        b(s + 10) != ' ' || b(s + 13) != ':' || b(s + 16) != ':' || b(s + 19) != '.')
      return NoLong
    val y100 = digit2(b, s)
    val y1 = digit2(b, s + 2)
    val mo = digit2(b, s + 5)
    val d = digit2(b, s + 8)
    val h = digit2(b, s + 11)
    val mi = digit2(b, s + 14)
    val sec = digit2(b, s + 17)
    val f1 = digit2(b, s + 20)
    val f2 = digit2(b, s + 22)
    val f3 = digit2(b, s + 24)
    if (y100 < 0 || y1 < 0 || f1 < 0 || f2 < 0 || f3 < 0 || h < 0 || h > 23 ||
        mi < 0 || mi > 59 || sec < 0 || sec > 59 || mo < 1 || mo > 12 || d < 1)
      return NoLong
    val y = y100 * 100 + y1
    val leap = y % 4 == 0 && (y % 100 != 0 || y % 400 == 0)
    val monthDays = if (mo == 2) (if (leap) 29 else 28)
      else if (mo == 4 || mo == 6 || mo == 9 || mo == 11) 30 else 31
    if (y < 1 || d > monthDays) return NoLong
    // Hinnant's days-from-civil
    val ya = if (mo <= 2) y - 1 else y
    val era = ya / 400
    val yoe = ya - era * 400
    val doy = (153 * (if (mo > 2) mo - 3 else mo + 9) + 2) / 5 + d - 1
    val doe = yoe * 365 + yoe / 4 - yoe / 100 + doy
    val days = era * 146097L + doe - 719468L
    ((days * 86400L + h * 3600 + mi * 60 + sec) * MicrosPerSecond +
      f1 * 10000 + f2 * 100 + f3)
  }
}
