package graft.plans

import java.time.{Instant, ZoneId, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.Locale

import org.apache.spark.sql.catalyst.expressions.{Expression, TimeZoneAwareExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType, TimestampNTZType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String

/** Static fast formatter for `yyyy-MM-dd HH:mm:ss.SSSSSS` — the pinned
  * CSV timestamp format ([[graft.operators.Convert.TimestampFormat]]).
  *
  * Why it exists: the timestamp column is the single most expensive field
  * in the parquet→CSV hot path (k2) — Spark's univocity writer routes
  * every value through a `DateTimeFormatter` with per-field temporal
  * queries and a `StringBuilder`, measured at ~43% of the whole
  * conversion (PERF_NOTES.md round 12; perfbench's traced `convert` run
  * now reports this cost as `convert.csv_encode_write_s`). This formatter
  * does the same conversion with pure integer arithmetic (Hinnant's
  * civil-from-days calendar algorithm) straight into a caller's byte
  * buffer — no temporal objects, no builder; [[CsvBytesFormat]] renders
  * into its row buffer with no allocation at all.
  *
  * Exactness contract: byte-identical to `DateTimeFormatter.ofPattern(
  * "yyyy-MM-dd HH:mm:ss.SSSSSS")` at the session zone for every year in
  * [1, 9999] (CsvTimestampSpec proves it across zones, leap rules, DST
  * transitions, and the epoch sign change); years outside that range
  * (where `yyyy` = year-of-era needs era handling) fall back to the real
  * `DateTimeFormatter`. Zone offsets are resolved per-instant through the
  * zone rules, so DST-observing session zones format correctly. */
object FastTimestampFormat {

  private val MicrosPerSecond = 1000000L

  /** The pinned pattern ([[graft.operators.Convert.TimestampFormat]]). */
  val Pattern = "yyyy-MM-dd HH:mm:ss.SSSSSS"

  /** Bytes of one fast-path rendering. */
  val Width = 26

  /** The exact pattern twin, used for the out-of-range fallback and as
    * the reference in tests. */
  def reference(zone: ZoneId): DateTimeFormatter =
    DateTimeFormatter.ofPattern(Pattern, Locale.US).withZone(zone)

  /** TIMESTAMP_NTZ variant: the micros already encode the wall-clock
    * local datetime, so no zone adjustment applies. */
  def formatNtz(micros: Long): UTF8String = format(micros, ZoneOffset.UTC)

  def format(micros: Long, zone: ZoneId): UTF8String = {
    val b = new Array[Byte](Width)
    if (render(b, 0, micros, zone)) UTF8String.fromBytes(b)
    else UTF8String.fromString(fallback(micros, zone))
  }

  /** The reference rendering — what [[render]] declines (years outside
    * [1, 9999]). */
  def fallback(micros: Long, zone: ZoneId): String =
    reference(zone).format(Instant.ofEpochSecond(
      Math.floorDiv(micros, MicrosPerSecond),
      Math.floorMod(micros, MicrosPerSecond) * 1000L))

  /** Writes the [[Width]] pattern bytes of `micros` at `zone` (UTC for
    * TIMESTAMP_NTZ) into `buf` at `pos`. False, with `buf` untouched,
    * when the year is outside [1, 9999]; [[fallback]] renders those. */
  def render(buf: Array[Byte], pos: Int, micros: Long, zone: ZoneId): Boolean = {
    val secs = Math.floorDiv(micros, MicrosPerSecond)
    val frac = Math.floorMod(micros, MicrosPerSecond).toInt
    val offsetSecs = zone match {
      case o: ZoneOffset => o.getTotalSeconds
      case _ => zone.getRules.getOffset(Instant.ofEpochSecond(secs))
        .getTotalSeconds
    }
    val local = secs + offsetSecs
    val days = Math.floorDiv(local, 86400L)
    val sod = Math.floorMod(local, 86400L).toInt
    // Hinnant civil-from-days: exact Gregorian y/m/d from the day count
    val z = days + 719468L
    val era = Math.floorDiv(z, 146097L)
    val doe = (z - era * 146097L).toInt
    val yoe = (doe - doe / 1460 + doe / 36524 - doe / 146096) / 365
    val doy = doe - (365 * yoe + yoe / 4 - yoe / 100)
    val mp = (5 * doy + 2) / 153
    val d = doy - (153 * mp + 2) / 5 + 1
    val m = if (mp < 10) mp + 3 else mp - 9
    val y = yoe + era * 400L + (if (m <= 2) 1 else 0)
    if (y < 1L || y > 9999L) return false
    val yi = y.toInt
    val h = sod / 3600
    val mi = (sod / 60) % 60
    val s = sod % 60
    val b = buf
    val p = pos
    b(p) = ('0' + yi / 1000).toByte
    b(p + 1) = ('0' + (yi / 100) % 10).toByte
    b(p + 2) = ('0' + (yi / 10) % 10).toByte
    b(p + 3) = ('0' + yi % 10).toByte
    b(p + 4) = '-'
    b(p + 5) = ('0' + m / 10).toByte
    b(p + 6) = ('0' + m % 10).toByte
    b(p + 7) = '-'
    b(p + 8) = ('0' + d / 10).toByte
    b(p + 9) = ('0' + d % 10).toByte
    b(p + 10) = ' '
    b(p + 11) = ('0' + h / 10).toByte
    b(p + 12) = ('0' + h % 10).toByte
    b(p + 13) = ':'
    b(p + 14) = ('0' + mi / 10).toByte
    b(p + 15) = ('0' + mi % 10).toByte
    b(p + 16) = ':'
    b(p + 17) = ('0' + s / 10).toByte
    b(p + 18) = ('0' + s % 10).toByte
    b(p + 19) = '.'
    b(p + 20) = ('0' + frac / 100000).toByte
    b(p + 21) = ('0' + (frac / 10000) % 10).toByte
    b(p + 22) = ('0' + (frac / 1000) % 10).toByte
    b(p + 23) = ('0' + (frac / 100) % 10).toByte
    b(p + 24) = ('0' + (frac / 10) % 10).toByte
    b(p + 25) = ('0' + frac % 10).toByte
    true
  }
}

/** Codegen'd `timestamp → 'yyyy-MM-dd HH:mm:ss.SSSSSS' string` at the
  * session zone (see [[FastTimestampFormat]] for the exactness contract).
  * Registered as `graft_csv_ts`. It was the CSV sink's serialization fast
  * path before [[CsvBytesFormat]] rendered timestamps in the writer
  * itself; it stays as a SQL function, and CsvBytesSpec uses it to build
  * the reference bytes the sink must reproduce. Null in → null out. */
case class CsvTimestampExpr(child: Expression,
                            timeZoneId: Option[String] = None)
  extends UnaryExpression with TimeZoneAwareExpression {

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case TimestampType | TimestampNTZType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_csv_ts requires TIMESTAMP or TIMESTAMP_NTZ, got ${other.sql}")
    }

  override def dataType: DataType = StringType

  override def nullable: Boolean = child.nullable

  override def prettyName: String = "graft_csv_ts"

  /** TIMESTAMP_NTZ carries a wall-clock datetime — no zone math. */
  private def isNtz: Boolean = child.dataType == TimestampNTZType

  override def withTimeZone(timeZoneId: String): TimeZoneAwareExpression =
    copy(timeZoneId = Some(timeZoneId))

  override def nullSafeEval(t: Any): Any =
    if (isNtz) FastTimestampFormat.formatNtz(t.asInstanceOf[Long])
    else FastTimestampFormat.format(t.asInstanceOf[Long], zoneId)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (isNtz)
      defineCodeGen(ctx, ev, c =>
        s"graft.plans.FastTimestampFormat.formatNtz($c)")
    else {
      val zoneRef = ctx.addReferenceObj("graftCsvTsZone", zoneId,
        classOf[ZoneId].getName)
      defineCodeGen(ctx, ev, c =>
        s"graft.plans.FastTimestampFormat.format($c, $zoneRef)")
    }

  override protected def withNewChildInternal(newChild: Expression)
      : CsvTimestampExpr = copy(child = newChild)
}
