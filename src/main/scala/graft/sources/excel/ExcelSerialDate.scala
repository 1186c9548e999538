package graft.sources.excel

import java.time.{Duration, LocalDate, LocalDateTime}

/** Excel serial-date conversions.
  *
  * Excel stores dates/times as a floating-point "serial": whole days since an
  * epoch, with the time of day in the fraction. The default (1900) date
  * system counts from an epoch of 1899-12-30 — the off-by-two accounts for
  * Lotus 1-2-3's fictitious 1900-02-29 leap day; like openpyxl/pandas (the
  * reference's parser, `/root/reference/src/pyspark_datasource/excel/
  * connector.py:83`) we use the shifted epoch and do not special-case
  * serials 1..60. Workbooks with `<workbookPr date1904="1"/>` count from
  * 1904-01-01 instead.
  */
object ExcelSerialDate {

  private val Epoch1900: LocalDate = LocalDate.of(1899, 12, 30)
  private val Epoch1904: LocalDate = LocalDate.of(1904, 1, 1)

  private def epoch(date1904: Boolean): LocalDate =
    if (date1904) Epoch1904 else Epoch1900

  private final val MillisPerDay = 86400000L

  /** serial → timestamp, rounded to the nearest millisecond (Excel's own
    * precision floor; also kills double noise like 0.49999999…). */
  def toDateTime(serial: Double, date1904: Boolean = false): LocalDateTime = {
    val days = math.floor(serial).toLong
    val frac = serial - days
    val millis = math.round(frac * MillisPerDay)
    epoch(date1904).plusDays(days).atStartOfDay.plus(Duration.ofMillis(millis))
  }

  def toDate(serial: Double, date1904: Boolean = false): LocalDate =
    epoch(date1904).plusDays(math.floor(serial).toLong)

  // ---- serial → Spark's epoch day and epoch micros, by arithmetic alone.
  // Each gives what toDate/toDateTime (then toEpochDay, or an instant at
  // UTC in micros) give, and throws where they throw: a DateTimeException
  // past LocalDate's years ±999,999,999, an ArithmeticException where
  // their long arithmetic overflows.

  // 1899-12-30 and 1904-01-01 as days since 1970-01-01
  private def epochDay0(date1904: Boolean): Long = if (date1904) -24107L else -25569L

  private final val MinEpochDay = -365243219162L // LocalDate.MIN
  private final val MaxEpochDay = 365241780471L  // LocalDate.MAX

  private def checkedDay(day: Long): Long =
    if (day >= MinEpochDay && day <= MaxEpochDay) day
    else throw new java.time.DateTimeException(
      s"Invalid value for EpochDay (valid values $MinEpochDay - $MaxEpochDay): $day")

  /** toDateTime's rounded time of day in ms: 0 to MillisPerDay inclusive,
    * where rounding carries into the next day. */
  private def roundedMillis(serial: Double): Long = {
    val days = math.floor(serial).toLong
    math.round((serial - days) * MillisPerDay)
  }

  /** `toDate(serial, date1904).toEpochDay`. */
  def epochDay(serial: Double, date1904: Boolean): Long =
    checkedDay(Math.addExact(epochDay0(date1904), math.floor(serial).toLong))

  /** `toDateTime(serial, date1904).toLocalDate.toEpochDay`. */
  def dateTimeDay(serial: Double, date1904: Boolean): Long = {
    val day = epochDay(serial, date1904)
    if (roundedMillis(serial) == MillisPerDay) checkedDay(day + 1) else day
  }

  /** `toDateTime(serial, _)`'s millisecond of the day. */
  def millisOfDay(serial: Double): Long = roundedMillis(serial) % MillisPerDay

  private final val MinSeconds = Math.floorDiv(Long.MinValue, 1000000L)

  /** Micros since 1970-01-01 UTC of `day` at `millisOfDay`, overflowing
    * exactly where Spark's `instantToMicros` does. */
  def epochMicros(day: Long, millisOfDay: Long): Long = {
    val secs = day * 86400L + millisOfDay / 1000L
    val micros = millisOfDay % 1000L * 1000L
    if (secs == MinSeconds) Math.addExact(Math.multiplyExact(secs + 1, 1000000L), micros - 1000000L)
    else Math.addExact(Math.multiplyExact(secs, 1000000L), micros)
  }

  /** Serials of the 1900 system, floored to the millisecond. Spark's
    * dates and timestamps (days and microseconds since 1970-01-01 UTC)
    * convert by arithmetic alone: 1970-01-01 is day 25569. */
  def fromEpochDay(days: Long): Double = (days + 25569L).toDouble

  def fromEpochMicros(micros: Long): Double = {
    val millis = Math.floorDiv(micros, 1000L)
    fromEpochDay(Math.floorDiv(millis, MillisPerDay)) +
      Math.floorMod(millis, MillisPerDay).toDouble / MillisPerDay
  }

  def fromDate(d: LocalDate): Double = fromEpochDay(d.toEpochDay)

  def fromDateTime(dt: LocalDateTime): Double = fromEpochDay(dt.toLocalDate.toEpochDay) +
    (dt.toLocalTime.toNanoOfDay / 1000000L).toDouble / MillisPerDay
}
