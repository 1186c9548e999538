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
