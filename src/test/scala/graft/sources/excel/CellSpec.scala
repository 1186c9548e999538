package graft.sources.excel

import java.time.{LocalDate, LocalDateTime, ZoneOffset}

import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The cell decoding the scan had before its typed cell readers, kept as
  * their executable spec: [[decodeCell]] makes a boxed value of a cell's
  * kind, style and `String` texts, and [[convert]] turns that value into
  * the Catalyst value of a Spark type. `CellReaderProps` and
  * `ReaderEqualityProps` check that `TypedCells` gives what the two give
  * together, and `StaxSheetReader` decodes its cells with
  * [[decodeCell]].
  */
object CellSpec {

  /** One cell's value from its type (a `Cell*` kind), style index
    * ([[XlsxReader.NoStyle]] when absent, [[XlsxReader.BadStyle]] when not
    * a number), `<v>` text and `<is>` rich text. */
  def decodeCell(reader: XlsxReader, kind: Int, style: Int, v: String,
      inlineStr: String): Any = {
    import XlsxReader._
    kind match {
      case CellInline => if (inlineStr == null) null else unescapeOoxml(inlineStr)
      case CellShared => if (v == null) null else reader.sharedString(v.trim.toInt).toString
      case CellStr =>
        if (v == null) null else unescapeOoxml(v) // cached formula result
      case CellBool =>
        if (v == null) null
        else java.lang.Boolean.valueOf(v.trim == "1" || v.trim.equalsIgnoreCase("true"))
      case CellDate => // ISO-8601 date cell (ECMA-376 §18.17.4.7, rare but legal)
        if (v == null || v.trim.isEmpty) null
        else {
          val s = v.trim
          if (s.contains("T"))
            try java.time.LocalDateTime.parse(s,
              java.time.format.DateTimeFormatter.ISO_LOCAL_DATE_TIME)
            catch { case _: java.time.format.DateTimeParseException =>
              java.time.OffsetDateTime.parse(s,
                  java.time.format.DateTimeFormatter.ISO_OFFSET_DATE_TIME)
                .withOffsetSameInstant(java.time.ZoneOffset.UTC)
                .toLocalDateTime
            }
          else
            java.time.LocalDate.parse(s,
              java.time.format.DateTimeFormatter.ISO_DATE)
        }
      case CellError => null // error cell (#DIV/0! …)
      case _ => // numeric (or date, per cell style)
        if (v == null || v.isEmpty) null
        else {
          val d = v.trim.toDouble
          styleKind(reader, style) match {
            case DateKind.DateOnly if d == math.floor(d) =>
              ExcelSerialDate.toDate(d, reader.date1904)
            case DateKind.DateOnly | DateKind.DateTime =>
              ExcelSerialDate.toDateTime(d, reader.date1904)
            case DateKind.None => java.lang.Double.valueOf(d)
          }
        }
    }
  }

  private def styleKind(reader: XlsxReader, style: Int): DateKind.Value =
    if (style == XlsxReader.BadStyle) throw new NumberFormatException("malformed cell style index")
    else if (style >= 0 && style < reader.styleKinds.length) reader.styleKinds(style)
    else DateKind.None

  /** Excel wall-clock datetimes carry no zone; interpret as UTC (the
    * session zone in this project's builds). */
  private def toMicros(dt: LocalDateTime): Long =
    DateTimeUtils.instantToMicros(dt.toInstant(ZoneOffset.UTC))

  private def toDays(d: LocalDate): Int = d.toEpochDay.toInt

  /** A number's text as the writer renders it ("1" not "1.0"), which is
    * also what the reference's all-strings mode produces. */
  def formatNumericString(d: java.lang.Double): String = {
    val v = d.doubleValue()
    if (XlsxRowEncoder.rendersAsLong(v)) v.toLong.toString else v.toString
  }

  /** Convert one decoded cell to the Catalyst value for `dt`.
    * Lenient like the pandas→Spark path: sensible coercions happen,
    * impossible ones yield null. A raw serial read as a timestamp counts
    * from the workbook's epoch (`date1904`). */
  def convert(v: Any, dt: DataType, date1904: Boolean): Any = v match {
    case null => null
    case _ => dt match {
      case StringType => UTF8String.fromString(v match {
        case s: String => s
        case d: java.lang.Double => formatNumericString(d)
        case b: java.lang.Boolean => if (b) "True" else "False" // pandas str()
        case d: LocalDate => d.toString
        case t: LocalDateTime => t.toString.replace('T', ' ')
        case other => other.toString
      })
      case IntegerType => v match {
        case d: java.lang.Double => java.lang.Integer.valueOf(d.intValue())
        case b: java.lang.Boolean => java.lang.Integer.valueOf(if (b) 1 else 0)
        case s: String => try java.lang.Integer.valueOf(s.trim.toDouble.toInt)
          catch { case _: NumberFormatException => null }
        case _ => null
      }
      case LongType => v match {
        case d: java.lang.Double => java.lang.Long.valueOf(d.longValue())
        case b: java.lang.Boolean => java.lang.Long.valueOf(if (b) 1L else 0L)
        case s: String => try java.lang.Long.valueOf(s.trim.toDouble.toLong)
          catch { case _: NumberFormatException => null }
        case _ => null
      }
      case DoubleType => v match {
        case d: java.lang.Double => d
        case b: java.lang.Boolean => java.lang.Double.valueOf(if (b) 1.0 else 0.0)
        case s: String => try java.lang.Double.valueOf(s.trim.toDouble)
          catch { case _: NumberFormatException => null }
        case _ => null
      }
      case FloatType => convert(v, DoubleType, date1904) match {
        case null => null
        case d: java.lang.Double => java.lang.Float.valueOf(d.floatValue())
      }
      case BooleanType => v match {
        case b: java.lang.Boolean => b
        case d: java.lang.Double => java.lang.Boolean.valueOf(d.doubleValue() != 0.0)
        case s: String =>
          val t = s.trim.toLowerCase
          if (t == "true" || t == "1") java.lang.Boolean.TRUE
          else if (t == "false" || t == "0") java.lang.Boolean.FALSE
          else null
        case _ => null
      }
      case DateType => v match {
        case d: LocalDate => java.lang.Integer.valueOf(toDays(d))
        case t: LocalDateTime => java.lang.Integer.valueOf(toDays(t.toLocalDate))
        case s: String => try java.lang.Integer.valueOf(toDays(LocalDate.parse(s.trim)))
          catch { case _: Exception => null }
        case _ => null
      }
      case TimestampType => v match {
        case t: LocalDateTime => java.lang.Long.valueOf(toMicros(t))
        case d: LocalDate => java.lang.Long.valueOf(toMicros(d.atStartOfDay))
        case dd: java.lang.Double => // raw serial under an explicit timestamp schema
          java.lang.Long.valueOf(toMicros(ExcelSerialDate.toDateTime(dd.doubleValue(), date1904)))
        case s: String =>
          try java.lang.Long.valueOf(toMicros(LocalDateTime.parse(s.trim.replace(' ', 'T'))))
          catch { case _: Exception => null }
        case _ => null
      }
      case other =>
        throw new UnsupportedOperationException(
          s"Excel source does not support type $other " +
            "(supported: string, int, bigint, double, float, boolean, date, timestamp)")
    }
  }
}
