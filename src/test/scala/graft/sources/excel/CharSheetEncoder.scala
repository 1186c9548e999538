package graft.sources.excel

import java.nio.{ByteBuffer, CharBuffer}
import java.nio.charset.CodingErrorAction
import java.nio.charset.StandardCharsets.UTF_8
import java.time.{LocalDate, LocalDateTime, ZoneOffset}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._

/** The sheet encoder the writer used before it rendered typed cells
  * straight to UTF-8 bytes, kept as the byte-equality spec of
  * [[XlsxRowEncoder]] (as StAX is kept for the reader): boxed values
  * ([[boxed]], the values the task writer used to make from a Spark row)
  * are appended as UTF-16 chars to a `StringBuilder`, escaped char by
  * char, and encoded to UTF-8 through a `CharsetEncoder` at the end.
  *
  * [[part]] is a whole sheet part as [[XlsxWriter]] writes it; [[rows]]
  * is the rows alone, as an [[XlsxRowSegment]] holds them. A row over a
  * cap throws the writer's message and is dropped, as the writer does.
  */
final class CharSheetEncoder(sheetLabel: String = "Sheet1") {
  import CharSheetEncoder._

  private val sheet = new java.lang.StringBuilder
  private var rowNum = 0

  def writeRow(values: Iterable[Any]): Unit = writeRow(values, headerStyle = false)

  def writeHeaderRow(values: Iterable[Any]): Unit = writeRow(values, headerStyle = true)

  private def writeRow(values: Iterable[Any], headerStyle: Boolean): Unit = {
    if (rowNum >= XlsxWriter.MaxRowsPerSheet)
      throw XlsxWriter.rowLimitExceeded(sheetLabel)
    rowNum += 1
    val rowStart = sheet.length
    val strOpen =
      if (headerStyle) "<c s=\"3\" t=\"inlineStr\"><is><t xml:space=\"preserve\">"
      else InlineStrOpen
    sheet.append("<row>")
    var col = 0
    var nulls = 0
    values.foreach { v =>
      if (v == null) nulls += 1
      else {
        while (nulls > 0) { sheet.append("<c/>"); nulls -= 1 }
        v match {
          case s: String => strCell(strOpen, s, col, rowStart)
          case b: java.lang.Boolean =>
            sheet.append(if (b) "<c t=\"b\"><v>1</v></c>" else "<c t=\"b\"><v>0</v></c>")
          case d: LocalDate => numCell(ExcelSerialDate.fromDate(d), style = 1)
          case dt: LocalDateTime => numCell(ExcelSerialDate.fromDateTime(dt), style = 2)
          case d: java.sql.Date =>
            numCell(ExcelSerialDate.fromDate(d.toLocalDate), style = 1)
          case ts: java.sql.Timestamp =>
            numCell(ExcelSerialDate.fromDateTime(ts.toLocalDateTime), style = 2)
          case n: java.lang.Number =>
            sheet.append("<c><v>")
            appendNumber(n)
            sheet.append("</v></c>")
          case other =>
            strCell(InlineStrOpen, other.toString, col, rowStart)
        }
      }
      col += 1
    }
    if (col > XlsxWriter.MaxColsPerSheet)
      failRow(rowStart,
        s"Excel column limit exceeded: row $rowNum of sheet " +
          s"'$sheetLabel' has $col cells but the xlsx format caps a " +
          s"sheet at ${XlsxWriter.MaxColsPerSheet} columns (Excel refuses " +
          "to open wider sheets).")
    sheet.append("</row>")
  }

  private def failRow(rowStart: Int, msg: String): Nothing = {
    sheet.setLength(rowStart)
    rowNum -= 1
    throw new org.apache.spark.SparkException(msg)
  }

  private def strCell(open: String, s: String, col: Int, rowStart: Int): Unit = {
    if (s.length > XlsxWriter.MaxCellChars)
      failRow(rowStart,
        s"Excel cell limit exceeded: column ${XlsxWriter.colName(col)} " +
          s"(${col + 1}) of row $rowNum in sheet '$sheetLabel' holds " +
          s"${s.length} characters but an xlsx cell caps text at " +
          s"${XlsxWriter.MaxCellChars} (Excel truncates or refuses longer " +
          "cells). Truncate the column upstream (e.g. substring) or write " +
          "parquet instead.")
    sheet.append(open)
    appendEscaped(sheet, s)
    sheet.append("</t></is></c>")
  }

  private def numCell(serial: Double, style: Int): Unit = {
    sheet.append("<c s=\"").append(style).append("\"><v>")
    appendDouble(serial)
    sheet.append("</v></c>")
  }

  private def appendNumber(n: java.lang.Number): Unit = n match {
    case d: java.lang.Double => appendDouble(d)
    case f: java.lang.Float => appendDouble(f.doubleValue())
    case l: java.lang.Long => sheet.append(l.longValue())
    case i: java.lang.Integer => sheet.append(i.intValue())
    case other => sheet.append(other.toString)
  }

  private def appendDouble(d: Double): Unit =
    if (d == math.floor(d) && !d.isInfinite && math.abs(d) < 1e15)
      sheet.append(d.toLong)
    else sheet.append(d)

  /** The rows written so far, as UTF-8 (unpaired surrogates become '?'). */
  def rows: Array[Byte] = utf8(sheet.toString)
}

object CharSheetEncoder {

  private val InlineStrOpen = "<c t=\"inlineStr\"><is><t xml:space=\"preserve\">"

  /** A whole sheet part: prolog, `<cols>`, the header (bold or not) when
    * given, the rows, and the closing tags. */
  def part(rows: Seq[Seq[Any]], header: Option[Seq[String]] = None,
      headerBold: Boolean = false, columnWidths: Seq[(Int, Double)] = Nil): Array[Byte] = {
    val e = new CharSheetEncoder
    header.foreach(h => if (headerBold) e.writeHeaderRow(h) else e.writeRow(h))
    rows.foreach(e.writeRow)
    val sb = new java.lang.StringBuilder()
      .append("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""")
      .append("""<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">""")
    if (columnWidths.nonEmpty) {
      sb.append("<cols>")
      columnWidths.sortBy(_._1).foreach { case (idx, w) =>
        sb.append("<col min=\"").append(idx + 1).append("\" max=\"")
          .append(idx + 1).append("\" width=\"").append(w)
          .append("\" customWidth=\"1\"/>")
      }
      sb.append("</cols>")
    }
    sb.append("<sheetData>")
    utf8(sb.toString) ++ e.rows ++ utf8("</sheetData></worksheet>")
  }

  /** The boxed value of each data column (all but `skip`), as the task
    * writer's per-column getters made them. */
  def boxed(schema: StructType, row: InternalRow, skip: Int = -1): Seq[Any] =
    schema.fields.indices.filter(_ != skip).map { i =>
      if (row.isNullAt(i)) null
      else schema.fields(i).dataType match {
        case StringType => row.getUTF8String(i).toString
        case IntegerType => java.lang.Long.valueOf(row.getInt(i).toLong)
        case LongType => java.lang.Long.valueOf(row.getLong(i))
        case DoubleType => java.lang.Double.valueOf(row.getDouble(i))
        case FloatType => java.lang.Double.valueOf(row.getFloat(i).toDouble)
        case BooleanType => java.lang.Boolean.valueOf(row.getBoolean(i))
        case DateType => LocalDate.ofEpochDay(row.getInt(i).toLong)
        case TimestampType => LocalDateTime.ofInstant(
          org.apache.spark.sql.catalyst.util.DateTimeUtils.microsToInstant(row.getLong(i)),
          ZoneOffset.UTC)
        case other => throw new UnsupportedOperationException(other.toString)
      }
    }

  private def utf8(s: String): Array[Byte] = {
    val enc = UTF_8.newEncoder()
      .onMalformedInput(CodingErrorAction.REPLACE)
      .onUnmappableCharacter(CodingErrorAction.REPLACE)
    val out = ByteBuffer.allocate(3 * s.length + 16)
    enc.encode(CharBuffer.wrap(s), out, true)
    enc.flush(out)
    java.util.Arrays.copyOf(out.array(), out.position())
  }

  /** Is s(i) the start of a literal `_xHHHH_` sequence? */
  private def looksLikeEscape(s: String, i: Int): Boolean =
    i + 6 < s.length && s.charAt(i + 1) == 'x' && s.charAt(i + 6) == '_' &&
      (i + 2 until i + 6).forall { j =>
        val c = s.charAt(j)
        (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f') || (c >= 'A' && c <= 'F')
      }

  private def appendEscaped(sb: java.lang.StringBuilder, s: String): Unit = {
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '<' => sb.append("&lt;")
        case '>' => sb.append("&gt;")
        case '&' => sb.append("&amp;")
        case '"' => sb.append("&quot;")
        case '\r' => sb.append("&#13;")
        case c if c < ' ' && c != '\t' && c != '\n' =>
          sb.append("_x").append(f"${c.toInt}%04X").append('_')
        case '_' if looksLikeEscape(s, i) => sb.append("_x005F_")
        case c => sb.append(c)
      }
      i += 1
    }
  }

  /** A sheet name escaped for `workbook.xml`, as the writer did it. */
  def escapeXml(s: String): String = {
    val sb = new java.lang.StringBuilder
    appendEscaped(sb, s)
    sb.toString
  }
}
