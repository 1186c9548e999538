package graft.sources.excel

import java.io.{BufferedOutputStream, OutputStream}
import java.time.{LocalDate, LocalDateTime}
import java.util.zip.{ZipEntry, ZipOutputStream}

/** Streaming single-sheet `.xlsx` writer on JDK built-ins (constant memory —
  * the reference's writer materializes the whole partition in a pandas
  * DataFrame first, `/root/reference/src/pyspark_datasource/excel/
  * connector.py:313-319`; we stream row by row instead).
  *
  * Strings are written inline (`t="inlineStr"`) rather than via a shared
  * string table so a single pass suffices. Dates/timestamps are written as
  * Excel serial numbers with a date or datetime number format; booleans as
  * `t="b"`; numbers bare; nulls as absent (sparse) cells.
  *
  * Accepted cell types: String, java.lang.Boolean, numbers (Byte…Double),
  * LocalDate / LocalDateTime, java.sql.Date / java.sql.Timestamp, null.
  *
  * Presentation extensions (both optional, applied to every sheet):
  * `columnWidths` — (0-based column index, width in characters) pairs
  * emitted as a `<cols>` block; [[writeHeaderRow]] — a row rendered with
  * the bold header style.
  */
final class XlsxWriter(out: OutputStream, sheetName: String = "Sheet1",
    columnWidths: Seq[(Int, Double)] = Nil) {

  private val zip = new ZipOutputStream(new BufferedOutputStream(out))
  private val sheet = new java.lang.StringBuilder(1 << 16)
  private var rowNum = 0
  private var closed = false
  private val sheetNames = scala.collection.mutable.ArrayBuffer(sheetName)

  writeStaticParts()
  startSheetStream()

  /** Finish the current sheet and begin a new one (multi-sheet workbooks;
    * the workbook catalog parts are emitted at close, when all names are
    * known). Row numbering restarts per sheet. */
  def startSheet(name: String): Unit = {
    require(!closed, "writer is closed")
    // Excel compares sheet names case-insensitively
    require(!sheetNames.exists(_.equalsIgnoreCase(name)),
      s"duplicate sheet name '$name'")
    endSheetStream()
    sheetNames += name
    startSheetStream()
  }

  /** Append one row; values per the accepted cell types above. */
  def writeRow(values: Iterable[Any]): Unit = writeRow(values, headerStyle = false)

  /** Append a row rendered with the bold header style (style extension —
    * the data semantics are identical to [[writeRow]]). */
  def writeHeaderRow(values: Iterable[Any]): Unit = writeRow(values, headerStyle = true)

  private def writeRow(values: Iterable[Any], headerStyle: Boolean): Unit = {
    if (rowNum >= XlsxWriter.MaxRowsPerSheet)
      throw new org.apache.spark.SparkException(
        s"Excel row limit exceeded: sheet '${sheetNames.last}' cannot hold " +
          s"more than ${XlsxWriter.MaxRowsPerSheet} rows (the xlsx format's " +
          "hard cap; Excel refuses to open larger sheets). Shard the output " +
          "(option 'shardedOutput'), route rows across sheets (option " +
          "'sheetColumn'), or write parquet instead.")
    rowNum += 1
    val rowStart = sheet.length
    val strAttrs =
      if (headerStyle) "\" s=\"3\" t=\"inlineStr\"" else "\" t=\"inlineStr\""
    sheet.append("<row r=\"").append(rowNum).append("\">")
    var col = 0
    values.foreach { v =>
      val ref = XlsxReader.colName(col) + rowNum
      v match {
        case null => () // sparse
        case s: String =>
          checkCellChars(s, col, rowStart)
          sheet.append("<c r=\"").append(ref).append(strAttrs).append("><is><t xml:space=\"preserve\">")
            .append(escapeXml(s)).append("</t></is></c>")
        case b: java.lang.Boolean =>
          sheet.append("<c r=\"").append(ref).append("\" t=\"b\"><v>")
            .append(if (b) "1" else "0").append("</v></c>")
        case d: LocalDate =>
          numCell(ref, ExcelSerialDate.fromDate(d), style = 1)
        case dt: LocalDateTime =>
          numCell(ref, ExcelSerialDate.fromDateTime(dt), style = 2)
        case d: java.sql.Date =>
          numCell(ref, ExcelSerialDate.fromDate(d.toLocalDate), style = 1)
        case ts: java.sql.Timestamp =>
          numCell(ref, ExcelSerialDate.fromDateTime(ts.toLocalDateTime), style = 2)
        case n: java.lang.Number =>
          numCell(ref, n.doubleValue(), style = 0, raw = formatNumber(n))
        case other =>
          val s = other.toString
          checkCellChars(s, col, rowStart)
          sheet.append("<c r=\"").append(ref).append("\" t=\"inlineStr\"><is><t xml:space=\"preserve\">")
            .append(escapeXml(s)).append("</t></is></c>")
      }
      col += 1
    }
    if (col > XlsxWriter.MaxColsPerSheet)
      failRow(rowStart,
        s"Excel column limit exceeded: row $rowNum of sheet " +
          s"'${sheetNames.last}' has $col cells but the xlsx format caps a " +
          s"sheet at ${XlsxWriter.MaxColsPerSheet} columns (Excel refuses " +
          "to open wider sheets).")
    sheet.append("</row>")
    if (sheet.length > (1 << 16)) flushSheet()
  }

  /** Drop the partly written row, so the writer stays usable, and fail. */
  private def failRow(rowStart: Int, msg: String): Nothing = {
    sheet.setLength(rowStart)
    rowNum -= 1
    throw new org.apache.spark.SparkException(msg)
  }

  private def checkCellChars(s: String, col: Int, rowStart: Int): Unit =
    if (s.length > XlsxWriter.MaxCellChars)
      failRow(rowStart,
        s"Excel cell limit exceeded: column ${XlsxReader.colName(col)} " +
          s"(${col + 1}) of row $rowNum in sheet '${sheetNames.last}' holds " +
          s"${s.length} characters but an xlsx cell caps text at " +
          s"${XlsxWriter.MaxCellChars} (Excel truncates or refuses longer " +
          "cells). Truncate the column upstream (e.g. substring) or write " +
          "parquet instead.")

  private def numCell(ref: String, serial: Double, style: Int,
      raw: String = null): Unit = {
    sheet.append("<c r=\"").append(ref).append('"')
    if (style > 0) sheet.append(" s=\"").append(style).append('"')
    sheet.append("><v>")
      .append(if (raw != null) raw else formatNumber(java.lang.Double.valueOf(serial)))
      .append("</v></c>")
  }

  /** Integral numbers without a trailing `.0` (Excel convention; also what
    * pandas emits for int columns). */
  private def formatNumber(n: java.lang.Number): String = n match {
    case d: java.lang.Double =>
      if (d == math.floor(d) && !d.isInfinite && math.abs(d) < 1e15)
        d.longValue().toString
      else d.toString
    case f: java.lang.Float =>
      formatNumber(java.lang.Double.valueOf(f.doubleValue()))
    case other => other.toString
  }

  def close(): Unit = {
    if (!closed) {
      closed = true
      endSheetStream()
      writeCatalogParts()
      zip.close()
    }
  }

  private def endSheetStream(): Unit = {
    sheet.append("</sheetData></worksheet>")
    flushSheet()
    zip.closeEntry()
    rowNum = 0
  }

  // ----------------------------------------------------------- internals

  private def entry(name: String, content: String): Unit = {
    zip.putNextEntry(new ZipEntry(name))
    zip.write(content.getBytes("UTF-8"))
    zip.closeEntry()
  }

  /** Parts independent of the sheet list — written up front. */
  private def writeStaticParts(): Unit = {
    entry("_rels/.rels",
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
        |<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>
        |</Relationships>""".stripMargin)
    // style 0: General; style 1: builtin date (14); style 2: builtin
    // datetime (22); style 3: bold header (General format, bold font)
    entry("xl/styles.xml",
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<styleSheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
        |<fonts count="2"><font><sz val="11"/><name val="Calibri"/></font><font><b/><sz val="11"/><name val="Calibri"/></font></fonts>
        |<fills count="1"><fill><patternFill patternType="none"/></fill></fills>
        |<borders count="1"><border/></borders>
        |<cellStyleXfs count="1"><xf numFmtId="0" fontId="0" fillId="0" borderId="0"/></cellStyleXfs>
        |<cellXfs count="4">
        |<xf numFmtId="0" fontId="0" fillId="0" borderId="0" xfId="0"/>
        |<xf numFmtId="14" fontId="0" fillId="0" borderId="0" xfId="0" applyNumberFormat="1"/>
        |<xf numFmtId="22" fontId="0" fillId="0" borderId="0" xfId="0" applyNumberFormat="1"/>
        |<xf numFmtId="0" fontId="1" fillId="0" borderId="0" xfId="0" applyFont="1"/>
        |</cellXfs>
        |</styleSheet>""".stripMargin)
  }

  /** Catalog parts that enumerate the sheets — written at close, when the
    * final sheet list is known (multi-sheet support). */
  private def writeCatalogParts(): Unit = {
    val overrides = sheetNames.indices.map(i =>
      s"""<Override PartName="/xl/worksheets/sheet${i + 1}.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>""")
      .mkString("\n")
    entry("[Content_Types].xml",
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
         |<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
         |<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>
         |<Default Extension="xml" ContentType="application/xml"/>
         |<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>
         |$overrides
         |<Override PartName="/xl/styles.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.styles+xml"/>
         |</Types>""".stripMargin)
    val sheetsXml = sheetNames.zipWithIndex.map { case (n, i) =>
      s"""<sheet name="${escapeXml(n)}" sheetId="${i + 1}" r:id="rId${i + 1}"/>"""
    }.mkString
    entry("xl/workbook.xml",
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
         |<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
         |<sheets>$sheetsXml</sheets>
         |</workbook>""".stripMargin)
    val rels = sheetNames.indices.map(i =>
      s"""<Relationship Id="rId${i + 1}" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet${i + 1}.xml"/>""")
      .mkString("\n")
    entry("xl/_rels/workbook.xml.rels",
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
         |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
         |$rels
         |<Relationship Id="rId${sheetNames.length + 1}" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/styles" Target="styles.xml"/>
         |</Relationships>""".stripMargin)
  }

  private def startSheetStream(): Unit = {
    zip.putNextEntry(new ZipEntry(s"xl/worksheets/sheet${sheetNames.length}.xml"))
    sheet.append("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""")
      .append("""<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">""")
    if (columnWidths.nonEmpty) {
      sheet.append("<cols>")
      columnWidths.sortBy(_._1).foreach { case (idx, w) =>
        sheet.append("<col min=\"").append(idx + 1).append("\" max=\"")
          .append(idx + 1).append("\" width=\"").append(w)
          .append("\" customWidth=\"1\"/>")
      }
      sheet.append("</cols>")
    }
    sheet.append("<sheetData>")
  }

  private def flushSheet(): Unit = {
    zip.write(sheet.toString.getBytes("UTF-8"))
    sheet.setLength(0)
  }

  /** Is s(i) the start of a literal `_xHHHH_` sequence? */
  private def looksLikeEscape(s: String, i: Int): Boolean =
    i + 6 < s.length && s.charAt(i + 1) == 'x' && s.charAt(i + 6) == '_' &&
      (i + 2 until i + 6).forall { j =>
        val c = s.charAt(j)
        (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f') || (c >= 'A' && c <= 'F')
      }

  private def escapeXml(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length + 16)
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '<' => sb.append("&lt;")
        case '>' => sb.append("&gt;")
        case '&' => sb.append("&amp;")
        case '"' => sb.append("&quot;")
        case '\r' => sb.append("&#13;") // literal CR would be normalized to LF
        case c if c < ' ' && c != '\t' && c != '\n' =>
          sb.append("_x").append(f"${c.toInt}%04X").append('_')
        case '_' if looksLikeEscape(s, i) =>
          sb.append("_x005F_") // literal "_xHHHH_" text must not decode as a char
        case c => sb.append(c)
      }
      i += 1
    }
    sb.toString
  }
}

object XlsxWriter {
  /** Excel's hard per-sheet caps (xlsx stores a 20-bit row index and a
    * 14-bit column index; real Excel refuses to open anything larger, while
    * our own reader would happily round-trip it — exactly the
    * silent-corruption hazard the sheet-name validation closed for names).
    * Enforced in [[XlsxWriter.writeRow]] so every write mode — merged,
    * sharded, sheet-routed, streaming — fails loudly at the offending row. */
  val MaxRowsPerSheet: Int = 1048576
  val MaxColsPerSheet: Int = 16384
  /** Excel's per-cell text cap, in characters; checked per string cell. */
  val MaxCellChars: Int = 32767
}
