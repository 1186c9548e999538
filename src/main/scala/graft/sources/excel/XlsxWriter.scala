package graft.sources.excel

import java.io.{BufferedOutputStream, InputStream, OutputStream}
import java.nio.{ByteBuffer, CharBuffer}
import java.nio.charset.CodingErrorAction
import java.nio.charset.StandardCharsets.UTF_8
import java.time.{LocalDate, LocalDateTime}

/** The `<row>` encoding shared by [[XlsxWriter]] (whole workbooks) and
  * [[XlsxRowSegment]] (one task's rows of a merged sheet).
  *
  * Rows and cells are positional: neither carries an `r` reference (both
  * are optional, ECMA-376 Part 1 §18.3.1.73 and §18.3.1.4), so encoded
  * rows do not depend on where they land in the sheet and a driver can
  * concatenate the tasks' rows as they are. An interior null is an empty
  * `<c/>` that keeps the following cells in place; trailing nulls are
  * omitted.
  *
  * Strings are written inline (`t="inlineStr"`) rather than via a shared
  * string table, so a single pass suffices. Dates/timestamps are written as
  * Excel serial numbers with a date or datetime number format; booleans as
  * `t="b"`; numbers bare.
  *
  * Accepted cell types: String, java.lang.Boolean, numbers (Byte…Double),
  * LocalDate / LocalDateTime, java.sql.Date / java.sql.Timestamp, null.
  */
sealed abstract class XlsxRowEncoder {

  /** The sheet named in limit errors. */
  protected def sheetLabel: String

  /** Receives the sheet's UTF-8 bytes, in order: `bytes(0 until len)`,
    * valid until the call returns. */
  protected def emit(bytes: Array[Byte], len: Int): Unit

  /** Compressed bytes written so far (final once closed). */
  def bytesWritten: Long

  protected val sheet = new java.lang.StringBuilder(1 << 16)
  protected var rowNum = 0

  /** Append one row; values per the accepted cell types above. */
  def writeRow(values: Iterable[Any]): Unit = writeRow(values, headerStyle = false)

  /** Append a row rendered with the bold header style (style extension —
    * the data semantics are identical to [[writeRow]]). */
  def writeHeaderRow(values: Iterable[Any]): Unit = writeRow(values, headerStyle = true)

  private def writeRow(values: Iterable[Any], headerStyle: Boolean): Unit = {
    if (rowNum >= XlsxWriter.MaxRowsPerSheet)
      throw XlsxWriter.rowLimitExceeded(sheetLabel)
    rowNum += 1
    val rowStart = sheet.length
    val strOpen =
      if (headerStyle) "<c s=\"3\" t=\"inlineStr\"><is><t xml:space=\"preserve\">"
      else XlsxWriter.InlineStrOpen
    sheet.append("<row>")
    var col = 0
    var nulls = 0 // interior nulls not yet written: only a later value does
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
            strCell(XlsxWriter.InlineStrOpen, other.toString, col, rowStart)
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
    if (sheet.length > (1 << 16)) flushSheet()
  }

  /** Drop the partly written row, so the writer stays usable, and fail. */
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
    XlsxWriter.appendEscaped(sheet, s)
    sheet.append("</t></is></c>")
  }

  private def numCell(serial: Double, style: Int): Unit = {
    sheet.append("<c s=\"").append(style).append("\"><v>")
    appendDouble(serial)
    sheet.append("</v></c>")
  }

  /** Integral numbers without a trailing `.0` (Excel convention; also what
    * pandas emits for int columns). */
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

  // UTF-8 encoding through reused buffers, so a flush allocates no copy
  // of the text (unpaired surrogates become '?', as in String.getBytes)
  private val utf8 = UTF_8.newEncoder()
    .onMalformedInput(CodingErrorAction.REPLACE)
    .onUnmappableCharacter(CodingErrorAction.REPLACE)
  private var chars = new Array[Char](0)
  private var bytes = new Array[Byte](0)

  protected def flushSheet(): Unit = if (sheet.length > 0) {
    val n = sheet.length
    if (chars.length < n) { chars = new Array[Char](n); bytes = new Array[Byte](3 * n) }
    sheet.getChars(0, n, chars, 0)
    val out = ByteBuffer.wrap(bytes)
    utf8.reset()
    utf8.encode(CharBuffer.wrap(chars, 0, n), out, true)
    utf8.flush(out)
    emit(bytes, out.position())
    sheet.setLength(0)
  }
}

/** Streaming `.xlsx` writer on JDK built-ins (constant memory — the
  * reference's writer materializes the whole partition in a pandas
  * DataFrame first; we stream row by row instead). Rows are encoded as
  * described on [[XlsxRowEncoder]].
  *
  * Each sheet part is a sequence of raw-DEFLATE pieces: the writer's own
  * text, and any task segments spliced in with [[appendSegment]], which
  * are copied without being inflated. The part's CRC-32 is combined from
  * the pieces' CRCs (see [[ZipWriter.crc32Combine]]).
  *
  * Presentation extensions (both optional, applied to every sheet):
  * `columnWidths` — (0-based column index, width in characters) pairs
  * emitted as a `<cols>` block; [[writeHeaderRow]] — a row rendered with
  * the bold header style.
  */
final class XlsxWriter(out: OutputStream, sheetName: String = "Sheet1",
    columnWidths: Seq[(Int, Double)] = Nil) extends XlsxRowEncoder {

  private val zip = new ZipWriter(out)
  private var piece: DeflatePiece = null // the open piece of the sheet part
  private var partCrc = 0L
  private var partBytes = 0L
  private var closed = false
  private val sheetNames = scala.collection.mutable.ArrayBuffer(sheetName)

  writeStaticParts()
  startSheetStream()

  protected def sheetLabel: String = sheetNames.last

  protected def emit(bytes: Array[Byte], len: Int): Unit = {
    if (piece == null) piece = new DeflatePiece(zip.data)
    piece.write(bytes, 0, len)
  }

  def bytesWritten: Long = zip.bytesWritten

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

  /** Append a [[XlsxRowSegment]]'s rows to the current sheet by copying
    * its deflated bytes: `in` supplies exactly `seg.deflatedBytes` bytes. */
  def appendSegment(in: InputStream, seg: XlsxWriter.Segment): Unit = {
    require(!closed, "writer is closed")
    if (rowNum + seg.rows > XlsxWriter.MaxRowsPerSheet)
      throw XlsxWriter.rowLimitExceeded(sheetLabel)
    if (seg.deflatedBytes > 0) {
      endPiece(last = false)
      ZipWriter.copy(in, zip.data, seg.deflatedBytes)
      addToPart(seg)
      rowNum += seg.rows.toInt
    }
  }

  def close(): Unit = {
    if (!closed) {
      closed = true
      endSheetStream()
      writeCatalogParts()
      zip.close()
    }
  }

  // ----------------------------------------------------------- internals

  /** Closes the open piece; the part's `last` one always exists. */
  private def endPiece(last: Boolean): Unit = {
    flushSheet()
    if (piece == null && last) piece = new DeflatePiece(zip.data)
    if (piece != null) { addToPart(piece.close(last)); piece = null }
  }

  private def addToPart(s: XlsxWriter.Segment): Unit = {
    partCrc = ZipWriter.crc32Combine(partCrc, s.crc, s.rawBytes)
    partBytes += s.rawBytes
  }

  private def startSheetStream(): Unit = {
    zip.beginEntry(s"xl/worksheets/sheet${sheetNames.length}.xml")
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

  private def endSheetStream(): Unit = {
    sheet.append("</sheetData></worksheet>")
    endPiece(last = true)
    zip.endEntry(partCrc, partBytes)
    partCrc = 0L
    partBytes = 0L
    rowNum = 0
  }

  /** Parts independent of the sheet list — written up front. */
  private def writeStaticParts(): Unit = {
    zip.entry("_rels/.rels",
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
        |<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>
        |</Relationships>""".stripMargin)
    // style 0: General; style 1: builtin date (14); style 2: builtin
    // datetime (22); style 3: bold header (General format, bold font)
    zip.entry("xl/styles.xml",
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
    zip.entry("[Content_Types].xml",
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
         |<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
         |<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>
         |<Default Extension="xml" ContentType="application/xml"/>
         |<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>
         |$overrides
         |<Override PartName="/xl/styles.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.styles+xml"/>
         |</Types>""".stripMargin)
    val sheetsXml = sheetNames.zipWithIndex.map { case (n, i) =>
      s"""<sheet name="${XlsxWriter.escapeXml(n)}" sheetId="${i + 1}" r:id="rId${i + 1}"/>"""
    }.mkString
    zip.entry("xl/workbook.xml",
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
         |<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
         |<sheets>$sheetsXml</sheets>
         |</workbook>""".stripMargin)
    val rels = sheetNames.indices.map(i =>
      s"""<Relationship Id="rId${i + 1}" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet${i + 1}.xml"/>""")
      .mkString("\n")
    zip.entry("xl/_rels/workbook.xml.rels",
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
         |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
         |$rels
         |<Relationship Id="rId${sheetNames.length + 1}" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/styles" Target="styles.xml"/>
         |</Relationships>""".stripMargin)
  }
}

/** One task's rows of a merged sheet: the `<row>` elements alone, raw
  * DEFLATE closed with `SYNC_FLUSH`, so [[XlsxWriter.appendSegment]] can
  * splice them into a workbook byte for byte. [[close]] returns what the
  * splice needs; no rows means no bytes. */
final class XlsxRowSegment(out: OutputStream, sheetName: String)
    extends XlsxRowEncoder {

  private val os = new BufferedOutputStream(out, 1 << 16)
  private var piece: DeflatePiece = null
  private var result: XlsxWriter.Segment = null

  protected def sheetLabel: String = sheetName

  protected def emit(bytes: Array[Byte], len: Int): Unit = {
    if (piece == null) piece = new DeflatePiece(os)
    piece.write(bytes, 0, len)
  }

  def bytesWritten: Long =
    if (result != null) result.deflatedBytes
    else if (piece == null) 0L else piece.deflatedBytes

  def close(): XlsxWriter.Segment = {
    if (result == null) {
      flushSheet()
      val s = if (piece == null) XlsxWriter.Segment(0L, 0L, 0L, 0L)
        else piece.close(last = false)
      os.close()
      result = s.copy(rows = rowNum.toLong)
    }
    result
  }
}

object XlsxWriter {
  /** Excel's hard per-sheet caps (xlsx stores a 20-bit row index and a
    * 14-bit column index; real Excel refuses to open anything larger, while
    * our own reader would happily round-trip it — exactly the
    * silent-corruption hazard the sheet-name validation closed for names).
    * Enforced by every row write and every splice, so each write mode —
    * merged, sharded, sheet-routed, streaming — fails loudly. */
  val MaxRowsPerSheet: Int = 1048576
  val MaxColsPerSheet: Int = 16384
  /** Excel's per-cell text cap, in characters; checked per string cell. */
  val MaxCellChars: Int = 32767

  /** A raw-DEFLATE run of sheet bytes: the rows it holds, the length and
    * CRC-32 of its uncompressed bytes, and its compressed length. */
  final case class Segment(rows: Long, rawBytes: Long, crc: Long,
      deflatedBytes: Long)

  def rowLimitExceeded(sheet: String): org.apache.spark.SparkException =
    new org.apache.spark.SparkException(
      s"Excel row limit exceeded: sheet '$sheet' cannot hold " +
        s"more than $MaxRowsPerSheet rows (the xlsx format's " +
        "hard cap; Excel refuses to open larger sheets). Shard the output " +
        "(option 'shardedOutput'), route rows across sheets (option " +
        "'sheetColumn'), or write parquet instead.")

  /** 0-based column index → column letters ("A", …, "Z", "AA", …). */
  def colName(idx: Int): String = {
    val sb = new StringBuilder
    var i = idx + 1
    while (i > 0) {
      val rem = (i - 1) % 26
      sb.insert(0, ('A' + rem).toChar)
      i = (i - 1) / 26
    }
    sb.toString
  }

  private[excel] val InlineStrOpen = "<c t=\"inlineStr\"><is><t xml:space=\"preserve\">"

  private def escapeXml(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length + 16)
    appendEscaped(sb, s)
    sb.toString
  }

  /** Is s(i) the start of a literal `_xHHHH_` sequence? */
  private def looksLikeEscape(s: String, i: Int): Boolean =
    i + 6 < s.length && s.charAt(i + 1) == 'x' && s.charAt(i + 6) == '_' &&
      (i + 2 until i + 6).forall { j =>
        val c = s.charAt(j)
        (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f') || (c >= 'A' && c <= 'F')
      }

  private[excel] def appendEscaped(sb: java.lang.StringBuilder, s: String): Unit = {
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
  }
}
