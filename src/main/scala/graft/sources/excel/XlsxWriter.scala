package graft.sources.excel

import java.io.{BufferedOutputStream, InputStream, OutputStream}
import java.time.{LocalDate, LocalDateTime}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.unsafe.types.UTF8String

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
  * Rows are rendered as UTF-8 bytes into one reused buffer that goes to
  * deflate as it is, through typed cell calls: one per column for Spark's
  * rows ([[writeSparkRow]]), or dispatched from boxed values by
  * [[writeRow]]: String, java.lang.Boolean, numbers (Byte…Double),
  * LocalDate / LocalDateTime, java.sql.Date / java.sql.Timestamp, null;
  * anything else is written as its `toString`.
  */
sealed abstract class XlsxRowEncoder {
  import XlsxRowEncoder._
  import XlsxWriter.{MaxCellChars, MaxColsPerSheet, MaxRowsPerSheet, colName, rowLimitExceeded}

  /** The sheet named in limit errors. */
  protected def sheetLabel: String

  /** Receives the sheet's UTF-8 bytes, in order: `bytes(0 until len)`,
    * valid until the call returns. */
  protected def emit(bytes: Array[Byte], len: Int): Unit

  /** Compressed bytes written so far (final once closed). */
  def bytesWritten: Long

  protected val sheet = new ByteBuilder
  protected var rowNum = 0
  private var rowStart = 0 // where the open row's bytes begin in `sheet`
  private var col = 0 // cells of the open row so far, nulls included
  private var nulls = 0 // interior nulls not yet written: only a later value does
  private var strOpen = StrOpen // the open row's string cell start: bold in a header
  private val digits = new java.lang.StringBuilder(32)

  /** Append one row; values per the accepted cell types above. */
  def writeRow(values: Iterable[Any]): Unit = writeValues(values, StrOpen)

  /** Append a row rendered with the bold header style (style extension —
    * the data semantics are identical to [[writeRow]]). */
  def writeHeaderRow(values: Iterable[Any]): Unit = writeValues(values, BoldStrOpen)

  /** Append a Spark row: one typed cell call per data column, as built by
    * [[ExcelDataWriter.cells]]. */
  def writeSparkRow(row: InternalRow, cells: Array[XlsxRowEncoder.Cell]): Unit = {
    beginRow(StrOpen)
    var i = 0
    while (i < cells.length) { cells(i)(this, row); i += 1 }
    endRow()
  }

  private def writeValues(values: Iterable[Any], stringOpen: String): Unit = {
    beginRow(stringOpen)
    values.foreach {
      case null => nullCell()
      case s: String => stringCell(UTF8String.fromString(s))
      case b: java.lang.Boolean => boolCell(b)
      case d: LocalDate => numCell(DateOpen, doubleText(ExcelSerialDate.fromDate(d)))
      case d: LocalDateTime => numCell(DateTimeOpen, doubleText(ExcelSerialDate.fromDateTime(d)))
      case d: java.sql.Date =>
        numCell(DateOpen, doubleText(ExcelSerialDate.fromDate(d.toLocalDate)))
      case t: java.sql.Timestamp =>
        numCell(DateTimeOpen, doubleText(ExcelSerialDate.fromDateTime(t.toLocalDateTime)))
      case i: java.lang.Integer => longCell(i.longValue)
      case l: java.lang.Long => longCell(l)
      case d: java.lang.Double => doubleCell(d)
      case f: java.lang.Float => doubleCell(f.doubleValue)
      case n: java.lang.Number => numCell(NumOpen, n.toString)
      case other => strCell(UTF8String.fromString(other.toString), StrOpen)
    }
    endRow()
  }

  private def beginRow(stringOpen: String): Unit = {
    if (rowNum >= MaxRowsPerSheet) throw rowLimitExceeded(sheetLabel)
    rowNum += 1
    rowStart = sheet.length
    col = 0
    nulls = 0
    strOpen = stringOpen
    sheet.appendAscii("<row>")
  }

  private def endRow(): Unit = {
    if (col > MaxColsPerSheet)
      failRow(s"Excel column limit exceeded: row $rowNum of sheet " +
        s"'$sheetLabel' has $col cells but the xlsx format caps a " +
        s"sheet at $MaxColsPerSheet columns (Excel refuses " +
        "to open wider sheets).")
    sheet.appendAscii("</row>")
    if (sheet.length > (1 << 16)) flushSheet()
  }

  /** Drop the partly written row, so the writer stays usable, and fail. */
  private def failRow(msg: String): Nothing = {
    sheet.length = rowStart
    rowNum -= 1
    throw new org.apache.spark.SparkException(msg)
  }

  /** Starts the next non-null cell, writing the interior nulls before it. */
  private def openCell(open: String): Unit = {
    while (nulls > 0) { sheet.appendAscii("<c/>"); nulls -= 1 }
    sheet.appendAscii(open)
    col += 1
  }

  // ---------------------------------------------------- typed cell calls

  def nullCell(): Unit = { nulls += 1; col += 1 }

  def stringCell(s: UTF8String): Unit = strCell(s, strOpen)

  def longCell(v: Long): Unit = { digits.setLength(0); numCell(NumOpen, digits.append(v)) }

  def doubleCell(v: Double): Unit = numCell(NumOpen, doubleText(v))

  def boolCell(v: Boolean): Unit =
    openCell(if (v) "<c t=\"b\"><v>1</v></c>" else "<c t=\"b\"><v>0</v></c>")

  /** A Spark date: days since 1970-01-01. */
  def dateCell(days: Int): Unit =
    numCell(DateOpen, doubleText(ExcelSerialDate.fromEpochDay(days)))

  /** A Spark timestamp: microseconds since 1970-01-01 UTC. */
  def timestampCell(micros: Long): Unit =
    numCell(DateTimeOpen, doubleText(ExcelSerialDate.fromEpochMicros(micros)))

  private def strCell(s: UTF8String, open: String): Unit = {
    // a cell's UTF-16 length never exceeds its UTF-8 length
    if (s.numBytes > MaxCellChars && s.toString.length > MaxCellChars)
      failRow(s"Excel cell limit exceeded: column ${colName(col)} " +
        s"(${col + 1}) of row $rowNum in sheet '$sheetLabel' holds " +
        s"${s.toString.length} characters but an xlsx cell caps text at " +
        s"$MaxCellChars (Excel truncates or refuses longer " +
        "cells). Truncate the column upstream (e.g. substring) or write " +
        "parquet instead.")
    openCell(open)
    appendEscaped(sheet, s)
    sheet.appendAscii("</t></is></c>")
  }

  private def numCell(open: String, text: CharSequence): Unit = {
    openCell(open)
    sheet.appendAscii(text)
    sheet.appendAscii("</v></c>")
  }

  private def doubleText(d: Double): CharSequence = {
    digits.setLength(0)
    if (rendersAsLong(d)) digits.append(d.toLong) else digits.append(d)
  }

  protected def flushSheet(): Unit = if (sheet.length > 0) {
    emit(sheet.bytes, sheet.length)
    sheet.reset()
  }
}

object XlsxRowEncoder {
  /** One column's typed cell call: reads the column from the row and
    * hands it to the encoder. */
  type Cell = (XlsxRowEncoder, InternalRow) => Unit

  private final val StrOpen = "<c t=\"inlineStr\"><is><t xml:space=\"preserve\">"
  private final val BoldStrOpen = "<c s=\"3\" t=\"inlineStr\"><is><t xml:space=\"preserve\">"
  private final val NumOpen = "<c><v>"
  private final val DateOpen = "<c s=\"1\"><v>" // style 1: builtin date
  private final val DateTimeOpen = "<c s=\"2\"><v>" // style 2: builtin datetime

  /** Integral doubles under 1e15 render without ".0" (Excel convention;
    * also what pandas emits for int columns): the writer's number cells
    * and a number read back as a string both keep this text. */
  private[excel] def rendersAsLong(d: Double): Boolean =
    d == math.floor(d) && math.abs(d) < 1e15

  /** `s` escaped for element text or an attribute value. */
  private[excel] def escaped(s: String): String = {
    val b = new ByteBuilder
    appendEscaped(b, UTF8String.fromString(s))
    b.utf8
  }

  /** Appends `s` escaped as XML text, byte by byte: `&`, `<`, `>`, `"` and
    * CR become references, other C0 controls but tab and LF become OOXML's
    * `_xHHHH_`, and the `_` of a literal `_xHHHH_` becomes `_x005F_` so the
    * text does not decode as a character. Invalid UTF-8 is written as
    * `toString` decodes it (each bad sequence as U+FFFD). */
  private[excel] def appendEscaped(out: ByteBuilder, utf8: UTF8String): Unit = {
    val s = if (utf8.isValid) utf8 else UTF8String.fromString(utf8.toString)
    var i = 0
    while (i < s.numBytes) {
      val c = s.getByte(i)
      if (c >= '?' && c != '_' || c < 0) out += c // the common case, and non-ASCII
      else c.toChar match {
        case '&' => out.appendAscii("&amp;")
        case '<' => out.appendAscii("&lt;")
        case '>' => out.appendAscii("&gt;")
        case '"' => out.appendAscii("&quot;")
        case '\r' => out.appendAscii("&#13;") // a literal CR would read back as LF
        case '_' if looksLikeEscape(s, i) => out.appendAscii("_x005F_")
        case ch if ch < ' ' && ch != '\t' && ch != '\n' => out.appendAscii(f"_x${c.toInt}%04X_")
        case _ => out += c
      }
      i += 1
    }
  }

  /** Is byte `i` of `s` the `_` of a literal `_xHHHH_`? */
  private def looksLikeEscape(s: UTF8String, i: Int): Boolean = {
    def hex(j: Int): Boolean = {
      val c = s.getByte(j)
      (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f') || (c >= 'A' && c <= 'F')
    }
    i + 6 < s.numBytes && s.getByte(i + 1) == 'x' && s.getByte(i + 6) == '_' &&
      hex(i + 2) && hex(i + 3) && hex(i + 4) && hex(i + 5)
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
    sheet.appendAscii("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
      """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">""")
    if (columnWidths.nonEmpty) {
      sheet.appendAscii("<cols>")
      columnWidths.sortBy(_._1).foreach { case (idx, w) =>
        sheet.appendAscii(
          s"""<col min="${idx + 1}" max="${idx + 1}" width="$w" customWidth="1"/>""")
      }
      sheet.appendAscii("</cols>")
    }
    sheet.appendAscii("<sheetData>")
  }

  private def endSheetStream(): Unit = {
    sheet.appendAscii("</sheetData></worksheet>")
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
      s"""<sheet name="${XlsxRowEncoder.escaped(n)}" sheetId="${i + 1}" r:id="rId${i + 1}"/>"""
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
}
