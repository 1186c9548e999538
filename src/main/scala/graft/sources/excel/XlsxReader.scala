package graft.sources.excel

import java.io.{File, InputStream}
import java.util.zip.ZipFile

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

/** Streaming `.xlsx` reader on JDK built-ins only — no Apache POI on the
  * classpath (SURVEY.md §7).
  *
  * An xlsx file is a ZIP of OOXML parts (read with java.util.zip), and
  * every part goes through one byte-level tokenizer, [[XmlScanner]]:
  *   - the kilobyte-sized cold parts are read whole when the reader opens:
  *     `xl/workbook.xml` (sheet catalog + 1904 date system flag),
  *     `xl/_rels/workbook.xml.rels` (sheet → worksheet part) and
  *     `xl/styles.xml` (number formats, to tell dates from plain numbers);
  *   - `xl/worksheets/sheetN.xml` streams row by row in constant memory,
  *     decoding only the cells of the columns asked for;
  *   - `xl/sharedStrings.xml` is parsed on demand, only as far as the
  *     highest index a decoded cell has asked for (openpyxl, the parser
  *     behind the reference connector, loads it whole).
  * Any part that ends before its root element closes fails as truncated.
  *
  * [[XlsxReader.open]] is the one way the connector opens a workbook by
  * URI; a workbook off the local file system is read from a temp copy that
  * the reader deletes when it closes, or when it fails to open.
  *
  * Cell values surface as: `null`, `java.lang.Boolean`, `java.lang.Double`,
  * `String`, `java.time.LocalDate` (date-only format, no time fraction) or
  * `java.time.LocalDateTime` (any other date/time format). Sparse cells and
  * wholly skipped rows yield nulls, mirroring pandas' NaN fill.
  */
final class XlsxReader private (file: File, name: String, staged: Boolean)
    extends AutoCloseable {
  import XlsxReader._

  /** Reads a workbook on the local file system. */
  def this(file: File) = this(file, file.getPath, staged = false)

  private val zip =
    try new ZipFile(file)
    catch { case e: Throwable => if (staged) file.delete(); throw e }

  private[excel] def openPart(entry: String): Option[InputStream] =
    Option(zip.getEntry(entry)).map(zip.getInputStream)

  /** What this reader's scans have done so far (the DSv2 scan metrics). */
  val counters = new ScanCounters

  // `xl/sharedStrings.xml` is parsed on demand: the first shared-string
  // cell opens it, and each lookup reads only as far as its index, so a
  // scan that decodes no string column never touches the table
  private var sstScanner: XmlScanner = _
  private var sstDone = false
  private val sstTable = ArrayBuffer.empty[String]

  val (sheets: Seq[Sheet], date1904: Boolean) = closeOnError(parseWorkbook(parseRels()))
  /** Each `cellXfs` style index's date kind. */
  private[excel] val styleKinds: IndexedSeq[DateKind.Value] = closeOnError(parseStyles())

  /** Runs `body`, closing this reader if it throws: a constructor that
    * throws after opening a reader leaves no caller to close it. */
  private[excel] def closeOnError[T](body: => T): T =
    try body catch { case e: Throwable => close(); throw e }

  /** Sheet index for an option value that may be a name or a 0-based index
    * (the reference accepts both: default `0`, or `sheetName="Sheet2"`). */
  def resolveSheet(sheetOpt: String): Sheet = {
    val byName = sheets.find(_.name == sheetOpt)
    byName.getOrElse {
      val idx = try sheetOpt.toInt catch {
        case _: NumberFormatException =>
          throw new IllegalArgumentException(
            s"Sheet '$sheetOpt' not found in $name; " +
              s"available: ${sheets.map(_.name).mkString(", ")}")
      }
      if (idx < 0 || idx >= sheets.size)
        throw new IllegalArgumentException(
          s"Sheet index $idx out of range (${sheets.size} sheets) in $name")
      sheets(idx)
    }
  }

  // ------------------------------------------------------------------ rows

  /** Last (1-based) row number of a sheet, for row-range split planning:
    * the `<dimension ref="A1:H5000">` header when present, else a
    * streaming tag count (no cell decode). May legitimately under-report
    * when a writer emits a stale dimension — callers must keep the final
    * split unbounded so no row can be lost to a wrong dimension. */
  def lastRowNumber(sheet: Sheet): Int = lastRowNumber(sheet, trustDimension = true)

  /** With `trustDimension=false`: the EXACT last present row number via a
    * full scan that steps over every row without entering a cell — the
    * dense row sequence the reader emits ends exactly there. */
  def lastRowNumber(sheet: Sheet, trustDimension: Boolean): Int = {
    val in = openPart(sheet.entry).getOrElse(return 0)
    var last = 0
    val sc = sheetScanner(in, sheet, () => last)
    val tags = new PartTags(sc, SheetData)
    try {
      while (true) {
        if (!tags.next()) return last
        if (sc.isEnd) { if (sc.nameIs(SheetData)) return last }
        else if (sc.nameIs(Row)) {
          last = rowNumber(sc, last)
          if (!sc.selfClosing) sc.skipTo(Row)
        } else if (sc.nameIs(SheetData) && sc.selfClosing) return last
        else if (trustDimension && sc.nameIs(Dimension)) {
          while (sc.nextAttr()) if (sc.attrIs(Ref)) {
            // "A1:H5000" → 5000; "A1" → 1. A row that is no int or lies
            // past the sheet cap is ignored: the counting scan goes on
            val ref = sc.value
            val lastCell = ref.substring(ref.indexOf(':') + 1)
            val digits = lastCell.dropWhile(_.isLetter)
            val row = if (digits.forall(_.isDigit)) digits.toIntOption else None
            if (row.exists(_ <= XlsxWriter.MaxRowsPerSheet)) return row.get
          }
        }
      }
      last
    } finally sc.close()
  }

  /** Stream the rows of one sheet. Each row is a possibly-ragged array —
    * trailing missing cells are simply absent; interior gaps are null.
    * Fully empty rows inside the data range come out as empty arrays. */
  def rowIterator(sheet: Sheet): Iterator[Array[Any]] =
    rowIterator(sheet, 1, Int.MaxValue)

  def rowIterator(sheet: Sheet, startRow: Int,
      endRowExcl: Int): Iterator[Array[Any]] =
    rowIterator(sheet, startRow, endRowExcl, null)

  /** Stream rows whose dense (1-based) row number is in
    * [startRow, endRowExcl). Because interior gaps materialize as empty
    * arrays, the k-th dense row IS sheet row k, so ranges over emitted
    * positions and over sheet row numbers coincide. Rows before the range
    * are stepped over without entering a cell, and the stream closes as
    * soon as a row at/after endRowExcl is seen.
    *
    * `columns` (null = all) is the mask of 0-based columns to decode: any
    * other cell reads as null without its value being looked at, and when
    * no column is masked each row comes back empty. A part that ends
    * before `</sheetData>` throws rather than reading as fewer rows. */
  def rowIterator(sheet: Sheet, startRow: Int, endRowExcl: Int,
      columns: Array[Boolean]): Iterator[Array[Any]] = {
    val in = openPart(sheet.entry).getOrElse(
      throw new IllegalStateException(s"Missing worksheet part ${sheet.entry}"))
    new RowScan(in, sheet, startRow, endRowExcl, columns)
  }

  private final class RowScan(in: InputStream, sheet: Sheet, startRow: Int,
      endRowExcl: Int, columns: Array[Boolean])
      extends Iterator[Array[Any]] with AutoCloseable {
    private var lastRowNum = 0 // 1-based row number of last seen row
    private val sc = sheetScanner(in, sheet, () => lastRowNum)
    private val tags = new PartTags(sc, SheetData)
    // null decodes every column: a mask that is all true, and true past
    // its end too, so both modes run the same test on a cell
    private val mask = if (columns == null) Array.fill(64)(true) else columns
    private val pastMask = columns == null
    private val noCells = columns != null && !columns.contains(true)
    private var cells = new Array[Any](16) // the row being read; null past width
    private var nextRow: Array[Any] = _
    private var pendingGap = 0 // in-range empty rows to emit before nextRow
    private var exhausted = false

    advance()

    private def advance(): Unit = {
      nextRow = null
      while (nextRow == null && pendingGap == 0 && !exhausted) {
        if (!tags.next()) finish()
        else if (sc.isEnd) { if (sc.nameIs(SheetData)) finish() }
        else if (sc.nameIs(Row)) {
          counters.rows += 1
          val rowNum = rowNumber(sc, lastRowNum)
          if (rowNum >= endRowExcl) {
            // emit any in-range gap before the out-of-range row, then stop
            pendingGap = gapSize(lastRowNum, endRowExcl)
            finish()
          } else {
            pendingGap = gapSize(lastRowNum, rowNum)
            lastRowNum = rowNum
            if (rowNum < startRow || noCells) {
              if (!sc.selfClosing) sc.skipTo(Row)
              if (rowNum >= startRow) nextRow = EmptyRow
            } else nextRow = readRow()
          }
        } else if (sc.nameIs(SheetData) && sc.selfClosing) finish()
      }
    }

    /** Rows strictly between lastSeen and next that fall in range. */
    private def gapSize(lastSeen: Int, next: Int): Int = {
      val from = math.max(lastSeen + 1, startRow)
      val to = math.min(next - 1, endRowExcl - 1)
      math.max(0, to - from + 1)
    }

    /** The cells of the current `<row>`; a cell whose reference repeats
      * an earlier column overwrites it. */
    private def readRow(): Array[Any] = {
      if (sc.selfClosing) return EmptyRow
      var width = 0
      while (true) {
        if (!sc.nextTag()) sc.truncated()
        if (sc.isEnd) {
          if (sc.nameIs(Row)) {
            val row = java.util.Arrays.copyOf(cells.asInstanceOf[Array[AnyRef]], width)
            // skipped cells widen the row without growing `cells`
            java.util.Arrays.fill(cells.asInstanceOf[Array[AnyRef]], 0,
              math.min(width, cells.length), null)
            return row.asInstanceOf[Array[Any]]
          }
        } else if (sc.nameIs(C)) {
          var col = width
          var wanted = if (col < mask.length) mask(col) else pastMask
          var kind = CellNumber
          var style = NoStyle
          var attrs = sc.nextAttr()
          while (attrs) {
            if (sc.attrIs('r')) {
              col = sc.columnValue
              if (col < 0) sc.fail("a cell reference without a column")
              wanted = if (col < mask.length) mask(col) else pastMask
            } else if (sc.attrIs('t')) kind = cellKind(sc)
            else if (sc.attrIs('s')) style = sc.intValue(trim = true, BadStyle)
            // a cell not asked for needs nothing but its column
            attrs = (wanted || !sc.attrIs('r')) && sc.nextAttr()
          }
          if (wanted) {
            val v = readCell(kind, style, col)
            if (col >= cells.length)
              cells = java.util.Arrays.copyOf(cells.asInstanceOf[Array[AnyRef]],
                math.max(col + 1, cells.length * 2)).asInstanceOf[Array[Any]]
            cells(col) = v
            counters.cellsDecoded += 1
          } else {
            if (!sc.selfClosing) sc.skipTo(C)
            counters.cellsSkipped += 1
          }
          width = math.max(width, col + 1)
        }
      }
      EmptyRow
    }

    /** The value of the current `<c>`: its `<v>` and `<is>` children
      * (at any depth; a formula's `<f>` is stepped over). A value that does
      * not decode fails naming its cell, `col` of the current row. */
    private def readCell(kind: Int, style: Int, col: Int): Any = {
      var v: String = null
      var inlineStr: String = null
      if (!sc.selfClosing) {
        var done = false
        while (!done) {
          if (!sc.nextTag()) sc.truncated()
          if (sc.isEnd) done = sc.nameIs(C)
          else if (sc.nameIs(V)) v = sc.text()
          else if (sc.nameIs(Is)) inlineStr = sc.richText(Is)
          else if (sc.nameIs(F) && !sc.selfClosing) sc.skipTo(F)
        }
      }
      try decodeCell(kind, style, v, inlineStr) catch {
        case e @ (_: NumberFormatException | _: IndexOutOfBoundsException |
            _: java.time.DateTimeException) => undecodable(col, e)
      }
    }

    private def undecodable(col: Int, e: Throwable): Nothing =
      sc.fail(s"cell ${XlsxWriter.colName(col)}$lastRowNum does not decode ($e)", e)

    private def finish(): Unit = { exhausted = true; sc.close() }

    override def hasNext: Boolean = pendingGap > 0 || nextRow != null
    override def next(): Array[Any] = {
      if (pendingGap > 0) { pendingGap -= 1; EmptyRow }
      else {
        val out = nextRow
        advance()
        out
      }
    }
    override def close(): Unit = sc.close()
  }

  /** The tags of a part, counting open elements so that the end of input
    * tells a complete part from one cut short, which fails as truncated.
    * In a sheet part (`body` = `<sheetData>`) the count stops once the body
    * opens, where the row loops take over and may skip whole elements; a
    * complete part with no `<sheetData>` (a chart sheet) reads as no rows.
    * With `body` null every tag is counted. */
  private final class PartTags(sc: XmlScanner, body: Array[Byte]) {
    private var depth = 0
    private var inBody = false
    private var rootClosed = false

    /** Steps to the next tag; false at the end of a complete part. */
    def next(): Boolean = {
      if (!sc.nextTag()) { if (rootClosed) return false else sc.truncated() }
      if (!inBody) {
        if (sc.isEnd) { depth -= 1; rootClosed = depth == 0 }
        else if (sc.selfClosing) rootClosed = depth == 0
        else if (body != null && sc.nameIs(body)) inBody = true
        else depth += 1
      }
      true
    }
  }

  private def sheetScanner(in: InputStream, sheet: Sheet, row: () => Int): XmlScanner =
    new XmlScanner(in, n => counters.sheetBytes += n,
      () => s"$name, sheet '${sheet.name}' (${sheet.entry}), row ${row()}")

  /** The current `<row>`'s `r` attribute, or the one after `last`. A row
    * past the sheet's last fails: it would read as that many empty rows. */
  private def rowNumber(sc: XmlScanner, last: Int): Int = {
    var n = last + 1
    var more = sc.nextAttr()
    while (more) if (sc.attrIs('r')) {
      n = sc.intValue(trim = false, Int.MinValue)
      if (n == Int.MinValue) sc.fail(s"a row number '${sc.value}'")
      more = false
    } else more = sc.nextAttr()
    if (n > XlsxWriter.MaxRowsPerSheet)
      sc.fail(s"row number $n past the last row (${XlsxWriter.MaxRowsPerSheet})")
    n
  }

  private def cellKind(sc: XmlScanner): Int =
    if (sc.valueIs(TypeShared)) CellShared
    else if (sc.valueIs(TypeInline)) CellInline
    else if (sc.valueIs(TypeStr)) CellStr
    else if (sc.valueIs(TypeBool)) CellBool
    else if (sc.valueIs(TypeDate)) CellDate
    else if (sc.valueIs(TypeError)) CellError
    else CellNumber

  /** One cell's value from its type (a `Cell*` kind), style index
    * ([[NoStyle]] when absent, [[BadStyle]] when not a number), `<v>` text
    * and `<is>` rich text. */
  private[excel] def decodeCell(kind: Int, style: Int, v: String,
      inlineStr: String): Any = kind match {
    case CellInline => if (inlineStr == null) null else unescapeOoxml(inlineStr)
    case CellShared => if (v == null) null else sharedString(v.trim.toInt)
    case CellStr =>
      if (v == null) null else unescapeOoxml(v) // cached formula result
    case CellBool =>
      if (v == null) null
      else java.lang.Boolean.valueOf(v.trim == "1" || v.trim.equalsIgnoreCase("true"))
    case CellDate => // ISO-8601 date cell (ECMA-376 §18.17.4.7, rare but legal)
      if (v == null || v.trim.isEmpty) null
      else {
        val s = v.trim
        // xsd ISO-8601 legally carries an optional zone designator
        // ("…T00:00:00Z", "…+09:00"). Offsets are normalized to UTC
        // (same instant) for datetimes and dropped for pure dates
        // (ISO_DATE accepts-and-ignores a trailing offset).
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
        styleKind(style) match {
          case DateKind.DateOnly if d == math.floor(d) =>
            ExcelSerialDate.toDate(d, date1904)
          case DateKind.DateOnly | DateKind.DateTime =>
            ExcelSerialDate.toDateTime(d, date1904)
          case DateKind.None => java.lang.Double.valueOf(d)
        }
      }
  }

  private def styleKind(style: Int): DateKind.Value =
    if (style == BadStyle) throw new NumberFormatException("malformed cell style index")
    else if (style >= 0 && style < styleKinds.length) styleKinds(style)
    else DateKind.None

  // ------------------------------------------------------- shared strings

  private def sharedString(i: Int): String = {
    while (i >= sstTable.length && !sstDone) readSharedString()
    sstTable(i)
  }

  /** Parses the next `<si>` entry, or finds the table's end. */
  private def readSharedString(): Unit = {
    if (sstScanner == null) openPart(SharedStringsPart) match {
      case None => sstDone = true; return
      case Some(in) =>
        sstScanner = new XmlScanner(in, _ => (),
          () => s"$name, $SharedStringsPart, entry ${sstTable.length}")
    }
    val sc = sstScanner
    while (true) {
      if (!sc.nextTag()) sc.truncated()
      if (sc.nameIs(Sst) && (sc.isEnd || sc.selfClosing)) {
        sstDone = true
        sc.close()
        return
      }
      if (!sc.isEnd && sc.nameIs(Si)) {
        sstTable += unescapeOoxml(sc.richText(Si))
        counters.sstEntries += 1
        return
      }
    }
  }

  // ------------------------------------------------------- workbook parts

  /** Runs `onTag` at every tag of a cold part, if the part exists. Its
    * bytes are not sheet bytes: they count toward no scan metric. */
  private def scanPart(part: String)(onTag: XmlScanner => Unit): Unit =
    openPart(part).foreach { in =>
      val sc = new XmlScanner(in, _ => (), () => s"$name, $part")
      val tags = new PartTags(sc, null)
      try while (tags.next()) onTag(sc) finally sc.close()
    }

  /** The current tag's values of the attributes `names`, null if absent. */
  private def attrs(sc: XmlScanner, names: Array[Byte]*): Array[String] = {
    val out = new Array[String](names.length)
    while (sc.nextAttr()) {
      val i = names.indexWhere(sc.attrIs)
      if (i >= 0) out(i) = sc.value
    }
    out
  }

  /** Relationship id → worksheet part path. */
  private def parseRels(): Map[String, String] = {
    val rels = Map.newBuilder[String, String]
    scanPart("xl/_rels/workbook.xml.rels") { sc =>
      if (!sc.isEnd && sc.nameIs(Relationship)) {
        val Array(id, target) = attrs(sc, RelId, Target)
        if (id != null && target != null)
          rels += id -> (if (target.startsWith("/")) target.substring(1) else "xl/" + target)
      }
    }
    rels.result()
  }

  /** The sheets in workbook order, and the 1904 date system flag. A sheet's
    * `r:id` reads as `id`: the scanner drops attribute prefixes. */
  private def parseWorkbook(rels: Map[String, String]): (Seq[Sheet], Boolean) = {
    val sheets = ArrayBuffer.empty[Sheet]
    var date1904 = false
    scanPart("xl/workbook.xml") { sc =>
      if (sc.isEnd) ()
      else if (sc.nameIs(WorkbookPr)) {
        val Array(d) = attrs(sc, Date1904)
        date1904 = d != null && (d == "1" || d.equalsIgnoreCase("true"))
      } else if (sc.nameIs(SheetTag)) {
        val Array(sheetName, rid) = attrs(sc, Name, Id)
        val n = sheets.length + 1
        sheets += Sheet(if (sheetName == null) s"Sheet$n" else sheetName,
          rels.getOrElse(rid, s"xl/worksheets/sheet$n.xml"))
      }
    }
    (sheets.toSeq, date1904)
  }

  /** cellXfs style index → date kind, via numFmtId (builtin or custom). */
  private def parseStyles(): IndexedSeq[DateKind.Value] = {
    val customFmts = scala.collection.mutable.Map.empty[Int, String]
    val xfFmtIds = ArrayBuffer.empty[Int]
    var inCellXfs = false
    scanPart("xl/styles.xml") { sc =>
      if (sc.nameIs(CellXfs)) inCellXfs = !sc.isEnd && !sc.selfClosing
      else if (sc.isEnd) ()
      else if (sc.nameIs(NumFmt)) {
        val Array(id, code) = attrs(sc, NumFmtId, FormatCode)
        if (id != null && code != null) customFmts(id.toInt) = code
      } else if (inCellXfs && sc.nameIs(Xf)) {
        val Array(id) = attrs(sc, NumFmtId)
        xfFmtIds += (if (id == null) 0 else id.toInt)
      }
    }
    xfFmtIds.map(id => dateKindOf(id, customFmts.get(id))).toIndexedSeq
  }

  /** Closes the workbook and deletes its temp copy, if it has one. */
  override def close(): Unit =
    try {
      if (sstScanner != null) sstScanner.close()
      zip.close()
    } finally if (staged) file.delete()
}

/** Running totals of one reader's scans. */
final class ScanCounters {
  var sheetBytes = 0L   // inflated worksheet bytes the scanner read
  var rows = 0L         // `<row>` elements met, stepped over or read
  var cellsDecoded = 0L // cells whose value was decoded
  var cellsSkipped = 0L // cells of a read row stepped over (column not asked for)
  var sstEntries = 0L   // shared-string entries parsed
}

/** What a cell's number format says about its meaning. */
object DateKind extends Enumeration {
  val None, DateOnly, DateTime = Value
}

object XlsxReader {

  /** One sheet: display name + ZIP entry of its worksheet part. */
  final case class Sheet(name: String, entry: String)

  /** Opens the workbook at a Hadoop URI. `ZipFile` needs a seekable local
    * file, so a workbook on any other file system (hdfs, s3) is first
    * copied to a temp file: bounded by the format's own ~1M-row ceiling,
    * and per task, so it scales with the cluster. */
  def open(uri: String, conf: Configuration): XlsxReader = {
    val path = new Path(uri)
    val fs = path.getFileSystem(conf)
    if (fs.getScheme == "file") new XlsxReader(new File(path.toUri.getPath))
    else {
      val copy = File.createTempFile("graft-excel-stage", ".xlsx")
      try fs.copyToLocalFile(false, path, new Path(copy.getAbsolutePath), true)
      catch { case e: Throwable => copy.delete(); throw e }
      new XlsxReader(copy, uri, staged = true)
    }
  }

  private[excel] val SharedStringsPart = "xl/sharedStrings.xml"

  // element and attribute names the scanner matches
  private val SheetData = XmlScanner.bytes("sheetData")
  private val Dimension = XmlScanner.bytes("dimension")
  private val Ref = XmlScanner.bytes("ref")
  private val Row = XmlScanner.bytes("row")
  private val C = XmlScanner.bytes("c")
  private val V = XmlScanner.bytes("v")
  private val F = XmlScanner.bytes("f")
  private val Is = XmlScanner.bytes("is")
  private val Sst = XmlScanner.bytes("sst")
  private val Si = XmlScanner.bytes("si")
  private val Relationship = XmlScanner.bytes("Relationship")
  private val RelId = XmlScanner.bytes("Id")
  private val Target = XmlScanner.bytes("Target")
  private val WorkbookPr = XmlScanner.bytes("workbookPr")
  private val Date1904 = XmlScanner.bytes("date1904")
  private val SheetTag = XmlScanner.bytes("sheet")
  private val Name = XmlScanner.bytes("name")
  private val Id = XmlScanner.bytes("id")
  private val CellXfs = XmlScanner.bytes("cellXfs")
  private val NumFmt = XmlScanner.bytes("numFmt")
  private val NumFmtId = XmlScanner.bytes("numFmtId")
  private val FormatCode = XmlScanner.bytes("formatCode")
  private val Xf = XmlScanner.bytes("xf")

  // cell kinds, from the `t` attribute
  private[excel] final val CellNumber = 0
  private[excel] final val CellShared = 1
  private[excel] final val CellInline = 2
  private[excel] final val CellStr = 3
  private[excel] final val CellBool = 4
  private[excel] final val CellDate = 5
  private[excel] final val CellError = 6
  private val TypeShared = XmlScanner.bytes("s")
  private val TypeInline = XmlScanner.bytes("inlineStr")
  private val TypeStr = XmlScanner.bytes("str")
  private val TypeBool = XmlScanner.bytes("b")
  private val TypeDate = XmlScanner.bytes("d")
  private val TypeError = XmlScanner.bytes("e")

  /** An `s` attribute's style index: absent, or not a number. */
  private[excel] final val NoStyle = -1
  private[excel] final val BadStyle = Int.MinValue

  private val EmptyRow = Array.empty[Any]

  /** Decode OOXML `_xHHHH_` character escapes (ECMA-376 §22.9.2.19 / the
    * convention openpyxl applies): `_x000D_` → CR etc. A literal leading
    * `_x005F_` escapes the underscore itself. */
  def unescapeOoxml(s: String): String = {
    if (!s.contains("_x")) return s
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      if (i + 6 < s.length && s.charAt(i) == '_' && s.charAt(i + 1) == 'x' &&
        s.charAt(i + 6) == '_' && isHex(s, i + 2)) {
        sb.append(Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar)
        i += 7
      } else {
        sb.append(s.charAt(i))
        i += 1
      }
    }
    sb.toString
  }

  private def isHex(s: String, from: Int): Boolean = {
    var i = from
    while (i < from + 4) {
      val c = s.charAt(i)
      val hex = (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f') || (c >= 'A' && c <= 'F')
      if (!hex) return false
      i += 1
    }
    true
  }

  /** Builtin date/time number-format ids (ECMA-376 §18.8.30). */
  private val BuiltinDateOnly = Set(14, 15, 16, 17, 27, 28, 29, 30, 31, 34, 35, 36,
    50, 51, 52, 53, 54, 55, 56, 57, 58)
  private val BuiltinDateTime = Set(18, 19, 20, 21, 22, 32, 33, 45, 46, 47)

  def dateKindOf(numFmtId: Int, customCode: Option[String]): DateKind.Value =
    customCode match {
      case Some(code) => customDateKind(code)
      case None =>
        if (BuiltinDateOnly(numFmtId)) DateKind.DateOnly
        else if (BuiltinDateTime(numFmtId)) DateKind.DateTime
        else DateKind.None
    }

  /** Heuristic over a custom format code: date/time letters outside quoted
    * literals, color/condition brackets, and escapes. */
  def customDateKind(code: String): DateKind.Value = {
    var hasDate = false
    var hasTime = false
    var inQuote = false
    var inBracket = false
    // brackets are usually colors/conditions ([Red], [>100]) — ignored —
    // but [h]/[mm]/[ss] are elapsed-time tokens and DO mean time
    val bracketBuf = new java.lang.StringBuilder
    def flushBracket(): Unit = {
      val s = bracketBuf.toString.toLowerCase
      if (s.nonEmpty && s.forall(c => c == 'h' || c == 'm' || c == 's'))
        hasTime = true
    }
    var i = 0
    while (i < code.length) {
      val c = code.charAt(i)
      if (inQuote) { if (c == '"') inQuote = false }
      else if (inBracket) {
        if (c == ']') { inBracket = false; flushBracket() }
        else bracketBuf.append(c)
      }
      else c match {
        case '"' => inQuote = true
        case '[' => inBracket = true; bracketBuf.setLength(0)
        case '\\' => i += 1
        case 'y' | 'Y' | 'd' | 'D' => hasDate = true
        case 'm' | 'M' => hasDate = true // month or minute; minute implies h/s too
        case 'h' | 'H' | 's' | 'S' => hasTime = true
        case _ => ()
      }
      i += 1
    }
    if (hasTime) DateKind.DateTime
    else if (hasDate) DateKind.DateOnly
    else DateKind.None
  }
}
