package graft.sources.excel

import java.io.{File, InputStream}
import java.nio.charset.StandardCharsets
import java.util.zip.ZipFile

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

import org.apache.spark.unsafe.types.UTF8String

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
  * A row scan ([[XlsxReader.RowScan]]) hands each wanted cell's kind, style
  * and UTF-8 value text to a [[CellSink]]: the scan's typed cell readers
  * ([[TypedCells]]) write it into Spark's row, inference's sink
  * ([[SampleCells]]) folds its kind into a column type, and [[BoxedCells]]
  * (the header row, and `rowIterator`) makes a boxed value of it:
  * `null`, `java.lang.Boolean`, `java.lang.Double`, `String`,
  * `java.time.LocalDate` (date-only format, no time fraction) or
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
  private val sstTable = ArrayBuffer.empty[UTF8String]
  private val sstText = new ByteBuilder
  private val sstUnescaped = new ByteBuilder

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
    * [startRow, endRowExcl), each cell as the boxed value [[BoxedCells]]
    * makes of it.
    * Because interior gaps materialize as empty arrays, the k-th dense row
    * IS sheet row k, so ranges over emitted positions and over sheet row
    * numbers coincide. Rows before the range are stepped over without
    * entering a cell, and the stream closes as soon as a row at/after
    * endRowExcl is seen.
    *
    * `columns` (null = all) is the mask of 0-based columns to decode: any
    * other cell reads as null without its value being looked at, and when
    * no column is masked each row comes back empty. A part that ends
    * before `</sheetData>` throws rather than reading as fewer rows. */
  def rowIterator(sheet: Sheet, startRow: Int, endRowExcl: Int,
      columns: Array[Boolean]): Iterator[Array[Any]] = {
    val scan = rowScan(sheet)
    val cells = new BoxedCells(this)
    new Iterator[Array[Any]] {
      private var ahead = read()
      private def read(): Array[Any] =
        if (scan.next(startRow, endRowExcl, columns, cells)) cells.row(scan.width)
        else { scan.close(); null }
      override def hasNext: Boolean = ahead != null
      override def next(): Array[Any] = { val out = ahead; ahead = read(); out }
    }
  }

  /** A scan over the rows of `sheet`, from its first. */
  private[excel] def rowScan(sheet: Sheet): RowScan = {
    val in = openPart(sheet.entry).getOrElse(
      throw new IllegalStateException(s"Missing worksheet part ${sheet.entry}"))
    new RowScan(in, sheet)
  }

  /** One pass over a sheet part's rows in dense order: each row number the
    * part skips reads as an empty row, so the k-th row handed out is sheet
    * row k. Each [[next]] hands out one row of the range it is given and
    * each of that row's wanted cells to a [[CellSink]], so one scan can
    * read a header row, boxed, and then the data rows, typed. */
  private[excel] final class RowScan(in: InputStream, sheet: Sheet) extends AutoCloseable {
    private var lastRowNum = 0 // 1-based row number of the last row consumed
    private val sc = sheetScanner(in, sheet, () => lastRowNum)
    private val tags = new PartTags(sc, SheetData)
    private val text = new ByteBuilder  // the value text of the cell being read
    private val other = new ByteBuilder // a value element the cell's kind does not read
    private var gapNext = 1             // the first row number no empty row was handed out for
    private var pending = false         // a `<row>` met but not consumed: `pendingNum`
    private var pendingNum = 0
    private var pendingEmpty = false    // that `<row/>` is an empty-element tag
    private var exhausted = false
    private var maskSeen: Array[Boolean] = _
    private var noCells = false

    /** One past the last column of the row last handed out (cells not
      * asked for included); 0 for an empty row. */
    var width = 0

    /** Hands out the next row of [startRow, endRowExcl), false when the
      * range holds no more. Rows before `startRow` are stepped over
      * without entering a cell. Each cell in `columns` (null: every
      * column) goes to `sink`; when `columns` holds no column, rows are
      * stepped over whole. A row met at or past `endRowExcl` stays for a
      * later call with a later range. */
    def next(startRow: Int, endRowExcl: Int, columns: Array[Boolean], sink: CellSink): Boolean = {
      if (columns ne maskSeen) {
        maskSeen = columns
        noCells = columns != null && !columns.contains(true)
      }
      while (true) {
        if (!pending && (exhausted || !nextRowTag())) return false
        // the empty rows before the row met, as far as they are in range
        val gap = math.max(gapNext, startRow)
        if (gap < math.min(pendingNum, endRowExcl)) {
          gapNext = gap + 1
          width = 0
          return true
        }
        if (pendingNum >= endRowExcl) return false
        pending = false
        lastRowNum = pendingNum
        gapNext = pendingNum + 1
        if (pendingNum >= startRow && !noCells) {
          readRow(columns, sink)
          return true
        }
        if (!pendingEmpty) sc.skipTo(Row)
        if (pendingNum >= startRow) { width = 0; return true }
      }
      false
    }

    /** Steps to the next `<row>`, false at the end of the sheet data. */
    private def nextRowTag(): Boolean = {
      while (true) {
        if (!tags.next()) { finish(); return false }
        if (sc.isEnd) { if (sc.nameIs(SheetData)) { finish(); return false } }
        else if (sc.nameIs(Row)) {
          counters.rows += 1
          pendingEmpty = sc.selfClosing
          pendingNum = rowNumber(sc, lastRowNum)
          pending = true
          return true
        } else if (sc.nameIs(SheetData) && sc.selfClosing) { finish(); return false }
      }
      false
    }

    /** The cells of the row just consumed; a cell whose reference repeats
      * an earlier column overwrites it. */
    private def readRow(columns: Array[Boolean], sink: CellSink): Unit = {
      width = 0
      if (pendingEmpty) return
      while (true) {
        if (!sc.nextTag()) sc.truncated()
        if (sc.isEnd) {
          if (sc.nameIs(Row)) return
        } else if (sc.nameIs(C)) {
          var col = width
          var wanted = columns == null || col < columns.length && columns(col)
          var kind = CellNumber
          var style = NoStyle
          var attrs = sc.nextAttr()
          while (attrs) {
            if (sc.attrIs('r')) {
              col = sc.columnValue
              if (col < 0) sc.fail("a cell reference without a column")
              wanted = columns == null || col < columns.length && columns(col)
            } else if (sc.attrIs('t')) kind = cellKind(sc)
            else if (sc.attrIs('s')) style = sc.intValue(trim = true, BadStyle)
            // a cell not asked for needs nothing but its column
            attrs = (wanted || !sc.attrIs('r')) && sc.nextAttr()
          }
          if (wanted) {
            readCell(kind, style, col, sink)
            counters.cellsDecoded += 1
          } else {
            if (!sc.selfClosing) sc.skipTo(C)
            counters.cellsSkipped += 1
          }
          width = math.max(width, col + 1)
        }
      }
    }

    /** Hands the current `<c>` to `sink`: its value text, that of its `<is>`
      * for an inline string and of its `<v>` for any other kind (at any
      * depth; a formula's `<f>` is stepped over), or null when it has
      * none. The element the kind does not read is still read, so bad
      * markup in it fails. A value that does not decode fails naming its
      * cell, `col` of the current row. */
    private def readCell(kind: Int, style: Int, col: Int, sink: CellSink): Unit = {
      var present = false
      if (!sc.selfClosing) {
        val inline = kind == CellInline
        var done = false
        while (!done) {
          if (!sc.nextTag()) sc.truncated()
          if (sc.isEnd) done = sc.nameIs(C)
          else if (sc.nameIs(V)) { sc.text(if (inline) other else text); present |= !inline }
          else if (sc.nameIs(Is)) { sc.richText(Is, if (inline) text else other); present |= inline }
          else if (sc.nameIs(F) && !sc.selfClosing) sc.skipTo(F)
        }
      }
      try sink.cell(col, kind, style, if (present) text else null) catch {
        case e @ (_: NumberFormatException | _: IndexOutOfBoundsException |
            _: java.time.DateTimeException) =>
          sc.undecodable(s"cell ${XlsxWriter.colName(col)}$lastRowNum ($e)", e)
      }
    }

    private def finish(): Unit = { exhausted = true; sc.close() }

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

  private val styleKindOf: Array[DateKind.Value] = styleKinds.toArray

  /** What a number cell with style index `style` and value `d` reads as:
    * a plain number ([[NoStyle]], or an index past the table), a date (a
    * date-only format and a whole serial) or a date-time (any other date
    * or time format). A [[BadStyle]] does not decode. */
  private[excel] def serialKind(style: Int, d: Double): DateKind.Value = {
    val kind =
      if (style >= 0 && style < styleKindOf.length) styleKindOf(style)
      else if (style == BadStyle) throw new NumberFormatException("malformed cell style index")
      else DateKind.None
    if (kind == DateKind.DateOnly && d != math.floor(d)) DateKind.DateTime else kind
  }

  // ------------------------------------------------------- shared strings

  /** Shared string `i`, as the UTF-8 text a string cell holds: each entry
    * is decoded once and handed to every cell that names it. */
  private[excel] def sharedString(i: Int): UTF8String = {
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
        sc.richText(Si, sstText)
        val utf8 = unescapedUtf8(sstText, sstUnescaped)
        sstTable += UTF8String.fromBytes(java.util.Arrays.copyOf(utf8.bytes, utf8.length))
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

/** Where a row scan hands each cell it reads. */
private[excel] trait CellSink {
  /** The wanted cell at 0-based column `col` of the current row: its kind
    * (an `XlsxReader.Cell*`), style index and value text, null when the
    * cell has none. The text is the scan's buffer, valid during the call
    * only. A value that does not decode throws a NumberFormatException,
    * IndexOutOfBoundsException or DateTimeException, which the scan turns
    * into an error naming the cell. */
  def cell(col: Int, kind: Int, style: Int, text: ByteBuilder): Unit
}

/** The boxed adapter: each cell of a row as a boxed value (see
  * [[XlsxReader]]), through the same byte-level primitives as the typed
  * readers. The header row (of a scan and of inference) and `rowIterator`
  * read through it; the scan's data rows and inference's sample rows never
  * do. */
private[excel] final class BoxedCells(reader: XlsxReader) extends CellSink {
  import XlsxReader._

  private var cells = new Array[AnyRef](16) // the row being read; null past width

  override def cell(col: Int, kind: Int, style: Int, text: ByteBuilder): Unit = {
    val v = value(kind, style, text)
    if (col >= cells.length)
      cells = java.util.Arrays.copyOf(cells, math.max(col + 1, cells.length * 2))
    cells(col) = v
  }

  private def value(kind: Int, style: Int, t: ByteBuilder): AnyRef =
    if (t == null) null
    else kind match {
      case CellInline | CellStr => unescapeOoxml(t.utf8)
      case CellShared => reader.sharedString(parseIndex(t)).toString
      case CellBool => java.lang.Boolean.valueOf(isTrue(t))
      case CellDate => isoDate(t)
      case CellError => null // error cell (#DIV/0! …)
      case _ => // numeric (or date, per cell style)
        if (t.length == 0) null
        else {
          val d = parseNumber(t.bytes, 0, t.length)
          val kind = reader.serialKind(style, d)
          if (kind == DateKind.None) java.lang.Double.valueOf(d)
          else if (kind == DateKind.DateOnly)
            java.time.LocalDate.ofEpochDay(ExcelSerialDate.epochDay(d, reader.date1904))
          else java.time.LocalDateTime.of(
            java.time.LocalDate.ofEpochDay(ExcelSerialDate.dateTimeDay(d, reader.date1904)),
            java.time.LocalTime.ofNanoOfDay(ExcelSerialDate.millisOfDay(d) * 1000000L))
        }
    }

  /** The row just read, `width` cells wide; clears the buffer. */
  def row(width: Int): Array[Any] =
    if (width == 0) EmptyRow
    else {
      val out = java.util.Arrays.copyOf(cells, width)
      // skipped cells widen the row without growing `cells`
      java.util.Arrays.fill(cells.asInstanceOf[Array[AnyRef]], 0,
        math.min(width, cells.length), null)
      out.asInstanceOf[Array[Any]]
    }
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

  private[excel] val EmptyRow = Array.empty[Any]

  // ------------------------------------------------ cell text primitives

  /** A number cell's text as `String.trim` then `Double.parseDouble` read
    * it, NumberFormatException included. Plain decimals (an optional `-`,
    * then at most 18 digits and at most one `.`) whose digits make an
    * integer m ≤ 2^53 take a loop of their own: m and 10^k (k ≤ 17
    * fraction digits) are exact doubles, so `m / 10^k` is one correctly
    * rounded division, the double `parseDouble` returns. Anything else
    * goes through `parseDouble`. */
  def parseNumber(b: Array[Byte], from: Int, to: Int): Double = {
    var p = from
    var end = to
    while (p < end && (b(p) & 0xff) <= ' ') p += 1
    while (end > p && (b(end - 1) & 0xff) <= ' ') end -= 1
    val neg = p < end && b(p) == '-'
    var i = if (neg) p + 1 else p
    if (end - i <= 18) {
      var m = 0L
      var digits = 0
      var point = -1
      while (i < end && {
          val c = b(i)
          if (c >= '0' && c <= '9') { m = m * 10 + (c - '0'); digits += 1; true }
          else if (c == '.' && point < 0) { point = i; true }
          else false
        }) i += 1
      if (i == end && digits > 0 && m <= (1L << 53)) {
        val v = if (point < 0) m.toDouble else m.toDouble / Pow10(end - point - 1)
        return if (neg) -v else v
      }
    }
    java.lang.Double.parseDouble(new String(b, p, end - p, StandardCharsets.UTF_8))
  }

  private val Pow10 = Array.tabulate(18)(k => math.pow(10, k)) // exact up to 1e22

  /** A shared-string cell's index, as `String.trim` then
    * `Integer.parseInt` read it (NumberFormatException included). */
  private[excel] def parseIndex(t: ByteBuilder): Int = {
    var p = 0
    var end = t.length
    while (p < end && (t.bytes(p) & 0xff) <= ' ') p += 1
    while (end > p && (t.bytes(end - 1) & 0xff) <= ' ') end -= 1
    val i = XmlScanner.parseInt(t.bytes, p, end, Int.MinValue)
    if (i != Int.MinValue) i else Integer.parseInt(t.utf8.trim)
  }

  /** A boolean cell's value: its trimmed text is `1` or, in any case,
    * `true`. */
  private[excel] def isTrue(t: ByteBuilder): Boolean = {
    var p = 0
    var end = t.length
    val b = t.bytes
    while (p < end && (b(p) & 0xff) <= ' ') p += 1
    while (end > p && (b(end - 1) & 0xff) <= ' ') end -= 1
    // `| 0x20` lowers an ASCII letter and maps no other byte onto one
    (end - p == 1 && b(p) == '1') || (end - p == 4 && (b(p) | 0x20) == 't' &&
      (b(p + 1) | 0x20) == 'r' && (b(p + 2) | 0x20) == 'u' && (b(p + 3) | 0x20) == 'e')
  }

  /** An ISO-8601 date cell (`t="d"`, ECMA-376 §18.17.4.7, rare but legal):
    * null when blank, else a `LocalDate`, or a `LocalDateTime` when it has
    * a time. xsd ISO-8601 legally carries an optional zone designator
    * ("…T00:00:00Z", "…+09:00"). Offsets are normalized to UTC (same
    * instant) for datetimes and dropped for pure dates (ISO_DATE
    * accepts-and-ignores a trailing offset). */
  private[excel] def isoDate(t: ByteBuilder): AnyRef = {
    val s = t.utf8.trim
    if (s.isEmpty) null
    else if (s.contains("T"))
      try java.time.LocalDateTime.parse(s,
        java.time.format.DateTimeFormatter.ISO_LOCAL_DATE_TIME)
      catch { case _: java.time.format.DateTimeParseException =>
        java.time.OffsetDateTime.parse(s,
            java.time.format.DateTimeFormatter.ISO_OFFSET_DATE_TIME)
          .withOffsetSameInstant(java.time.ZoneOffset.UTC)
          .toLocalDateTime
      }
    else java.time.LocalDate.parse(s, java.time.format.DateTimeFormatter.ISO_DATE)
  }

  /** A string cell's raw text with its `_xHHHH_` escapes decoded, as the
    * UTF-8 `UTF8String.fromString(unescapeOoxml(raw))` holds: `src`
    * itself when it holds no escape, else `out`. Two escapes that form a
    * surrogate pair make one code point; a lone surrogate reads as `?`.
    * Text that is not valid UTF-8 goes the `String` way, its bad bytes
    * replaced as the JDK decoder replaces them. */
  def unescapedUtf8(src: ByteBuilder, out: ByteBuilder): ByteBuilder = {
    val b = src.bytes
    val n = src.length
    var ascii = true
    var escaped = false
    var i = 0
    while (i < n) {
      val c = b(i)
      if (c < 0) ascii = false
      else if (c == '_' && !escaped) escaped = escapeAt(b, i, n) >= 0
      i += 1
    }
    if (!ascii && !validUtf8(b, n)) {
      val s = unescapeOoxml(src.utf8).getBytes(StandardCharsets.UTF_8)
      out.reset()
      out.append(s, 0, s.length)
      out
    } else if (!escaped) src
    else {
      out.reset()
      var high = -1 // a high surrogate waiting for its low half
      i = 0
      while (i < n) {
        val c = escapeAt(b, i, n)
        if (high >= 0 && !(c >= 0xdc00 && c <= 0xdfff)) { out += '?'; high = -1 }
        if (c < 0) { out += b(i); i += 1 }
        else {
          if (high >= 0) { out.appendCodePoint(Character.toCodePoint(high.toChar, c.toChar)); high = -1 }
          else if (c >= 0xd800 && c <= 0xdbff) high = c
          else if (c >= 0xdc00 && c <= 0xdfff) out += '?'
          else out.appendCodePoint(c)
          i += 7
        }
      }
      if (high >= 0) out += '?'
      out
    }
  }

  /** The char of an `_xHHHH_` escape at `b(i)`, or -1. */
  private def escapeAt(b: Array[Byte], i: Int, n: Int): Int =
    if (i + 6 < n && b(i) == '_' && b(i + 1) == 'x' && b(i + 6) == '_') {
      var v = 0
      var j = i + 2
      while (j < i + 6) {
        val d = Character.digit(b(j).toInt, 16)
        if (d < 0 || b(j) < 0) return -1
        v = v * 16 + d
        j += 1
      }
      v
    } else -1

  /** Well-formed UTF-8 as the JDK decoder accepts it: no overlong form, no
    * encoded surrogate, nothing past U+10FFFF. */
  private def validUtf8(b: Array[Byte], n: Int): Boolean = {
    def cont(i: Int): Boolean = i < n && (b(i) & 0xc0) == 0x80
    var i = 0
    while (i < n) {
      val x = b(i) & 0xff
      if (x < 0x80) i += 1
      else if (x >= 0xc2 && x <= 0xdf) { if (!cont(i + 1)) return false; i += 2 }
      else if (x >= 0xe0 && x <= 0xef) {
        val y = if (i + 1 < n) b(i + 1) & 0xff else 0
        if (!cont(i + 1) || !cont(i + 2) || (x == 0xe0 && y < 0xa0) || (x == 0xed && y >= 0xa0))
          return false
        i += 3
      } else if (x >= 0xf0 && x <= 0xf4) {
        val y = if (i + 1 < n) b(i + 1) & 0xff else 0
        if (!cont(i + 1) || !cont(i + 2) || !cont(i + 3) || (x == 0xf0 && y < 0x90) ||
          (x == 0xf4 && y >= 0x90)) return false
        i += 4
      } else return false
    }
    true
  }

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
