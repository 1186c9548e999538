package graft.sources.excel

import java.io.{File, InputStream}
import java.util.zip.ZipFile
import javax.xml.stream.{XMLInputFactory, XMLStreamConstants, XMLStreamReader}

import scala.collection.mutable.ArrayBuffer

/** Streaming `.xlsx` reader on JDK built-ins only (java.util.zip + StAX) —
  * no Apache POI on the classpath (SURVEY.md §7).
  *
  * An xlsx file is a ZIP of OOXML parts; we parse `xl/workbook.xml` (sheet
  * catalog + 1904 date system flag), `xl/_rels/workbook.xml.rels` (sheet →
  * worksheet part), `xl/sharedStrings.xml` (string table), `xl/styles.xml`
  * (number formats, to tell dates from plain numbers), and stream the chosen
  * `xl/worksheets/sheetN.xml` row by row in constant memory (the shared
  * string table is the only whole-file structure held, as in openpyxl —
  * the parser behind the reference, `/root/reference/src/pyspark_datasource/
  * excel/connector.py:83`).
  *
  * Cell values surface as: `null`, `java.lang.Boolean`, `java.lang.Double`,
  * `String`, `java.time.LocalDate` (date-only format, no time fraction) or
  * `java.time.LocalDateTime` (any other date/time format). Sparse cells and
  * wholly skipped rows yield nulls, mirroring pandas' NaN fill.
  */
final class XlsxReader(file: File) extends AutoCloseable {

  private val zip = new ZipFile(file)
  private val xmlIn = {
    val f = XMLInputFactory.newInstance()
    // hardening: no DTDs / external entities in workbook parts
    f.setProperty(XMLInputFactory.SUPPORT_DTD, false)
    f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    f
  }

  private def open(entry: String): Option[InputStream] =
    Option(zip.getEntry(entry)).map(zip.getInputStream)

  import XlsxReader.Sheet

  val (sheets: Seq[Sheet], date1904: Boolean) = parseWorkbook()
  private val sharedStrings: IndexedSeq[String] = parseSharedStrings()
  private val styleIsDate: IndexedSeq[DateKind.Value] = parseStyles()

  /** Sheet index for an option value that may be a name or a 0-based index
    * (the reference accepts both: default `0`, or `sheetName="Sheet2"`). */
  def resolveSheet(sheetOpt: String): Sheet = {
    val byName = sheets.find(_.name == sheetOpt)
    byName.getOrElse {
      val idx = try sheetOpt.toInt catch {
        case _: NumberFormatException =>
          throw new IllegalArgumentException(
            s"Sheet '$sheetOpt' not found in ${file.getName}; " +
              s"available: ${sheets.map(_.name).mkString(", ")}")
      }
      if (idx < 0 || idx >= sheets.size)
        throw new IllegalArgumentException(
          s"Sheet index $idx out of range (${sheets.size} sheets) in ${file.getName}")
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
    * full tag scan (still no cell decode) — what count(*) pushdown needs,
    * since the dense row sequence the reader emits ends exactly there. */
  def lastRowNumber(sheet: Sheet, trustDimension: Boolean): Int = {
    val in = open(sheet.entry).getOrElse(return 0)
    val r = xmlIn.createXMLStreamReader(in)
    try {
      var last = 0
      while (r.hasNext) r.next() match {
        case XMLStreamConstants.START_ELEMENT =>
          r.getLocalName match {
            case "dimension" if trustDimension =>
              val ref = attr(r, "ref")
              if (ref != null) {
                // "A1:H5000" → 5000; "A1" → 1
                val lastCell = ref.substring(ref.indexOf(':') + 1)
                var i = 0
                while (i < lastCell.length && lastCell.charAt(i).isLetter) i += 1
                val digits = lastCell.substring(i)
                if (digits.nonEmpty && digits.forall(_.isDigit)) return digits.toInt
              }
            case "row" =>
              val a = attr(r, "r")
              last = if (a == null) last + 1 else a.toInt
            case _ => ()
          }
        case _ => ()
      }
      last
    } finally {
      try { r.close(); in.close() } catch { case _: Exception => () }
    }
  }

  /** Stream the rows of one sheet. Each row is a possibly-ragged array —
    * trailing missing cells are simply absent; interior gaps are null.
    * Fully empty rows inside the data range come out as empty arrays. */
  def rowIterator(sheet: Sheet): Iterator[Array[Any]] =
    rowIterator(sheet, 1, Int.MaxValue)

  /** Stream rows whose dense (1-based) row number is in
    * [startRow, endRowExcl). Because interior gaps materialize as empty
    * arrays, the k-th dense row IS sheet row k, so ranges over emitted
    * positions and over sheet row numbers coincide. Out-of-range `<row>`
    * subtrees are skipped without cell decode, and the stream closes as
    * soon as a row at/after endRowExcl is seen — a partition pays XML
    * traversal for the prefix but value decode only for its own slice. */
  def rowIterator(sheet: Sheet, startRow: Int,
      endRowExcl: Int): Iterator[Array[Any]] = {
    val in = open(sheet.entry).getOrElse(
      throw new IllegalStateException(s"Missing worksheet part ${sheet.entry}"))
    val r = xmlIn.createXMLStreamReader(in)
    new Iterator[Array[Any]] with AutoCloseable {
      private var nextRow: Array[Any] = _
      private var lastRowNum = 0 // 1-based row number of last seen row
      private var pendingGap = 0 // in-range empty rows to emit before nextRow
      private var exhausted = false

      advance()

      private def advance(): Unit = {
        nextRow = null
        while (nextRow == null && pendingGap == 0 && !exhausted) {
          if (!r.hasNext) { exhausted = true; closeQuietly() }
          else r.next() match {
            case XMLStreamConstants.START_ELEMENT if r.getLocalName == "row" =>
              val rAttr = attr(r, "r")
              val rowNum =
                if (rAttr == null) lastRowNum + 1
                else rAttr.toInt
              if (rowNum >= endRowExcl) {
                // emit any in-range gap before the out-of-range row, then stop
                pendingGap = gapSize(lastRowNum, endRowExcl)
                exhausted = true
                closeQuietly()
              } else {
                pendingGap = gapSize(lastRowNum, rowNum)
                lastRowNum = rowNum
                if (rowNum >= startRow) nextRow = readRow()
                else skipRow()
              }
            case _ => ()
          }
        }
      }

      /** Rows strictly between lastSeen and next that fall in range. */
      private def gapSize(lastSeen: Int, next: Int): Int = {
        val from = math.max(lastSeen + 1, startRow)
        val to = math.min(next - 1, endRowExcl - 1)
        math.max(0, to - from + 1)
      }

      /** Skip the current `<row>` subtree without decoding cells. */
      private def skipRow(): Unit = {
        var depth = 1
        while (depth > 0) r.next() match {
          case XMLStreamConstants.START_ELEMENT => depth += 1
          case XMLStreamConstants.END_ELEMENT => depth -= 1
          case _ => ()
        }
      }

      /** Parse one `<row>` element's cells (reader is on START row). */
      private def readRow(): Array[Any] = {
        val cells = ArrayBuffer.empty[Any]
        var done = false
        while (!done) {
          r.next() match {
            case XMLStreamConstants.START_ELEMENT if r.getLocalName == "c" =>
              val ref = attr(r, "r")
              val col =
                if (ref == null) cells.length
                else XlsxReader.colIndex(ref)
              while (cells.length < col) cells += null
              val v = readCell()
              if (cells.length == col) cells += v
              else cells(col) = v // defensive: out-of-order refs
            case XMLStreamConstants.END_ELEMENT if r.getLocalName == "row" =>
              done = true
            case _ => ()
          }
        }
        cells.toArray
      }

      /** Parse one `<c>` element into a value (reader is on START c). */
      private def readCell(): Any = {
        val t = attr(r, "t")
        val s = attr(r, "s")
        var v: String = null
        var inlineStr: String = null
        var done = false
        while (!done) {
          r.next() match {
            case XMLStreamConstants.START_ELEMENT =>
              r.getLocalName match {
                case "v" => v = readText()
                case "is" => inlineStr = readRichText("is")
                case "f" => skipElement("f")
                case _ => ()
              }
            case XMLStreamConstants.END_ELEMENT if r.getLocalName == "c" =>
              done = true
            case _ => ()
          }
        }
        decodeCell(t, s, v, inlineStr)
      }

      /** Text content until the current element ends. */
      private def readText(): String = {
        val sb = new java.lang.StringBuilder
        var depth = 0
        var done = false
        while (!done) {
          r.next() match {
            case XMLStreamConstants.CHARACTERS | XMLStreamConstants.CDATA =>
              sb.append(r.getText)
            case XMLStreamConstants.START_ELEMENT => depth += 1
            case XMLStreamConstants.END_ELEMENT =>
              if (depth == 0) done = true else depth -= 1
            case _ => ()
          }
        }
        sb.toString
      }

      /** Concatenate all `<t>` runs under an element (rich text / `<is>`),
        * EXCLUDING `<rPh>` phonetic runs — their `<t>` children are
        * furigana annotations, not cell text (openpyxl's rule; see the
        * matching guard in parseSharedStrings). */
      private def readRichText(outer: String): String = {
        val sb = new java.lang.StringBuilder
        var rPhDepth = 0
        var done = false
        while (!done) {
          r.next() match {
            case XMLStreamConstants.START_ELEMENT if r.getLocalName == "rPh" =>
              rPhDepth += 1
            case XMLStreamConstants.START_ELEMENT
                if r.getLocalName == "t" && rPhDepth == 0 =>
              sb.append(readText())
            case XMLStreamConstants.END_ELEMENT if r.getLocalName == "rPh" =>
              if (rPhDepth > 0) rPhDepth -= 1
            case XMLStreamConstants.END_ELEMENT if r.getLocalName == outer =>
              done = true
            case _ => ()
          }
        }
        sb.toString
      }

      private def skipElement(name: String): Unit = {
        var depth = 1
        while (depth > 0) {
          r.next() match {
            case XMLStreamConstants.START_ELEMENT => depth += 1
            case XMLStreamConstants.END_ELEMENT => depth -= 1
            case _ => ()
          }
        }
      }

      private def decodeCell(t: String, s: String, v: String,
          inlineStr: String): Any = t match {
        case "inlineStr" => XlsxReader.unescapeOoxml(inlineStr)
        case "s" =>
          if (v == null) null else sharedStrings(v.trim.toInt)
        case "str" =>
          if (v == null) null else XlsxReader.unescapeOoxml(v) // cached formula result
        case "b" =>
          if (v == null) null
          else java.lang.Boolean.valueOf(v.trim == "1" || v.trim.equalsIgnoreCase("true"))
        case "d" => // ISO-8601 date cell (ECMA-376 §18.17.4.7, rare but
          // legal — previously fell into the numeric branch and threw
          // NumberFormatException on a valid workbook)
          if (v == null || v.trim.isEmpty) null
          else {
            val s = v.trim
            // xsd ISO-8601 legally carries an optional zone designator
            // ("…T00:00:00Z", "…+09:00") — a zone-free-only parse would
            // crash on a valid workbook, the same class of bug the local
            // branch fixed (ADVICE r19). Offsets are normalized to UTC
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
        case "e" => null // error cell (#DIV/0! …)
        case _ => // numeric (or date, per cell style)
          if (v == null || v.isEmpty) null
          else {
            val d = v.trim.toDouble
            styleKind(s) match {
              case DateKind.DateOnly if d == math.floor(d) =>
                ExcelSerialDate.toDate(d, date1904)
              case DateKind.DateOnly | DateKind.DateTime =>
                ExcelSerialDate.toDateTime(d, date1904)
              case DateKind.None => java.lang.Double.valueOf(d)
            }
          }
      }

      private def styleKind(s: String): DateKind.Value =
        if (s == null) DateKind.None
        else {
          val i = s.trim.toInt
          if (i >= 0 && i < styleIsDate.length) styleIsDate(i) else DateKind.None
        }

      override def hasNext: Boolean = pendingGap > 0 || nextRow != null
      override def next(): Array[Any] = {
        if (pendingGap > 0) { pendingGap -= 1; Array.empty[Any] }
        else {
          val out = nextRow
          advance()
          out
        }
      }
      override def close(): Unit = closeQuietly()
      private def closeQuietly(): Unit =
        try { r.close(); in.close() } catch { case _: Exception => () }
    }
  }

  // ------------------------------------------------------- workbook parts

  private def parseWorkbook(): (Seq[Sheet], Boolean) = {
    // r:id → worksheet part path
    val rels: Map[String, String] = open("xl/_rels/workbook.xml.rels") match {
      case None => Map.empty
      case Some(in) =>
        try {
          val r = xmlIn.createXMLStreamReader(in)
          val b = Map.newBuilder[String, String]
          while (r.hasNext) r.next() match {
            case XMLStreamConstants.START_ELEMENT
                if r.getLocalName == "Relationship" =>
              val id = attr(r, "Id")
              val target = attr(r, "Target")
              if (id != null && target != null) {
                val entry =
                  if (target.startsWith("/")) target.substring(1)
                  else "xl/" + target
                b += id -> entry
              }
            case _ => ()
          }
          r.close()
          b.result()
        } finally in.close()
    }

    open("xl/workbook.xml") match {
      case None => (Seq.empty, false)
      case Some(in) =>
        try {
          val r = xmlIn.createXMLStreamReader(in)
          val sheets = ArrayBuffer.empty[Sheet]
          var date1904 = false
          var sheetOrdinal = 0
          while (r.hasNext) r.next() match {
            case XMLStreamConstants.START_ELEMENT =>
              r.getLocalName match {
                case "workbookPr" =>
                  val d = attr(r, "date1904")
                  date1904 = d != null && (d == "1" || d.equalsIgnoreCase("true"))
                case "sheet" =>
                  sheetOrdinal += 1
                  val name = attr(r, "name")
                  val rid = Option(attrNs(r, "id")).getOrElse(attr(r, "id"))
                  val entry = rels.getOrElse(rid,
                    s"xl/worksheets/sheet$sheetOrdinal.xml")
                  sheets += Sheet(if (name == null) s"Sheet$sheetOrdinal" else name, entry)
                case _ => ()
              }
            case _ => ()
          }
          r.close()
          (sheets.toSeq, date1904)
        } finally in.close()
    }
  }

  private def parseSharedStrings(): IndexedSeq[String] =
    open("xl/sharedStrings.xml") match {
      case None => IndexedSeq.empty
      case Some(in) =>
        try {
          val r = xmlIn.createXMLStreamReader(in)
          val out = ArrayBuffer.empty[String]
          var inSi = false
          var sb: java.lang.StringBuilder = null
          var inT = false
          // <rPh> phonetic runs (furigana annotations) carry their own
          // <t> children which are NOT part of the cell text — openpyxl
          // (the reference's parser) excludes them, so concatenating
          // them here would diverge on any workbook with phonetic
          // annotations. Same rule in readRichText for inline strings.
          var rPhDepth = 0
          while (r.hasNext) r.next() match {
            case XMLStreamConstants.START_ELEMENT =>
              r.getLocalName match {
                case "si" => inSi = true; sb = new java.lang.StringBuilder
                case "rPh" if inSi => rPhDepth += 1
                case "t" if inSi && rPhDepth == 0 => inT = true
                case _ => ()
              }
            case XMLStreamConstants.CHARACTERS | XMLStreamConstants.CDATA =>
              if (inT) sb.append(r.getText)
            case XMLStreamConstants.END_ELEMENT =>
              r.getLocalName match {
                case "si" => inSi = false; out += XlsxReader.unescapeOoxml(sb.toString)
                case "rPh" => if (rPhDepth > 0) rPhDepth -= 1
                case "t" => inT = false
                case _ => ()
              }
            case _ => ()
          }
          r.close()
          out.toIndexedSeq
        } finally in.close()
    }

  /** cellXfs style index → date kind, via numFmtId (builtin or custom). */
  private def parseStyles(): IndexedSeq[DateKind.Value] =
    open("xl/styles.xml") match {
      case None => IndexedSeq.empty
      case Some(in) =>
        try {
          val r = xmlIn.createXMLStreamReader(in)
          val customFmts = scala.collection.mutable.Map.empty[Int, String]
          val xfFmtIds = ArrayBuffer.empty[Int]
          var inCellXfs = false
          while (r.hasNext) r.next() match {
            case XMLStreamConstants.START_ELEMENT =>
              r.getLocalName match {
                case "numFmt" =>
                  val id = attr(r, "numFmtId")
                  val code = attr(r, "formatCode")
                  if (id != null && code != null) customFmts(id.toInt) = code
                case "cellXfs" => inCellXfs = true
                case "xf" if inCellXfs =>
                  val id = attr(r, "numFmtId")
                  xfFmtIds += (if (id == null) 0 else id.toInt)
                case _ => ()
              }
            case XMLStreamConstants.END_ELEMENT if r.getLocalName == "cellXfs" =>
              inCellXfs = false
            case _ => ()
          }
          r.close()
          xfFmtIds.map(id => XlsxReader.dateKindOf(id, customFmts.get(id))).toIndexedSeq
        } finally in.close()
    }

  private def attr(r: XMLStreamReader, name: String): String = {
    var i = 0
    while (i < r.getAttributeCount) {
      if (r.getAttributeLocalName(i) == name) return r.getAttributeValue(i)
      i += 1
    }
    null
  }

  /** Attribute in the officeDocument relationships namespace (r:id). */
  private def attrNs(r: XMLStreamReader, name: String): String = {
    var i = 0
    while (i < r.getAttributeCount) {
      val ns = r.getAttributeNamespace(i)
      if (r.getAttributeLocalName(i) == name && ns != null &&
        ns.contains("relationships")) return r.getAttributeValue(i)
      i += 1
    }
    null
  }

  override def close(): Unit = zip.close()
}

/** What a cell's number format says about its meaning. */
object DateKind extends Enumeration {
  val None, DateOnly, DateTime = Value
}

object XlsxReader {

  /** One sheet: display name + ZIP entry of its worksheet part. */
  final case class Sheet(name: String, entry: String)

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

  /** "C5" → 0-based column index 2. */
  def colIndex(ref: String): Int = {
    var i = 0
    var col = 0
    while (i < ref.length && ref.charAt(i).isLetter) {
      col = col * 26 + (ref.charAt(i).toUpper - 'A' + 1)
      i += 1
    }
    col - 1
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
