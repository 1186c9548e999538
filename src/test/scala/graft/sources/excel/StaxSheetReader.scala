package graft.sources.excel

import java.io.InputStream
import javax.xml.stream.{XMLInputFactory, XMLStreamConstants, XMLStreamReader}

import scala.collection.mutable.ArrayBuffer

/** The StAX sheet and shared-strings reader that [[XmlScanner]] replaced,
  * kept as the executable spec of `XlsxReader.rowIterator`,
  * `lastRowNumber` and the shared-strings table: `SheetScannerProps`
  * checks the two agree. Cell values go through the same
  * `XlsxReader.decodeCell`, so what is specified here is the XML reading:
  * which rows, cells and texts a part holds. Shared strings are parsed
  * whole, up front, from this reader's own StAX pass.
  */
final class StaxSheetReader(reader: XlsxReader) {
  import StaxSheetReader._

  private val xmlIn = newFactory()

  private lazy val sharedStrings: IndexedSeq[String] = parseSharedStrings()

  /** Same contract as `XlsxReader.lastRowNumber`. */
  def lastRowNumber(sheet: XlsxReader.Sheet, trustDimension: Boolean): Int = {
    val in = reader.openPart(sheet.entry).getOrElse(return 0)
    val r = xmlIn.createXMLStreamReader(in)
    try {
      var last = 0
      while (r.hasNext) r.next() match {
        case XMLStreamConstants.START_ELEMENT =>
          r.getLocalName match {
            case "dimension" if trustDimension =>
              val ref = attr(r, "ref")
              if (ref != null) {
                val lastCell = ref.substring(ref.indexOf(':') + 1)
                val digits = lastCell.dropWhile(_.isLetter)
                val row = if (digits.forall(_.isDigit)) digits.toIntOption else None
                if (row.exists(_ <= XlsxWriter.MaxRowsPerSheet)) return row.get
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
      r.close()
      in.close()
    }
  }

  /** Same contract as `XlsxReader.rowIterator(sheet, startRow,
    * endRowExcl)`, materialized. */
  def rows(sheet: XlsxReader.Sheet, startRow: Int = 1,
      endRowExcl: Int = Int.MaxValue): Vector[Array[Any]] = {
    val in = reader.openPart(sheet.entry).getOrElse(
      throw new IllegalStateException(s"Missing worksheet part ${sheet.entry}"))
    val r = xmlIn.createXMLStreamReader(in)
    try rowsOf(r, startRow, endRowExcl)
    finally {
      r.close()
      in.close()
    }
  }

  private def rowsOf(r: XMLStreamReader, startRow: Int,
      endRowExcl: Int): Vector[Array[Any]] = {
    val out = Vector.newBuilder[Array[Any]]
    var lastRowNum = 0

    /** Rows strictly between lastSeen and next that fall in range. */
    def gapSize(lastSeen: Int, next: Int): Int = {
      val from = math.max(lastSeen + 1, startRow)
      val to = math.min(next - 1, endRowExcl - 1)
      math.max(0, to - from + 1)
    }

    def skipElement(): Unit = {
      var depth = 1
      while (depth > 0) r.next() match {
        case XMLStreamConstants.START_ELEMENT => depth += 1
        case XMLStreamConstants.END_ELEMENT => depth -= 1
        case _ => ()
      }
    }

    /** Text content until the current element ends. */
    def readText(): String = {
      val sb = new java.lang.StringBuilder
      var depth = 0
      var done = false
      while (!done) r.next() match {
        case XMLStreamConstants.CHARACTERS | XMLStreamConstants.CDATA =>
          sb.append(r.getText)
        case XMLStreamConstants.START_ELEMENT => depth += 1
        case XMLStreamConstants.END_ELEMENT =>
          if (depth == 0) done = true else depth -= 1
        case _ => ()
      }
      sb.toString
    }

    /** Concatenate all `<t>` runs under `outer`, excluding `<rPh>`. */
    def readRichText(outer: String): String = {
      val sb = new java.lang.StringBuilder
      var rPhDepth = 0
      var done = false
      while (!done) r.next() match {
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
      sb.toString
    }

    def readCell(): Any = {
      val kind = attr(r, "t") match {
        case "s" => XlsxReader.CellShared
        case "inlineStr" => XlsxReader.CellInline
        case "str" => XlsxReader.CellStr
        case "b" => XlsxReader.CellBool
        case "d" => XlsxReader.CellDate
        case "e" => XlsxReader.CellError
        case _ => XlsxReader.CellNumber
      }
      val s = attr(r, "s")
      val style =
        if (s == null) XlsxReader.NoStyle
        else try s.trim.toInt catch { case _: NumberFormatException => XlsxReader.BadStyle }
      var v: String = null
      var inlineStr: String = null
      var done = false
      while (!done) r.next() match {
        case XMLStreamConstants.START_ELEMENT =>
          r.getLocalName match {
            case "v" => v = readText()
            case "is" => inlineStr = readRichText("is")
            case "f" => skipElement()
            case _ => ()
          }
        case XMLStreamConstants.END_ELEMENT if r.getLocalName == "c" => done = true
        case _ => ()
      }
      if (kind == XlsxReader.CellShared)
        (if (v == null) null else sharedStrings(v.trim.toInt))
      else reader.decodeCell(kind, style, v, inlineStr)
    }

    def readRow(): Array[Any] = {
      val cells = ArrayBuffer.empty[Any]
      var done = false
      while (!done) r.next() match {
        case XMLStreamConstants.START_ELEMENT if r.getLocalName == "c" =>
          val ref = attr(r, "r")
          val col = if (ref == null) cells.length
            else ref.takeWhile(_.isLetter).foldLeft(0)((c, l) => c * 26 + l.toUpper - 'A' + 1) - 1
          while (cells.length < col) cells += null
          val v = readCell()
          if (cells.length == col) cells += v
          else cells(col) = v // out-of-order refs
        case XMLStreamConstants.END_ELEMENT if r.getLocalName == "row" => done = true
        case _ => ()
      }
      cells.toArray
    }

    var exhausted = false
    while (!exhausted && r.hasNext) r.next() match {
      case XMLStreamConstants.START_ELEMENT if r.getLocalName == "row" =>
        val rAttr = attr(r, "r")
        val rowNum = if (rAttr == null) lastRowNum + 1 else rAttr.toInt
        if (rowNum >= endRowExcl) {
          (0 until gapSize(lastRowNum, endRowExcl)).foreach(_ => out += Array.empty[Any])
          exhausted = true
        } else {
          (0 until gapSize(lastRowNum, rowNum)).foreach(_ => out += Array.empty[Any])
          lastRowNum = rowNum
          if (rowNum >= startRow) out += readRow() else skipElement()
        }
      case _ => ()
    }
    out.result()
  }

  private def parseSharedStrings(): IndexedSeq[String] =
    reader.openPart(XlsxReader.SharedStringsPart) match {
      case None => IndexedSeq.empty
      case Some(in: InputStream) =>
        try {
          val r = xmlIn.createXMLStreamReader(in)
          val out = ArrayBuffer.empty[String]
          var inSi = false
          var sb: java.lang.StringBuilder = null
          var inT = false
          // <rPh> phonetic runs carry <t> children that are NOT cell text
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
}

object StaxSheetReader {

  /** A StAX factory that reads no DTD and no external entity. */
  def newFactory(): XMLInputFactory = {
    val f = XMLInputFactory.newInstance()
    f.setProperty(XMLInputFactory.SUPPORT_DTD, false)
    f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    f
  }

  /** The first attribute of the current element with local name `name`. */
  def attr(r: XMLStreamReader, name: String): String = {
    var i = 0
    while (i < r.getAttributeCount) {
      if (r.getAttributeLocalName(i) == name) return r.getAttributeValue(i)
      i += 1
    }
    null
  }
}
