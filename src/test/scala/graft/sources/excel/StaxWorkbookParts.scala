package graft.sources.excel

import java.io.File
import java.util.zip.ZipFile
import javax.xml.stream.{XMLStreamConstants, XMLStreamReader}

import scala.collection.mutable.ArrayBuffer

/** The StAX parse of a workbook's cold parts that `XlsxReader` used before
  * it read them with [[XmlScanner]], kept as their executable spec:
  * `xl/workbook.xml` (sheet catalog, 1904 flag), `xl/_rels/workbook.xml.rels`
  * (sheet → worksheet part) and `xl/styles.xml` (each `cellXfs` style's
  * date kind). `SheetScannerProps` checks that the reader's `sheets`,
  * `date1904` and `styleKinds` equal what this reads.
  */
object StaxWorkbookParts {
  import StaxSheetReader.attr

  final case class Parts(sheets: Seq[XlsxReader.Sheet], date1904: Boolean,
      styleKinds: IndexedSeq[DateKind.Value])

  def read(file: File): Parts = {
    val zip = new ZipFile(file)
    try {
      val (sheets, date1904) = parseWorkbook(zip)
      Parts(sheets, date1904, parseStyles(zip))
    } finally zip.close()
  }

  private def parse[T](zip: ZipFile, part: String, absent: T)(
      body: XMLStreamReader => T): T =
    Option(zip.getEntry(part)) match {
      case None => absent
      case Some(entry) =>
        val in = zip.getInputStream(entry)
        try {
          val r = StaxSheetReader.newFactory().createXMLStreamReader(in)
          try body(r) finally r.close()
        } finally in.close()
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

  private def parseWorkbook(zip: ZipFile): (Seq[XlsxReader.Sheet], Boolean) = {
    // r:id → worksheet part path
    val rels = parse(zip, "xl/_rels/workbook.xml.rels", Map.empty[String, String]) { r =>
      val b = Map.newBuilder[String, String]
      while (r.hasNext) r.next() match {
        case XMLStreamConstants.START_ELEMENT if r.getLocalName == "Relationship" =>
          val id = attr(r, "Id")
          val target = attr(r, "Target")
          if (id != null && target != null)
            b += id -> (if (target.startsWith("/")) target.substring(1) else "xl/" + target)
        case _ => ()
      }
      b.result()
    }
    parse(zip, "xl/workbook.xml", (Seq.empty[XlsxReader.Sheet], false)) { r =>
      val sheets = ArrayBuffer.empty[XlsxReader.Sheet]
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
              val entry = rels.getOrElse(rid, s"xl/worksheets/sheet$sheetOrdinal.xml")
              sheets += XlsxReader.Sheet(if (name == null) s"Sheet$sheetOrdinal" else name,
                entry)
            case _ => ()
          }
        case _ => ()
      }
      (sheets.toSeq, date1904)
    }
  }

  /** cellXfs style index → date kind, via numFmtId (builtin or custom). */
  private def parseStyles(zip: ZipFile): IndexedSeq[DateKind.Value] =
    parse(zip, "xl/styles.xml", IndexedSeq.empty[DateKind.Value]) { r =>
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
      xfFmtIds.map(id => XlsxReader.dateKindOf(id, customFmts.get(id))).toIndexedSeq
    }
}
