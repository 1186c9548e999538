package graft.sources.excel

import java.io.{File, FileOutputStream}
import java.util.zip.{ZipEntry, ZipOutputStream}

import org.scalacheck.{Gen, Prop, Properties}

/** Adversarial OOXML STRUCTURE properties (VERDICT r18 item 7 — the
  * container-level counterpart of `XlsxRoundTripProps`, which only
  * exercises what `XlsxWriter` itself emits).
  *
  * Workbooks here are assembled BY HAND with `ZipOutputStream`, so the
  * generator controls spellings the writer never produces: shared-table
  * vs inline vs cached-formula strings, sparse cell refs / missing rows,
  * style-dated serials (builtin and custom formats, the 1900-leap-bug
  * region), junk ZIP parts, unknown XML elements/attributes, truncated
  * containers. The contract pinned: parse to exactly the hand-computed
  * table, or reject with an exception — never silently mis-parse, never
  * crash on b(negative)-style internal errors.
  *
  * Reference behavior baseline: openpyxl's conventions as adopted in
  * `/root/reference/src/pyspark_datasource/excel/connector.py:83`
  * (shifted 1899-12-30 epoch, serials 1..60 not special-cased).
  */
object XlsxAdversarialProps extends Properties("xlsx.adversarial") {

  // ------------------------------------------------------ zip assembly

  private[excel] def xmlEscape(s: String): String = {
    val sb = new java.lang.StringBuilder
    s.foreach {
      case '&' => sb.append("&amp;")
      case '<' => sb.append("&lt;")
      case '>' => sb.append("&gt;")
      case '"' => sb.append("&quot;")
      case c => sb.append(c)
    }
    sb.toString
  }

  private[excel] def zipFile(entries: Seq[(String, Array[Byte])]): File = {
    val f = File.createTempFile("graft-adv", ".xlsx")
    val z = new ZipOutputStream(new FileOutputStream(f))
    try entries.foreach { case (name, bytes) =>
      z.putNextEntry(new ZipEntry(name))
      z.write(bytes)
      z.closeEntry()
    } finally z.close()
    f
  }

  private[excel] def workbookXml(date1904: Boolean = false): (String, Array[Byte]) =
    "xl/workbook.xml" -> (s"""<?xml version="1.0"?>
      |<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
      |${if (date1904) "<workbookPr date1904=\"1\"/>" else ""}
      |<sheets><sheet name="S" sheetId="1" id="rId1"/></sheets>
      |</workbook>""".stripMargin.getBytes("UTF-8"))

  private def sheetXml(body: String): (String, Array[Byte]) =
    "xl/worksheets/sheet1.xml" -> (s"""<?xml version="1.0"?>
      |<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
      |<sheetData>$body</sheetData></worksheet>""".stripMargin.getBytes("UTF-8"))

  /** The first sheet's rows, read by the scanner and checked against the
    * StAX spec (`SheetScannerProps.checked`). */
  private def readAll(f: File): Vector[Vector[Any]] = {
    val r = new XlsxReader(f)
    try SheetScannerProps.checked(r, r.sheets.head).map(_.toVector)
    finally r.close()
  }

  // --------------------------------- 1. string-cell spelling equivalence

  private val genCellString: Gen[String] = Gen.chooseNum(0, 12).flatMap { n =>
    Gen.listOfN(n, Gen.frequency(
      8 -> Gen.choose(' ', '~'),
      1 -> Gen.oneOf('中', 'é', 'λ'),
      1 -> Gen.oneOf('&', '<', '>', '"'))).map(_.mkString)
  }

  private val genStringTable: Gen[Seq[Seq[String]]] = for {
    nCols <- Gen.chooseNum(1, 4)
    nRows <- Gen.chooseNum(1, 12)
    rows <- Gen.listOfN(nRows, Gen.listOfN(nCols, genCellString))
  } yield rows

  property("shared-table, inline, and cached-formula string spellings " +
    "parse identically") = Prop.forAll(genStringTable) { rows =>
    // shared-strings spelling (t="s" + xl/sharedStrings.xml)
    val pool = rows.flatten.distinct
    val poolIdx = pool.zipWithIndex.toMap
    val sst = "xl/sharedStrings.xml" -> (
      s"""<?xml version="1.0"?><sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">${
        pool.map(s => s"""<si><t xml:space="preserve">${xmlEscape(s)}</t></si>""").mkString
      }</sst>""").getBytes("UTF-8")
    def rowsXml(cell: String => String): String =
      rows.zipWithIndex.map { case (r, i) =>
        s"""<row r="${i + 1}">${r.zipWithIndex.map { case (v, j) =>
          s"""<c r="${XlsxWriter.colName(j)}${i + 1}" ${cell(v)}</c>"""
        }.mkString}</row>"""
      }.mkString
    val shared = zipFile(Seq(workbookXml(),
      sheetXml(rowsXml(v => s"""t="s"><v>${poolIdx(v)}</v>""")), sst))
    val inline = zipFile(Seq(workbookXml(),
      sheetXml(rowsXml(v =>
        s"""t="inlineStr"><is><t xml:space="preserve">${xmlEscape(v)}</t></is>"""))))
    val cachedFormula = zipFile(Seq(workbookXml(),
      sheetXml(rowsXml(v =>
        s"""t="str"><f>CONCAT("x")</f><v>${xmlEscape(v)}</v>"""))))
    try {
      val want = rows.map(_.toVector).toVector
      readAll(shared) == want && readAll(inline) == want &&
        readAll(cachedFormula) == want
    } finally { shared.delete(); inline.delete(); cachedFormula.delete() }
  }

  // --------------------------------------- 2. sparse refs ≡ dense nulls

  private val genSparse: Gen[Seq[Seq[Option[Long]]]] = for {
    nCols <- Gen.chooseNum(1, 6)
    nRows <- Gen.chooseNum(1, 15)
    rows <- Gen.listOfN(nRows, Gen.listOfN(nCols,
      Gen.frequency(1 -> Gen.const(Option.empty[Long]),
        1 -> Gen.chooseNum(-99999L, 99999L).map(Some(_)))))
  } yield rows

  property("sparse cell refs and absent rows parse as interior nulls / " +
    "empty gap rows") = Prop.forAll(genSparse) { rows =>
    // emit ONLY defined cells, with explicit refs; omit fully-empty rows
    val body = rows.zipWithIndex.collect {
      case (r, i) if r.exists(_.isDefined) =>
        s"""<row r="${i + 1}">${r.zipWithIndex.collect {
          case (Some(v), j) =>
            s"""<c r="${XlsxWriter.colName(j)}${i + 1}"><v>$v</v></c>"""
        }.mkString}</row>"""
    }.mkString
    val f = zipFile(Seq(workbookXml(), sheetXml(body)))
    try {
      val got = readAll(f)
      // expected: dense matrix up to the LAST non-empty row; inside each
      // emitted row, cells up to its last defined column (trailing
      // absent cells are sparse); absent rows are empty arrays
      val lastRow = rows.lastIndexWhere(_.exists(_.isDefined))
      val want = rows.take(lastRow + 1).map { r =>
        val lastCol = r.lastIndexWhere(_.isDefined)
        r.take(lastCol + 1)
          .map(_.map(v => java.lang.Double.valueOf(v.toDouble)).orNull)
          .toVector
      }.toVector
      got == want
    } finally f.delete()
  }

  // ----------------------- 3. style-dated serials incl. 1900-leap region

  // style table: s=0 plain, s=1 builtin date (14), s=2 builtin datetime
  // (22), s=3 custom date-time format, s=4 custom NON-date format
  private val stylesXml: (String, Array[Byte]) =
    "xl/styles.xml" -> ("""<?xml version="1.0"?>
      |<styleSheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
      |<numFmts count="2">
      |<numFmt numFmtId="164" formatCode="yyyy-mm-dd hh:mm"/>
      |<numFmt numFmtId="165" formatCode="0.00%"/>
      |</numFmts>
      |<cellXfs count="5">
      |<xf numFmtId="0"/><xf numFmtId="14"/><xf numFmtId="22"/>
      |<xf numFmtId="164"/><xf numFmtId="165"/>
      |</cellXfs></styleSheet>""".stripMargin).getBytes("UTF-8")

  private val genSerialCells: Gen[Seq[(Double, Int)]] = for {
    n <- Gen.chooseNum(1, 12)
    cells <- Gen.listOfN(n, for {
      days <- Gen.chooseNum(0L, 73000L)
      frac <- Gen.oneOf(Gen.const(0.0), Gen.chooseNum(0, 86399)
        .map(_ / 86400.0))
      style <- Gen.chooseNum(0, 4)
    } yield (days + frac, style))
  } yield cells

  property("style-dated serials decode per the shifted-1899-12-30 " +
    "convention; non-date styles stay Double") =
    Prop.forAll(genSerialCells, Gen.oneOf(false, true)) { (cells, d1904) =>
      val body = s"""<row r="1">${cells.zipWithIndex.map { case ((v, s), j) =>
        s"""<c r="${XlsxWriter.colName(j)}1" s="$s"><v>$v</v></c>"""
      }.mkString}</row>"""
      val f = zipFile(Seq(workbookXml(d1904), sheetXml(body), stylesXml))
      try {
        val got = readAll(f).head
        val want = cells.map { case (v, s) =>
          val kind =
            if (s == 1) DateKind.DateOnly
            else if (s == 2 || s == 3) DateKind.DateTime
            else DateKind.None
          kind match {
            case DateKind.DateOnly if v == math.floor(v) =>
              ExcelSerialDate.toDate(v, d1904)
            case DateKind.DateOnly | DateKind.DateTime =>
              ExcelSerialDate.toDateTime(v, d1904)
            case DateKind.None => java.lang.Double.valueOf(v)
          }
        }.toVector
        got == want
      } finally f.delete()
    }

  property("1900 leap-bug region is the documented shifted-epoch mapping " +
    "(serial 60 = 1900-02-28, 61 = 1900-03-01; no special-casing)") =
    Prop.forAll(Gen.const(())) { _ =>
      val body = """<row r="1"><c r="A1" s="1"><v>59</v></c>""" +
        """<c r="B1" s="1"><v>60</v></c><c r="C1" s="1"><v>61</v></c>""" +
        """<c r="D1" s="1"><v>1</v></c></row>"""
      val f = zipFile(Seq(workbookXml(), sheetXml(body), stylesXml))
      try {
        val got = readAll(f).head
        got == Vector(
          java.time.LocalDate.of(1900, 2, 27),
          java.time.LocalDate.of(1900, 2, 28),
          java.time.LocalDate.of(1900, 3, 1), // Lotus's phantom Feb 29 skipped
          java.time.LocalDate.of(1899, 12, 31))
      } finally f.delete()
    }

  // ------------- 3b. rich-text runs + phonetic <rPh> exclusion (openpyxl)

  private val genRuns: Gen[Seq[(String, Boolean)]] = for {
    n <- Gen.chooseNum(1, 6)
    runs <- Gen.listOfN(n, for {
      s <- genCellString
      phonetic <- Gen.frequency(3 -> false, 1 -> true)
    } yield (s, phonetic))
  } yield runs

  property("rich-text <r> runs concatenate and <rPh> phonetic runs are " +
    "EXCLUDED, identically for shared and inline spellings") =
    Prop.forAll(genRuns) { runs =>
      def runsXml(rs: Seq[(String, Boolean)]): String = rs.map {
        case (s, true) =>
          s"""<rPh sb="0" eb="1"><t>${xmlEscape(s)}</t></rPh>"""
        case (s, false) =>
          s"""<r><rPr><b/></rPr><t xml:space="preserve">${xmlEscape(s)}</t></r>"""
      }.mkString
      val want = runs.collect { case (s, false) => s }.mkString
      val sst = "xl/sharedStrings.xml" -> (
        s"""<?xml version="1.0"?><sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><si>${
          runsXml(runs)}</si></sst>""").getBytes("UTF-8")
      val shared = zipFile(Seq(workbookXml(),
        sheetXml("""<row r="1"><c r="A1" t="s"><v>0</v></c></row>"""), sst))
      val inline = zipFile(Seq(workbookXml(), sheetXml(
        s"""<row r="1"><c r="A1" t="inlineStr"><is>${runsXml(runs)}</is></c></row>""")))
      try {
        val gotShared = readAll(shared).head.head
        val gotInline = readAll(inline).head.head
        gotShared == want && gotInline == want
      } finally { shared.delete(); inline.delete() }
    }

  // --------------------------- 3c. ISO-8601 t="d" cells (ECMA-376 legal)

  property("t=\"d\" ISO-8601 cells parse as dates/datetimes (previously " +
    "crashed in the numeric branch)") =
    Prop.forAll(Gen.chooseNum(0L, 73000L), Gen.chooseNum(0, 86399)) {
      (days, sec) =>
        val d = java.time.LocalDate.of(1900, 1, 1).plusDays(days)
        val dt = d.atStartOfDay.plusSeconds(sec)
        val body = s"""<row r="1"><c r="A1" t="d"><v>$d</v></c>""" +
          s"""<c r="B1" t="d"><v>$dt</v></c><c r="C1" t="d"><v></v></c></row>"""
        val f = zipFile(Seq(workbookXml(), sheetXml(body)))
        try readAll(f).head == Vector(d, dt, null)
        finally f.delete()
    }

  property("t=\"d\" cells with a zone designator (xsd-legal Z/±hh:mm) " +
    "normalize to UTC instead of crashing") =
    Prop.forAll(Gen.chooseNum(0L, 73000L), Gen.chooseNum(0, 86399),
      Gen.oneOf("Z", "+00:00", "+09:00", "-05:30", "+14:00")) {
      (days, sec, zone) =>
        val d = java.time.LocalDate.of(1900, 1, 1).plusDays(days)
        val dt = d.atStartOfDay.plusSeconds(sec)
        val wantDt = dt.atOffset(java.time.ZoneOffset.of(zone))
          .withOffsetSameInstant(java.time.ZoneOffset.UTC).toLocalDateTime
        val body = s"""<row r="1"><c r="A1" t="d"><v>$d$zone</v></c>""" +
          s"""<c r="B1" t="d"><v>$dt$zone</v></c></row>"""
        val f = zipFile(Seq(workbookXml(), sheetXml(body)))
        // a zoned pure date keeps its calendar day (offset dropped); a
        // zoned datetime converts to the same instant in UTC
        try readAll(f).head == Vector(d, wantDt)
        finally f.delete()
    }

  // ------------------------------- 4. junk ZIP parts + unknown XML noise

  private val genJunkEntries: Gen[Seq[(String, Array[Byte])]] = for {
    n <- Gen.chooseNum(0, 4)
    entries <- Gen.listOfN(n, for {
      name <- Gen.oneOf("docProps/junk.bin", "xl/media/image1.png",
        "customXml/item1.xml", "xl/worksheets/_rels/sheet1.xml.rels",
        "weird dir/with space.txt")
      len <- Gen.chooseNum(0, 512)
      seed <- Gen.chooseNum(0, 255)
    } yield (name, Array.tabulate[Byte](len)(i => ((i * 31 + seed) & 0xff).toByte)))
  } yield entries.distinctBy(_._1)
    .filterNot(_._1 == "xl/worksheets/sheet1.xml")

  property("junk ZIP parts and unknown XML elements/attributes do not " +
    "perturb parsing") =
    Prop.forAll(genStringTable, genJunkEntries) { (rows, junk) =>
      val body = rows.zipWithIndex.map { case (r, i) =>
        s"""<row r="${i + 1}" spans="1:${r.length}" customHeight="1">${
          r.zipWithIndex.map { case (v, j) =>
            s"""<c r="${XlsxWriter.colName(j)}${i + 1}" t="inlineStr" cm="1">""" +
              s"""<is><t xml:space="preserve">${xmlEscape(v)}</t></is>""" +
              """<extLst><ext uri="x"><junk a="1">noise</junk></ext></extLst></c>"""
          }.mkString}</row>"""
      }.mkString
      val f = zipFile(Seq(workbookXml(), sheetXml(body)) ++ junk)
      try readAll(f) == rows.map(_.toVector).toVector
      finally f.delete()
    }

  // -------------------------------------- 5. truncated containers reject

  property("a truncated container REJECTS with an exception — never " +
    "parses to wrong rows, never hangs") =
    Prop.forAll(genStringTable, Gen.chooseNum(0.0, 0.95)) { (rows, cut) =>
      val body = rows.zipWithIndex.map { case (r, i) =>
        s"""<row r="${i + 1}">${r.zipWithIndex.map { case (v, j) =>
          s"""<c r="${XlsxWriter.colName(j)}${i + 1}" t="inlineStr"><is><t>${
            xmlEscape(v)}</t></is></c>"""
        }.mkString}</row>"""
      }.mkString
      val whole = zipFile(Seq(workbookXml(), sheetXml(body)))
      val bytes = java.nio.file.Files.readAllBytes(whole.toPath)
      whole.delete()
      val f = File.createTempFile("graft-trunc", ".xlsx")
      try {
        val n = math.max(0, (bytes.length * cut).toInt)
        java.nio.file.Files.write(f.toPath, java.util.Arrays.copyOf(bytes, n))
        // ZIP central directory lives at the tail: any strict prefix is
        // structurally broken and must throw (at open or at iteration)
        val threw =
          try { readAll(f); false }
          catch { case _: Exception => true }
        threw
      } finally f.delete()
    }
}
