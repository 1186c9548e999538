package graft.sources.excel

import java.io.{File, FileOutputStream}
import java.time.{LocalDate, LocalDateTime}
import java.util.zip.{ZipEntry, ZipOutputStream}

import org.scalatest.funsuite.AnyFunSuite

class XlsxCodecSpec extends AnyFunSuite {

  private def tmpFile(): File = {
    val f = File.createTempFile("graft-xlsx", ".xlsx")
    f.deleteOnExit()
    f
  }

  /** The column the reader's own parser reads off a cell reference. */
  private def columnOf(ref: String): Int = {
    val sc = new XmlScanner(new java.io.ByteArrayInputStream(
      s"""<c r="$ref"/>""".getBytes("UTF-8")), _ => (), () => "test")
    try { assert(sc.nextTag() && sc.nextAttr()); sc.columnValue } finally sc.close()
  }

  test("column ref round-trip A..XFD") {
    (0 until XlsxWriter.MaxColsPerSheet).foreach { n =>
      assert(columnOf(XlsxWriter.colName(n) + "1") == n)
    }
    assert(XlsxWriter.colName(0) == "A")
    assert(XlsxWriter.colName(25) == "Z")
    assert(XlsxWriter.colName(26) == "AA")
    assert(XlsxWriter.colName(XlsxWriter.MaxColsPerSheet - 1) == "XFD")
    assert(columnOf("C5") == 2)
    assert(columnOf("xfd7") == XlsxWriter.MaxColsPerSheet - 1)
    assert(columnOf("5") == -1)
  }

  test("serial date round-trip") {
    val dt = LocalDateTime.of(2023, 6, 15, 13, 45, 30)
    assert(ExcelSerialDate.toDateTime(ExcelSerialDate.fromDateTime(dt)) == dt)
    val d = LocalDate.of(1999, 12, 31)
    assert(ExcelSerialDate.toDate(ExcelSerialDate.fromDate(d)) == d)
    // Known anchor: 2008-01-01 is serial 39448 in the 1900 system
    assert(ExcelSerialDate.fromDate(LocalDate.of(2008, 1, 1)) == 39448.0)
    assert(ExcelSerialDate.toDate(39448.0) == LocalDate.of(2008, 1, 1))
  }

  test("write→read round-trip over mixed types") {
    val f = tmpFile()
    val w = new XlsxWriter(new FileOutputStream(f), "MySheet")
    w.writeRow(Seq("id", "name", "score", "flag", "born", "seen"))
    w.writeRow(Seq(1L, "Alice", 95.5, java.lang.Boolean.TRUE,
      LocalDate.of(1990, 5, 17), LocalDateTime.of(2024, 1, 2, 3, 4, 5)))
    w.writeRow(Seq(2L, "Bob <&\"escaped>", null, java.lang.Boolean.FALSE,
      null, null))
    w.close()

    val r = new XlsxReader(f)
    assert(r.sheets.map(_.name) == Seq("MySheet"))
    val rows = r.rowIterator(r.sheets.head).toVector
    r.close()
    assert(rows.length == 3)
    assert(rows(0).toSeq == Seq("id", "name", "score", "flag", "born", "seen"))
    assert(rows(1).toSeq == Seq(1.0, "Alice", 95.5, true,
      LocalDate.of(1990, 5, 17), LocalDateTime.of(2024, 1, 2, 3, 4, 5)))
    // row 3: nulls are sparse; trailing nulls absent → ragged row
    assert(rows(2)(0) == 2.0)
    assert(rows(2)(1) == "Bob <&\"escaped>")
    assert(rows(2)(2) == null) // interior gap
    assert(rows(2)(3) == false)
    assert(rows(2).length == 4) // trailing nulls not materialized
  }

  test("write→read ragged vs padded rows") {
    val f = tmpFile()
    val w = new XlsxWriter(new FileOutputStream(f))
    w.writeRow(Seq("a", "b", "c"))
    w.writeRow(Seq("only"))
    w.close()
    val r = new XlsxReader(f)
    val rows = r.rowIterator(r.sheets.head).toVector
    r.close()
    assert(rows(1).toSeq == Seq("only"))
  }

  test("sparse cells and skipped rows read as nulls/empty rows") {
    val f = tmpFile()
    val zip = new ZipOutputStream(new FileOutputStream(f))
    def entry(name: String, content: String): Unit = {
      zip.putNextEntry(new ZipEntry(name)); zip.write(content.getBytes("UTF-8")); zip.closeEntry()
    }
    entry("[Content_Types].xml",
      """<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types"><Default Extension="xml" ContentType="application/xml"/><Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/><Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/></Types>""")
    entry("_rels/.rels",
      """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/></Relationships>""")
    entry("xl/workbook.xml",
      """<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheets><sheet name="S" sheetId="1" r:id="rId1"/></sheets></workbook>""")
    entry("xl/_rels/workbook.xml.rels",
      """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/></Relationships>""")
    entry("xl/sharedStrings.xml",
      """<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="2" uniqueCount="2"><si><t>hello</t></si><si><r><t>ri</t></r><r><t>ch</t></r></si></sst>""")
    // row 1: A1 shared string 0, C1 number (B1 missing); row 2 skipped; row 3: rich shared string + inline
    entry("xl/worksheets/sheet1.xml",
      """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>
        |<row r="1"><c r="A1" t="s"><v>0</v></c><c r="C1"><v>42</v></c></row>
        |<row r="3"><c r="A3" t="s"><v>1</v></c><c r="B3" t="inlineStr"><is><t>inl</t></is></c><c r="C3" t="b"><v>1</v></c></row>
        |</sheetData></worksheet>""".stripMargin)
    zip.close()

    val r = new XlsxReader(f)
    val rows = r.rowIterator(r.sheets.head).toVector
    r.close()
    assert(rows.length == 3)
    assert(rows(0).toSeq == Seq("hello", null, 42.0))
    assert(rows(1).isEmpty) // skipped row surfaces as empty
    assert(rows(2).toSeq == Seq("rich", "inl", true))
  }

  test("multi-sheet workbook and sheet resolution") {
    // two sheets via two separate writers is not supported by XlsxWriter
    // (single sheet by design); craft a 2-sheet workbook by hand.
    val f = tmpFile()
    val zip = new ZipOutputStream(new FileOutputStream(f))
    def entry(name: String, content: String): Unit = {
      zip.putNextEntry(new ZipEntry(name)); zip.write(content.getBytes("UTF-8")); zip.closeEntry()
    }
    entry("xl/workbook.xml",
      """<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheets><sheet name="First" sheetId="1" r:id="rId1"/><sheet name="Second" sheetId="2" r:id="rId2"/></sheets></workbook>""")
    entry("xl/_rels/workbook.xml.rels",
      """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/><Relationship Id="rId2" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet2.xml"/></Relationships>""")
    entry("xl/worksheets/sheet1.xml",
      """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData><row r="1"><c r="A1"><v>1</v></c></row></sheetData></worksheet>""")
    entry("xl/worksheets/sheet2.xml",
      """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData><row r="1"><c r="A1"><v>2</v></c></row></sheetData></worksheet>""")
    zip.close()

    val r = new XlsxReader(f)
    assert(r.sheets.map(_.name) == Seq("First", "Second"))
    assert(r.rowIterator(r.resolveSheet("Second")).next().head == 2.0)
    assert(r.rowIterator(r.resolveSheet("1")).next().head == 2.0) // index fallback
    assert(r.rowIterator(r.resolveSheet("0")).next().head == 1.0)
    intercept[IllegalArgumentException](r.resolveSheet("Nope"))
    intercept[IllegalArgumentException](r.resolveSheet("7"))
    r.close()
  }

  test("custom date format detection") {
    assert(XlsxReader.customDateKind("yyyy-mm-dd") == DateKind.DateOnly)
    assert(XlsxReader.customDateKind("yyyy-mm-dd hh:mm:ss") == DateKind.DateTime)
    assert(XlsxReader.customDateKind("#,##0.00") == DateKind.None)
    assert(XlsxReader.customDateKind("General") == DateKind.None)
    assert(XlsxReader.customDateKind("\"today: \"yyyy") == DateKind.DateOnly)
    assert(XlsxReader.customDateKind("[h]:mm") == DateKind.DateTime)
    assert(XlsxReader.customDateKind("0.00E+00") == DateKind.None)
  }

  test("1904 date system shifts the epoch") {
    val f = tmpFile()
    val zip = new ZipOutputStream(new FileOutputStream(f))
    def entry(name: String, content: String): Unit = {
      zip.putNextEntry(new ZipEntry(name)); zip.write(content.getBytes("UTF-8")); zip.closeEntry()
    }
    entry("xl/workbook.xml",
      """<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><workbookPr date1904="1"/><sheets><sheet name="S" sheetId="1" r:id="rId1"/></sheets></workbook>""")
    entry("xl/_rels/workbook.xml.rels",
      """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/></Relationships>""")
    entry("xl/styles.xml",
      """<styleSheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><cellXfs count="2"><xf numFmtId="0"/><xf numFmtId="14" applyNumberFormat="1"/></cellXfs></styleSheet>""")
    // serial 100 in 1904 system = 1904-01-01 + 100 days = 1904-04-10
    entry("xl/worksheets/sheet1.xml",
      """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData><row r="1"><c r="A1" s="1"><v>100</v></c></row></sheetData></worksheet>""")
    zip.close()
    val r = new XlsxReader(f)
    assert(r.date1904)
    val v = r.rowIterator(r.sheets.head).next().head
    r.close()
    assert(v == LocalDate.of(1904, 4, 10))
  }

  test("unicode round-trip: CJK, emoji, RTL, combining marks") {
    val f = tmpFile()
    val w = new XlsxWriter(new FileOutputStream(f))
    val samples = Seq("中文字符串", "emoji 🎉🚀", "עברית مرحبا", "étude", "tab\tand\nnewline")
    w.writeRow(samples)
    w.close()
    val r = new XlsxReader(f)
    val row = r.rowIterator(r.sheets.head).next()
    r.close()
    assert(row.toSeq == samples)
  }

  test("time-only formatted cell reads as datetime fraction of epoch day") {
    val f = tmpFile()
    val zip = new ZipOutputStream(new FileOutputStream(f))
    def entry(name: String, content: String): Unit = {
      zip.putNextEntry(new ZipEntry(name)); zip.write(content.getBytes("UTF-8")); zip.closeEntry()
    }
    entry("xl/workbook.xml",
      """<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheets><sheet name="S" sheetId="1" r:id="rId1"/></sheets></workbook>""")
    entry("xl/_rels/workbook.xml.rels",
      """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/></Relationships>""")
    entry("xl/styles.xml", // numFmtId 21 = h:mm:ss
      """<styleSheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><cellXfs count="2"><xf numFmtId="0"/><xf numFmtId="21" applyNumberFormat="1"/></cellXfs></styleSheet>""")
    entry("xl/worksheets/sheet1.xml", // 0.5 = 12:00:00
      """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData><row r="1"><c r="A1" s="1"><v>0.5</v></c></row></sheetData></worksheet>""")
    zip.close()
    val r = new XlsxReader(f)
    val v = r.rowIterator(r.sheets.head).next().head
    r.close()
    assert(v == java.time.LocalDateTime.of(1899, 12, 30, 12, 0, 0))
  }

  test("OOXML _xHHHH_ escapes: control chars round-trip, literal text preserved") {
    // control char (vertical tab, 0x0B) is written as _x000B_ and decoded back
    val f = tmpFile()
    val w = new XlsxWriter(new FileOutputStream(f))
    w.writeRow(Seq("ab", "literal _x000B_ text", "_x00ZZ_ not an escape"))
    w.close()
    val r = new XlsxReader(f)
    val row = r.rowIterator(r.sheets.head).next()
    r.close()
    assert(row(0) == "ab")
    assert(row(1) == "literal _x000B_ text") // _x005F_-protected on write
    assert(row(2) == "_x00ZZ_ not an escape") // non-hex: untouched
    // unit-level decode parity with openpyxl's convention
    assert(XlsxReader.unescapeOoxml("_x000D_") == "\r")
    assert(XlsxReader.unescapeOoxml("_x005F_x000D_") == "_x000D_")
  }

  test("large integral numbers keep exact text representation") {
    val f = tmpFile()
    val w = new XlsxWriter(new FileOutputStream(f))
    val big = 9007199254740993L // 2^53 + 1: not representable as double
    w.writeRow(Seq(big))
    w.close()
    // the raw <v> text must be exact even though the reader types it double
    val r = new XlsxReader(f)
    val v = r.rowIterator(r.sheets.head).next().head
    r.close()
    assert(v == 9.007199254740992E15) // reader collapses to double (documented)
  }

  test("a sheet part past 4 GiB gets ZIP64 sizes that ZipFile reads and verifies") {
    // 65 copies of one 64 MiB run of zeros, spliced: 4.06 GiB uncompressed
    // in a file of a few MB. Zeros are not sheet XML, but the container
    // neither knows nor cares; the point is the size fields.
    val zeros = new Array[Byte](64 << 20)
    val buf = new java.io.ByteArrayOutputStream
    val piece = new DeflatePiece(buf)
    piece.write(zeros, 0, zeros.length)
    val seg = piece.close(last = false)
    val bytes = buf.toByteArray
    val f = tmpFile()
    val w = new XlsxWriter(new FileOutputStream(f))
    (1 to 65).foreach(_ => w.appendSegment(new java.io.ByteArrayInputStream(bytes), seg))
    w.close()
    val zf = new java.util.zip.ZipFile(f)
    try {
      val e = zf.getEntry("xl/worksheets/sheet1.xml")
      assert(e.getSize > 0xffffffffL && e.getSize > 65L * zeros.length, e.getSize)
      val crc = new java.util.zip.CRC32
      val in = zf.getInputStream(e)
      var n = 0L
      try {
        var r = in.read(zeros)
        while (r >= 0) { crc.update(zeros, 0, r); n += r; r = in.read(zeros) }
      } finally in.close()
      assert(n == e.getSize && crc.getValue == e.getCrc)
      assert(zf.getEntry("xl/workbook.xml") != null) // entries after it still resolve
    } finally zf.close()
  }
}
