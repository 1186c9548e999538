package graft.sources.excel

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.SparkException
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The sheet scanner's failure modes (the sheet's row and column caps
  * among them), its on-demand shared-strings table, the epoch of raw
  * serials and the scan metrics it reports. */
class SheetScannerSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def workbook(sheetXml: String, extra: (String, Array[Byte])*): File =
    XlsxAdversarialProps.zipFile(Seq(XlsxAdversarialProps.workbookXml(),
      "xl/worksheets/sheet1.xml" -> sheetXml.getBytes(UTF_8)) ++ extra)

  private def sheet(rows: String): String =
    """<?xml version="1.0" encoding="UTF-8"?><worksheet xmlns=""" +
      """"http://schemas.openxmlformats.org/spreadsheetml/2006/main">""" +
      s"<sheetData>$rows</sheetData></worksheet>"

  private def cell(ref: String, v: String): String = s"""<c r="$ref"><v>$v</v></c>"""

  private def str(ref: String, s: String): String =
    s"""<c r="$ref" t="inlineStr"><is><t>$s</t></is></c>"""

  private def rows(f: File): Vector[Vector[Any]] = {
    val r = new XlsxReader(f)
    try r.rowIterator(r.sheets.head).map(_.toVector).toVector finally r.close()
  }

  private def messages(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")

  test("a sheet part cut mid-row inside a valid ZIP fails, naming file and sheet") {
    val whole = sheet((1 to 50).map(i =>
      s"""<row r="$i">${cell(s"A$i", i.toString)}${str(s"B$i", s"n$i")}</row>""").mkString)
    val cut = whole.substring(0, whole.indexOf("""<row r="31">""") + 20)
    val f = workbook(cut)
    try {
      val e = intercept[SparkException](rows(f))
      Seq("Truncated", f.getPath, "sheet 'S'", "row 31").foreach(s =>
        assert(e.getMessage.contains(s), e.getMessage))
      val r = new XlsxReader(f)
      try intercept[SparkException](r.lastRowNumber(r.sheets.head, trustDimension = false))
      finally r.close()
      val e2 = intercept[Exception](
        spark.read.format("excel").load(f.getPath).collect())
      assert(messages(e2).contains("Truncated"), messages(e2))
    } finally f.delete()

    // cut between two rows: still truncated, never 30 complete rows
    val between = whole.substring(0, whole.indexOf("""<row r="31">"""))
    val g = workbook(between)
    try intercept[SparkException](rows(g)) finally g.delete()
  }

  private val stylesXml =
    """<?xml version="1.0" encoding="UTF-8"?><styleSheet xmlns=""" +
      """"http://schemas.openxmlformats.org/spreadsheetml/2006/main">""" +
      """<numFmts count="1"><numFmt numFmtId="164" formatCode="yyyy-mm-dd"/></numFmts>""" +
      """<cellXfs count="2"><xf numFmtId="0"/><xf numFmtId="164"/></cellXfs></styleSheet>"""

  /** A one-sheet workbook with the given workbook and styles parts. */
  private def coldParts(workbookXml: String, styles: String): File =
    XlsxAdversarialProps.zipFile(Seq(
      "xl/workbook.xml" -> workbookXml.getBytes(UTF_8),
      "xl/styles.xml" -> styles.getBytes(UTF_8),
      "xl/worksheets/sheet1.xml" -> sheet(s"""<row r="1">${cell("A1", "1")}</row>""")
        .getBytes(UTF_8)))

  private val workbookText = new String(XlsxAdversarialProps.workbookXml()._2, UTF_8)

  test("a workbook or styles part cut before its root closes fails, naming file and part") {
    val whole = coldParts(workbookText, stylesXml)
    try {
      val r = new XlsxReader(whole)
      try {
        assert(r.sheets.map(_.name) == Seq("S"))
        assert(r.styleKinds == IndexedSeq(DateKind.None, DateKind.DateOnly))
      } finally r.close()
    } finally whole.delete()
    val cuts = Seq(
      "xl/workbook.xml" -> coldParts(
        workbookText.substring(0, workbookText.indexOf("</sheets>")), stylesXml),
      "xl/workbook.xml" -> coldParts("", stylesXml),
      "xl/styles.xml" -> coldParts(workbookText,
        stylesXml.substring(0, stylesXml.indexOf("</cellXfs>"))),
      "xl/styles.xml" -> coldParts(workbookText,
        stylesXml.substring(0, stylesXml.indexOf("<cellXfs"))))
    cuts.foreach { case (part, f) =>
      try {
        val e = intercept[SparkException](new XlsxReader(f).close())
        Seq("Truncated", f.getPath, part).foreach(s =>
          assert(e.getMessage.contains(s), e.getMessage))
        val e2 = intercept[Exception](spark.read.format("excel").load(f.getPath).collect())
        assert(messages(e2).contains("Truncated"), messages(e2))
      } finally f.delete()
    }
  }

  test("a document type in a workbook or styles part fails") {
    val doctype = """<!DOCTYPE x [<!ENTITY e "v">]>"""
    def withDoctype(xml: String): String = {
      val at = xml.indexOf("?>") + 2
      xml.substring(0, at) + doctype + xml.substring(at)
    }
    Seq(
      "xl/workbook.xml" -> coldParts(withDoctype(workbookText), stylesXml),
      "xl/styles.xml" -> coldParts(workbookText, withDoctype(stylesXml))).foreach {
      case (part, f) =>
        try {
          val e = intercept[SparkException](new XlsxReader(f).close())
          Seq("document type", f.getPath, part).foreach(s =>
            assert(e.getMessage.contains(s), e.getMessage))
        } finally f.delete()
    }
  }

  test("cold-part bytes are not sheet bytes") {
    val f = coldParts(workbookText, stylesXml)
    try {
      val sheetSize = {
        val z = new java.util.zip.ZipFile(f)
        try z.getEntry("xl/worksheets/sheet1.xml").getSize finally z.close()
      }
      val r = new XlsxReader(f)
      try {
        assert(r.counters.sheetBytes == 0, "opening a reader scans no sheet byte")
        assert(r.lastRowNumber(r.sheets.head, trustDimension = false) == 1)
        assert(r.counters.sheetBytes == sheetSize)
      } finally r.close()
    } finally f.delete()
  }

  test("a complete part with no sheetData (a chart sheet) reads as no rows") {
    val ns = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    val chart =
      """<?xml version="1.0" encoding="UTF-8"?><chartsheet xmlns=""" +
        s""""http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="$ns">""" +
        """<sheetPr/><sheetViews><sheetView workbookViewId="0"/></sheetViews>""" +
        """<drawing r:id="rId1"/></chartsheet>"""
    def book(chartXml: String): File = XlsxAdversarialProps.zipFile(Seq(
      "xl/workbook.xml" -> ("""<workbook xmlns=""" +
        s""""http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="$ns">""" +
        """<sheets><sheet name="S" sheetId="1" r:id="rId1"/>""" +
        """<sheet name="Chart" sheetId="2" r:id="rId2"/></sheets></workbook>""").getBytes(UTF_8),
      "xl/_rels/workbook.xml.rels" -> ("""<Relationships xmlns=""" +
        """"http://schemas.openxmlformats.org/package/2006/relationships">""" +
        s"""<Relationship Id="rId1" Type="$ns/worksheet" Target="worksheets/sheet1.xml"/>""" +
        s"""<Relationship Id="rId2" Type="$ns/chartsheet" Target="chartsheets/sheet1.xml"/>""" +
        "</Relationships>").getBytes(UTF_8),
      "xl/worksheets/sheet1.xml" -> sheet(
        s"""<row r="1">${str("A1", "id")}</row><row r="2">${cell("A2", "7")}</row>""")
        .getBytes(UTF_8),
      "xl/chartsheets/sheet1.xml" -> chartXml.getBytes(UTF_8)))

    val f = book(chart)
    try {
      val r = new XlsxReader(f)
      try {
        val c = r.sheets.find(_.name == "Chart").get
        assert(c.entry == "xl/chartsheets/sheet1.xml")
        assert(r.rowIterator(c).isEmpty)
        assert(new StaxSheetReader(r).rows(c).isEmpty)
        assert(r.rowIterator(c, 1, Int.MaxValue, Array(true)).isEmpty)
        Seq(true, false).foreach(t => assert(r.lastRowNumber(c, t) == 0))
      } finally r.close()
      val df = spark.read.format("excel").option("sheetName", "*").load(f.getPath)
      assert(df.collect().map(_.getAs[Any]("id")).toSeq == Seq(7))
    } finally f.delete()

    // the same part cut before its root closes is still truncated
    val g = book(chart.substring(0, chart.indexOf("<drawing")))
    try {
      val r = new XlsxReader(g)
      try {
        val c = r.sheets.find(_.name == "Chart").get
        intercept[SparkException](r.rowIterator(c).toVector)
        intercept[SparkException](r.lastRowNumber(c, trustDimension = false))
      } finally r.close()
    } finally g.delete()
  }

  test("a projection of a sheet wider than the row buffer reads") {
    val width = 40
    val n = 5
    val header = (0 until width).map(j => str(s"${XlsxWriter.colName(j)}1", s"c$j")).mkString
    val body = (2 to n + 1).map { i =>
      s"""<row r="$i">${(0 until width).map(j =>
        cell(s"${XlsxWriter.colName(j)}$i", (i * 100 + j).toString)).mkString}</row>"""
    }.mkString
    val f = workbook(sheet(s"""<row r="1">$header</row>$body"""))
    try {
      val r = new XlsxReader(f)
      try {
        Seq(Seq(0), Seq(20), Seq(0, 39), Seq.empty[Int]).foreach { cols =>
          val mask = Array.tabulate(width)(cols.contains)
          val got = r.rowIterator(r.sheets.head, 2, Int.MaxValue, mask).map(_.toSeq).toVector
          val want = (2 to n + 1).map(i => (0 until width).map(j =>
            if (mask(j)) java.lang.Double.valueOf(i * 100 + j) else null))
          assert(got.map(_.padTo(width, null)) == want, s"columns $cols")
        }
      } finally r.close()
      val df = spark.read.format("excel").load(f.getPath)
      assert(df.select("c0").collect().map(_.get(0)).toSeq ==
        (2 to n + 1).map(i => i * 100))
      assert(df.select("c20", "c3").collect().map(r => (r.get(0), r.get(1))).toSeq ==
        (2 to n + 1).map(i => (i * 100 + 20, i * 100 + 3)))
    } finally f.delete()
  }

  test("a cell past column XFD or a row past 1,048,576 fails, naming the reference and the cap") {
    def read(rowsXml: String, columns: Array[Boolean]): Vector[Vector[Any]] = {
      val f = workbook(sheet(rowsXml))
      try {
        val r = new XlsxReader(f)
        try r.rowIterator(r.sheets.head, 1, Int.MaxValue, columns).map(_.toVector).toVector
        finally r.close()
      } finally f.delete()
    }
    val last = read(s"""<row r="1">${cell("XFD1", "7")}</row>""", null)
    assert(last.map(_.length) == Vector(XlsxWriter.MaxColsPerSheet))
    assert(last.head.last == 7.0)
    // all columns, and a one-column mask that skips the cell's value
    Seq(null, Array(true)).foreach { columns =>
      Seq("XFE1", "ZZZZZZ1", "ZZZZZZZ1").foreach { ref =>
        val e = intercept[SparkException](read(s"""<row r="1">${cell(ref, "1")}</row>""", columns))
        Seq(ref, "XFD", s"${XlsxWriter.MaxColsPerSheet} columns")
          .foreach(s => assert(e.getMessage.contains(s), e.getMessage))
      }
      val e = intercept[SparkException](
        read(s"""<row r="1">${cell("A1", "1")}</row><row r="1048577">${cell("A1048577", "2")}</row>""",
          columns))
      Seq("1048577", s"${XlsxWriter.MaxRowsPerSheet}")
        .foreach(s => assert(e.getMessage.contains(s), e.getMessage))
    }
    assert(read(s"""<row r="1048576">${cell("A1048576", "3")}</row>""", Array(false))
      .length == XlsxWriter.MaxRowsPerSheet)
  }

  test("a raw serial read as a timestamp counts from the workbook's epoch") {
    val rows = s"""<row r="1">${str("A1", "t")}</row><row r="2">${cell("A2", "100")}</row>"""
    val schema = StructType(Seq(StructField("t", TimestampType)))
    Seq(false -> "1900-04-09T00:00", true -> "1904-04-10T00:00").foreach { case (d1904, want) =>
      val f = XlsxAdversarialProps.zipFile(Seq(XlsxAdversarialProps.workbookXml(d1904),
        "xl/worksheets/sheet1.xml" -> sheet(rows).getBytes(UTF_8)))
      try {
        val got = spark.read.format("excel").schema(schema).load(f.getPath)
          .collect().map(_.getTimestamp(0).toInstant.toString).toSeq
        assert(got == Seq(s"${want}:00Z"), s"date1904=$d1904")
      } finally f.delete()
    }
  }

  test("an undeclared entity fails") {
    val f = workbook(sheet(s"""<row r="1">${str("A1", "a &nbsp; b")}</row>"""))
    try {
      val e = intercept[SparkException](rows(f))
      assert(e.getMessage.contains("undeclared entity &nbsp;"), e.getMessage)
    } finally f.delete()
  }

  test("one element past the window cap fails, naming file, sheet and row") {
    val big = "7" * (XmlScanner.MaxElementBytes + 1)
    val f = workbook(sheet(
      s"""<row r="1">${cell("A1", "1")}</row><row r="2">${cell("A2", big)}</row>"""))
    try {
      val e = intercept[SparkException](rows(f))
      Seq(s"${XmlScanner.MaxElementBytes} bytes", f.getPath, "sheet 'S'", "row 2")
        .foreach(s => assert(e.getMessage.contains(s), e.getMessage))
    } finally f.delete()
  }

  test("a malformed number fails the scan only when its column is read") {
    val f = workbook(sheet(
      s"""<row r="1">${str("A1", "id")}${str("B1", "bad")}</row>""" +
        s"""<row r="2">${cell("A2", "1")}${cell("B2", "12x")}</row>"""))
    try {
      val schema = StructType(Seq(StructField("id", IntegerType),
        StructField("bad", DoubleType)))
      val df = spark.read.format("excel").schema(schema).load(f.getPath)
      assert(df.select("id").collect().map(_.getInt(0)).toSeq == Seq(1))
      val e = intercept[Exception](df.select("bad").collect())
      assert(messages(e).contains("NumberFormatException") ||
        messages(e).contains("12x"), messages(e))
    } finally f.delete()
  }

  /** A header of `width` shared strings (entries 0 until width), then
    * `n` rows of one number and `width - 1` shared strings each. */
  private def sharedStringsWorkbook(width: Int, n: Int): File = {
    val names = (0 until width).map(i => s"col$i")
    val texts = (1 to n).flatMap(i => (1 until width).map(j => s"text $i $j"))
    val pool = names ++ texts
    val sst = pool.map(s => s"<si><t>$s</t></si>").mkString(
      """<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">""", "",
      "</sst>")
    val header = (0 until width).map(j =>
      s"""<c r="${XlsxWriter.colName(j)}1" t="s"><v>$j</v></c>""").mkString
    val body = (1 to n).map { i =>
      val strs = (1 until width).map(j =>
        s"""<c r="${XlsxWriter.colName(j)}${i + 1}" t="s"><v>${
          width + (i - 1) * (width - 1) + j - 1}</v></c>""").mkString
      s"""<row r="${i + 1}">${cell(s"A${i + 1}", i.toString)}$strs</row>"""
    }.mkString
    workbook(sheet(s"""<row r="1">$header</row>$body"""),
      XlsxReader.SharedStringsPart -> sst.getBytes(UTF_8))
  }

  private def scanMetrics(df: org.apache.spark.sql.DataFrame): Map[String, Long] = {
    df.collect()
    val scans = new AdaptiveSparkPlanHelper {}.collect(df.queryExecution.executedPlan) {
      case b: BatchScanExec => b
    }
    assert(scans.size == 1, df.queryExecution.executedPlan)
    scans.head.metrics.map { case (k, m) => k -> m.value }
  }

  test("shared strings are parsed on demand, only as far as a decoded cell asks") {
    val width = 4
    val f = sharedStringsWorkbook(width, 200)
    try {
      val r = new XlsxReader(f)
      try {
        assert(r.counters.sstEntries == 0, "opening a reader parses no shared string")
        assert(r.lastRowNumber(r.sheets.head, trustDimension = false) == 201)
        assert(r.counters.sstEntries == 0, "the row count never touches the table")
        val header = r.rowIterator(r.sheets.head, 1, 2).toSeq
        assert(header.map(_.toSeq) == Seq((0 until width).map(i => s"col$i")))
        assert(r.counters.sstEntries == width)
        val first = r.rowIterator(r.sheets.head, 2, 3).toSeq
        assert(first.map(_.toSeq) == Seq(Seq(1.0, "text 1 1", "text 1 2", "text 1 3")))
        assert(r.counters.sstEntries == 2 * width - 1)
      } finally r.close()

      val df = spark.read.format("excel").option("inferSchema", "false")
        .schema(StructType((0 until width).map(i =>
          StructField(s"col$i", if (i == 0) DoubleType else StringType))))
        .load(f.getPath).select("col0")
      val m = scanMetrics(df)
      assert(m(ExcelScanMetrics.SharedStrings) > 0, m)
      assert(m(ExcelScanMetrics.SharedStrings) <= width, m)
    } finally f.delete()
  }

  test("scan metrics: a one-column scan skips the other cells") {
    val width = 4
    val n = 200
    val f = sharedStringsWorkbook(width, n)
    try {
      val df = spark.read.format("excel").load(f.getPath)
      val all = scanMetrics(df)
      assert(all(ExcelScanMetrics.CellsDecoded) == (n + 1) * width, all)
      assert(all(ExcelScanMetrics.CellsSkipped) == 0, all)
      assert(all(ExcelScanMetrics.SharedStrings) == n * (width - 1) + width, all)

      val one = scanMetrics(df.select("col2"))
      assert(one(ExcelScanMetrics.CellsSkipped) > 0, one)
      assert(one(ExcelScanMetrics.CellsDecoded) <= n + width, one)
      assert(one(ExcelScanMetrics.Rows) >= n, one)
      assert(one(ExcelScanMetrics.SheetBytes) > 0, one)
    } finally f.delete()
  }

  /** Reads `sheetXml`'s rows and returns the failure, which must name the
    * file, the sheet, the row and the cell, and chain a `cause`. */
  private def cellFailure(sheetXml: String, cellRef: String, row: Int,
      cause: Class[_], extra: (String, Array[Byte])*): Unit = {
    val f = workbook(sheetXml, extra: _*)
    try {
      val e = intercept[SparkException](rows(f))
      Seq(f.getPath, "sheet 'S'", s"row $row", s"cell $cellRef").foreach(s =>
        assert(e.getMessage.contains(s), e.getMessage))
      assert(cause.isInstance(e.getCause), e.getCause)
    } finally f.delete()
  }

  private val oneString = XlsxReader.SharedStringsPart ->
    ("""<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">""" +
      "<si><t>only</t></si></sst>").getBytes(UTF_8)

  test("a shared-string index past the table names its file, sheet, row and cell") {
    cellFailure(sheet(
      s"""<row r="1">${str("A1", "a")}</row><row r="2"><c r="B2" t="s"><v>5</v></c></row>"""),
      "B2", 2, classOf[IndexOutOfBoundsException], oneString)
  }

  test("a shared-string index that is not an integer names its cell") {
    cellFailure(sheet("""<row r="3"><c r="C3" t="s"><v>x1</v></c></row>"""),
      "C3", 3, classOf[NumberFormatException], oneString)
  }

  test("a malformed number names its cell") {
    cellFailure(sheet(s"""<row r="1">${cell("A1", "1")}</row>""" +
      s"""<row r="2">${cell("A2", "1")}${cell("B2", "12x")}</row>"""),
      "B2", 2, classOf[NumberFormatException])
  }

  test("a malformed style index or ISO date names its cell") {
    cellFailure(sheet("""<row r="4"><c r="D4" s="x1"><v>1</v></c></row>"""),
      "D4", 4, classOf[NumberFormatException])
    cellFailure(sheet("""<row r="2"><c r="A2" t="d"><v>2024-13-45</v></c></row>"""),
      "A2", 2, classOf[java.time.DateTimeException])
  }
}
