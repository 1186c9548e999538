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

/** The scan reads each sheet part once per partition, header row
  * included, and a cell whose value does not decode fails as that, not as
  * malformed XML. */
class TypedScanSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val SheetEntry = "xl/worksheets/sheet1.xml"

  private def workbook(rows: String): File =
    XlsxAdversarialProps.zipFile(Seq(XlsxAdversarialProps.workbookXml(),
      SheetEntry -> ("""<?xml version="1.0" encoding="UTF-8"?><worksheet xmlns=""" +
        """"http://schemas.openxmlformats.org/spreadsheetml/2006/main">""" +
        s"<sheetData>$rows</sheetData></worksheet>").getBytes(UTF_8)))

  private def str(ref: String, s: String): String =
    s"""<c r="$ref" t="inlineStr"><is><t>$s</t></is></c>"""

  private def messages(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")

  private def scanMetrics(df: org.apache.spark.sql.DataFrame): Map[String, Long] = {
    df.collect()
    val scans = new AdaptiveSparkPlanHelper {}.collect(df.queryExecution.executedPlan) {
      case b: BatchScanExec => b
    }
    assert(scans.size == 1, df.queryExecution.executedPlan)
    scans.head.metrics.map { case (k, m) => k -> m.value }
  }

  test("a one-file scan inflates its sheet part once, header row included") {
    val f = workbook(s"""<row r="1">${str("A1", "id")}${str("B1", "name")}</row>""" +
      (2 to 300).map(i => s"""<row r="$i"><c r="A$i"><v>$i</v></c>${str(s"B$i", s"n$i")}</row>""")
        .mkString)
    try {
      val zip = new java.util.zip.ZipFile(f)
      val inflated = try zip.getEntry(SheetEntry).getSize finally zip.close()
      assert(inflated < (1 << 16), "the part fits one read of the scanner's window")
      val m = scanMetrics(spark.read.format("excel").load(f.getPath))
      assert(m(ExcelScanMetrics.SheetBytes) == inflated, m)
      assert(m(ExcelScanMetrics.Rows) == 300, m)
    } finally f.delete()
  }

  test("a number cell that does not decode fails as a value, not as malformed XML") {
    val f = workbook(s"""<row r="1">${str("A1", "id")}${str("B1", "bad")}</row>""" +
      """<row r="2"><c r="A2"><v>1</v></c><c r="B2"><v>12x</v></c></row>""")
    try {
      val r = new XlsxReader(f)
      val e = try intercept[SparkException](r.rowIterator(r.sheets.head).toVector)
        finally r.close()
      val schema = StructType(Seq(StructField("id", IntegerType), StructField("bad", DoubleType)))
      val e2 = intercept[Exception](
        spark.read.format("excel").schema(schema).load(f.getPath).collect())
      Seq(messages(e), messages(e2)).foreach { m =>
        assert(!m.contains("Malformed XML"), m)
        Seq("does not decode", "cell B2", "row 2", "sheet 'S'", f.getPath, "12x")
          .foreach(s => assert(m.contains(s), m))
      }
      assert(e.getCause.isInstanceOf[NumberFormatException], e.getCause)
    } finally f.delete()
  }
}
