package graft.sources.excel

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.SparkException
import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Schema inference through `load()` without a schema: every failure names
  * the file with its cause chained, and inference reads what it needs of
  * a sampled cell and no more (no shared string past the header's, no row
  * past the sample). */
class SchemaInferenceSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val Ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"

  private def workbook(sheetXml: String, extra: (String, Array[Byte])*): File =
    XlsxAdversarialProps.zipFile(Seq(XlsxAdversarialProps.workbookXml(),
      "xl/worksheets/sheet1.xml" -> sheetXml.getBytes(UTF_8)) ++ extra)

  private def sheet(rows: String): String =
    s"""<worksheet xmlns="$Ns"><sheetData>$rows</sheetData></worksheet>"""

  private def str(ref: String, s: String): String =
    s"""<c r="$ref" t="inlineStr"><is><t>$s</t></is></c>"""

  private def num(ref: String, v: String): String = s"""<c r="$ref"><v>$v</v></c>"""

  private def shared(ref: String, i: Int): String = s"""<c r="$ref" t="s"><v>$i</v></c>"""

  private def sst(entries: String*): (String, Array[Byte]) =
    XlsxReader.SharedStringsPart -> entries.map(e => s"<si><t>$e</t></si>")
      .mkString(s"""<sst xmlns="$Ns">""", "", "</sst>").getBytes(UTF_8)

  private def infer(f: File, options: (String, String)*): StructType =
    spark.read.format("excel").options(options.toMap).load(f.getPath).schema

  /** Inference of `f` fails as UNABLE_TO_INFER_SCHEMA naming the file, with
    * a cause of class `cause` whose message holds `says`. */
  private def inferenceFails(f: File, cause: Class[_], says: String,
      options: (String, String)*): Unit =
    try {
      val e = intercept[AnalysisException](infer(f, options: _*))
      assert(e.getCondition == "UNABLE_TO_INFER_SCHEMA", e.getMessage)
      assert(e.getMessage.contains(f.getName), e.getMessage)
      assert(cause.isInstance(e.getCause), e.getCause)
      assert(e.getCause.getMessage.contains(says), e.getCause.getMessage)
    } finally f.delete()

  private val twoRows = sheet(s"""<row r="1">${str("A1", "a")}</row>""" +
    s"""<row r="2">${num("A2", "1")}</row>""")

  test("inference of a missing sheet fails naming the file") {
    inferenceFails(workbook(twoRows), classOf[IllegalArgumentException], "Sheet 'Nope' not found",
      "sheetName" -> "Nope")
  }

  test("inference of a sheet part cut short fails naming the file") {
    val whole = sheet((1 to 20).map(i => s"""<row r="$i">${num(s"A$i", i.toString)}</row>""").mkString)
    val cut = whole.substring(0, whole.indexOf("""<row r="6">""") + 12)
    inferenceFails(workbook(cut), classOf[SparkException], "Truncated XML")
  }

  test("inference of a sampled cell that does not decode fails naming the file") {
    inferenceFails(workbook(sheet(s"""<row r="1">${str("A1", "a")}${str("B1", "b")}</row>""" +
      s"""<row r="2">${num("A2", "1")}${num("B2", "12x")}</row>""")),
      classOf[SparkException], "cell B2")
  }

  test("inference reads no shared string past the header's") {
    // entries 2 and 3 hold an undeclared entity: decoding either fails
    val f = workbook(sheet(s"""<row r="1">${shared("A1", 0)}${shared("B1", 1)}</row>""" +
      (2 to 4).map(r => s"""<row r="$r">${num(s"A$r", r.toString)}${shared(s"B$r", 2 + r % 2)}</row>""")
        .mkString),
      sst("id", "name", "x&nope;", "y&nope;"))
    try {
      assert(infer(f) == StructType(Seq(StructField("id", IntegerType),
        StructField("name", StringType))))
      assert(spark.read.format("excel").load(f.getPath).select("id").collect().map(_.getInt(0))
        .toSeq == Seq(2, 3, 4))
    } finally f.delete()
  }

  test("a shared-string index past the table infers as a string; a scan of it fails naming the cell") {
    val f = workbook(sheet(s"""<row r="1">${str("A1", "a")}${str("B1", "b")}</row>""" +
      s"""<row r="2">${num("A2", "1")}${shared("B2", 5)}</row>"""), sst("only"))
    try {
      val schema = infer(f)
      assert(schema == StructType(Seq(StructField("a", IntegerType), StructField("b", StringType))))
      val e = intercept[SparkException](spark.read.format("excel").load(f.getPath).collect())
      def chain(t: Throwable): Seq[Throwable] = Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq
      assert(chain(e).exists(t => t.getMessage != null && t.getMessage.contains("cell B2")), e)
      assert(chain(e).exists(_.isInstanceOf[IndexOutOfBoundsException]), e)
    } finally f.delete()
  }

  test("inference reads exactly inferSampleRows rows after the header") {
    // row 3 lies past a one-row sample, so its bad number is never read
    val f = workbook(sheet(s"""<row r="1">${str("A1", "a")}</row>""" +
      s"""<row r="2">${num("A2", "1")}</row><row r="3">${num("A3", "12x")}</row>"""))
    try assert(infer(f, "inferSampleRows" -> "1") == StructType(Seq(StructField("a", IntegerType))))
    finally f.delete()
  }
}
