package graft.sources.excel

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.propBoolean

/** Each typed cell reader (`TypedCells`) gives, for one cell's kind, style
  * and value text, the value or the exception class of the spec:
  * `CellSpec.convert(CellSpec.decodeCell(…))`. The cells cover every kind
  * and style (none, date-only, date-time, past the table, malformed),
  * every supported Spark type and one unsupported one, both date systems,
  * serials that round into the next day or lie past the calendar, large
  * and malformed numbers, `_xHHHH_` text with surrogate pairs and lone
  * surrogates, and text that is not valid UTF-8.
  */
object CellReaderProps extends Properties("excel.cellReaders") {
  import XlsxReader._

  override def overrideParameters(p: org.scalacheck.Test.Parameters): org.scalacheck.Test.Parameters =
    p.withMinSuccessfulTests(5000)

  /** Shared strings as the part spells them (escapes included). */
  private val sstEntries = Seq("alpha", "_x0041_b", "_xD83D__xDE00_", "lone _xD83D_", "12",
    " 7 ", "true", "2024-01-02", "2024-01-02 03:04:05", "é中", "a&amp;b", "_x005F_x0041_")

  private val stylesXml =
    """<?xml version="1.0" encoding="UTF-8"?><styleSheet xmlns=""" +
      """"http://schemas.openxmlformats.org/spreadsheetml/2006/main">""" +
      """<cellXfs count="3"><xf numFmtId="0"/><xf numFmtId="14"/><xf numFmtId="22"/>""" +
      """</cellXfs></styleSheet>"""

  private def workbook(date1904: Boolean): File = XlsxAdversarialProps.zipFile(Seq(
    XlsxAdversarialProps.workbookXml(date1904),
    "xl/worksheets/sheet1.xml" -> ("""<worksheet xmlns=""" +
      """"http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData/>""" +
      "</worksheet>").getBytes(UTF_8),
    "xl/styles.xml" -> stylesXml.getBytes(UTF_8),
    SharedStringsPart -> sstEntries.map(e => s"<si><t>$e</t></si>").mkString(
      """<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">""", "",
      "</sst>").getBytes(UTF_8)))

  private lazy val readers: Map[Boolean, XlsxReader] = Seq(false, true).map { d =>
    val f = workbook(d)
    f.deleteOnExit()
    d -> new XlsxReader(f)
  }.toMap

  // ---------------------------------------------------------------- texts

  private val numberText: Gen[String] = Gen.frequency(
    3 -> Gen.chooseNum(-100000L, 3000000L).map(_.toString),
    2 -> Gen.choose(-1e6, 3e6).map(_.toString),
    // plain decimals of up to 17 digits, some with leading or trailing zeros
    2 -> (for {
      digits <- Gen.choose(1, 17)
      m <- Gen.choose(0L, math.pow(10, digits).toLong - 1)
      scale <- Gen.choose(0, digits)
      neg <- Gen.oneOf(false, true)
      pad <- Gen.oneOf("", "0", "00")
    } yield {
      val s = java.math.BigDecimal.valueOf(m, scale).toPlainString
      (if (neg) "-" else "") + (if (s.contains('.')) s + pad else s)
    }),
    // serials a hair off a millisecond, day or rounding boundary
    3 -> (for {
      day <- Gen.oneOf(Gen.choose(-800000, 2958465), Gen.oneOf(0, 1, 60, 45000, 2958465))
      ms <- Gen.oneOf(Gen.choose(0L, 86399999L), Gen.const(86399999L), Gen.const(0L))
      eps <- Gen.oneOf(0.0, 0.4, 0.5, 0.6, -0.4, 0.99, 1e-6)
    } yield (day + (ms + eps) / 8.64e7).toString),
    2 -> Gen.oneOf("", " ", "-0", "+5", " 12 ", "\t3\n", "1e3", "12x", "NaN", "Infinity",
      "-Infinity", "999999999999999", "-999999999999999", "1234567890123456",
      "-12345678901234567", "99999999999999999999", "1e300", "-1e300", "2958465.99999999",
      "0.999999999", "0.9999999999", "-0.5", "2147483648", "-2147483649",
      "9223372036854775808", "1e15", "-1e15", "365241780471", "-365243219162", "3.7e11",
      "-3.7e11", "1e17", "-9.3e18", "٣", "0x1p3", "1d", "1_000", "--1", "-", ".", "1.", ".5", "-.5", "1..2", "0.1.", "-0.0",
      "000000000000000.1", "123456789012345.", "0.123456789012345", "9007199254740993",
      "9007199254740992", "900719925474099.3", "0.9007199254740993", "-9.007199254740992",
      "41407.25745370371", "1241197.2119140625"))

  private val stringText: Gen[String] = Gen.chooseNum(0, 6).flatMap(n =>
    Gen.listOfN(n, Gen.frequency(
      4 -> Gen.oneOf("abc", " ", "é", "中", "😀", "&", "<", "\r", "\n", "\r\n", "x"),
      4 -> Gen.oneOf("_x0041_", "_x005F_", "_x005F_x0041_", "_xD83D__xDE00_", "_xD83D_",
        "_xDE00_", "_xd83d__xde00_", "_xD83D__x0041_", "_xDBFF__xDFFF_", "_x0000_", "_x00",
        "_xZZZZ_", "_x00e9_", "_x000D_"),
      2 -> Gen.oneOf("true", "FALSE", "1", "0", "2024-01-02", "2024-02-30", " 12.5 ", "-3",
        "2024-01-02 03:04:05", "2024-01-02T03:04:05.5", "1e3", "NaN"))).map(_.mkString))

  private val sharedText: Gen[String] =
    Gen.oneOf(Gen.choose(0, sstEntries.length - 1).map(_.toString),
      Gen.oneOf(" 2 ", "+1", "99", "-1", "x1", "", "٣", "2147483648"))

  private val boolText = Gen.oneOf("1", "0", "true", " TRUE ", "True", "yes", "", "tru", "truee")

  private val dateText = Gen.oneOf("2024-01-02", " 2024-01-02 ", "2024-01-02T03:04:05",
    "2024-01-02T03:04:05.123456789", "2024-01-02T03:04:05+09:00", "2024-01-02T23:30:00-01:00",
    "2024-13-45", "", "  ", "+12024-01-01", "2024-01-02Z")

  /** Bytes that are not UTF-8: a stray continuation, a cut sequence, an
    * encoded surrogate, an overlong form, a code point past U+10FFFF. */
  private val badUtf8: Gen[Array[Byte]] = Gen.oneOf(Seq(0xff), Seq(0x80), Seq(0xc3),
    Seq(0xe4, 0xb8), Seq(0xed, 0xa0, 0x80), Seq(0xc0, 0x80), Seq(0xe0, 0x80, 0x80),
    Seq(0xf4, 0x90, 0x80, 0x80), Seq(0xf8, 0x88, 0x80, 0x80, 0x80)).map(_.map(_.toByte).toArray)

  private def utf8(s: String): Array[Byte] = s.getBytes(UTF_8)

  private val kinds = Seq(CellNumber, CellShared, CellInline, CellStr, CellBool, CellDate,
    CellError)

  /** The text of a cell of `kind`: mostly what that kind holds, sometimes
    * what another kind would, sometimes bytes that are not UTF-8. */
  private def text(kind: Int): Gen[Array[Byte]] = {
    val own: Gen[String] = kind match {
      case CellNumber => numberText
      case CellShared => sharedText
      case CellInline | CellStr => stringText
      case CellBool => boolText
      case CellDate => dateText
      case _ => Gen.oneOf("#DIV/0!", "#N/A", "")
    }
    Gen.frequency(
      8 -> own.map(utf8),
      2 -> Gen.oneOf(numberText, stringText, boolText, dateText).flatMap(g => g).map(utf8(_)),
      1 -> (for { a <- stringText; bad <- badUtf8; b <- stringText }
        yield utf8(a) ++ bad ++ utf8(b)))
  }

  private val types: Seq[DataType] = Seq(StringType, IntegerType, LongType, DoubleType,
    FloatType, BooleanType, DateType, TimestampType, DecimalType(10, 2))

  private final case class Cell(kind: Int, style: Int, text: Option[Array[Byte]],
      dataType: DataType, date1904: Boolean) {
    override def toString: String =
      s"Cell(kind=$kind, style=$style, text=${text.map(b =>
        b.map(x => f"${x & 0xff}%02x").mkString(" ") + " \"" + new String(b, UTF_8) + "\"")}, " +
        s"type=$dataType, date1904=$date1904)"
  }

  private val genCell: Gen[Cell] = for {
    kind <- Gen.oneOf(kinds)
    style <- Gen.oneOf(NoStyle, 0, 1, 2, 7, BadStyle)
    text <- Gen.frequency(9 -> text(kind).map(Some(_)), 1 -> Gen.const(None))
    dataType <- Gen.oneOf(types)
    date1904 <- Gen.oneOf(false, true)
  } yield Cell(kind, style, text, dataType, date1904)

  // -------------------------------------------------------------- outcomes

  private def outcome(body: => Any): Either[Class[_], Any] =
    try Right(body) catch { case e: Exception => Left(e.getClass) }

  /** The row's one value as the spec gives it (boxed; strings as
    * `UTF8String`). */
  private[excel] def boxed(row: InternalRow, o: Int, dt: DataType): Any =
    if (row.isNullAt(o)) null
    else dt match {
      case StringType => row.getUTF8String(o).clone()
      case IntegerType | DateType => Integer.valueOf(row.getInt(o))
      case LongType | TimestampType => java.lang.Long.valueOf(row.getLong(o))
      case DoubleType => java.lang.Double.valueOf(row.getDouble(o))
      case FloatType => java.lang.Float.valueOf(row.getFloat(o))
      case BooleanType => java.lang.Boolean.valueOf(row.getBoolean(o))
      case other => throw new AssertionError(s"no value of $other expected")
    }

  private def typed(c: Cell): Either[Class[_], Any] = outcome {
    val cells = new TypedCells(readers(c.date1904), StructType(Seq(
      StructField("c", c.dataType))), Array(0), Array(null))
    cells.startRow()
    cells.cell(0, c.kind, c.style, c.text.map { b =>
      val t = new ByteBuilder
      t.append(b, 0, b.length)
      t
    }.orNull)
    cells.endRow()
    boxed(cells.row, 0, c.dataType)
  }

  private def spec(c: Cell): Either[Class[_], Any] = outcome {
    val s = c.text.map(new String(_, UTF_8)).orNull
    val inline = c.kind == CellInline
    val v = CellSpec.decodeCell(readers(c.date1904), c.kind, c.style,
      if (inline) null else s, if (inline) s else null)
    CellSpec.convert(v, c.dataType, c.date1904)
  }

  property("each typed reader gives the spec's value or exception") =
    Prop.forAll(genCell) { c =>
      val (got, want) = (typed(c), spec(c))
      val same = (got, want) match {
        // Java's equals, under which NaN is NaN and -0.0 is not 0.0
        case (Right(a), Right(b)) => java.util.Objects.equals(a, b)
        case _ => got == want
      }
      same :| s"$c\ntyped: $got\nspec:  $want"
    }
}
