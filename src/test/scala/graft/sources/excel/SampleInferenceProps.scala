package graft.sources.excel

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.time.{LocalDate, LocalDateTime}

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.propBoolean

/** The inference that held the whole sample in memory: every sampled row
  * boxed, one `Seq` of values per column. Kept as the spec that the boxed
  * fold ([[BoxedInference]]) and the typed fold of
  * [[ExcelSchema.inferFromFile]] must agree with. */
object MaterializingInference {

  def inferSheet(headerRow: Option[Array[Any]], sample: Seq[Array[Any]],
      opts: ExcelOptions): StructType = {
    val width = math.max(headerRow.map(_.length).getOrElse(0),
      if (sample.isEmpty) 0 else sample.map(_.length).max)
    val names = ExcelSchema.columnNames(headerRow, width, opts.header)
    if (opts.inferSchema) inferFromRows(names, sample) else ExcelSchema.allStrings(names)
  }

  def inferFromRows(names: Seq[String], rows: Seq[Array[Any]]): StructType = {
    val fields = names.zipWithIndex.map { case (name, i) =>
      val values = rows.iterator
        .map(r => if (i < r.length) r(i) else null)
        .filter(_ != null)
        .toSeq
      StructField(name, inferColumnType(values), nullable = true)
    }
    StructType(fields)
  }

  private def inferColumnType(values: Seq[Any]): DataType = {
    if (values.isEmpty) return StringType
    var allBool = true
    var allNum = true
    var allIntegral = true
    var fitsInt = true
    var allDateLike = true
    var anyTime = false
    values.foreach {
      case _: java.lang.Boolean =>
        allNum = false; allDateLike = false
      case d: java.lang.Double =>
        allBool = false; allDateLike = false
        val v = d.doubleValue()
        if (v != math.floor(v) || v.isInfinite || v.isNaN) { allIntegral = false; fitsInt = false }
        else if (v < Int.MinValue || v > Int.MaxValue) fitsInt = false
      case _: LocalDate =>
        allBool = false; allNum = false
      case _: LocalDateTime =>
        allBool = false; allNum = false; anyTime = true
      case _ =>
        allBool = false; allNum = false; allDateLike = false
    }
    if (allBool) BooleanType
    else if (allNum && allIntegral && fitsInt) IntegerType
    else if (allNum && allIntegral) LongType
    else if (allNum) DoubleType
    else if (allDateLike && anyTime) TimestampType
    else if (allDateLike) DateType
    else StringType
  }
}

/** The fold that inference ran over boxed sample rows before it read
  * typed cells: one value at a time into per-column flags, O(columns)
  * state. Kept as a spec beside [[MaterializingInference]]. */
object BoxedInference {

  private final class ColumnType {
    private var seen = false
    private var allBool, allNum, allIntegral, fitsInt, allDateLike = true
    private var anyTime = false

    def add(v: Any): Unit = if (v != null) {
      seen = true
      v match {
        case _: java.lang.Boolean =>
          allNum = false; allDateLike = false
        case d: java.lang.Double =>
          allBool = false; allDateLike = false
          val x = d.doubleValue()
          if (x != math.floor(x) || x.isInfinite || x.isNaN) { allIntegral = false; fitsInt = false }
          else if (x < Int.MinValue || x > Int.MaxValue) fitsInt = false
        case _: LocalDate =>
          allBool = false; allNum = false
        case _: LocalDateTime =>
          allBool = false; allNum = false; anyTime = true
        case _ =>
          allBool = false; allNum = false; allDateLike = false
      }
    }

    def dataType: DataType =
      if (!seen) StringType
      else if (allBool) BooleanType
      else if (allNum && allIntegral && fitsInt) IntegerType
      else if (allNum && allIntegral) LongType
      else if (allNum) DoubleType
      else if (allDateLike && anyTime) TimestampType
      else if (allDateLike) DateType
      else StringType
  }

  /** A sheet's schema from its header row and the sample rows after it,
    * each row folded into per-column [[ColumnType]]s as it streams by. */
  def inferSample(headerRow: Option[Array[Any]], rows: Iterator[Array[Any]],
      opts: ExcelOptions): StructType = {
    val cols = scala.collection.mutable.ArrayBuffer.empty[ColumnType]
    rows.foreach { r =>
      while (cols.length < r.length) cols += new ColumnType
      r.indices.foreach(i => cols(i).add(r(i)))
    }
    val names = ExcelSchema.columnNames(headerRow,
      math.max(headerRow.map(_.length).getOrElse(0), cols.length), opts.header)
    if (!opts.inferSchema) ExcelSchema.allStrings(names)
    else StructType(names.zipWithIndex.map { case (name, i) =>
      StructField(name, cols.lift(i).fold[DataType](StringType)(_.dataType), nullable = true)
    })
  }
}

/** Inference folds to the schema [[MaterializingInference]] gives.
  *
  * Over boxed sample values of every decoded type (nulls, NaN and
  * infinities included), the boxed fold agrees with it. Over generated
  * workbooks, the typed fold of [[ExcelSchema.inferFromFile]] agrees with
  * it applied to the boxed `rowIterator` rows of the same sample: the
  * header row and the next `inferSampleRows` rows. The workbooks hold every
  * cell kind (`n`, `s`, `inlineStr`, `str`, `b`, `d` with blanks, `e`),
  * date-only and date-time styles over whole and fractional serials, a
  * style past the table, `<v/>`, `<c t="inlineStr"/>`, ragged, gap and
  * empty rows, cells with and without a reference, repeated references,
  * both date systems and two sheets; the reads cover `header` and
  * `inferSchema` on and off, samples shorter than the sheet and
  * `sheetName="*"`. Half the sheets may hold cells that do not decode
  * (a malformed number, style index, ISO date or shared-string index, a
  * serial past the calendar under a date style): inference must fail
  * exactly where the spec does. */
object SampleInferenceProps extends Properties("infer.fold") {

  override def overrideParameters(p: org.scalacheck.Test.Parameters): org.scalacheck.Test.Parameters =
    p.withMinSuccessfulTests(300)

  private val values: Seq[Gen[Any]] = Seq(
    Gen.oneOf(java.lang.Boolean.TRUE, java.lang.Boolean.FALSE),
    Gen.chooseNum(-5000, 5000).map(i => java.lang.Double.valueOf(i.toDouble)),
    Gen.oneOf(3e9, -3e9, 1e300, 0.5, -2.25, Double.NaN, Double.PositiveInfinity)
      .map(d => java.lang.Double.valueOf(d)),
    Gen.alphaStr,
    Gen.chooseNum(0L, 73000L).map(d => LocalDate.of(1900, 1, 1).plusDays(d)),
    Gen.chooseNum(0L, 73000L).map(d => LocalDate.of(1900, 1, 1).plusDays(d).atTime(12, 30)))

  /** A column draws its values from one or two types, or is null. */
  private val genValueColumn: Gen[Gen[Any]] = for {
    n <- Gen.chooseNum(1, 2)
    ks <- Gen.pick(n, values)
  } yield Gen.frequency(1 -> Gen.const(null), 4 -> Gen.oneOf(ks.toSeq).flatMap(identity))

  private val genSample: Gen[(Option[Array[Any]], Seq[Array[Any]])] = for {
    width <- Gen.chooseNum(0, 8)
    cols <- Gen.listOfN(width, genValueColumn)
    header <- Gen.option(Gen.chooseNum(0, width + 2).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf(Gen.const(null), Gen.alphaStr, values(1))).map(_.toArray[Any])))
    nRows <- Gen.chooseNum(0, 30)
    rows <- Gen.listOfN(nRows, Gen.chooseNum(0, width).flatMap(len =>
      Gen.sequence[Seq[Any], Any](cols.take(len)).map(_.toArray)))
  } yield (header, rows)

  private val genFlags: Gen[ExcelOptions] = for {
    header <- Gen.oneOf(true, false)
    infer <- Gen.frequency(4 -> true, 1 -> false)
  } yield ExcelOptions.fromMap(Map("header" -> header.toString, "inferSchema" -> infer.toString))

  property("the fold infers what the materializing inference does") =
    Prop.forAll(genSample, genFlags) { case ((header, rows), opts) =>
      val folded = BoxedInference.inferSample(header, rows.iterator, opts)
      val spec = MaterializingInference.inferSheet(header, rows, opts)
      (folded == spec) :| s"fold $folded, spec $spec"
    }

  // ------------------------------------------------------------- workbooks

  private val Ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
  private val Sst = Seq("alpha", "b&amp;c", "_x0041_", "12", "true")

  /** One cell's XML, given its reference attribute (` r="B3"` or ""). */
  private type CellXml = String => String

  private def v(attrs: String, text: String): CellXml = r => s"<c$r$attrs><v>$text</v></c>"

  /** The kinds of value a column draws from. Style 1 is date-only, style 2
    * date-time, style 9 lies past the table. */
  private val kinds: Seq[Gen[CellXml]] = Seq(
    Gen.chooseNum(-5000, 5000).map(i => v("", i.toString)),
    Gen.oneOf("3000000000", "-3e9", "1e300", "0.5", "-2.25", " 7 ", "NaN", "Infinity", "1E3")
      .map(v("", _)),
    Gen.chooseNum(0, 100).map(i => v(""" s="9"""", i.toString)),
    Gen.oneOf("45000", "45000.25", "1", "0").map(v(""" s="1"""", _)),
    Gen.oneOf("45000", "45000.75", "41407.25745370371").map(v(""" s="2"""", _)),
    Gen.oneOf("0", "1", "true", "FALSE").map(v(""" t="b"""", _)),
    Gen.oneOf("2024-01-02", "2024-01-02T03:04:05", "2024-01-02T03:04:05Z", "", " ")
      .map(v(""" t="d"""", _)),
    Gen.choose(0, Sst.length - 1).map(i => v(""" t="s"""", i.toString)),
    Gen.oneOf("x", "", "12", "_x0041_").map(t =>
      (r: String) => s"""<c$r t="inlineStr"><is><t>$t</t></is></c>"""),
    Gen.oneOf("x", "12").map(t => (r: String) => s"""<c$r t="str"><f>A1</f><v>$t</v></c>"""))

  /** Cells with no value, each read as null. */
  private val absent: Gen[CellXml] = Gen.oneOf[CellXml](
    (r: String) => s"<c$r/>", v("", ""), v(""" s="1"""", ""),
    (r: String) => s"""<c$r t="inlineStr"/>""",
    v(""" t="e"""", "#N/A"), v(""" t="d"""", ""))

  /** Cells that do not decode. */
  private val bad: Gen[CellXml] = Gen.oneOf[CellXml](
    v("", "1x"), v(""" s="q"""", "1"), v(""" t="d"""", "2024-13-45"),
    v(""" s="1"""", "1e15"), v(""" t="s"""", "x"))

  /** A column's cells: values of one or two kinds, some absent, and, in a
    * workbook that has them, now and then one that does not decode. */
  private def genColumn(withBad: Boolean): Gen[Gen[CellXml]] = for {
    n <- Gen.chooseNum(1, 2)
    ks <- Gen.pick(n, kinds)
  } yield Gen.frequency(Seq(2 -> absent, 8 -> Gen.oneOf(ks.toSeq).flatMap(identity)) ++
    (if (withBad) Seq(3 -> bad) else Nil): _*)

  /** A row's cells: columns mostly in order, some skipped, some repeated
    * or out of order, some without a reference, a few past `cols`. */
  private def genCells(cols: Seq[Gen[CellXml]]): Gen[String] = for {
    n <- Gen.chooseNum(0, cols.length + 1)
    picks <- Gen.listOfN(n, Gen.frequency(6 -> Gen.const(-1), 2 -> Gen.choose(0, cols.length + 1)))
    refs <- Gen.listOfN(n, Gen.frequency(5 -> true, 1 -> false))
    at = picks.scanLeft(-1)((last, p) => if (p < 0) last + 1 else p).tail
    cells <- Gen.sequence[Seq[CellXml], CellXml](at.map(c =>
      if (c < cols.length) cols(c) else Gen.oneOf(absent, Gen.oneOf(kinds).flatMap(identity))))
  } yield at.indices.map { i =>
    val ref = refs(i) || picks(i) >= 0
    cells(i)(if (ref) s""" r="${XlsxWriter.colName(at(i))}ROW"""" else "")
  }.mkString

  /** A header row of names (row 1): inline or shared strings, a number,
    * now and then a cell with no value. */
  private val genHeader: Gen[String] = Gen.chooseNum(0, 6).flatMap(n =>
    Gen.listOfN(n, Gen.frequency[CellXml](
      5 -> Gen.const((r: String) => s"""<c$r t="inlineStr"><is><t>h</t></is></c>"""),
      2 -> Gen.choose(0, Sst.length - 1).map(i => v(""" t="s"""", i.toString)),
      1 -> Gen.chooseNum(1, 9).map(i => v("", i.toString)),
      1 -> absent)).map(_.zipWithIndex.map { case (c, i) =>
      c(s""" r="${XlsxWriter.colName(i)}1"""")
    }.mkString("""<row r="1">""", "", "</row>")))

  /** A sheet part: maybe a header row, then data rows whose numbers
    * mostly rise, with gaps, repeats, rows without `r` and `<row/>`. */
  private val genSheet: Gen[String] = for {
    withBad <- Gen.oneOf(false, true)
    width <- Gen.chooseNum(0, 5)
    cols <- Gen.listOfN(width, genColumn(withBad))
    header <- Gen.option(genHeader)
    n <- Gen.chooseNum(0, 12)
    steps <- Gen.listOfN(n, Gen.frequency(6 -> Gen.const(1), 2 -> Gen.choose(2, 4),
      1 -> Gen.const(0), 1 -> Gen.const(-1)))
    bodies <- Gen.listOfN(n, Gen.frequency(8 -> genCells(cols), 1 -> Gen.const(null)))
  } yield {
    var num = if (header.isDefined) 1 else 0
    val rows = steps.zip(bodies).map { case (step, body) =>
      if (step >= 0) num = math.max(num + step, 1)
      val r = if (step < 0) "" else s""" r="$num""""
      if (step < 0) num += 1
      if (body == null) s"<row$r/>"
      else s"<row$r>${body.replace("ROW\"", s"""$num"""")}</row>"
    }
    s"""<worksheet xmlns="$Ns"><sheetData>""" + header.getOrElse("") + rows.mkString +
      "</sheetData></worksheet>"
  }

  private final case class Book(file: File, sheets: Seq[String])

  private val genBook: Gen[Book] = for {
    sheets <- Gen.listOfN(2, genSheet)
    date1904 <- Gen.oneOf(false, true)
  } yield {
    val parts = sheets.zipWithIndex.map { case (xml, i) =>
      s"xl/worksheets/sheet${i + 1}.xml" -> xml.getBytes(UTF_8)
    }
    val workbook = "xl/workbook.xml" -> (s"""<workbook xmlns="$Ns">""" +
      (if (date1904) """<workbookPr date1904="1"/>""" else "") +
      """<sheets><sheet name="S" sheetId="1" id="rId1"/><sheet name="T" sheetId="2" id="rId2"/>""" +
      "</sheets></workbook>").getBytes(UTF_8)
    val styles = "xl/styles.xml" -> (s"""<styleSheet xmlns="$Ns"><cellXfs count="3">""" +
      """<xf numFmtId="0"/><xf numFmtId="14"/><xf numFmtId="22"/></cellXfs></styleSheet>""")
      .getBytes(UTF_8)
    val sst = XlsxReader.SharedStringsPart -> Sst.map(e => s"<si><t>$e</t></si>")
      .mkString(s"""<sst xmlns="$Ns">""", "", "</sst>").getBytes(UTF_8)
    val f = XlsxAdversarialProps.zipFile(Seq(workbook, styles, sst) ++ parts)
    f.deleteOnExit()
    Book(f, sheets)
  }

  private val genOpts: Gen[ExcelOptions] = for {
    header <- Gen.oneOf(true, false)
    infer <- Gen.frequency(4 -> true, 1 -> false)
    sampleRows <- Gen.chooseNum(1, 15)
    sheet <- Gen.oneOf(None, Some("1"), Some("*"))
  } yield ExcelOptions.fromMap(Map("header" -> header.toString, "inferSchema" -> infer.toString,
    "inferSampleRows" -> sampleRows.toString) ++ sheet.map("sheetName" -> _))

  /** The spec: the header row and the sample as `rowIterator(sheet)` hands
    * them out, then [[MaterializingInference]]; sheets merged as inference
    * merges them. The iterator reads one row ahead, so a row just past the
    * sample that does not decode fails the spec too. */
  private def specSchema(f: File, opts: ExcelOptions): StructType = {
    val rd = new XlsxReader(f)
    try {
      def sheetSchema(sheet: XlsxReader.Sheet): StructType = {
        val head = if (opts.header) 1 else 0
        val rows = rd.rowIterator(sheet).take(head + opts.inferSampleRows).toVector
        if (opts.header) MaterializingInference.inferSheet(rows.headOption, rows.drop(1), opts)
        else MaterializingInference.inferSheet(None, rows, opts)
      }
      if (!opts.allSheets) sheetSchema(rd.resolveSheet(opts.sheetName))
      else {
        val merged = ExcelSchema.merge(rd.sheets.map(sheetSchema))
        if (!merged.fieldNames.contains(ExcelSchema.SheetColumn))
          merged.add(ExcelSchema.SheetColumn, StringType, nullable = true)
        else StructType(merged.fields.map(f =>
          if (f.name == ExcelSchema.SheetColumn) f.copy(dataType = StringType) else f))
      }
    } finally rd.close()
  }

  private def outcome[T](body: => T): Either[Throwable, T] =
    try Right(body) catch { case e: Exception => Left(e) }

  property("typed inference infers what the materializing inference does over rowIterator rows") =
    Prop.forAll(genBook, genOpts) { (book, opts) =>
      def typedOf(o: ExcelOptions) =
        outcome(ExcelSchema.inferFromFile(book.file.getPath, o, new Configuration()))
      val typed = typedOf(opts)
      val spec = outcome(specSchema(book.file, opts))
      val same = (typed, spec) match {
        case (Right(a), Right(b)) => a == b
        case (Left(_), Left(_)) => true
        // the spec's read-ahead met a bad row: a sample one row longer has it
        case (Right(_), Left(_)) => typedOf(ExcelOptions(opts.options +
          ("infersamplerows" -> (opts.inferSampleRows + 1).toString))).isLeft
        case _ => false
      }
      Prop.classify(spec.isLeft, "spec fails", "spec infers") {
        Prop.classify(opts.allSheets, "sheetName=*") { same }
      } :| s"${opts.options}\ntyped $typed\nspec $spec\n${book.sheets.mkString("\n")}"
    }
}
