package graft.sources.excel

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.propBoolean

/** Over generated workbooks, `ExcelPartitionReader` reads row for row what
  * a spec reader reads: the boxed `rowIterator` (header row, then masked
  * data rows, as the scan read them before its typed cell readers) with
  * `CellSpec.convert` on every cell. Each row is compared as the reader
  * hands it out, so a value left over in the reused row from an earlier
  * one shows. The workbooks have ragged and empty rows, gaps, repeated and
  * out-of-order cell references, nulls anywhere and a second sheet; the
  * reads cover header and positional columns, `allowMissingColumns`,
  * `sheetName="*"` with `_sheet`, `_file_path`, row-range splits and
  * limits.
  */
object ReaderEqualityProps extends Properties("excel.readerEquality") {
  import XlsxReader._

  override def overrideParameters(p: org.scalacheck.Test.Parameters): org.scalacheck.Test.Parameters =
    p.withMinSuccessfulTests(300)

  private val Ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
  private val Sst = Seq("alpha", "b&amp;c", "_x0041_", "12", "true", "2024-01-02")

  // ------------------------------------------------------------- workbooks

  /** One cell's XML at `ref` (null: no reference). */
  private val genCell: Gen[String => String] = Gen.frequency(
    3 -> Gen.chooseNum(-1000, 100000).map(i => (r: String) => s"<c$r><v>$i</v></c>"),
    2 -> Gen.choose(-1e4, 1e5).map(d => (r: String) => s"<c$r><v>$d</v></c>"),
    2 -> (for { d <- Gen.choose(0.0, 60000.0); s <- Gen.oneOf(1, 2) }
      yield (r: String) => s"""<c$r s="$s"><v>$d</v></c>"""),
    2 -> Gen.oneOf("x", "hello world", "_x0041_b", "12", "TRUE", "2024-03-04", "")
      .map(t => (r: String) => s"""<c$r t="inlineStr"><is><t>$t</t></is></c>"""),
    2 -> Gen.choose(0, Sst.length - 1).map(i => (r: String) => s"""<c$r t="s"><v>$i</v></c>"""),
    1 -> Gen.oneOf(0, 1).map(b => (r: String) => s"""<c$r t="b"><v>$b</v></c>"""),
    1 -> Gen.oneOf("2024-01-02", "2024-01-02T03:04:05")
      .map(d => (r: String) => s"""<c$r t="d"><v>$d</v></c>"""),
    1 -> Gen.const((r: String) => s"""<c$r t="e"><v>#N/A</v></c>"""),
    1 -> Gen.const((r: String) => s"<c$r/>"))

  /** A row's cells: columns mostly in order, some skipped, some repeated
    * or out of order, some without a reference. */
  private def genCells(width: Int): Gen[String] = for {
    n <- Gen.chooseNum(0, width + 2)
    cols <- Gen.listOfN(n, Gen.frequency(6 -> Gen.const(-1), 2 -> Gen.choose(0, width + 1)))
    cells <- Gen.listOfN(n, genCell)
    refs <- Gen.listOfN(n, Gen.frequency(5 -> true, 1 -> false))
  } yield {
    var next = 0
    cols.zip(cells).zip(refs).map { case ((c, cell), ref) =>
      val col = if (c < 0) next else c
      next = col + 1
      cell(if (ref || c >= 0) s""" r="${XlsxWriter.colName(col)}ROW"""" else "")
    }.mkString
  }

  /** A sheet's data rows (header row 1 aside): row numbers mostly rising,
    * with gaps, and now and then repeated, missing or an empty `<row/>`. */
  private def genRows(width: Int): Gen[Seq[String]] = for {
    n <- Gen.chooseNum(0, 10)
    steps <- Gen.listOfN(n, Gen.frequency(6 -> Gen.const(1), 2 -> Gen.choose(2, 4),
      1 -> Gen.const(0), 1 -> Gen.const(-1)))
    bodies <- Gen.listOfN(n, Gen.frequency(8 -> genCells(width), 1 -> Gen.const(null)))
  } yield {
    var num = 1
    steps.zip(bodies).map { case (step, body) =>
      if (step >= 0) num += step
      val r = if (step < 0) "" else s""" r="$num""""
      if (step < 0) num += 1
      if (body == null) s"<row$r/>"
      else s"<row$r>${body.replace("ROW\"", s"""$num"""")}</row>"
    }
  }

  private final case class Book(file: File, widths: Seq[Int])

  private def header(width: Int): String =
    (0 until width).map(i =>
      s"""<c r="${XlsxWriter.colName(i)}1" t="inlineStr"><is><t>c$i</t></is></c>""").mkString(
      """<row r="1">""", "", "</row>")

  private val genBook: Gen[Book] = for {
    widths <- Gen.listOfN(2, Gen.choose(1, 5))
    first <- genRows(widths(0))
    second <- genRows(widths(1))
    bodies = Seq(first, second)
    date1904 <- Gen.oneOf(false, true)
  } yield {
    val sheets = widths.zip(bodies).zipWithIndex.map { case ((w, rows), i) =>
      s"xl/worksheets/sheet${i + 1}.xml" -> (s"""<worksheet xmlns="$Ns"><sheetData>""" +
        header(w) + rows.mkString + "</sheetData></worksheet>").getBytes(UTF_8)
    }
    val workbook = "xl/workbook.xml" -> (s"""<workbook xmlns="$Ns">""" +
      (if (date1904) """<workbookPr date1904="1"/>""" else "") +
      """<sheets><sheet name="S" sheetId="1" id="rId1"/><sheet name="T" sheetId="2" id="rId2"/>""" +
      "</sheets></workbook>").getBytes(UTF_8)
    val styles = "xl/styles.xml" -> (s"""<styleSheet xmlns="$Ns"><cellXfs count="3">""" +
      """<xf numFmtId="0"/><xf numFmtId="14"/><xf numFmtId="22"/></cellXfs></styleSheet>""")
      .getBytes(UTF_8)
    val sst = SharedStringsPart -> Sst.map(e => s"<si><t>$e</t></si>")
      .mkString(s"""<sst xmlns="$Ns">""", "", "</sst>").getBytes(UTF_8)
    val f = XlsxAdversarialProps.zipFile(Seq(workbook, styles, sst) ++ sheets)
    f.deleteOnExit()
    Book(f, widths)
  }

  // ----------------------------------------------------------------- reads

  private val types = Seq(StringType, IntegerType, LongType, DoubleType, FloatType,
    BooleanType, DateType, TimestampType)

  private final case class Read(full: StructType, required: StructType, opts: Map[String, String],
      limit: Int, startRow: Int, endRowExcl: Int, sheet: String)

  private def genRead(book: Book): Gen[Read] = for {
    header <- Gen.oneOf(true, false)
    allSheets <- Gen.oneOf(false, true)
    allowMissing <- Gen.oneOf(false, true)
    width = book.widths.max + 1
    colTypes <- Gen.listOfN(width, Gen.oneOf(types))
    names = (0 until width).map(i => if (header) s"c$i" else i.toString)
    data = StructType(names.zip(colTypes).map { case (n, t) => StructField(n, t) })
    full = if (allSheets) data.add(ExcelSchema.SheetColumn, StringType) else data
    picked <- Gen.someOf(full.fields.toSeq)
    order <- Gen.pick(picked.size, picked.indices).map(_.toSeq)
    filePath <- Gen.oneOf(false, true)
    missing <- Gen.oneOf(false, header && allowMissing)
    ranged <- Gen.frequency(2 -> false, 1 -> true)
    // ranges start at the first data row or later, as the planner makes them
    start <- Gen.choose(if (header) 2 else 1, 14)
    span <- Gen.oneOf(Gen.choose(0, 14), Gen.const(Int.MaxValue))
    limit <- Gen.frequency(3 -> Gen.const(-1), 1 -> Gen.choose(0, 4))
    sheet <- Gen.oneOf("S", "T")
  } yield {
    val required = StructType(order.map(picked(_)) ++
      (if (filePath) Seq(StructField(ExcelSchema.FilePathColumn, StringType)) else Nil) ++
      (if (missing) Seq(StructField("absent", IntegerType)) else Nil))
    val opts = Map("header" -> header.toString, "allowMissingColumns" -> allowMissing.toString) ++
      (if (allSheets) Map("sheetName" -> "*") else Map.empty[String, String])
    val end = if (span == Int.MaxValue) Int.MaxValue else start + span
    Read(full, required, opts, limit, if (ranged) start else -1, if (ranged) end else -1,
      if (allSheets) sheet else null)
  }

  private def outcome[T](body: => T): Either[Throwable, T] =
    try Right(body) catch { case e: Exception => Left(e) }

  private def typedRows(book: Book, r: Read): Either[Throwable, Vector[Vector[Any]]] = outcome {
    val path = book.file.getPath
    val rd = new ExcelPartitionReader(path, r.full, r.required,
      ExcelOptions.fromMap(r.opts + ("path" -> path)), r.limit, new Configuration(),
      r.startRow, r.endRowExcl, r.sheet)
    try {
      val out = Vector.newBuilder[Vector[Any]]
      while (rd.next()) {
        val row = rd.get()
        out += r.required.fields.indices.map(i =>
          CellReaderProps.boxed(row, i, r.required(i).dataType)).toVector
      }
      out.result()
    } finally rd.close()
  }

  /** The scan as it read before its typed cell readers: a header stream,
    * a masked data stream, `CellSpec.convert` on each cell. */
  private def specRows(book: Book, r: Read): Either[Throwable, Vector[Vector[Any]]] = outcome {
    val path = book.file.getPath
    val opts = ExcelOptions.fromMap(r.opts + ("path" -> path))
    val rd = new XlsxReader(book.file)
    try {
      val sheet = rd.resolveSheet(if (r.sheet != null) r.sheet else opts.sheetName)
      val headerRow =
        if (!opts.header) None
        else { val it = rd.rowIterator(sheet, 1, 2); if (it.hasNext) Some(it.next()) else None }
      val filePathIsMeta = !r.full.fieldNames.contains(ExcelSchema.FilePathColumn)
      def meta(name: String): Option[Int] =
        if (opts.allSheets && name == ExcelSchema.SheetColumn) Some(-2)
        else if (filePathIsMeta && name == ExcelSchema.FilePathColumn) Some(-3)
        else None
      val indices = headerRow match {
        case Some(h) =>
          val names = ExcelSchema.columnNames(Some(h), math.max(h.length, r.full.length),
            header = true).zipWithIndex.toMap
          r.required.fields.map(f => meta(f.name).getOrElse(names.getOrElse(f.name,
            if (opts.allowMissingColumns || opts.allSheets) -1
            else throw new org.apache.spark.SparkException(s"Column '${f.name}' not found"))))
        case None if opts.header => r.required.fields.map(_ => -1)
        case None => r.required.fields.map(f => meta(f.name).getOrElse(r.full.fieldIndex(f.name)))
      }
      val mask = new Array[Boolean](indices.foldLeft(0)((w, i) => math.max(w, i + 1)))
      indices.foreach(i => if (i >= 0) mask(i) = true)
      val ranged = r.startRow > 0
      val it = rd.rowIterator(sheet, if (ranged) r.startRow else if (opts.header) 2 else 1,
        if (ranged) r.endRowExcl else Int.MaxValue, mask)
      (if (r.limit >= 0) it.take(r.limit) else it).map { raw =>
        indices.indices.map { i =>
          indices(i) match {
            case -2 => UTF8String.fromString(sheet.name)
            case -3 => UTF8String.fromString(path)
            case src =>
              val cell = if (src >= 0 && src < raw.length) raw(src) else null
              CellSpec.convert(cell, r.required(i).dataType, rd.date1904)
          }
        }.toVector
      }.toVector
    } finally rd.close()
  }

  private def show(rows: Either[Throwable, Vector[Vector[Any]]]): String =
    rows.fold(_.toString, _.map(_.mkString("[", ", ", "]")).mkString("\n"))

  property("ExcelPartitionReader reads what the boxed rows and the spec convert read") =
    Prop.forAll(genBook) { book =>
      Prop.forAll(genRead(book)) { r =>
        val (got, want) = (typedRows(book, r), specRows(book, r))
        val same = (got, want) match {
          case (Right(g), Right(w)) => g.length == w.length && g.zip(w).forall { case (a, b) =>
            a.length == b.length && a.zip(b).forall { case (x, y) => java.util.Objects.equals(x, y) }
          }
          case (Left(_), Left(_)) => true
          case _ => false
        }
        same :| s"$r\nreader:\n${show(got)}\nspec:\n${show(want)}"
      }
    }
}
