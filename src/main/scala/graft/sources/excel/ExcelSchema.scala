package graft.sources.excel

import org.apache.hadoop.conf.Configuration

import org.apache.spark.sql.types._

/** Schema inference and column naming (the scan's typed cell readers,
  * [[TypedCells]], turn cells into Catalyst values). Inference reads a
  * sheet's header row boxed, as the scan does, and folds each sampled
  * cell's kind, style and UTF-8 text straight into per-column state
  * ([[SampleCells]]): no sampled cell becomes a boxed value, and no string
  * cell is decoded.
  *
  * Reference type system (SURVEY.md §1.2, `/root/reference/src/
  * pyspark_datasource/excel/connector.py:23-44`): String, Integer, Double,
  * Boolean, Date, Timestamp — six types, everything else collapses to
  * String. We keep that surface plus LongType: integral columns that
  * exceed Int range infer as Long instead of silently overflowing
  * (reference bug B1 — deliberate deviation, small ints still infer as
  * IntegerType so the reference's own inference tests hold).
  */
object ExcelSchema {

  /** Column names for a sheet. header=true → stringified first-row cells
    * (null/empty → positional fallback); header=false → "0","1",… exactly
    * like the reference (str() of pandas' RangeIndex — connector.py:87-91).
    * Duplicate names are de-duplicated pandas-style: x, x.1, x.2 … */
  def columnNames(headerRow: Option[Array[Any]], width: Int,
      header: Boolean): Seq[String] = {
    val raw: Seq[String] =
      if (header) {
        val hr = headerRow.getOrElse(Array.empty[Any])
        (0 until width).map { i =>
          val v = if (i < hr.length) hr(i) else null
          v match {
            case null => s"Unnamed: $i"
            case s: String if s.isEmpty => s"Unnamed: $i" // pandas names "" positionally too
            case s: String => s
            case d: java.lang.Double => formatNumber(d)
            case other => other.toString
          }
        }
      } else (0 until width).map(_.toString)
    val seen = scala.collection.mutable.Map.empty[String, Int]
    raw.map { n =>
      val k = seen.getOrElse(n, 0)
      seen(n) = k + 1
      if (k == 0) n else s"$n.$k"
    }
  }

  /** All-strings schema (inferSchema=false path — connector.py:85-88). */
  def allStrings(names: Seq[String]): StructType =
    StructType(names.map(StructField(_, StringType, nullable = true)))

  /** Probe one file and produce the inferred (or all-string) schema.
    * Every failure (the workbook does not open, the sheet is missing, its
    * part is cut short, a sampled cell does not decode) wraps in an
    * AnalysisException naming the file, with the cause chained, like the
    * reference's inference error normalization (connector.py:93-94). */
  def inferFromFile(filePath: String, opts: ExcelOptions,
      conf: Configuration): StructType =
    try {
      val reader = XlsxReader.open(filePath, conf)
      try {
        if (opts.allSheets) {
          // every sheet probed, schemas merged, `_sheet` column appended.
          // The synthesized column SHADOWS any real `_sheet` data column: the
          // reader always writes the sheet name (a string) into that slot, so
          // the field must be StringType even if inference saw numbers there.
          val merged = merge(reader.sheets.map(s => inferSheet(reader, s, opts)))
          if (merged.fieldNames.contains(SheetColumn))
            StructType(merged.fields.map(f =>
              if (f.name == SheetColumn) f.copy(dataType = StringType, nullable = true)
              else f))
          else merged.add(SheetColumn, StringType, nullable = true)
        } else inferSheet(reader, reader.resolveSheet(opts.sheetName), opts)
      } finally reader.close()
    } catch {
      case e: Exception =>
        throw new org.apache.spark.sql.AnalysisException(
          errorClass = "UNABLE_TO_INFER_SCHEMA",
          messageParameters = Map("format" -> s"excel ($filePath: ${e.getMessage})"),
          cause = Some(e))
    }

  /** Synthesized sheet-name column for `sheetName="*"` reads. */
  final val SheetColumn = "_sheet"

  /** Metadata column: the listed URI of the file a row came from
    * (SELECT `_file_path` to materialize it; filter or join on it to
    * prune whole files from the scan). A real data column named
    * `_file_path` shadows it, per the DSv2 metadata-column contract. */
  final val FilePathColumn = "_file_path"

  /** A sheet's schema from its first row (boxed, as the header when
    * `header` is set) and the `inferSampleRows` rows after it, the rows
    * `rowIterator(sheet)` hands out, all read by one scan. Empty rows count
    * toward the sample, and the columns are as many as the widest row,
    * header included, counting cells with no value. */
  private def inferSheet(reader: XlsxReader, sheet: XlsxReader.Sheet,
      opts: ExcelOptions): StructType = {
    val scan = reader.rowScan(sheet)
    try {
      val headerRow =
        if (!opts.header) None
        else {
          val cells = new BoxedCells(reader)
          if (scan.next(1, Int.MaxValue, null, cells)) Some(cells.row(scan.width)) else None
        }
      val sample = new SampleCells(reader)
      var rows = 0
      while (rows < opts.inferSampleRows && scan.next(1, Int.MaxValue, null, sample)) {
        sample.endRow(scan.width)
        rows += 1
      }
      val names = columnNames(headerRow,
        math.max(headerRow.fold(0)(_.length), sample.width), opts.header)
      if (!opts.inferSchema) allStrings(names)
      else StructType(names.zipWithIndex.map { case (name, i) =>
        StructField(name, sample.dataType(i), nullable = true)
      })
    } finally scan.close()
  }

  /** Merge per-file schemas (union of columns in first-seen order, types
    * widened: Int⊕Long→Long, numeric⊕Double→Double, Date⊕Timestamp→
    * Timestamp, any other conflict→String). Used when `inferSampleFiles`>1
    * probes a directory whose files disagree. */
  def merge(schemas: Seq[StructType]): StructType = {
    val order = scala.collection.mutable.LinkedHashMap.empty[String, DataType]
    schemas.foreach(_.fields.foreach { f =>
      order.get(f.name) match {
        case None => order(f.name) = f.dataType
        case Some(t) => order(f.name) = widen(t, f.dataType)
      }
    })
    StructType(order.map { case (n, t) => StructField(n, t, nullable = true) }.toSeq)
  }

  private def widen(a: DataType, b: DataType): DataType = (a, b) match {
    case _ if a == b => a
    case (IntegerType, LongType) | (LongType, IntegerType) => LongType
    case (IntegerType | LongType, DoubleType) => DoubleType
    case (DoubleType, IntegerType | LongType) => DoubleType
    case (DateType, TimestampType) | (TimestampType, DateType) => TimestampType
    case _ => StringType
  }

  /** A number's text as the writer renders it ("1" not "1.0"), which is
    * also what the reference's all-strings mode produces. */
  def formatNumber(v: Double): String =
    if (XlsxRowEncoder.rendersAsLong(v)) v.toLong.toString else v.toString
}

/** What a sample has shown of one column, folded one value kind (a
  * [[ColumnType]] code) at a time: the flags its values kept true, and the
  * type they make. */
private final class ColumnType {
  import ColumnType._

  private var seen = false
  private var allBool, allNum, allIntegral, fitsInt, allDateLike = true
  private var anyTime = false

  def add(kind: Int): Unit = {
    seen = true
    kind match {
      case Bool => allNum = false; allDateLike = false
      case Whole => allBool = false; allDateLike = false
      case Wide => allBool = false; allDateLike = false; fitsInt = false
      case Fraction => allBool = false; allDateLike = false; allIntegral = false; fitsInt = false
      case Date => allBool = false; allNum = false
      case DateTime => allBool = false; allNum = false; anyTime = true
      case _ => allBool = false; allNum = false; allDateLike = false
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

private object ColumnType {
  // the kinds of value a cell holds, as inference tells them apart
  final val Absent = 0   // no value: no text, an error, a blank number or ISO date
  final val Bool = 1
  final val Whole = 2    // a whole number in Int range
  final val Wide = 3     // a whole number past Int range
  final val Fraction = 4 // any other number: a fraction, infinite or NaN
  final val Date = 5
  final val DateTime = 6
  final val Text = 7

  def numberKind(x: Double): Int =
    if (x != math.floor(x) || x.isInfinite || x.isNaN) Fraction
    else if (x < Int.MinValue || x > Int.MaxValue) Wide
    else Whole
}

/** The inference sink: each sampled cell's kind, style and UTF-8 text
  * folded into per-column [[ColumnType]]s, so a probe holds O(columns)
  * state and boxes no value. A number goes through the scan's own
  * primitives (`parseNumber`, `serialKind`, and the serial-date day
  * arithmetic, so a serial past the calendar under a date style fails as
  * the scan's does). A string cell of any kind counts as text without its
  * text being unescaped or the shared-strings table being opened; a
  * shared string's index must still be an integer. A cell whose reference
  * repeats an earlier column of the row replaces it, as in the boxed
  * rows. */
private[excel] final class SampleCells(reader: XlsxReader) extends CellSink {
  import ColumnType._
  import XlsxReader._

  private val date1904 = reader.date1904
  private var row = new Array[Int](16) // the row being read: each column's kind
  private var cols = new Array[ColumnType](16)

  /** One past the last column of the widest row folded. */
  var width = 0

  override def cell(col: Int, kind: Int, style: Int, text: ByteBuilder): Unit = {
    val k = if (text == null) Absent else valueKind(kind, style, text)
    if (col >= row.length) row = java.util.Arrays.copyOf(row, math.max(col + 1, row.length * 2))
    row(col) = k
  }

  private def valueKind(kind: Int, style: Int, t: ByteBuilder): Int = kind match {
    case CellInline | CellStr => Text
    case CellShared => parseIndex(t); Text
    case CellBool => Bool
    case CellDate => isoDate(t) match {
      case null => Absent
      case _: java.time.LocalDate => Date
      case _ => DateTime
    }
    case CellError => Absent
    case _ =>
      if (t.length == 0) Absent
      else {
        val d = parseNumber(t.bytes, 0, t.length)
        val dateKind = reader.serialKind(style, d)
        if (dateKind == DateKind.None) numberKind(d)
        else if (dateKind == DateKind.DateOnly) { ExcelSerialDate.epochDay(d, date1904); Date }
        else { ExcelSerialDate.dateTimeDay(d, date1904); DateTime }
      }
  }

  /** Folds the row just read, `rowWidth` cells wide, and clears it. */
  def endRow(rowWidth: Int): Unit = {
    val n = math.min(rowWidth, row.length)
    var c = 0
    while (c < n) {
      if (row(c) != Absent) {
        if (c >= cols.length) cols = java.util.Arrays.copyOf(cols, math.max(c + 1, cols.length * 2))
        if (cols(c) == null) cols(c) = new ColumnType
        cols(c).add(row(c))
        row(c) = Absent
      }
      c += 1
    }
    width = math.max(width, rowWidth)
  }

  /** Column `c`'s inferred type: a string when no row gave it a value. */
  def dataType(c: Int): DataType =
    if (c < cols.length && cols(c) != null) cols(c).dataType else StringType
}
