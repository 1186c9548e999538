package graft.sources.excel

import java.time.{LocalDate, LocalDateTime}

import org.apache.hadoop.conf.Configuration

import org.apache.spark.sql.types._

/** Schema inference and column naming (the scan's typed cell readers,
  * [[TypedCells]], turn cells into Catalyst values).
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

  /** What a sample has shown of one column, folded one value at a time:
    * the flags its non-null values kept true, and the type they make. */
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

  /** A sheet's schema from its header row and the sample rows after it.
    * Each row is folded into per-column [[ColumnType]]s as it streams by,
    * so a probe holds O(columns) state, never its sample rows. */
  private[excel] def inferSample(headerRow: Option[Array[Any]],
      rows: Iterator[Array[Any]], opts: ExcelOptions): StructType = {
    val cols = scala.collection.mutable.ArrayBuffer.empty[ColumnType]
    rows.foreach { r =>
      while (cols.length < r.length) cols += new ColumnType
      r.indices.foreach(i => cols(i).add(r(i)))
    }
    val names = columnNames(headerRow,
      math.max(headerRow.map(_.length).getOrElse(0), cols.length), opts.header)
    if (!opts.inferSchema) allStrings(names)
    else StructType(names.zipWithIndex.map { case (name, i) =>
      StructField(name, cols.lift(i).fold[DataType](StringType)(_.dataType), nullable = true)
    })
  }

  /** All-strings schema (inferSchema=false path — connector.py:85-88). */
  def allStrings(names: Seq[String]): StructType =
    StructType(names.map(StructField(_, StringType, nullable = true)))

  /** Probe one file and produce the inferred (or all-string) schema.
    * Failures wrap in AnalysisException like the reference's inference
    * error normalization (connector.py:93-94). */
  def inferFromFile(filePath: String, opts: ExcelOptions,
      conf: Configuration): StructType = {
    val reader =
      try XlsxReader.open(filePath, conf)
      catch {
        case e: Exception =>
          throw new org.apache.spark.sql.AnalysisException(
            errorClass = "UNABLE_TO_INFER_SCHEMA",
            messageParameters = Map("format" -> s"excel ($filePath: ${e.getMessage})"))
      }
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
  }

  /** Synthesized sheet-name column for `sheetName="*"` reads. */
  final val SheetColumn = "_sheet"

  /** Metadata column: the listed URI of the file a row came from
    * (SELECT `_file_path` to materialize it; filter or join on it to
    * prune whole files from the scan). A real data column named
    * `_file_path` shadows it, per the DSv2 metadata-column contract. */
  final val FilePathColumn = "_file_path"

  private def inferSheet(reader: XlsxReader, sheet: XlsxReader.Sheet,
      opts: ExcelOptions): StructType = {
    val it = reader.rowIterator(sheet)
    val headerRow = if (opts.header && it.hasNext) Some(it.next()) else None
    inferSample(headerRow, it.take(opts.inferSampleRows), opts)
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
