package graft.sources.excel

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
import org.apache.spark.sql.connector.expressions.{Expressions, Literal, NamedReference}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/** Batch scan: one input partition per `.xlsx` file — preserving the
  * reference's observable contract that a directory of N files reads as N
  * partitions (`/root/reference/tests/test_excel_connector.py:162-187`).
  * Every batch scan and stream runs one row reader, [[ExcelPartitionReader]].
  * Pushdown is limited to what skips files, sheets or rows: column pruning
  * (only projected cells are decoded), `_file_path` and `_sheet` filters
  * (whole files and sheets are never planned) and the limit cap. Pushed
  * filters and the join-driven ones Spark hands the scan at run time
  * (through its `SupportsRuntimeFiltering`) form one list, which one
  * matcher, [[ExcelScan.mayMatch]], applies to files and sheets. Filters,
  * samples, sorts, offsets and aggregates stay Spark operators above the
  * scan; `count()` reads an empty projection, whose rows the scanner steps
  * over whole.
  */
class ExcelScanBuilder(fullSchema: StructType, opts: ExcelOptions)
    extends ScanBuilder
    with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters
    with SupportsPushDownLimit {

  private var requiredSchema: StructType = fullSchema
  private var limit: Int = -1
  private var pushed: Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit = {
    this.requiredSchema = requiredSchema
  }

  /** Keeps the filters planning acts on: those on one of
    * [[ExcelScan.prunableColumns]]. Every filter also stays post-scan. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(ExcelScan.prunes(ExcelScan.prunableColumns(fullSchema, opts)))
    filters
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pushLimit(limit: Int): Boolean = {
    this.limit = limit
    false // partial: each partition still caps rows, Spark re-applies the limit
  }

  override def build(): Scan =
    new ExcelScan(fullSchema, requiredSchema, opts, limit, pushed)
}

class ExcelScan(fullSchema: StructType, requiredSchema: StructType,
    opts: ExcelOptions, limit: Int,
    filters: Array[Filter] = Array.empty)
    extends Scan with Batch with SupportsReportStatistics
    with SupportsRuntimeFiltering {

  override def readSchema(): StructType = requiredSchema

  private val prunable = ExcelScan.prunableColumns(fullSchema, opts)

  // ---- runtime (join-driven) pruning -------------------------------------
  // Spark materializes the build side of an eligible join and hands its
  // keys as = / IN predicates on filterAttributes() before it plans input
  // partitions again: dynamic partition pruning for file-grained layouts
  // (dt=…/part.xlsx manifests). SupportsRuntimeFiltering converts them to
  // the Filters pushFilters takes; they only ever add to the pushed ones.
  @volatile private var runtimeFilters = Array.empty[Filter]

  // only columns in this scan's output: Spark's PartitionPruning resolves
  // filter attributes against readSchema and raises if one is absent (a
  // pruned-away `_file_path` can't be a runtime join key anyway)
  override def filterAttributes(): Array[NamedReference] =
    prunable.filter(requiredSchema.fieldNames.contains).map(Expressions.column).toArray

  override def filter(fs: Array[Filter]): Unit =
    runtimeFilters ++= fs.filter(ExcelScan.prunes(prunable))

  // Spark's conversion reads a literal's value in Catalyst's internal
  // form, as its runtime predicates hold it; a string literal built from a
  // plain String (`Expressions.literal("x")`) is brought to that form first
  override def filter(predicates: Array[Predicate]): Unit =
    super.filter(predicates.map(p =>
      if (p.name != "=" && p.name != "IN") p
      else new Predicate(p.name, p.children.map {
        case l: Literal[_] if l.value.isInstanceOf[String] => Expressions.literal(
          org.apache.spark.unsafe.types.UTF8String.fromString(l.value.toString))
        case e => e
      })))

  // one Hadoop conf per scan: the listing, the planner's probes and the
  // tasks' broadcast all read it
  private lazy val hadoopConf = SparkSession.active.sessionState.newHadoopConf()

  // the path is listed once per scan, by whichever of statistics and
  // planning asks first; a listing that throws is not kept (a lazy val
  // initializer that throws runs again on the next access), so planning
  // retries one that failed inside the statistics
  private lazy val entries: Seq[ExcelFiles.Entry] = ExcelFiles.listEntries(
    opts.path, hadoopConf, opts.recursiveFileLookup, opts.xlsxOnly)

  /** Relation sizing for Catalyst's join planning (CBO/broadcast
    * threshold): sum of the listed files' on-disk bytes — the same
    * `FileStatus`es partition planning uses, no file is opened — inflated
    * by [[ExcelScan.StatsSizeFactor]] and scaled down by the pruned-column
    * fraction, since Spark invokes this AFTER pushdown on the pruned scan.
    * Without this, DSv2 falls back to `defaultSizeInBytes` (effectively
    * "huge"), so a small excel dimension is never broadcast. numRows stays
    * empty — counting rows exactly would open every workbook at plan
    * time. */
  override def estimateStatistics(): Statistics = {
    val bytes =
      try entries.map(_.sizeBytes).sum
      catch {
        // planning must not die on a stats probe (path races with cleanup,
        // transient FS errors) — the scan itself will surface real errors
        case scala.util.control.NonFatal(_) => -1L
      }
    val colFrac =
      if (fullSchema.isEmpty) 1.0
      else math.max(1, requiredSchema.length).toDouble / fullSchema.length
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        if (bytes < 0) java.util.OptionalLong.empty()
        else java.util.OptionalLong.of(math.max(1L,
          (bytes * ExcelScan.StatsSizeFactor * colFrac).toLong))
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.empty()
    }
  }

  override def description(): String =
    s"ExcelScan path=${opts.pathOpt.getOrElse("?")} sheet=${opts.sheetName} " +
      s"columns=[${requiredSchema.fieldNames.mkString(",")}]" +
      (if (limit >= 0) s" limit=$limit" else "") +
      (if (filters.nonEmpty) s" PushedFilters=[${filters.mkString(", ")}]" else "")

  override def toBatch: Batch = this

  override def supportedCustomMetrics(): Array[CustomMetric] = ExcelScanMetrics.supported

  override def toMicroBatchStream(
      checkpointLocation: String): org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new ExcelMicroBatchStream(fullSchema, opts, checkpointLocation)

  // a file or sheet that provably fails a pushed or runtime filter is
  // never staged, opened or parsed; Spark re-applies every filter above the
  // scan, so pruning only ever saves work
  override def planInputPartitions(): Array[InputPartition] = {
    val all = filters ++ runtimeFilters
    ExcelSplitPlanner.plan(entries.map(_.uri)
      .filter(ExcelScan.mayMatch(ExcelSchema.FilePathColumn, all)), opts, hadoopConf, all)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    ExcelPartitionReaderFactory(fullSchema, requiredSchema, opts, limit,
      ExcelFiles.broadcastConf(hadoopConf))
}

object ExcelScan {

  /** Decompressed-size multiplier for the reported statistics. xlsx is
    * zip-compressed sheetML: the row data Spark materializes is typically
    * 5–15× the on-disk bytes, and UNDER-estimating is the dangerous
    * direction (a "small" relation gets broadcast and OOMs executors at
    * scale), so the factor is a conservative 8. */
  private val StatsSizeFactor = 8

  /** `_file_path` acts as a metadata column only when no data column took
    * the name (shadow rule of the scan, its pushed filters and the
    * reader). */
  private[excel] def filePathIsMeta(fullSchema: StructType): Boolean =
    !fullSchema.fieldNames.contains(ExcelSchema.FilePathColumn)

  /** The columns whose filters prune whole files or sheets: `_file_path`
    * while it is a metadata column, `_sheet` with `sheetName="*"`. */
  private[excel] def prunableColumns(fullSchema: StructType,
      opts: ExcelOptions): Seq[String] =
    Seq(ExcelSchema.FilePathColumn).filter(_ => filePathIsMeta(fullSchema)) ++
      Seq(ExcelSchema.SheetColumn).filter(_ => opts.allSheets)

  /** A filter planning acts on: it references one of `columns` only. */
  private[excel] def prunes(columns: Seq[String])(f: Filter): Boolean =
    columns.exists(c => f.references.nonEmpty && f.references.forall(_ == c))

  /** Whether a file (`_file_path`) or sheet (`_sheet`) named by the
    * argument may pass every one of `filters` on `column`. Only
    * exactly-evaluable shapes decide; any other keeps it. Built once per
    * plan, so an IN of many values (a join's build-side keys) is one hash
    * set, not a scan of the list per file. */
  private[excel] def mayMatch(column: String, filters: Array[Filter]): String => Boolean = {
    import org.apache.spark.sql.sources._
    val tests: Array[String => Boolean] = filters.collect {
      case EqualTo(`column`, v) => (s: String) => v == s
      case In(`column`, vs) => val set = vs.toSet; (s: String) => set(s)
      case StringStartsWith(`column`, p) => (s: String) => s.startsWith(p)
      case StringEndsWith(`column`, x) => (s: String) => s.endsWith(x)
      case StringContains(`column`, x) => (s: String) => s.contains(x)
    }
    s => tests.forall(_(s))
  }
}

/** One partition == one xlsx file (reference `ExcelInputPartition`,
  * connector.py:47-49) — or, with `maxRowsPerPartition`, one dense-row
  * range [startRow, endRowExcl) of a file (startRow <= 0 = whole file),
  * and with `sheetName="*"`, one (file, sheet) combination (`sheet` null =
  * use the configured sheetName). */
case class ExcelInputPartition(filePath: String, startRow: Int = -1,
    endRowExcl: Int = -1, sheet: String = null) extends InputPartition

/** Shared partition planning for batch scans and micro-batch streams:
  * per-file by default, fanned out per sheet (`sheetName="*"`) and/or per
  * row range (`maxRowsPerPartition`). */
object ExcelSplitPlanner {

  def plan(files: Seq[String], opts: ExcelOptions,
      conf: org.apache.hadoop.conf.Configuration,
      filters: Array[Filter] = Array.empty): Array[InputPartition] = {
    if (!opts.allSheets && opts.maxRowsPerPartition.isEmpty)
      return files.map(f => ExcelInputPartition(f): InputPartition).toArray
    val keepSheet = ExcelScan.mayMatch(ExcelSchema.SheetColumn, filters)
    // each probe opens + header-parses one workbook: independent work,
    // probed by the bounded driver prober; results keep the file order
    ExcelFiles.probeAll(files) { f =>
      probe(f, conf) { rd =>
        val sheets: Seq[(String, XlsxReader.Sheet)] =
          if (opts.allSheets)
            rd.sheets.filter(s => keepSheet(s.name)).map(s => (s.name, s))
          else Seq((null, rd.resolveSheet(opts.sheetName)))
        sheets.flatMap { case (sheetName, sheet) =>
          opts.maxRowsPerPartition match {
            case None => Seq(ExcelInputPartition(f, sheet = sheetName))
            case Some(maxRows) =>
              planRowRanges(f, sheetName, rd.lastRowNumber(sheet), maxRows, opts)
          }
        }
      }
    }.flatten.toArray
  }

  private def probe[T](f: String, conf: org.apache.hadoop.conf.Configuration)(
      body: XlsxReader => T): T = {
    val rd = open(f, conf)
    try body(rd) finally rd.close()
  }

  /** [[XlsxReader.open]], with the error normalization of the scan (the
    * reference wraps all read failures, connector.py:202-203): a corrupt
    * or non-zip file surfaces as a SparkException naming the path. */
  private[excel] def open(f: String, conf: org.apache.hadoop.conf.Configuration)
      : XlsxReader =
    try XlsxReader.open(f, conf)
    catch {
      case e: Exception => throw new org.apache.spark.SparkException(
        s"Failed to open excel file $f: ${e.getMessage}", e)
    }

  /** Upper bound on row-range splits per (file, sheet): xlsx has no
    * random access inside the deflate stream, so split P re-parses rows
    * 1..start and P splits of one sheet cost O(P²·rows) parse work; 64
    * keeps that at ≤32× re-parse amplification. */
  private val MaxSplitsPerFile = 64

  /** Split one sheet into row-range partitions of at most `maxRows` data
    * rows, capped at [[MaxSplitsPerFile]] splits (rows-per-split grows
    * instead). The probed last row may under-report (stale `<dimension>`),
    * so the FINAL range is always unbounded — a wrong dimension can cost
    * balance, never rows. */
  private def planRowRanges(f: String, sheetName: String, lastRow: Int,
      maxRows: Int, opts: ExcelOptions): Seq[InputPartition] = {
    val dataStart = if (opts.header) 2 else 1
    val dataRows = math.max(0, lastRow - dataStart + 1)
    val wanted = math.max(1, math.ceil(dataRows.toDouble / maxRows).toInt)
    val capped = math.min(wanted, MaxSplitsPerFile)
    val perSplit = math.max(maxRows, math.ceil(dataRows.toDouble / capped).toInt)
    // the cap can grow perSplit past maxRows, covering the sheet in fewer
    // splits than `capped`; recompute so no split starts past the probed
    // last row — an empty trailing split still re-parses rows 1..start,
    // the exact quadratic the cap exists to bound
    val n = math.min(capped,
      math.max(1, math.ceil(dataRows.toDouble / perSplit).toInt))
    (0 until n).map { i =>
      val start = dataStart + i.toLong * perSplit
      val end = if (i == n - 1) Int.MaxValue else start + perSplit
      ExcelInputPartition(f, start.toInt, math.min(end, Int.MaxValue).toInt,
        sheetName): InputPartition
    }
  }
}

/** Builds every task's reader, for batch scans and micro-batches alike.
  * The factory is serialized into every task, so it holds the Hadoop conf
  * only as a broadcast handle ([[ExcelFiles.broadcastConf]]): the conf
  * itself reaches each executor once per query. */
case class ExcelPartitionReaderFactory(fullSchema: StructType,
    requiredSchema: StructType,
    opts: ExcelOptions, limit: Int, conf: Broadcast[SerializableConfiguration])
    extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[ExcelInputPartition]
    new ExcelPartitionReader(p.filePath, fullSchema, requiredSchema, opts,
      limit, conf.value.value, p.startRow, p.endRowExcl, p.sheet)
  }
}

/** Streams one file's chosen sheet as InternalRows, decoding only the
  * required columns of its row range, at most `limit` rows (-1: all).
  * Column resolution: by header name when header=true (missing required
  * column → error, matching the reference's tested intent,
  * tests/test_excel_connector.py:93-112; extra file columns are ignored,
  * :73-91); positional when header=false. One scan of the sheet part
  * reads the header row (boxed, every column) and then the data rows,
  * whose wanted cells go straight to the typed cell readers; so a row
  * range starts after the header row, as the planner's ranges do. */
class ExcelPartitionReader(filePath: String, fullSchema: StructType,
    requiredSchema: StructType,
    opts: ExcelOptions, limit: Int, conf: org.apache.hadoop.conf.Configuration,
    startRow: Int = -1, endRowExcl: Int = -1, sheetOverride: String = null)
    extends PartitionReader[InternalRow] {

  private val ranged = startRow > 0
  // multi-sheet mode: sheets legitimately differ in columns → absent
  // columns read as nulls, and `_sheet` is synthesized (index marker -2);
  // the `_file_path` metadata column is synthesized likewise (marker -3),
  // unless shadowed by a real data column of that name
  private val allowMissing = opts.allowMissingColumns || opts.allSheets
  private val SheetIdx = -2
  private val FilePathIdx = -3
  private val filePathIsMeta = ExcelScan.filePathIsMeta(fullSchema)

  private val reader = ExcelSplitPlanner.open(filePath, conf)

  // a constructor that throws (no such sheet, a missing column, a
  // truncated header row) leaves Spark no reader to close, so each step
  // that can throw closes the workbook first
  private val resolvedSheet = reader.closeOnError(reader.resolveSheet(
    if (sheetOverride != null) sheetOverride else opts.sheetName))

  private val scan = reader.closeOnError(reader.rowScan(resolvedSheet))

  // the header is dense row 1, every column, boxed
  private val headerRow: Option[Array[Any]] =
    if (!opts.header) None
    else reader.closeOnError {
      val cells = new BoxedCells(reader)
      if (scan.next(1, 2, null, cells)) Some(cells.row(scan.width)) else None
    }

  private val indices: Array[Int] = reader.closeOnError {
    def meta(name: String): Option[Int] =
      if (opts.allSheets && name == ExcelSchema.SheetColumn) Some(SheetIdx)
      else if (filePathIsMeta && name == ExcelSchema.FilePathColumn) Some(FilePathIdx)
      else None
    headerRow match {
      case Some(header) =>
        // width must match inference (ExcelSchema.inferFromFile uses the
        // max of header and widest sampled data row), so positional
        // 'Unnamed: N' fallbacks resolve for data-wider-than-header files
        val names = ExcelSchema.columnNames(Some(header),
          math.max(header.length, fullSchema.length), header = true)
        val nameToIdx = names.zipWithIndex.toMap
        // the error lists the header's own columns, not the padding
        requiredSchema.fields.map(f => meta(f.name).getOrElse(
          nameToIdx.getOrElse(f.name,
            if (allowMissing) -1
            else throw new org.apache.spark.SparkException(
              s"Column '${f.name}' not found in $filePath " +
                s"(sheet columns: ${names.take(header.length).mkString(", ")})"))))
      case None if opts.header => requiredSchema.fields.map(_ => -1)
      case None =>
        // positional: field ← its position in the FULL schema (pruning must
        // not shift positions — requiredSchema indices would read the wrong
        // file columns after a select())
        requiredSchema.fields.map(f =>
          meta(f.name).getOrElse(fullSchema.fieldIndex(f.name)))
    }
  }

  // `_sheet` and `_file_path` are the same in every row of the partition
  private val cells = new TypedCells(reader, requiredSchema, indices, indices.map {
    case SheetIdx => org.apache.spark.unsafe.types.UTF8String.fromString(resolvedSheet.name)
    case FilePathIdx => org.apache.spark.unsafe.types.UTF8String.fromString(filePath)
    case _ => null
  })

  private val columns = {
    val mask = new Array[Boolean](indices.foldLeft(0)((w, i) => math.max(w, i + 1)))
    indices.foreach(i => if (i >= 0) mask(i) = true)
    mask
  }
  private val from = if (ranged) startRow else if (opts.header) 2 else 1
  private val until = if (ranged) endRowExcl else Int.MaxValue
  private var left = if (limit >= 0) limit.toLong else Long.MaxValue

  override def next(): Boolean = {
    if (left == 0) return false
    cells.startRow()
    if (!scan.next(from, until, columns, cells)) return false
    cells.endRow()
    left -= 1
    true
  }

  override def get(): InternalRow = cells.row

  override def currentMetricsValues(): Array[CustomTaskMetric] =
    ExcelScanMetrics.values(reader.counters)

  override def close(): Unit = reader.close()
}

/** The typed cell readers of one partition, one per required column,
  * chosen once from the column's Spark type: each writes a cell's kind,
  * style and UTF-8 text straight into one reused `UnsafeRow`, and a column
  * the row did not fill reads as null. `sources(o)` is the sheet column
  * column `o` reads (-1: none); a non-null `constants(o)` fills it in every
  * row instead.
  *
  * Lenient like the pandas→Spark path: sensible coercions happen,
  * impossible ones yield null. A raw serial read as a timestamp counts
  * from the workbook's epoch (`date1904`). The rarely used pairs (number
  * or date → string, string → number, date or timestamp) go through a
  * `String`. */
private[excel] final class TypedCells(reader: XlsxReader, schema: StructType,
    sources: Array[Int], constants: Array[org.apache.spark.unsafe.types.UTF8String])
    extends CellSink {
  import TypedCells._
  import XlsxReader._

  private val n = schema.length
  private val types = schema.fields.map(f => typeOf(f.dataType))
  private val date1904 = reader.date1904
  private val writer = new UnsafeRowWriter(n, 64)
  // the first column reading each sheet column, and the next one reading
  // the same sheet column (-1: none)
  private val firstOf = Array.fill(sources.foldLeft(0)((w, i) => math.max(w, i + 1)))(-1)
  private val nextOf = Array.fill(n)(-1)
  (n - 1 to 0 by -1).foreach { o =>
    val src = sources(o)
    if (src >= 0) { nextOf(o) = firstOf(src); firstOf(src) = o }
  }
  private val filled = new Array[Int](n) // the row number a column was last given a value in
  private var rowNo = 0
  private val unescaped = new ByteBuilder

  def startRow(): Unit = {
    rowNo += 1
    writer.reset()
    writer.zeroOutNullBytes()
  }

  /** Fills the constant columns and sets every column this row gave no
    * value to null. */
  def endRow(): Unit = {
    var o = 0
    while (o < n) {
      if (constants(o) != null) writer.write(o, constants(o))
      else if (filled(o) != rowNo) writer.setNullAt(o)
      o += 1
    }
  }

  def row: UnsafeRow = writer.getRow

  override def cell(col: Int, kind: Int, style: Int, text: ByteBuilder): Unit = {
    var o = if (col < firstOf.length) firstOf(col) else -1
    while (o >= 0) {
      filled(o) = 0
      if (text != null) read(o, kind, style, text)
      o = nextOf(o)
    }
  }

  private def read(o: Int, kind: Int, style: Int, t: ByteBuilder): Unit = kind match {
    case CellNumber =>
      if (t.length > 0) {
        val d = parseNumber(t.bytes, 0, t.length)
        val dateKind = reader.serialKind(style, d)
        if (dateKind == DateKind.None) number(o, d)
        else if (dateKind == DateKind.DateOnly)
          date(o, ExcelSerialDate.epochDay(d, date1904), -1L)
        else date(o, ExcelSerialDate.dateTimeDay(d, date1904), ExcelSerialDate.millisOfDay(d))
      }
    case CellInline | CellStr =>
      val u = unescapedUtf8(t, unescaped)
      text(o, u.bytes, u.length)
    case CellShared =>
      val s = reader.sharedString(parseIndex(t))
      if (types(o) == TString) { writer.write(o, s); filled(o) = rowNo }
      else { val b = s.getBytes; text(o, b, b.length) }
    case CellBool => bool(o, isTrue(t))
    case CellDate => isoDate(t) match {
      case null => ()
      case d: java.time.LocalDate => date(o, d.toEpochDay, -1L)
      case dt: java.time.LocalDateTime => isoDateTime(o, dt)
    }
    case _ => () // an error cell (#DIV/0! …) reads as null
  }

  private def number(o: Int, d: Double): Unit = types(o) match {
    case TInt => put(o); writer.write(o, d.toInt)
    case TLong => put(o); writer.write(o, d.toLong)
    case TDouble => put(o); writer.write(o, d)
    case TFloat => put(o); writer.write(o, d.toFloat)
    case TBool => put(o); writer.write(o, d != 0.0)
    case TString => ascii(o, ExcelSchema.formatNumber(d))
    case TTimestamp => // a raw serial under an explicit timestamp schema
      put(o)
      writer.write(o, ExcelSerialDate.epochMicros(ExcelSerialDate.dateTimeDay(d, date1904),
        ExcelSerialDate.millisOfDay(d)))
    case TDate => ()
    case _ => unsupported(o)
  }

  /** A date (`millisOfDay` -1) or date-time value. */
  private def date(o: Int, day: Long, millisOfDay: Long): Unit = types(o) match {
    case TDate => put(o); writer.write(o, day.toInt)
    case TTimestamp => put(o); writer.write(o, ExcelSerialDate.epochMicros(day, math.max(0L, millisOfDay)))
    case TString =>
      val d = java.time.LocalDate.ofEpochDay(day)
      ascii(o, if (millisOfDay < 0) d.toString
        else d.atTime(java.time.LocalTime.ofNanoOfDay(millisOfDay * 1000000L)).toString.replace('T', ' '))
    case TOther => unsupported(o)
    case _ => ()
  }

  /** An ISO date-time cell, which may carry nanoseconds. */
  private def isoDateTime(o: Int, dt: java.time.LocalDateTime): Unit = types(o) match {
    case TDate => put(o); writer.write(o, dt.toLocalDate.toEpochDay.toInt)
    case TTimestamp => put(o); writer.write(o, micros(dt))
    case TString => ascii(o, dt.toString.replace('T', ' '))
    case TOther => unsupported(o)
    case _ => ()
  }

  private def bool(o: Int, b: Boolean): Unit = types(o) match {
    case TBool => put(o); writer.write(o, b)
    case TInt => put(o); writer.write(o, if (b) 1 else 0)
    case TLong => put(o); writer.write(o, if (b) 1L else 0L)
    case TDouble => put(o); writer.write(o, if (b) 1.0 else 0.0)
    case TFloat => put(o); writer.write(o, if (b) 1.0f else 0.0f)
    case TString => ascii(o, if (b) "True" else "False") // pandas str()
    case TOther => unsupported(o)
    case _ => ()
  }

  /** String text (UTF-8 `b[0, len)`, escapes decoded). */
  private def text(o: Int, b: Array[Byte], len: Int): Unit = types(o) match {
    case TString => put(o); writer.write(o, b, 0, len)
    case TOther => unsupported(o)
    case t =>
      val s = new String(b, 0, len, java.nio.charset.StandardCharsets.UTF_8).trim
      t match {
        case TInt | TLong | TDouble | TFloat =>
          try number(o, java.lang.Double.parseDouble(s))
          catch { case _: NumberFormatException => () }
        case TBool =>
          val l = s.toLowerCase
          if (l == "true" || l == "1") bool(o, b = true)
          else if (l == "false" || l == "0") bool(o, b = false)
        case TDate =>
          try { val d = java.time.LocalDate.parse(s).toEpochDay.toInt; put(o); writer.write(o, d) }
          catch { case _: Exception => () }
        case _ =>
          try { val m = micros(java.time.LocalDateTime.parse(s.replace(' ', 'T'))); put(o); writer.write(o, m) }
          catch { case _: Exception => () }
      }
  }

  private def put(o: Int): Unit = filled(o) = rowNo

  private def ascii(o: Int, s: String): Unit = {
    put(o)
    writer.write(o, s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** Excel wall-clock datetimes carry no zone; read as UTC (the session
    * zone in this project's builds). */
  private def micros(dt: java.time.LocalDateTime): Long =
    org.apache.spark.sql.catalyst.util.DateTimeUtils.instantToMicros(
      dt.toInstant(java.time.ZoneOffset.UTC))

  private def unsupported(o: Int): Nothing =
    throw new UnsupportedOperationException(
      s"Excel source does not support type ${schema(o).dataType} " +
        "(supported: string, int, bigint, double, float, boolean, date, timestamp)")
}

private object TypedCells {
  final val TString = 0
  final val TInt = 1
  final val TLong = 2
  final val TDouble = 3
  final val TFloat = 4
  final val TBool = 5
  final val TDate = 6
  final val TTimestamp = 7
  final val TOther = 8

  def typeOf(dt: org.apache.spark.sql.types.DataType): Int = {
    import org.apache.spark.sql.types._
    dt match {
      case StringType => TString
      case IntegerType => TInt
      case LongType => TLong
      case DoubleType => TDouble
      case FloatType => TFloat
      case BooleanType => TBool
      case DateType => TDate
      case TimestampType => TTimestamp
      case _ => TOther
    }
  }
}

/** DSv2 scan metrics, summed over a scan's partitions: what the sheet
  * scanner read, decoded and stepped over. */
object ExcelScanMetrics {
  val SheetBytes = "sheetBytesScanned"
  val Rows = "rowsScanned"
  val CellsDecoded = "cellsDecoded"
  val CellsSkipped = "cellsSkipped"
  val SharedStrings = "sharedStringsParsed"

  def supported: Array[CustomMetric] = Array(new ExcelSheetBytesMetric,
    new ExcelRowsScannedMetric, new ExcelCellsDecodedMetric,
    new ExcelCellsSkippedMetric, new ExcelSharedStringsMetric)

  def values(c: ScanCounters): Array[CustomTaskMetric] = Array(
    ExcelWriteMetrics.value(SheetBytes, c.sheetBytes),
    ExcelWriteMetrics.value(Rows, c.rows),
    ExcelWriteMetrics.value(CellsDecoded, c.cellsDecoded),
    ExcelWriteMetrics.value(CellsSkipped, c.cellsSkipped),
    ExcelWriteMetrics.value(SharedStrings, c.sstEntries))
}

class ExcelSheetBytesMetric extends ExcelSumMetric(
  ExcelScanMetrics.SheetBytes, "inflated sheet bytes scanned")
class ExcelRowsScannedMetric
    extends ExcelSumMetric(ExcelScanMetrics.Rows, "sheet rows scanned")
class ExcelCellsDecodedMetric
    extends ExcelSumMetric(ExcelScanMetrics.CellsDecoded, "cells decoded")
class ExcelCellsSkippedMetric extends ExcelSumMetric(
  ExcelScanMetrics.CellsSkipped, "cells skipped (column not read)")
class ExcelSharedStringsMetric extends ExcelSumMetric(
  ExcelScanMetrics.SharedStrings, "shared-string entries parsed")
