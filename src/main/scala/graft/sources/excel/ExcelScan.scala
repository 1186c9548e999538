package graft.sources.excel

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
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

/** Streams one file's chosen sheet as InternalRows, converting only the
  * required columns of its row range, at most `limit` rows (-1: all).
  * Column resolution: by header name when header=true (missing required
  * column → error, matching the reference's tested intent,
  * tests/test_excel_connector.py:93-112; extra file columns are ignored,
  * :73-91); positional when header=false. */
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
  private val filePathValue =
    org.apache.spark.unsafe.types.UTF8String.fromString(filePath)

  private val reader = ExcelSplitPlanner.open(filePath, conf)

  // a constructor that throws (no such sheet, a missing column, a
  // truncated header row) leaves Spark no reader to close, so each step
  // that can throw closes the workbook first
  private val resolvedSheet = reader.closeOnError(reader.resolveSheet(
    if (sheetOverride != null) sheetOverride else opts.sheetName))
  private val sheetNameValue =
    org.apache.spark.unsafe.types.UTF8String.fromString(resolvedSheet.name)

  // the header (dense row 1) is always read through its own one-row
  // stream, all columns; the data stream then decodes only the resolved
  // columns of [first data row or startRow, endRowExcl)
  private val headerRow: Option[Array[Any]] =
    if (!opts.header) None
    else reader.closeOnError {
      val it = reader.rowIterator(resolvedSheet, 1, 2)
      if (it.hasNext) Some(it.next()) else None
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

  private val rowIter: Iterator[Array[Any]] = reader.closeOnError {
    val columns = new Array[Boolean](indices.foldLeft(0)((w, i) => math.max(w, i + 1)))
    indices.foreach(i => if (i >= 0) columns(i) = true)
    val dataStart = if (opts.header) 2 else 1
    val it = reader.rowIterator(resolvedSheet, if (ranged) startRow else dataStart,
      if (ranged) endRowExcl else Int.MaxValue, columns)
    if (limit >= 0) it.take(limit) else it
  }
  private var current: InternalRow = _

  override def next(): Boolean = {
    if (!rowIter.hasNext) return false
    val raw = rowIter.next()
    val values = new Array[Any](requiredSchema.length)
    var i = 0
    while (i < indices.length) {
      val src = indices(i)
      if (src == SheetIdx) {
        values(i) = sheetNameValue
      } else if (src == FilePathIdx) {
        values(i) = filePathValue
      } else {
        val cell = if (src >= 0 && src < raw.length) raw(src) else null
        values(i) = ExcelSchema.convert(cell, requiredSchema.fields(i).dataType,
          reader.date1904)
      }
      i += 1
    }
    current = new GenericInternalRow(values)
    true
  }

  override def get(): InternalRow = current

  override def currentMetricsValues(): Array[CustomTaskMetric] =
    ExcelScanMetrics.values(reader.counters)

  override def close(): Unit = reader.close()
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
