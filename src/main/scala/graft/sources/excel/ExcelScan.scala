package graft.sources.excel

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/** Batch scan: one input partition per `.xlsx` file — preserving the
  * reference's observable contract that a directory of N files reads as N
  * partitions (`/root/reference/tests/test_excel_connector.py:162-187`).
  * Every batch scan and stream runs one row reader, [[ExcelPartitionReader]].
  * Pushdown is limited to what skips files, sheets or rows: column pruning
  * (only projected cells are decoded), `_file_path` and `_sheet` filters
  * (whole files and sheets are never planned) and the limit cap. Filters,
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
  private var pushed: Array[org.apache.spark.sql.sources.Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit = {
    this.requiredSchema = requiredSchema
  }

  /** Keeps the filters planning acts on: those on `_file_path` (when no
    * data column shadows the metadata column) and on `_sheet` (with
    * `sheetName="*"`). Every filter also stays post-scan. */
  override def pushFilters(
      filters: Array[org.apache.spark.sql.sources.Filter]): Array[org.apache.spark.sql.sources.Filter] = {
    def only(col: String)(f: org.apache.spark.sql.sources.Filter) =
      f.references.nonEmpty && f.references.forall(_ == col)
    pushed = filters.filter(f =>
      (ExcelScan.filePathIsMeta(fullSchema) && only(ExcelSchema.FilePathColumn)(f)) ||
        (opts.allSheets && only(ExcelSchema.SheetColumn)(f)))
    filters
  }

  override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] = pushed

  override def pushLimit(limit: Int): Boolean = {
    this.limit = limit
    false // partial: each partition still caps rows, Spark re-applies the limit
  }

  override def build(): Scan =
    new ExcelScan(fullSchema, requiredSchema, opts, limit, pushed)
}

class ExcelScan(fullSchema: StructType, requiredSchema: StructType,
    opts: ExcelOptions, limit: Int,
    filters: Array[org.apache.spark.sql.sources.Filter] = Array.empty)
    extends Scan with Batch with SupportsReportStatistics
    with SupportsRuntimeV2Filtering {

  override def readSchema(): StructType = requiredSchema

  private def filePathIsMeta: Boolean = ExcelScan.filePathIsMeta(fullSchema)

  // ---- runtime (join-driven) pruning -------------------------------------
  // Spark materializes the build side of an eligible join, converts its
  // keys to = / IN predicates on our declared filter attributes, and calls
  // filter() BEFORE (re)planning input partitions — dynamic partition
  // pruning for file-grained excel layouts (dt=…/part.xlsx manifests).
  // State is additive-only and conservative: anything unparsable is
  // ignored, so runtime filtering can only drop files/sheets Spark proved
  // irrelevant; results never change.
  @volatile private var runtimeFiles: Option[Set[String]] = None
  @volatile private var runtimeSheets: Option[Set[String]] = None

  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] = {
    // only advertise columns that are IN this scan's output: Spark's
    // PartitionPruning resolves filter attributes against readSchema and
    // raises if one is absent (a pruned-away `_file_path` can't be a
    // runtime join key anyway)
    val fp =
      if (filePathIsMeta &&
        requiredSchema.fieldNames.contains(ExcelSchema.FilePathColumn))
        Seq(org.apache.spark.sql.connector.expressions.Expressions
          .column(ExcelSchema.FilePathColumn))
      else Nil
    val sh =
      if (opts.allSheets &&
        requiredSchema.fieldNames.contains(ExcelSchema.SheetColumn))
        Seq(org.apache.spark.sql.connector.expressions.Expressions
          .column(ExcelSchema.SheetColumn))
      else Nil
    (fp ++ sh).toArray
  }

  override def filter(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit =
    predicates.foreach { p =>
      ExcelScan.eqOrInValues(p).foreach { case (name, values) =>
        if (name == ExcelSchema.FilePathColumn && filePathIsMeta)
          runtimeFiles = Some(runtimeFiles.fold(values)(_ intersect values))
        else if (name == ExcelSchema.SheetColumn && opts.allSheets)
          runtimeSheets = Some(runtimeSheets.fold(values)(_ intersect values))
      }
    }

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

  override def planInputPartitions(): Array[InputPartition] = {
    val listed = entries.map(_.uri)
    // file-grained pruning: a file whose URI PROVABLY fails a pushed (or
    // runtime) `_file_path` predicate is never staged, opened, or parsed.
    // Conservative keep on anything inexact — Spark re-applies all filters
    // above the scan, so pruning is an optimization, never correctness.
    val statically =
      if (filePathIsMeta && filters.nonEmpty)
        listed.filter(f => ExcelScan.fileMayMatch(f, filters))
      else listed
    val files =
      runtimeFiles.fold(statically)(allowed => statically.filter(allowed))
    val sheetFilters = runtimeSheets.fold(filters)(allowed =>
      filters :+ org.apache.spark.sql.sources.In(ExcelSchema.SheetColumn,
        allowed.toArray[Any]))
    ExcelSplitPlanner.plan(files, opts, hadoopConf, sheetFilters)
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

  /** Parse a runtime V2 predicate of shape `col = lit` / `col IN (lits…)`
    * into (column, allowed string values); None for anything else —
    * unparsable predicates are simply not used for pruning. */
  private[excel] def eqOrInValues(
      p: org.apache.spark.sql.connector.expressions.filter.Predicate)
      : Option[(String, Set[String])] = p.name() match {
    case "=" | "IN" =>
      import org.apache.spark.sql.connector.expressions.{Literal => V2Literal, NamedReference}
      val children = p.children()
      val refs = children.collect { case r: NamedReference => r }
      val lits = children.collect { case l: V2Literal[_] => l }
      if (refs.length == 1 && refs(0).fieldNames().length == 1 &&
        refs.length + lits.length == children.length && lits.nonEmpty)
        Some(refs(0).fieldNames()(0) ->
          lits.map(l => String.valueOf(l.value())).toSet)
      else None
    case _ => None
  }

  /** Exactly-evaluable `_file_path` predicates a listed URI must satisfy
    * to stay planned; inexact shapes conservatively keep the file. */
  private def fileMayMatch(path: String,
      filters: Array[org.apache.spark.sql.sources.Filter]): Boolean = {
    import org.apache.spark.sql.sources._
    val C = ExcelSchema.FilePathColumn
    filters.forall {
      case EqualTo(C, v) => v == path
      case In(C, vs) => vs.contains(path)
      case StringStartsWith(C, p) => path.startsWith(p)
      case StringEndsWith(C, s) => path.endsWith(s)
      case StringContains(C, s) => path.contains(s)
      case IsNotNull(C) => true // synthesized, never null
      case _ => true
    }
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
      filters: Array[org.apache.spark.sql.sources.Filter] = Array.empty)
      : Array[InputPartition] = {
    if (!opts.allSheets && opts.maxRowsPerPartition.isEmpty)
      return files.map(f => ExcelInputPartition(f): InputPartition).toArray
    // each probe opens + header-parses one workbook — independent work, so
    // a directory of many files probes on a bounded driver-side pool
    // instead of one at a time; results keep the input file order
    probeAll(files, conf) { (f, rd) =>
      val sheets: Seq[(String, XlsxReader.Sheet)] =
        if (opts.allSheets)
          rd.sheets.map(s => (s.name, s))
            .filter { case (name, _) => sheetMayMatch(name, filters) }
        else Seq((null, rd.resolveSheet(opts.sheetName)))
      sheets.flatMap { case (sheetName, sheet) =>
        opts.maxRowsPerPartition match {
          case None => Seq(ExcelInputPartition(f, sheet = sheetName))
          case Some(maxRows) =>
            planRowRanges(f, sheetName, rd.lastRowNumber(sheet), maxRows, opts)
        }
      }
    }.toArray
  }

  /** Probe every file on a bounded thread pool (planning is driver-side;
    * each probe is an open + header parse, often against remote storage —
    * serial probing of a 1000-file directory is the planner bottleneck the
    * scan itself never recovers from). Results preserve `files` order so
    * partition numbering stays deterministic. */
  private def probeAll[T](files: Seq[String],
      conf: org.apache.hadoop.conf.Configuration)(
      body: (String, XlsxReader) => Seq[T]): Seq[T] = {
    if (files.lengthCompare(1) <= 0)
      return files.flatMap(f => probe(f, conf)(rd => body(f, rd)))
    val parallelism = math.min(files.size,
      math.min(Runtime.getRuntime.availableProcessors(), 16))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(parallelism)
    try {
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutorService(pool)
      val futures = files.map { f =>
        scala.concurrent.Future(probe(f, conf)(rd => body(f, rd)))
      }
      try
        futures.flatMap(fu =>
          scala.concurrent.Await.result(fu, scala.concurrent.duration.Duration.Inf))
      catch {
        case e: Throwable =>
          // first failure aborts planning: interrupt in-flight probes and
          // drop queued ones instead of letting them run (and fail) into a
          // dead plan; their own errors are suppressed deliberately —
          // the first one is what the user needs to see
          pool.shutdownNow()
          throw e
      }
    } finally pool.shutdown()
  }

  /** Partition pruning on the synthesized `_sheet` column: a sheet whose
    * name PROVABLY fails a pushed `_sheet` predicate is never planned,
    * parsed, or decoded. Only exactly-evaluable shapes prune (EqualTo /
    * In / IsNotNull on `_sheet`); everything else conservatively keeps the
    * sheet — Spark re-applies all filters above the scan regardless, so
    * pruning is a pure optimization, never a correctness risk. */
  private def sheetMayMatch(name: String,
      filters: Array[org.apache.spark.sql.sources.Filter]): Boolean = {
    import org.apache.spark.sql.sources._
    filters.forall {
      case EqualTo(ExcelSchema.SheetColumn, v) => v == name
      case In(ExcelSchema.SheetColumn, vs) => vs.contains(name)
      case IsNotNull(ExcelSchema.SheetColumn) => true // synthesized, never null
      case _ => true
    }
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
        values(i) = ExcelSchema.convert(cell, requiredSchema.fields(i).dataType)
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
