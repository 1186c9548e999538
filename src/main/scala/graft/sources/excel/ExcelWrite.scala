package graft.sources.excel

import java.time.{LocalDate, LocalDateTime, ZoneOffset}

import org.apache.hadoop.fs.{FileSystem, Path}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._
import org.apache.spark.util.SerializableConfiguration

/** Single-workbook batch write with a real commit protocol.
  *
  * The reference writer has none (bug B4: every task rewrites the same
  * `path`, last-writer-wins). Here every task encodes and deflates its
  * partition's rows, in parallel, into a temp segment
  * `<path>.__graft_tmp_<queryId>/part-NNNNN-<task>.deflate`
  * ([[XlsxRowSegment]]), and the driver `commit()` splices the segments
  * *in partition order* into one workbook at `path` — preserving the
  * reference's observable single-file contract while making
  * multi-partition writes deterministic. `abort()` removes the temp dir.
  *
  * The splice is a byte copy: each sheet part is the driver's deflated
  * head (XML prolog, `<cols>`, header row), the tasks' segments as they
  * are, and a deflated tail, with the part's CRC-32 combined from theirs
  * (see [[ExcelWrite.splice]]). The driver never inflates, decodes or
  * re-encodes a row, so the commit costs one sequential copy of the
  * compressed output; the xlsx caps (1,048,576 rows a sheet) still bound
  * a single workbook, and larger outputs belong in `shardedOutput` or
  * parquet.
  */
class ExcelWriteBuilder(schema: StructType, opts: ExcelOptions)
    extends WriteBuilder with SupportsTruncate {

  private var doTruncate = false

  override def truncate(): WriteBuilder = { this.doTruncate = true; this }

  override def build(): Write = {
    schema.fields.foreach { f =>
      f.dataType match {
        case StringType | IntegerType | LongType | DoubleType | FloatType |
            BooleanType | DateType | TimestampType => ()
        case other => throw new UnsupportedOperationException(
          s"Excel sink does not support column '${f.name}' of type $other")
      }
    }
    opts.sheetColumn.foreach { c =>
      require(schema.fieldNames.contains(c),
        s"sheetColumn '$c' is not in the write schema ${schema.fieldNames.mkString(", ")}")
      require(schema(c).dataType == StringType,
        s"sheetColumn '$c' must be StringType, got ${schema(c).dataType}")
      require(schema.fields.length > 1,
        s"sheetColumn '$c' would leave no data columns")
      if (opts.shardedOutput) throw new UnsupportedOperationException(
        "sheetColumn is not supported with shardedOutput (a shard is one streamed sheet)")
    }
    opts.columnWidths.keys.foreach { n =>
      require(schema.fieldNames.contains(n),
        s"columnWidths names column '$n' which is not in the write schema")
    }
    ExcelWrite.validateSheetName(opts.writeSheetName, "option 'sheetName'")
    // width is known at planning time — fail before any task runs (the
    // per-row guard in XlsxWriter.writeRow still backstops ragged rows)
    val dataCols = schema.fields.length - (if (opts.sheetColumn.isDefined) 1 else 0)
    if (dataCols > XlsxWriter.MaxColsPerSheet)
      throw new org.apache.spark.SparkException(
        s"Excel column limit exceeded: the write schema has $dataCols data " +
          s"columns but the xlsx format caps a sheet at " +
          s"${XlsxWriter.MaxColsPerSheet} columns (Excel refuses to open " +
          "wider sheets).")
    new ExcelWrite(schema, opts, doTruncate)
  }
}

class ExcelWrite(schema: StructType, opts: ExcelOptions, truncate: Boolean)
    extends Write with BatchWrite {

  override def toBatch: BatchWrite = this

  override def supportedCustomMetrics(): Array[CustomMetric] =
    ExcelWriteMetrics.supported

  @volatile private var spliceMs = 0L
  @volatile private var splicedBytes = 0L

  override def reportDriverMetrics(): Array[CustomTaskMetric] = Array(
    ExcelWriteMetrics.value(ExcelWriteMetrics.SpliceTimeMs, spliceMs),
    ExcelWriteMetrics.value(ExcelWriteMetrics.SplicedBytes, splicedBytes))

  /** Streaming sink: `path` is a DIRECTORY; each epoch commits one
    * `batch-<epochId>.xlsx` (epoch-named → idempotent on epoch replay).
    * The reference has no streaming sink at all; this composes with the
    * directory reader so excel→transform→excel streams round-trip. */
  override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
    if (opts.sheetColumn.isDefined) throw new UnsupportedOperationException(
      "sheetColumn is not supported by the streaming excel sink")
    new ExcelStreamingWrite(schema, opts)
  }

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    val conf = new SerializableConfiguration(
      SparkSession.active.sessionState.newHadoopConf())
    if (opts.shardedOutput)
      // shards stream straight into the target directory under hidden
      // temp names (no driver merge, no second copy); each task writes
      // its own header
      ExcelDataWriterFactory(schema, opts, opts.path, conf, sharded = true)
    else ExcelDataWriterFactory(schema, opts, tmpDir, conf)
  }

  private val queryId = java.util.UUID.randomUUID().toString.take(8)
  private def tmpDir: String = s"${opts.path}.__graft_tmp_$queryId"

  override def commit(messages: Array[WriterCommitMessage]): Unit =
    if (opts.shardedOutput) commitSharded(messages) else commitMerged(messages)

  /** Scale-out commit: rename every shard to its visible name — O(parts)
    * metadata operations, zero data movement. */
  private def commitSharded(messages: Array[WriterCommitMessage]): Unit = {
    val conf = SparkSession.active.sessionState.newHadoopConf()
    val dir = new Path(opts.path)
    val fs = dir.getFileSystem(conf)
    fs.mkdirs(dir)
    val existing = ExcelFiles.list(opts.path, conf)
    if (existing.nonEmpty) {
      if (truncate) existing.foreach(f => fs.delete(new Path(f), false))
      else throw new org.apache.spark.sql.AnalysisException(
        errorClass = "PATH_ALREADY_EXISTS",
        messageParameters = Map("outputPath" -> opts.path))
    }
    messages.collect { case m: ExcelShardCommitMessage => m }.foreach { m =>
      val target = new Path(dir, f"part-${m.partitionId}%05d.xlsx")
      if (!fs.rename(new Path(m.tempPath), target))
        throw new org.apache.spark.SparkException(
          s"Excel sharded sink failed to rename ${m.tempPath} to $target")
    }
    cleanupShardTemps(fs, dir) // losers of speculative/retried attempts
  }

  /** Remove leftover hidden shard temps (failed or speculative task
    * attempts whose commit message lost). Invisible to readers either
    * way; this keeps the directory from accumulating litter. */
  private def cleanupShardTemps(fs: org.apache.hadoop.fs.FileSystem,
      dir: Path): Unit =
    Option(fs.globStatus(new Path(dir, ".part-*.xlsx.inprogress")))
      .foreach(_.foreach(s => fs.delete(s.getPath, false)))

  private def commitMerged(messages: Array[WriterCommitMessage]): Unit = {
    val conf = SparkSession.active.sessionState.newHadoopConf()
    val target = new Path(opts.path)
    val fs = target.getFileSystem(conf)
    if (fs.exists(target)) {
      if (truncate) fs.delete(target, false)
      else throw new org.apache.spark.sql.AnalysisException(
        errorClass = "PATH_ALREADY_EXISTS",
        messageParameters = Map("outputPath" -> opts.path))
    }
    // stage under a dot-prefixed sibling and rename: a concurrent directory
    // reader never lists a half-written workbook
    val staging = new Path(target.getParent, s".${target.getName}.inprogress")
    val (sheets, names) = if (opts.sheetColumn.isEmpty) {
      val parts = messages.collect { case m: ExcelCommitMessage => m }
        .sortBy(_.partitionId)
      (Seq(opts.writeSheetName -> parts.toSeq), schema.fieldNames.toSeq)
    } else {
      // sheet-routed merge: one sheet per distinct routing value (sheet
      // order = sorted values — deterministic regardless of which task
      // saw a value first), each concatenating its segments in partition
      // order; data columns exclude the routing column
      val parts = messages.collect { case m: ExcelSheetCommitMessage => m }
        .sortBy(_.partitionId)
      val sheetNames = parts.flatMap(_.sheets.map(_._1)).distinct.sorted
      // Excel sheet names are case-INSENSITIVE: two routing values
      // differing only in case came from different tasks' rows and would
      // merge into a workbook Excel refuses to open (our reader would
      // still round-trip it — exactly the silent-corruption hazard).
      // Within one task the writer already rejects this at the first row.
      val caseCollisions = sheetNames
        .groupBy(_.toLowerCase(java.util.Locale.ROOT))
        .filter(_._2.size > 1)
      if (caseCollisions.nonEmpty)
        throw new org.apache.spark.SparkException(
          "sheetColumn values collide case-insensitively (Excel treats " +
            "sheet names as case-insensitive): " +
            caseCollisions.values.map(_.mkString(" / ")).mkString("; "))
      val bySheet = sheetNames.toSeq.map(s => s -> parts.toSeq.flatMap(m =>
        m.sheets.collect { case (`s`, path, seg) =>
          ExcelCommitMessage(m.partitionId, path, seg) }))
      // empty input: one empty sheet keeps the header contract
      (if (bySheet.isEmpty) Seq(opts.writeSheetName -> Nil) else bySheet,
        schema.fieldNames.toSeq.filterNot(_ == opts.sheetColumn.get))
    }
    try {
      val t0 = System.nanoTime()
      splicedBytes = ExcelWrite.splice(fs, staging, sheets, names, opts)
      spliceMs = (System.nanoTime() - t0) / 1000000L
    } catch { case e: Throwable => fs.delete(staging, false); throw e }
    finally fs.delete(new Path(tmpDir), true)
    if (!fs.rename(staging, target)) {
      fs.delete(staging, false)
      throw new org.apache.spark.SparkException(
        s"Excel sink failed to rename $staging to $target")
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val conf = SparkSession.active.sessionState.newHadoopConf()
    if (opts.shardedOutput) {
      val dir = new Path(opts.path)
      val fs = dir.getFileSystem(conf)
      messages.collect { case m: ExcelShardCommitMessage => m }
        .foreach(m => fs.delete(new Path(m.tempPath), false))
      if (fs.exists(dir)) cleanupShardTemps(fs, dir)
    } else {
      val fs = new Path(tmpDir).getFileSystem(conf)
      fs.delete(new Path(tmpDir), true)
    }
  }
}

object ExcelWrite {
  /** Header row on a FINAL workbook: bold when `headerBold` is set. */
  private[excel] def header(w: XlsxRowEncoder, names: Seq[String],
      opts: ExcelOptions): Unit =
    if (opts.headerBold) w.writeHeaderRow(names) else w.writeRow(names)

  /** Writes one workbook at `target` from the tasks' row segments: per
    * sheet, in the given order, the header row (with `opts.header`) and
    * then every segment's deflated bytes, copied as they are. Each sheet's
    * row total and each temp file's length are checked against the
    * commit messages before the first byte is written. `sheets` must be
    * non-empty. Returns the number of segment bytes spliced. */
  private[excel] def splice(fs: FileSystem, target: Path,
      sheets: Seq[(String, Seq[ExcelCommitMessage])], names: Seq[String],
      opts: ExcelOptions): Long = {
    val headerRows = if (opts.header) 1L else 0L
    sheets.foreach { case (sheet, parts) =>
      if (headerRows + parts.map(_.segment.rows).sum > XlsxWriter.MaxRowsPerSheet)
        throw XlsxWriter.rowLimitExceeded(sheet)
      parts.foreach { p =>
        val len = fs.getFileStatus(new Path(p.tempPath)).getLen
        if (len != p.segment.deflatedBytes)
          throw new org.apache.spark.SparkException(
            s"Excel sink: temp segment ${p.tempPath} of partition " +
              s"${p.partitionId} holds $len bytes but its task committed " +
              s"${p.segment.deflatedBytes}; refusing to splice a truncated " +
              "or altered segment")
      }
    }
    val w = new XlsxWriter(fs.create(target, true), sheets.head._1,
      opts.widthsFor(names))
    try sheets.zipWithIndex.foreach { case ((sheet, parts), i) =>
      if (i > 0) w.startSheet(sheet)
      if (opts.header) header(w, names, opts)
      parts.foreach { p =>
        val in = fs.open(new Path(p.tempPath))
        try w.appendSegment(in, p.segment) finally in.close()
      }
    } finally w.close()
    sheets.map(_._2.map(_.segment.deflatedBytes).sum).sum
  }

  private val ForbiddenSheetChars = ":\\/?*[]"

  /** Excel's own sheet-name rules, enforced at write time so a bad name
    * (fixed via `sheetName` or data-dependent via `sheetColumn`) fails the
    * job with a clear message instead of producing a workbook Excel
    * refuses to open — our reader round-trips such names fine, which is
    * exactly why they'd otherwise slip through. */
  private[excel] def validateSheetName(name: String, source: String): Unit = {
    def fail(reason: String): Nothing =
      throw new org.apache.spark.SparkException(
        s"Invalid Excel sheet name '$name' from $source: $reason " +
          "(Excel requires 1-31 chars, none of : \\ / ? * [ ], and no " +
          "leading/trailing apostrophe)")
    if (name.isEmpty) fail("sheet names must be non-empty")
    if (name.length > 31) fail(s"${name.length} chars exceeds Excel's 31-char limit")
    name.find(ForbiddenSheetChars.contains(_)).foreach(c =>
      fail(s"character '$c' is forbidden"))
    if (name.startsWith("'") || name.endsWith("'"))
      fail("sheet names cannot begin or end with an apostrophe")
  }
}

/** Merged-write commit: this task's row segment, spliced at the driver. */
case class ExcelCommitMessage(partitionId: Int, tempPath: String,
    segment: XlsxWriter.Segment) extends WriterCommitMessage

/** Sharded-write commit: this task's finished shard, renamed at the driver. */
case class ExcelShardCommitMessage(partitionId: Int, tempPath: String)
    extends WriterCommitMessage

/** Sheet-routing commit: this task's (sheet value, temp segment, segment)
  * triples, sheet-sorted. */
case class ExcelSheetCommitMessage(partitionId: Int,
    sheets: Seq[(String, String, XlsxWriter.Segment)])
    extends WriterCommitMessage

/** DSv2 write metrics: per task (summed over tasks) the rows and the
  * compressed bytes written; on the driver the splice's time and bytes. */
object ExcelWriteMetrics {
  val RowsWritten = "rowsWritten"
  val BytesWritten = "bytesWritten"
  val SpliceTimeMs = "spliceTimeMs"
  val SplicedBytes = "splicedBytes"

  def supported: Array[CustomMetric] = Array(new ExcelRowsWrittenMetric,
    new ExcelBytesWrittenMetric, new ExcelSpliceTimeMetric,
    new ExcelSplicedBytesMetric)

  def value(metric: String, v: Long): CustomTaskMetric = new CustomTaskMetric {
    override def name(): String = metric
    override def value(): Long = v
  }
}

// Spark re-creates a metric by class name to aggregate it, so each one is
// its own class with a no-argument constructor.
abstract class ExcelSumMetric(metric: String, text: String) extends CustomSumMetric {
  override def name(): String = metric
  override def description(): String = text
}
class ExcelRowsWrittenMetric
    extends ExcelSumMetric(ExcelWriteMetrics.RowsWritten, "rows written")
class ExcelBytesWrittenMetric extends ExcelSumMetric(
  ExcelWriteMetrics.BytesWritten, "compressed bytes written by tasks")
class ExcelSpliceTimeMetric
    extends ExcelSumMetric(ExcelWriteMetrics.SpliceTimeMs, "driver splice time (ms)")
class ExcelSplicedBytesMetric
    extends ExcelSumMetric(ExcelWriteMetrics.SplicedBytes, "bytes spliced by the driver")

class ExcelStreamingWrite(schema: StructType, opts: ExcelOptions)
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {
  import org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory

  private def tmpDir(epochId: Long): String =
    s"${opts.path}/.__graft_stream_tmp_$epochId"

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory = {
    val conf = new SerializableConfiguration(
      SparkSession.active.sessionState.newHadoopConf())
    ExcelStreamingWriterFactory(schema, opts, conf)
  }

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val conf = SparkSession.active.sessionState.newHadoopConf()
    val outDir = new Path(opts.path)
    val fs = outDir.getFileSystem(conf)
    fs.mkdirs(outDir)
    if (opts.shardedOutput) {
      // scale-out epochs: every task's shard renames into place —
      // batch-<epoch>-part-<partition>.xlsx. Idempotent on epoch replay:
      // any earlier attempt's shards for this epoch are removed first.
      Option(fs.globStatus(new Path(outDir, f"batch-$epochId%05d-part-*.xlsx")))
        .foreach(_.foreach(s => fs.delete(s.getPath, false)))
      messages.collect { case m: ExcelShardCommitMessage => m }.foreach { m =>
        val target = new Path(outDir,
          f"batch-$epochId%05d-part-${m.partitionId}%05d.xlsx")
        if (!fs.rename(new Path(m.tempPath), target))
          throw new org.apache.spark.SparkException(
            s"Excel streaming sink failed to rename ${m.tempPath} to $target")
      }
      fs.delete(new Path(tmpDir(epochId)), true)
      return
    }
    val target = new Path(outDir, f"batch-$epochId%05d.xlsx")
    // write under a dot-prefixed name (invisible to ExcelFiles.list) and
    // rename into place, so a concurrent excel streaming reader can never
    // admit a half-written workbook into an offset
    val staging = new Path(outDir, f".batch-$epochId%05d.xlsx.inprogress")
    val parts = messages.collect { case m: ExcelCommitMessage => m }
      .sortBy(_.partitionId)
    try ExcelWrite.splice(fs, staging, Seq(opts.writeSheetName -> parts.toSeq),
      schema.fieldNames.toSeq, opts)
    catch { case e: Throwable => fs.delete(staging, false); throw e }
    finally fs.delete(new Path(tmpDir(epochId)), true)
    if (fs.exists(target)) fs.delete(target, false) // epoch replay: idempotent
    if (!fs.rename(staging, target)) {
      fs.delete(staging, false)
      throw new org.apache.spark.SparkException(
        s"Excel streaming sink failed to rename $staging to $target")
    }
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val conf = SparkSession.active.sessionState.newHadoopConf()
    val fs = new Path(opts.path).getFileSystem(conf)
    fs.delete(new Path(tmpDir(epochId)), true)
  }
}

case class ExcelStreamingWriterFactory(schema: StructType, opts: ExcelOptions,
    conf: SerializableConfiguration)
    extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new ExcelDataWriter(schema, opts,
      s"${opts.path}/.__graft_stream_tmp_$epochId", partitionId, taskId,
      conf.value, sharded = opts.shardedOutput)
}

case class ExcelDataWriterFactory(schema: StructType, opts: ExcelOptions,
    tmpDir: String, conf: SerializableConfiguration,
    sharded: Boolean = false) extends DataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new ExcelDataWriter(schema, opts, tmpDir, partitionId, taskId, conf.value,
      sharded)
}

/** Streams one partition to the target FS: in sharded mode a finished
  * workbook under a hidden name (its own header, styles applied); else a
  * headerless row segment ([[XlsxRowSegment]]) for the driver's splice.
  *
  * With `sheetColumn`, the task instead keeps one segment open PER
  * routing value seen (a segment streams forward only, so interleaved
  * values need separate files) and the commit message lists each value's
  * segments; the driver splices each value's segments in partition order
  * under one sheet. */
class ExcelDataWriter(schema: StructType, opts: ExcelOptions, tmpDir: String,
    partitionId: Int, taskId: Long,
    conf: org.apache.hadoop.conf.Configuration,
    sharded: Boolean = false) extends DataWriter[InternalRow] {

  private val sheetColIdx: Int =
    opts.sheetColumn.map(schema.fieldIndex).getOrElse(-1)

  private val fs = new Path(tmpDir).getFileSystem(conf)
  private var closed = false
  private var rowsWritten = 0L

  // single-workbook mode state (sheetColumn unset): exactly one of these
  private val tempPath =
    if (sheetColIdx >= 0) null
    else if (sharded) // hidden in-place temp, renamed at commit
      new Path(tmpDir, f".part-$partitionId%05d-$taskId.xlsx.inprogress")
    else new Path(tmpDir, f"part-$partitionId%05d-$taskId.deflate")
  private val shard =
    if (sheetColIdx >= 0 || !sharded) null
    else new XlsxWriter(fs.create(tempPath, true), opts.writeSheetName,
      opts.widthsFor(schema.fieldNames.toIndexedSeq))
  private val segment =
    if (sheetColIdx >= 0 || sharded) null
    else new XlsxRowSegment(fs.create(tempPath, true), opts.writeSheetName)
  private val writer: XlsxRowEncoder = if (shard != null) shard else segment
  if (shard != null && opts.header)
    ExcelWrite.header(shard, schema.fieldNames.toIndexedSeq, opts)

  // sheet-routing mode state: value → (segment, temp path), kept in LRU
  // order (a get re-inserts). Open segments are capped at
  // opts.maxOpenSheetWriters: past the cap the least-recently-used one is
  // closed and parked in `finishedSegments`; a value that reappears opens
  // a fresh temp segment, and the driver splices a sheet's segments in
  // emission order.
  private val routed =
    scala.collection.mutable.LinkedHashMap.empty[String, (XlsxRowSegment, Path)]
  private val finishedSegments = scala.collection.mutable.ArrayBuffer
    .empty[(String, String, XlsxWriter.Segment)]
  private var finishedBytes = 0L
  // case-insensitive collision guard: Excel sheet names are
  // case-insensitive, so "Foo" and "foo" routing values would produce a
  // workbook Excel rejects; fail at the first offending row instead
  private val lowerSeen = scala.collection.mutable.HashMap.empty[String, String]
  private var segmentSeq = 0
  private def routedWriter(sheet: String): XlsxRowSegment =
    routed.remove(sheet) match {
      case Some(entry) => routed.put(sheet, entry); entry._1 // LRU refresh
      case None =>
        ExcelWrite.validateSheetName(sheet,
          s"sheetColumn '${opts.sheetColumn.get}' row value")
        val lower = sheet.toLowerCase(java.util.Locale.ROOT)
        lowerSeen.get(lower).filter(_ != sheet).foreach(prev =>
          throw new org.apache.spark.SparkException(
            s"sheetColumn values '$prev' and '$sheet' collide " +
              "case-insensitively (Excel treats sheet names as " +
              "case-insensitive)"))
        lowerSeen.update(lower, sheet)
        if (routed.size >= opts.maxOpenSheetWriters) {
          val (lruSheet, (w, p)) = routed.head
          val seg = w.close()
          finishedSegments += ((lruSheet, p.toString, seg))
          finishedBytes += seg.deflatedBytes
          routed.remove(lruSheet)
        }
        val p = new Path(tmpDir,
          f"part-$partitionId%05d-$taskId-s$segmentSeq.deflate")
        segmentSeq += 1
        val w = new XlsxRowSegment(fs.create(p, true), sheet)
        routed.put(sheet, (w, p))
        w
    }

  private def mkGetter(f: StructField, i: Int): InternalRow => Any = {
    val g: InternalRow => Any = f.dataType match {
      case StringType => r => r.getUTF8String(i).toString
      case IntegerType => r => java.lang.Long.valueOf(r.getInt(i).toLong)
      case LongType => r => java.lang.Long.valueOf(r.getLong(i))
      case DoubleType => r => java.lang.Double.valueOf(r.getDouble(i))
      case FloatType => r => java.lang.Double.valueOf(r.getFloat(i).toDouble)
      case BooleanType => r => java.lang.Boolean.valueOf(r.getBoolean(i))
      case DateType => r => LocalDate.ofEpochDay(r.getInt(i).toLong)
      case TimestampType => r => LocalDateTime.ofInstant(
        // microsToInstant, overflow-safe: micros*1000 as nanos overflows a
        // Long past ~2262 even though Excel serials reach 9999
        org.apache.spark.sql.catalyst.util.DateTimeUtils.microsToInstant(r.getLong(i)),
        ZoneOffset.UTC)
      case other => throw new UnsupportedOperationException(other.toString)
    }
    (r: InternalRow) => if (r.isNullAt(i)) null else g(r)
  }

  /** Getters over the DATA columns: everything except the routing column. */
  private val getters: Array[InternalRow => Any] =
    schema.fields.zipWithIndex
      .filter { case (_, i) => i != sheetColIdx }
      .map { case (f, i) => mkGetter(f, i) }

  // reusable row buffer: the hot write loop allocates nothing per row
  // beyond the boxed cell values themselves (XlsxWriter consumes the
  // values synchronously, so handing it the same wrapper each call is safe)
  private val rowBuf = new Array[Any](getters.length)
  private val rowView: collection.Seq[Any] =
    scala.collection.mutable.ArraySeq.make(rowBuf)

  private def fillRowBuf(row: InternalRow): Unit = {
    var i = 0
    while (i < getters.length) { rowBuf(i) = getters(i)(row); i += 1 }
  }

  override def write(row: InternalRow): Unit = {
    if (sheetColIdx < 0) { fillRowBuf(row); writer.writeRow(rowView) }
    else {
      if (row.isNullAt(sheetColIdx))
        throw new org.apache.spark.SparkException(
          s"sheetColumn '${opts.sheetColumn.get}' is null for a row; " +
            "null sheet names are not representable — filter or fill first")
      val w = routedWriter(row.getUTF8String(sheetColIdx).toString)
      fillRowBuf(row)
      w.writeRow(rowView)
    }
    rowsWritten += 1
  }

  /** Spark reads the task metrics once more after this and before
    * `commit()`; finishing the files here makes that last reading exact. */
  override def writeAll(rows: java.util.Iterator[InternalRow]): Unit = {
    while (rows.hasNext) write(rows.next())
    closeAll()
  }

  override def currentMetricsValues(): Array[CustomTaskMetric] = {
    val bytes =
      if (writer != null) writer.bytesWritten
      else finishedBytes + routed.values.map(_._1.bytesWritten).sum
    Array(ExcelWriteMetrics.value(ExcelWriteMetrics.RowsWritten, rowsWritten),
      ExcelWriteMetrics.value(ExcelWriteMetrics.BytesWritten, bytes))
  }

  override def commit(): WriterCommitMessage = {
    closeAll()
    if (shard != null) ExcelShardCommitMessage(partitionId, tempPath.toString)
    else if (segment != null)
      ExcelCommitMessage(partitionId, tempPath.toString, segment.close())
    else ExcelSheetCommitMessage(partitionId,
      // evicted segments first, then still-open ones; the sort is stable,
      // so a sheet's segments stay in emission (= row) order
      (finishedSegments.toSeq ++ routed.map { case (s, (w, p)) =>
        (s, p.toString, w.close()) }).sortBy(_._1))
  }

  override def abort(): Unit = {
    closeAll()
    if (sheetColIdx < 0) fs.delete(tempPath, false)
    else {
      routed.values.foreach { case (_, p) => fs.delete(p, false) }
      finishedSegments.foreach { case (_, p, _) => fs.delete(new Path(p), false) }
    }
  }

  override def close(): Unit = closeAll()

  private def closeAll(): Unit = if (!closed) {
    if (shard != null) shard.close()
    if (segment != null) segment.close()
    routed.values.foreach(_._1.close())
    closed = true
  }
}
