package graft.sources.excel

import org.apache.hadoop.fs.{FileSystem, Path}

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.types._
import org.apache.spark.util.SerializableConfiguration

/** The Excel sink, batch and streaming, with a real commit protocol.
  *
  * The reference writer has none (bug B4: every task rewrites the same
  * `path`, last writer wins). Here a task writes in one of two modes:
  *  - merged (the default): it encodes and deflates its partition's rows,
  *    in parallel with the other tasks, into one row segment per sheet
  *    ([[XlsxRowSegment]]). Without `sheetColumn` that is one segment for
  *    the sheet `sheetName`; with it, one per routing value.
  *  - sharded (`shardedOutput`): it writes one finished workbook, with
  *    its own header.
  * Tasks stage their files under one hidden temp dir next to the output:
  * `.__graft_tmp_<queryId>` for a batch write, `.__graft_stream_tmp_<epoch>`
  * for an epoch.
  *
  * The driver publishes every write in one order (`ExcelWrite.publish`):
  * stage the new output (merged: splice the segments, sheet by sheet in
  * partition order, into one staging workbook in the temp dir; sharded:
  * the tasks' workbooks as they are), then delete the output it replaces,
  * then rename the staged files to their visible names, then delete the
  * temp dir. A commit that fails before the renames leaves the previous
  * output as it was; `abort` only deletes the temp dir.
  *
  * Batch and streaming differ only in names and in what they replace. A
  * batch write publishes `path` (merged) or `path/part-NNNNN.xlsx`
  * (sharded) and replaces an existing output on overwrite, failing with
  * `PATH_ALREADY_EXISTS` otherwise. An epoch publishes
  * `path/batch-<epoch>.xlsx` or `path/batch-<epoch>-part-NNNNN.xlsx` and
  * replaces whatever an earlier attempt of the same epoch published, so
  * replaying an epoch is idempotent.
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
    ExcelDataWriter.cells(schema, -1) // fails on a column type the sink cannot write
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
    extends Write with BatchWrite with StreamingWrite {

  override def toBatch: BatchWrite = this

  /** Streaming sink: `path` is a DIRECTORY of epoch-named workbooks. The
    * reference has no streaming sink at all; this composes with the
    * directory reader so excel→transform→excel streams round-trip. */
  override def toStreaming: StreamingWrite = {
    if (opts.sheetColumn.isDefined) throw new UnsupportedOperationException(
      "sheetColumn is not supported by the streaming excel sink")
    this
  }

  // BatchWrite and StreamingWrite both default this to true; Scala needs it said once
  override def useCommitCoordinator(): Boolean = true

  override def supportedCustomMetrics(): Array[CustomMetric] =
    ExcelWriteMetrics.supported

  @volatile private var spliceMs = 0L
  @volatile private var splicedBytes = 0L

  override def reportDriverMetrics(): Array[CustomTaskMetric] = Array(
    ExcelWriteMetrics.value(ExcelWriteMetrics.SpliceTimeMs, spliceMs),
    ExcelWriteMetrics.value(ExcelWriteMetrics.SplicedBytes, splicedBytes))

  // one Hadoop conf per write for the driver's staging, commit and abort,
  // and one broadcast of it for the tasks: a streaming query asks for a
  // writer factory every epoch and gets the same broadcast each time
  private lazy val hadoopConf = SparkSession.active.sessionState.newHadoopConf()
  private lazy val confBroadcast = ExcelFiles.broadcastConf(hadoopConf)

  private val out = new Path(opts.path)
  private val queryId = java.util.UUID.randomUUID().toString.take(8)
  // the temp dirs sit, hidden, in the directory the output is renamed into
  private val batchTmp = new Path(if (opts.shardedOutput) out else out.getParent,
    s".__graft_tmp_$queryId")
  private val streamTmp = new Path(out, ".__graft_stream_tmp")
  private def epochTmp(epochId: Long) =
    new Path(ExcelWrite.epochTmp(streamTmp.toString, epochId))
  private def factory(tmp: Path) =
    ExcelDataWriterFactory(schema, opts, tmp.toString, confBroadcast)

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    factory(batchTmp)

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory = factory(streamTmp)

  override def commit(messages: Array[WriterCommitMessage]): Unit =
    publish(batchTmp, messages, out, p => f"part-$p%05d.xlsx") { fs =>
      val existing =
        if (!fs.exists(out)) Nil
        else if (opts.shardedOutput) ExcelFiles.list(opts.path, fs.getConf).map(new Path(_))
        else Seq(out)
      if (existing.nonEmpty && !truncate)
        throw new org.apache.spark.sql.AnalysisException(
          errorClass = "PATH_ALREADY_EXISTS",
          messageParameters = Map("outputPath" -> opts.path))
      existing
    }

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val batch = f"batch-$epochId%05d"
    publish(epochTmp(epochId), messages, new Path(out, s"$batch.xlsx"),
      p => f"$batch-part-$p%05d.xlsx") { fs =>
      // epoch replay: replace whatever an earlier attempt of it published
      Option(fs.globStatus(new Path(out, s"$batch{.xlsx,-part-*.xlsx}")))
        .toSeq.flatten.map(_.getPath)
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = deleteTmp(batchTmp)

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    deleteTmp(epochTmp(epochId))

  private def deleteTmp(tmp: Path): Unit =
    tmp.getFileSystem(hadoopConf).delete(tmp, true)

  /** The one publish sequence of every commit. Stages the new output in
    * `tmp`: a merged write's segments spliced into one workbook bound for
    * `target` (sheets in sorted order, one empty sheet for empty input), a
    * sharded write's workbooks bound for `path/<shardName(partition)>`.
    * Then deletes the files `replaced` names (it runs before staging, so
    * it may also refuse the write), renames the staged files into place,
    * and deletes `tmp`, whether or not the commit succeeded. */
  private def publish(tmp: Path, messages: Array[WriterCommitMessage],
      target: Path, shardName: Int => String)(
      replaced: FileSystem => Seq[Path]): Unit = {
    val fs = tmp.getFileSystem(hadoopConf)
    try {
      val old = replaced(fs)
      val staged = if (opts.shardedOutput) {
        messages.toSeq.collect { case m: ExcelShardCommitMessage =>
          new Path(m.tempPath) -> new Path(out, shardName(m.partitionId)) }
      } else {
        val parts = messages.toSeq.collect { case m: ExcelCommitMessage => m }
          .sortBy(_.partitionId)
        // one sheet per distinct name, in sorted order: deterministic
        // whichever task saw a routing value first
        val sheetNames = parts.flatMap(_.segments.map(_.sheet)).distinct.sorted
        // Excel sheet names are case-INSENSITIVE: two routing values
        // differing only in case, from one task's rows or from two, would
        // merge into a workbook Excel refuses to open (our reader would
        // still round-trip it — exactly the silent-corruption hazard).
        val caseCollisions = sheetNames
          .groupBy(_.toLowerCase(java.util.Locale.ROOT))
          .filter(_._2.size > 1)
        if (caseCollisions.nonEmpty)
          throw new org.apache.spark.SparkException(
            "sheetColumn values collide case-insensitively (Excel treats " +
              "sheet names as case-insensitive): " +
              caseCollisions.values.map(_.mkString(" / ")).mkString("; "))
        val sheets = sheetNames.map(s => s -> parts.map(m =>
          m.copy(segments = m.segments.filter(_.sheet == s))))
        val staging = new Path(tmp, s".${target.getName}.inprogress")
        val t0 = System.nanoTime()
        splicedBytes = ExcelWrite.splice(fs, staging,
          // empty input: one empty sheet keeps the header contract
          if (sheets.isEmpty) Seq(opts.writeSheetName -> Nil) else sheets,
          schema.fieldNames.toSeq.filterNot(opts.sheetColumn.contains), opts)
        spliceMs = (System.nanoTime() - t0) / 1000000L
        Seq(staging -> target)
      }
      old.foreach(fs.delete(_, false))
      if (opts.shardedOutput) fs.mkdirs(out)
      staged.foreach { case (from, to) =>
        if (!fs.rename(from, to)) throw new org.apache.spark.SparkException(
          s"Excel sink failed to rename $from to $to")
      }
    } finally fs.delete(tmp, true)
  }
}

object ExcelWrite {
  /** Header row on a FINAL workbook: bold when `headerBold` is set. */
  private[excel] def header(w: XlsxRowEncoder, names: Seq[String],
      opts: ExcelOptions): Unit =
    if (opts.headerBold) w.writeHeaderRow(names) else w.writeRow(names)

  /** A streaming task stages under `<tmp>_<epochId>`. */
  private[excel] def epochTmp(tmp: String, epochId: Long): String = s"${tmp}_$epochId"

  /** Writes one workbook at `target` from the tasks' row segments: per
    * sheet, in the given order, the header row (with `opts.header`) and
    * then every segment's deflated bytes, copied as they are. Each sheet's
    * row total and each temp file's length are checked against the
    * commit messages before the first byte is written. `sheets` must be
    * non-empty; each lists its own segments only. Returns the number of
    * segment bytes spliced. */
  private[excel] def splice(fs: FileSystem, target: Path,
      sheets: Seq[(String, Seq[ExcelCommitMessage])], names: Seq[String],
      opts: ExcelOptions): Long = {
    val headerRows = if (opts.header) 1L else 0L
    sheets.foreach { case (sheet, parts) =>
      if (headerRows + parts.flatMap(_.segments).map(_.segment.rows).sum >
          XlsxWriter.MaxRowsPerSheet)
        throw XlsxWriter.rowLimitExceeded(sheet)
      for (p <- parts; s <- p.segments) {
        val len = fs.getFileStatus(new Path(s.tempPath)).getLen
        if (len != s.segment.deflatedBytes)
          throw new org.apache.spark.SparkException(
            s"Excel sink: temp segment ${s.tempPath} of partition " +
              s"${p.partitionId} holds $len bytes but its task committed " +
              s"${s.segment.deflatedBytes}; refusing to splice a truncated " +
              "or altered segment")
      }
    }
    val w = new XlsxWriter(fs.create(target, true), sheets.head._1,
      opts.widthsFor(names))
    try sheets.zipWithIndex.foreach { case ((sheet, parts), i) =>
      if (i > 0) w.startSheet(sheet)
      if (opts.header) header(w, names, opts)
      for (p <- parts; s <- p.segments) {
        val in = fs.open(new Path(s.tempPath))
        try w.appendSegment(in, s.segment) finally in.close()
      }
    } finally w.close()
    sheets.flatMap(_._2.flatMap(_.segments)).map(_.segment.deflatedBytes).sum
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

/** One task's rows of one sheet: the temp file holding them deflated and
  * the totals the splice checks it against. */
case class ExcelSegment(sheet: String, tempPath: String, segment: XlsxWriter.Segment)

/** Merged-write commit: this task's row segments, sheet-sorted; one
  * sheet's segments in row order. Spliced at the driver. */
case class ExcelCommitMessage(partitionId: Int, segments: Seq[ExcelSegment])
    extends WriterCommitMessage

/** Sharded-write commit: this task's finished shard, renamed at the driver. */
case class ExcelShardCommitMessage(partitionId: Int, tempPath: String)
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

/** Builds every task's writer, batch and streaming alike; a streaming
  * task stages under its epoch's temp dir. The factory is serialized into
  * every task, so it holds the Hadoop conf only as a broadcast handle
  * ([[ExcelFiles.broadcastConf]]): the conf itself reaches each executor
  * once per write. */
case class ExcelDataWriterFactory(schema: StructType, opts: ExcelOptions,
    tmpDir: String, conf: Broadcast[SerializableConfiguration])
    extends DataWriterFactory with StreamingDataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new ExcelDataWriter(schema, opts, tmpDir, partitionId, taskId, conf.value.value)

  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new ExcelDataWriter(schema, opts, ExcelWrite.epochTmp(tmpDir, epochId),
      partitionId, taskId, conf.value.value)
}

/** Streams one partition into files under `tmpDir`, in one of two modes.
  * Sharded: one finished workbook (its own header, styles applied).
  * Merged: headerless row segments ([[XlsxRowSegment]]), one per sheet,
  * for the driver's splice. An unrouted write has the one sheet
  * `sheetName` and writes every row to its segment directly. With
  * `sheetColumn`, the task keeps one segment open PER routing value seen
  * (a segment streams forward only, so interleaved values need separate
  * files); the driver splices each value's segments in partition order
  * under one sheet. */
class ExcelDataWriter(schema: StructType, opts: ExcelOptions, tmpDir: String,
    partitionId: Int, taskId: Long,
    conf: org.apache.hadoop.conf.Configuration) extends DataWriter[InternalRow] {

  private val sheetColIdx: Int =
    opts.sheetColumn.map(schema.fieldIndex).getOrElse(-1)

  private val fs = new Path(tmpDir).getFileSystem(conf)
  private var closed = false
  private var rowsWritten = 0L

  private val temps = scala.collection.mutable.ArrayBuffer.empty[Path]
  private def newTemp(ext: String): Path = {
    val p = new Path(tmpDir, f"part-$partitionId%05d-$taskId-${temps.size}.$ext")
    temps += p
    p
  }

  private val shard =
    if (!opts.shardedOutput) null
    else new XlsxWriter(fs.create(newTemp("xlsx"), true), opts.writeSheetName,
      opts.widthsFor(schema.fieldNames.toIndexedSeq))
  if (shard != null && opts.header)
    ExcelWrite.header(shard, schema.fieldNames.toIndexedSeq, opts)

  // merged mode: sheet → open segment, kept in LRU order (a routed get
  // re-inserts). Open segments are capped at MaxOpenSheets:
  // past the cap the least-recently-used one is closed into `finished`; a
  // value that reappears opens a fresh temp segment, and the driver
  // splices a sheet's segments in emission order.
  private val open =
    scala.collection.mutable.LinkedHashMap.empty[String, (XlsxRowSegment, Path)]
  private val finished = scala.collection.mutable.ArrayBuffer.empty[ExcelSegment]
  private def finish(sheet: String): Unit = open.remove(sheet).foreach {
    case (w, p) => finished += ExcelSegment(sheet, p.toString, w.close())
  }
  private def openSegment(sheet: String): XlsxRowSegment = {
    if (open.size >= ExcelDataWriter.MaxOpenSheets) finish(open.head._1)
    val p = newTemp("deflate")
    val w = new XlsxRowSegment(fs.create(p, true), sheet)
    open.put(sheet, (w, p))
    w
  }

  /** The one encoder of an unrouted write (its shard or its one segment);
    * null when `sheetColumn` routes each row. */
  private val writer: XlsxRowEncoder =
    if (shard != null) shard
    else if (sheetColIdx < 0) openSegment(opts.writeSheetName)
    else null

  private def routedWriter(row: InternalRow): XlsxRowEncoder = {
    if (row.isNullAt(sheetColIdx))
      throw new org.apache.spark.SparkException(
        s"sheetColumn '${opts.sheetColumn.get}' is null for a row; " +
          "null sheet names are not representable — filter or fill first")
    val sheet = row.getUTF8String(sheetColIdx).toString
    open.remove(sheet) match {
      case Some(entry) => open.put(sheet, entry); entry._1 // LRU refresh
      case None =>
        ExcelWrite.validateSheetName(sheet,
          s"sheetColumn '${opts.sheetColumn.get}' row value")
        openSegment(sheet)
    }
  }

  private val cells = ExcelDataWriter.cells(schema, sheetColIdx)

  override def write(row: InternalRow): Unit = {
    val w = if (writer != null) writer else routedWriter(row)
    w.writeSparkRow(row, cells)
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
      if (shard != null) shard.bytesWritten
      else finished.map(_.segment.deflatedBytes).sum + open.values.map(_._1.bytesWritten).sum
    Array(ExcelWriteMetrics.value(ExcelWriteMetrics.RowsWritten, rowsWritten),
      ExcelWriteMetrics.value(ExcelWriteMetrics.BytesWritten, bytes))
  }

  override def commit(): WriterCommitMessage = {
    closeAll()
    if (shard != null) ExcelShardCommitMessage(partitionId, temps.head.toString)
    // evicted segments first, then the ones closed last; the sort is
    // stable, so a sheet's segments stay in emission (= row) order
    else ExcelCommitMessage(partitionId, finished.toSeq.sortBy(_.sheet))
  }

  override def abort(): Unit = {
    closeAll()
    temps.foreach(fs.delete(_, false))
  }

  override def close(): Unit = closeAll()

  private def closeAll(): Unit = if (!closed) {
    if (shard != null) shard.close()
    open.keys.toList.foreach(finish)
    closed = true
  }
}

object ExcelDataWriter {

  /** One typed cell call per data column (every column but `skip`), built
    * once per task from the column's Spark type: the value goes from its
    * typed getter to the encoder without boxing, and a string as Spark's
    * UTF-8 bytes. */
  private[excel] def cells(schema: StructType, skip: Int): Array[XlsxRowEncoder.Cell] =
    schema.fields.zipWithIndex.filter(_._2 != skip).map { case (f, i) =>
      val cell: XlsxRowEncoder.Cell = f.dataType match {
        case StringType => (w, r) => w.stringCell(r.getUTF8String(i))
        case IntegerType => (w, r) => w.longCell(r.getInt(i))
        case LongType => (w, r) => w.longCell(r.getLong(i))
        case DoubleType => (w, r) => w.doubleCell(r.getDouble(i))
        case FloatType => (w, r) => w.doubleCell(r.getFloat(i))
        case BooleanType => (w, r) => w.boolCell(r.getBoolean(i))
        case DateType => (w, r) => w.dateCell(r.getInt(i))
        case TimestampType => (w, r) => w.timestampCell(r.getLong(i))
        case other => throw new UnsupportedOperationException(
          s"Excel sink does not support column '${f.name}' of type $other")
      }
      (w: XlsxRowEncoder, r: InternalRow) => if (r.isNullAt(i)) w.nullCell() else cell(w, r)
    }

  /** Cap on the sheet segments one task keeps open when `sheetColumn`
    * routes rows. Each open segment holds a deflater and its buffers;
    * past the cap the least-recently-used one is closed (its rows are
    * complete, as xlsx streams forward only) and a value that reappears
    * opens a fresh segment, spliced in order at the driver commit. */
  private[excel] val MaxOpenSheets = 32
}
