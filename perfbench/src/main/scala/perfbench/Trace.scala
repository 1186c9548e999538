package perfbench

import java.io.{File, InputStream, OutputStream}
import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

import graft.sources.excel._

/** One traced interval. Times are epoch milliseconds; `parent` 0 is a root.
  * `attrs` holds the counts recorded at the same boundary. */
final case class Span(id: Long, parent: Long, kind: String, name: String,
    startMs: Double, endMs: Double, attrs: Map[String, Double] = Map.empty) {
  def durMs: Double = endMs - startMs
}

/** Spans kept in memory and written out when the run ends. */
final class Tracer {
  private val ids = new AtomicLong
  private val buf = ArrayBuffer.empty[Span]
  def newId(): Long = ids.incrementAndGet()
  def add(s: Span): Unit = buf.synchronized(buf += s)
  def spans: Seq[Span] = buf.synchronized(buf.toSeq)

  /** Time `body` as a span under `parent`; `attrs` may read its result. */
  def span[T](kind: String, name: String, parent: Long)(body: => T)(
      attrs: T => Map[String, Double] = (_: T) => Map.empty[String, Double]): T = {
    val id = newId()
    val t0 = now()
    val out = body
    add(Span(id, parent, kind, name, t0, now(), attrs(out)))
    out
  }

  def now(): Double = System.currentTimeMillis().toDouble

  /** A span's duration minus the part of it its children cover. */
  def selfTimes(): Map[Long, Double] = {
    val all = spans
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val covered = union(kids.getOrElse(s.id, Nil).map(c =>
        (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs))))
      s.id -> (s.durMs - covered)
    }.toMap
  }

  def union(intervals: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var end = Double.NegativeInfinity
    intervals.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (a, b) =>
      if (a > end) { total += b - a; end = b }
      else if (b > end) { total += b - end; end = b }
    }
    total
  }
}

/** Job, stage and task spans, parented to the op repeat whose span id the
  * submitting thread carried in the `perfbench.span` local property. */
final class TraceListener(tracer: Tracer) extends SparkListener {
  private val jobSpan = mutable.Map.empty[Int, (Long, Long, Double)] // job → (id, parent, start)
  private val stageJob = mutable.Map.empty[Int, Long]                 // stage → job span id
  private val stageSpan = mutable.Map.empty[(Int, Int), Long]         // (stage, attempt) → id
  private val stageSubmit = mutable.Map.empty[(Int, Int), Double]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val parent = Option(e.properties).flatMap(p => Option(p.getProperty(Traced.SpanProperty)))
      .map(_.toLong).getOrElse(0L)
    val id = tracer.newId()
    jobSpan(e.jobId) = (id, parent, e.time.toDouble)
    e.stageIds.foreach(s => stageJob(s) = id)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.remove(e.jobId).foreach { case (id, parent, start) =>
      tracer.add(Span(id, parent, "job", "job", start, e.time.toDouble))
    }
  }

  private def stageSpanId(s: StageInfo): Long =
    stageSpan.getOrElseUpdate((s.stageId, s.attemptNumber()), tracer.newId())

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val s = e.stageInfo
    stageSpanId(s)
    stageSubmit((s.stageId, s.attemptNumber())) =
      s.submissionTime.map(_.toDouble).getOrElse(tracer.now())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = e.stageInfo
    val key = (s.stageId, s.attemptNumber())
    tracer.add(Span(stageSpanId(s), stageJob.getOrElse(s.stageId, 0L), "stage", "stage",
      stageSubmit.getOrElse(key, s.submissionTime.fold(0.0)(_.toDouble)),
      s.completionTime.fold(tracer.now())(_.toDouble),
      Map("tasks" -> s.numTasks.toDouble)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val info = e.taskInfo
    val key = (e.stageId, e.stageAttemptId)
    val m = Option(e.taskMetrics)
    val submitted = stageSubmit.getOrElse(key, info.launchTime.toDouble)
    val deser = m.fold(0L)(_.executorDeserializeTime)
    tracer.add(Span(tracer.newId(), stageSpan.getOrElseUpdate(key, tracer.newId()), "task",
      "task", info.launchTime.toDouble, info.finishTime.toDouble, Map(
        "run_ms" -> m.fold(0.0)(_.executorRunTime.toDouble),
        "cpu_ms" -> m.fold(0.0)(_.executorCpuTime / 1e6),
        "gc_ms" -> m.fold(0.0)(_.jvmGCTime.toDouble),
        "records_read" -> m.fold(0.0)(_.inputMetrics.recordsRead.toDouble),
        "failed" -> (if (info.successful) 0.0 else 1.0),
        "scheduler_delay_ms" -> math.max(0.0, info.launchTime + deser - submitted))))
  }
}

/** The traced run: the same ops with spans at every layer boundary, the
  * listener on, per-op JVM readings, then driver-side calls into each
  * connector module on one representative workbook. */
object Traced {
  val SpanProperty = "perfbench.span"

  final case class Result(perLayer: Seq[(String, Double, String)], artifact: Json.Obj)

  def run(spark: SparkSession, corpus: Corpus, ops: Ops, args: Main.Args, outcome: Outcome,
      untraced: Seq[(String, Double, String)]): Result = {
    val tracer = new Tracer
    val listener = new TraceListener(tracer)
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs = gcBeans.map(_.getCollectionTime).sum.toDouble
    val repeats = ArrayBuffer.empty[(String, Span)]

    // an op repeat: its span id rides in a local property to the jobs it
    // submits (the stream's thread inherits it at start)
    val around: (Op, Int) => (() => Seq[Double]) => Seq[Double] = (op, _) => body => {
      val id = tracer.newId()
      heapPools.foreach(_.resetPeakUsage())
      val gc0 = gcMs
      sc.setLocalProperty(SpanProperty, id.toString)
      val t0 = tracer.now()
      try body()
      finally {
        val t1 = tracer.now()
        sc.setLocalProperty(SpanProperty, null)
        val span = Span(id, 0L, "op", op.name, t0, t1, Map(
          "heap_peak_mb" -> heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0,
          "gc_ms" -> (gcMs - gc0)))
        tracer.add(span)
        repeats += op.name -> span
      }
    }
    val samples = Measure.run(ops.all, args.seconds, outcome, around)
    PerfbenchBus.drain(sc)
    sc.removeSparkListener(listener)
    val tracedE2e = Measure.endToEnd(samples, untraced.head._2, ops.mergedBytes,
      corpus.shape.writeRows)

    val layers = outcome.attempt("layers")(new Layers(spark, corpus, ops, tracer).probe())
      .getOrElse(Nil)

    // ---- per-op spark and jvm readings from the spans
    val all = tracer.spans
    val byParent = all.groupBy(_.parent)
    def under(s: Span, kind: String): Seq[Span] = {
      val direct = byParent.getOrElse(s.id, Nil)
      direct.filter(_.kind == kind) ++ direct.flatMap(under(_, kind))
    }
    val perOp = repeats.groupBy(_._1).toSeq.sortBy(_._1).map { case (op, rs) =>
      val stats = rs.map(_._2).map { s =>
        val tasks = under(s, "task")
        val runs = tasks.map(_.attrs("run_ms"))
        val covered = tracer.union(tasks.map(t =>
          (math.max(t.startMs, s.startMs), math.min(t.endMs, s.endMs))))
        val lastJobEnd = under(s, "job").map(_.endMs).maxOption.getOrElse(s.startMs)
        Map(
          "jobs" -> under(s, "job").size.toDouble,
          "stages" -> under(s, "stage").size.toDouble,
          "tasks" -> tasks.size.toDouble,
          "task_run_ms" -> runs.sum,
          "task_cpu_ms" -> tasks.map(_.attrs("cpu_ms")).sum,
          "scheduler_delay_ms" -> mean(tasks.map(_.attrs("scheduler_delay_ms"))),
          "driver_ms" -> (s.durMs - covered),
          "slowest_task_share" -> (if (runs.isEmpty || runs.sum == 0) 0.0
            else runs.max / mean(runs)),
          "commit_ms" -> (s.endMs - lastJobEnd),
          "heap_peak_mb" -> s.attrs("heap_peak_mb"),
          "jvm_gc_ms" -> s.attrs("gc_ms"))
      }
      op -> stats.head.keys.map(k => k -> Measure.median(stats.map(_(k)).toSeq)).toMap
    }.toMap

    val metrics = ArrayBuffer.empty[(String, Double, String)]
    metrics ++= layers
    def opMetric(op: String, key: String) = perOp.get(op).fold(0.0)(_(key))
    Seq("merged" -> "write_merged", "sharded" -> "write_sharded").foreach { case (mode, op) =>
      metrics += ((s"ExcelWrite.$mode.task_ms", opMetric(op, "task_run_ms"), "ms"))
      metrics += ((s"ExcelWrite.$mode.commit_ms", opMetric(op, "commit_ms"), "ms"))
    }
    val shards = ops.shardedFiles
    metrics ++= Seq(
      ("ExcelWrite.merged.output_bytes", ops.mergedBytes.toDouble, "bytes"),
      ("ExcelWrite.merged.output_files", if (ops.mergedBytes > 0) 1.0 else 0.0, "count"),
      ("ExcelWrite.sharded.output_bytes", shards.map(_.length).sum.toDouble, "bytes"),
      ("ExcelWrite.sharded.output_files", shards.size.toDouble, "count"))
    metrics ++= streamMetrics(ops)
    val sparkKeys = Seq("jobs" -> "count", "stages" -> "count", "tasks" -> "count",
      "task_run_ms" -> "ms", "task_cpu_ms" -> "ms", "scheduler_delay_ms" -> "ms",
      "driver_ms" -> "ms", "slowest_task_share" -> "ratio")
    ops.all.map(_.name).foreach { op =>
      // schema inference runs on the driver alone: only its driver time
      val keys = if (op == "infer") sparkKeys.filter(_._1 == "driver_ms") else sparkKeys
      keys.foreach { case (k, u) => metrics += ((s"spark.$op.$k", opMetric(op, k), u)) }
    }
    // totals over every task of the traced pass
    val allTasks = all.filter(_.kind == "task")
    metrics += (("spark.gc_ms", allTasks.map(_.attrs("gc_ms")).sum, "ms"))
    metrics += (("spark.task_failures", allTasks.map(_.attrs("failed")).sum, "count"))
    ops.all.map(_.name).foreach { op =>
      metrics += ((s"jvm.$op.heap_peak_mb", opMetric(op, "heap_peak_mb"), "MB"))
      metrics += ((s"jvm.$op.gc_ms", opMetric(op, "jvm_gc_ms"), "ms"))
    }

    val self = tracer.selfTimes()
    val selfByName = all.groupBy(s => s"${s.kind}:${s.name}").toSeq.sortBy(_._1).map {
      case (k, ss) => k -> Json.obj("spans" -> ss.size, "total_ms" -> ss.map(_.durMs).sum,
        "self_ms" -> ss.map(s => self(s.id)).sum)
    }
    val untracedBy = untraced.map(m => m._1 -> m._2).toMap
    val overhead = tracedE2e.filter(_._1 != "setup_s").map { case (n, v, u) =>
      n -> Json.obj("untraced" -> untracedBy(n), "traced" -> v,
        "traced_minus_untraced" -> (v - untracedBy(n)), "unit" -> u)
    }
    Result(metrics.toSeq, Json.obj(
      "per_layer" -> Json.metrics(metrics.toSeq),
      "per_op" -> Json.obj(perOp.toSeq.sortBy(_._1).map { case (op, m) =>
        op -> Json.obj(m.toSeq.sortBy(_._1): _*) }: _*),
      "tracing_overhead" -> Json.obj(overhead: _*),
      "self_time_by_span" -> Json.obj(selfByName: _*),
      "spans" -> all.sortBy(_.id).map(s => Json.obj("id" -> s.id, "parent" -> s.parent,
        "kind" -> s.kind, "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "self_ms" -> self(s.id), "attrs" -> Json.obj(s.attrs.toSeq.sortBy(_._1): _*)))))
  }

  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Per-trigger durations of the last traced drain, from each progress
    * report's `durationMs`, and the size of its first and last offset. */
  private def streamMetrics(ops: Ops): Seq[(String, Double, String)] = {
    val (batches, ckpt) = ops.lastStream
    val keys = Seq("latestOffset" -> "latestOffset", "queryPlanning" -> "planning",
      "getBatch" -> "getBatch", "addBatch" -> "addBatch", "walCommit" -> "walCommit",
      "commitOffsets" -> "commitOffsets")
    val durations = keys.flatMap { case (key, name) =>
      val xs = batches.map(b => Option(b.durationMs.get(key)).fold(0.0)(_.doubleValue()))
      Seq((s"ExcelMicroBatchStream.${name}_ms_p50", Measure.median(xs), "ms"),
        (s"ExcelMicroBatchStream.${name}_ms_max", if (xs.isEmpty) 0.0 else xs.max, "ms"))
    }
    val offsets = Option(ckpt).map(new File(_, "offsets"))
      .flatMap(d => Option(d.listFiles())).toSeq.flatten
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
    durations ++ Seq(
      ("ExcelMicroBatchStream.batches", batches.size.toDouble, "count"),
      ("ExcelMicroBatchStream.rows_per_batch",
        if (batches.isEmpty) 0.0 else batches.map(_.numInputRows).sum.toDouble / batches.size, "rows"),
      ("ExcelMicroBatchStream.offset_bytes_first", offsets.headOption.fold(0.0)(_.length.toDouble), "bytes"),
      ("ExcelMicroBatchStream.offset_bytes_last", offsets.lastOption.fold(0.0)(_.length.toDouble), "bytes"))
  }
}

/** Driver-side timed calls into the connector's modules on the workload's
  * representative workbook (the split-scan one). Each call is a span under
  * one `layers` root; each probe repeats [[Layers.Repeats]] times and the
  * median counts. */
final class Layers(spark: SparkSession, corpus: Corpus, ops: Ops, tracer: Tracer) {
  private val conf = spark.sessionState.newHadoopConf()
  private val file = corpus.largeFile
  private val uri = file.toURI.toString
  private val schema: StructType = corpus.schema
  private val root = tracer.newId()

  private def timedMs[T](name: String)(body: => T)(attrs: T => Map[String, Double] =
      (_: T) => Map.empty[String, Double]): (T, Double) = {
    val t0 = System.nanoTime()
    val out = tracer.span("layer", name, root)(body)(attrs)
    (out, (System.nanoTime() - t0) / 1e6)
  }

  private def medianOf(f: => Double): Double =
    Measure.median((1 to Layers.Repeats).map(_ => f))

  private def withReader[T](f: XlsxReader => T): T = {
    val r = new XlsxReader(file)
    try f(r) finally r.close()
  }

  def probe(): Seq[(String, Double, String)] = {
    val t0 = tracer.now()
    val openMs = medianOf(timedMs("XlsxReader.open")(new XlsxReader(file).close())()._2)

    var rows = 0L
    var cells = 0L
    val iterMs = medianOf(withReader { r =>
      val sheet = r.resolveSheet("0")
      timedMs("XlsxReader.rowIterator") {
        val it = r.rowIterator(sheet)
        rows = 0L; cells = 0L
        while (it.hasNext) { cells += it.next().length; rows += 1 }
      }(_ => Map("rows" -> rows.toDouble, "cells" -> cells.toDouble))._2
    })
    val dataRows = rows - 1 // the header row
    val lastRowMs = medianOf(withReader { r =>
      val sheet = r.resolveSheet("0")
      timedMs("XlsxReader.lastRowNumber")(r.lastRowNumber(sheet, false))(n =>
        Map("last_row" -> n.toDouble))._2
    })

    val zip = new java.util.zip.ZipFile(file)
    val (sheetBytes, sstBytes, sstEntries, inflateMs) = try {
      def part(name: String, pattern: Array[Byte]): (Long, Long) =
        Option(zip.getEntry(name)).fold((0L, 0L))(e => Layers.drain(zip.getInputStream(e), pattern))
      val (sheet, _) = part("xl/worksheets/sheet1.xml", Array.emptyByteArray)
      val (sst, si) = part("xl/sharedStrings.xml", "<si>".getBytes("UTF-8"))
      val ms = medianOf(timedMs("zip.inflate")(part("xl/worksheets/sheet1.xml",
        Array.emptyByteArray))(b => Map("bytes" -> b._1.toDouble))._2)
      (sheet, sst, si, ms)
    } finally zip.close()

    val readOpts = ExcelOptions.fromMap(Map("path" -> uri))
    val inferMs = medianOf(timedMs("ExcelSchema.inferFromFile")(
      ExcelSchema.inferFromFile(uri, readOpts, conf))()._2)

    var listed = 0
    val listMs = medianOf(timedMs("ExcelFiles.list")(
      ExcelFiles.list(corpus.scanDir.getPath, conf))(fs => { listed = fs.size
        Map("files" -> fs.size.toDouble) })._2)

    val splitOpts = ExcelOptions.fromMap(Map("path" -> uri,
      "maxRowsPerPartition" -> ops.maxRowsPerPartition.toString))
    var parts: Seq[ExcelInputPartition] = Nil
    val planMs = medianOf(timedMs("ExcelSplitPlanner.plan")(
      ExcelSplitPlanner.plan(Seq(uri), splitOpts, conf))(p => {
        parts = p.toSeq.map(_.asInstanceOf[ExcelInputPartition])
        Map("partitions" -> p.length.toDouble) })._2)
    // rows a split tokenizes and skips before its start row
    val reparsed = parts.map(p => math.max(0L, p.startRow - 1L)).sum

    def readerNsPerRow(name: String, required: StructType): Double = medianOf {
      val rd = new ExcelPartitionReader(uri, schema, required, readOpts, -1, conf)
      try {
        var n = 0L
        val (_, ms) = timedMs(name) {
          while (rd.next()) { rd.get(); n += 1 }
        }(_ => Map("rows" -> n.toDouble))
        if (n != dataRows) throw new CheckFailed(s"$name read $n rows, expected $dataRows")
        ms * 1e6 / n
      } finally rd.close()
    }
    val allNs = readerNsPerRow("ExcelPartitionReader.all", schema)
    val oneNs = readerNsPerRow("ExcelPartitionReader.one_col",
      StructType(Seq(schema(corpus.shape.projectCol))))

    val writeRows = corpus.shape.writeRows
    val rowsToWrite = (0 until writeRows).map(i =>
      corpus.table.row(corpus.seed, Corpus.WriteBase + i).toSeq)
    var written = 0L
    val writeMs = medianOf {
      val counter = new Layers.CountingStream
      timedMs("XlsxWriter.writeRow") {
        val w = new XlsxWriter(counter)
        w.writeHeaderRow(schema.fieldNames.toSeq)
        rowsToWrite.foreach(w.writeRow)
        w.close()
      }(_ => { written = counter.count; Map("bytes" -> counter.count.toDouble) })._2
    }

    tracer.add(Span(root, 0L, "op", "layers", t0, tracer.now()))
    Seq(
      ("XlsxReader.open_ms", openMs, "ms"),
      ("XlsxReader.rowIterator_ns_per_row", iterMs * 1e6 / rows, "ns/row"),
      ("XlsxReader.lastRowNumber_ms", lastRowMs, "ms"),
      ("zip.inflate_ns_per_row", inflateMs * 1e6 / rows, "ns/row"),
      ("XlsxReader.rows", rows.toDouble, "count"),
      ("XlsxReader.cells", cells.toDouble, "count"),
      ("XlsxReader.sheet_bytes", sheetBytes.toDouble, "bytes"),
      ("XlsxReader.sst_entries", sstEntries.toDouble, "count"),
      ("XlsxReader.sst_bytes", sstBytes.toDouble, "bytes"),
      ("ExcelSchema.inferFromFile_ms", inferMs, "ms"),
      ("ExcelFiles.list_ms", listMs, "ms"),
      ("ExcelFiles.files", listed.toDouble, "count"),
      ("ExcelSplitPlanner.plan_ms", planMs, "ms"),
      ("ExcelSplitPlanner.partitions", parts.size.toDouble, "count"),
      ("ExcelSplitPlanner.reparsed_rows", reparsed.toDouble, "count"),
      ("ExcelSplitPlanner.useful_row_ratio", dataRows.toDouble / (dataRows + reparsed), "ratio"),
      ("ExcelPartitionReader.all_ns_per_row", allNs, "ns/row"),
      ("ExcelPartitionReader.one_col_ns_per_row", oneNs, "ns/row"),
      ("ExcelPartitionReader.useful_cell_ratio", dataRows.toDouble / (cells - schema.length), "ratio"),
      ("XlsxWriter.writeRow_ns_per_row", writeMs * 1e6 / writeRows, "ns/row"),
      ("XlsxWriter.bytes_per_row", written.toDouble / writeRows, "bytes"))
  }
}

object Layers {
  val Repeats = 3

  /** Inflate a ZIP part to the end; returns (bytes, occurrences of
    * `pattern`, which may be empty). */
  def drain(in: InputStream, pattern: Array[Byte]): (Long, Long) = {
    val buf = new Array[Byte](1 << 16)
    var total = 0L
    var hits = 0L
    var matched = 0
    try {
      var n = in.read(buf)
      while (n >= 0) {
        total += n
        if (pattern.nonEmpty) {
          var i = 0
          while (i < n) {
            if (buf(i) == pattern(matched)) {
              matched += 1
              if (matched == pattern.length) { hits += 1; matched = 0 }
            } else matched = if (buf(i) == pattern(0)) 1 else 0
            i += 1
          }
        }
        n = in.read(buf)
      }
    } finally in.close()
    (total, hits)
  }

  final class CountingStream extends OutputStream {
    var count = 0L
    override def write(b: Int): Unit = count += 1
    override def write(b: Array[Byte], off: Int, len: Int): Unit = count += len
  }
}
