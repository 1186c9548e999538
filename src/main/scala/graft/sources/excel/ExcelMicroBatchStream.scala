package graft.sources.excel

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset,
  ReadLimit, ReadMaxFiles, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types.StructType

/** Micro-batch file-discovery stream over a directory of xlsx files.
  *
  * The reference's stream reader (`/root/reference/src/pyspark_datasource/
  * excel/connector.py:206-277`) keeps its seen-set in driver memory and
  * ignores the `start`/`end` offsets it is handed (bugs B2/B3: restart
  * re-reads everything; double `latestOffset()` skips files). Here the
  * offset IS the state: a sorted list of every file visible at that point,
  * so `planInputPartitions(start, end)` = `end.files − start.files` is a
  * pure function of offsets — replayable from any checkpoint, no driver
  * state, exactly-once per file. Spark asks for the next offset only
  * through admission control, `latestOffset(start, limit)`; the plain
  * `latestOffset()` throws, as Spark's own `FileStreamSource` does.
  *
  * Offset size: exact offsets grow with the directory's lifetime file
  * count — fine for thousands of files, a real cost at millions (every
  * offset is serialized into the checkpoint log each batch). The opt-in
  * `maxFileAgeMs` retention window bounds it: the offset carries
  * (file, mtime) entries plus a high-watermark (max mtime ever seen), and
  * entries older than `watermark − maxFileAgeMs` are dropped — AND newly
  * listed files older than that are ignored, so as long as a file's mtime
  * is fixed a dropped entry can never be re-admitted (the watermark only
  * advances). Offset size is then O(files per retention window). Two
  * trades, both the ones Spark's FileStreamSource `maxFileAge` makes
  * (property-pinned in `OffsetCompactionProps`): a file LANDING with an
  * mtime older than the window is never read, and a file OVERWRITTEN IN
  * PLACE after its entry aged out re-admits once — its new mtime marks
  * genuinely new content, indistinguishable from a new file without
  * unbounded seen-name state (which is exactly what compaction exists to
  * avoid).
  *
  * Spark's micro-batch engine builds a streaming scan without pushing
  * anything into it (no pruned columns, filters, limit or sample), so the
  * stream reads every column of `fullSchema` and runs Spark's operators
  * above the same row reader as the batch scan.
  */
class ExcelMicroBatchStream(fullSchema: StructType, opts: ExcelOptions,
    checkpointLocation: String)
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  // one Hadoop conf and one broadcast of it per stream, as Spark's
  // FileStreamSource keeps one conf: every listing, plan and micro-batch
  // reads them. Both are built on first use, which comes after a session
  // exists, not when the stream is constructed.
  private lazy val conf = SparkSession.active.sessionState.newHadoopConf()
  private lazy val confBroadcast = ExcelFiles.broadcastConf(conf)

  private val retention: Option[Long] = opts.maxFileAgeMs

  /** Under Trigger.AvailableNow, the listing captured at query start: the
    * stream must drain exactly this set (in maxFilesPerTrigger-bounded
    * batches) and then stop. Implementing [[SupportsTriggerAvailableNow]]
    * keeps Spark from wrapping us in AvailableNowDataStreamWrapper, which
    * would silently discard the ReadMaxFiles limit. */
  @volatile private var availableNowFiles: Option[Seq[ExcelFiles.Entry]] = None

  override def prepareForTriggerAvailableNow(): Unit = {
    availableNowFiles = Some(ExcelFiles.listEntries(opts.path, conf,
      opts.recursiveFileLookup, opts.xlsxOnly))
  }

  /** Full entries (uri, mtime, size): admission needs sizes for the
    * `maxBytesPerTrigger` bound; offsets store only (uri, mtime). */
  private def currentEntries(): Seq[ExcelFiles.Entry] =
    availableNowFiles.getOrElse(ExcelFiles.listEntries(opts.path, conf,
      opts.recursiveFileLookup, opts.xlsxOnly))

  override def initialOffset(): Offset =
    ExcelStreamOffset(Nil, 0L, compacted = retention.isDefined)

  /** Spark calls only `latestOffset(start, limit)`: the stream supports
    * admission control (through [[SupportsTriggerAvailableNow]]), which
    * the micro-batch engine asks before a plain `latestOffset()`. */
  override def latestOffset(): Offset = throw new UnsupportedOperationException(
    "latestOffset(Offset, ReadLimit) should be called instead of this method")

  /** Admission control: `maxFilesPerTrigger` bounds each micro-batch by
    * COUNT and `maxBytesPerTrigger` by cumulative on-disk VOLUME (both
    * compose), so a backlogged directory (or a 100 TB bootstrap) drains
    * in bounded-size batches instead of one giant first batch. */
  override def getDefaultReadLimit: ReadLimit = {
    val limits = (opts.maxFilesPerTrigger.map(ReadLimit.maxFiles).toSeq ++
      opts.maxBytesPerTrigger.map(ReadLimit.maxBytes).toSeq).toArray
    limits.length match {
      case 0 => ReadLimit.allAvailable()
      case 1 => limits(0)
      case _ => ReadLimit.compositeLimit(limits)
    }
  }

  /** Name-ordered prefix of `fresh` under a ReadLimit: count bound takes
    * the first N; the byte bound admits files while the running size
    * stays within budget but ALWAYS admits at least one (an oversized
    * workbook must not wedge the stream — FileStreamSource's rule);
    * composite applies every member bound. */
  private def admitUnder(limit: ReadLimit,
      fresh: Seq[ExcelFiles.Entry]): Seq[ExcelFiles.Entry] = limit match {
    case m: ReadMaxFiles => fresh.take(m.maxFiles())
    case b: org.apache.spark.sql.connector.read.streaming.ReadMaxBytes =>
      // admit while within budget; the FIRST file always enters (an
      // oversized workbook must not wedge the stream) — keyed on position,
      // not running total, so zero-byte predecessors can't sneak an
      // over-budget file into the batch
      var cum = 0L
      fresh.zipWithIndex.takeWhile { case (e, i) =>
        cum += e.sizeBytes
        i == 0 || cum <= b.maxBytes()
      }.map(_._1)
    case c: org.apache.spark.sql.connector.read.streaming.CompositeReadLimit =>
      c.getReadLimits.foldLeft(fresh)((acc, l) => admitUnder(l, acc))
    case _ => fresh
  }

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val so = start.asInstanceOf[ExcelStreamOffset]
    val entries = currentEntries()
    val sizes = entries.map(e => e.uri -> e.sizeBytes).toMap
    val listing = entries.map(e => e.uri -> e.mtimeMs)
    def admit(fresh: Seq[(String, Long)]): Seq[(String, Long)] =
      admitUnder(limit, fresh.map { case (n, t) =>
        ExcelFiles.Entry(n, t, sizes.getOrElse(n, 0L)) })
        .map(e => e.uri -> e.mtimeMs)
    ExcelStreamOffset.advance(so, listing, retention, admit)
  }

  override def deserializeOffset(json: String): Offset =
    ExcelStreamOffset.fromJson(json)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val seen = start.asInstanceOf[ExcelStreamOffset].names.toSet
    // maxRowsPerPartition applies per admitted file: a large workbook
    // landing in a micro-batch fans out across executors like in batch
    ExcelSplitPlanner.plan(
      end.asInstanceOf[ExcelStreamOffset].names.filterNot(seen), opts, conf)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    ExcelPartitionReaderFactory(fullSchema, fullSchema, opts, -1, confBroadcast)

  override def commit(end: Offset): Unit = () // offsets are self-contained

  override def stop(): Unit = ()
}

/** JSON-serializable offset.
  *
  * Two wire formats, chosen by `compacted`:
  *  - exact (default): `{"files":["a","b"]}` — name list only, byte-stable
  *    with every checkpoint written before retention existed;
  *  - compacted: `{"wm":<maxMtime>,"files":[["a",<mtime>],...]}` — entries
  *    carry mtimes so expiry is a pure function of the offset.
  * Both are written and read with Jackson, which escapes every control
  * character: Spark's offset log is line-based, so a raw line break in a
  * file name would split the offset. `fromJson` accepts both; legacy
  * entries get mtime=Long.MaxValue so a checkpoint written without
  * retention never expires entries spuriously (and thus never re-reads)
  * when retention is later enabled. */
case class ExcelStreamOffset(entries: Seq[(String, Long)], watermark: Long = 0L,
    compacted: Boolean = false) extends Offset {

  def names: Seq[String] = entries.map(_._1)

  override def json(): String = {
    val out = new java.io.StringWriter
    val g = ExcelStreamOffset.Json.getFactory.createGenerator(out)
    g.writeStartObject()
    if (compacted) g.writeNumberField("wm", watermark)
    g.writeArrayFieldStart("files")
    entries.foreach { case (n, t) =>
      if (!compacted) g.writeString(n)
      else {
        g.writeStartArray()
        g.writeString(n)
        g.writeNumber(t)
        g.writeEndArray()
      }
    }
    g.writeEndArray()
    g.writeEndObject()
    g.close()
    out.toString
  }
}

object ExcelStreamOffset {

  /** One pure offset-advance step — the whole compaction/admission
    * algebra with the filesystem and ReadLimit abstracted away (the
    * stream's `latestOffset(start, limit)` supplies a real listing and a
    * limit-bounded `admit`; `OffsetCompactionProps` drives random
    * histories through it directly).
    *
    * Without retention: append listed-but-unseen names, keep everything.
    * With retention: the watermark only advances, so once an entry
    * expires it stays expired; listing entries below the cutoff are
    * ignored by the same rule, so expiry can never cause a re-read. Kept
    * entries refresh their mtime from the current listing (max of stored
    * and listed): a file overwritten IN PLACE after ingestion lists with
    * a newer mtime — with only the stored ingestion-time mtime it would
    * expire while still visible and fresh, and the next batch would
    * re-admit (duplicate-read) it. */
  def advance(start: ExcelStreamOffset, listing: Seq[(String, Long)],
      retention: Option[Long],
      admit: Seq[(String, Long)] => Seq[(String, Long)] = identity)
      : ExcelStreamOffset = retention match {
    case None =>
      val seenSet = start.names.toSet
      val admitted = admit(listing.filterNot(e => seenSet(e._1)))
      ExcelStreamOffset((start.entries ++ admitted).sortBy(_._1))
    case Some(ret) =>
      val wm = (start.watermark +: listing.map(_._2)).max
      val cutoff = wm - ret
      val listedTimes = listing.toMap
      val keptSeen = start.entries
        .map { case (n, t) =>
          n -> math.max(t, listedTimes.getOrElse(n, Long.MinValue)) }
        .filter(_._2 >= cutoff)
      val seenSet = start.names.toSet // full pre-expiry set: skip by NAME
      val admitted = admit(listing.filter { case (n, t) =>
        t >= cutoff && !seenSet(n)
      })
      ExcelStreamOffset((keptSeen ++ admitted).sortBy(_._1), wm,
        compacted = true)
  }

  // a checkpoint written before offsets went through Jackson may hold an
  // unescaped tab or other control character inside a name
  private val Json = new com.fasterxml.jackson.databind.ObjectMapper(
    new com.fasterxml.jackson.core.JsonFactoryBuilder()
      .enable(com.fasterxml.jackson.core.json.JsonReadFeature.ALLOW_UNESCAPED_CONTROL_CHARS)
      .build())

  /** Parses either shape [[ExcelStreamOffset.json]] writes. */
  def fromJson(json: String): ExcelStreamOffset = {
    val root = Json.readTree(json)
    val files = root.get("files").elements().asScala.toSeq
    if (root.has("wm"))
      ExcelStreamOffset(files.map(e => e.get(0).asText() -> e.get(1).asLong()),
        root.get("wm").asLong(), compacted = true)
    else ExcelStreamOffset(files.map(_.asText() -> Long.MaxValue))
  }
}
