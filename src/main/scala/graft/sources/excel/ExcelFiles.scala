package graft.sources.excel

import java.util.concurrent.{Callable, ExecutionException, Executors}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.apache.spark.util.SerializableConfiguration

/** Workbook listing on the Hadoop FileSystem API: every read surface
  * (batch scans, inference, the streaming source) plans from
  * [[ExcelFiles.listEntries]]; opening a listed workbook is
  * [[XlsxReader.open]], with the configuration every task gets from
  * [[ExcelFiles.broadcastConf]].
  *
  * The reference lists with `os.listdir` (local FS only, non-recursive,
  * case-insensitive `.xlsx` suffix — `/root/reference/src/pyspark_datasource/
  * excel/connector.py:148-156`, bug B6 in SURVEY.md). Going through Hadoop
  * FS keeps those listing semantics but gains HDFS/S3/abfs support, which a
  * 1000-executor deployment needs.
  */
object ExcelFiles {

  /** Listing admits `.xlsx` (the reference's surface) plus `.xlsm` —
    * macro-enabled workbooks are the same OOXML zip (identical
    * worksheet parts under `xl/worksheets`, plus a vbaProject part the
    * reader never opens), so the reader reads them unchanged. Legacy
    * binary `.xls` (BIFF, not a zip) stays excluded, matching the
    * reference's B6 listing. `xlsxOnly` (the `xlsxOnly` option) drops
    * the `.xlsm` superset for strict parity with the reference's
    * case-insensitive `.xlsx`-only filter (connector.py:148-156). */
  private def hasExcelSuffix(name: String, xlsxOnly: Boolean): Boolean = {
    val n = name.toLowerCase
    n.endsWith(".xlsx") || (!xlsxOnly && n.endsWith(".xlsm"))
  }

  /** The one way a task gets the Hadoop configuration: one broadcast per
    * query, made on the driver, as Spark's own `ParquetScan` does (through
    * `SerializableConfiguration.broadcast`, which is `private[spark]`).
    * The session conf holds about a thousand properties, about 110 KB
    * serialized with one gzip stream per property; carried in a reader or
    * writer factory, every task would decode it again, which costs more
    * than reading a small workbook. A broadcast is decoded once per
    * executor. The scan, the stream and the write each broadcast the conf
    * they list, plan and commit with, so tasks see the session's own
    * settings. */
  def broadcastConf(conf: Configuration): Broadcast[SerializableConfiguration] =
    SparkSession.active.sparkContext.broadcast(new SerializableConfiguration(conf))

  /** The one driver-side prober: `body` on every file, at most
    * min(files, cores, 16) at a time, results in `files` order. Split
    * planning and schema inference both open many workbooks on the driver,
    * often from remote storage, where each open is first a download; one
    * at a time, a 1000-file directory is 1000 downloads in a row.
    *
    * Any `Throwable` a body throws, fatal errors included, fails the probe:
    * the pool is stopped (in-flight probes interrupted, queued ones
    * dropped) and the error is rethrown as the body threw it. Results are
    * awaited in `files` order, so when several files fail, the one reported
    * is the first in that order. Threads are daemons named `excel-probe-N`,
    * so a probe that ignores its interrupt cannot keep the JVM alive. */
  def probeAll[T](files: Seq[String])(body: String => T): Seq[T] = {
    if (files.lengthCompare(1) <= 0) return files.map(body)
    val threads = math.min(files.size,
      math.min(Runtime.getRuntime.availableProcessors(), 16))
    val started = new AtomicInteger
    val pool = Executors.newFixedThreadPool(threads, (r: Runnable) => {
      val t = new Thread(r, s"excel-probe-${started.incrementAndGet()}")
      t.setDaemon(true)
      t
    })
    try {
      val futures = files.map(f => pool.submit((() => body(f)): Callable[T]))
      futures.map { fu =>
        try fu.get() catch { case e: ExecutionException => throw e.getCause }
      }
    } finally pool.shutdownNow()
  }

  /** One listed workbook: URI plus the mtime/size its `FileStatus`
    * already carried (no extra RPCs beyond the listing itself). */
  case class Entry(uri: String, mtimeMs: Long, sizeBytes: Long)

  /** The canonical listing every surface derives from: path → name-sorted
    * entries (dir: one level by default, excel suffixes only; file:
    * itself; glob pattern: every matching workbook, matching dirs
    * expanded). Directory and glob listings skip hidden and temp names
    * ([[visible]]) and files without an excel suffix. `recursive=true`
    * (the `recursiveFileLookup` option) descends into subdirectories —
    * the date-partitioned `dt=.../part.xlsx` layout object stores use.
    * Missing path → AnalysisException like the reference's error
    * normalization. */
  def listEntries(pathStr: String, conf: Configuration,
      recursive: Boolean = false, xlsxOnly: Boolean = false): Seq[Entry] = {
    val path = new Path(pathStr)
    val fs = path.getFileSystem(conf)
    if (hasGlob(pathStr)) {
      val matches = Option(fs.globStatus(path)).map(_.toSeq).getOrElse(Seq.empty)
      if (matches.isEmpty) {
        throw new AnalysisException(
          errorClass = "PATH_NOT_FOUND",
          messageParameters = Map("path" -> pathStr))
      }
      // a match is filtered like a directory's child: a glob over a
      // sink's output dir must not admit its staging dirs or stray files
      return matches.filter(visible).flatMap { s =>
        if (s.isDirectory) listDirEntries(fs, s.getPath, recursive, xlsxOnly)
        else if (hasExcelSuffix(s.getPath.getName, xlsxOnly)) Seq(entry(s))
        else Nil
      }.distinctBy(_.uri).sortBy(_.uri)
    }
    if (!fs.exists(path)) {
      throw new AnalysisException(
        errorClass = "PATH_NOT_FOUND",
        messageParameters = Map("path" -> pathStr))
    }
    val status = fs.getFileStatus(path)
    if (status.isDirectory) listDirEntries(fs, path, recursive, xlsxOnly)
    // a DIRECT file path keeps the caller's own spelling (`path.toString`,
    // not the FileStatus's qualified file:/ URI): `_file_path` values and
    // streaming-offset seen-sets must stay byte-identical to what pre-r14
    // listings produced, or old checkpoints would re-read the file
    else Seq(Entry(path.toString, status.getModificationTime, status.getLen))
  }

  /** path → sorted list of xlsx file URIs (see [[listEntries]]). */
  def list(pathStr: String, conf: Configuration, recursive: Boolean = false,
      xlsxOnly: Boolean = false): Seq[String] =
    listEntries(pathStr, conf, recursive, xlsxOnly).map(_.uri)

  private def hasGlob(p: String): Boolean =
    p.exists(c => c == '*' || c == '?' || c == '[' || c == '{')

  private def entry(s: FileStatus) =
    Entry(s.getPath.toString, s.getModificationTime, s.getLen)

  /** Hidden and temp files AND directories are skipped (Spark file-source
    * convention), so readers never admit a half-written sink temp into an
    * offset. */
  private def visible(s: FileStatus): Boolean = {
    val n = s.getPath.getName
    !n.startsWith(".") && !n.startsWith("_")
  }

  private def listDirEntries(fs: FileSystem, dir: Path, recursive: Boolean,
      xlsxOnly: Boolean): Seq[Entry] = {
    val (dirs, files) = fs.listStatus(dir).toSeq.filter(visible).partition(_.isDirectory)
    val here = files.filter(s => hasExcelSuffix(s.getPath.getName, xlsxOnly)).map(entry)
    val below =
      if (!recursive) Seq.empty
      else dirs.flatMap(d => listDirEntries(fs, d.getPath, recursive = true, xlsxOnly))
    (here ++ below).sortBy(_.uri)
  }
}
