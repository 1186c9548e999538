package perfbench

import java.io.File

import org.apache.spark.sql.types.StructType

/** A workload fixes the input shape; every workload runs the same ops
  * (see [[Ops]]), so each reports every end-to-end metric.
  *
  * @param table          row shape: "mixed" (12 typed columns) or "docs"
  *                       (one long text column beside four small ones)
  * @param sharedStrings  strings in `xl/sharedStrings.xml` instead of inline
  * @param scanFiles      workbooks in the scan directory
  * @param scanRows       data rows per scan workbook
  * @param scanCopies     the scan workbooks are byte copies of the first one
  *                       (generation then costs one workbook, not N)
  * @param largeRows      rows of the split-scan workbook; 0 = split-scan the
  *                       first scan workbook
  * @param streamFiles    workbooks in the stream directory; 0 = stream the
  *                       scan directory
  * @param streamRows     data rows per stream workbook
  * @param filesPerTrigger the stream's `maxFilesPerTrigger`
  * @param writeRows      rows of the DataFrame the write ops save
  * @param projectCol     the numeric column of the one-column scan
  */
final case class Shape(table: String, sharedStrings: Boolean,
    scanFiles: Int, scanRows: Int, scanCopies: Boolean, largeRows: Int,
    streamFiles: Int, streamRows: Int, filesPerTrigger: Int,
    writeRows: Int, projectCol: String) {
  def scanTotal: Long = scanFiles.toLong * scanRows
  def splitRows: Long = if (largeRows > 0) largeRows else scanRows
  def streamTotal: Long =
    if (streamFiles > 0) streamFiles.toLong * streamRows else scanTotal
  def streamFileCount: Int = if (streamFiles > 0) streamFiles else scanFiles
}

object Workloads {
  val names: Seq[String] = Seq("inline_scan", "shared_strings")

  /** `slots` is the number of Spark task slots (local[slots]). */
  def shape(name: String, slots: Int): Shape = name match {
    // N equal wide workbooks, one per task slot; per-row tokenize, decode
    // and convert dominate, per-file cost is negligible
    case "inline_scan" => Shape("mixed", sharedStrings = false,
      scanFiles = slots, scanRows = 40000, scanCopies = true, largeRows = 0,
      streamFiles = 25, streamRows = 200, filesPerTrigger = 1,
      writeRows = 40000, projectCol = "price")
    // a few hundred small shared-strings workbooks plus one large one;
    // per-file, per-split and per-trigger fixed costs dominate
    case "shared_strings" => Shape("docs", sharedStrings = true,
      scanFiles = 150, scanRows = 300, scanCopies = false, largeRows = 40000,
      streamFiles = 0, streamRows = 0, filesPerTrigger = 6,
      writeRows = 30000, projectCol = "score")
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (known: ${names.mkString(", ")})")
  }
}

/** The generated inputs of one run and what the generator knows about
  * them. Row ids are disjoint across the four row sets. */
final class Corpus(root: File, val shape: Shape, val seed: Long) {
  val table: Table = Tables.named(shape.table, seed)
  def schema: StructType = table.schema

  val scanDir = new File(root, "scan")
  val largeFile: File =
    if (shape.largeRows > 0) new File(new File(root, "large"), "large.xlsx")
    else new File(scanDir, "part-00000.xlsx")
  val streamDir: File = if (shape.streamFiles > 0) new File(root, "stream") else scanDir

  var scanSum: Checksum = _
  var largeSum: Checksum = _
  /** The write ops' DataFrame holds rows [WriteBase, WriteBase + writeRows). */
  val writeSum: Checksum = {
    val c = new Checksum(schema)
    (0 until shape.writeRows).foreach(i => c.add(table.row(seed, Corpus.WriteBase + i)))
    c
  }

  /** Write every workbook (single-threaded); returns the seconds taken. */
  def generate(): Double = {
    val t0 = System.nanoTime()
    Files.deleteRecursively(root)
    /** One checksum per workbook written to `d`. */
    def dir(d: File, files: Int, rows: Int, base: Long, copies: Boolean): Seq[Checksum] = {
      d.mkdirs()
      val first = new File(d, "part-00000.xlsx")
      var firstSum: Checksum = null
      (0 until files).map { f =>
        val file = new File(d, f"part-$f%05d.xlsx")
        if (copies && f > 0) {
          java.nio.file.Files.copy(first.toPath, file.toPath)
          firstSum
        } else {
          val sum = Workbook.write(file, table, seed, base + f.toLong * rows, rows,
            shape.sharedStrings)
          if (f == 0) firstSum = sum
          sum
        }
      }
    }
    val scan = dir(scanDir, shape.scanFiles, shape.scanRows, 0L, shape.scanCopies)
    scanSum = scan.foldLeft(new Checksum(schema))(_ merge _)
    largeSum =
      if (shape.largeRows > 0) {
        largeFile.getParentFile.mkdirs()
        Workbook.write(largeFile, table, seed, Corpus.LargeBase, shape.largeRows,
          shape.sharedStrings)
      } else scan.head
    // the stream is checked by row and batch count, not by checksum
    if (shape.streamFiles > 0)
      dir(streamDir, shape.streamFiles, shape.streamRows, Corpus.StreamBase, copies = false)
    (System.nanoTime() - t0) / 1e9
  }
}

object Corpus {
  val LargeBase = 100000000L
  val StreamBase = 200000000L
  val WriteBase = 300000000L
}

object Files {
  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }
}
