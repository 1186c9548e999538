package perfbench

import java.io.File

import org.apache.hadoop.conf.Configuration

import graft.sources.excel.{ExcelOptions, ExcelPartitionReader}

/** Times one layer of `Probe`, `ExcelPartitionReader` over all columns, on
  * a 40k-row workbook: `mixed` with inline strings (`Probe`'s workbook,
  * the inline_scan shape; the default) or `docs` with a shared-strings
  * table (the shared_strings shape), written when absent. Each repeat is
  * timed in the thread's CPU time, so a busy shared host moves it less
  * than wall time; prints the fastest and the median repeat in
  * microseconds per row.
  *
  *   java -cp <perfbench classes>:$SPARK_HOME/jars/'*' perfbench.ProbeReader <dir> <reps> [mixed|docs]
  */
object ProbeReader {
  def main(args: Array[String]): Unit = {
    val dir = new File(args(0)); dir.mkdirs()
    val reps = args(1).toInt
    val name = if (args.length > 2) args(2) else "mixed"
    val f = new File(dir, s"$name.xlsx")
    val table = Tables.named(name, 1L)
    if (!f.exists()) Workbook.write(f, table, 1L, 1L, 40000, sharedStrings = name == "docs")
    val uri = f.getAbsolutePath
    val conf = new Configuration()
    val opts = ExcelOptions.fromMap(Map("path" -> uri))
    val schema = table.schema
    val cpu = java.lang.management.ManagementFactory.getThreadMXBean
    val us = (1 to reps).map { _ =>
      val t0 = cpu.getCurrentThreadCpuTime
      val rd = new ExcelPartitionReader(uri, schema, schema, opts, -1, conf)
      var n = 0L
      try while (rd.next()) { rd.get(); n += 1 } finally rd.close()
      (cpu.getCurrentThreadCpuTime - t0) / 1e3 / n
    }.sorted
    println(f"min ${us(0)}%.2f median ${us(us.length / 2)}%.2f us/row")
  }
}
