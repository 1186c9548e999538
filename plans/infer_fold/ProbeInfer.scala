package perfbench

import java.io.File

import org.apache.hadoop.conf.Configuration

import graft.sources.excel.{ExcelOptions, ExcelSchema}

/** Times one layer, the schema inference of one workbook
  * (`ExcelSchema.inferFromFile`), on a 300-row `docs` workbook with a
  * shared-strings table: one of the 150 files the shared_strings
  * workload's `infer` op probes, inferred with that op's
  * `inferSampleRows=5000`, so every row is sampled. The workbook is
  * written when absent. Each repeat is timed in the thread's CPU time,
  * so a busy shared host moves it less than wall time; after `warm`
  * untimed repeats, prints the fastest and the median of `reps` repeats
  * in milliseconds per file.
  *
  *   java -cp <perfbench classes>:$SPARK_HOME/jars/'*' perfbench.ProbeInfer <dir> <warm> <reps>
  */
object ProbeInfer {
  def main(args: Array[String]): Unit = {
    val dir = new File(args(0)); dir.mkdirs()
    val (warm, reps) = (args(1).toInt, args(2).toInt)
    val f = new File(dir, "docs300.xlsx")
    if (!f.exists()) Workbook.write(f, Tables.named("docs", 1L), 1L, 1L, 300, sharedStrings = true)
    val uri = f.getAbsolutePath
    val conf = new Configuration()
    val opts = ExcelOptions.fromMap(Map("path" -> uri, "inferSampleRows" -> "5000"))
    val cpu = java.lang.management.ManagementFactory.getThreadMXBean
    def once(): Double = {
      val t0 = cpu.getCurrentThreadCpuTime
      ExcelSchema.inferFromFile(uri, opts, conf)
      (cpu.getCurrentThreadCpuTime - t0) / 1e6
    }
    (1 to warm).foreach(_ => once())
    val ms = (1 to reps).map(_ => once()).sorted
    println(f"schema ${ExcelSchema.inferFromFile(uri, opts, conf).simpleString}")
    println(f"min ${ms(0)}%.3f median ${ms(ms.length / 2)}%.3f ms/file")
  }
}
