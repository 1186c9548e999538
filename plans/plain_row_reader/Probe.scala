package perfbench

import java.io.File
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** Reads one 40k-row mixed workbook (the inline_scan shape) with a 1%
  * sample and with a filter that keeps 1% of rows; prints rows/s medians. */
object Probe {
  def main(args: Array[String]): Unit = {
    val dir = new File(args(0)); dir.mkdirs()
    val reps = args(1).toInt
    val f = new File(dir, "mixed.xlsx")
    val table = Tables.mixed(1L)
    if (!f.exists()) Workbook.write(f, table, 1L, 1L, 40000, sharedStrings = false)
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val df = spark.read.format("excel").schema(table.schema).load(f.getAbsolutePath)
    def time(name: String)(q: => Long): Unit = {
      (1 to 3).foreach(_ => q)
      val ns = (1 to reps).map { _ =>
        val t0 = System.nanoTime(); val n = q; val dt = System.nanoTime() - t0
        require(n > 0); dt
      }.sorted
      val med = ns(ns.length / 2)
      println(f"$name%s rows_per_s_median=${40000.0 / (med / 1e9)}%.0f rows=${q}")
    }
    time("sample_0.01")(df.sample(withReplacement = false, fraction = 0.01, seed = 1L).collect().length.toLong)
    time("filter_1pct")(df.filter(col("id") <= 400).collect().length.toLong)
    spark.stop()
  }
}
