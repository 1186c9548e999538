package perfbench

import java.io.File

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.types.StructType

import graft.sources.excel.{ExcelOptions, ExcelPartitionReader, XlsxReader}

/** Splits one scanned row's cost by read layer, on one 40k-row x 12-column
  * `mixed` workbook with inline strings (the inline_scan shape, seed 1),
  * without Spark's scheduler: each line times one more layer than the one
  * before it. Prints the median of `reps` repeats (after 5 warm-ups) in
  * microseconds per row.
  *
  *   java -cp <perfbench classes>:$SPARK_HOME/jars/'*' perfbench.Probe <dir> <reps>
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val dir = new File(args(0)); dir.mkdirs()
    val reps = args(1).toInt
    val rows = 40000
    val f = new File(dir, "mixed.xlsx")
    val table = Tables.mixed(1L)
    if (!f.exists()) Workbook.write(f, table, 1L, 1L, rows, sharedStrings = false)
    val uri = f.getAbsolutePath
    val conf = new Configuration()
    val opts = ExcelOptions.fromMap(Map("path" -> uri))
    val schema = table.schema

    def time(name: String)(body: => Long): Unit = {
      (1 to 5).foreach(_ => body)
      val ns = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        val n = body
        require(n == rows, s"$name read $n rows")
        System.nanoTime() - t0
      }.sorted
      println(f"$name%-48s ${ns(ns.length / 2) / 1e3 / rows}%.2f us/row")
    }

    def read(required: StructType)(each: InternalRow => Unit): Long = {
      val rd = new ExcelPartitionReader(uri, schema, required, opts, -1, conf)
      var n = 0L
      try while (rd.next()) { each(rd.get()); n += 1 } finally rd.close()
      n
    }

    time("inflate the sheet part alone") {
      val zip = new java.util.zip.ZipFile(f)
      try {
        val in = zip.getInputStream(zip.getEntry("xl/worksheets/sheet1.xml"))
        val buf = new Array[Byte](1 << 16)
        while (in.read(buf) >= 0) ()
      } finally zip.close()
      rows
    }
    time("every row stepped over whole (count)")(read(new StructType())(_ => ()))
    time("one int column (id) decoded")(read(StructType(Seq(schema("id"))))(_ => ()))
    time("all 12 cells decoded to boxed values (rowIterator)") {
      val r = new XlsxReader(f)
      try {
        val it = r.rowIterator(r.sheets.head)
        it.next() // the header row
        var n = 0L
        while (it.hasNext) { it.next(); n += 1 }
        n
      } finally r.close()
    }
    time("ExcelPartitionReader, all columns")(read(schema)(_ => ()))
    val project = UnsafeProjection.create(schema)
    time("ExcelPartitionReader + UnsafeProjection")(read(schema)(r => project(r)))
  }
}
