package graft.sources.excel

import java.io.{File, FileOutputStream}
import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** A bad option value fails on the driver, at `load()` or `save()`,
  * naming the option and the value — not later inside a task, and never
  * read as some other value. */
class ExcelOptionsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def workbook(): File = {
    val f = File.createTempFile("graft-opts", ".xlsx")
    val w = new XlsxWriter(new FileOutputStream(f))
    w.writeRow(Seq("id", "x"))
    w.writeRow(Seq(1L, 1.5))
    w.writeRow(Seq(2L, 2.5))
    w.close()
    f
  }

  private def rejected(key: String, value: String)(run: => Any): Unit = {
    val e = intercept[IllegalArgumentException](run)
    assert(e.getMessage.contains(s"'$key'") && e.getMessage.contains(s"'$value'"),
      e.getMessage)
  }

  test("inferSampleRows of 0 or -1 fails at load(), naming the option") {
    val f = workbook()
    try Seq("0", "-1").foreach { v =>
      rejected("inferSampleRows", v)(
        spark.read.format("excel").option("inferSampleRows", v).load(f.getPath))
    } finally f.delete()
  }

  test("inferSampleFiles of 0 or -3 fails at load(), naming the option") {
    val f = workbook()
    try Seq("0", "-3").foreach { v =>
      rejected("inferSampleFiles", v)(
        spark.read.format("excel").option("inferSampleFiles", v).load(f.getPath))
    } finally f.delete()
  }

  test("header=yes with a user schema fails at load(), naming the option") {
    val f = workbook()
    try rejected("header", "yes")(spark.read.format("excel")
      .schema(StructType(Seq(StructField("id", LongType), StructField("x", DoubleType))))
      .option("header", "yes").load(f.getPath))
    finally f.delete()
  }

  test("a bad write option fails at save(), naming the option") {
    val dir = Files.createTempDirectory("graft-opts-w").toFile
    rejected("shardedOutput", "1")(spark.range(3).toDF("id").write.format("excel")
      .option("shardedOutput", "1").mode("overwrite").save(new File(dir, "o").getPath))
  }

  test("boolean options take true/false in any case; numbers must be whole and positive") {
    val o = ExcelOptions.fromMap(Map("header" -> "FALSE", "headerBold" -> "True",
      "inferSampleRows" -> "7", "maxRowsPerPartition" -> "12"))
    assert(!o.header && o.headerBold && o.inferSampleRows == 7 &&
      o.maxRowsPerPartition.contains(12))
    val d = ExcelOptions.fromMap(Map.empty)
    assert(d.header && d.inferSchema && d.inferSampleRows == 100 && d.inferSampleFiles == 1)
    rejected("maxRowsPerPartition", "1.5")(ExcelOptions.fromMap(Map("maxRowsPerPartition" -> "1.5")))
    rejected("inferSampleRows", "3000000000")(
      ExcelOptions.fromMap(Map("inferSampleRows" -> "3000000000")))
    rejected("inferSchema", "")(ExcelOptions.fromMap(Map("inferSchema" -> "")))
  }
}
