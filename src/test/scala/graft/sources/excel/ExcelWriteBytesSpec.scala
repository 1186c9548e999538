package graft.sources.excel

import java.io.File
import java.nio.file.Files
import java.util.zip.ZipFile

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** End to end through `format("excel")`: a DataFrame of every write type,
  * written merged and sharded, gives each sheet part the bytes the
  * char-level spec encoder ([[CharSheetEncoder]]) gives the same rows. */
class ExcelWriteBytesSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val schema = StructType(Seq(
    StructField("s", StringType), StructField("i", IntegerType),
    StructField("l", LongType), StructField("d", DoubleType),
    StructField("f", FloatType), StructField("b", BooleanType),
    StructField("dt", DateType), StructField("ts", TimestampType)))

  private def ts(s: String, nanos: Int): java.sql.Timestamp = {
    val t = java.sql.Timestamp.valueOf(s)
    t.setNanos(nanos)
    t
  }

  private val rows: Seq[Row] = Seq(
    Row(null, 1, 2L, 0.5, 1.5f, true, java.sql.Date.valueOf("2024-02-29"),
      ts("2024-02-29 12:34:56", 123456000)),
    Row("a&b<c>d\"e'f", null, null, -0.0, -0.0f, false, null, null),
    Row("line\r\nbreak\ttab\u0001\u001f", Int.MinValue, Long.MinValue,
      Double.PositiveInfinity, Float.NegativeInfinity, null,
      java.sql.Date.valueOf("1850-06-15"), ts("1850-06-15 01:02:03", 999999000)),
    Row("_x0041_ and _x005F_ and _xZZZZ_", Int.MaxValue, Long.MaxValue, Double.NaN,
      Float.NaN, true, java.sql.Date.valueOf("2500-12-31"), ts("2500-12-31 23:59:59", 1000)),
    Row("é中😀\ufffd", 0, 0L, 1e15, 1e15f, false, java.sql.Date.valueOf("1969-12-31"),
      ts("1969-12-31 23:59:59", 999000)),
    Row("x" * 32767, -1, -1L, Math.nextDown(1e15), 123.25f, true,
      java.sql.Date.valueOf("1900-01-01"), ts("1970-01-01 00:00:00", 0)),
    Row(null, null, null, null, null, null, null, null),
    Row("", 7, 8L, -123456.789, Float.MaxValue, false,
      java.sql.Date.valueOf("1970-01-01"), null),
    Row("last", null, 9L, Math.nextUp(1e15), null, null, null,
      ts("2262-04-12 00:00:00", 0)))

  /** The rows as the writer's tasks see them: per partition, the boxed
    * values the old getters made. */
  private def partitions(): (org.apache.spark.sql.DataFrame, Seq[Seq[Seq[Any]]]) = {
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
    val types = schema // the closure must not capture the suite
    val boxed = df.queryExecution.toRdd.mapPartitionsWithIndex { (p, it) =>
      it.map(r => p -> CharSheetEncoder.boxed(types, r))
    }.collect().toSeq
    (df, (0 until 3).map(p => boxed.filter(_._1 == p).map(_._2)))
  }

  private def sheetPart(f: File): Array[Byte] = {
    val z = new ZipFile(f)
    try z.getInputStream(z.getEntry("xl/worksheets/sheet1.xml")).readAllBytes()
    finally z.close()
  }

  private def sameBytes(got: Array[Byte], want: Array[Byte]): Unit = {
    val at = got.zip(want).indexWhere { case (a, b) => a != b }
    assert(java.util.Arrays.equals(got, want),
      s"${got.length} vs ${want.length} bytes, first difference at $at: " +
        new String(got.slice(math.max(0, at), at + 200), "UTF-8"))
  }

  test("merged write: the spliced sheet part equals the spec encoder's") {
    val dir = Files.createTempDirectory("graft-bytes-merged").toFile
    val out = new File(dir, "out.xlsx")
    val (df, parts) = partitions()
    df.write.format("excel").option("headerBold", "true")
      .option("columnWidths", "s=20,d=9.5").mode("overwrite").save(out.getAbsolutePath)
    val widths = ExcelOptions.fromMap(Map("columnWidths" -> "s=20,d=9.5"))
      .widthsFor(schema.fieldNames.toSeq)
    sameBytes(sheetPart(out), CharSheetEncoder.part(parts.flatten,
      Some(schema.fieldNames.toSeq), headerBold = true, columnWidths = widths))
  }

  test("sharded write: every shard's sheet part equals the spec encoder's") {
    val dir = Files.createTempDirectory("graft-bytes-sharded").toFile
    val out = new File(dir, "out")
    val (df, parts) = partitions()
    df.write.format("excel").option("shardedOutput", "true").mode("overwrite")
      .save(out.getAbsolutePath)
    parts.zipWithIndex.foreach { case (rs, p) =>
      sameBytes(sheetPart(new File(out, f"part-$p%05d.xlsx")),
        CharSheetEncoder.part(rs, Some(schema.fieldNames.toSeq)))
    }
  }
}
