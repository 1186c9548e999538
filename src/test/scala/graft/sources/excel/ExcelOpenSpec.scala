package graft.sources.excel

import java.io.{File, FileOutputStream}
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}
import org.apache.spark.SparkException
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The local file system under its own scheme: a file system that is not
  * `file:`, so the connector opens workbooks from it through a temp copy,
  * as from hdfs or s3. Counts its directory listings. */
class SchemeLocalFileSystem extends RawLocalFileSystem {
  override def getScheme: String = SchemeLocalFileSystem.Scheme
  override def getUri: URI = URI.create(s"${SchemeLocalFileSystem.Scheme}:///")
  override def listStatus(f: Path): Array[FileStatus] = {
    SchemeLocalFileSystem.listings.incrementAndGet()
    super.listStatus(f)
  }
}

object SchemeLocalFileSystem {
  val Scheme = "graftlocal"
  val listings = new AtomicInteger
}

/** Opening workbooks: the temp copy of a workbook that is not on the local
  * file system, the handles and copies a failed read leaves behind, and
  * how often a scan lists its path. */
class ExcelOpenSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = {
    val s = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.hadoopConfiguration.set(
      s"fs.${SchemeLocalFileSystem.Scheme}.impl", classOf[SchemeLocalFileSystem].getName)
    s
  }

  override def afterAll(): Unit = spark.stop()

  private def tempDir(): File = java.nio.file.Files.createTempDirectory("graft-open").toFile

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** `n` rows of (id, name, score) under a header; `salt` makes workbooks
    * with the same shape differ. */
  private def writeWorkbook(f: File, n: Int, salt: Int = 0): File = {
    val w = new XlsxWriter(new FileOutputStream(f), "S")
    w.writeRow(Seq("id", "name", "score"))
    (1 to n).foreach(i => w.writeRow(Seq(i.toLong, s"name $i/$salt", i * 0.5 + salt)))
    w.close()
    f
  }

  private def remote(f: File): String = s"${SchemeLocalFileSystem.Scheme}://${f.getAbsolutePath}"

  /** Temp copies of workbooks left in `java.io.tmpdir`. */
  private def stagedCopies(): Set[String] =
    Option(new File(System.getProperty("java.io.tmpdir")).list()).toSet.flatten
      .filter(_.startsWith("graft-excel-stage"))

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  private def messages(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")

  private val schema = StructType(Seq(StructField("id", LongType),
    StructField("name", StringType), StructField("score", DoubleType)))

  test("a workbook on another file system reads, infers and split-scans like its file: copy") {
    val dir = tempDir()
    try {
      writeWorkbook(new File(dir, "a.xlsx"), 40)
      val before = stagedCopies()
      val local = spark.read.format("excel").load(dir.getPath)
      val other = spark.read.format("excel").load(remote(dir))
      assert(other.schema == local.schema)
      assert(other.schema.map(_.dataType) == Seq(IntegerType, StringType, DoubleType))
      assert(rows(other) == rows(local))
      assert(rows(local).length == 40)
      val split = spark.read.format("excel").schema(schema)
        .option("maxRowsPerPartition", "8").load(remote(dir))
      assert(split.rdd.getNumPartitions == 5)
      assert(rows(split) == rows(spark.read.format("excel").schema(schema).load(dir.getPath)))
      assert(stagedCopies() -- before == Set.empty)
    } finally deleteTree(dir)
  }

  test("a failed read through another file system leaves no temp copy") {
    val dir = tempDir()
    try {
      writeWorkbook(new File(dir, "a.xlsx"), 5)
      val before = stagedCopies()
      // the partition reader fails after opening its workbook
      val missing = schema.add("nope", StringType)
      val e = intercept[Exception](
        spark.read.format("excel").schema(missing).load(remote(dir)).collect())
      assert(messages(e).contains("Column 'nope' not found"), messages(e))
      assert(stagedCopies() -- before == Set.empty)

      // a corrupt workbook.xml fails the open itself, in inference and in a scan
      val corrupt = new File(dir, "b.xlsx")
      XlsxAdversarialProps.zipFile(Seq(
        "xl/workbook.xml" -> "<workbook><sheets><sheet name=\"S\"".getBytes(UTF_8),
        "xl/worksheets/sheet1.xml" -> "<worksheet><sheetData/></worksheet>".getBytes(UTF_8)))
        .renameTo(corrupt)
      new File(dir, "a.xlsx").delete()
      val e2 = intercept[Exception](spark.read.format("excel").load(remote(dir)).collect())
      assert(messages(e2).contains("Malformed XML") || messages(e2).contains("Truncated"),
        messages(e2))
      val e3 = intercept[Exception](
        spark.read.format("excel").schema(schema).load(remote(dir)).collect())
      assert(messages(e3).contains("Failed to open excel file"), messages(e3))
      assert(stagedCopies() -- before == Set.empty)
    } finally deleteTree(dir)
  }

  test("a scan with a user schema lists its path once per action") {
    val dir = tempDir()
    try {
      (1 to 3).foreach(i => writeWorkbook(new File(dir, s"f$i.xlsx"), 4, salt = i))
      def listingsOf(action: DataFrame => Any): Int = {
        SchemeLocalFileSystem.listings.set(0)
        action(spark.read.format("excel").schema(schema).load(remote(dir)))
        SchemeLocalFileSystem.listings.get
      }
      assert(listingsOf(_.collect()) == 1)
      assert(listingsOf(_.count()) == 1)
      assert(listingsOf(_.where("id > 2").select("name").collect()) == 1)
      // statistics and planning share the listing
      assert(listingsOf { df =>
        df.queryExecution.optimizedPlan.stats
        df.collect()
      } == 1)
    } finally deleteTree(dir)
  }

  test("failing reads of distinct local workbooks leave the open file count flat") {
    def openFiles(): Int = new File("/proc/self/fd").list().length
    val dir = tempDir()
    try {
      // distinct files: ZipFile shares one descriptor between opens of a path
      val files = (1 to 64).map(i => writeWorkbook(new File(dir, s"f$i.xlsx"), 2, salt = i))
      val missing = schema.add("nope", StringType)
      val opts = ExcelOptions.fromMap(Map("path" -> dir.getPath))
      val conf = new Configuration()
      val before = openFiles()
      files.foreach { f =>
        val e = intercept[SparkException](
          new ExcelPartitionReader(f.toURI.toString, missing, missing, opts, -1, conf))
        assert(e.getMessage.contains("Column 'nope' not found"), e.getMessage)
      }
      val after = openFiles()
      assert(after - before < 8, s"open files $before -> $after")
    } finally deleteTree(dir)
  }

  test("a missing-column error lists the header's columns, not the schema's width") {
    val dir = tempDir()
    try {
      writeWorkbook(new File(dir, "a.xlsx"), 3)
      val e = intercept[Exception](spark.read.format("excel")
        .schema(schema.add("nope", StringType)).load(dir.getPath).collect())
      assert(messages(e).contains("Column 'nope' not found"), messages(e))
      assert(messages(e).contains("(sheet columns: id, name, score)"), messages(e))
      assert(!messages(e).contains("Unnamed"), messages(e))
    } finally deleteTree(dir)
  }
}
