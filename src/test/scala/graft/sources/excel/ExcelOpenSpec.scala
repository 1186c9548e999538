package graft.sources.excel

import java.io.{File, FileOutputStream}
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{FutureTask, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, Path, RawLocalFileSystem}
import org.apache.spark.SparkException
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The local file system under its own scheme: a file system that is not
  * `file:`, so the connector opens workbooks from it through a temp copy,
  * as from hdfs or s3. Counts its directory listings, and gauges how many
  * opens are in flight at once; `openDelayMs` stands in for the latency of
  * a remote open. */
class SchemeLocalFileSystem extends RawLocalFileSystem {
  override def getScheme: String = SchemeLocalFileSystem.Scheme
  override def getUri: URI = URI.create(s"${SchemeLocalFileSystem.Scheme}:///")
  override def listStatus(f: Path): Array[FileStatus] = {
    SchemeLocalFileSystem.listings.incrementAndGet()
    super.listStatus(f)
  }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    import SchemeLocalFileSystem._
    maxOpensInFlight.accumulateAndGet(opensInFlight.incrementAndGet(), math.max)
    try {
      Thread.sleep(openDelayMs)
      super.open(f, bufferSize)
    } finally opensInFlight.decrementAndGet()
  }
}

object SchemeLocalFileSystem {
  val Scheme = "graftlocal"
  val listings = new AtomicInteger
  val opensInFlight = new AtomicInteger
  val maxOpensInFlight = new AtomicInteger
  @volatile var openDelayMs = 0L
}

/** Opening workbooks: the temp copy of a workbook that is not on the local
  * file system, the handles and copies a failed read leaves behind, how
  * often a scan lists its path, and the driver prober that opens inference
  * samples and split probes many at a time. */
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

  /** `n` workbooks named f00.xlsx, f01.xlsx, … in listing order; workbook
    * `i` has the columns `id` and `c<i>`, and earlier ones have more rows,
    * so their probes tend to finish last. */
  private def columnPerFile(dir: File, n: Int): Seq[File] = (0 until n).map { i =>
    val f = new File(dir, f"f$i%02d.xlsx")
    val w = new XlsxWriter(new FileOutputStream(f), "S")
    w.writeRow(Seq("id", s"c$i"))
    (1 to (n - i) * 20).foreach(r => w.writeRow(Seq(if (i % 3 == 0) r + 0.5 else r.toLong, r.toLong)))
    w.close()
    f
  }

  test("parallel inference merges the sample files' schemas in listing order") {
    val dir = tempDir()
    try {
      val files = columnPerFile(dir, 24)
      val opts = ExcelOptions.fromMap(Map("path" -> dir.getPath, "inferSampleRows" -> "1000"))
      val serial = ExcelSchema.merge(files.map(f =>
        ExcelSchema.inferFromFile(f.toURI.toString, opts, new Configuration())))
      val inferred = spark.read.format("excel").option("inferSampleFiles", "24")
        .option("inferSampleRows", "1000").load(remote(dir)).schema
      assert(inferred.fieldNames.toSeq == "id" +: (0 until 24).map(i => s"c$i"))
      assert(inferred("id").dataType == DoubleType)
      assert(inferred == serial)
    } finally deleteTree(dir)
  }

  test("parallel inference names the first failing sample file in listing order") {
    val dir = tempDir()
    try {
      val files = columnPerFile(dir, 8)
      // #3 and #6 (1-based) are no zip at all
      Seq(2, 5).foreach(i => java.nio.file.Files.write(files(i).toPath, "not a zip".getBytes(UTF_8)))
      (1 to 3).foreach { _ =>
        val e = intercept[AnalysisException](spark.read.format("excel")
          .option("inferSampleFiles", "8").load(remote(dir)))
        assert(e.getCondition == "UNABLE_TO_INFER_SCHEMA", e.getMessage)
        assert(e.getMessage.contains("f02.xlsx") && !e.getMessage.contains("f05.xlsx"),
          e.getMessage)
      }
    } finally deleteTree(dir)
  }

  test("inference opens its sample files on the bounded driver prober") {
    val dir = tempDir()
    try {
      columnPerFile(dir, 40)
      SchemeLocalFileSystem.maxOpensInFlight.set(0)
      SchemeLocalFileSystem.openDelayMs = 25
      try spark.read.format("excel").option("inferSampleFiles", "40").load(remote(dir))
      finally SchemeLocalFileSystem.openDelayMs = 0
      val most = SchemeLocalFileSystem.maxOpensInFlight.get
      assert(most >= math.min(2, Runtime.getRuntime.availableProcessors()) && most <= 16,
        s"at most $most opens in flight")
    } finally deleteTree(dir)
  }

  test("a probe's fatal error fails the prober promptly and leaves no probe thread") {
    def probeThreads(): Set[Thread] =
      Thread.getAllStackTraces.keySet.asScala.filter(_.getName.startsWith("excel-probe")).toSet
    val files = (1 to 32).map(i => s"f$i")
    val run = new FutureTask[Throwable](() =>
      try {
        ExcelFiles.probeAll(files) { f =>
          if (f == "f5") throw new StackOverflowError("deep")
          Thread.sleep(200)
          f
        }
        null
      } catch { case t: Throwable => t })
    val caller = new Thread(run)
    caller.setDaemon(true)
    caller.start()
    val thrown = run.get(10, TimeUnit.SECONDS)
    assert(thrown.isInstanceOf[StackOverflowError] && thrown.getMessage == "deep", thrown)
    val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(5)
    while (probeThreads().exists(_.isAlive) && System.nanoTime() < deadline) Thread.sleep(20)
    assert(!probeThreads().exists(_.isAlive), probeThreads())
  }
}
