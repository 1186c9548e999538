package graft.sources.excel

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, File, FileOutputStream,
  ObjectInputStream, ObjectOutputStream}
import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.write.PhysicalWriteInfo
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The reader and writer factories are serialized into every task, so
  * they carry the Hadoop conf only as a broadcast handle: a large session
  * conf must not grow them, and the tasks must still see its settings. */
class ExcelConfBroadcastSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val BigKey = "graft.test.bigValue"
  private val SessionKey = "graft.test.sessionValue"
  private val MaxFactoryBytes = 16 * 1024

  private val oneTask = new PhysicalWriteInfo { def numPartitions(): Int = 1 }

  private val idName = StructType(Seq(
    StructField("id", LongType), StructField("name", StringType)))

  private def serialize(o: AnyRef): Array[Byte] = {
    val bytes = new ByteArrayOutputStream
    val out = new ObjectOutputStream(bytes)
    out.writeObject(o)
    out.close()
    bytes.toByteArray
  }

  private def deserialize[T](bytes: Array[Byte]): T =
    new ObjectInputStream(new ByteArrayInputStream(bytes)).readObject().asInstanceOf[T]

  /** A directory of two small workbooks, read with a 1 MiB session conf
    * value and one plain session setting in place. */
  private def withCorpus(body: File => Unit): Unit = {
    val dir = Files.createTempDirectory("graft-conf-bcast").toFile
    Seq("a.xlsx" -> 1L, "b.xlsx" -> 2L).foreach { case (n, id) =>
      val w = new XlsxWriter(new FileOutputStream(new File(dir, n)))
      w.writeRow(Seq("id", "name")); w.writeRow(Seq(id, s"n$id")); w.close()
    }
    spark.conf.set(BigKey, "x" * (1 << 20))
    spark.conf.set(SessionKey, "from-the-session")
    try body(dir)
    finally { spark.conf.unset(BigKey); spark.conf.unset(SessionKey) }
  }

  private def scanFactory(dir: File): ExcelPartitionReaderFactory = {
    val df = spark.read.format("excel").schema(idName).load(dir.getAbsolutePath)
    assert(df.collect().length == 2)
    val scans = new AdaptiveSparkPlanHelper {}.collect(df.queryExecution.executedPlan) {
      case b: BatchScanExec => b
    }
    assert(scans.size == 1, df.queryExecution.executedPlan)
    scans.head.readerFactory.asInstanceOf[ExcelPartitionReaderFactory]
  }

  test("scan, stream and write factories stay small under a 1 MiB session conf") {
    withCorpus { dir =>
      val opts = ExcelOptions.fromMap(Map("path" -> dir.getAbsolutePath))
      val stream = new ExcelMicroBatchStream(idName, opts,
        new File(dir, "_ckpt").getAbsolutePath)
      val out = new File(Files.createTempDirectory("graft-conf-bcast-out").toFile, "o.xlsx")
      val write = new ExcelWriteBuilder(idName,
        ExcelOptions.fromMap(Map("path" -> out.getAbsolutePath))).build()
      val factories = Seq(
        "scan" -> scanFactory(dir),
        "stream" -> stream.createReaderFactory(),
        "write" -> write.toBatch.createBatchWriterFactory(oneTask))
      factories.foreach { case (name, f) =>
        val size = serialize(f).length
        assert(size < MaxFactoryBytes, s"$name factory serializes to $size bytes")
      }

      // one broadcast per stream and per write, however many micro-batches
      // or epochs ask for a factory
      val again = stream.createReaderFactory().asInstanceOf[ExcelPartitionReaderFactory]
      assert(again.conf.id ==
        factories(1)._2.asInstanceOf[ExcelPartitionReaderFactory].conf.id)
      val w = write.asInstanceOf[ExcelWrite]
      assert(w.createStreamingWriterFactory(oneTask)
        .asInstanceOf[ExcelDataWriterFactory].conf.id ==
        factories(2)._2.asInstanceOf[ExcelDataWriterFactory].conf.id)
    }
  }

  test("a deserialized scan factory hands its reader the session's settings") {
    withCorpus { dir =>
      val shipped = deserialize[ExcelPartitionReaderFactory](serialize(scanFactory(dir)))
      val conf = shipped.conf.value.value
      assert(conf.get(SessionKey) == "from-the-session")
      assert(conf.get(BigKey).length == (1 << 20))
      // and the reader it builds opens a workbook with that conf
      val rd = shipped.createReader(ExcelInputPartition(new File(dir, "a.xlsx").getPath))
      try {
        assert(rd.next())
        assert(rd.get().getLong(0) == 1L)
      } finally rd.close()
    }
  }
}
