package graft.sources.excel

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{DataWriter, PhysicalWriteInfo, WriterCommitMessage}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The sink's commit paths driven task by task, as Spark drives them: an
  * epoch committed twice, an aborted write, a speculative attempt that
  * lost. Each leaves exactly the committed output and no temp file. */
class ExcelCommitSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val idName = StructType(Seq(
    StructField("id", IntegerType), StructField("name", StringType)))

  private val writeInfo = new PhysicalWriteInfo {
    override def numPartitions(): Int = 2
  }

  private def mode(sharded: Boolean) = if (sharded) "sharded" else "merged"

  private def build(path: File, sharded: Boolean): ExcelWrite = {
    spark.conf // factories and commits read the active session's Hadoop conf
    new ExcelWriteBuilder(idName, ExcelOptions.fromMap(Map(
      "path" -> path.getAbsolutePath, "shardedOutput" -> sharded.toString)))
      .build().asInstanceOf[ExcelWrite]
  }

  private def write(w: DataWriter[InternalRow], ids: Seq[Int]): Unit =
    ids.foreach(i => w.write(InternalRow(i, UTF8String.fromString(s"n$i"))))

  /** One committed task per element of `parts`, partition = index. */
  private def runTasks(create: (Int, Long) => DataWriter[InternalRow],
      parts: Seq[Seq[Int]]): Array[WriterCommitMessage] =
    parts.zipWithIndex.map { case (ids, p) =>
      val w = create(p, p.toLong)
      write(w, ids)
      try w.commit() finally w.close()
    }.toArray

  /** A task attempt that wrote rows and never committed nor aborted. */
  private def lostAttempt(create: (Int, Long) => DataWriter[InternalRow]): Unit = {
    val w = create(0, 99L)
    write(w, 1000 to 1010)
    w.close()
  }

  private def tree(dir: File): Seq[File] =
    Option(dir.listFiles()).toSeq.flatten.flatMap(f => f +: tree(f))

  private def litter(dir: File): Seq[String] = tree(dir).map(_.getName)
    .filter(n => n.contains("__graft") || n.contains("inprogress"))

  private def visible(dir: File): Seq[String] =
    dir.list().filterNot(_.startsWith(".")).toSeq.sorted

  private def ids(path: File): Set[Int] = spark.read.format("excel").schema(idName)
    .load(path.getAbsolutePath).collect().map(_.getInt(0)).toSet

  for (sharded <- Seq(false, true)) {
    test(s"streaming epoch replay replaces the epoch's earlier output (${mode(sharded)})") {
      val out = Files.createTempDirectory("graft-commit-replay").toFile
      val stream = build(out, sharded).toStreaming
      def epoch3(parts: Seq[Seq[Int]]): Unit = {
        val factory = stream.createStreamingWriterFactory(writeInfo)
        stream.commit(3L, runTasks((p, t) => factory.createWriter(p, t, 3L), parts))
      }
      epoch3(Seq(1 to 5, 6 to 10))
      epoch3(Seq(Seq(100, 101)))
      assert(visible(out) == (if (sharded) Seq("batch-00003-part-00000.xlsx")
        else Seq("batch-00003.xlsx")))
      assert(ids(out) == Set(100, 101))
      assert(litter(out).isEmpty, litter(out))
    }

    test(s"batch abort leaves no temp dir and no staging file (${mode(sharded)})") {
      val dir = Files.createTempDirectory("graft-commit-abort").toFile
      val write = build(new File(dir, if (sharded) "shards" else "out.xlsx"), sharded)
      val factory = write.createBatchWriterFactory(writeInfo)
      val messages = runTasks((p, t) => factory.createWriter(p, t), Seq(1 to 5, 6 to 10))
      lostAttempt((p, t) => factory.createWriter(p, t))
      write.abort(messages)
      assert(litter(dir).isEmpty, litter(dir))
      assert(!tree(dir).exists(_.getName.endsWith(".xlsx")), tree(dir))
    }

    test(s"streaming abort leaves no temp dir and no staging file (${mode(sharded)})") {
      val out = Files.createTempDirectory("graft-commit-stream-abort").toFile
      val stream = build(out, sharded).toStreaming
      val factory = stream.createStreamingWriterFactory(writeInfo)
      val messages = runTasks((p, t) => factory.createWriter(p, t, 4L), Seq(1 to 5, 6 to 10))
      lostAttempt((p, t) => factory.createWriter(p, t, 4L))
      stream.abort(4L, messages)
      assert(litter(out).isEmpty, litter(out))
      assert(!tree(out).exists(_.getName.endsWith(".xlsx")), tree(out))
    }
  }

  test("a lost speculative attempt leaves nothing behind a sharded batch commit") {
    val out = new File(Files.createTempDirectory("graft-commit-spec").toFile, "shards")
    val write = build(out, sharded = true)
    val factory = write.createBatchWriterFactory(writeInfo)
    lostAttempt((p, t) => factory.createWriter(p, t))
    write.commit(runTasks((p, t) => factory.createWriter(p, t), Seq(1 to 5, 6 to 10)))
    assert(visible(out) == Seq("part-00000.xlsx", "part-00001.xlsx"))
    assert(ids(out) == (1 to 10).toSet)
    assert(litter(out.getParentFile).isEmpty, litter(out.getParentFile))
  }

  test("a lost speculative attempt leaves nothing behind a sharded epoch commit") {
    val out = Files.createTempDirectory("graft-commit-stream-spec").toFile
    val stream = build(out, sharded = true).toStreaming
    val factory = stream.createStreamingWriterFactory(writeInfo)
    lostAttempt((p, t) => factory.createWriter(p, t, 2L))
    stream.commit(2L, runTasks((p, t) => factory.createWriter(p, t, 2L),
      Seq(1 to 5, 6 to 10)))
    assert(visible(out) == Seq("batch-00002-part-00000.xlsx", "batch-00002-part-00001.xlsx"))
    assert(ids(out) == (1 to 10).toSet)
    assert(litter(out).isEmpty, litter(out))
  }
}
