package graft.sources.excel

import java.io.{File, FileOutputStream}
import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Streaming read: file discovery, incremental batches, and — the part the
  * reference cannot do (SURVEY.md bug B3) — exactly-once restart from a
  * checkpoint. */
class ExcelStreamingSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val idName = StructType(Seq(
    StructField("id", IntegerType), StructField("name", StringType)))

  private def writeFile(dir: File, fname: String, rows: Seq[(Int, String)]): Unit = {
    val f = new File(dir, fname)
    val w = new XlsxWriter(new FileOutputStream(f))
    w.writeRow(Seq("id", "name"))
    rows.foreach { case (i, n) => w.writeRow(Seq(i.toLong, n)) }
    w.close()
  }

  test("micro-batch discovery: existing files, then new files, no re-reads") {
    val dir = Files.createTempDirectory("graft-stream").toFile
    val ckpt = Files.createTempDirectory("graft-ckpt").toFile
    val out = Files.createTempDirectory("graft-sink").toFile
    writeFile(dir, "a.xlsx", Seq(1 -> "one", 2 -> "two"))

    def startQuery() = spark.readStream.format("excel").schema(idName)
      .load(dir.getAbsolutePath)
      .writeStream.format("parquet")
      .option("path", out.getAbsolutePath)
      .option("checkpointLocation", ckpt.getAbsolutePath)
      .start()
    def sinkIds(): Seq[Int] =
      spark.read.parquet(out.getAbsolutePath).collect().map(_.getInt(0)).toSeq.sorted

    val q = startQuery()
    try {
      q.processAllAvailable()
      assert(sinkIds() == Seq(1, 2))

      writeFile(dir, "b.xlsx", Seq(3 -> "three"))
      q.processAllAvailable()
      assert(sinkIds() == Seq(1, 2, 3)) // only the new file read
    } finally q.stop()

    // restart from checkpoint with one more file: only the unseen file reads
    // (the reference re-reads everything here — bug B3)
    writeFile(dir, "c.xlsx", Seq(4 -> "four"))
    val q2 = startQuery()
    try {
      q2.processAllAvailable()
      assert(sinkIds() == Seq(1, 2, 3, 4), s"restart produced: ${sinkIds()}")
    } finally q2.stop()
  }

  test("maxFilesPerTrigger drains a backlog in bounded batches") {
    val dir = Files.createTempDirectory("graft-adm").toFile
    val ckpt = Files.createTempDirectory("graft-adm-ck").toFile
    (1 to 4).foreach(i => writeFile(dir, s"f$i.xlsx", Seq(i -> s"n$i")))

    val q = spark.readStream.format("excel").schema(idName)
      .option("maxFilesPerTrigger", "1")
      .load(dir.getAbsolutePath)
      .writeStream.format("memory").queryName("adm_out")
      .option("checkpointLocation", ckpt.getAbsolutePath)
      .start()
    try {
      q.processAllAvailable()
      assert(spark.table("adm_out").count() == 4) // all data arrives…
      val batches = q.recentProgress.count(_.numInputRows > 0)
      assert(batches >= 4, s"expected ≥4 bounded batches, got $batches") // …in 1-file batches
    } finally q.stop()
  }

  test("maxFilesPerTrigger is honored under Trigger.AvailableNow") {
    val dir = Files.createTempDirectory("graft-an").toFile
    val ckpt = Files.createTempDirectory("graft-an-ck").toFile
    (1 to 3).foreach(i => writeFile(dir, s"g$i.xlsx", Seq(i -> s"n$i")))

    val q = spark.readStream.format("excel").schema(idName)
      .option("maxFilesPerTrigger", "1")
      .load(dir.getAbsolutePath)
      .writeStream.format("memory").queryName("an_out")
      .option("checkpointLocation", ckpt.getAbsolutePath)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    assert(spark.table("an_out").count() == 3)
    val batches = q.recentProgress.count(_.numInputRows > 0)
    assert(batches >= 3, s"AvailableNow ignored the limit: $batches batches")
  }

  test("admission is name-ordered, not mtime-ordered: micro-batch 0 is " +
    "exactly a/ even when b/'s files are older") {
    val dir = Files.createTempDirectory("graft-order").toFile
    val ckpt = Files.createTempDirectory("graft-order-ck").toFile
    val a = new File(dir, "a"); val b = new File(dir, "b")
    a.mkdirs(); b.mkdirs()
    (1 to 3).foreach(i => writeFile(a, s"part-$i.xlsx", Seq(i -> s"a$i")))
    (1 to 3).foreach(i => writeFile(b, s"part-$i.xlsx", Seq(100 + i -> s"b$i")))
    val now = System.currentTimeMillis()
    a.listFiles().foreach(_.setLastModified(now - 1000L))
    b.listFiles().foreach(_.setLastModified(now - 60000L))
    val batches = new java.util.concurrent.ConcurrentHashMap[Long, Seq[Int]]()
    val q = spark.readStream.format("excel").schema(idName)
      .option("maxFilesPerTrigger", a.listFiles().length.toString)
      .option("recursiveFileLookup", "true")
      .load(dir.getAbsolutePath)
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        batches.put(id, df.collect().map(_.getInt(0)).toSeq.sorted); () }
      .option("checkpointLocation", ckpt.getAbsolutePath)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    assert(batches.get(0L) == Seq(1, 2, 3), s"micro-batch 0: ${batches.get(0L)}")
    assert(batches.get(1L) == Seq(101, 102, 103))
  }

  test("maxBytesPerTrigger drains a backlog in volume-bounded batches") {
    val dir = Files.createTempDirectory("graft-bytes").toFile
    val ckpt = Files.createTempDirectory("graft-bytes-ck").toFile
    (1 to 3).foreach(i => writeFile(dir, s"b$i.xlsx", Seq(i -> s"n$i")))
    // each workbook is a few hundred bytes: a 1-byte budget still admits
    // exactly one file per batch (at-least-one progress rule)
    val q = spark.readStream.format("excel").schema(idName)
      .option("maxBytesPerTrigger", "1")
      .load(dir.getAbsolutePath)
      .writeStream.format("memory").queryName("bytes_out")
      .option("checkpointLocation", ckpt.getAbsolutePath)
      .start()
    try {
      q.processAllAvailable()
      assert(spark.table("bytes_out").count() == 3) // all data arrives…
      val batches = q.recentProgress.count(_.numInputRows > 0)
      assert(batches >= 3, s"expected ≥3 volume-bounded batches: $batches")
    } finally q.stop()
  }

  test("maxBytesPerTrigger composes with maxFilesPerTrigger") {
    val dir = Files.createTempDirectory("graft-comp").toFile
    val ckpt = Files.createTempDirectory("graft-comp-ck").toFile
    (1 to 4).foreach(i => writeFile(dir, s"c$i.xlsx", Seq(i -> s"n$i")))
    val oneFile = new File(dir, "c1.xlsx").length()
    assert(oneFile > 0)
    // byte budget covers two files, count bound allows three → the
    // TIGHTER bound (bytes) wins and batches stay ≤ 2 files
    val q = spark.readStream.format("excel").schema(idName)
      .option("maxFilesPerTrigger", "3")
      .option("maxBytesPerTrigger", (oneFile * 2).toString)
      .load(dir.getAbsolutePath)
      .writeStream.format("memory").queryName("comp_out")
      .option("checkpointLocation", ckpt.getAbsolutePath)
      .start()
    try {
      q.processAllAvailable()
      assert(spark.table("comp_out").count() == 4)
      val batches = q.recentProgress.count(_.numInputRows > 0)
      assert(batches >= 2, s"expected ≥2 batches under the byte bound: $batches")
      // no batch carried more rows than two files' worth (1 row per file)
      assert(q.recentProgress.forall(_.numInputRows <= 2),
        q.recentProgress.map(_.numInputRows).mkString(","))
    } finally q.stop()
  }

  test("non-positive maxBytesPerTrigger is rejected") {
    val dir = Files.createTempDirectory("graft-negb").toFile
    writeFile(dir, "x.xlsx", Seq(1 -> "a"))
    val e = intercept[Exception](spark.readStream.format("excel").schema(idName)
      .option("maxBytesPerTrigger", "-5")
      .load(dir.getAbsolutePath))
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("must be positive")), e.toString)
  }

  test("non-positive maxFilesPerTrigger is rejected") {
    val dir = Files.createTempDirectory("graft-neg").toFile
    writeFile(dir, "x.xlsx", Seq(1 -> "a"))
    // options are parsed when `load()` builds them, before any query starts
    val e = intercept[Exception](spark.readStream.format("excel").schema(idName)
      .option("maxFilesPerTrigger", "0")
      .load(dir.getAbsolutePath))
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("must be positive")), e.toString)
  }

  test("streaming excel sink: excel → transform → excel round-trip") {
    val in = Files.createTempDirectory("graft-sink-in").toFile
    val outDir = Files.createTempDirectory("graft-sink-out").toFile
    val ckpt = Files.createTempDirectory("graft-sink-ck").toFile
    writeFile(in, "a.xlsx", Seq(1 -> "one", 2 -> "two"))

    val q = spark.readStream.format("excel").schema(idName)
      .load(in.getAbsolutePath)
      .selectExpr("id * 10 AS id", "upper(name) AS name")
      .writeStream.format("excel")
      .option("path", outDir.getAbsolutePath)
      .option("checkpointLocation", ckpt.getAbsolutePath)
      .start()
    try {
      q.processAllAvailable()
      writeFile(in, "b.xlsx", Seq(3 -> "three"))
      q.processAllAvailable()
    } finally q.stop()

    // each epoch became one workbook; our own directory reader reads them
    val back = spark.read.format("excel").schema(idName)
      .load(outDir.getAbsolutePath)
    val got = back.collect().map(r => (r.getInt(0), r.getString(1))).toSet
    assert(got == Set(10 -> "ONE", 20 -> "TWO", 30 -> "THREE"), got)
    val files = outDir.listFiles.filter(_.getName.endsWith(".xlsx")).map(_.getName).sorted
    assert(files.length >= 2 && files.forall(_.startsWith("batch-")), files.toSeq)
  }

  test("offset JSON round-trips") {
    // exact format: names only on the wire; parse restores MaxValue times
    // (never-expire) by design
    val o = ExcelStreamOffset(
      Seq("/p/a \"x\".xlsx" -> 1L, "/p/b\\c.xlsx" -> 2L))
    assert(o.json() == """{"files":["/p/a \"x\".xlsx","/p/b\\c.xlsx"]}""")
    assert(ExcelStreamOffset.fromJson(o.json()).names == o.names)
    assert(ExcelStreamOffset.fromJson(ExcelStreamOffset(Nil).json()) ==
      ExcelStreamOffset(Nil).copy(entries = Nil))

    // compacted format: (name, mtime) entries + watermark survive exactly
    val c = ExcelStreamOffset(
      Seq("/p/a \"x\".xlsx" -> 11L, "/p/b\\c.xlsx" -> 22L),
      watermark = 99L, compacted = true)
    assert(c.json() ==
      """{"wm":99,"files":[["/p/a \"x\".xlsx",11],["/p/b\\c.xlsx",22]]}""")
    assert(ExcelStreamOffset.fromJson(c.json()) == c)

    // a legacy checkpoint parsed under retention must never expire: times
    // come back as MaxValue
    val legacy = ExcelStreamOffset.fromJson("""{"files":["/p/old.xlsx"]}""")
    assert(legacy.entries == Seq("/p/old.xlsx" -> Long.MaxValue))
    assert(!legacy.compacted)
  }

  test("offset JSON escapes line breaks and control characters in names") {
    // Spark's offset log is line-based: a raw line terminator in an
    // offset splits it, and the next restart fails
    val name = "/p/a\nb\rc\td\u0001e.xlsx"
    val exact = ExcelStreamOffset(Seq(name -> Long.MaxValue))
    val compacted = ExcelStreamOffset(Seq(name -> 5L), watermark = 7L,
      compacted = true)
    Seq(exact, compacted).foreach { o =>
      val json = o.json()
      assert(!json.exists(c => c == '\n' || c == '\r'), json)
      assert(ExcelStreamOffset.fromJson(json) == o)
    }
  }

  test("maxFileAgeMs compacts offsets and ignores too-old files") {
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    spark.range(1).count() // ensure an active session for the stream's conf
    val dir = Files.createTempDirectory("graft-retention").toFile
    writeFile(dir, "a.xlsx", Seq(1 -> "one"))
    writeFile(dir, "b.xlsx", Seq(2 -> "two"))
    assert(new File(dir, "a.xlsx").setLastModified(1000000L)) // old
    assert(new File(dir, "b.xlsx").setLastModified(2000000L)) // fresh

    val opts = ExcelOptions.fromMap(Map(
      "path" -> dir.getAbsolutePath, "maxFileAgeMs" -> "500000"))
    val stream = new ExcelMicroBatchStream(idName, opts, "/tmp/ckpt-x")

    val start = stream.initialOffset().asInstanceOf[ExcelStreamOffset]
    assert(start.compacted)
    val end = stream.latestOffset(start, ReadLimit.allAvailable())
      .asInstanceOf[ExcelStreamOffset]
    // watermark = b's mtime; a is older than wm − 500s → never admitted
    assert(end.watermark == 2000000L)
    assert(end.names.exists(_.endsWith("b.xlsx")) &&
      !end.names.exists(_.endsWith("a.xlsx")), end.names)

    // c arrives fresher still: watermark advances past b's expiry point,
    // so b ages OUT of the offset (compaction) yet is never re-planned
    writeFile(dir, "c.xlsx", Seq(3 -> "three"))
    assert(new File(dir, "c.xlsx").setLastModified(2600000L))
    val end2 = stream.latestOffset(end, ReadLimit.allAvailable())
      .asInstanceOf[ExcelStreamOffset]
    assert(end2.watermark == 2600000L)
    assert(end2.names.count(_.endsWith("c.xlsx")) == 1)
    assert(!end2.names.exists(_.endsWith("b.xlsx")),
      s"b should have aged out of the offset: ${end2.names}")
    val parts = stream.planInputPartitions(end, end2)
    assert(parts.length == 1, "only c.xlsx should be planned")

    // round-trip through the checkpoint wire format preserves everything
    assert(stream.deserializeOffset(end2.json()) == end2)
  }

  test("streaming sink writers are the batch writer class (no forked path)") {
    // one factory builds the batch and the streaming task writers, and
    // both must be the SAME per-task writer class — if the two paths ever
    // fork, writer fixes (validation, buffering, temp-file hygiene)
    // silently apply to one side only
    val dir = Files.createTempDirectory("graft-writer-reuse").toFile
    val opts = ExcelOptions.fromMap(Map("path" -> dir.getAbsolutePath))
    spark.range(1).count() // ensure an active session for the broadcast
    val conf = ExcelFiles.broadcastConf(new org.apache.hadoop.conf.Configuration())
    val factory = ExcelDataWriterFactory(idName, opts,
      new File(dir, "t").getAbsolutePath, conf)
    val batch = factory.createWriter(0, 0L)
    val streaming = factory.createWriter(0, 0L, epochId = 1L)
    try {
      assert(batch.getClass == classOf[ExcelDataWriter])
      assert(streaming.getClass == classOf[ExcelDataWriter],
        s"streaming sink forked to ${streaming.getClass}")
    } finally { batch.abort(); streaming.abort() }
  }

  test("overwriting an ingested file within retention never re-reads it") {
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    spark.range(1).count()
    val dir = Files.createTempDirectory("graft-retention-ow").toFile
    writeFile(dir, "a.xlsx", Seq(1 -> "one"))
    assert(new File(dir, "a.xlsx").setLastModified(1000000L))
    val opts = ExcelOptions.fromMap(Map(
      "path" -> dir.getAbsolutePath, "maxFileAgeMs" -> "500000"))
    val stream = new ExcelMicroBatchStream(idName, opts, "/tmp/ckpt-ow")
    val start = stream.initialOffset().asInstanceOf[ExcelStreamOffset]
    val end = stream.latestOffset(start, ReadLimit.allAvailable())
      .asInstanceOf[ExcelStreamOffset]
    assert(stream.planInputPartitions(start, end).length == 1) // a ingested

    // overwrite a in place (newer mtime, still inside the window) and land
    // b far enough ahead that a's ORIGINAL mtime falls past the cutoff:
    // the kept entry must refresh to the listed mtime, not expire
    writeFile(dir, "a.xlsx", Seq(9 -> "nine"))
    assert(new File(dir, "a.xlsx").setLastModified(1400000L))
    writeFile(dir, "b.xlsx", Seq(2 -> "two"))
    assert(new File(dir, "b.xlsx").setLastModified(1600000L))
    val end2 = stream.latestOffset(end, ReadLimit.allAvailable())
      .asInstanceOf[ExcelStreamOffset]
    assert(stream.planInputPartitions(end, end2).length == 1, "only b is new")
    assert(end2.names.count(_.endsWith("a.xlsx")) == 1,
      s"a must stay in the offset with a refreshed mtime: ${end2.entries}")

    // advance the watermark again: a still must not be re-planned
    writeFile(dir, "c.xlsx", Seq(3 -> "three"))
    assert(new File(dir, "c.xlsx").setLastModified(1800000L))
    val end3 = stream.latestOffset(end2, ReadLimit.allAvailable())
      .asInstanceOf[ExcelStreamOffset]
    assert(stream.planInputPartitions(end2, end3).length == 1,
      s"only c should be planned: ${end3.names}")
    assert(end3.names.count(_.endsWith("a.xlsx")) == 1, end3.names.toString)
  }
}
