package graft.sources.excel

import java.io.{File, FileOutputStream}
import java.nio.file.Files

import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Conformance port of the reference's test behaviors
  * (`/root/reference/tests/test_excel_connector.py` — the live e2e script
  * plus the seven disabled-but-intent-documenting function tests, SURVEY.md
  * §5) onto the native DSv2 connector. */
class ExcelConnectorSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def tmpDir(): File = {
    val d = Files.createTempDirectory("graft-excel-spec").toFile
    d.deleteOnExit()
    d
  }

  /** Write a sample workbook of (id, name) rows like the reference's
    * fixture builder (test_excel_connector.py:15-28). */
  private def sampleFile(dir: File, fname: String, rows: Seq[(Int, String)],
      header: Boolean = true): File = {
    val f = new File(dir, fname)
    val w = new XlsxWriter(new FileOutputStream(f))
    if (header) w.writeRow(Seq("id", "name"))
    rows.foreach { case (i, n) => w.writeRow(Seq(i.toLong, n)) }
    w.close()
    f
  }

  private val idName = StructType(Seq(
    StructField("id", IntegerType, nullable = true),
    StructField("name", StringType, nullable = true)))

  /** All messages down a cause chain (for asserting on wrapped errors). */
  private def msgs(t: Throwable): Seq[String] =
    Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))

  test("directory read: explicit schema, 3 files → union of rows, 3 partitions") {
    val dir = tmpDir()
    sampleFile(dir, "sample_1.xlsx", Seq(1 -> "Alice", 2 -> "Bob"))
    sampleFile(dir, "sample_2.xlsx", Seq(3 -> "Charlie", 4 -> "David"))
    sampleFile(dir, "sample_3.xlsx", Seq(5 -> "Eve"))
    new File(dir, "ignored.txt").createNewFile() // non-xlsx must be skipped

    val df = spark.read.format("excel")
      .schema(idName)
      .option("header", "true").option("inferSchema", "false")
      .option("path", dir.getAbsolutePath)
      .load()
    assert(df.rdd.getNumPartitions == 3) // N files → N partitions contract
    val got = df.collect().map(r => (r.getInt(0), r.getString(1))).toSet
    assert(got == Set(1 -> "Alice", 2 -> "Bob", 3 -> "Charlie",
      4 -> "David", 5 -> "Eve"))
  }

  test("directory read admits .xlsm (same OOXML zip), still skips .xls") {
    val dir = tmpDir()
    sampleFile(dir, "plain.xlsx", Seq(1 -> "Alice"))
    // an .xlsm is the identical zip container (the reader never opens the
    // macro part), so writing one with the same codec is a faithful fixture
    sampleFile(dir, "macro.XLSM", Seq(2 -> "Bob")) // case-insensitive too
    new File(dir, "legacy.xls").createNewFile() // BIFF, not a zip: skipped

    val df = spark.read.format("excel")
      .schema(idName)
      .option("header", "true").option("inferSchema", "false")
      .option("path", dir.getAbsolutePath)
      .load()
    assert(df.rdd.getNumPartitions == 2)
    val got = df.collect().map(r => (r.getInt(0), r.getString(1))).toSet
    assert(got == Set(1 -> "Alice", 2 -> "Bob"))
  }

  test("xlsxOnly=true restores the reference's .xlsx-only listing (B6 parity)") {
    val dir = tmpDir()
    sampleFile(dir, "plain.xlsx", Seq(1 -> "Alice"))
    sampleFile(dir, "macro.xlsm", Seq(2 -> "Bob"))
    def read(strict: Boolean) = spark.read.format("excel")
      .schema(idName)
      .option("header", "true").option("inferSchema", "false")
      .option("xlsxOnly", strict.toString)
      .option("path", dir.getAbsolutePath)
      .load()
    // default: superset admits the .xlsm
    assert(read(strict = false).count() == 2)
    // strict parity: the .xlsm vanishes from the listing entirely
    val strictDf = read(strict = true)
    assert(strictDf.rdd.getNumPartitions == 1)
    assert(strictDf.collect().map(r => (r.getInt(0), r.getString(1))).toSet ==
      Set(1 -> "Alice"))
  }

  test("OFFSET on a single-file scan runs as an engine operator") {
    val dir = tmpDir()
    val f = sampleFile(dir, "one.xlsx", (1 to 10).map(i => i -> s"n$i"))
    val df = spark.read.format("excel").schema(idName)
      .option("header", "true").option("inferSchema", "false")
      .load(f.getAbsolutePath)
    val page = df.offset(3)
    assert(page.collect().map(_.getInt(0)).toSeq == (4 to 10))
    // offset + limit pagination: rows 4..6
    val p2 = df.offset(3).limit(3)
    assert(p2.collect().map(_.getInt(0)).toSeq == (4 to 6))
  }

  test("TABLESAMPLE runs as Spark's Sample above the scan") {
    val dir = tmpDir()
    sampleFile(dir, "s1.xlsx", (1 to 400).map(i => i -> s"n$i"))
    sampleFile(dir, "s2.xlsx", (401 to 800).map(i => i -> s"n$i"))
    val df = spark.read.format("excel").schema(idName)
      .option("header", "true").option("inferSchema", "false")
      .option("path", dir.getAbsolutePath).load()
    val s = df.sample(withReplacement = false, fraction = 0.25, seed = 7L)
    val plan = s.queryExecution.executedPlan.toString
    assert(plan.contains("Sample "), s"Sample operator missing:\n$plan")
    assert(!plan.contains("PushedSample"), plan)
    val ids = s.collect().map(_.getInt(0)).toSeq
    // Bernoulli(0.25) over 800 rows: mean 200, sd ≈ 12 → a ±6σ window
    assert(ids.length > 120 && ids.length < 280, s"got ${ids.length}")
    assert(ids == ids.sorted && ids.distinct == ids) // per-file order, no dups
    // deterministic: the same scan re-collected reproduces the sample
    assert(s.collect().map(_.getInt(0)).toSeq == ids)
    // composes with aggregation above the scan
    assert(s.count() == ids.length)
    // with replacement: Spark's Poisson sample, a Sample node as well
    val wr = df.sample(withReplacement = true, fraction = 0.25, seed = 7L)
    assert(wr.queryExecution.executedPlan.toString.contains("Sample "))
    val wrIds = wr.collect().map(_.getInt(0)).toSeq
    assert(wrIds.length > 120 && wrIds.length < 280, s"got ${wrIds.length}")
  }

  test("sample + offset never both push (offset over raw rows would be wrong)") {
    val dir = tmpDir()
    val f = sampleFile(dir, "so.xlsx", (1 to 200).map(i => i -> s"n$i"))
    val df = spark.read.format("excel").schema(idName)
      .option("header", "true").option("inferSchema", "false")
      .load(f.getAbsolutePath)
    val q = df.sample(withReplacement = false, fraction = 0.5, seed = 3L)
      .offset(4)
    val plan = q.queryExecution.executedPlan.toString
    // both stay engine operators: SQL semantics skip 4 SAMPLED rows, not
    // 4 raw rows
    assert(!plan.contains("PushedSample"), plan)
    // values: engine result == sampled rows minus the first 4
    val sampled = df.sample(withReplacement = false, fraction = 0.5, seed = 3L)
      .collect().map(_.getInt(0)).toSeq
    assert(q.collect().map(_.getInt(0)).toSeq == sampled.drop(4))
  }

  test("OFFSET declines on multi-file scans (order undefined), still correct") {
    val dir = tmpDir()
    sampleFile(dir, "a.xlsx", Seq(1 -> "x", 2 -> "y"))
    sampleFile(dir, "b.xlsx", Seq(3 -> "z", 4 -> "w"))
    val df = spark.read.format("excel").schema(idName)
      .option("header", "true").option("inferSchema", "false")
      .option("path", dir.getAbsolutePath).load()
    val page = df.orderBy("id").offset(1)
    assert(page.collect().map(_.getInt(0)).toSeq == Seq(2, 3, 4))
  }

  test("user schema: extra file columns ignored") {
    val dir = tmpDir()
    val f = new File(dir, "extra.xlsx")
    val w = new XlsxWriter(new FileOutputStream(f))
    w.writeRow(Seq("id", "name", "extra"))
    w.writeRow(Seq(1L, "Alice", "X"))
    w.close()
    val df = spark.read.format("excel").schema(idName)
      .load(f.getAbsolutePath)
    assert(df.columns.toSeq == Seq("id", "name"))
    assert(df.collect().map(r => (r.getInt(0), r.getString(1))).toSet ==
      Set(1 -> "Alice"))
  }

  test("user schema: missing file column → read error") {
    val dir = tmpDir()
    val f = new File(dir, "missing.xlsx")
    val w = new XlsxWriter(new FileOutputStream(f))
    w.writeRow(Seq("id"))
    w.writeRow(Seq(1L))
    w.close()
    val df = spark.read.format("excel").schema(idName)
      .load(f.getAbsolutePath)
    val e = intercept[Exception](df.collect())
    assert(e.getMessage.contains("name") ||
      Option(e.getCause).exists(_.getMessage.contains("name")))
  }

  test("inferSchema=true → Integer id, String name") {
    val dir = tmpDir()
    val f = sampleFile(dir, "infer.xlsx", Seq(1 -> "Alice", 2 -> "Bob"))
    val df = spark.read.format("excel")
      .option("inferSchema", "true").load(f.getAbsolutePath)
    assert(df.schema("id").dataType == IntegerType) // reference-compatible
    assert(df.schema("name").dataType == StringType)
    assert(df.collect().map(r => (r.getInt(0), r.getString(1))).toSet ==
      Set(1 -> "Alice", 2 -> "Bob"))
  }

  test("inferSchema=false, no schema → all strings, numeric text without .0") {
    val dir = tmpDir()
    val f = sampleFile(dir, "strings.xlsx", Seq(1 -> "Alice"))
    val df = spark.read.format("excel")
      .option("inferSchema", "false").load(f.getAbsolutePath)
    assert(df.schema.fields.forall(_.dataType == StringType))
    val row = df.collect().head
    assert(row.getString(0) == "1") // "1", not "1.0" (connector.py:129-141 intent)
    assert(row.getString(1) == "Alice")
  }

  test("inferSchema=false + user schema → schema wins") {
    val dir = tmpDir()
    val f = sampleFile(dir, "schemawins.xlsx", Seq(7 -> "Zoe"))
    val df = spark.read.format("excel").schema(idName)
      .option("inferSchema", "false").load(f.getAbsolutePath)
    assert(df.schema == idName)
    assert(df.collect().map(r => (r.getInt(0), r.getString(1))).toSet == Set(7 -> "Zoe"))
  }

  test("N files → N partitions with per-file contents") {
    val dir = tmpDir()
    (1 to 5).foreach(i => sampleFile(dir, s"sample_$i.xlsx", Seq(i -> s"Name_$i")))
    val df = spark.read.format("excel").schema(idName)
      .load(dir.getAbsolutePath)
    assert(df.rdd.getNumPartitions == 5)
    assert(df.count() == 5)
    assert(df.collect().map(r => (r.getInt(0), r.getString(1))).toSet ==
      (1 to 5).map(i => i -> s"Name_$i").toSet)
  }

  test("write round-trip: single partition, mode overwrite") {
    val dir = tmpDir()
    val out = new File(dir, "output.xlsx").getAbsolutePath
    import spark.implicits._
    val df = Seq((1, "Alice"), (2, "Bob"), (3, "Charlie")).toDF("id", "name")
    df.coalesce(1).write.format("excel").mode("overwrite").save(out)
    // overwrite again to exercise truncate
    df.coalesce(1).write.format("excel").mode("overwrite").save(out)
    val back = spark.read.format("excel").schema(idName).load(out)
    assert(back.collect().map(r => (r.getInt(0), r.getString(1))).toSet ==
      Set(1 -> "Alice", 2 -> "Bob", 3 -> "Charlie"))
  }

  test("headerBold + columnWidths style the workbook without changing data") {
    val dir = tmpDir()
    val out = new File(dir, "styled.xlsx")
    import spark.implicits._
    val df = Seq((1, "Alice"), (2, "Bob")).toDF("id", "name")
    df.coalesce(1).write.format("excel")
      .option("headerBold", "true")
      .option("columnWidths", "id=8,name=32")
      .mode("overwrite").save(out.getAbsolutePath)

    // data round-trips unchanged through our reader (styles are ignored)
    val back = spark.read.format("excel").schema(idName)
      .load(out.getAbsolutePath)
    assert(back.collect().map(r => (r.getInt(0), r.getString(1))).toSet ==
      Set(1 -> "Alice", 2 -> "Bob"))

    // the OOXML parts carry the styling: a <cols> block with both widths
    // and a bold header xf referenced by the header cells
    val zf = new java.util.zip.ZipFile(out)
    def part(n: String): String = {
      val in = zf.getInputStream(zf.getEntry(n))
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    }
    try {
      val sheet1 = part("xl/worksheets/sheet1.xml")
      assert(sheet1.contains("<cols>") &&
        sheet1.contains("min=\"1\" max=\"1\" width=\"8.0\"") &&
        sheet1.contains("min=\"2\" max=\"2\" width=\"32.0\""), sheet1.take(400))
      assert(sheet1.contains("s=\"3\""), "header cells should use the bold xf")
      val styles = part("xl/styles.xml")
      assert(styles.contains("<b/>"), "bold font must exist")
      assert(styles.contains("fontId=\"1\""), "an xf must reference it")
    } finally zf.close()

    // unknown width column name is rejected at planning
    val e = intercept[IllegalArgumentException] {
      df.write.format("excel").option("columnWidths", "nope=9")
        .mode("overwrite").save(new File(dir, "x.xlsx").getAbsolutePath)
    }
    assert(e.getMessage.contains("not in the write schema"))
  }

  test("write: multi-partition merge preserves partition order into ONE file") {
    val dir = tmpDir()
    val out = new File(dir, "merged.xlsx").getAbsolutePath
    import spark.implicits._
    val df = spark.range(0, 100, 1, 8) // 8 partitions, ordered ids
      .select($"id".cast("int").as("id"),
        concat(lit("n"), $"id").as("name"))
    df.write.format("excel").mode("overwrite").save(out)
    assert(new File(out).isFile) // single workbook, not a directory
    val back = spark.read.format("excel").schema(idName).load(out)
    val ids = back.collect().map(_.getInt(0)).toSeq
    assert(ids == (0 until 100)) // partition-ordered merge ⇒ deterministic
  }

  /** Drives a two-task merged write of `out` by hand, cuts the last byte
    * off task 1's temp segment and commits: the commit must refuse it.
    * Returns the commit's error and the victim segment's temp path. */
  private def commitTruncatedSegment(out: File,
      truncate: Boolean): (org.apache.spark.SparkException, String) = {
    spark.conf // the commit reads the active session's Hadoop conf
    val schema = StructType(Seq(StructField("id", LongType)))
    val builder = new ExcelWriteBuilder(schema,
      ExcelOptions.fromMap(Map("path" -> out.getAbsolutePath)))
    if (truncate) builder.truncate()
    val write = builder.build()
    val factory = write.toBatch.createBatchWriterFactory(
      new org.apache.spark.sql.connector.write.PhysicalWriteInfo {
        override def numPartitions(): Int = 2
      })
    val messages = (0 until 2).map { p =>
      val w = factory.createWriter(p, p.toLong)
      (0 until 2000).foreach(i =>
        w.write(org.apache.spark.sql.catalyst.InternalRow(i.toLong * (p + 1))))
      w.commit()
    }
    val victim = messages(1).asInstanceOf[ExcelCommitMessage].segments.head.tempPath
    val raf = new java.io.RandomAccessFile(victim, "rw")
    try raf.setLength(raf.length() - 1) finally raf.close()
    (intercept[org.apache.spark.SparkException](
      write.toBatch.commit(messages.toArray)), victim)
  }

  /** Temp dirs and staging files a write left behind in `dir`. */
  private def litter(dir: File): Seq[String] = dir.list().toSeq
    .filter(n => n.contains("__graft") || n.contains("inprogress"))

  test("merged write: a truncated temp segment fails the commit, never spliced") {
    val dir = tmpDir()
    val (e, victim) = commitTruncatedSegment(new File(dir, "guard.xlsx"), truncate = false)
    assert(e.getMessage.contains(victim) &&
      e.getMessage.contains("partition 1"), e.getMessage)
    assert(dir.list().isEmpty, s"nothing committed: ${dir.list().mkString(", ")}")
  }

  test("overwrite: a truncated temp segment leaves the previous workbook as it was") {
    val dir = tmpDir()
    val out = sampleFile(dir, "guard.xlsx", Seq(7 -> "seven"))
    val before = Files.readAllBytes(out.toPath)
    val (e, victim) = commitTruncatedSegment(out, truncate = true)
    assert(e.getMessage.contains(victim), e.getMessage)
    assert(out.isFile && java.util.Arrays.equals(Files.readAllBytes(out.toPath), before),
      "the failed overwrite must not touch the old workbook")
    assert(spark.read.format("excel").schema(idName).load(out.getAbsolutePath)
      .collect().map(r => (r.getInt(0), r.getString(1))).toSeq == Seq(7 -> "seven"))
    assert(litter(dir).isEmpty, litter(dir))
  }

  test("overwrite: a commit that rejects colliding sheet names keeps the previous workbook") {
    val dir = tmpDir()
    val out = new File(dir, "keep.xlsx")
    import spark.implicits._
    Seq((1, "one")).toDF("id", "name").coalesce(1)
      .write.format("excel").mode("overwrite").save(out.getAbsolutePath)
    val before = Files.readAllBytes(out.toPath)
    // "Foo" and "foo" arrive in different tasks (one row in each of two
    // partitions): only the driver's commit sees both
    val routed = spark.range(0, 2, 1, 2).select(col("id").cast("int").as("id"),
      when(col("id") === 0, lit("Foo")).otherwise(lit("foo")).as("region"))
    assert(routed.rdd.getNumPartitions == 2)
    val e = intercept[Exception](routed
      .write.format("excel").option("sheetColumn", "region")
      .mode("overwrite").save(out.getAbsolutePath))
    assert(msgs(e).exists(_.contains("collide case-insensitively")), msgs(e))
    assert(out.isFile && java.util.Arrays.equals(Files.readAllBytes(out.toPath), before),
      "the failed overwrite must not touch the old workbook")
    assert(spark.read.format("excel").schema(idName).load(out.getAbsolutePath)
      .collect().map(r => (r.getInt(0), r.getString(1))).toSeq == Seq(1 -> "one"))
    assert(litter(dir).isEmpty, litter(dir))
  }

  test("write metrics: per-task rows and bytes, driver splice time and bytes") {
    import org.apache.spark.sql.execution.{CommandResultExec, SparkPlan}
    import org.apache.spark.sql.util.QueryExecutionListener
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case c: CommandResultExec => nodes(c.commandPhysicalPlan)
      case other => other.collect { case n => n }
    }
    val out = new File(tmpDir(), "metrics.xlsx").getAbsolutePath
    spark.listenerManager.register(listener)
    val metrics = try {
      spark.range(0, 1000, 1, 4).toDF("id")
        .write.format("excel").mode("overwrite").save(out)
      // listener events are delivered asynchronously
      val deadline = System.nanoTime() + 30L * 1000000000L
      var found: Option[Map[String, Long]] = None
      while (found.isEmpty && System.nanoTime() < deadline) {
        found = plans.toArray(Array.empty[SparkPlan]).iterator
          .flatMap(nodes).map(_.metrics)
          .find(_.contains(ExcelWriteMetrics.SplicedBytes))
          .map(_.map { case (k, m) => k -> m.value })
        if (found.isEmpty) Thread.sleep(50)
      }
      found.getOrElse(fail("no executed write plan carries the excel metrics"))
    } finally spark.listenerManager.unregister(listener)
    assert(metrics(ExcelWriteMetrics.RowsWritten) == 1000)
    // the driver splices exactly the bytes its tasks wrote
    assert(metrics(ExcelWriteMetrics.BytesWritten) > 0)
    assert(metrics(ExcelWriteMetrics.SplicedBytes) ==
      metrics(ExcelWriteMetrics.BytesWritten), metrics)
    assert(metrics(ExcelWriteMetrics.SplicedBytes) < new File(out).length())
    assert(metrics(ExcelWriteMetrics.SpliceTimeMs) >= 0)
  }

  test("write round-trip across all six types incl. date/timestamp/bool") {
    val dir = tmpDir()
    val out = new File(dir, "types.xlsx").getAbsolutePath
    import spark.implicits._
    val df = Seq(
      (1, 9999999999L, 1.5, true,
        java.sql.Date.valueOf("2020-02-29"),
        java.sql.Timestamp.valueOf("2024-06-01 12:34:56")),
      (2, -5L, -0.25, false,
        java.sql.Date.valueOf("1970-01-01"),
        java.sql.Timestamp.valueOf("1999-12-31 23:59:59"))
    ).toDF("i", "l", "d", "b", "dt", "ts")
    df.coalesce(1).write.format("excel").mode("overwrite").save(out)
    val schema = StructType(Seq(
      StructField("i", IntegerType), StructField("l", LongType),
      StructField("d", DoubleType), StructField("b", BooleanType),
      StructField("dt", DateType), StructField("ts", TimestampType)))
    val back = spark.read.format("excel").schema(schema).load(out)
      .orderBy("i").collect()
    assert(back(0).getInt(0) == 1)
    assert(back(0).getLong(1) == 9999999999L)
    assert(back(0).getDouble(2) == 1.5)
    assert(back(0).getBoolean(3))
    assert(back(0).getDate(4) == java.sql.Date.valueOf("2020-02-29"))
    assert(back(0).getTimestamp(5) == java.sql.Timestamp.valueOf("2024-06-01 12:34:56"))
    assert(back(1).getTimestamp(5) == java.sql.Timestamp.valueOf("1999-12-31 23:59:59"))
  }

  test("sheetName selects a sheet by name or index") {
    // hand-craft a 2-sheet workbook (writer is single-sheet by design)
    val dir = tmpDir()
    val f = new File(dir, "multi.xlsx")
    val zip = new java.util.zip.ZipOutputStream(new FileOutputStream(f))
    def entry(name: String, content: String): Unit = {
      zip.putNextEntry(new java.util.zip.ZipEntry(name))
      zip.write(content.getBytes("UTF-8")); zip.closeEntry()
    }
    entry("xl/workbook.xml",
      """<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheets><sheet name="Data" sheetId="1" r:id="rId1"/><sheet name="Other" sheetId="2" r:id="rId2"/></sheets></workbook>""")
    entry("xl/_rels/workbook.xml.rels",
      """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/><Relationship Id="rId2" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet2.xml"/></Relationships>""")
    entry("xl/worksheets/sheet1.xml",
      """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData><row r="1"><c t="inlineStr"><is><t>id</t></is></c></row><row r="2"><c><v>1</v></c></row></sheetData></worksheet>""")
    entry("xl/worksheets/sheet2.xml",
      """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData><row r="1"><c t="inlineStr"><is><t>id</t></is></c></row><row r="2"><c><v>2</v></c></row></sheetData></worksheet>""")
    zip.close()
    val one = StructType(Seq(StructField("id", IntegerType)))
    val byName = spark.read.format("excel").schema(one)
      .option("sheetName", "Other").load(f.getAbsolutePath)
    assert(byName.collect().head.getInt(0) == 2)
    val byIdx = spark.read.format("excel").schema(one)
      .option("sheetName", "0").load(f.getAbsolutePath)
    assert(byIdx.collect().head.getInt(0) == 1)
  }

  test("header=false → positional columns named 0,1") {
    val dir = tmpDir()
    val f = sampleFile(dir, "nohead.xlsx", Seq(1 -> "Alice"), header = false)
    val df = spark.read.format("excel")
      .option("header", "false").load(f.getAbsolutePath)
    assert(df.columns.toSeq == Seq("0", "1"))
    assert(df.collect().head.getInt(0) == 1)
  }

  test("header=false + column pruning reads the right file columns") {
    // regression: after select(), positions must map through the FULL
    // schema, not the pruned one (the second column is still file col 1)
    val dir = tmpDir()
    val f = sampleFile(dir, "noheadprune.xlsx",
      Seq(1 -> "Alice", 2 -> "Bob"), header = false)
    val df = spark.read.format("excel")
      .option("header", "false").load(f.getAbsolutePath)
      .select("1") // prune to the second (string) column only
    assert(df.collect().map(_.getString(0)).toSet == Set("Alice", "Bob"))
    // and a pushed filter on the pruned read evaluates the right cells
    val df2 = spark.read.format("excel")
      .option("header", "false").load(f.getAbsolutePath)
      .filter(col("1") === "Bob").select("1")
    assert(df2.collect().map(_.getString(0)).toSeq == Seq("Bob"))
  }

  test("column pruning reaches the scan") {
    val dir = tmpDir()
    sampleFile(dir, "prune.xlsx", Seq(1 -> "Alice", 2 -> "Bob"))
    val df = spark.read.format("excel").schema(idName)
      .load(dir.getAbsolutePath).select("name")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("columns=[name]"), s"plan was:\n$plan")
    assert(df.collect().map(_.getString(0)).toSet == Set("Alice", "Bob"))
  }

  test("enableArrow=true: columnar read returns identical results") {
    val dir = tmpDir()
    sampleFile(dir, "col1.xlsx", Seq(1 -> "Alice", 2 -> "Bob"))
    sampleFile(dir, "col2.xlsx", Seq(3 -> "Carol"))
    val rowDf = spark.read.format("excel").schema(idName)
      .load(dir.getAbsolutePath)
    // the option is accepted and ignored: the same row scan runs
    val colDf = spark.read.format("excel").schema(idName)
      .option("enableArrow", "true").load(dir.getAbsolutePath)
    assert(colDf.collect().map(r => (r.getInt(0), r.getString(1))).toSet ==
      rowDf.collect().map(r => (r.getInt(0), r.getString(1))).toSet)
  }

  test("enableArrow=true round-trips all six types") {
    val dir = tmpDir()
    val out = new File(dir, "coltypes.xlsx").getAbsolutePath
    import spark.implicits._
    val df = Seq((1, 2L, 1.5, true,
      java.sql.Date.valueOf("2021-07-04"),
      java.sql.Timestamp.valueOf("2022-03-04 05:06:07")))
      .toDF("i", "l", "d", "b", "dt", "ts")
    df.coalesce(1).write.format("excel").mode("overwrite").save(out)
    val schema = StructType(Seq(
      StructField("i", IntegerType), StructField("l", LongType),
      StructField("d", DoubleType), StructField("b", BooleanType),
      StructField("dt", DateType), StructField("ts", TimestampType)))
    val back = spark.read.format("excel").schema(schema)
      .option("enableArrow", "true").load(out).collect().head
    assert(back.getInt(0) == 1 && back.getLong(1) == 2L)
    assert(back.getDouble(2) == 1.5 && back.getBoolean(3))
    assert(back.getDate(4) == java.sql.Date.valueOf("2021-07-04"))
    assert(back.getTimestamp(5) == java.sql.Timestamp.valueOf("2022-03-04 05:06:07"))
  }

  test("inferSampleFiles>1 merges and widens schemas across files") {
    val dir = tmpDir()
    // file 1: id int, name string; file 2: id has fractional → double, extra col
    val f1 = new File(dir, "a.xlsx")
    val w1 = new XlsxWriter(new FileOutputStream(f1))
    w1.writeRow(Seq("id", "name")); w1.writeRow(Seq(1L, "x")); w1.close()
    val f2 = new File(dir, "b.xlsx")
    val w2 = new XlsxWriter(new FileOutputStream(f2))
    w2.writeRow(Seq("id", "name", "score"))
    w2.writeRow(Seq(2.5, "y", 7L)); w2.close()

    val one = spark.read.format("excel")
      .option("inferSampleFiles", "1").load(dir.getAbsolutePath)
    assert(one.schema("id").dataType == IntegerType) // first file only

    val merged = spark.read.format("excel")
      .option("inferSampleFiles", "2")
      .option("allowMissingColumns", "true").load(dir.getAbsolutePath)
    assert(merged.schema("id").dataType == DoubleType) // Int ⊕ Double widened
    assert(merged.schema.fieldNames.toSeq == Seq("id", "name", "score"))
    // rows from the file lacking `score` read as null there
    val rows = merged.orderBy("id").collect()
    assert(rows(0).isNullAt(2) && rows(1).getInt(2) == 7)
  }

  test("limit pushdown stops per-partition row decode early") {
    val dir = tmpDir()
    sampleFile(dir, "lim.xlsx", (1 to 500).map(i => i -> s"n$i"))
    val df = spark.read.format("excel").schema(idName)
      .load(dir.getAbsolutePath).limit(3)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("limit=3"), s"limit not pushed into scan:\n$plan")
    assert(df.collect().length == 3)
  }

  test("codec throughput: ≥50k rows/sec single-threaded read") {
    val dir = tmpDir()
    val f = new File(dir, "big.xlsx")
    val w = new XlsxWriter(new FileOutputStream(f))
    w.writeRow(Seq("id", "name", "score"))
    (1 to 100000).foreach(i => w.writeRow(Seq(i.toLong, s"name_$i", i * 1.5)))
    w.close()
    val r = new XlsxReader(f)
    val t0 = System.nanoTime()
    val n = r.rowIterator(r.sheets.head).length
    val secs = (System.nanoTime() - t0) / 1e9
    r.close()
    assert(n == 100001)
    val rate = n / secs
    info(f"xlsx read rate: $rate%.0f rows/sec")
    assert(rate > 50000, f"codec too slow: $rate%.0f rows/sec")
  }

  test("filters on data columns run in Spark above the scan") {
    val dir = tmpDir()
    sampleFile(dir, "filt.xlsx", (1 to 100).map(i => i -> s"name_$i"))
    val df = spark.read.format("excel").schema(idName)
      .load(dir.getAbsolutePath)
      .filter(col("id") > 90 && col("name").startsWith("name_9"))
    val plan = df.queryExecution.executedPlan.toString
    // only `_file_path` and `_sheet` filters prune planning, so no data
    // column filter is listed as pushed
    assert(!plan.contains("GreaterThan(id,90)"), plan)
    assert(!plan.contains("PushedFilters=["), plan)
    assert(df.collect().map(_.getInt(0)).sorted.toSeq == (91 to 99)) // name_100 !~ name_9*
    // filters on date/timestamp/boolean types
    val out = new File(dir, "typed.xlsx").getAbsolutePath
    import spark.implicits._
    Seq((java.sql.Date.valueOf("2024-01-01"), true),
      (java.sql.Date.valueOf("2025-06-01"), false))
      .toDF("d", "b").coalesce(1)
      .write.format("excel").mode("overwrite").save(out)
    val typed = StructType(Seq(StructField("d", DateType), StructField("b", BooleanType)))
    val got = spark.read.format("excel").schema(typed).load(out)
      .filter(col("d") > java.sql.Date.valueOf("2024-12-31") && !col("b"))
      .collect()
    assert(got.length == 1 && got.head.getDate(0) == java.sql.Date.valueOf("2025-06-01"))
  }

  test("append to an existing workbook fails clearly (xlsx is not appendable)") {
    val dir = tmpDir()
    val out = new File(dir, "app.xlsx").getAbsolutePath
    import spark.implicits._
    val df = Seq((1, "x")).toDF("id", "name")
    df.write.format("excel").mode("append").save(out) // no file yet → creates
    val e = intercept[Exception](
      df.write.format("excel").mode("append").save(out))
    assert(msgs(e).exists(m => m.contains("already exists") || m.contains("PATH_ALREADY_EXISTS")),
      e.toString)
  }

  test("corrupt file: read error names the file; inference wraps as AnalysisException") {
    val dir = tmpDir()
    val f = new File(dir, "garbage.xlsx")
    java.nio.file.Files.write(f.toPath, "this is not a zip".getBytes)
    // read path with schema → SparkException naming the file
    val df = spark.read.format("excel").schema(idName).load(f.getAbsolutePath)
    val e = intercept[Exception](df.collect())
    assert(msgs(e).exists(_.contains("garbage.xlsx")), e.toString)
    // inference path → AnalysisException (reference error normalization)
    intercept[AnalysisException](
      spark.read.format("excel").load(f.getAbsolutePath))
  }

  test("missing path → AnalysisException") {
    intercept[AnalysisException] {
      spark.read.format("excel").load("/no/such/dir/anywhere")
    }
  }
}
