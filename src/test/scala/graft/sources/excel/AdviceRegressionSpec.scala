package graft.sources.excel

import java.io.{File, FileOutputStream}
import java.nio.file.Files
import java.time.LocalDateTime

import org.apache.hadoop.conf.Configuration

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Regression tests for the round-1 review findings (ADVICE.md):
  * 1. data rows wider than the header must stay loadable (inference names
  *    trailing columns `Unnamed: N`; the partition reader must resolve them),
  * 2. a limit above a filter must count rows KEPT by the filter, not raw rows,
  * 3. timestamps past 2262 must round-trip (micros→nanos Long overflow),
  * 4. an empty-string header cell names positionally (`Unnamed: N`),
  * 5. in-progress sink temp files must be invisible to directory listings.
  */
class AdviceRegressionSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def tmpDir(): File = {
    val d = Files.createTempDirectory("graft-advice-spec").toFile
    d.deleteOnExit()
    d
  }

  test("data rows wider than header: plain load() resolves Unnamed columns") {
    val dir = tmpDir()
    val f = new File(dir, "wide.xlsx")
    val w = new XlsxWriter(new FileOutputStream(f))
    w.writeRow(Seq("id", "name"))          // 2-column header
    w.writeRow(Seq(1L, "Alice", "extraA")) // 3-column data rows
    w.writeRow(Seq(2L, "Bob", "extraB"))
    w.close()

    val df = spark.read.format("excel").load(f.getAbsolutePath)
    assert(df.columns.toSeq == Seq("id", "name", "Unnamed: 2"))
    val got = df.collect().map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSet
    assert(got == Set((1, "Alice", "extraA"), (2, "Bob", "extraB")))
  }

  test("a limit above a filter counts kept rows, not raw rows") {
    val dir = tmpDir()
    val f = new File(dir, "lim.xlsx")
    val w = new XlsxWriter(new FileOutputStream(f))
    w.writeRow(Seq("id", "name"))
    (1 to 10).foreach(i => w.writeRow(Seq(i.toLong, s"row$i")))
    w.close()

    val schema = StructType(Seq(
      StructField("id", IntegerType), StructField("name", StringType)))
    // limit=3 with filter id>5: qualifying rows are 6..10; a scan that
    // took 3 raw rows before filtering would return nothing, so Spark
    // pushes no limit while a filter stays above the scan
    val df = spark.read.format("excel").schema(schema)
      .load(f.getAbsolutePath).filter(col("id") > 5).limit(3)
    val scan = df.queryExecution.executedPlan.toString.linesIterator
      .filter(_.contains("ExcelScan")).mkString("\n")
    assert(scan.nonEmpty && !scan.contains("limit="), scan)
    assert(df.collect().map(_.getInt(0)).toSeq == Seq(6, 7, 8))
  }

  test("timestamps past 2262 round-trip through the sink") {
    import spark.implicits._
    val far = java.sql.Timestamp.valueOf(LocalDateTime.of(3000, 7, 4, 12, 30, 15))
    val near = java.sql.Timestamp.valueOf(LocalDateTime.of(2024, 1, 2, 3, 4, 5))
    val dir = tmpDir()
    val out = new File(dir, "ts.xlsx").getAbsolutePath
    Seq((1, far), (2, near)).toDF("id", "ts")
      .repartition(1).write.format("excel").mode("overwrite").save(out)

    val back = spark.read.format("excel")
      .schema(StructType(Seq(
        StructField("id", IntegerType), StructField("ts", TimestampType))))
      .load(out)
      .collect().map(r => (r.getInt(0), r.getTimestamp(1))).toMap
    assert(back(1) == far, "year-3000 timestamp must not overflow to garbage")
    assert(back(2) == near)
  }

  test("empty-string header cell names positionally like pandas") {
    val dir = tmpDir()
    val f = new File(dir, "emptyhdr.xlsx")
    val w = new XlsxWriter(new FileOutputStream(f))
    w.writeRow(Seq("id", "", "name"))
    w.writeRow(Seq(1L, "x", "Alice"))
    w.close()
    val df = spark.read.format("excel").load(f.getAbsolutePath)
    assert(df.columns.toSeq == Seq("id", "Unnamed: 1", "name"))
  }

  test("recursiveFileLookup descends into visible subdirectories only") {
    val dir = tmpDir()
    val mk = (rel: String) => {
      val f = new File(dir, rel)
      f.getParentFile.mkdirs()
      val w = new XlsxWriter(new FileOutputStream(f))
      w.writeRow(Seq("id")); w.writeRow(Seq(1L)); w.close()
    }
    mk("top.xlsx")
    mk("dt=2024-01-01/part.xlsx")
    mk("dt=2024-01-02/nested/deep.xlsx")
    mk("_hidden/skipme.xlsx")
    val conf = new Configuration()
    val flat = ExcelFiles.list(dir.getAbsolutePath, conf)
    assert(flat.map(p => new File(p).getName) == Seq("top.xlsx"))
    val rec = ExcelFiles.list(dir.getAbsolutePath, conf, recursive = true)
    assert(rec.map(p => new File(p).getName).sorted ==
      Seq("deep.xlsx", "part.xlsx", "top.xlsx"))

    // end to end through the option
    val df = spark.read.format("excel")
      .option("recursiveFileLookup", "true")
      .load(dir.getAbsolutePath)
    assert(df.count() == 3)
  }

  test("glob paths expand to matching files and directories") {
    val dir = tmpDir()
    val mk = (rel: String) => {
      val f = new File(dir, rel)
      f.getParentFile.mkdirs()
      val w = new XlsxWriter(new FileOutputStream(f))
      w.writeRow(Seq("id")); w.writeRow(Seq(1L)); w.close()
    }
    mk("a_keep.xlsx"); mk("b_skip.xlsx"); mk("sub1/c.xlsx"); mk("sub2/d.xlsx")
    val conf = new Configuration()
    val files = ExcelFiles.list(s"${dir.getAbsolutePath}/a_*.xlsx", conf)
    assert(files.map(p => new File(p).getName) == Seq("a_keep.xlsx"))
    val dirs = ExcelFiles.list(s"${dir.getAbsolutePath}/sub*", conf)
    assert(dirs.map(p => new File(p).getName).sorted == Seq("c.xlsx", "d.xlsx"))
    intercept[org.apache.spark.sql.AnalysisException] {
      ExcelFiles.list(s"${dir.getAbsolutePath}/nope_*.xlsx", conf)
    }
  }

  test("glob matches skip hidden, temp and non-excel entries like a dir listing") {
    val out = new File(tmpDir(), "out")
    val mk = (rel: String) => {
      val f = new File(out, rel)
      f.getParentFile.mkdirs()
      val w = new XlsxWriter(new FileOutputStream(f))
      w.writeRow(Seq("id")); w.writeRow(Seq(1L)); w.close()
    }
    mk("a.xlsx"); mk(".hidden.xlsx"); mk("_tmp.xlsx")
    mk(".__graft_tmp_abc/part-00000.xlsx"); mk("_temporary/part-00001.xlsx")
    Files.write(new File(out, "notes.txt").toPath, "not a workbook".getBytes)
    val conf = new Configuration()
    val names = (p: String) => ExcelFiles.list(p, conf).map(p => new File(p).getName)
    val o = out.getAbsolutePath
    assert(names(o) == Seq("a.xlsx"))
    assert(names(s"$o/*") == Seq("a.xlsx"))
    assert(names(s"$o/*.xlsx") == Seq("a.xlsx"))
    // a glob matching only skipped entries lists nothing; PATH_NOT_FOUND is
    // for a glob that matches nothing at all
    assert(names(s"$o/_*") == Nil)
    intercept[org.apache.spark.sql.AnalysisException](names(s"$o/nope*"))
    // end to end: the text file and the staging parts are never opened
    assert(spark.read.format("excel").load(s"$o/*").count() == 1)
  }

  test("min/max and count(*) stay above the scan") {
    import org.apache.spark.sql.functions._
    val dir = tmpDir()
    val mk = (name: String, rows: Seq[(Long, String, Double)]) => {
      val w = new XlsxWriter(new FileOutputStream(new File(dir, name)))
      w.writeRow(Seq("id", "name", "score"))
      rows.foreach { case (i, n, s) => w.writeRow(Seq(i, n, s)) }
      w.close()
    }
    mk("a.xlsx", Seq((5L, "eve", 1.5), (2L, "bob", 9.25)))
    mk("b.xlsx", Seq((9L, "ann", -3.0), (7L, "zed", 4.0)))
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType),
      StructField("score", DoubleType)))
    val df = spark.read.format("excel").schema(schema).load(dir.getAbsolutePath)

    val agg = df.agg(min(col("id")).as("mn"), max(col("id")).as("mx"),
      max(col("name")).as("mxs"), min(col("score")).as("mns"),
      count(lit(1)).as("n"))
    // min/max and count(*) are Spark aggregates over the plain row scan;
    // a lone count(*) reads an empty projection
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("PushedAggregation"), plan)
    assert(plan.contains("columns=[id,name,score]"), plan)
    val countPlan = df.agg(count(lit(1))).queryExecution.executedPlan.toString
    assert(!countPlan.contains("PushedAggregation"), countPlan)
    assert(countPlan.contains("columns=[]"), countPlan)
    val r = agg.collect().head
    assert((r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3), r.getLong(4)) ==
      ((2L, 9L, "zed", -3.0, 4L)))

    // a filter must disable the in-scan aggregation (rows conditionally kept)
    val filtered = df.filter(col("id") > 4).agg(min(col("id")))
    assert(!filtered.queryExecution.executedPlan.toString.contains("PushedAggregation"))
    assert(filtered.collect().head.getLong(0) == 5L)

    // null cells are ignored like SQL MIN/MAX
    val w = new XlsxWriter(new FileOutputStream(new File(dir, "c.xlsx")))
    w.writeRow(Seq("id", "name", "score"))
    w.writeRow(Seq(null, null, null))
    w.close()
    val withNulls = spark.read.format("excel").schema(schema)
      .load(dir.getAbsolutePath).agg(min(col("id")), max(col("name")))
    val r2 = withNulls.collect().head
    assert((r2.getLong(0), r2.getString(1)) == ((2L, "zed")))
  }

  test("count(*) counts through the row scan") {
    import org.apache.spark.sql.functions._
    val dir = tmpDir()
    val mkRows = (name: String, n: Int) => {
      val w = new XlsxWriter(new FileOutputStream(new File(dir, name)))
      w.writeRow(Seq("id", "name"))
      (1 to n).foreach(i => w.writeRow(Seq(i.toLong, s"r$i")))
      w.close()
    }
    mkRows("a.xlsx", 120)
    mkRows("b.xlsx", 80)
    val schema = StructType(Seq(
      StructField("id", IntegerType), StructField("name", StringType)))
    val df = spark.read.format("excel").schema(schema).load(dir.getAbsolutePath)

    val counted = df.groupBy().count()
    val plan = counted.queryExecution.executedPlan.toString
    assert(!plan.contains("PushedAggregation"), plan)
    assert(plan.contains("columns=[]"), plan)
    assert(counted.collect().head.getLong(0) == 200L)
    assert(df.count() == 200L)

    // a filtered count reads the filter's column
    val filtered = df.filter(col("id") > 100)
    assert(!filtered.groupBy().count().queryExecution.executedPlan.toString
      .contains("PushedAggregation"), "filtered count must not push down")
    assert(filtered.count() == 20L)

    // header=false counts every row
    val noHeader = spark.read.format("excel")
      .option("header", "false").option("inferSchema", "false")
      .load(new File(dir, "b.xlsx").getAbsolutePath)
    assert(noHeader.count() == 81L) // 80 data rows + the header line
  }

  test("invalid sheet names fail the write with a clear message") {
    import spark.implicits._
    val dir = tmpDir()
    def routedWrite(values: Seq[String]): Unit =
      values.zipWithIndex.map { case (v, i) => (i, v) }.toDF("id", "region")
        .coalesce(1).write.format("excel").option("sheetColumn", "region")
        .mode("overwrite").save(new File(dir, "bad.xlsx").getAbsolutePath)

    // data-dependent: empty, over-long, forbidden char, apostrophe edge
    for (bad <- Seq("", "x" * 32, "a/b", "q[1]", "'quoted'")) {
      val e = intercept[Exception] { routedWrite(Seq("ok", bad)) }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).exists(_.contains("Invalid Excel sheet name")),
        s"value '$bad' → ${msgs(e)}")
    }

    // fixed name via option fails at planning, before any task runs
    val e = intercept[Exception] {
      Seq((1, "a")).toDF("id", "v").write.format("excel")
        .option("sheetName", "bad:name")
        .mode("overwrite").save(new File(dir, "opt.xlsx").getAbsolutePath)
    }
    assert(e.getMessage.contains("Invalid Excel sheet name"), e.getMessage)
  }

  test("case-insensitively colliding routing values are rejected") {
    import spark.implicits._
    val dir = tmpDir()
    // one task sees both → the driver commit catches the collision
    val e = intercept[Exception] {
      Seq((1, "East"), (2, "east")).toDF("id", "region")
        .coalesce(1).write.format("excel").option("sheetColumn", "region")
        .mode("overwrite").save(new File(dir, "c1.xlsx").getAbsolutePath)
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("case-insensitively")), msgs(e).toString)

    // different tasks see them → the driver merge catches the collision
    val e2 = intercept[Exception] {
      Seq((1, "East"), (2, "east")).toDF("id", "region")
        .repartition(2, org.apache.spark.sql.functions.col("id"))
        .write.format("excel")
        .option("sheetColumn", "region")
        .mode("overwrite").save(new File(dir, "c2.xlsx").getAbsolutePath)
    }
    assert(msgs(e2).exists(_.contains("case-insensitively")), msgs(e2).toString)
  }

  test("routed writers are capped; evicted sheets keep rows and order") {
    import spark.implicits._
    // 40 routing values interleaved twice through the cap of 32: every
    // value is evicted and reopened, so each sheet has 2 temp segments
    val n = 40
    assert(n > ExcelDataWriter.MaxOpenSheets)
    val rows = (0 until 2).flatMap(rep =>
      (0 until n).map(s => (rep * n + s, s"sheet$s")))
    val out = new File(tmpDir(), "capped.xlsx")
    rows.toDF("id", "region").coalesce(1)
      .sortWithinPartitions("id") // deterministic emission order
      .write.format("excel").option("sheetColumn", "region")
      .mode("overwrite").save(out.getAbsolutePath)

    val back = spark.read.format("excel")
      .option("sheetName", "*").load(out.getAbsolutePath)
      .collect().map(r => (r.getInt(0), r.getString(1)))
    assert(back.length == 2 * n)
    // all rows present under their routing value
    assert(back.toSet == rows.map { case (i, s) => (i, s) }.toSet)
    // within each sheet, segment concatenation preserved row order
    back.groupBy(_._2).foreach { case (s, rs) =>
      val ids = rs.map(_._1).toSeq
      assert(ids == ids.sorted, s"sheet $s rows out of order: $ids")
    }
  }

  test("writes past Excel's 1,048,576-row sheet cap fail loudly") {
    // boundary at the writer level: exactly at the cap succeeds, one more
    // row throws (rows here are empty <row/> elements — the cap is on row
    // COUNT, so this exercises the guard without 40 MB of cell XML)
    val w = new XlsxWriter(java.io.OutputStream.nullOutputStream())
    (1 to XlsxWriter.MaxRowsPerSheet).foreach(_ => w.writeRow(Nil))
    val e = intercept[org.apache.spark.SparkException] { w.writeRow(Nil) }
    assert(e.getMessage.contains("Excel row limit exceeded"), e.getMessage)
    // a new sheet resets the budget
    w.startSheet("second")
    w.writeRow(Seq(1L))
    w.close()

    // end to end: an oversize single-sheet Spark write fails the job with
    // the same message instead of emitting a workbook Excel can't open
    import spark.implicits._
    val out = new File(tmpDir(), "toobig.xlsx").getAbsolutePath
    val e2 = intercept[Exception] {
      spark.range(XlsxWriter.MaxRowsPerSheet.toLong + 1).map(_.toInt).toDF("id")
        .coalesce(1).write.format("excel").option("header", "false")
        .mode("overwrite").save(out)
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e2).exists(_.contains("Excel row limit exceeded")),
      msgs(e2).toString)

    // merged total: two partitions of half the cap each fit on their own,
    // and so does their sum; the header row tips the sheet over. The
    // driver counts header + segment rows before it writes any byte.
    val out2 = new File(tmpDir(), "twoparts.xlsx")
    val e3 = intercept[Exception] {
      spark.range(0, XlsxWriter.MaxRowsPerSheet.toLong, 1, 2).toDF("id")
        .write.format("excel").option("header", "true")
        .mode("overwrite").save(out2.getAbsolutePath)
    }
    assert(msgs(e3).exists(_.contains("Excel row limit exceeded")),
      msgs(e3).toString)
    assert(!out2.exists(), "no workbook may be committed past the cap")
    assert(out2.getParentFile.list().isEmpty,
      s"no staging or temp litter: ${out2.getParentFile.list().mkString(", ")}")
  }

  test("writes past Excel's 16,384-column sheet cap fail loudly") {
    // ragged data row wider than the cap → per-row guard
    val w = new XlsxWriter(java.io.OutputStream.nullOutputStream())
    w.writeRow(Seq.fill(XlsxWriter.MaxColsPerSheet)(null)) // at the cap: fine
    val e = intercept[org.apache.spark.SparkException] {
      w.writeRow(Seq.fill(XlsxWriter.MaxColsPerSheet + 1)(null))
    }
    assert(e.getMessage.contains("Excel column limit exceeded"), e.getMessage)
    w.close()

    // schema wider than the cap → rejected at planning, before any task
    import org.apache.spark.sql.types._
    val wide = StructType((0 to XlsxWriter.MaxColsPerSheet)
      .map(i => StructField(s"c$i", IntegerType)))
    val e2 = intercept[org.apache.spark.SparkException] {
      new ExcelWriteBuilder(wide,
        ExcelOptions.fromMap(Map("path" -> "/tmp/unused.xlsx"))).build()
    }
    assert(e2.getMessage.contains("Excel column limit exceeded"), e2.getMessage)
  }

  test("cells past Excel's 32,767-character cap fail loudly") {
    val f = new File(tmpDir(), "cellcap.xlsx")
    val w = new XlsxWriter(new FileOutputStream(f))
    val atCap = "x" * XlsxWriter.MaxCellChars
    w.writeRow(Seq("id", "text"))
    w.writeRow(Seq(1L, atCap)) // at the cap: fine
    val e = intercept[org.apache.spark.SparkException] {
      w.writeRow(Seq(2L, atCap + "y"))
    }
    Seq("Excel cell limit exceeded", "column B", "row 3",
      "32767", "Truncate", "parquet").foreach { s =>
      assert(e.getMessage.contains(s), e.getMessage)
    }
    // the failed row leaves no partial cells behind
    w.writeRow(Seq(3L, "ok"))
    w.close()
    val rd = new XlsxReader(f)
    try {
      val rows = rd.rowIterator(rd.sheets.head).toSeq
      assert(rows.length == 3, rows.map(_.toSeq))
      assert(rows(1)(1) == atCap) // the at-cap cell round-trips whole
      assert(rows(2)(1) == "ok", rows(2).toSeq)
    } finally rd.close()
  }

  test("dot/underscore-prefixed files are invisible to directory listings") {
    val dir = tmpDir()
    val mk = (name: String) => {
      val w = new XlsxWriter(new FileOutputStream(new File(dir, name)))
      w.writeRow(Seq("id")); w.writeRow(Seq(1L)); w.close()
    }
    mk("visible.xlsx")
    mk(".batch-00001.xlsx.inprogress.xlsx") // sink staging shape
    mk("_committed.xlsx")
    val listed = ExcelFiles.list(dir.getAbsolutePath, new Configuration())
    assert(listed.map(p => new File(p).getName) == Seq("visible.xlsx"))
  }
}
