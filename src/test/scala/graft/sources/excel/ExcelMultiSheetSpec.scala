package graft.sources.excel

import java.io.{File, FileOutputStream}
import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Multi-sheet workbooks: writer `startSheet` support, and the
  * `sheetName="*"` read extension — every sheet unioned under the merged
  * schema with a synthesized `_sheet` column; per-(file, sheet)
  * partitions; columns absent from a sheet read as nulls. */
class ExcelMultiSheetSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def tmpDir(): File = {
    val d = Files.createTempDirectory("graft-multisheet").toFile
    d.deleteOnExit()
    d
  }

  /** Two sheets: east(id, name), west(id, score) — overlapping + disjoint
    * columns. */
  private def regionsFile(dir: File): File = {
    val f = new File(dir, "regions.xlsx")
    val w = new XlsxWriter(new FileOutputStream(f), "east")
    w.writeRow(Seq("id", "name"))
    w.writeRow(Seq(1L, "Alice"))
    w.writeRow(Seq(2L, "Bob"))
    w.startSheet("west")
    w.writeRow(Seq("id", "score"))
    w.writeRow(Seq(3L, 9.5))
    w.close()
    f
  }

  test("multi-sheet writer round-trips through the reader by name and index") {
    val f = regionsFile(tmpDir())
    val rd = new XlsxReader(f)
    try {
      assert(rd.sheets.map(_.name) == Seq("east", "west"))
      assert(rd.rowIterator(rd.resolveSheet("east")).size == 3)
      assert(rd.rowIterator(rd.resolveSheet("1")).size == 2)
    } finally rd.close()
    // single-sheet reads through Spark still address sheets individually
    val west = spark.read.format("excel")
      .option("sheetName", "west").load(f.getAbsolutePath)
    assert(west.columns.toSeq == Seq("id", "score"))
    assert(west.count() == 1)
  }

  test("sheet names with XML-special characters round-trip") {
    val dir = tmpDir()
    val f = new File(dir, "escaped.xlsx")
    val w = new XlsxWriter(new FileOutputStream(f), """R&D <Q1> "beta"""")
    w.writeRow(Seq("id"))
    w.writeRow(Seq(1L))
    w.startSheet("später & 中文")
    w.writeRow(Seq("id"))
    w.writeRow(Seq(2L))
    w.close()
    val rd = new XlsxReader(f)
    try assert(rd.sheets.map(_.name) ==
      Seq("""R&D <Q1> "beta"""", "später & 中文"))
    finally rd.close()
    val df = spark.read.format("excel")
      .option("sheetName", "später & 中文").load(f.getAbsolutePath)
    assert(df.collect().map(_.getInt(0)).toSeq == Seq(2))
    val all = spark.read.format("excel")
      .option("sheetName", "*").load(f.getAbsolutePath)
    assert(all.select("_sheet").collect().map(_.getString(0)).toSet ==
      Set("""R&D <Q1> "beta"""", "später & 中文"))
  }

  test("duplicate sheet names are rejected at write time") {
    val w = new XlsxWriter(new FileOutputStream(
      new File(tmpDir(), "dup.xlsx")), "one")
    val e = intercept[IllegalArgumentException](w.startSheet("one"))
    assert(e.getMessage.contains("duplicate"))
    w.close()
  }

  test("sheetName=* unions all sheets with merged schema and _sheet column") {
    val f = regionsFile(tmpDir())
    val df = spark.read.format("excel")
      .option("sheetName", "*").load(f.getAbsolutePath)
    assert(df.columns.toSeq == Seq("id", "name", "score", "_sheet"))
    assert(df.rdd.getNumPartitions == 2) // one per (file, sheet)
    val rows = df.collect().map(r => (r.getInt(0),
      Option(r.getString(1)), Option(r.get(2)), r.getString(3))).toSet
    assert(rows == Set(
      (1, Some("Alice"), None, "east"),
      (2, Some("Bob"), None, "east"),
      (3, None, Some(9.5), "west")))
  }

  test("a real non-string _sheet column is shadowed as StringType") {
    val dir = tmpDir()
    val f = new File(dir, "shadow.xlsx")
    val w = new XlsxWriter(new FileOutputStream(f), "alpha")
    w.writeRow(Seq("id", "_sheet")) // real numeric column named _sheet
    w.writeRow(Seq(1L, 42L))
    w.startSheet("beta")
    w.writeRow(Seq("id", "_sheet"))
    w.writeRow(Seq(2L, 43L))
    w.close()
    val df = spark.read.format("excel")
      .option("sheetName", "*").load(f.getAbsolutePath)
    // inference would type the data column as integral; the synthesized
    // sheet-name column shadows it, so the schema must say String and the
    // values must be the sheet names — not a ClassCastException.
    assert(df.schema("_sheet").dataType == StringType)
    assert(df.collect().map(r =>
      (r.getInt(0), r.getString(df.schema.fieldIndex("_sheet")))).toSet ==
      Set(1 -> "alpha", 2 -> "beta"))
  }

  test("sheetName=* composes with filters and column selection") {
    val f = regionsFile(tmpDir())
    val df = spark.read.format("excel")
      .option("sheetName", "*").load(f.getAbsolutePath)
      .filter(col("_sheet") === "east")
      .select(col("id"), col("name"))
    assert(df.collect().map(r => (r.getInt(0), r.getString(1))).toSet ==
      Set(1 -> "Alice", 2 -> "Bob"))
    // count over all sheets (aggregate pushdown is bypassed in * mode)
    val all = spark.read.format("excel")
      .option("sheetName", "*").load(f.getAbsolutePath)
    assert(all.count() == 3)
  }

  test("a pushed _sheet filter prunes non-matching sheets at planning") {
    val f = regionsFile(tmpDir())
    val df = spark.read.format("excel")
      .option("sheetName", "*").load(f.getAbsolutePath)
      .filter(col("_sheet") === "east")
    assert(df.rdd.getNumPartitions == 1, "west sheet should never be planned")
    assert(df.select("id").collect().map(_.getInt(0)).toSet == Set(1, 2))
    // IN-list pruning keeps both listed sheets
    val both = spark.read.format("excel")
      .option("sheetName", "*").load(f.getAbsolutePath)
      .filter(col("_sheet").isin("east", "west"))
    assert(both.rdd.getNumPartitions == 2)
    assert(both.count() == 3)
  }

  test("sampling sheetName=* draws each sheet's rows independently") {
    // two sheets holding the same ids: a sample seeded per file and row
    // range, not per sheet, keeps the same row positions on both
    val f = new File(tmpDir(), "twins.xlsx")
    val w = new XlsxWriter(new FileOutputStream(f), "a")
    w.writeRow(Seq("id"))
    (1 to 200).foreach(i => w.writeRow(Seq(i.toLong)))
    w.startSheet("b")
    w.writeRow(Seq("id"))
    (1 to 200).foreach(i => w.writeRow(Seq(i.toLong)))
    w.close()
    val df = spark.read.format("excel")
      .option("sheetName", "*").load(f.getAbsolutePath)
    Seq(1L, 2L, 3L).foreach { seed =>
      val kept = df.sample(withReplacement = false, fraction = 0.5, seed = seed)
        .collect().groupBy(_.getString(1)).map { case (sheet, rows) =>
          sheet -> rows.map(_.getInt(0)).toSet }
      assert(kept.keySet == Set("a", "b"), kept.keySet)
      assert(kept("a") != kept("b"), s"seed $seed kept the same rows on both sheets")
    }
  }

  test("sheetColumn write routes rows to sheets and round-trips via _sheet") {
    import spark.implicits._
    val out = new File(tmpDir(), "routed.xlsx")
    val df = Seq(
      (1, "alpha", "east"), (2, "beta", "west"), (3, "gamma", "east"),
      (4, "delta", "north"), (5, "epsilon", "west"))
      .toDF("id", "name", "region")
      .repartition(3) // routing must survive multi-partition interleaving
    df.write.format("excel")
      .option("sheetColumn", "region")
      .mode("overwrite").save(out.getAbsolutePath)

    // the workbook has one sheet per region, sorted, data columns only
    val rd = new XlsxReader(out)
    try assert(rd.sheets.map(_.name) == Seq("east", "north", "west"))
    finally rd.close()

    // reading all sheets restores the routing value as _sheet
    val back = spark.read.format("excel")
      .option("sheetName", "*").load(out.getAbsolutePath)
    assert(back.columns.toSeq == Seq("id", "name", "_sheet"))
    val got = back.collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSet
    assert(got == Set((1, "alpha", "east"), (2, "beta", "west"),
      (3, "gamma", "east"), (4, "delta", "north"), (5, "epsilon", "west")))

    // single-sheet addressing works too
    val west = spark.read.format("excel")
      .option("sheetName", "west").load(out.getAbsolutePath)
    assert(west.collect().map(_.getInt(0)).toSet == Set(2, 5))
  }

  test("sheetColumn rejects null routing values, bad columns, sharded mode") {
    import spark.implicits._
    val dir = tmpDir()
    val withNull = Seq((1, Some("east")), (2, Option.empty[String]))
      .toDF("id", "region")
    val e = intercept[Exception] {
      withNull.write.format("excel").option("sheetColumn", "region")
        .mode("overwrite").save(new File(dir, "n.xlsx").getAbsolutePath)
    }
    assert(e.getMessage != null)

    val ok = Seq((1, "east")).toDF("id", "region")
    val e2 = intercept[IllegalArgumentException] {
      ok.write.format("excel").option("sheetColumn", "nope")
        .mode("overwrite").save(new File(dir, "m.xlsx").getAbsolutePath)
    }
    assert(e2.getMessage.contains("not in the write schema"))

    val e3 = intercept[UnsupportedOperationException] {
      ok.write.format("excel").option("sheetColumn", "region")
        .option("shardedOutput", "true")
        .mode("overwrite").save(new File(dir, "s").getAbsolutePath)
    }
    assert(e3.getMessage.contains("shardedOutput"))
  }

  test("sharded write: one visible part per partition, parallel, re-readable") {
    import spark.implicits._
    val out = new File(tmpDir(), "shards")
    val df = spark.range(1, 101)
      .select(col("id").cast("int").as("id"), concat(lit("n"), col("id")).as("name"))
      .repartition(4)
    df.write.format("excel")
      .option("shardedOutput", "true")
      .mode("overwrite").save(out.getAbsolutePath)

    val files = out.listFiles().filterNot(_.getName.startsWith(".")).map(_.getName).sorted
    assert(files.length == 4 && files.forall(_.matches("part-\\d{5}\\.xlsx")), files.toSeq)
    assert(out.listFiles().forall(f => !f.getName.contains("inprogress")))

    val back = spark.read.format("excel")
      .schema(StructType(Seq(StructField("id", IntegerType), StructField("name", StringType))))
      .load(out.getAbsolutePath)
    assert(back.rdd.getNumPartitions == 4)
    assert(back.collect().map(r => (r.getInt(0), r.getString(1))).toSet ==
      (1 to 100).map(i => (i, s"n$i")).toSet)

    // overwrite truncates the previous shards (no stale parts survive)
    df.coalesce(2).write.format("excel")
      .option("shardedOutput", "true")
      .mode("overwrite").save(out.getAbsolutePath)
    assert(out.listFiles().filterNot(_.getName.startsWith(".")).length == 2)
    val back2 = spark.read.format("excel")
      .schema(StructType(Seq(StructField("id", IntegerType), StructField("name", StringType))))
      .load(out.getAbsolutePath)
    assert(back2.count() == 100)
  }

  test("sharded streaming sink: per-epoch parallel shards, re-readable") {
    import spark.implicits._
    val in = tmpDir()
    val out = new File(tmpDir(), "stream-shards")
    val ckpt = Files.createTempDirectory("graft-shard-ckpt").toFile
    val w = new XlsxWriter(new FileOutputStream(new File(in, "a.xlsx")))
    w.writeRow(Seq("id", "name"))
    (1 to 40).foreach(i => w.writeRow(Seq(i.toLong, s"n$i")))
    w.close()

    val schema = StructType(Seq(
      StructField("id", IntegerType), StructField("name", StringType)))
    val q = spark.readStream.format("excel").schema(schema)
      .option("maxRowsPerPartition", "10") // 4 read splits → 4 shards
      .load(in.getAbsolutePath)
      .writeStream.format("excel")
      .outputMode("append")
      .option("shardedOutput", "true")
      .option("path", out.getAbsolutePath)
      .option("checkpointLocation", ckpt.getAbsolutePath)
      .start()
    try {
      q.processAllAvailable()
      val visible = out.listFiles().filterNot(_.getName.startsWith(".")).map(_.getName)
      assert(visible.length == 4 &&
        visible.forall(_.matches("batch-\\d{5}-part-\\d{5}\\.xlsx")), visible.toSeq)
      val back = spark.read.format("excel").schema(schema).load(out.getAbsolutePath)
      assert(back.collect().map(r => (r.getInt(0), r.getString(1))).toSet ==
        (1 to 40).map(i => (i, s"n$i")).toSet)
    } finally q.stop()
  }

  test("sheetName=* with maxRowsPerPartition splits within each sheet") {
    val dir = tmpDir()
    val f = new File(dir, "big2.xlsx")
    val w = new XlsxWriter(new FileOutputStream(f), "s1")
    w.writeRow(Seq("id"))
    (1 to 50).foreach(i => w.writeRow(Seq(i.toLong)))
    w.startSheet("s2")
    w.writeRow(Seq("id"))
    (51 to 70).foreach(i => w.writeRow(Seq(i.toLong)))
    w.close()
    val df = spark.read.format("excel")
      .option("sheetName", "*")
      .option("maxRowsPerPartition", "20")
      .load(f.getAbsolutePath)
    assert(df.rdd.getNumPartitions == 4) // s1: 3 splits, s2: 1
    assert(df.agg(sum(col("id"))).collect().head.getLong(0) == (1L to 70L).sum)
  }
}
