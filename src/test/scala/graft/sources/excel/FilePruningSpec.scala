package graft.sources.excel

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructType}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** `_file_path` metadata column + file-grained pruning: static pushed
  * filters and runtime (join-driven) V2 filtering must both shrink the
  * planned file set — at 100 TB a dimension-filtered read of a
  * `dt=…/part.xlsx` layout must open the matching files only — while
  * results stay identical to the unpruned read (Spark re-applies all
  * filters above the scan). */
class FilePruningSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private lazy val dir: File = {
    val d = Files.createTempDirectory("graft_fileprune").toFile
    import spark.implicits._
    // dt-partitioned layout: 3 subdirectories, one workbook each
    Seq("2026-01-01", "2026-01-02", "2026-01-03").zipWithIndex.foreach {
      case (dt, i) =>
        val sub = new File(d, s"dt=$dt"); sub.mkdirs()
        Seq((i * 10L + 1, dt), (i * 10L + 2, dt)).toDF("id", "dt")
          .coalesce(1).write.format("excel").mode("overwrite")
          .save(new File(sub, "part.xlsx").getAbsolutePath)
    }
    d
  }

  private val schema = new StructType()
    .add("id", LongType).add("dt", StringType)

  private def readAll = spark.read.format("excel").schema(schema)
    .option("recursiveFileLookup", "true").load(dir.getAbsolutePath)

  override def afterAll(): Unit = {
    spark.stop()
    def rm(f: File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete()
    }
    rm(dir)
  }

  test("_file_path materializes the source workbook URI per row") {
    val rows = readAll.select(col("id"), col("_file_path")).collect()
    assert(rows.length == 6)
    rows.foreach { r =>
      val id = r.getLong(0)
      val p = r.getString(1)
      assert(p.endsWith("part.xlsx"), p)
      val expectedDt = Seq("2026-01-01", "2026-01-02", "2026-01-03")(
        (id / 10L).toInt)
      assert(p.contains(s"dt=$expectedDt"), s"id=$id path=$p")
    }
  }

  test("static _file_path filter prunes the planned file set") {
    val opts = ExcelOptions.fromMap(Map(
      "path" -> dir.getAbsolutePath, "recursivefilelookup" -> "true"))
    val b = new ExcelScanBuilder(schema, opts)
    b.pushFilters(Array(org.apache.spark.sql.sources.StringContains(
      "_file_path", "dt=2026-01-02")))
    val scan = b.build().asInstanceOf[ExcelScan]
    assert(scan.toBatch.planInputPartitions().length == 1,
      "only the matching dt directory's file may be planned")
    // and the end-to-end result equals the unpruned read's filtered rows
    val pruned = readAll.where(col("_file_path").contains("dt=2026-01-02"))
      .select("id").collect().map(_.getLong(0)).sorted
    assert(pruned.toSeq == Seq(11L, 12L))
  }

  test("runtime V2 filter (join-driven pruning contract) shrinks partitions") {
    import org.apache.spark.sql.connector.expressions.Expressions
    import org.apache.spark.sql.connector.expressions.filter.Predicate
    val opts = ExcelOptions.fromMap(Map(
      "path" -> dir.getAbsolutePath, "recursivefilelookup" -> "true"))
    val conf = spark.sessionState.newHadoopConf()
    val files = ExcelFiles.list(dir.getAbsolutePath, conf, recursive = true)
    assert(files.length == 3)
    val b = new ExcelScanBuilder(schema, opts)
    // Spark adds a referenced metadata column to the pruned schema — the
    // scan only advertises `_file_path` as a runtime filter attribute when
    // it is in its output (PartitionPruning resolves against readSchema)
    b.pruneColumns(schema.add(ExcelSchema.FilePathColumn, StringType,
      nullable = false))
    val scan = b.build().asInstanceOf[ExcelScan]
    assert(scan.filterAttributes().map(_.fieldNames().mkString) ===
      Array("_file_path"))
    val bare = new ExcelScanBuilder(schema, opts).build().asInstanceOf[ExcelScan]
    assert(bare.filterAttributes().isEmpty,
      "a scan not outputting _file_path must not advertise it")
    assert(scan.toBatch.planInputPartitions().length == 3)
    // Spark hands the materialized build-side keys as an IN predicate
    scan.filter(Array(new Predicate("IN", Array(
      Expressions.column("_file_path"),
      Expressions.literal(files.head),
      Expressions.literal(files.last)))))
    assert(scan.toBatch.planInputPartitions().length == 2,
      "runtime IN must drop the unlisted file")
    // unparsable predicates are ignored, never over-prune
    scan.filter(Array(new Predicate("ALWAYS_TRUE", Array.empty)))
    assert(scan.toBatch.planInputPartitions().length == 2)
  }

  test("a runtime IN of 10,000 values keeps exactly the listed files among them") {
    import org.apache.spark.sql.connector.expressions.Expressions
    import org.apache.spark.sql.connector.expressions.filter.Predicate
    val opts = ExcelOptions.fromMap(Map(
      "path" -> dir.getAbsolutePath, "recursivefilelookup" -> "true"))
    val files = ExcelFiles.list(dir.getAbsolutePath,
      spark.sessionState.newHadoopConf(), recursive = true)
    val b = new ExcelScanBuilder(schema, opts)
    b.pruneColumns(schema.add(ExcelSchema.FilePathColumn, StringType,
      nullable = false))
    val scan = b.build().asInstanceOf[ExcelScan]
    // a join's build side: one key per file of a large manifest, two of
    // them this layout's first and last file
    val keys = (0 until 9998).map(i => s"file:/elsewhere/dt=$i/part.xlsx") :+
      files.last :+ files.head
    scan.filter(Array(new Predicate("IN",
      (Expressions.column("_file_path") +: keys.map(k => Expressions.literal(k)))
        .toArray[org.apache.spark.sql.connector.expressions.Expression])))
    val planned = scan.toBatch.planInputPartitions()
      .map(_.asInstanceOf[ExcelInputPartition].filePath)
    assert(planned.toSeq == Seq(files.head, files.last))
  }

  test("a selective manifest join prunes files at run time through Spark") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val files = ExcelFiles.list(dir.getAbsolutePath,
      spark.sessionState.newHadoopConf(), recursive = true)
    // a selective filter over a non-local relation: what lets Spark
    // insert dynamic pruning on the scan side of the broadcast join
    val manifest = spark.range(files.length).toDF("n")
      .select(element_at(typedLit(files), col("n").cast("int") + 1).as("file_uri"),
        col("n"))
      .where(col("n") === 1)
    val joined = readAll.join(manifest, col("_file_path") === col("file_uri"))
      .select("id")
    assert(joined.collect().map(_.getLong(0)).sorted.toSeq == Seq(11L, 12L))
    val scans = new AdaptiveSparkPlanHelper {}.collect(joined.queryExecution.executedPlan) {
      case b: BatchScanExec if b.scan.isInstanceOf[ExcelScan] => b
    }
    assert(scans.size == 1 && scans.head.runtimeFilters.nonEmpty,
      joined.queryExecution.executedPlan)
    assert(scans.head.inputRDD.partitions.length == 1,
      "only the manifest's one file may be planned")
  }

  test("a manifest join on _file_path returns exactly the manifest's files") {
    import spark.implicits._
    val conf = spark.sessionState.newHadoopConf()
    val files = ExcelFiles.list(dir.getAbsolutePath, conf, recursive = true)
    val manifest = Seq(files(1)).toDF("file_uri")
    val joined = readAll.join(broadcast(manifest),
      col("_file_path") === col("file_uri"))
    assert(joined.select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(11L, 12L))
  }

  test("a data column named _file_path shadows the metadata column") {
    import spark.implicits._
    val f = new File(dir.getParentFile, "graft_shadow.xlsx").getAbsolutePath
    Seq((1L, "real-value")).toDF("id", "_file_path")
      .coalesce(1).write.format("excel").mode("overwrite").save(f)
    val shadowSchema = new StructType()
      .add("id", LongType).add("_file_path", StringType)
    val rows = spark.read.format("excel").schema(shadowSchema).load(f)
      .select("_file_path").collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("real-value"))
  }
}
