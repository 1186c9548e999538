package graft.sources.excel

import java.io.{File, FileOutputStream}
import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** `ORDER BY col LIMIT n` over a multi-file excel scan: the scan takes no
  * part in the sort; Spark's TakeOrderedAndProject keeps each partition's
  * n best rows and merges them. These cases pin values and null ordering
  * across partitions, splits and non-column sort keys. */
class ExcelTopNSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def tmpDir(): File = {
    val d = Files.createTempDirectory("graft-topn-spec").toFile
    d.deleteOnExit()
    d
  }

  /** Three files so the scan has real multi-partition top-N to do; ids
    * interleave across files so no single partition holds the answer. */
  private def writeFiles(dir: File, withNulls: Boolean = false): Unit = {
    (0 until 3).foreach { f =>
      val w = new XlsxWriter(new FileOutputStream(new File(dir, s"f$f.xlsx")))
      w.writeRow(Seq("id", "name"))
      (0 until 40).foreach { i =>
        val id = i * 3 + f
        if (withNulls && id % 17 == 0) w.writeRow(Seq(null, s"row$id"))
        else w.writeRow(Seq(id.toLong, s"row$id"))
      }
      w.close()
    }
  }

  private val schema = StructType(Seq(
    StructField("id", IntegerType), StructField("name", StringType)))

  private def read(dir: File) =
    spark.read.format("excel").schema(schema).load(dir.getAbsolutePath)

  test("orderBy+limit plans TakeOrderedAndProject, stays exact") {
    val dir = tmpDir()
    writeFiles(dir)
    val df = read(dir).orderBy(col("id").desc).limit(5)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(df.collect().map(_.getInt(0)).toSeq == Seq(119, 118, 117, 116, 115))
    // ascending too, with the second column along for the ride
    val asc = read(dir).orderBy(col("id")).limit(4)
    assert(asc.collect().map(r => (r.getInt(0), r.getString(1))).toSeq ==
      Seq((0, "row0"), (1, "row1"), (2, "row2"), (3, "row3")))
  }

  test("null ordering is honored on both directions") {
    val dir = tmpDir()
    writeFiles(dir, withNulls = true)
    // The fixture plants 8 nulls: ids 0,17,34,51,68,85,102,119.
    // asc: NULLS FIRST by default — the 8 nulls are the best rows, then
    // the smallest surviving non-null ids (1, 2).
    val asc = read(dir).orderBy(col("id")).limit(10).collect()
    assert(asc.take(8).forall(_.isNullAt(0)), asc.mkString(","))
    assert(asc(8).getInt(0) == 1, asc.mkString(","))
    assert(asc(9).getInt(0) == 2, asc.mkString(","))
    // desc: NULLS LAST by default — nulls must never enter the top; 119
    // is one of the planted nulls, so the best non-null row is 118.
    val desc = read(dir).orderBy(col("id").desc).limit(4).collect()
    assert(desc.forall(!_.isNullAt(0)), desc.mkString(","))
    assert(desc.map(_.getInt(0)).toSeq == Seq(118, 117, 116, 115))
    // explicit desc_nulls_first flips the boundary
    val nf = read(dir).orderBy(col("id").desc_nulls_first).limit(3).collect()
    assert(nf.forall(_.isNullAt(0)), nf.mkString(","))
  }

  test("top-N composes with pushed split reads and matches the unpushed " +
    "answer on every tie-free prefix") {
    val dir = tmpDir()
    writeFiles(dir)
    val split = spark.read.format("excel").schema(schema)
      .option("maxRowsPerPartition", "16")
      .load(dir.getAbsolutePath)
    val got = split.orderBy(col("name")).limit(7)
      .collect().map(_.getString(1)).toSeq
    val want = split.collect().map(_.getString(1)).sorted.take(7).toSeq
    assert(got == want)
  }

  test("non-column sort keys decline the pushdown but stay correct") {
    val dir = tmpDir()
    writeFiles(dir)
    val df = read(dir).orderBy((col("id") % 7).desc).limit(3)
    assert(df.count() == 3)
    // ties on the key: any three rows with the top key value qualify
    assert(df.collect().forall(_.getInt(0) % 7 == 6))
  }
}
