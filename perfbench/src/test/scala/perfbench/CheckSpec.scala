package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The output check must pass on the generator's own workbooks and count a
  * run as failed when the expected value is wrong. */
class CheckSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val dir = new File("target/check-spec")
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.datetime.java8API.enabled", "true")
    .getOrCreate()

  override def afterAll(): Unit = {
    spark.stop()
    Files.deleteRecursively(dir)
  }

  private def corpus(table: String, sharedStrings: Boolean): (Table, File, Checksum) = {
    val t = Tables.named(table, 7L)
    val d = new File(dir, table)
    Files.deleteRecursively(d)
    d.mkdirs()
    val sum = new Checksum(t.schema)
    (0 until 2).foreach(f => sum.merge(Workbook.write(new File(d, s"part-$f.xlsx"), t, 7L,
      f * 300L, 300, sharedStrings)))
    (t, d, sum)
  }

  test("the connector's read of generated workbooks matches the generator's checksum") {
    Seq("mixed" -> false, "docs" -> true).foreach { case (name, sst) =>
      val (t, d, sum) = corpus(name, sst)
      val df = spark.read.format("excel").schema(t.schema).load(d.getPath)
      Check.checksum(name, df, sum)
      assert(spark.read.format("excel").load(d.getPath).schema.simpleString ==
        t.schema.simpleString)
    }
  }

  test("a corrupted expected value counts as a failed op, named in the failures") {
    val (t, d, sum) = corpus("docs", sharedStrings = true)
    sum.sums(t.schema.fieldIndex("doc")) += 1
    val outcome = new Outcome
    outcome.attempt("scan check")(
      Check.checksum("scan", spark.read.format("excel").schema(t.schema).load(d.getPath), sum))
    outcome.attempt("count")(Check.equal("count", 601L,
      spark.read.format("excel").schema(t.schema).load(d.getPath).count()))
    assert(outcome.attempted == 2 && outcome.failed == 2)
    assert(outcome.failures.head.startsWith("scan check: CheckFailed: scan: doc.sum expected"))
    assert(outcome.failures(1).contains("count: expected 601 got 600"))
  }
}
