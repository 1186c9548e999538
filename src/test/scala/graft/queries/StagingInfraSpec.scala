package graft.queries

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Pins for the streaming-gate harness ([[StreamGate]]): the uncapped
  * scale-adaptive shard fan-out, the count-validated staging cache (a
  * partially-reaped staged dir must re-stage, not silently return partial
  * rows), and file ownership — two live sessions never delete each
  * other's files, dead processes' staging is reclaimed, a run leaves no
  * checkpoint behind, and the memory sink stays out of the caller's
  * catalog; the batch `excel_*` gates stage under the same ownership. */
class StagingInfraSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("streamBatchShards: floor 4, grows with rows, NO cap — every " +
    "shard stays 2.6x under the xlsx sheet cap at any volume") {
    import spark.implicits._
    def shards(n: Long): Int =
      StreamGate.streamBatchShards(
        spark.range(n).toDF("id"))
    assert(shards(10) == 4, "small batches keep the parallelism floor")
    assert(shards(1600000) == 4, "floor covers up to 4 x 400k rows")
    assert(shards(1600001) == 5, "fan-out grows at 400k rows/shard")
    // the former min(64, ...) cap would have returned 64 here and let
    // rows/shard approach the 1,048,576 sheet cap above ~25.6M rows
    assert(shards(40000000L) == 100,
      "no cap: 40M rows -> 100 shards, 400k rows each")
  }

  test("cachedStaging: a hit re-validates the staged file COUNT — a " +
    "partially-reaped dir (some .xlsx still present) re-stages") {
    val root = Files.createTempDirectory("graft_stage_spec").toFile
    var builds = 0
    def build(): Seq[String] = {
      builds += 1
      val d = new File(root, "staged"); d.mkdirs()
      (1 to 3).foreach { i =>
        Files.write(new File(d, s"part-$i.xlsx").toPath, Array[Byte](1))
      }
      Seq(d.getAbsolutePath)
    }
    val key = s"stagingSpec:${root.getAbsolutePath}"
    val first = StreamGate.cachedStaging(spark, key, "")(build())
    assert(builds == 1 && first.size == 1)
    // clean hit: no rebuild
    StreamGate.cachedStaging(spark, key, "")(build())
    assert(builds == 1, "intact staged dir must be a cache hit")
    // partial reap: delete ONE of three files — the pre-r21 any-one-xlsx
    // check passed this and the stream silently dropped rows
    assert(new File(first.head, "part-2.xlsx").delete())
    val again = StreamGate.cachedStaging(spark, key, "")(build())
    assert(builds == 2, "a gutted staged dir must re-stage")
    assert(new File(again.head, "part-2.xlsx").exists())
  }

  private val sf = "/root/testdata/sf0.001"

  private def walk(f: File): Seq[File] =
    f +: Option(f.listFiles()).toSeq.flatten.flatMap(walk)

  test("two sessions run excel_stream_cdc concurrently and both return " +
    "exactly the single-session rows") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    def rows(s: SparkSession) =
      ConnectorQueries.excelStreamCdc(s, sf).collect().toSeq
    val single = rows(spark.newSession())
    assert(single.nonEmpty)
    val both = Future.sequence(Seq.fill(2)(spark.newSession())
      .map(s => Future(rows(s))))
    Await.result(both, 10.minutes).foreach(r => assert(r == single))
  }

  test("a cache miss reclaims staging dirs of dead processes and keeps a " +
    "live process's other sessions; no checkpoint survives the run") {
    import spark.implicits._
    val gate = "staging_spec_gate"
    val root = StreamGate.gateRoot(gate, "")
    val child = new ProcessBuilder("true").start()
    child.waitFor()
    val dead = new File(root, s"${child.pid()}_gone")
    val live = new File(root, s"${ProcessHandle.current().pid()}_other")
    Seq(dead, live).foreach { d =>
      new File(d, "in0/a").mkdirs()
      Files.write(new File(d, "in0/a/part-0.xlsx").toPath, Array[Byte](1))
    }
    val out = StreamGate.run(spark.newSession(), gate, "",
        Seq(Seq(Seq(1L, 2L, 3L).toDF("id"))), StreamGate.AllAtOnce,
        "append")(_.head)
    assert(out.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L))
    assert(!dead.exists(), "a dead process's staging is reclaimed")
    assert(live.exists(), "a live process's other session is kept")
    assert(!walk(root).exists(_.getName.startsWith("ckpt")),
      "the checkpoint is deleted once the query terminates")
  }

  test("each batch excel gate stages per session: two sessions scan two " +
    "paths and read the same rows") {
    val gates = Seq[(SparkSession, String) => org.apache.spark.sql.DataFrame](
      ConnectorQueries.excelRoundtrip, ConnectorQueries.excelOffsetPage,
      ConnectorQueries.excelTopN, ConnectorQueries.excelXlsxOnlyListing,
      ConnectorQueries.excelShardedRoundtrip, ConnectorQueries.excelArrowRoundtrip)
    val Path = """ExcelScan path=(\S+)""".r
    gates.foreach { gate =>
      // both sessions write before either reads: at one shared path the
      // second write would replace the first session's input
      val dfs = Seq.fill(2)(gate(spark.newSession(), sf))
      val paths = dfs.map(df =>
        Path.findFirstMatchIn(df.queryExecution.executedPlan.toString).get.group(1))
      assert(paths.distinct.size == 2, paths)
      val rows = dfs.map(_.collect().toSeq)
      assert(rows.head.nonEmpty && rows.head == rows.last, paths)
    }
  }

  test("excel_stream_join leaves the caller's temp views unchanged") {
    val s = spark.newSession()
    def views = s.catalog.listTables().collect()
      .filter(_.isTemporary).map(_.name).toSet
    val before = views
    assert(ConnectorQueries.excelStreamJoin(s, sf).count() > 0)
    assert(views == before)
  }
}
