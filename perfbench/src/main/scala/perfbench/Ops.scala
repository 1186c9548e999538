package perfbench

import java.io.File
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}

/** One timed operation through Spark's public `format("excel")` API.
  *
  * @param rows    rows one repeat processes (the numerator of its rate)
  * @param weight  its share of the run's measuring time
  * @param run     one repeat; throws [[CheckFailed]] when a per-repeat check
  *                fails, and returns per-batch samples (the stream) or none
  * @param warmUp  the untimed warm-up made before timing; by default one
  *                repeat
  * @param verify  the output check made after timing (the writes' read-back)
  * @param minRepeats timed repeats made even past the op's time share
  * @param tracedOnly run in the traced pass only (no end-to-end metric)
  */
final class Op(val name: String, val rows: Long, val weight: Double,
    val run: () => Seq[Double], warmUp: Option[() => Unit] = None,
    val verify: Option[() => Unit] = None, val minRepeats: Int = 3,
    val tracedOnly: Boolean = false) {
  def warm(): Unit = warmUp.fold(run(): Unit)(_())
}

/** Attempts and failures of every op execution in a run. A failure is
  * printed with the op name and counted; the run goes on. */
final class Outcome {
  var attempted = 0L
  var failed = 0L
  val failures = ArrayBuffer.empty[String]

  def attempt[T](op: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case e: Exception =>
        failed += 1
        val msg = s"$op: ${e.getClass.getSimpleName}: ${e.getMessage}"
        failures += msg
        System.err.println(s"[perfbench] FAILED $msg")
        None
    }
  }
}

/** The op set every workload runs, over the corpus of its shape. */
final class Ops(spark: SparkSession, corpus: Corpus, work: File, slots: Int) {
  private val shape = corpus.shape
  private val schema = corpus.schema
  private val seq = new AtomicLong

  private def read(opts: (String, String)*) =
    spark.read.format("excel").schema(schema).options(opts.toMap)

  /** Into the `noop` sink, counting rows on the way with an observed metric
    * (one increment per row; it does not stop column pruning). */
  private def noop(what: String, df: DataFrame, expected: Long): Unit = {
    val obs = Observation(s"rows_${seq.incrementAndGet()}")
    df.observe(obs, count(lit(1)).as("rows")).write.format("noop").mode("overwrite").save()
    Check.equal(s"$what row count", expected, obs.get("rows"))
  }

  private val scanPath = corpus.scanDir.getPath
  private val largePath = corpus.largeFile.getPath
  private val mergedPath = new File(work, "out/merged.xlsx").getPath
  private val shardedPath = new File(work, "out/sharded").getPath
  /** At least 2N row-range splits of the large workbook. */
  val maxRowsPerPartition: Int = math.ceil(shape.splitRows.toDouble / (2 * slots)).toInt

  /** The write ops' input: built from the seed in `slots` partitions,
    * cached and materialized before any timing. */
  lazy val writeDf: DataFrame = {
    val (tname, seed, n) = (shape.table, corpus.seed, shape.writeRows)
    val rdd = spark.sparkContext.range(0L, n.toLong, 1L, slots).mapPartitions { it =>
      val t = Tables.named(tname, seed)
      it.map(i => Row.fromSeq(t.row(seed, Corpus.WriteBase + i).toSeq.map {
        case t: java.time.LocalDateTime => t.toInstant(java.time.ZoneOffset.UTC)
        case v => v
      }))
    }
    val df = spark.createDataFrame(rdd, schema).cache()
    df.count()
    df
  }

  /** The last stream drain: its progress reports and checkpoint. */
  @volatile var lastStream: (Seq[StreamingQueryProgress], File) = (Nil, null)

  /** One `Trigger.AvailableNow` drain of the stream directory into `noop`,
    * checked by row and batch count; returns each batch's
    * `triggerExecution` ms (kept in the artifact). */
  private def drain(filesPerTrigger: Int): Seq[Double] = {
    Option(lastStream._2).foreach(Files.deleteRecursively)
    val ckpt = new File(work, s"ckpt-${seq.incrementAndGet()}")
    val q = spark.readStream.format("excel").schema(schema)
      .option("maxFilesPerTrigger", filesPerTrigger.toString)
      .load(corpus.streamDir.getPath)
      .writeStream.format("noop").trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ckpt.getPath).start()
    try q.awaitTermination() finally q.stop()
    q.exception.foreach(e => throw e)
    val batches = q.recentProgress.toSeq.filter(_.numInputRows > 0)
    lastStream = (batches, ckpt)
    Check.equal("stream rows", shape.streamTotal, batches.map(_.numInputRows).sum)
    Check.equal("stream batches",
      math.ceil(shape.streamFileCount.toDouble / filesPerTrigger).toInt, batches.size)
    batches.map(_.durationMs.get("triggerExecution").doubleValue())
  }

  /** A scan op: each repeat goes into `noop`; the warm-up checks the same
    * read in full against the generator's checksum, then makes one repeat. */
  private def scanOp(name: String, rows: Long, weight: Double, df: () => DataFrame,
      expected: Checksum): Op = {
    val run = () => { noop(name, df(), rows); Seq.empty[Double] }
    new Op(name, rows, weight, run,
      warmUp = Some(() => { Check.checksum(name, df(), expected); run() }))
  }

  val all: Seq[Op] = Seq(
    scanOp("scan", shape.scanTotal, 2, () => read().load(scanPath), corpus.scanSum),
    scanOp("project", shape.scanTotal, 2,
      () => read().load(scanPath).select(shape.projectCol), corpus.scanSum),
    new Op("count", shape.scanTotal, 1.5,
      () => { Check.equal("count", shape.scanTotal, read().load(scanPath).count()); Nil }),
    new Op("infer", 0, 1,
      () => {
        val inferred = spark.read.format("excel")
          .option("inferSampleFiles", shape.scanFiles.toString)
          .option("inferSampleRows", "5000")
          .load(scanPath).schema
        Check.equal("inferred schema", schema.simpleString, inferred.simpleString)
        Nil
      }),
    scanOp("split_scan", shape.splitRows, 1.5,
      () => read("maxRowsPerPartition" -> maxRowsPerPartition.toString).load(largePath),
      corpus.largeSum),
    // traced runs only: per-trigger cost swings with the host's load more
    // than any end-to-end bound allows, so it is read through the layers
    new Op("stream", shape.streamTotal, 3, () => drain(shape.filesPerTrigger),
      minRepeats = 2, tracedOnly = true),
    new Op("write_merged", shape.writeRows, 2,
      () => { writeDf.write.format("excel").mode("overwrite").save(mergedPath); Nil },
      verify = Some(() => Check.checksum("write_merged read-back", read().load(mergedPath),
        corpus.writeSum))),
    new Op("write_sharded", shape.writeRows, 1.5,
      () => {
        writeDf.write.format("excel").mode("overwrite")
          .option("shardedOutput", "true").save(shardedPath)
        Nil
      },
      verify = Some(() => Check.checksum("write_sharded read-back", read().load(shardedPath),
        corpus.writeSum)), minRepeats = 5))

  def mergedBytes: Long = new File(mergedPath).length()
  def shardedFiles: Seq[File] =
    Option(new File(shardedPath).listFiles()).toSeq.flatten.filter(_.getName.endsWith(".xlsx"))
}

/** Timed repeats of every op within a time budget. */
object Measure {
  final case class Samples(op: Op, seconds: Seq[Double], batches: Seq[Seq[Double]])

  val MaxRepeats = 200

  /** Ops run in rounds, one repeat of each op per round, so a passing
    * slowdown of the host lands on every op rather than on one. An op
    * stays in the rounds until its weighted share of `budgetS` is spent and
    * it has made its `minRepeats`. `around` wraps each repeat (the traced
    * run records spans there). */
  def run(ops: Seq[Op], budgetS: Double, outcome: Outcome,
      around: (Op, Int) => (() => Seq[Double]) => Seq[Double] = (_, _) => f => f())
      : Seq[Samples] = {
    val totalWeight = ops.map(_.weight).sum
    final class Acc(val op: Op) {
      val share: Double = budgetS * op.weight / totalWeight
      val times = ArrayBuffer.empty[Double]
      val batches = ArrayBuffer.empty[Seq[Double]]
      var spent = 0.0
      var rep = 0
      def more: Boolean = (spent < share || rep < op.minRepeats) && rep < MaxRepeats
      def once(): Unit = {
        val t0 = System.nanoTime()
        val res = outcome.attempt(op.name)(around(op, rep)(op.run))
        val dt = (System.nanoTime() - t0) / 1e9
        res.foreach { b => times += dt; if (b.nonEmpty) batches += b }
        spent += dt
        rep += 1
      }
    }
    val accs = ops.map(new Acc(_))
    var round = accs
    while (round.nonEmpty) {
      round.foreach(_.once())
      round = accs.filter(_.more)
    }
    accs.map(a => Samples(a.op, a.times.toSeq, a.batches.toSeq))
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Linear interpolation between closest ranks (numpy's default). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = p * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The end-to-end metrics from one measurement pass. */
  def endToEnd(samples: Seq[Samples], setupS: Double, mergedBytes: Long,
      writeRows: Long): Seq[(String, Double, String)] = {
    val by = samples.map(s => s.op.name -> s).toMap
    def rate(op: String) = by(op).op.rows / median(by(op).seconds)
    Seq(
      ("setup_s", setupS, "s"),
      ("scan_rows_per_s", rate("scan"), "rows/s"),
      ("project_rows_per_s", rate("project"), "rows/s"),
      ("count_rows_per_s", rate("count"), "rows/s"),
      ("infer_s", median(by("infer").seconds), "s"),
      ("split_scan_rows_per_s", rate("split_scan"), "rows/s"),
      ("write_merged_rows_per_s", rate("write_merged"), "rows/s"),
      ("write_sharded_rows_per_s", rate("write_sharded"), "rows/s"),
      ("written_bytes_per_row", mergedBytes.toDouble / writeRows, "bytes"))
  }
}
