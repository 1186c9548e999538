package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.SparkSession

/** Connector benchmark runner.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --work <scratch dir> --artifact <json file>
  * }}}
  *
  * Generates the workload's workbooks from the seed, warms every op once,
  * times repeats of every op for `--seconds`, checks every output against
  * what the generator knows, and prints one JSON line as the last line of
  * stdout: the end-to-end metrics (`--trace 0`) or the per-layer metrics of
  * a traced run (`--trace 1`). The run's artifact (host, samples, failures
  * and, when traced, spans) goes to `--artifact`.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: File, artifact: File, slots: Int)

  private def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", new File(need("work")), new File(need("artifact")),
      slots = math.min(4, Runtime.getRuntime.availableProcessors()))
  }

  def main(argv: Array[String]): Unit = {
    val entry = System.nanoTime()
    val args = parse(argv)
    val shape = Workloads.shape(args.workload, args.slots)
    val hostStart = Host.snapshot()
    val spark = Session.start(args.slots, args.work)
    try {
      val sessionS = (System.nanoTime() - entry) / 1e9
      val corpus = new Corpus(new File(args.work, "corpus"), shape, args.seed)
      // the inputs are generated several times and the median counts, so
      // set-up time does not hang on one slow write to disk
      val genS = Measure.median((1 to Session.GenerateRepeats).map(_ => corpus.generate()))
      val ops = new Ops(spark, corpus, args.work, args.slots)
      val timed = ops.all.filter(op => args.trace || !op.tracedOnly)
      val outcome = new Outcome
      val warmStart = System.nanoTime()
      ops.writeDf
      timed.foreach(op => outcome.attempt(op.name + " warm-up")(op.warm()))
      val warmS = (System.nanoTime() - warmStart) / 1e9
      val setupS = sessionS + genS + warmS

      val samples = Measure.run(timed.filterNot(_.tracedOnly), args.seconds, outcome)
      val e2e = Measure.endToEnd(samples, setupS, ops.mergedBytes, shape.writeRows)
      val traced =
        if (args.trace) Some(Traced.run(spark, corpus, ops, args, outcome, e2e)) else None
      ops.all.foreach(op => op.verify.foreach(v => outcome.attempt(op.name + " read-back")(v())))

      val metrics = traced.fold(e2e)(_.perLayer)
      val hostEnd = Host.snapshot()
      val artifact = Json.obj(
        "workload" -> args.workload, "seed" -> args.seed, "seconds" -> args.seconds,
        "trace" -> args.trace,
        "host" -> Json.obj(
          "slots" -> args.slots, "nproc" -> Runtime.getRuntime.availableProcessors(),
          "loadavg_start" -> hostStart.load, "loadavg_end" -> hostEnd.load,
          "cpu_probe_ms_start" -> hostStart.cpuProbeMs, "cpu_probe_ms_end" -> hostEnd.cpuProbeMs),
        "shape" -> shape.toString,
        "setup" -> Json.obj("session_s" -> sessionS, "generate_s_median" -> genS,
          "warmup_s" -> warmS),
        "attempted" -> outcome.attempted, "failed" -> outcome.failed,
        "failed_op_share" -> outcome.failed.toDouble / math.max(1L, outcome.attempted),
        "failures" -> outcome.failures.toSeq,
        "samples" -> Json.obj(samples.map(s => s.op.name -> Json.obj(
          "seconds" -> s.seconds, "batch_ms" -> s.batches)): _*),
        "end_to_end" -> Json.metrics(e2e),
        "traced" -> traced.map(_.artifact).orNull)
      args.artifact.getParentFile.mkdirs()
      java.nio.file.Files.write(args.artifact.toPath, Json.render(artifact).getBytes(UTF_8))

      println(Json.render(Json.obj(
        "correct" -> (outcome.failed == 0),
        "attempted" -> outcome.attempted,
        "failed" -> outcome.failed,
        "metrics" -> Json.metrics(metrics))))
    } finally spark.stop()
  }
}

object Session {
  val GenerateRepeats = 3

  def start(slots: Int, work: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$slots]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.datetime.java8API.enabled", "true")
      .config("spark.sql.shuffle.partitions", slots.toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** Plain host fields recorded with each run, so a run on a busy host can
  * be spotted: the 1-minute load average and the time of a fixed CPU
  * probe (a single-threaded integer loop). */
object Host {
  final case class Snapshot(load: Double, cpuProbeMs: Double)

  @volatile private var sink = 0L // keeps the probe loop from being optimized away

  def snapshot(): Snapshot = {
    val load = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
    val t0 = System.nanoTime()
    var x = 1L
    var i = 0
    while (i < 50000000) { x = x * 6364136223846793005L + 1442695040888963407L; i += 1 }
    sink = x
    Snapshot(load, (System.nanoTime() - t0) / 1e6)
  }
}

/** A minimal JSON writer for the result line and the artifact. */
object Json {
  final case class Obj(fields: Seq[(String, Any)])
  def obj(fields: (String, Any)*): Obj = Obj(fields)

  def metrics(ms: Seq[(String, Double, String)]): Obj =
    Obj(ms.map { case (n, v, u) => n -> obj("value" -> v, "unit" -> u) })

  def render(v: Any): String = {
    val sb = new StringBuilder
    def str(s: String): Unit = {
      sb.append('"')
      s.foreach {
        case '"' => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
        case c => sb.append(c)
      }
      sb.append('"')
    }
    def go(v: Any): Unit = v match {
      case null | None => sb.append("null")
      case Some(x) => go(x)
      case Obj(fs) =>
        sb.append('{')
        fs.zipWithIndex.foreach { case ((k, x), i) =>
          if (i > 0) sb.append(", ")
          str(k); sb.append(": "); go(x)
        }
        sb.append('}')
      case s: String => str(s)
      case b: Boolean => sb.append(b)
      case d: Double => if (d.isNaN || d.isInfinite) sb.append("null") else sb.append(d)
      case f: Float => go(f.toDouble)
      case n: Int => sb.append(n)
      case n: Long => sb.append(n)
      case xs: Iterable[_] =>
        sb.append('[')
        xs.zipWithIndex.foreach { case (x, i) => if (i > 0) sb.append(", "); go(x) }
        sb.append(']')
      case other => str(other.toString)
    }
    go(v)
    sb.toString
  }
}
