package graft

/** Measurement tooling for the optimization rounds: dumps
  * `explain("formatted")` for named gates to files, so plan-shape claims
  * in OPTIMIZATION_rN.md are checkable against committed artifacts
  * (`plans/rN/<gate>_before.txt` / `_after.txt`) without running Spark.
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> <suffix> gate[,gate...]
  *
  * The 13 streaming gates (the 11 excel_stream_* gates, d08 and d16, all
  * run through `graft.queries.StreamGate`) EXECUTE on plan resolution:
  * the returned frame reads a memory sink (excel_stream_roundtrip: the
  * excel sink's output dir) that only exists after the stream runs.
  * Their dumped plan is the post-run readout plan, which is still the
  * honest "what does a consumer of this gate's result scan" record.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 4,
      "usage: PlanDump <sfDir> <outDir> <suffix> gate[,gate...]")
    val Array(sfDir, outDir, suffix, gateCsv) = args.take(4)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    gateCsv.split(",").map(_.trim).filter(_.nonEmpty).foreach { gate =>
      val fn = SparkEntry.queries.getOrElse(gate,
        sys.error(s"unknown gate: $gate"))
      val df = fn(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      val p = java.nio.file.Paths.get(outDir, s"${gate}_$suffix.txt")
      java.nio.file.Files.write(p, plan.getBytes("UTF-8"))
      System.err.println(s"[plandump] wrote $p (${plan.length} chars)")
    }
    spark.stop()
  }
}
