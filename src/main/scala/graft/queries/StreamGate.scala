package graft.queries

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

/** The one harness behind every oracle gate over the excel streaming
  * source (the `excel_stream_*` gates, d08, d16). A gate supplies its
  * sources as batches of rows, a pipeline over the stream(s), an output
  * mode and a readout of the result; the harness owns the rest:
  *
  *  - staging: source `i`'s batches are written as sharded workbooks into
  *    `in<i>/a`, `in<i>/b`, … with one [[streamBatchShards]] count per
  *    gate, once per (session, corpus) through [[cachedStaging]];
  *  - admission ([[Admission]]) over a name-sorted recursive listing;
  *  - a private session ([[streamSession]]), the checkpoint, the sink,
  *    `Trigger.AvailableNow`, and one `[stream]` progress line per run.
  *
  * File ownership. Everything a gate writes lives under
  * `<tmp>/graft_<gate>_<corpus>/<pid>_<session>/`: the owning JVM's
  * pid and the caller session's UUID. A staging cache miss removes only
  * that dir plus sibling dirs whose pid is no longer alive, so two live
  * sessions over one corpus never delete each other's files. The batch
  * `excel_*` gates stage their workbooks under the same rule
  * ([[batchDir]]), emptied on every run. A run's
  * checkpoint is deleted as soon as its query terminates (a memory-sink
  * readout never reads it). Only [[runToExcel]]'s output dir outlives
  * the call, until the same session's next run of that gate. */
object StreamGate {

  /** How many staged files one micro-batch admits. */
  sealed trait Admission
  /** Every staged file in one micro-batch: for gates whose result does
    * not depend on how rows are batched (stateless maps and joins,
    * commutative state merges), so the WAL and state commit are paid
    * once. */
  case object AllAtOnce extends Admission
  /** One staged batch per micro-batch, `maxFilesPerTrigger` = the shard
    * count of `a/`: admission takes a name-ordered prefix of the listing
    * and every `.../a/part-*` sorts before `.../b/part-*`, so micro-batch
    * 0 is exactly batch a. For gates whose state must carry from one
    * batch into the next. A count above a's would let micro-batch 0
    * straddle a and the head of b. */
  case object PerBatch extends Admission

  /** Shard fan-out for a staged stream batch: enough files that the
    * per-batch xlsx decode parallelizes (a coalesce(1) sheet decodes on
    * one task), with no shard near Excel's 1,048,576-row sheet cap
    * (400k rows per shard leaves 2.6× headroom at any volume, as the
    * count grows with rows without a cap), and a floor of 4 for local
    * parallelism. Runs one count() job, inside the staging build, so a
    * session pays it once. */
  private[queries] def streamBatchShards(df: DataFrame): Int =
    math.max(4, math.ceil(df.count() / 400000.0).toInt)

  /** Private session for a streaming gate: 8 shuffle partitions (one
    * state store per partition per operator; 32 was pure small-file
    * overhead at this state size) and the state-store provider from
    * `SPARK_GRAFT_STATE_STORE` (Spark's HDFS-backed store by default;
    * RocksDB measured flat-to-slower at this state size). Its own
    * SQLConf and catalog keep both confs and the memory-sink view out of
    * the caller's session. */
  private def streamSession(spark: SparkSession): SparkSession = {
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "8")
    sys.env.get("SPARK_GRAFT_STATE_STORE").foreach(p =>
      ss.conf.set("spark.sql.streaming.stateStore.providerClass", p))
    ss
  }

  /** Runs `pipeline` over the gate's staged sources into a memory sink
    * named after the gate and returns the sink's table, which lives in
    * the run's private session. */
  def run(spark: SparkSession, gate: String, dir: String,
      sources: Seq[Seq[DataFrame]], admission: Admission,
      outputMode: String)(pipeline: Seq[DataFrame] => Dataset[_]): DataFrame = {
    val ss = streamSession(spark)
    val (owner, streams) = open(spark, ss, gate, dir, sources, admission)
    drain(gate, owner, pipeline(streams).writeStream.outputMode(outputMode)
      .format("memory").queryName(gate))
    ss.table(gate)
  }

  /** Runs `pipeline` over the gate's staged sources into the streaming
    * excel sink and returns the sink's output dir. The dir is kept for
    * the caller's read-back and reclaimed by this session's next run of
    * the gate. */
  def runToExcel(spark: SparkSession, gate: String, dir: String,
      sources: Seq[Seq[DataFrame]])(pipeline: Seq[DataFrame] => Dataset[_]): String = {
    val (owner, streams) =
      open(spark, streamSession(spark), gate, dir, sources, AllAtOnce)
    Option(owner.listFiles()).foreach(
      _.filter(_.getName.startsWith("out-")).foreach(deleteTree))
    val out = Files.createTempDirectory(owner.toPath, "out-").toFile
    drain(gate, owner, pipeline(streams).writeStream.format("excel")
      .option("path", out.getAbsolutePath))
    out.getAbsolutePath
  }

  /** A gate's root dir for one corpus; owner dirs live beneath it. */
  private[queries] def gateRoot(gate: String, dir: String): File =
    new File(System.getProperty("java.io.tmpdir"),
      s"graft_${gate}_${math.abs(dir.hashCode)}")

  private def ownerDir(spark: SparkSession, gate: String, dir: String): File =
    new File(gateRoot(gate, dir),
      s"${ProcessHandle.current().pid()}_${graft.SharedPrep.sessionKey(spark)}")

  /** Empties `owner` and deletes its sibling dirs whose process is gone;
    * a live process's other sessions may still be reading theirs. */
  private def reclaim(owner: File): File = {
    deleteTree(owner)
    Option(owner.getParentFile.listFiles()).foreach(_.foreach { d =>
      val pid = d.getName.takeWhile(_ != '_').toLongOption
      if (pid.exists(p => !ProcessHandle.of(p).isPresent)) deleteTree(d)
    })
    owner
  }

  /** A batch gate's dir for the workbooks it writes and reads back: the
    * caller session's owner dir, emptied, under the same ownership rule
    * as a stream gate's staging. */
  def batchDir(spark: SparkSession, gate: String, dir: String): File =
    reclaim(ownerDir(spark, gate, dir))

  /** Stages (or reuses) the gate's sources and opens one excel stream
    * per source on `ss` under `admission`. */
  private def open(spark: SparkSession, ss: SparkSession, gate: String,
      dir: String, sources: Seq[Seq[DataFrame]],
      admission: Admission): (File, Seq[DataFrame]) = {
    val owner = ownerDir(spark, gate, dir)
    val staged = cachedStaging(spark, s"streamGate:$gate:$dir", dir) {
      reclaim(owner)
      // one count over every batch, so the largest batch's shards stay
      // under the sheet cap
      val k = streamBatchShards(
        sources.flatten.map(_.select()).reduce(_ union _))
      sources.zipWithIndex.map { case (batches, i) =>
        val in = new File(owner, s"in$i")
        batches.zipWithIndex.foreach { case (b, j) =>
          b.repartition(k).write.format("excel")
            .option("shardedOutput", "true").mode("overwrite")
            .save(new File(in, ('a' + j).toChar.toString).getAbsolutePath)
        }
        in.getAbsolutePath
      }
    }
    val streams = staged.zip(sources).map { case (in, batches) =>
      val reader = ss.readStream.format("excel").schema(batches.head.schema)
        .option("recursiveFileLookup", "true")
      (admission match {
        case AllAtOnce => reader
        case PerBatch => reader.option("maxFilesPerTrigger",
          countXlsx(new File(in, "a").getAbsolutePath).max(1).toString)
      }).load(in)
    }
    (owner, streams)
  }

  /** Drains every staged file under AvailableNow, prints the run's
    * `[stream]` progress line, and deletes the checkpoint. */
  private def drain(gate: String, owner: File, writer: DataStreamWriter[_]): Unit = {
    val ckpt = Files.createTempDirectory(owner.toPath, "ckpt-").toFile
    try {
      val q = writer.option("checkpointLocation", ckpt.getAbsolutePath)
        .trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination() finally q.stop()
      val ps = q.recentProgress
      def ms(key: String): Long = ps.map(p =>
        Option(p.durationMs.get(key)).fold(0L)(_.longValue)).sum
      System.err.println(s"[stream] $gate batches=${ps.map(_.batchId).distinct.length} " +
        s"batch_ms=${ps.map(_.batchDuration).sum} wal_ms=${ms("walCommit")} " +
        s"commit_ms=${ms("commitOffsets")}")
    } finally deleteTree(ckpt)
  }

  /** SharedPrep-cached xlsx staging with a hit-time completeness check.
    * The SharedPrep fingerprint covers the source corpus dir, never the
    * staged tmp output, so a hit can hand back paths whose files vanished
    * (an OS tmp reaper during a long session), and an AvailableNow stream
    * over a gutted dir admits fewer files and silently returns a partial
    * table. The build-time .xlsx count per dir is recorded in the cached
    * value and every hit re-counts (one local walk, a few dozen entries);
    * any difference, including a partially reaped dir that still holds
    * some files, invalidates the entry and re-stages. */
  private[queries] def cachedStaging(spark: SparkSession, key: String, dir: String)(
      build: => Seq[String]): Seq[String] = {
    def stage(): (Seq[String], Seq[Int]) = {
      val dirs = graft.GateMetrics.staged(build)
      (dirs, dirs.map(countXlsx))
    }
    val (dirs, counts) = graft.SharedPrep.cached(spark, key, dir)(stage())
    val intact = dirs.zip(counts).forall { case (d, c) =>
      c > 0 && countXlsx(d) == c
    }
    if (intact) dirs
    else {
      System.err.println(
        s"[staging] cached dirs for $key lost staged xlsx files — re-staging")
      graft.SharedPrep.invalidate(spark, key)
      graft.SharedPrep.cached(spark, key, dir)(stage())._1
    }
  }

  /** Regular `.xlsx` files anywhere under `p` (0 if it does not exist). */
  private def countXlsx(p: String): Int = {
    val root = java.nio.file.Paths.get(p)
    if (!Files.exists(root)) 0
    else {
      val it = Files.walk(root)
      try it.filter(q => q.toString.endsWith(".xlsx") &&
        Files.isRegularFile(q)).count().toInt
      finally it.close()
    }
  }

  /** Deletes a file or a directory tree; a missing path is a no-op. */
  private[queries] def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
