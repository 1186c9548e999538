package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Contract of the cross-gate shared-prep registry: memoization identity,
  * drain survival (the property Bench.drainLeaks depends on — dropping a
  * localCheckpoint's blocks is unrecoverable), and session-scoped keys. */
class SharedPrepSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("cached memoizes per key: same key same instance, new key new build") {
    import spark.implicits._
    var builds = 0
    def build() = { builds += 1; Seq(1, 2, 3).toDF("x") }
    val a = SharedPrep.cached(spark, "sps-key1")(build())
    val b = SharedPrep.cached(spark, "sps-key1")(build())
    val c = SharedPrep.cached(spark, "sps-key2")(build())
    assert(a eq b, "same (session, key) must return the cached instance")
    assert(!(a eq c), "a different key must build fresh")
    assert(builds == 2, s"expected 2 builds, got $builds")
  }

  test("cached is NEST-safe: a builder may resolve another cached key") {
    import spark.implicits._
    // the tradeGraph-on-tradePairs shape; a ConcurrentHashMap
    // computeIfAbsent spelling threw 'Recursive update' here whenever
    // the two keys shared a bin (per-JVM coin flip — it silently killed
    // g01/g03 in two full bench runs)
    var innerBuilds = 0
    def inner() = SharedPrep.cached(spark, "sps-nest-inner") {
      innerBuilds += 1; Seq(1L, 2L).toDF("x")
    }
    // many outer keys so at least one collides with the inner's bin
    val outs = (0 until 64).map { i =>
      SharedPrep.cached(spark, s"sps-nest-outer-$i") {
        inner().select(
          (org.apache.spark.sql.functions.col("x") + i).as("y"))
      }
    }
    assert(innerBuilds == 1, "inner built once, resolved from every nest")
    assert(outs(63).agg(org.apache.spark.sql.functions.sum("y"))
      .head().getLong(0) == 129L) // (1+63)+(2+63)
  }

  test("checkpointShared survives a Bench-style drain of unkept RDDs") {
    import spark.implicits._
    val sc = spark.sparkContext
    val shared = SharedPrep.checkpointShared(
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    // an UNREGISTERED leak, as a gate would leave behind
    val leak = Seq(9L).toDF("id").localCheckpoint()
    assert(leak.count() == 1)
    // the exact drain Bench runs between queries
    sc.getPersistentRDDs
      .filterNot { case (id, _) => SharedPrep.isKept(spark, id) }
      .values.foreach(_.unpersist(blocking = true))
    // shared blocks survive: the checkpointed data is still readable
    assert(shared.count() == 2)
    assert(shared.select("v").orderBy("id").collect().map(_.getString(0))
      .toSeq == Seq("a", "b"))
    // and the drain did drop the unregistered leak's blocks
    assert(sc.getPersistentRDDs.values
      .forall(r => SharedPrep.isKept(spark, r.id)),
      "only registered shared RDDs may remain persisted after a drain")
  }

  test("a mid-session corpus-dir rewrite invalidates the entry: fresh " +
    "results, and the stale entry's kept ids are deregistered") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("sps-dir").toString
    def writeFixture(rows: Seq[Long]): Unit =
      rows.toDF("id").coalesce(1).write.mode("overwrite")
        .parquet(s"$dir/t.parquet")
    writeFixture(Seq(1L, 2L, 3L))
    var builds = 0
    def keptIds(): Set[Int] = spark.sparkContext.getPersistentRDDs.keys
      .filter(SharedPrep.isKept(spark, _)).toSet
    val keptBefore = keptIds() // earlier tests' shared entries
    def entry() = SharedPrep.cached(spark, s"sps-dirval:$dir", dir) {
      builds += 1
      SharedPrep.checkpointShared(spark.read.parquet(s"$dir/t.parquet"))
    }
    assert(entry().count() == 3 && builds == 1)
    assert(entry().count() == 3 && builds == 1, "unchanged dir: cache hit")
    val staleKept = keptIds() -- keptBefore // ids THIS entry registered
    // rewrite the fixture — different row count AND bytes
    Thread.sleep(5) // mtime granularity guard
    writeFixture(Seq(10L, 20L, 30L, 40L, 50L))
    val fresh = entry()
    assert(builds == 2, "fingerprint mismatch must rebuild")
    assert(fresh.count() == 5, "rebuild must read the new bytes")
    // the STALE entry's kept ids were deregistered, so a drain reclaims
    // them (the rebuilt entry's fresh ids remain kept)
    val stillKeptStale = staleKept.filter(SharedPrep.isKept(spark, _))
    assert(stillKeptStale.isEmpty,
      s"stale kept ids must be deregistered, still kept: $stillKeptStale")
  }

  test("a rewrite that preserves file count, TOTAL bytes, and max mtime " +
    "is still detected (r19: per-file fingerprint, not aggregate)") {
    val dir = java.nio.file.Files.createTempDirectory("sps-swap")
    def put(name: String, n: Int): java.io.File = {
      val f = dir.resolve(name).toFile
      val out = new java.io.FileOutputStream(f)
      try out.write(Array.fill[Byte](n)(7)) finally out.close()
      f
    }
    val a = put("a.bin", 10); val b = put("b.bin", 20)
    val (ma, mb) = (a.lastModified(), b.lastModified())
    var builds = 0
    def entry() = SharedPrep.cached(spark, s"sps-swap:$dir", dir.toString) {
      builds += 1; "built-" + builds
    }
    assert(entry() == "built-1" && entry() == "built-1")
    // swap the two files' sizes and RESTORE their mtimes: the aggregate
    // (count=2, total=30, max mtime) is byte-identical to before — the
    // pre-r19 triple fingerprint served the stale entry here
    put("a.bin", 20).setLastModified(ma)
    put("b.bin", 10).setLastModified(mb)
    assert(entry() == "built-2",
      "per-file (path,size,mtime) hash must catch an aggregate-preserving rewrite")
  }

  test("partial invalidate deregisters exactly that key's kept ids") {
    import spark.implicits._
    val a = SharedPrep.cached(spark, "sps-partial-A") {
      SharedPrep.checkpointShared(Seq(1L).toDF("x"))
    }
    val b = SharedPrep.cached(spark, "sps-partial-B") {
      SharedPrep.checkpointShared(Seq(2L).toDF("x"))
    }
    assert(a.count() == 1 && b.count() == 1)
    val keptIds = spark.sparkContext.getPersistentRDDs.keys
      .filter(SharedPrep.isKept(spark, _)).toSet
    SharedPrep.invalidate(spark, "sps-partial-A")
    val after = keptIds.filter(SharedPrep.isKept(spark, _))
    assert(after.size < keptIds.size,
      "invalidating key A must deregister A's blocks")
    // B survives both the registry and a drain
    spark.sparkContext.getPersistentRDDs
      .filterNot { case (id, _) => SharedPrep.isKept(spark, id) }
      .values.foreach(_.unpersist(blocking = true))
    assert(b.count() == 1, "B's checkpoint must survive the drain")
  }

  test("buildSeconds accounts build time once per entry") {
    import spark.implicits._
    val before = SharedPrep.buildSeconds(spark)
    SharedPrep.cached(spark, "sps-buildsec") {
      Thread.sleep(30); Seq(1).toDF("x")
    }
    val mid = SharedPrep.buildSeconds(spark)
    assert(mid - before >= 0.025, s"build time must be accounted: $mid")
    SharedPrep.cached(spark, "sps-buildsec")(Seq(2).toDF("x"))
    assert(SharedPrep.buildSeconds(spark) == mid, "hits cost nothing")
  }

  test("staging inside builds is recorded once, nested builds counted once") {
    import spark.implicits._
    val build0 = SharedPrep.buildSeconds(spark)
    val staged0 = SharedPrep.buildStagingSeconds(spark)
    SharedPrep.cached(spark, "sps-stage-outer") {
      GateMetrics.staged(Thread.sleep(30))
      SharedPrep.cached(spark, "sps-stage-inner") {
        GateMetrics.staged(Thread.sleep(30)); Thread.sleep(200)
        Seq(1).toDF("x")
      }
    }
    val staged = SharedPrep.buildStagingSeconds(spark) - staged0
    val built = SharedPrep.buildSeconds(spark) - build0
    assert(staged >= 0.055 && staged < built, s"staging in builds: $staged")
    // ~0.26 s of wall: the inner build (0.23 s) runs inside the outer
    // one and must not be added a second time (that would read ≥ 0.49 s)
    assert(built >= 0.255 && built < 0.45, s"build seconds: $built")
    // staging outside any build is not prep staging
    GateMetrics.staged(Thread.sleep(10))
    assert(SharedPrep.buildStagingSeconds(spark) - staged0 == staged)
  }
}
