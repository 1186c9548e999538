package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Cross-gate SHARED prep subtrees.
  *
  * Several gate families rebuild one identical, expensive preparation —
  * the symmetrized customer↔supplier trade graph feeds ten g-gates, the
  * near-dup pair list seventeen more, and the PageRank pair (g01/g03)
  * additionally shares the degree-annotated, src-partitioned edge list.
  * Recomputing that subtree per gate is pure waste in ANY multi-query
  * session (the bench, the Verify dump, a user running several queries
  * against one corpus), so the prep is memoized here per (session, key)
  * as an eagerly-materialized `localCheckpoint` and every caller after
  * the first reads the checkpointed blocks.
  *
  * The registry exists because materialization alone is not enough:
  * `Bench.drainLeaks()` unpersists every leaked RDD between queries (the
  * attribution-hygiene fix of r16), and a localCheckpoint whose blocks
  * are dropped is UNRECOVERABLE — its lineage was truncated by design.
  * Shared prep therefore registers its block ids in the keep-set, and
  * the drain spares exactly those. Ids are scoped by the owning
  * SparkContext's applicationId: RDD ids restart at 0 in every new
  * context, so an unscoped id registered by a stopped test session would
  * alias an unrelated RDD in a later one and silently exempt it from
  * draining. Kept ids are ADDITIONALLY tracked per cache key, so
  * invalidating a key (any keyPart) deregisters exactly its blocks and
  * the next drain reclaims them — a rebuilt entry never stacks new ids
  * on top of permanently-exempt stale ones.
  *
  * Session identity is `spark.sessionUUID` — unique and stable for the
  * session's lifetime. (The previous spelling keyed on
  * `System.identityHashCode(spark)`, which can collide between two live
  * sessions and is REUSED after a stopped session's object is collected
  * — exactly the cross-session aliasing the key exists to prevent.)
  * Entries are evicted when the owning application ends (a
  * SparkListener registered once per session), so stopped-session plans
  * are not pinned for the JVM's lifetime in multi-suite test runs.
  *
  * The memory this pins is the prep output itself (|E| fixed-width rows
  * — a few MB at sf0.1; at 100 TB a production session persists the same
  * artifact as a table), never per-round iteration state.
  *
  * STALENESS GUARD: a cached entry's contract is that its corpus dir is
  * immutable for the session's lifetime — and callers that pass `dir`
  * get that contract ENFORCED, not assumed: the dir's (file count,
  * per-file (path,size,mtime) hash, total bytes) fingerprint is recorded
  * at build and re-checked on every cache hit (one local FS walk, ~ms
  * against seconds of prep); a mismatch invalidates the entry and
  * rebuilds against the new bytes. Residual blind spot (by construction,
  * documented at [[dirFingerprint]]): a rewrite that preserves each
  * file's own size within one mtime tick of the filesystem's
  * granularity.
  * Callers with no backing dir (derived-from-derived preps) pass no dir
  * and keep the documented immutability contract.
  *
  * Thread-safety: `cached` is a reentrant get → synchronized
  * double-check → put (NOT `computeIfAbsent`: builders nest — tradeGraph
  * resolves tradePairs — and a nested `computeIfAbsent` on one
  * ConcurrentHashMap throws `IllegalStateException: Recursive update`
  * whenever the two keys share a bin, a per-JVM coin flip that silently
  * killed both PageRank gates in two full bench runs).
  */
object SharedPrep {

  private val cache = new ConcurrentHashMap[String, AnyRef]()
  /** Dir fingerprint recorded at build for entries built with a `dir`. */
  private val dirFps = new ConcurrentHashMap[String, (String, Long, Long, Long)]()
  /** appId#rddId strings the inter-query drain must spare. */
  private val kept = ConcurrentHashMap.newKeySet[String]()
  /** Which kept ids belong to which cache key — so invalidating a key
    * (partial or full) deregisters exactly its blocks. Ids registered by
    * [[checkpointShared]] calls OUTSIDE any `cached` build land under a
    * per-app synthetic key and only clear on a full invalidate. */
  private val keptByKey = new ConcurrentHashMap[String, java.util.Set[String]]()
  /** The cache key whose build is running on this thread (a stack:
    * builders nest). Lets [[checkpointShared]] attribute block ids. */
  private val buildingKey = new ThreadLocal[List[String]] {
    override def initialValue(): List[String] = Nil
  }
  /** Wall-clock seconds spent INSIDE outermost build blocks, per session
    * — the one-time prep cost best-of-N timing drops (it lands in the
    * first consumer's repeat 1). Bench emits it as `prep_build_s` so the
    * excluded work is quantified per run instead of estimated in prose.
    * A nested build runs inside its parent's wall, so only the outermost
    * build of a nest is accounted. */
  private val buildSecs = new ConcurrentHashMap[String, java.lang.Double]()
  /** [[GateMetrics]] staging seconds that accrued inside those same
    * outermost builds (cachedStaging's xlsx encodes) — already part of
    * `buildSecs`, so Bench subtracts them once. */
  private val buildStagingSecs = new ConcurrentHashMap[String, java.lang.Double]()
  /** Sessions that already have an eviction listener installed. */
  private val listenerInstalled = ConcurrentHashMap.newKeySet[String]()

  /** `sessionUUID` of the session — unique and stable for its lifetime,
    * but `private[sql]` at the Scala level (bytecode-public) and declared
    * on the runtime class (`classic.SparkSession` in Spark 4), not on the
    * `SparkSession` API class, so it is read reflectively from
    * `spark.getClass`. Fallback (a session class without the field):
    * applicationId + identityHashCode — unique while the session is live,
    * which the eviction listener then bounds. */
  private[graft] def sessionKey(spark: SparkSession): String =
    (try Option(spark.getClass.getMethod("sessionUUID").invoke(spark)
      .asInstanceOf[String])
    catch { case _: Exception => None }).getOrElse(
      spark.sparkContext.applicationId + "@" + System.identityHashCode(spark))

  /** Is (this context's) `rddId` a registered shared-prep block set that
    * an inter-query drain must spare? */
  def isKept(spark: SparkSession, rddId: Int): Boolean =
    kept.contains(spark.sparkContext.applicationId + "#" + rddId)

  /** Total seconds this session has spent building shared-prep entries
    * (cache misses only — hits cost nothing). */
  def buildSeconds(spark: SparkSession): Double = secondsOf(buildSecs, spark)

  /** The part of [[buildSeconds]] that [[GateMetrics.staged]] also
    * counted. */
  def buildStagingSeconds(spark: SparkSession): Double =
    secondsOf(buildStagingSecs, spark)

  private def secondsOf(m: ConcurrentHashMap[String, java.lang.Double],
      spark: SparkSession): Double = {
    val v = m.get(sessionKey(spark))
    if (v == null) 0.0 else v.doubleValue()
  }

  /** (file count, per-file hash, total bytes) over a local dir tree —
    * the staleness fingerprint. The middle slot is an FNV-1a over the
    * SORTED per-file (path, size, mtime) records, so a mid-session
    * rewrite is detected even when it preserves file count, total bytes,
    * and the max mtime (the pre-r19 triple missed exactly that case:
    * any single-file change within the filesystem's mtime granularity —
    * 1 s on many filesystems — that kept the byte total was invisible).
    * Caveat that remains by construction: a rewrite of one file that
    * preserves its OWN size within one mtime tick is still undetectable;
    * nothing cheaper than content hashing can see it, and the gate
    * corpora are write-once per round. Hadoop FS would generalize this
    * to object stores; the gate corpora are local files and `java.nio`
    * keeps the walk cheap. Unreadable path → a sentinel that still
    * changes when the path appears. */
  private def dirFingerprint(dir: String): (Long, Long, Long) = {
    var n = 0L; var bytes = 0L
    val entries = scala.collection.mutable.ArrayBuffer.empty[String]
    try {
      val root = java.nio.file.Paths.get(dir)
      if (java.nio.file.Files.exists(root)) {
        val it = java.nio.file.Files.walk(root)
        try {
          it.forEach { p =>
            val f = p.toFile
            if (f.isFile) {
              n += 1; bytes += f.length()
              entries += s"${p.toString}|${f.length()}|${f.lastModified()}"
            }
          }
        } finally it.close()
      } else n = -1L
    } catch { case _: Exception => n = -2L }
    val sorted = entries.sorted.mkString("\n")
    val hash = graft.functions.GraftHash.fnv1a64(
      sorted.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    (n, hash, bytes)
  }

  /** Memoize `build` per (session, key). The session identity
    * (`sessionUUID`) is part of the key so a test that stops its session
    * and starts another over the same fixture dir can never receive a
    * DataFrame bound to a dead session. `build` is responsible for
    * materializing what it returns (via [[checkpointShared]]) — the
    * cache only deduplicates calls.
    *
    * @param dir when non-empty, the corpus dir this entry derives from:
    *            its fingerprint is recorded at build and re-validated on
    *            every hit, invalidating + rebuilding on mismatch (the
    *            mid-session-rewrite safety net). */
  def cached[T <: AnyRef](spark: SparkSession, key: String,
      dir: String = "")(build: => T): T = {
    installEvictionListener(spark)
    val sk = sessionKey(spark)
    val k = sk + "#" + key
    val hit = cache.get(k)
    if (hit != null && (dir.isEmpty || dirStillValid(k, dir)))
      hit.asInstanceOf[T]
    else synchronized {
      val again = cache.get(k)
      if (again != null && (dir.isEmpty || dirStillValid(k, dir)))
        again.asInstanceOf[T]
      else {
        if (again != null) dropEntry(k) // stale-dir rebuild
        val outermost = buildingKey.get().isEmpty
        val t0 = System.nanoTime()
        val staged0 = GateMetrics.snapshot()
        buildingKey.set(k :: buildingKey.get())
        val v = try build finally buildingKey.set(buildingKey.get().tail)
        if (outermost) {
          buildSecs.merge(sk, (System.nanoTime() - t0) / 1e9,
            (a, b) => a + b)
          buildStagingSecs.merge(sk, (GateMetrics.snapshot() - staged0) / 1e9,
            (a, b) => a + b)
        }
        if (dir.nonEmpty) {
          val fp = dirFingerprint(dir)
          dirFps.put(k, (dir, fp._1, fp._2, fp._3))
        }
        cache.put(k, v)
        v
      }
    }
  }

  private def dirStillValid(k: String, dir: String): Boolean = {
    val rec = dirFps.get(k)
    rec != null && rec._1 == dir && {
      val now = dirFingerprint(dir)
      (now._1, now._2, now._3) == (rec._2, rec._3, rec._4)
    }
  }

  /** Remove one entry and DEREGISTER its kept block ids (the blocks
    * themselves stay persisted until the next drain reclaims them as
    * ordinary leaks — unpersisting here could race a concurrent reader). */
  private def dropEntry(k: String): Unit = {
    cache.remove(k)
    dirFps.remove(k)
    val ids = keptByKey.remove(k)
    if (ids != null) ids.forEach(id => kept.remove(id))
  }

  /** Drop every cached entry and kept-id registration for `spark` whose
    * key contains `keyPart` (empty string = all of the session's
    * entries, including unkeyed checkpointShared registrations). The
    * blocks themselves are NOT unpersisted here — after invalidation
    * they are ordinary leaks and the next drain reclaims them. For
    * callers that rewrite a corpus dir mid-session. */
  def invalidate(spark: SparkSession, keyPart: String = ""): Unit =
    synchronized {
      val prefix = sessionKey(spark) + "#"
      val it = cache.keySet.iterator()
      val toDrop = List.newBuilder[String]
      while (it.hasNext) {
        val k = it.next()
        if (k.startsWith(prefix) && k.contains(keyPart)) toDrop += k
      }
      toDrop.result().foreach(dropEntry)
      if (keyPart.isEmpty) {
        // unkeyed checkpointShared registrations + any stragglers
        val app = spark.sparkContext.applicationId + "#"
        val kit = kept.iterator()
        while (kit.hasNext) if (kit.next().startsWith(app)) kit.remove()
        keptByKey.remove(unkeyed(spark))
      }
    }

  private def unkeyed(spark: SparkSession): String =
    "(unkeyed)#" + spark.sparkContext.applicationId

  /** Evict a stopped session's entries so multi-suite JVMs don't pin
    * dead plans forever. applicationEnd fires when the owning
    * SparkContext stops; sessions sharing that context die with it. */
  private def installEvictionListener(spark: SparkSession): Unit = {
    val sk = sessionKey(spark)
    if (listenerInstalled.add(sk)) {
      val app = spark.sparkContext.applicationId
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onApplicationEnd(
              e: org.apache.spark.scheduler.SparkListenerApplicationEnd)
              : Unit = SharedPrep.synchronized {
            val it = cache.keySet.iterator()
            val toDrop = List.newBuilder[String]
            while (it.hasNext) {
              val k = it.next()
              if (k.startsWith(sk + "#")) toDrop += k
            }
            toDrop.result().foreach(dropEntry)
            val kit = kept.iterator()
            while (kit.hasNext)
              if (kit.next().startsWith(app + "#")) kit.remove()
            keptByKey.remove("(unkeyed)#" + app)
            buildSecs.remove(sk)
            buildStagingSecs.remove(sk)
            listenerInstalled.remove(sk)
          }
        })
    }
  }

  /** Eager `localCheckpoint` whose blocks are REGISTERED as shared so an
    * inter-query drain spares them — attributed to the `cached` key whose
    * build is running on this thread (or a per-app unkeyed bucket when
    * called standalone). The persisted RDD's id is read straight off the
    * returned Dataset's `LogicalRDD` plan — the id of `df.rdd` is NOT
    * the persisted one (that is a fresh deserializing wrapper), and a
    * before/after `getPersistentRDDs` diff (the previous spelling) would
    * also capture RDDs persisted concurrently by other threads,
    * permanently exempting foreign blocks from the drain. */
  def checkpointShared(df: DataFrame): DataFrame = synchronized {
    val sc = df.sparkSession.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val out = df.localCheckpoint()
    val app = sc.applicationId
    val owner = buildingKey.get().headOption
      .getOrElse(unkeyed(df.sparkSession))
    def register(id: Int): Unit = {
      val scoped = app + "#" + id
      kept.add(scoped)
      keptByKey
        .computeIfAbsent(owner, _ => ConcurrentHashMap.newKeySet[String]())
        .add(scoped)
    }
    out.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        register(lr.rdd.id)
      case _ =>
        // fallback: the plan shape changed across a Spark upgrade — use
        // the snapshot diff (single-threaded sessions only, which bench
        // and verify are)
        (sc.getPersistentRDDs.keySet -- before).foreach(register)
    }
    out
  }
}
