package graft.queries

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression tests: the optimizations that matter at 100 TB
  * must be visible in the physical plan, not assumed. Each assertion is a
  * property that, if lost, silently multiplies cost at scale. */
class PlanQualitySpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    val df = graft.SparkEntry.queries(name)(spark, dir)
    df.queryExecution.executedPlan.toString
  }

  test("q02: filters push down to the parquet scan") {
    val p = plan("q02_filter_project")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("l_shipdate"), "shipdate filter must reach the scan")
    // column pruning: scan must not read all 11 lineitem columns
    assert(p.contains("ReadSchema"), p)
    val read = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!read.contains("l_returnflag"), s"over-read: $read")
  }

  test("q03: 3-way join + distinct-count keeps one lineitem scan and partial aggs") {
    val p = plan("q03_join_agg")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      s"q03 degenerated:\n$p")
    // map-side combine below the first exchange — the revenue sum is
    // partial at the (mktsegment, orderkey) distinct-expand level
    assert(p.contains("partial_sum"), s"no partial aggregation:\n$p")
    assert(p.contains("partial_count(distinct"),
      s"distinct count must be the two-phase rewrite:\n$p")
    // lineitem (the fact side) is scanned exactly once; the distinct-count
    // expand must not re-read or re-shuffle it a second time
    assert("lineitem\\.parquet".r.findAllIn(p).size == 1,
      s"lineitem scanned more than once:\n$p")
    // and its scan prunes to the 3 columns the query touches
    val liScan = p.linesIterator.find(l =>
      l.contains("lineitem.parquet") && l.contains("ReadSchema")).get
    assert(!liScan.contains("l_quantity") && !liScan.contains("l_shipdate"),
      s"lineitem over-read: $liScan")
    // exchange budget: distinct-expand agg + final agg + orderBy range
    // partitioning; anything above 3 means a join started re-shuffling
    assert("Exchange (hash|range)partitioning".r.findAllIn(p).size <= 3,
      s"unexpected extra shuffles:\n$p")
  }

  test("q04: small dimension is broadcast, not shuffled") {
    assert(plan("q04_broadcast_join").contains("BroadcastHashJoin"))
  }

  test("q05: five-way join broadcasts both small dims") {
    val p = plan("q05_nation_revenue")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      "nation and region should both broadcast")
  }

  test("q11: top-k plans TakeOrderedAndProject (no full sort shuffle)") {
    assert(plan("q11_sort_limit").contains("TakeOrderedAndProject"))
  }

  test("q01: aggregation is partial (map-side combine) before the shuffle") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("partial"), "expect partial_ aggregate functions")
  }

  test("q07: semi join stays a real semi join") {
    assert(plan("q07_semi_join").contains("LeftSemi"))
  }

  test("scalar text ops stay inside whole-stage codegen") {
    import org.apache.spark.sql.functions._
    // projection-only shape (the orderBy in the gate query adds an AQE
    // exchange whose plan string hides codegen stage markers)
    val df = spark.read.parquet(s"$dir/documents.parquet")
      .select(graft.operators.TextAnalysis.tokenCount(col("text")).as("n"))
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*("), s"no codegen stage markers in:\n$p")
  }

  test("fnv1a64 codegen expression does not break codegen spans") {
    import org.apache.spark.sql.functions._
    val df = spark.read.parquet(s"$dir/documents.parquet")
      .select(graft.functions.TextExpressions.fnv1a64(col("text")).as("h"))
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*("), s"no codegen stage markers in:\n$p")
    assert(df.count() > 0)
  }

  test("d15: semantic dedup self-join reuses the one cell exchange") {
    // broadcasts off: at test scale AQE would broadcast the tiny second
    // side, hiding the property that matters at 100 TB — both self-join
    // sides feeding from ONE shuffle of the corpus by cell
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      val df = graft.SparkEntry.queries("d15_semantic_dedup")(spark, dir)
      df.collect() // AQE decides exchange reuse at stage materialization
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("ReusedExchange"), s"cell exchange not reused:\n$p")
      assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
        s"d15 degenerated:\n$p")
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
  }

  test("pair operators never plan cartesian/nested-loop joins") {
    Seq("d02_minhash_lsh", "d03_simhash", "d04_ngram_jaccard",
      "d05_embedding_neardup", "d07_containment", "d09_decontamination",
      "d10_substring_spans", "d11_substring_dedup", "d14_fuzzy_join",
      "d15_semantic_dedup", "s08_knn_join_qlsh", "d20_incremental_neardup",
      "g02_triangles", "d19_incremental_dedup", "g06_link_prediction",
      "m12_crossmodal_retrieval", "m13_audio_fingerprint")
      .foreach { q =>
        val p = plan(q)
        assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
          s"$q degenerated:\n$p")
      }
    // the s05 GATE legitimately appends a one-row broadcast contract flag
    // (accuracy-contract shape), so pin the raw OPERATOR's plan instead:
    // the banded knn join itself must stay an equi-join, never a cross
    // product
    locally {
      import org.apache.spark.sql.functions.col
      val e = spark.read.parquet(s"$dir/embeddings.parquet")
      val p = graft.operators.Similarity.knnJoinLsh(
        e.filter(col("vec_id") < 5), e, "vec_id", "embedding",
        "vec_id", "embedding", k = 5, bandBits = 6, bandCount = 12,
        seed = 42L).queryExecution.executedPlan.toString
      assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
        s"knnJoinLsh degenerated:\n$p")
    }
  }

  test("d10: gram counting is partial-aggregated and gram identity is fixed-width") {
    val p = plan("d10_substring_spans")
    assert(p.contains("partial_count"), "span agg must map-side combine")
    // r21: the dup-gram subtree groups by two xxhash64 keys (verified
    // against collisions at emission) and materializes the matched
    // positions once — the gate's final plan reads the checkpoint and
    // must never shuffle or join on a gram STRING column (the 10×
    // A/B: string keys 4.8 s / 572 MB agg state vs 2.3 s / 47 MB)
    assert(p.contains("Scan ExistingRDD"),
      s"dup positions should read the materialized checkpoint:\n$p")
    assert(!p.linesIterator.exists(l =>
      l.contains("Exchange hashpartitioning(gram")),
      s"no exchange may be keyed on the gram string:\n$p")
  }

  test("p06: z-order key computation stays inside whole-stage codegen") {
    import org.apache.spark.sql.functions._
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = spark.read.parquet(s"$dir/events.parquet")
      .select(graft.operators.Layout.zorderKey(
        Seq(pmod(col("user_id"), lit(1024L)), pmod(col("event_id"), lit(1024L))),
        bits = 10).as("z"))
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*("), s"no codegen stage markers in:\n$p")
  }

  test("q41: sketch join-back broadcasts the 3-row aggregate") {
    val p = plan("q41_approx_percentile")
    assert(p.contains("BroadcastHashJoin"),
      s"rank check must broadcast the sketch output, not shuffle lineitem:\n$p")
  }

  test("s06: quantized LSH ANN is scan + filter + top-k, zero shuffles") {
    val p = plan("s06_ann_qlsh")
    // the bucket predicate evaluates row-local over the scan; the only
    // plan-level data movement is the top-k merge
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange hashpartitioning"),
      s"quantized LSH must not shuffle the corpus:\n$p")
    // r14: the candidate decision is ONE codegen'd kernel call, not a
    // per-band OR-chain of interpreted HOF trees
    assert(p.contains("qlsh_any_match"), s"expect the kernel predicate:\n$p")
    assert(!p.contains("aggregate(transform"),
      s"no interpreted per-band quantization in the scan filter:\n$p")
  }

  test("s12: quantized MIPS has no interpreted HOF subtree (r13 item 1)") {
    // the r13 form rebuilt the norm-augmented array and re-ran an
    // interpreted aggregate(transform(...)) fold once per band per row —
    // 35 s at sf0.1, 180× the codegen'd scan of the same table. Pin the
    // operator's plan: quantization is one qlsh kernel call, the dot
    // products are the codegen'd dot_product expression, and no
    // aggregate/zip_with HOF tree survives anywhere.
    import org.apache.spark.sql.functions.col
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val q = graft.operators.Similarity.vectorOf(spark, dir, 0L)
    val df = graft.operators.Similarity.mipsTopKQuantized(
      e, "vec_id", "embedding", q, 10, bandBits = 4, bandCount = 8)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("qlsh_any_match"), s"expect the kernel predicate:\n$p")
    assert(p.contains("dot_product"), s"expect codegen'd dot:\n$p")
    assert(!p.contains("aggregate(") && !p.contains("zip_with("),
      s"interpreted HOF fold back in the MIPS hot path:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"MIPS candidate scan must not shuffle the corpus:\n$p")
  }

  test("s19: ranking metrics join broadcasts the probe side; run x rels is an equi-join") {
    val p = plan("s19_ranking_metrics")
    // the retrieval run broadcasts 5 probes over the corpus (s04 shape);
    // the metrics layer joins run x judgments on (qid, did) — fixed-width
    // equi-joins and partial aggs only, never a cartesian
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"probe side should broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"s19 degenerated:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"per-query metrics must partial-aggregate:\n$p")
  }

  test("t31: reliability binning is two passes — scalar broadcast, then partial agg") {
    val p = plan("t31_reliability")
    // the score range/base-rate scalar rides back as a broadcast one-row
    // frame; bin assignment is map-side and the per-bin rollup partial-
    // aggregates — no global sort, no window over the corpus
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"range scalar should broadcast:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"per-bin rollup must partial-aggregate:\n$p")
    assert(!p.contains("Window"), s"no corpus-wide window (the ntile trap):\n$p")
  }

  test("s04: exact knn join broadcasts the probe side, corpus unshuffled") {
    val p = plan("s04_knn_join")
    // the probe batch rides a broadcast join (corpus never shuffles for
    // the join itself); only the fixed-width rank window exchanges
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"probe side should broadcast:\n$p")
    assert(p.contains("Window"), p)
    assert(!p.contains("SortMergeJoin"), s"corpus must not shuffle-join:\n$p")
  }

  test("q25: as-of join is one window pass, no join operator at all") {
    val p = plan("q25_asof_join")
    assert(p.contains("Window"), p)
    // the union+window form must not degenerate into any join
    assert(!p.contains("SortMergeJoin") && !p.contains("NestedLoop") &&
      !p.contains("CartesianProduct"), s"as-of degenerated:\n$p")
  }

  test("q50: bloom prune is row-local and the semi join broadcasts") {
    val p = plan("q50_bloom_semijoin")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      s"exact semi join must broadcast the dim side:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"fact side must never shuffle-join:\n$p")
    // the fact stream must flow scan → row-local bloom filter → broadcast
    // join → partial agg with no exchange of its own: the only
    // hashpartitioning exchanges allowed are the (tiny) bloom-build
    // aggregation on the dim side and the final 3-group aggregation
    val shuffles = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(shuffles <= 2,
      s"fact side must not exchange — expected dim-build + final agg only, " +
        s"got $shuffles:\n$p")
  }

  test("p16: bucketed join exchanges NEITHER side") {
    val p = plan("p16_bucketed_join")
    assert(p.contains("SortMergeJoin"), s"expected merge join:\n$p")
    // both scans are 8-bucket tables on the join key: the join runs on
    // the storage layout; the only exchange is the final 5-group agg
    val shuffles = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(shuffles <= 1,
      s"bucketed join must not re-shuffle either side, got $shuffles:\n$p")
  }

  test("q26: range join is an equi hash join on the bucket key") {
    val p = plan("q26_range_join")
    assert(p.contains("BroadcastHashJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("SortMergeJoin"), p)
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      s"range join degenerated:\n$p")
  }

  test("q29: exact stats run as one aggregation pass over the scan") {
    val p = plan("q29_exact_stats")
    // one logical aggregation → exactly one shuffle-read pair of
    // HashAggregates (partial+final); a second Exchange besides the final
    // sort would mean the moments are computed in separate passes
    assert("HashAggregate".r.findAllIn(p).size <= 2, s"extra agg passes:\n$p")
    assert(p.contains("partial"), "expect map-side partial aggregation")
  }

  test("native cosine expression stays inside whole-stage codegen") {
    import org.apache.spark.sql.functions._
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val df = emb.select(graft.functions.VectorFunctions
      .cosine(col("embedding"), col("embedding")).as("c"))
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*("), s"no codegen stage markers in:\n$p")
    // and no interpreted higher-order functions in the hot path
    assert(!p.toLowerCase.contains("lambdafunction"), p)
    assert(df.count() > 0)
  }

  test("sketch expressions (minhash/simhash/shingles) stay inside codegen") {
    import org.apache.spark.sql.functions._
    val df = spark.read.parquet(s"$dir/documents.parquet")
      .select(
        graft.functions.TextExpressions.minhash(col("text"), 128, 3).as("m"),
        graft.functions.TextExpressions.simhash(col("text"), 3).as("s"),
        graft.functions.TextExpressions.shingleSet(col("text"), 3).as("sh"))
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*("), s"no codegen stage markers in:\n$p")
    assert(df.count() > 0)
  }

  test("group similarity above the all-pairs cap bands to an equi-join") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // 30 groups with the cap forced to 10 → the banded path must plan the
    // pair step as an equi hash/merge join, never G² cartesian
    val rows = (0 until 30).flatMap(g => (0 until 3).map(d =>
      (s"g$g", s"alpha bravo charlie delta echo g$g d$d foxtrot golf hotel")))
    val df = rows.toDF("grp", "text")
    val out = graft.operators.GroupSimilarity.groupPairSimilarity(
      df, "grp", "text", numHashes = 64, bands = 16, maxAllPairsGroups = 10)
    val p = out.queryExecution.executedPlan.toString
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      s"group-pair step degenerated to all-pairs:\n$p")
  }

  test("d18: bloom probe is row-local — corpus grams never shuffle " +
    "before the candidate filter") {
    val p = plan("d18_bloom_decontaminate")
    // the one-row filter map reaches the probe via broadcast
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"bloom filter map must broadcast:\n$p")
    // the membership test is a Filter expression, not a join+agg per gram:
    // shiftright against the broadcast map appears inside a Filter node
    assert(p.contains("shiftright"), s"row-local bit test missing:\n$p")
    assert(!p.contains("CartesianProduct"), s"d18 degenerated:\n$p")
  }

  test("g01: pagerank round is equi-join + partial agg, never cartesian") {
    // the per-round plan is hidden by localCheckpoint in the full run —
    // pin it directly through the exposed round function
    import spark.implicits._
    val eDeg = Seq((1L, 2L, 1L), (2L, 1L, 1L))
      .toDF("src", "dst", "outdeg")
    val nodes = Seq((1L, true), (2L, true)).toDF("node", "is_seed")
    val ranks = nodes.select(nodes("node"), nodes("is_seed"),
      org.apache.spark.sql.functions.lit(1000000L).as("rank"))
    val round = graft.operators.Graph.prRound(eDeg, nodes, ranks,
      150000L, 85L, 100L)
    val p = round.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), s"g01 round degenerated:\n$p")
    assert(p.contains("partial_sum"),
      s"contribution sum must partial-aggregate (map-side combine):\n$p")
    // final top-100 of the full gate is a TakeOrdered, not a global sort
    assert(plan("g01_pagerank").contains("TakeOrderedAndProject"))
  }

  test("g01/g03: both PageRank gates run over the SHARED prepared trade " +
    "graph — neither final plan rescans orders/lineitem") {
    // force g01 first (it materializes the shared prep), then g03: the
    // symmetrize+degree subtree must arrive as checkpointed blocks, so
    // the only parquet scan g03 may plan is its supplier seed list
    val p1 = plan("g01_pagerank")
    val p3 = plan("g03_personalized_pagerank")
    for ((nm, p) <- Seq("g01" -> p1, "g03" -> p3); t <- Seq("orders", "lineitem"))
      assert(!p.contains(s"$t.parquet"),
        s"$nm re-reads $t instead of the shared prep:\n$p")
    assert(!p3.linesIterator.exists(l =>
      l.contains("Scan parquet") && !l.contains("supplier")),
      s"g03 may scan only supplier (seeds):\n$p3")
  }

  test("g05: label-propagation round is equi-joins + partial aggs, " +
    "never cartesian") {
    // same localCheckpoint opacity as g01 — pin through the round fn
    import spark.implicits._
    val sym = Seq((1L, 2L), (2L, 1L)).toDF("a", "b")
    val labels = Seq((1L, 1L), (2L, 2L)).toDF("node", "community")
    val p = graft.operators.Graph.lpRound(sym, labels)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      s"g05 round degenerated:\n$p")
    assert(p.contains("partial_count"),
      s"vote count must partial-aggregate (map-side combine):\n$p")
  }

  test("t18: vocab intersection is an equi-join; only the 1-row-per-source " +
    "totals may nested-loop") {
    val p = plan("t18_domain_divergence")
    assert(!p.contains("CartesianProduct"), s"t18 degenerated:\n$p")
    // the big join (token counts x token counts on word) must be hash or
    // sort-merge keyed on word — a nested loop here is quadratic in vocab
    assert(p.contains("SortMergeJoin [word") ||
      p.contains("ShuffledHashJoin [word") ||
      p.contains("BroadcastHashJoin [word"),
      s"word-intersection join must be an equi-join:\n$p")
  }

  test("p09: mixture thresholds broadcast back to the corpus probe") {
    val p = plan("p09_mixture_sample")
    assert(p.contains("BroadcastExchange"),
      s"threshold table must broadcast, corpus must not shuffle:\n$p")
    assert(p.contains("partial_sum") || p.contains("partial_count"),
      s"per-source counts must partial-aggregate:\n$p")
  }

  test("p11: quality report is single-pass partial aggregation per table") {
    val p = plan("p11_quality_report")
    assert(p.contains("partial_"), s"metrics must map-side combine:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    // each table is scanned exactly once — a per-metric rescan would
    // multiply the 100 TB cost by the metric count
    assert("lineitem\\.parquet".r.findAllIn(p).size == 1,
      s"lineitem scanned more than once:\n$p")
    assert("documents\\.parquet".r.findAllIn(p).size == 1,
      s"documents scanned more than once:\n$p")
  }

  test("s09: PQ encode+ADC is a map-only scan, zero shuffles") {
    val p = plan("s09_ann_pq")
    // codebook and lookup tables ride as literals; encoding and ADC are
    // row-local, so the only data movement is the top-k merge
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange hashpartitioning"),
      s"PQ must not shuffle the corpus:\n$p")
  }

  test("q52: one lineitem scan; readout windows run over the merged summary") {
    val p = plan("q52_histogram_union")
    // the per-slice histogram state table is localCheckpoint-materialized,
    // so the readout plan reads the CHECKPOINTED summary — lineitem itself
    // appears at most once (in practice zero times: lineage truncated)
    assert("lineitem\\.parquet".r.findAllIn(p).size <= 1,
      s"readout must not rescan lineitem:\n$p")
    assert(p.contains("partial_min") || p.contains("partial_sum"),
      s"summary aggregation must map-side combine:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop") ||
      p.contains("BroadcastNestedLoopJoin"), // 3-row p×summary probe only
      s"q52 degenerated:\n$p")
  }

  test("q53: readout windows run over the kept summary, never a data sort") {
    val p = plan("q53_kll_quantiles")
    // the sketch build localCheckpoints level counts + kept rows, so the
    // readout plan never rescans lineitem beyond the audit column's one
    // conditional-count pass
    assert("lineitem\\.parquet".r.findAllIn(p).size <= 1,
      s"q53 readout must not rescan lineitem:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"level counts must map-side combine:\n$p")
  }

  test("m10: banded perceptual join is equi-join, never cartesian") {
    val p = plan("m10_perceptual_neardup")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      s"pigeonhole banding must stay an equi-join:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_min"),
      s"distinct-hash collapse must partial-aggregate:\n$p")
  }

  test("t22: DSIR LM tables broadcast; corpus pays one fixed-width shuffle") {
    val p = plan("t22_dsir_weights")
    assert(p.contains("BroadcastExchange"),
      s"LM tables must broadcast onto the probe stream:\n$p")
    assert(p.contains("partial_count"),
      s"bucket counts must map-side combine:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the corpus must never shuffle-join against a <=4096-row LM:\n$p")
  }

  test("p19: the incremental update never rescans history text") {
    val p = plan("p19_incremental_curation")
    // yesterday's artifacts enter as lineage-severed materialized rows —
    // if the composition ever inlined history, these would revert to
    // parquet scans and the scan count below would grow past the batch
    // side's references
    assert("Scan ExistingRDD".r.findAllIn(p).size >= 3,
      s"store + report + batch rows must be checkpointed:\n$p")
    assert(!p.contains("documents.parquet"),
      s"raw text re-entered the update plan:\n$p")
  }

  test("excel scan prunes columns at the source") {
    import org.apache.spark.sql.functions._
    // reuse the roundtrip fixture: write then read a projection
    val out = new java.io.File(
      System.getProperty("java.io.tmpdir"), "graft_planspec.xlsx").getAbsolutePath
    val nation = spark.read.parquet(s"$dir/nation.parquet")
    nation.coalesce(1).write.format("excel").mode("overwrite").save(out)
    val df = spark.read.format("excel").schema(nation.schema).load(out)
      .select(col("n_name"))
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("columns=[n_name]"), p)
  }

  test("excel_topn: TakeOrderedAndProject runs over the excel scan") {
    val p = plan("excel_topn")
    // Spark owns the per-partition heaps and the global merge, so
    // correctness never depends on cross-partition order
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("BatchScan excel"), p)
  }

  test("excel scan reports statistics: small side broadcasts, large does not") {
    import org.apache.spark.sql.functions._
    val tmp = System.getProperty("java.io.tmpdir")
    val bigPath = new java.io.File(tmp, "graft_stats_big.xlsx").getAbsolutePath
    val smallPath = new java.io.File(tmp, "graft_stats_small.xlsx").getAbsolutePath
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity")
    li.coalesce(1).write.format("excel").mode("overwrite").save(bigPath)
    val nation = spark.read.parquet(s"$dir/nation.parquet")
    nation.coalesce(1).write.format("excel").mode("overwrite").save(smallPath)
    val big = spark.read.format("excel").schema(li.schema).load(bigPath)
    val small = spark.read.format("excel").schema(nation.schema).load(smallPath)
    val threshold = 256 * 1024L
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold.toString)
    try {
      // Catalyst must see REAL sizes (pre-stats DSv2 reports "huge" for
      // both sides and nothing ever broadcasts): the 6k-row lineitem
      // workbook lands over the threshold, the 25-row nation under it
      val joined = big.join(small,
        pmod(col("l_suppkey"), lit(25)) === col("n_nationkey"))
      val bigBytes = joined.queryExecution.optimizedPlan.collectLeaves()
        .map(_.stats.sizeInBytes).max
      val smallBytes = joined.queryExecution.optimizedPlan.collectLeaves()
        .map(_.stats.sizeInBytes).min
      assert(smallBytes < threshold, s"small side reported $smallBytes")
      assert(bigBytes > threshold, s"big side reported only $bigBytes")
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("BroadcastHashJoin"), s"no broadcast join:\n$p")
      assert("BroadcastExchange".r.findAllIn(p).size == 1,
        s"exactly one (small) side must broadcast:\n$p")
      // pruning scales the estimate: a 1-of-4-column projection of the big
      // workbook reads as ~quarter size
      val pruned = big.select(col("l_quantity"))
        .queryExecution.optimizedPlan.collectLeaves().map(_.stats.sizeInBytes).max
      assert(pruned * 3 < bigBytes, s"pruned=$pruned vs full=$bigBytes")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("m16/s16: tile and vector bucket probes are equi-joins, " +
    "never cartesian") {
    for (name <- Seq("m16_tile_crop_neardup", "s16_incremental_index")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
        s"$name bucket probe must stay an equi-join:\n$p")
    }
  }

  test("g08/g09: modularity and BFS rounds are equi-joins + partial " +
    "aggs with broadcast scalars only") {
    for (name <- Seq("g08_modularity", "g09_bfs_distances")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct"), s"$name: no cartesian:\n$p")
    }
    // g09's rounds localCheckpoint away (final plan is a checkpoint
    // scan); g08's single-pass plan keeps its partial aggs visible
    assert(plan("g08_modularity").contains("HashAggregate"),
      "modularity must partial-agg")
    // g08's one-row edge total rides in broadcast, not shuffled
    assert(plan("g08_modularity").contains("BroadcastExchange"),
      "modularity's m2 scalar must broadcast")
  }

  test("q58: weighted-percentile running sum windows on (grp, bucket), " +
    "never a per-group global sort") {
    val p = plan("q58_weighted_percentile")
    assert(p.contains("windowspecdefinition(grp#"),
      s"expected grp-keyed windows:\n${p.take(3000)}")
    // the data-sized window must carry the bucket key (two-phase prefix
    // sum); only the bucket-table offset window may be grp-alone
    assert(p.contains(", bucket#"),
      s"expected a (grp, bucket)-partitioned data window:\n${p.take(3000)}")
  }

  test("q55: day dimension broadcasts; events collapse to distinct pairs " +
    "before the rolling fan-out") {
    val p = plan("q55_rolling_distinct")
    // the ×7 range fan-out must be a nested loop over the BROADCAST
    // day dimension — never a shuffled or cartesian pairing of the data
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"rolling fan-out must join against a broadcast day dimension:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
    // distinct (day, user) collapse partial-aggregates map-side
    assert(p.contains("partial_count") || p.contains("HashAggregate"),
      s"pairs collapse must partial-aggregate:\n$p")
  }

  test("t34: TTR histogram reads only text, partial-aggs, no window/sort " +
    "before the 10-bucket agg") {
    val p = plan("t34_ttr_deciles")
    // column pruning: the scan must not drag the other document columns
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("text") && !read.contains("source") &&
      !read.contains("lang"), s"over-read: $read")
    assert(p.contains("partial"), s"decile agg must map-side combine:\n$p")
    assert(!p.contains("Window"), s"no window may appear:\n$p")
  }

  test("p27: mixture weights are one corpus shuffle; the window runs on " +
    "the per-source summary only") {
    val p = plan("p27_mixture_weights")
    // exactly one Exchange may carry corpus-derived rows (the per-source
    // partial agg); the unpartitioned window's SinglePartition exchange
    // moves only the ≤|sources|-row summary
    assert(p.contains("partial"), s"source agg must map-side combine:\n$p")
    assert(p.contains("Window"), s"max-normalization window expected:\n$p")
    val exchanges = p.linesIterator.count(_.contains("Exchange"))
    assert(exchanges <= 4, s"too many exchanges ($exchanges):\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
  }

  test("g12: local clustering stays equi-join, never cartesian, " +
    "with partial aggs") {
    // the gate reads the SHARED triangle-table checkpoint (r20: g02 and
    // g12 consume one localClustering pass), so the gate plan is a
    // checkpoint scan — pin the BUILDER's computation plan instead, the
    // same way p28 pins its eagerly-materialized census subtree
    val edges = graft.queries.DedupQueries.neardupPairs(spark, dir, 0.7)
    val p = graft.operators.Graph.localClustering(edges, "id_a", "id_b")
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
    assert(p.contains("HashAggregate"), s"deg/tri partial aggs expected:\n$p")
    // and the gate itself must be exactly the cached-artifact readout
    val g = plan("g12_local_clustering")
    assert(g.contains("Scan ExistingRDD"),
      s"gate should read the shared checkpoint:\n$g")
  }

  test("p28: skew audit census prunes to the key column, map-side " +
    "combines, and the median rides back broadcast") {
    import org.apache.spark.sql.functions._
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // the operator materializes the census eagerly (localCheckpoint), so
    // its scan is absent from the FINAL plan string — pin the census
    // subtree as the operator builds it (key projection before groupBy)
    val census = spark.read.parquet(s"$dir/events.parquet")
      .select("user_id")
      .groupBy(col("user_id")).agg(count(lit(1)).as("cnt"))
    val cp = census.queryExecution.executedPlan.toString
    val read = cp.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("user_id") && !read.contains("props") &&
      !read.contains("event_type"), s"over-read: $read")
    assert(cp.contains("partial_count"),
      s"per-key census must map-side combine:\n$cp")
    // the median then rides back as a broadcast one-row frame; the
    // summary agg never hash-shuffles the census a second time
    val p = plan("p28_skew_audit")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"),
      s"median must broadcast:\n$p")
  }

  test("s20: IVF-PQ probe is a map-only code ranking — the corpus is " +
    "never hash-exchanged") {
    // pin the raw OPERATOR like s05/s12 (the gate wraps it in the
    // accuracy-contract broadcast): cell filter evaluates row-local over
    // the scan, ADC candidate selection is TakeOrderedAndProject, and no
    // corpus-row exchange exists anywhere
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val q = graft.operators.Similarity.vectorOf(spark, dir, 0L)
    val p = graft.operators.Similarity.ivfPqTopK(
      e, "vec_id", "embedding", q, 10, nlist = 16, nprobe = 4)
      .queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange hashpartitioning"),
      s"IVF-PQ probe must not shuffle the corpus:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
  }

  test("g13: harmonic centrality rounds are equi-joins over the " +
    "co-partitioned edge list, never cartesian") {
    val p = plan("g13_harmonic")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      s"no cartesian:\n$p")
    assert(p.contains("partial_min") || p.contains("partial"),
      s"min-union relaxation must map-side combine:\n$p")
  }

  test("q66: cube HLL builds registers once; rollups aggregate the " +
    "register table, never rescan events") {
    val p = plan("q66_cube_hll")
    // the fine register table is localCheckpointed, so the FINAL plan
    // may scan events only for the exact-distinct CUBE side — at most
    // one events scan may survive
    val scans = p.linesIterator.count(l =>
      l.contains("Scan parquet") && l.contains("events"))
    assert(scans <= 1, s"rollups must not rescan events ($scans):\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
  }

  test("q68: transition matrix shuffles events once (the user window); " +
    "normalization windows the 5x5 matrix") {
    val p = plan("q68_transition_matrix")
    val hashEx = p.linesIterator
      .count(_.contains("Exchange hashpartitioning"))
    // one user_id exchange for the window + one pair-keyed agg exchange
    // + one from_type window exchange — all matrix-sized after the first
    assert(hashEx <= 3, s"too many exchanges ($hashEx):\n$p")
    assert(p.contains("partial_count"),
      s"pair agg must map-side combine:\n$p")
  }

  test("g16: rich club scans the annotated edge list once for the " +
    "whole threshold sweep") {
    val p = plan("g16_rich_club")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
    // thresholds ride as a broadcast; no per-k recomputation plans a
    // cartesian or repeated shuffles beyond the two degree joins
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"),
      s"threshold frame must broadcast:\n$p")
  }

  test("d28: the threshold sweep reuses ONE materialized pair pass") {
    val p = plan("d28_threshold_curve")
    // pairs are localCheckpointed: documents must be absent from the
    // final plan entirely (the sweep runs over the checkpointed list)
    val scans = p.linesIterator.count(l =>
      l.contains("Scan parquet") && l.contains("documents"))
    assert(scans == 0,
      s"sweep must not rescan documents ($scans):\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
  }

  test("p30: budget selection never globally sorts the corpus; " +
    "thresholds ride broadcast") {
    val p = plan("p30_budget_select")
    // the only permissible range exchange is the final ≤|sources|-row
    // report ordering; the corpus-sized frames move through histograms
    // (partial aggs) + broadcast threshold probes
    val rangeEx = p.linesIterator
      .count(_.contains("Exchange rangepartitioning"))
    assert(rangeEx <= 1, s"corpus must not global-sort ($rangeEx):\n$p")
    assert(p.linesIterator.count(_.contains("BroadcastExchange")) >= 3,
      s"threshold frames must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
    assert(p.contains("partial"), s"histograms must map-side combine:\n$p")
  }

  test("q63: time-weighted average shuffles events on user_id exactly " +
    "once; window partitioning feeds the agg") {
    val p = plan("q63_time_weighted")
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!read.contains("props") && !read.contains("event_type"),
      s"over-read: $read")
    // the (user, ts) window and the user-keyed agg must share ONE
    // hash exchange — the agg reuses the window's partitioning
    val hashEx = p.linesIterator
      .count(_.contains("Exchange hashpartitioning"))
    assert(hashEx == 1, s"expected 1 user_id exchange, got $hashEx:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
  }

  test("p29: dedup yield never goes all-pairs and the source agg " +
    "map-side combines") {
    val p = plan("p29_dedup_yield")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      s"no cartesian:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum") ||
      p.contains("partial"), s"source agg must map-side combine:\n$p")
  }

  test("q62: MAD audit reads two columns, histogram map-side combines, " +
    "medians ride back broadcast") {
    val p = plan("q62_mad_outliers")
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("l_returnflag") && read.contains("l_quantity") &&
      !read.contains("l_extendedprice"), s"over-read: $read")
    assert(p.contains("partial_count"),
      s"value histogram must map-side combine:\n$p")
    // both medians and the outlier threshold join back as broadcasts of
    // ≤|groups|-row frames; lineitem itself shuffles once (the histogram)
    assert(p.linesIterator.count(_.contains("BroadcastExchange")) >= 2,
      s"median frames must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
  }

  test("t36: vocab growth broadcasts the id bounds, word aggs map-side " +
    "combine, and the corpus is never globally sorted") {
    val p = plan("t36_vocab_growth")
    // the 1-row bounds frame rides to every doc as a broadcast, never a
    // shuffled join key
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"), s"bounds must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
    assert(p.contains("partial_count") || p.contains("partial"),
      s"bucket/word aggs must map-side combine:\n$p")
    // the cumulative window may single-partition ONLY the ≤buckets-row
    // summary; a corpus-wide global sort would surface as a range
    // exchange before the word agg
    assert(!p.contains("Exchange rangepartitioning"),
      s"corpus must not globally sort:\n$p")
  }

  test("q71: each money-column scan prunes to exactly that column and the " +
    "digit census map-side combines") {
    val p = plan("q71_benford")
    val liRead = p.linesIterator.find(l =>
      l.contains("lineitem.parquet") && l.contains("ReadSchema")).getOrElse("")
    assert(liRead.contains("l_extendedprice") && !liRead.contains("l_quantity")
      && !liRead.contains("l_orderkey"), s"lineitem over-read: $liRead")
    val oRead = p.linesIterator.find(l =>
      l.contains("orders.parquet") && l.contains("ReadSchema")).getOrElse("")
    assert(oRead.contains("o_totalprice") && !oRead.contains("o_orderkey"),
      s"orders over-read: $oRead")
    assert(p.contains("partial_count"),
      s"digit census must map-side combine:\n$p")
    // the share windows run over the 18-row census, after the aggs
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      s"no cartesian:\n$p")
  }

  test("t42: script census prunes the docs scan to (source, text) and the " +
    "source agg map-side combines") {
    val p = plan("t42_script_census")
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("source") && read.contains("text") &&
      !read.contains("lang") && !read.contains("n_chars"),
      s"docs over-read: $read")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"census must map-side combine:\n$p")
  }

  test("q72: daily CUSUM aggregates before any window; only the ≤D-row " +
    "daily frame is single-partition sorted") {
    val p = plan("q72_cusum_drift")
    assert(p.contains("partial_count"),
      s"daily census must map-side combine:\n$p")
    // the bounds frame joins back as a broadcast, never a shuffle key
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"), s"bounds must broadcast:\n$p")
  }

  test("q73: the promo dim filter reaches the part scan; lineitem is " +
    "never over-read; revenue map-side combines") {
    val p = plan("q73_star_profit")
    val partRead = p.linesIterator.find(l =>
      l.contains("part.parquet") && l.contains("PushedFilters")).getOrElse("")
    assert(partRead.contains("p_type"),
      s"p_type filter must push into the part scan: $partRead")
    val liRead = p.linesIterator.find(l =>
      l.contains("lineitem.parquet") && l.contains("ReadSchema")).getOrElse("")
    assert(liRead.contains("l_extendedprice") && !liRead.contains("l_tax")
      && !liRead.contains("l_returnflag"), s"lineitem over-read: $liRead")
    assert(p.contains("partial_sum") || p.contains("partial_count"),
      s"revenue agg must map-side combine:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      s"no cartesian in the star join:\n$p")
  }

  test("t43: fertility prunes the docs scan to (lang, text) and the lang " +
    "agg map-side combines; ratios run over the ≤|langs| summary") {
    val p = plan("t43_fertility")
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("lang") && read.contains("text") &&
      !read.contains("source") && !read.contains("n_chars"),
      s"docs over-read: $read")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"fertility agg must map-side combine:\n$p")
  }

  test("s24: PQ distortion audit is a map-only scan + an m-row partial " +
    "agg — the corpus is never hash-exchanged on a data key") {
    val p = plan("s24_pq_distortion")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"distortion census must map-side combine:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      s"no join belongs in a map-only audit:\n$p")
    // the stack generator feeds the partial agg directly — the corpus
    // rows are consumed map-side, before any exchange (the only sort is
    // the final orderBy over the 8-row summary)
    val genIdx = p.indexOf("Generate stack")
    val aggIdx = p.indexOf("partial_count")
    assert(genIdx >= 0 && aggIdx >= 0 && aggIdx < genIdx,
      s"partial agg must sit directly above the stack generator:\n$p")
  }

  test("q74: bounce rate pays q32's one user-window shuffle; rollups are " +
    "partial aggs over the session summary") {
    val p = plan("q74_bounce_rate")
    assert(p.contains("partial_count"),
      s"daily rollup must map-side combine:\n$p")
    assert(p.linesIterator.count(_.contains("events.parquet")) == 1,
      s"events must scan exactly once:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      s"no cartesian:\n$p")
  }

  // d30 deliberately has NO plan pin: star contraction localCheckpoints
  // every round, so the gate's final plan is a scan over checkpointed
  // RDDs — the per-round join shapes are invisible to it (a pin here
  // would pass vacuously). The algorithm's semantics are pinned by
  // CcProps (random graphs vs union-find) and the d12-shared closure
  // oracle instead.

  test("p32: freshness audit is one map-side-combined pass; the corpus " +
    "max rides back broadcast, never a second events scan") {
    val p = plan("p32_freshness_lag")
    assert(p.contains("partial_max"),
      s"per-type agg must map-side combine:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"), s"corpus max must broadcast:\n$p")
    assert(p.linesIterator.count(_.contains("events.parquet")) <= 2,
      s"events must not be rescanned for the global max:\n$p")
  }

  test("p34: running total plans NO single-partition WindowExec — the " +
    "two-phase range-partitioned prefix sum is the whole point") {
    val p = plan("p34_running_total")
    assert(!p.contains("Window"),
      s"p34 must never plan a WindowExec over the raw table:\n$p")
    // the checkpoint truncates the range exchange out of the final plan
    // (pinned instead on stage 1 in ScalablePrefixSpec); what remains
    // visible is the per-partition pass
    assert(p.contains("MapPartitions"),
      s"expected the per-partition prefix pass in:\n$p")
  }
}
