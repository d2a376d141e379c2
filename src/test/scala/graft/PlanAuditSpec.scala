package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.operators._

/** Physical-plan audits: the properties that decide whether these
  * queries survive a 100 TB scale-up, asserted on the actual plans.
  * (A plan that scans all columns, misses a pushed filter, or shuffles
  * a broadcastable dimension is a perf bug even when results match.)
  */
class PlanAuditSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = SparkTestSession.Sf

  private def plan(df: DataFrame): String =
    df.queryExecution.explainString(FormattedMode)

  /** deleteOnExit only removes EMPTY directories — a populated parquet
    * tree written under a temp dir leaks forever without this.
    */
  private def deleteRecursively(p: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (java.nio.file.Files.exists(p)) {
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("ann_range: probes broadcast, corpus never shuffles before the filter") {
    val p = plan(Similarity.annRange(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"probe side must broadcast:\n${p.take(600)}")
    // the join must be the broadcast nested-loop against the tiny probe
    // set — ANY shuffle join of the corpus would be the 100 TB killer
    // (the output orderBy is a Sort, not a join, so a whole-plan check
    // is safe and never vacuous)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "range search must not shuffle-join the corpus")
  }

  test("events_heavy_hitters: sketch broadcasts, aggregates combine map-side, top-k never global-sorts") {
    val p = plan(Sketches.heavyHitters(spark, sf))
    assert(p.contains("BroadcastExchange"), "the 256-counter sketch must broadcast")
    assert(p.contains("partial_"), "sketch build and probe aggregates must map-side combine")
    assert(p.contains("TakeOrderedAndProject"),
      "the top-k cut must be per-partition heaps, not a full sort of all keys")
    assert(!p.contains("CartesianProduct"))
  }

  test("ann_range_ivf: probes broadcast, candidates come from a cell equi-join") {
    val p = plan(Similarity.annRangeIvf(spark, sf))
    Dedup.retireCaches()
    assert(p.contains("BroadcastExchange"), "probe set must broadcast")
    // the whole point vs ann_range: candidates arrive via the trained-
    // cell equi-join, never a corpus-wide nested-loop product
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"cell bucketing must make the candidate join an equi-join:\n${p.take(600)}")
  }

  test("ann_ivf_pq: probe cells + ADC table broadcast, no corpus product anywhere") {
    val p = plan(ProductQuant.annIvfPq(spark, sf))
    Dedup.retireCaches()
    assert(p.contains("BroadcastExchange"),
      "probe cells and the ADC distance table must broadcast")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"every stage must be an equi-join — a product anywhere kills the index at scale:\n${p.take(600)}")
    assert(p.contains("partial_sum") || p.contains("partial_"),
      "the ADC sum must map-side combine")
  }

  test("ann_ivf_pq artifact serve: probed cells prune code partitions at the scan") {
    // the payoff of codes-partitioned-by-cell: the serving session's
    // candidate read carries the probed cell ids as a STATIC partition
    // filter, so only nprobe/K of the code table's directories are
    // read — the IVF index contract, visible in the plan
    val root = ProductQuant.ensureIndexArtifact(spark, sf)
    val p = plan(ProductQuant.annIvfPqFrom(spark, sf, root))
    Dedup.retireCaches()
    assert(p.contains("PartitionFilters: [") && p.contains("cluster"),
      s"probed-cell filter must prune code partitions, not scan+filter:\n${p.take(900)}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "every serve stage must stay an equi-join")
    assert(p.contains("BroadcastExchange"),
      "probe cells and the ADC table must broadcast")
  }

  test("maintained ANN index serve: appended batch rows land in pruned cell partitions") {
    // maintenance must not degrade the serve plan: batch rows were
    // APPENDED into the celled layout, so the probed-cell static
    // partition filter prunes exactly as on the train-once artifact —
    // if appends landed outside the partition scheme, the scan would
    // fall back to reading every directory
    val root = ProductQuant.ensureMaintainedArtifact(spark, sf)
    val p = plan(ProductQuant.annIvfPqFrom(spark, sf, root))
    Dedup.retireCaches()
    assert(p.contains("PartitionFilters: [") && p.contains("cluster"),
      s"probed-cell filter must prune the maintained code partitions:\n${p.take(900)}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "every serve stage must stay an equi-join")
    assert(p.contains("BroadcastExchange"),
      "probe cells and the ADC table must broadcast")
  }

  test("layered ANN serve: both layers prune by probed cell; layered == maintained") {
    import org.apache.spark.sql.functions._
    // the streaming maintainer's layout: immutable trained base + a
    // delta layer holding the ingest batch's celled rows
    val base = ProductQuant.ensureHistoryArtifact(spark, sf)
    val delta = SparkTestSession.tmpDir("graft-layer-audit").toString
    val isBatch = substring(
      md5(concat(lit("inc:"), col("vec_id").cast("string"))), 1, 1) <
      Dedup.IncBatchThreshold
    ProductQuant.appendBatchToIndex(
      Tables.embeddings(spark, sf).filter(isBatch), base, delta)
    val served = ProductQuant.annIvfPqFromLayers(spark, sf, base, delta)
    val p = plan(served)
    // BOTH layer scans must carry the probed-cell static partition
    // filter — a layer read without it scans every cluster directory
    val pruned = "PartitionFilters: \\[".r.findAllIn(p).size
    assert(pruned >= 2, s"both layer scans must prune by cell (saw $pruned):\n${p.take(900)}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    // layering must be invisible to the answer: same rows as the
    // single merged maintained store
    val layered = served.collect().map(_.toSeq)
    val maintained = ProductQuant.annIvfPqMaintain(spark, sf).collect().map(_.toSeq)
    Dedup.retireCaches()
    assert(layered.nonEmpty && layered.toSeq == maintained.toSeq,
      "base+delta serve must equal the merged-store serve row-for-row")
  }

  test("compacted sketch serve: weekly grids broadcast and merge with map-side partials") {
    val p = plan(Sketches.heavyHittersCompact(spark, sf))
    assert(p.contains("BroadcastExchange"),
      "the re-merged 256-counter grid must broadcast to the probe side")
    assert(p.contains("partial_"),
      "the week→global counter merge must map-side combine")
    assert(p.contains("TakeOrderedAndProject"),
      "the top-k cut must stay per-partition heaps")
    assert(!p.contains("CartesianProduct"))
  }

  test("pipeline_index serve: partition-pruned codes, no product, broadcast probes") {
    // the flagship's serve stage inherits every index-plan guarantee:
    // static probed-cell pruning on the artifact's code partitions,
    // equi-joins only, query-sized sides broadcast
    val p = plan(graft.operators.ProductQuant.pipelineIndex(spark, sf))
    Dedup.retireCaches()
    assert(p.contains("PartitionFilters: [") && p.contains("cluster"),
      s"probed-cell filter must prune the artifact's code partitions:\n${p.take(900)}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "every stage must stay an equi-join")
    assert(p.contains("BroadcastExchange"),
      "probe cells, ADC table and the keep-list semi-join must broadcast")
  }

  test("served rankers read the index artifact, never the document text") {
    Retrieval.ensureSearchIndex(spark, sf)
    Seq(
      "bm25" -> plan(Retrieval.bm25SearchServed(spark, sf)),
      "tfidf" -> plan(Retrieval.tfidfSearchServed(spark, sf))
    ).foreach { case (which, p) =>
      // the whole point of the postings artifact: serving pays zero
      // tokenize and zero corpus-text IO
      assert(!p.contains("documents.parquet"),
        s"$which serve path scans the corpus text:\n${p.take(900)}")
      assert(p.contains("graft-search-index"),
        s"$which serve path does not read the artifact")
      assert(!p.contains("CartesianProduct"), s"$which has a true product")
      assert(p.contains("BroadcastExchange"),
        s"$which must broadcast the query-vocabulary side")
    }
    Dedup.retireCaches()
  }

  test("bm25: no window anywhere; df partial-aggregates; query terms broadcast") {
    val p = plan(Retrieval.bm25Search(spark, sf))
    assert(!p.contains("CartesianProduct"),
      "query join must be a broadcast equi-join, never a product")
    assert(p.contains("partial_count") || p.contains("partial_"),
      "posting-frame tf aggregate must map-side combine")
    assert(p.contains("BroadcastExchange"), "query-term set must broadcast")
    // ZERO windows (the round-15 conversion): the per-query rank rides
    // the bounded graft_topk aggregate, and df rides a map-side
    // array_distinct pass + partial-aggregated groupBy(term).count —
    // the old `count(*) OVER (PARTITION BY term)` buffered a stopword
    // term's entire posting list in ONE WindowExec task (AQE can split
    // a skewed join, never a skewed window)
    assert(!p.contains("Window"),
      s"no window anywhere in the bm25 plan:\n${p.take(800)}")
    assert(p.contains("partial_graft_topk") || p.contains("partial_topkbyscore"),
      s"the per-query cut must partial-aggregate map-side:\n${p.take(1500)}")
    // the df aggregate's input is the DISTINCT query vocabulary semi-
    // join (one row per doc-term), so a term shared by two queries
    // cannot double its postings in the count
    assert(p.contains("BroadcastHashJoin LeftSemi"),
      "df input must be the leftsemi-matched distinct doc-terms")
    // and df must arrive back on the postings via broadcast — the df
    // table is query-vocab-sized by construction
    val dfAgg = p.indexOf("partial_count(1)")
    assert(dfAgg >= 0, s"df count must map-side combine:\n${p.take(1200)}")
  }

  test("ANN/retrieval serves rank via bounded graft_topk, never a per-probe rank window") {
    // the round-14 conversion: every production serve's final cut must
    // partial-aggregate map-side (<= k entries per probe BEFORE the
    // exchange) — the row_number window formulation shuffled each
    // probe's whole candidate stream (a corpus fraction) into ONE
    // partition and sorted it there
    try {
      for ((name, df) <- Seq(
          "ann_quantized" -> Similarity.annTopKQuantized(spark, sf),
          "ann_ivf" -> Similarity.annIvf(spark, sf),
          "ann_ivf_kmeans" -> Similarity.annIvfKmeans(spark, sf),
          "ann_pq" -> ProductQuant.annPq(spark, sf),
          "ann_pq_rerank" -> ProductQuant.annPqRerank(spark, sf),
          "ann_ivf_pq" -> ProductQuant.annIvfPq(spark, sf))) {
        val p = plan(df)
        assert(p.contains("partial_graft_topk") || p.contains("partial_topkbyscore"),
          s"$name: the serve cut must partial-aggregate map-side:\n${p.take(1500)}")
        assert(!p.contains("Window"),
          s"$name: no rank window anywhere in the serve:\n${p.take(800)}")
      }
      // tfidf is window-free too (the round-15 conversion): corpus df
      // rides a map-side distinct-terms pass + partial-aggregated
      // groupBy(term).count joined back onto the postings, and the
      // per-query rank rides graft_topk — no WindowExec may buffer a
      // hot term's posting list in one task anywhere in the plan
      val pt = plan(Retrieval.tfidfSearch(spark, sf))
      assert(pt.contains("partial_graft_topk") || pt.contains("partial_topkbyscore"),
        s"tfidf_search: the per-query cut must partial-aggregate:\n${pt.take(1500)}")
      assert(!pt.contains("Window"),
        s"tfidf_search: no window may remain anywhere:\n${pt.take(800)}")
    } finally Dedup.retireCaches()
  }

  test("tfidf_top_terms: df partial-aggregates map-side, never a term window") {
    val whole = plan(Corpus.tfidfTopTerms(spark, sf))
    // df used to ride `count(*) OVER (PARTITION BY term)` over the tf
    // frame — WindowExec buffers each term partition in ONE task, so a
    // stopword term funneled its whole posting list into a single task
    // (AQE splits a skewed join, never a skewed window). Now df rides
    // the bm25 shape: a map-side array_distinct pass (no posting
    // shuffle) + partial-aggregated groupBy(term).count joined back.
    // The ONLY window left is the per-doc top-k cut, whose partition
    // input is bounded by a single document's distinct terms.
    // (WindowGroupLimit nodes are the rank-LIMIT pushdown — per-
    // partition top-k heaps BEFORE the exchange — not window evals.)
    val windows = "\\(\\d+\\) Window(?!GroupLimit)".r.findAllIn(whole).size
    assert(windows == 1,
      s"exactly one window (the per-doc top-k) may remain, found $windows:\n${whole.take(1600)}")
    assert(!whole.contains("windowspecdefinition(term"),
      "no window may partition by term")
    assert(whole.contains("windowspecdefinition(doc_id"),
      "the surviving window is the per-doc top-k cut")
    assert(whole.contains("partial_count"),
      "tf and df aggregates must map-side combine")
    assert(whole.contains("array_distinct"),
      "df's support set must come from the map-side array_distinct pass")
    assert(!whole.contains("CartesianProduct"),
      "only broadcast joins beyond the tf shuffle")
  }

  test("pipeline_media_training_set: every window partitions by shard, no corpus product") {
    val p = plan(operators.Sampling.mediaTrainingSet(spark, sf))
    Dedup.retireCaches()
    // the flagship composes keep -> sample -> pack in one plan; the
    // pack stage's prefix-sum and position windows must partition by
    // SHARD (|sample|/shards rows each) — a global window here would
    // single-partition the whole export at 100 TB
    assert(p.contains("windowspecdefinition(shard"),
      s"pack windows must partition by shard:\n${p.take(1200)}")
    assert(!p.contains("windowspecdefinition(keep_id") &&
      !"windowspecdefinition\\(\\)".r.findFirstIn(p).isDefined,
      "no unpartitioned or per-key window may appear")
    assert(!p.contains("CartesianProduct"),
      "the size join is equi on keep_id, never a product")
    // the keep input is the PUBLISHED durable artifact — a parquet
    // scan of the fingerprint-keyed store, not an in-plan derivation
    assert(p.contains("graft-media-keep"),
      s"flagship must read the durable keep artifact:\n${p.take(1200)}")
  }

  test("pipeline_full_training_set: shard-partitioned layout over artifact + survivor union") {
    val p = plan(operators.Sampling.fullTrainingSet(spark, sf))
    Dedup.retireCaches()
    // the unified export's layout windows must partition by shard and
    // the media side must arrive as the published keep artifact
    assert(p.contains("windowspecdefinition(shard"),
      s"pack windows must partition by shard:\n${p.take(1200)}")
    assert(p.contains("graft-media-keep"),
      "the media side must read the durable keep artifact")
    assert(p.contains("Union"),
      "text survivors and media keeps must union into one item stream")
    assert(!p.contains("CartesianProduct"),
      "the byte-size join is equi on item_id, never a product")
  }

  test("dedup_semantic: in-cluster pairs via equi-join, never a corpus product") {
    val p = plan(Dedup.semanticNearDup(spark, sf))
    Dedup.retireCaches()
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"cluster bucketing must make the pair join an equi-join:\n${p.take(600)}")
    // the production query reads the durable celled artifact — the
    // Lloyd training + banded cap/split must NOT re-run inline per
    // consumer (r17's graph-family regression); the spec-only
    // cap-differential twin keeps gating the derivation itself
    assert(p.contains("graft-celled-idx"),
      "dedup_semantic must scan the celled-index store, not re-derive the split")
    assert(!p.contains("windowspecdefinition"),
      "a store-served pair join carries no window at all")
  }

  test("graph_knn: neighbor search reads the celled-index store") {
    // same contract for the kNN family's inline builder: candidates
    // come from a bare scan of the celled artifact; the only window is
    // the per-vector rank over its in-cell candidates
    val p = plan(Graph.mutualKnn(spark, sf))
    Dedup.retireCaches()
    assert(p.contains("graft-celled-idx"),
      "graph_knn must scan the celled-index store, not re-derive the split")
    assert(!p.contains("CartesianProduct"))
  }

  test("celled-index store input contract: assignment keys are non-null by construction") {
    // capCells' (cluster, band) equi-join would silently DROP a null
    // vec_id (null md5 -> null band) or null cluster where the plain
    // single-window form kept a null partition. The k-means assignment
    // mints cluster for every row and vec_id is the table key, so the
    // contract holds by construction — this canary pins the DATA-side
    // claim the join-site comment in Dedup.capCells relies on.
    val nulls = operators.KMeansCodebook.lastAssignment(spark, sf)
      .filter(col("vec_id").isNull || col("cluster").isNull).count()
    Dedup.retireCaches()
    assert(nulls == 0L,
      s"$nulls null-keyed assignment rows would silently drop in capCells' band join")
  }

  test("component-loop edge cache: pre-partitioned sym side joins with no per-round exchange") {
    // clustersFromEdges caches sym AFTER repartition(doc_b) so the
    // propagate join's edge side satisfies its required distribution
    // from the cache — the corpus-edge shuffle runs once per query,
    // not once per round (cross-job exchange reuse does not exist).
    // This pins the mechanism: a cached frame PRESERVES its
    // outputPartitioning, so only the (per-round) labels side plans
    // an exchange.
    import spark.implicits._
    // force the shuffle-join shape (the corpus-scale case — a
    // broadcastable labels side needs no partitioning from sym at all)
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val edges = spark.range(0, 1000).select(col("id").as("doc_a"),
        ((col("id") + 7) % 1000).as("doc_b"))
      // EXPLICIT partition count, like Kernels.sizedKeyedCache (r19):
      // with cached-plan AQE enabled a count-less repartition(key) is
      // AQE-coalescible at materialization and the cached layout stops
      // guaranteeing hash(key, n) — this spec then (correctly) fails.
      // The explicit count is the committed idiom.
      val sym = edges.union(edges.select(col("doc_b").as("doc_a"),
          col("doc_a").as("doc_b")))
        .repartition(spark.conf.get("spark.sql.shuffle.partitions").toInt,
          col("doc_b")).cache()
      sym.count()
      val labels = spark.range(0, 1000)
        .select(col("id").as("doc_id"), col("id").as("label")).localCheckpoint()
      val joined = sym.as("e")
        .join(labels.as("l"), col("e.doc_b") === col("l.doc_id"))
        .groupBy(col("e.doc_a"))
        .agg(org.apache.spark.sql.functions.min(col("l.label")))
      val p = joined.queryExecution.executedPlan.toString
      sym.unpersist(true)
      // ENSURE_REQUIREMENTS exchanges only — the cache's own one-time
      // REPARTITION_BY_COL build shuffle prints inside the
      // InMemoryRelation and must not count. Expected: labels side
      // into the join + the aggregate split = 2; a sym-side
      // re-shuffle would be the 3rd.
      val exchanges = "ENSURE_REQUIREMENTS".r.findAllIn(p).length
      assert(p.contains("InMemoryTableScan"), s"sym must come from cache:\n${p.take(600)}")
      assert(exchanges <= 2,
        s"sym side must not re-shuffle per round (want <=2 exchanges, got $exchanges):\n${p.take(1600)}")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
  }

  test("boundedKeyedCache: bound-derived explicit width, keyed layout served from the cache") {
    // the textRank loop pin (r20): width from the STRUCTURAL row
    // bound, one cache materialization, and — like sizedKeyedCache's
    // layouts — an explicit partition count that cached-plan AQE
    // cannot coalesce away, so the per-round join reads the keyed
    // layout from the cache with no static-side exchange.
    val edges = spark.range(0, 1000).select(col("id").as("src"),
      ((col("id") + 7) % 1000).as("dst"))
    val pinned = Kernels.boundedKeyedCache(edges, col("src"),
      boundRows = 5000000L, rowsPer = 2000000L)
    try {
      assert(pinned.rdd.getNumPartitions == 3,
        s"ceil(5M/2M) = 3 partitions, got ${pinned.rdd.getNumPartitions}")
      val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val pr = spark.range(0, 1000)
          .select(col("id").as("pid"), col("id").as("rank")).localCheckpoint()
        val p = pinned.as("e").join(pr, col("e.src") === col("pid"))
          .groupBy(col("e.dst"))
          .agg(org.apache.spark.sql.functions.min(col("rank")))
          .queryExecution.executedPlan.toString
        assert(p.contains("InMemoryTableScan"), p.take(600))
        // rank side into the join + the aggregate split; a pinned-side
        // re-shuffle would be the 3rd ENSURE_REQUIREMENTS exchange
        val exchanges = "ENSURE_REQUIREMENTS".r.findAllIn(p).length
        assert(exchanges <= 2,
          s"pinned side must not re-exchange (got $exchanges):\n${p.take(1200)}")
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    } finally pinned.unpersist(true)
  }

  test("mix_token_budget: token counting is map-only; the only wide ops are the source window") {
    val p = plan(Sampling.mixTokenBudget(spark, sf))
    // narrow projection reaches the scan: text is consumed by the
    // map-side token count and must not survive into the window input
    assert(p.contains("ReadSchema"), p.take(300))
    assert(!p.contains("CartesianProduct"))
    val windows = "Window \\(".r.findAllIn(p).length
    assert(windows == 1, s"exactly the per-source cumulative window, got $windows")
  }

  test("q1: filter + column pruning reach the parquet scan; partial agg present") {
    val p = plan(Relational.q1PricingSummary(spark, sf))
    assert(p.contains("PushedFilters"), p.take(500))
    assert(p.contains("LessThanOrEqual(l_shipdate"), "shipdate filter must push down")
    assert(!p.contains("l_orderkey"), "unused columns must be pruned from the scan")
    assert(p.contains("partial_"), "map-side partial aggregation expected")
  }

  test("q6: every predicate reaches the parquet scan; one partial-agg pass") {
    val p = plan(Relational.q6ForecastRevenue(spark, sf))
    assert(p.contains("PushedFilters:") && p.contains("l_quantity") &&
      p.contains("l_discount"),
      s"discount/quantity predicates must push to the scan:\n${p.take(800)}")
    assert(p.contains("partial_"), "map-side partials: 1 row per task crosses the wire")
  }

  test("q18: the quantity HAVING aggregates before any join") {
    // the having-filtered aggregate must sit BELOW the orders join in
    // the plan (filter the fact first, then join the ~1% survivors)
    val p = plan(Relational.q18LargeVolume(spark, sf))
    val aggPos = p.indexOf("sum_qty")
    val joinPos = p.indexOf("o_orderkey")
    assert(aggPos >= 0 && joinPos >= 0,
      s"expected aggregate and join in plan:\n${p.take(600)}")
    assert(p.contains("TakeOrderedAndProject"), "top-100 must not global-sort")
  }

  test("q5: dims broadcast via hints, orders is NOT broadcast (fact join shuffles)") {
    // Disable stats-based auto-broadcast so the plan shows only what the
    // CODE asks for: at sf0.001 everything is tiny and Spark would
    // legitimately broadcast orders on stats — but a *forced* broadcast
    // of a fact table is the 100 TB scale killer this test guards
    // against. With the threshold off, hinted dims must still broadcast
    // and orders⋈lineitem must be a shuffle join.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // FormattedMode prints each node twice (tree + details); counting
      // "BroadcastExchange (" matches the tree form only
      val treeBx = """BroadcastExchange \(""".r
      val p = plan(Relational.q5LocalSupplier(spark, sf))
      val broadcasts = treeBx.findAllIn(p).length
      assert(broadcasts == 4, s"exactly the 4 hinted dims broadcast, got $broadcasts:\n${p.take(800)}")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        "orders joins lineitem via shuffle, not broadcast")
      val p3 = plan(Relational.q3ShippingPriority(spark, sf))
      assert(treeBx.findAllIn(p3).length == 1,
        "q3: only the customer semi-join side is hinted broadcast")
      assert(p3.contains("SortMergeJoin") || p3.contains("ShuffledHashJoin"),
        "q3: orders joins lineitem via shuffle")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("bucketed tables co-locate the fact join: zero exchanges in the plan") {
    // the 100 TB join strategy the brief names: pre-bucket both facts on
    // the join key and the repeated orderkey join pays NO shuffle at
    // read time — bucket layout IS the exchange, amortized across every
    // downstream join. Verified on the actual physical plan: with
    // broadcast off, the bucketed orders⋈lineitem SMJ must contain no
    // Exchange at all (the unbucketed twin above needs two).
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val wh = SparkTestSession.tmpDir("graft-bucketed")
    try {
      val n = 8
      Tables.orders(spark, sf).write
        .bucketBy(n, "o_orderkey").sortBy("o_orderkey")
        .option("path", s"$wh/orders_b").mode("overwrite").saveAsTable("orders_b")
      Tables.lineitem(spark, sf).select("l_orderkey", "l_extendedprice").write
        .bucketBy(n, "l_orderkey").sortBy("l_orderkey")
        .option("path", s"$wh/lineitem_b").mode("overwrite").saveAsTable("lineitem_b")
      val joined = spark.table("orders_b")
        .join(spark.table("lineitem_b"),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderkey").agg(org.apache.spark.sql.functions.sum("l_extendedprice"))
      val p = plan(joined)
      assert(p.contains("SortMergeJoin"), s"bucketed equi-join expected:\n${p.take(600)}")
      assert(!p.contains("Exchange"),
        s"bucketed join + same-key aggregate must be exchange-FREE:\n${p.take(1200)}")
      // and the result is identical to the unbucketed join
      val unb = Tables.orders(spark, sf)
        .join(Tables.lineitem(spark, sf).select("l_orderkey", "l_extendedprice"),
          col("o_orderkey") === col("l_orderkey")).count()
      assert(joined.count() < unb && spark.table("orders_b").count() ==
        Tables.orders(spark, sf).count())
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS lineitem_b")
      deleteRecursively(wh)
    }
  }

  test("q19: the OR-of-ANDs predicate still plans a broadcast EQUI-join") {
    // the disjunction only constrains columns — the partkey equality
    // must stay the join key; a nested-loop here is the scale bug
    val p = plan(Relational.q19DiscountedRevenue(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"equi-join expected:\n${p.take(600)}")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "OR-of-ANDs must not degrade the join to a nested loop")
    assert(p.contains("PushedFilters") && p.contains("l_discount"),
      "the shared discount band must push to the lineitem scan")
  }

  test("q21: agg and window reuse the fact join's orderkey partitioning") {
    // the decorrelated-EXISTS shape only beats the spec's self-joins if
    // the per-(order,supp) aggregate AND the per-order window both ride
    // the lineitem⋈orders exchange: expect exactly the SMJ's two input
    // exchanges plus the final suppkey aggregation, nothing else
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = plan(Relational.q21WaitingSupplier(spark, sf))
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        "fact join shuffles with broadcast off")
      val exchanges = """\+- Exchange \(""".r.findAllIn(p).length
      assert(exchanges == 3,
        s"expected 3 hash exchanges (join inputs + suppkey agg), got $exchanges:\n${p.take(1200)}")
      assert("""BroadcastExchange \(""".r.findAllIn(p).length == 1,
        "only the supplier dim broadcasts")
      assert(p.contains("TakeOrderedAndProject"), "top-100 must not global-sort")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("q7/q8: dims broadcast, lineitem⋈orders is the only fact shuffle") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val treeBx = """BroadcastExchange \(""".r
      val p7 = plan(Relational.q7VolumeShipping(spark, sf))
      assert(treeBx.findAllIn(p7).length == 2,
        s"q7: exactly the supplier and customer nation maps broadcast:\n${p7.take(800)}")
      assert(p7.contains("SortMergeJoin") || p7.contains("ShuffledHashJoin"),
        "q7: the fact join shuffles")
      val p8 = plan(Relational.q8MarketShare(spark, sf))
      assert(treeBx.findAllIn(p8).length >= 4,
        s"q8: part/region/nation/customer sides all broadcast:\n${p8.take(800)}")
      assert(p8.contains("SortMergeJoin") || p8.contains("ShuffledHashJoin"),
        "q8: the fact join shuffles")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("top_orders plans as TakeOrderedAndProject (no global sort)") {
    val p = plan(Relational.topOrders(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), p.take(500))
  }

  test("wc: partial aggregation before the exchange (the missing combiner)") {
    val p = plan(TextAnalysis.wordCount(spark, sf))
    assert(p.contains("partial_count") || p.contains("partial_"), p.take(800))
    assert(p.contains("hashpartitioning(word"), "shuffle must be on the word key")
  }

  test("ann_topk: probe side broadcast, dot product codegen expression in plan") {
    val p = plan(Similarity.annTopK(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin"), "probes x corpus is a broadcast NLJ")
    assert(p.toLowerCase.contains("dotproduct") || p.contains("graft_dot"),
      "custom DotProduct expression should appear in the plan")
  }

  test("retrieval_maxsim: broadcast query tokens, one combined corpus shuffle, no rank window") {
    val p = plan(Retrieval.maxSimSearch(spark, sf))
    // the query-token side is a broadcast against the corpus token
    // stream — a shuffle join of the token stream is the scale killer
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"query tokens must broadcast:\n${p.take(800)}")
    assert(!p.contains("SortMergeJoin"), "no sort-merge of the token stream")
    // the per-(query-token, doc) max must partial-aggregate map-side
    // BEFORE its exchange — the one corpus-scale shuffle
    assert(p.contains("partial_max"),
      s"the max must combine map-side:\n${p.take(800)}")
    // the final cut rides the bounded graft_topk aggregate
    // (ObjectHashAggregate), never a row_number window over scored docs
    assert(p.contains("ObjectHashAggregate"), "graft_topk must rank the cut")
    assert(!p.contains("Window"), s"no window function anywhere:\n${p.take(800)}")
  }

  test("events scan prunes to referenced columns only") {
    val p = plan(Events.jsonExtract(spark, sf))
    assert(p.contains("event_id") && p.contains("props"))
    assert(!p.contains("user_id"), "unused events columns must be pruned")
  }

  test("jaccard verify joins are hash joins, never sort-merge") {
    // a sort-merge join would sort the candidate stream carrying full
    // shingle-hash arrays after the first verify join — measured minutes
    // of sort spill at sf0.1; the shuffle_hash hints must hold
    try {
      // buildNgramPairs, not ngramJaccard: the public query serves the
      // per-corpus checkpoint once built — the audit targets the
      // builder's verify-join plan
      for ((name, df) <- Seq(
          "dedup_ngram_jaccard" -> Dedup.buildNgramPairs(spark, sf),
          "dedup_minhash_lsh" -> Dedup.minHashLsh(spark, sf))) {
        val p = plan(df)
        assert(p.contains("ShuffledHashJoin") || p.contains("BroadcastHashJoin"),
          s"$name verify should hash-join:\n${p.take(600)}")
        assert(!p.contains("SortMergeJoin"),
          s"$name must not sort-merge the array-carrying verify stream")
      }
    } finally Dedup.retireCaches()
  }

  test("bucketed dedup operators plan equi-joins, never a cartesian") {
    // the LSH/banded candidate joins are the whole point vs. O(n^2):
    // any CartesianProduct / nested-loop in these plans is a scale bug
    try {
      for ((name, df) <- Seq(
          "embedding_near_dup_lsh" -> Dedup.embeddingNearDupLsh(spark, sf),
          "dedup_simhash_pairs" -> Dedup.simHashPairs(spark, sf),
          "dedup_ngram_jaccard" -> Dedup.ngramJaccard(spark, sf),
          "dedup_minhash_lsh" -> Dedup.minHashLsh(spark, sf),
          "dedup_incremental_minhash" -> Dedup.incrementalMinHash(spark, sf))) {
        val p = plan(df)
        assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
          s"$name must not plan an all-pairs join:\n${p.take(600)}")
      }
    } finally Dedup.retireCaches()
  }

  test("cdc maintenance: the base table is never sort-merge-shuffled") {
    // cdcMerge decomposes MERGE so every join keeps the base streamed
    // against a broadcast change batch; cdcScd2 windows only the
    // change-touched keys. A SortMergeJoin anywhere means the base
    // (100 TB at scale) got exchanged.
    for ((name, df) <- Seq(
        "cdc_merge" -> Relational.cdcMerge(spark, sf),
        "cdc_scd2" -> Relational.cdcScd2(spark, sf))) {
      val p = plan(df)
      assert(!p.contains("SortMergeJoin"),
        s"$name must broadcast the change batch, not exchange the base:\n${p.take(600)}")
      assert(p.contains("BroadcastHashJoin"), s"$name should broadcast-join")
    }
    // the scd2 interval window must sit above the touched-keys union,
    // not above the untouched base branch (which joins left_anti)
    val scd2 = plan(Relational.cdcScd2(spark, sf))
    val windowPos = scd2.indexOf("Window")
    val antiPos = scd2.indexOf("LeftAnti")
    assert(windowPos >= 0 && antiPos >= 0 && windowPos < antiPos,
      "lead() window runs over the touched branch; untouched rows bypass it")
  }

  test("incremental agg maintenance: base-keyed joins broadcast; MV joins reuse its partitioning") {
    // two different scale contracts in one plan: joins on o_orderkey
    // touch the BASE table and must stream it against a broadcast of
    // the bounded change batch (an exchange there moves 100 TB); joins
    // on o_custkey touch only the MV, which the groupBy already
    // hash-partitioned — a sort-merge there exchanges just the
    // batch-sized delta side, which is the right plan, so SMJ is
    // allowed on o_custkey but banned on o_orderkey.
    val p = plan(Relational.cdcIncrementalAgg(spark, sf))
    assert(!p.contains("SortMergeJoin [o_orderkey"),
      s"base row-key joins must broadcast the batch:\n${p.take(900)}")
    assert(p.contains("BroadcastHashJoin"),
      "the old-values semi-join streams the base against the batch keys")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("runtime bloom filter prunes the big fact side of a selective join") {
    // the runtime-filter half of the pruning story: when one join side
    // carries a selective filter, Spark can build a bloom filter over
    // its join keys at runtime and push it into the OTHER side's scan —
    // at 100 TB that turns "shuffle all of lineitem, drop 99% in the
    // join" into "drop 99% at the scan". Static thresholds gate the
    // feature on estimated sizes, so the audit pins the deployment
    // configuration that enables it and asserts the filter actually
    // lands in the plan at test scale.
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val orders = graft.Tables.orders(spark, sf)
        .filter(org.apache.spark.sql.functions.col("o_orderpriority") === "1-URGENT")
      val li = graft.Tables.lineitem(spark, sf)
      val joined = li.join(orders,
        org.apache.spark.sql.functions.col("l_orderkey") ===
          org.apache.spark.sql.functions.col("o_orderkey"))
      val p = joined.queryExecution.optimizedPlan.toString
      assert(p.contains("bloom_filter_agg") || p.contains("BloomFilterMightContain") ||
        p.toLowerCase.contains("mightcontain"),
        s"runtime bloom filter must inject into the lineitem side:\n${p.take(1200)}")
      assert(joined.count() > 0)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("bucketed fact tables join with ZERO exchange (co-located join)") {
    // The 100 TB co-location story made concrete: orders and lineitem
    // written bucketed by their join key join WITHOUT any shuffle — the
    // scan's bucketing satisfies the join's distribution requirement.
    // Broadcast is disabled so the alternative would be a full exchange
    // of both sides.
    import java.nio.file.Files
    val base = Files.createTempDirectory("graft-bucketed")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      Relational // touch to ensure operators compiled
      graft.Tables.orders(spark, sf)
        .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .option("path", s"$base/b_orders").mode("overwrite").saveAsTable("b_orders")
      graft.Tables.lineitem(spark, sf)
        .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .option("path", s"$base/b_lineitem").mode("overwrite").saveAsTable("b_lineitem")
      val joined = spark.table("b_orders")
        .join(spark.table("b_lineitem"),
          org.apache.spark.sql.functions.col("o_orderkey") ===
            org.apache.spark.sql.functions.col("l_orderkey"))
      val p = plan(joined)
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        s"expected a non-broadcast join:\n${p.take(500)}")
      assert(!p.contains("Exchange"),
        s"bucketed join must not shuffle either side:\n${p.take(900)}")
      assert(joined.count() > 0)
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
      deleteRecursively(base) // external-table files survive the DROPs
    }
  }

  test("parquet footer stats answer min/max/count without scanning rows") {
    // the deployment lever behind Profiling.profile at 100 TB: under
    // the DSv2 parquet reader with aggregate pushdown, the range/count
    // half of a table profile is answered from file FOOTERS — the scan
    // reads statistics, not data. (The shared Verify/Bench session
    // keeps the v1 reader, so this is deployment-config guidance
    // pinned by a test, like the bloom-filter audit.)
    spark.conf.set("spark.sql.sources.useV1SourceList", "")
    spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    try {
      val orders = spark.read.parquet(s"$sf/orders.parquet")
      val stats = orders.agg(
        org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("n_rows"),
        org.apache.spark.sql.functions.min("o_totalprice").as("min_price"),
        org.apache.spark.sql.functions.max("o_totalprice").as("max_price"))
      val p = plan(stats)
      assert(p.contains("PushedAggregation: [COUNT(*)") ||
             p.contains("PushedAggregation: [MIN") ||
             p.contains("PushedAggregation"),
        s"min/max/count must push to the parquet footer scan:\n${p.take(900)}")
      // and the footer answer must equal the row-scan answer
      val r = stats.collect()(0)
      val want = Tables.orders(spark, sf)
        .agg(org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)),
          org.apache.spark.sql.functions.min("o_totalprice"),
          org.apache.spark.sql.functions.max("o_totalprice")).collect()(0)
      assert(r.getLong(0) == want.getLong(0) && r.getDouble(1) == want.getDouble(1) &&
        r.getDouble(2) == want.getDouble(2), "footer stats must equal row-scan stats")
    } finally {
      spark.conf.unset("spark.sql.parquet.aggregatePushdown")
      spark.conf.unset("spark.sql.sources.useV1SourceList")
    }
  }

  test("hive-partitioned writes prune partitions at the scan") {
    // the other half of the layout story next to the bucketed-join
    // audit: a corpus written partitioned by source must answer a
    // single-source query by reading ONE directory — the scan shows a
    // PartitionFilters entry and touches a fraction of the files
    import java.nio.file.Files
    val base = Files.createTempDirectory("graft-partitioned")
    try {
      val docs = graft.Tables.documents(spark, sf)
      docs.write.partitionBy("source").mode("overwrite").parquet(s"$base/docs")
      val filtered = spark.read.parquet(s"$base/docs")
        .filter(org.apache.spark.sql.functions.col("source") === "src1")
      val p = plan(filtered)
      assert(p.contains("PartitionFilters: [") && p.contains("source"),
        s"source filter must prune partitions, not scan+filter:\n${p.take(900)}")
      val expected = docs.filter(org.apache.spark.sql.functions.col("source") === "src1").count()
      assert(filtered.count() == expected)
    } finally deleteRecursively(base)
  }

  test("span dedup: no cartesian; gram stats partial-aggregate; dup-only join side") {
    val p = plan(Dedup.spanDedup(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "span marking must be an equi-join on the gram fingerprint, never all-pairs")
    assert(p.contains("partial_"),
      "gram count/first-occurrence must partial-aggregate before the exchange")
    // the stats side is filtered to DUPLICATED grams before the join —
    // the cnt > 1 predicate must sit under the join, not above it
    assert(p.contains("(cnt"), s"dup-only filter must exist in the plan:\n${p.take(900)}")
  }

  test("bloom incremental: anti-join stays a join; native codegen'd probe on both routes") {
    val p = plan(Dedup.incrementalBloom(spark, sf))
    Dedup.retireCaches()
    assert(p.contains("LeftAnti"), "exact verification must be an anti JOIN")
    assert(!p.contains("CartesianProduct"))
    // both batch routes carry the NATIVE bloom probe (negated on the
    // fast path) — BloomFilterMightContain over the filter literal,
    // never a row-at-a-time Scala UDF
    val probes = "might_contain".r.findAllIn(p).length
    assert(probes >= 2, s"bloom probe must pre-route the batch:\n${p.take(900)}")
    assert(!p.contains("UDF"),
      s"the probe must be the codegen'd expression, not a Scala UDF:\n${p.take(900)}")
  }

  test("AQE splits the hot partition of a synthetically skewed join") {
    // the documented backstop behind the band-join skew notes: when a
    // key (or band bucket) runs hot, AQE's skew-join splits the
    // oversized partition at runtime into advisory-sized slices — no
    // code change. Exercised here with thresholds lowered to test
    // scale; the assertion is the runtime plan marker, not a heuristic.
    import org.apache.spark.sql.functions._
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1", // force a shuffle join
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // one whale key (80% of rows, payload-padded past the byte
      // threshold) against a uniform dim side
      val left = spark.range(200000)
        .select(when(col("id") % 10 < 8, lit(0L)).otherwise(col("id") % 100).as("k"),
          concat_ws("", Seq.fill(8)(md5(col("id").cast("string"))): _*).as("pad"))
      val right = spark.range(100).select(col("id").as("k"), lit("dim").as("d"))
      val joined = left.join(right, "k")
      // drive THIS frame's QueryExecution (count() would build a new,
      // column-pruned one and the inspected plan would never finalize)
      assert(joined.queryExecution.toRdd.count() == 200000L)
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"),
        s"AQE must mark the skewed join split:\n${finalPlan.take(1200)}")
      // the split is result-invisible: the AQE-split join, the same
      // join with skew handling off, and the salted rewrite all carry
      // the same (count, order-free checksum) fingerprint
      def fingerprint(df: org.apache.spark.sql.DataFrame): (Long, java.math.BigDecimal) = {
        val r = df.agg(count(lit(1)),
          sum(xxhash64(col("k"), col("pad"), col("d")).cast("decimal(38,0)"))).head
        (r.getLong(0), r.getDecimal(1))
      }
      val skewFp = fingerprint(joined)
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
      val plainFp = fingerprint(left.join(right, "k"))
      val saltedFp = fingerprint(
        operators.Skew.saltedJoin(left.toDF("k", "pad"), right.toDF("k", "d"), "k", salts = 8))
      assert(skewFp == plainFp && skewFp == saltedFp,
        s"skew-split, plain and salted joins must agree: $skewFp / $plainFp / $saltedFp")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("salted join equals the plain join and shuffles on (key, salt)") {
    import spark.implicits._
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // 90% of fact rows share one hot key — the straggler-task shape
      val fact = (1L to 1000L)
        .map(i => (if (i % 10 == 0) i % 7 else 999L, i))
        .toDF("key", "fact_val")
      val dim = Seq((999L, "hot"), (0L, "a"), (1L, "b"), (2L, "c"),
                    (3L, "d"), (4L, "e"), (5L, "f"), (6L, "g"))
        .toDF("key", "dim_val")
      val plain = fact.join(dim, "key")
      val salted = operators.Skew.saltedJoin(fact, dim, "key", salts = 8)
      assert(salted.columns.toSeq == plain.columns.toSeq)
      val order = Seq("key", "fact_val", "dim_val").map(org.apache.spark.sql.functions.col)
      assert(salted.orderBy(order: _*).collect().toSeq ==
             plain.orderBy(order: _*).collect().toSeq)
      val p = plan(salted)
      assert(p.contains("hashpartitioning(key") && p.contains("graft_salt"),
        s"join must shuffle on (key, salt) to spread the hot key:\n${p.take(900)}")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("anti join stays a join, not a driver-side collect") {
    val p = plan(Relational.customersWithoutBigOrders(spark, sf))
    assert(p.contains("LeftAnti"), p.take(500))
  }

  test("hash samplers are map-only: the only exchange is the output sort") {
    // the md5-threshold filter must ride the scan stage — a sampler
    // that shuffles before selecting moves the whole corpus at 100 TB
    for ((name, df) <- Seq(
        "sample_hash" -> operators.Sampling.hashSample(spark, sf),
        "sample_weighted_mix" -> operators.Sampling.weightedMix(spark, sf))) {
      val p = plan(df)
      val exchanges = """Exchange """.r.findAllIn(p).length
      assert(exchanges <= 2, // FormattedMode prints tree + details (2 lines per node)
        s"$name: selection must precede the single output-sort exchange:\n${p.take(800)}")
      assert(p.contains("Filter"), s"$name plans a scan-side filter")
    }
  }

  test("export_shuffle windows by shard, never a global single-partition sort") {
    val p = plan(operators.Sampling.exportShuffle(spark, sf))
    assert(p.contains("hashpartitioning(shard"),
      s"per-shard position numbering must partition by shard:\n${p.take(800)}")
    assert(!p.contains("SinglePartition"),
      "a global permutation window would serialize the corpus through one task")
  }

  test("doc_surprisal tokenizes the corpus once and joins the vocab, never a product") {
    // the cached token stream feeds the vocab count AND the scoring
    // join; only the 1-row total rides a broadcast product
    val df = operators.Corpus.docSurprisal(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    Dedup.retireCaches()
    // the tokenize pass is CACHED: both consumers read the cache (every
    // FileScan in the plan string is the cache's one build plan,
    // reprinted per InMemoryRelation reference)
    val cacheReads = p.linesIterator.count(_.contains("InMemoryTableScan"))
    assert(cacheReads >= 2,
      s"vocab count and scoring join must both read the cached token stream:\n${p.take(1200)}")
    assert(p.linesIterator
        .filter(l => l.contains("FileScan") && l.contains("text"))
        .forall(_ => p.contains("InMemoryRelation")),
      "the only text scan is the cache build")
    assert(!p.contains("CartesianProduct"),
      "occurrence-to-count must be an equi-join; only the 1-row total broadcasts")
  }

  test("textrank graph build reads the durable incidence artifact, never the corpus") {
    // the incidence is tokenized ONCE into a fingerprinted parquet
    // artifact (ensureIncidence); the vocab aggregate and both
    // co-occurrence self-join sides then scan the pre-tokenized leaf.
    // Before the artifact, this plan held three corpus tokenize scans.
    val dt = spark.read.parquet(operators.Graph.ensureIncidence(spark, sf))
    val p = operators.Graph.cooccurrenceEdges(dt, operators.Graph.TextRankVocab)
      .queryExecution.executedPlan.toString
    val textScans = p.linesIterator.count(l => l.contains("FileScan") && l.contains("text"))
    assert(textScans == 0,
      s"graph build must not tokenize the corpus — the artifact is pre-tokenized:\n${p.take(1200)}")
    assert(p.linesIterator.filter(_.contains("FileScan")).forall(_.contains("graft-tr-inc")),
      s"every scan in the graph build must read the incidence artifact:\n${p.take(1200)}")
  }

  test("tfidf scans text exactly twice: the tf shuffle and the map-only df pass") {
    // the round-15 trade: df moved OFF the count(*) OVER (PARTITION BY
    // term) window (which funneled a stopword term's whole posting
    // list into one WindowExec task) and onto a SECOND map-only
    // tokenize pass — array_distinct + partial-aggregated count, the
    // bm25 df shape. Two text scans is the accepted price (the same
    // trade bm25 makes: caching the corpus-sized tf frame to save the
    // re-scan would pin corpus-scale memory); anything MORE than tf +
    // df + the zero-column n_docs count is a regression.
    // simple-mode plan prints each FileScan with its ReadSchema inline
    val p = operators.Corpus.tfidfTopTerms(spark, sf)
      .queryExecution.executedPlan.toString
    val textScans = p.linesIterator.count(l => l.contains("FileScan") && l.contains("text"))
    val scans = p.linesIterator.count(_.contains("FileScan"))
    assert(textScans <= 2 && scans <= 3,
      s"expected two text scans (tf, df) + one count-only scan, got $textScans/$scans:\n${p.take(1200)}")
  }

  test("graft_topk partial-aggregates before the exchange (bounded per-key shuffle)") {
    // the whole point of the custom aggregate vs the window form: each
    // map task reduces to <= k entries per key BEFORE shuffling, so the
    // exchange carries k*|keys| rows, not the fact table
    val p = plan(Relational.topOrdersPerCustomerAgg(spark, sf))
    assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate"),
      s"typed imperative aggregate expected:\n${p.take(800)}")
    assert(p.contains("partial_graft_topk") || p.contains("partial_topkbyscore"),
      s"map-side partial aggregation expected:\n${p.take(1500)}")
  }

  test("stratified sample rank-window reads the threshold-filtered frame") {
    // the bottom-k threshold pass must partial-aggregate (bounded
    // per-stratum state before the exchange), broadcast, and gate the
    // corpus BEFORE the exact rank window — a whale stratum otherwise
    // funnels every row through one window partition
    val df = operators.Sampling.stratifiedSample(spark, sf)
    val p = plan(df)
    assert(p.contains("partial_graft_topk") || p.contains("partial_topkbyscore"),
      s"threshold pass must partial-aggregate map-side:\n${p.take(1500)}")
    assert("""BroadcastExchange \(""".r.findFirstIn(p).isDefined,
      "per-stratum thresholds must broadcast, not shuffle the corpus")
    // tree order: the rank Window's subtree must contain the broadcast
    // threshold join (the window input IS the filtered frame, not the
    // raw scan). In the explain tree a node's subtree prints AFTER it,
    // and the only Window here is the rank — so the join index must be
    // greater. (Structural traversal is awkward under AQE wrapping.)
    val tree = df.queryExecution.executedPlan.toString
    val winIdx = tree.indexOf("Window")
    val joinIdx = tree.indexOf("Join")
    assert(winIdx >= 0 && joinIdx > winIdx,
      s"the rank window must consume the threshold-join output:\n${tree.take(1500)}")
    // and the selection itself is unchanged: same rows as the plain
    // full-stratum window formulation
    val plain = {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      val w = Window.partitionBy("source")
        .orderBy(md5(concat(lit("str:"), col("doc_id").cast("string"))), col("doc_id"))
      graft.Tables.documents(spark, sf)
        .select(col("source"), col("doc_id"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= operators.Sampling.StratifiedQuota)
    }
    assert(df.collect().map(_.toSeq).toSet == plain.collect().map(_.toSeq).toSet,
      "pre-filter must be lossless: selection identical to the plain window")
  }

  test("mix_token_budget cumsum window reads the threshold-filtered frame") {
    // the cumulative-sum window partitions by source — a whale source
    // (web crawl = 90% of a real corpus) would funnel into ONE task
    // unless the bounded-topk threshold pass gates the corpus first.
    // quota = TokenBudget+1 token-bearing docs is a lossless upper
    // bound on the kept prefix (each contributes >= 1 token).
    val df = operators.Sampling.mixTokenBudget(spark, sf)
    val p = plan(df)
    assert(p.contains("partial_graft_topk") || p.contains("partial_topkbyscore"),
      s"threshold pass must partial-aggregate map-side:\n${p.take(1500)}")
    assert("""BroadcastExchange \(""".r.findFirstIn(p).isDefined,
      "per-source thresholds must broadcast, not shuffle the corpus")
    // the cumsum Window's subtree must contain the threshold join —
    // the window input IS the filtered frame, not the raw scan
    val tree = df.queryExecution.executedPlan.toString
    val winIdx = tree.indexOf("Window")
    val joinIdx = tree.indexOf("Join")
    assert(winIdx >= 0 && joinIdx > winIdx,
      s"the cumsum window must consume the threshold-join output:\n${tree.take(1500)}")
    // losslessness: identical selection to the plain full-source window
    val plain = {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      val h = md5(concat(lit("tb:"), col("doc_id").cast("string")))
      val w = Window.partitionBy("source").orderBy(h, col("doc_id"))
      graft.Tables.documents(spark, sf)
        .select(col("doc_id"), col("source"),
          size(operators.TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
        .withColumn("cum_tokens", sum("n_tokens").over(w))
        .filter(col("cum_tokens") <= operators.Sampling.TokenBudget)
        .select(col("source"), col("doc_id"), col("n_tokens"), col("cum_tokens"))
    }
    assert(df.collect().map(_.toSeq).toSet == plain.collect().map(_.toSeq).toSet,
      "pre-filter must be lossless: selection identical to the plain window")
  }

  test("sample_cluster_balanced rank window reads the threshold-filtered frame") {
    // hot k-means cells are the norm on real embeddings — the exact
    // rank window must only see the per-cluster bounded-topk prefix,
    // never the full membership of a whale cluster
    val df = operators.KMeansCodebook.clusterBalancedSample(spark, sf)
    val p = plan(df)
    assert(p.contains("partial_graft_topk") || p.contains("partial_topkbyscore"),
      s"threshold pass must partial-aggregate map-side:\n${p.take(1500)}")
    assert("""BroadcastExchange \(""".r.findFirstIn(p).isDefined,
      "per-cluster thresholds must broadcast, not shuffle the assignment")
    val tree = df.queryExecution.executedPlan.toString
    val winIdx = tree.indexOf("Window")
    val joinIdx = tree.indexOf("Join")
    assert(winIdx >= 0 && joinIdx > winIdx,
      s"the rank window must consume the threshold-join output:\n${tree.take(1500)}")
    // losslessness vs the plain full-membership rank window
    val plain = {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      val w = Window.partitionBy("cluster")
        .orderBy(md5(concat(lit("cb:"), col("vec_id").cast("string"))), col("vec_id"))
      operators.KMeansCodebook.lastAssignment(spark, sf)
        .select(col("vec_id"), col("cluster"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= operators.KMeansCodebook.BalancedQuota)
        .select(col("cluster"), col("vec_id"), col("rk"))
    }
    assert(df.collect().map(_.toSeq).toSet == plain.collect().map(_.toSeq).toSet,
      "pre-filter must be lossless: selection identical to the plain window")
  }

  test("capCells splits via the two-level banded rank, identical to the plain window") {
    // the cap/split itself must not be the whale funnel it exists to
    // prevent: a row_number over the bare cell ranks a boilerplate
    // cell's FULL membership in one task. The banded form's only
    // window partitions by (cluster, band) — the per-cell offsets
    // window runs inside an eager checkpoint over the tiny band
    // aggregate, so the consumer plan carries no bare-cell window.
    import spark.implicits._
    val assignment = ((0L until 1000L).map(i => (i, 0L)) ++
      (1000L until 1040L).map(i => (i, 1L))).toDF("vec_id", "cluster")
    val df = operators.Dedup.capCells(assignment, 100)
    val tree = df.queryExecution.executedPlan.toString
    val partKeys = """windowspecdefinition\(cluster#\d+L?, (\w+)"""
      .r.findAllMatchIn(tree).map(_.group(1)).toSeq
    assert(partKeys.nonEmpty && partKeys.forall(_ == "band"),
      s"every window over members must partition by (cluster, band), " +
        s"got second keys $partKeys:\n${tree.take(1500)}")
    // pre + in-band rank is the IDENTICAL split, bit-for-bit
    val plain = {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      val w = Window.partitionBy("cluster").orderBy(col("h"), col("vec_id"))
      assignment
        .withColumn("h", md5(concat(lit("sd:"), col("vec_id").cast("string"))))
        .withColumn("sub",
          floor((row_number().over(w) - lit(1)) / lit(100)).cast("long"))
        .drop("h")
    }
    assert(df.collect().map(_.toSeq).toSet == plain.collect().map(_.toSeq).toSet,
      "banded rank must reproduce the plain-window split exactly")
  }

  test("pack_sequences windows by shard, never a global single-partition sort") {
    val p = plan(operators.Sampling.packSequences(spark, sf))
    assert(p.contains("hashpartitioning(shard"),
      s"prefix sum must partition by shard:\n${p.take(800)}")
    assert(!p.contains("SinglePartition"),
      "a global ORDER BY window would serialize the corpus through one task")
  }

  test("window partition-key audit: every Window.partitionBy site is classified bounded") {
    // `Window.partitionBy(hotKey)` is the ONE shape AQE cannot split —
    // a whale partition funnels through a single task no matter how
    // many executors exist. The claim "no skewed-key window remains"
    // has been wrong twice (r14 missed tfidf_top_terms; r15's sweep
    // missed mix_token_budget and sample_cluster_balanced), so this
    // audit pins the SOURCE: every partitionBy site in src/main must
    // appear here with its boundedness argument and exact occurrence
    // count. A new window (or a new use of an existing key) fails the
    // suite until classified — the classification IS the review.
    // A Seq of (file, key, count, reason), NOT nested Map literals: a
    // Scala Map literal silently keeps only the LAST entry for a
    // duplicated key, so a duplicate classification (two different
    // counts for the same partition key) would shadow one entry with
    // no test failure — the uniqueness assertion below makes a
    // duplicate itself a failure (r16 verdict finding #2).
    val allowSeq: Seq[(String, String, Int, String)] = Seq(
      ("ChangeStream.scala", """"o_orderkey"""", 1,
        "per-order change-batch versions (bounded rewrites per key)"),
      ("EventStream.scala", """"hour"""", 1,
        "input is the hour x event_type aggregate, not events"),
      ("KMeans.scala", """"cluster"""", 1,
        "threshold-prefiltered: bounded-topk broadcast gate before the rank"),
      ("Sampling.scala", """"source"""", 2,
        "threshold-prefiltered: bounded-topk broadcast gate before the window"),
      ("Sampling.scala", """"shard"""", 6,
        "shard count scales with corpus; per-shard rows hash-bounded"),
      ("Similarity.scala", """"probe_id"""", 3,
        "per-probe candidates already top-k/cell-bounded"),
      ("TextAnalysis.scala", """"bkt"""", 1,
        "<=41 quantile buckets over the qi aggregate, not the corpus"),
      ("Dedup.scala", """"cluster"""", 1,
        "capCells band offsets: input is the tiny (cluster, band) aggregate, not members"),
      ("Dedup.scala", """"cluster", "band"""", 1,
        "capCells in-band rank: ~cell/2^16 members per band partition"),
      ("Events.scala", """"user_id"""", 3,
        "all three run over CALENDAR-bounded inputs, never per-user events: " +
        "sessionize's stitch and asof's carry-in window the tiny (user, " +
        "chunk) aggregate (one row per user-day), and resample's carry runs " +
        "over the bucket GRID (one row per user-bucket — bucket count is " +
        "time-range/width, a function of the calendar, not of event volume)"),
      ("Events.scala", """"user_id", "chunk"""", 2,
        "sessionize gaps-and-islands + asof purchase-carry per user-DAY " +
        "(time-chunked; the chunk-aggregate pass reassembles exact global " +
        "results — stitch for sessions, carry-in for as-of)"),
      ("Events.scala", """"event_type"""", 1,
        "input is the day x event_type aggregate"),
      ("Sketches.scala", """"event_type"""", 1,
        "input is histogram bins, not events"),
      ("Retrieval.scala", """"query_id"""", 2,
        "per-query fusion lists already top-k-bounded"),
      ("Bpe.scala", """"word"""", 1, "per-word positions (words are short)"),
      ("Bpe.scala", """"word", "pairh"""", 1, "per-(word,pair) runs within a word"),
      ("Bpe.scala", """"word", "pairh", "grp"""", 1, "per-(word,pair,run) alternation"),
      // (r19 folded q21's per-order window into an aggregation; r20
      // reverted it — the fold measured SLOWER at both the r19 driver
      // bench and this round's 3 driver-condition A/B pairs)
      ("Relational.scala", """"l_orderkey"""", 1,
        "per-order suppliers (<=7 lineitems per TPC-H order)"),
      ("Relational.scala", """"o_custkey"""", 1,
        "per-customer orders (bounded by data model)"),
      ("Relational.scala", """"o_orderpriority"""", 1,
        "input is the tiny (priority, band) offset aggregate, not orders"),
      ("Relational.scala", """"o_orderpriority", "band"""", 1,
        "in-band prefix over band-width-bounded distinct prices"),
      ("Relational.scala", """"o_orderkey"""", 4,
        "per-order lineitems (<=7 per TPC-H order)"),
      ("Relational.scala", """"l_partkey"""", 2,
        "per-part lineitems (bounded by data model)"),
      ("Graph.scala", """"src"""", 1,
        "per-node neighbor candidates bounded by beam/cell caps"),
      ("Multimodal.scala", """"doc_id"""", 3,
        "per-document media windows (<=8 rows per doc)"),
      ("Corpus.scala", """"doc_id"""", 1, "per-document terms"),
      ("Corpus.scala", """"fp"""", 1, "per-fingerprint duplicate group"),
      ("Corpus.scala", """"shard"""", 1,
        "shard count scales with corpus; per-shard rows hash-bounded"))
    val dups = allowSeq.groupBy(e => (e._1, e._2)).filter(_._2.size > 1).keys
    assert(dups.isEmpty,
      s"duplicate allowlist classification(s): ${dups.mkString(", ")} — one " +
        "entry per (file, partition key), with its single true count")
    val allow: Map[String, Map[String, (Int, String)]] =
      allowSeq.groupBy(_._1).view.mapValues(
        _.map(e => e._2 -> (e._3, e._4)).toMap).toMap
    import scala.jdk.CollectionConverters._
    val re = """Window\.partitionBy\(([^)]*)\)""".r
    val actual: Map[String, Map[String, Int]] =
      java.nio.file.Files.walk(java.nio.file.Path.of("src/main/scala/graft"))
        .iterator().asScala.filter(_.toString.endsWith(".scala"))
        .map(p => p.getFileName.toString ->
          re.findAllMatchIn(java.nio.file.Files.readString(p))
            .map(_.group(1).trim).toSeq)
        .filter(_._2.nonEmpty).toMap
        .view.mapValues(_.groupBy(identity).view.mapValues(_.size).toMap).toMap
    val allowCounts = allow.view.mapValues(_.view.mapValues(_._1).toMap).toMap
    for ((f, keys) <- actual; (k, n) <- keys)
      assert(allowCounts.get(f).flatMap(_.get(k)).contains(n),
        s"$f: Window.partitionBy($k) x$n is not on the boundedness allowlist " +
          "(or its count changed) — classify the new window's partition-key " +
          "boundedness here before shipping it")
    for ((f, keys) <- allowCounts; (k, n) <- keys)
      assert(actual.get(f).flatMap(_.get(k)).contains(n),
        s"stale allowlist entry: $f Window.partitionBy($k) x$n no longer matches the source")
  }

  test("stream-drain audit: only the drain helper starts, drains or re-confs a stream") {
    // `Streams` owns what a drain leaves behind — the sink view, the
    // checkpoint dir, the session confs — and serializes the overrides.
    // A hand-copied drain (31 existed before the helper) skips at least
    // one of those, so the tokens that start one may appear in no other
    // source file.
    import scala.jdk.CollectionConverters._
    val helper = java.nio.file.Path.of("src/main/scala/graft/streaming/Streams.scala")
    val tokens = Seq("processAllAvailable", """format("memory")""", "queryName(", "conf.set(")
    val sources = java.nio.file.Files.walk(java.nio.file.Path.of("src/main/scala"))
      .iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    assert(sources.contains(helper), s"the audit must see the helper at $helper")
    val hits = for {
      p <- sources if p != helper
      (line, i) <- java.nio.file.Files.readAllLines(p).asScala.zipWithIndex
      if tokens.exists(line.contains)
    } yield s"$p:${i + 1}: ${line.trim}"
    assert(hits.isEmpty,
      s"drain or session-conf code outside the helper — go through Streams:\n${hits.mkString("\n")}")
  }

  test("orders_percentile_rank: two-level rank, no per-priority corpus window, one orders scan") {
    val df = Relational.ordersPercentileRank(spark, sf)
    val p = plan(df)
    Dedup.retireCaches()
    // the naive form windows over the 5-value priority key — a fifth
    // of orders in ONE task; the banded form's windows partition by
    // (priority, band) and by priority only over the band aggregate
    assert(p.contains("windowspecdefinition(o_orderpriority"),
      s"band windows expected:\n${p.take(1000)}")
    assert(!p.contains("percent_rank()") && !p.contains("cume_dist()"),
      "ranks must derive from banded prefix sums, not corpus-window functions")
    // the distinct-price aggregate is checkpointed: the final plan
    // scans orders exactly once (the join-back), everything else reads
    // the materialized aggregate (count on the simple tree — formatted
    // mode prints every node twice, once in the tree, once in details)
    val tree = df.queryExecution.executedPlan.toString
    val scans = "Scan parquet".r.findAllMatchIn(tree).size
    assert(scans == 1, s"expected exactly one orders scan, got $scans:\n${tree.take(1500)}")
  }

  test("error context range join is an equi-join on user_id, band as residual") {
    // the time band must NOT force a nested-loop/cartesian: the join
    // keys on user_id and the µs-interval predicate rides along as a
    // residual condition inside the hash/sort-merge join
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = plan(operators.Events.errorContext(spark, sf))
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"range join must not plan all-pairs:\n${p.take(800)}")
      assert(p.contains("hashpartitioning(user_id"),
        s"both sides must shuffle on the user_id equi key:\n${p.take(800)}")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("nearby events band join is a pure equi-join on (user_id, band)") {
    // unlike error context (equi on user_id alone, interval residual),
    // the nearby join puts the BAND in the equi key, so even a whale
    // user's events spread across hash buckets — no per-user quadratic
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = plan(operators.Events.nearbyEvents(spark, sf))
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"banded range join must not plan all-pairs:\n${p.take(800)}")
      assert(p.contains("hashpartitioning(user_id") && p.contains("band"),
        s"join must hash on (user_id, band):\n${p.take(800)}")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("embedding centroids partial-aggregate before the (label, dim)-sized exchange") {
    val p = plan(operators.Similarity.labelCentroids(spark, sf))
    assert(p.contains("partial_"),
      s"map-side partial aggregation keeps the shuffle at |labels|*dim:\n${p.take(800)}")
    assert(!p.contains("CartesianProduct"))
  }

  test("bigram PMI plans no cartesian and aggregates with map-side combining") {
    try {
      val p = plan(operators.Corpus.bigramPmi(spark, sf))
      assert(!p.contains("CartesianProduct"),
        s"PMI joins key on single words, never all-pairs:\n${p.take(800)}")
      // the only nested-loop joins allowed are the 1-row broadcast
      // totals: tb once, t once per unigram branch (w1, w2) = 3 nodes —
      // data-carrying joins stay hash equi-joins
      val bnlj = """BroadcastNestedLoopJoin""".r.findAllIn(p).length
      assert(bnlj <= 3 * 2, // FormattedMode prints tree + details per node
        s"only the 1-row totals may broadcast-NLJ, got $bnlj:\n${p.take(800)}")
      assert(p.contains("partial_count"),
        s"unigram/bigram counts must partial-aggregate before their exchanges:\n${p.take(800)}")
    } finally Dedup.retireCaches() // PMI pins its vocab-sized count frames
  }

  test("kmv sketch bottom-k partial-aggregates; no per-group window sort") {
    val p = plan(operators.Sketches.approxDistinctUsers(spark, sf))
    assert(p.contains("partial_graft_topk") || p.contains("partial_topkbyscore"),
      s"the bounded sketch aggregate must combine map-side:\n${p.take(1500)}")
    assert(!p.contains("RunningWindowFunction") && !p.contains("Window"),
      s"a window row_number formulation would sort every group's rows:\n${p.take(800)}")
  }

  test("kmeans: centroid recompute partial-aggregates to (cluster, dim) map-side") {
    try {
      val p = plan(operators.KMeansCodebook.centroids(spark, sf))
      assert(p.contains("partial_"),
        s"per-(cluster, dim) sums must combine before the exchange:\n${p.take(800)}")
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"assignment is a map-side kernel, never a corpus x codebook join:\n${p.take(800)}")
    } finally Dedup.retireCaches() // centroids pins the exploded base frame
  }

  test("multimodal kernels: map-only over a pruned scan, no joins at all") {
    // features / resize-exec / frame-bytes are one decode-kernel pass
    // per payload: the plan must be scan -> synth -> mapPartitions ->
    // (sort for the output contract) with NO join of any kind, and the
    // documents scan must not read columns the payload path never
    // touches (at 100 TB an unpruned text-corpus scan is the bug)
    for ((name, df) <- Seq(
        "mm_features" -> Multimodal.features(spark, sf),
        "mm_resize_exec" -> Multimodal.resizeExec(spark, sf),
        "mm_frame_bytes" -> Multimodal.frameBytes(spark, sf),
        "mm_audio_energy" -> Multimodal.audioEnergy(spark, sf))) {
      val p = plan(df)
      assert(!p.contains("Join"), s"$name must be join-free:\n${p.take(800)}")
      val schemas = p.linesIterator.filter(_.contains("ReadSchema:")).toSeq
      assert(schemas.nonEmpty && schemas.forall(s =>
          !s.contains("lang") && !s.contains("n_chars")),
        s"$name must prune unrelated document columns: $schemas")
    }
  }

  test("mm_video_neardup: candidates come banded, thresholds broadcast, never all-pairs") {
    // clip near-dup is a banded equi-join over frame signatures: the
    // plan must show a hash join on the band keys (a cartesian or
    // nested-loop here is the all-pairs bug that kills the operator at
    // scale) and the 16-row threshold frame arriving by broadcast
    // audit the BUILD plan — the serving entry reads the memoized
    // signature artifact, whose plan is a checkpoint leaf
    val p = plan(Multimodal.videoClipPairs(
      Multimodal.corpusFrameSigsBuild(spark, sf)))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"frame candidates must come from the banded equi-join:\n${p.take(800)}")
    assert(p.contains("BroadcastHashJoin"),
      s"the per-dim threshold join must broadcast the 16-row side:\n${p.take(800)}")
  }

  test("mm_audio_neardup: banded equi-join over energy hashes, thresholds broadcast") {
    // same contract as the image/video cells of the modality row: the
    // candidate join must be a hash join on band keys (a cartesian or
    // nested-loop is the all-pairs bug) with the 16-row per-window
    // threshold frame arriving by broadcast
    // audit the BUILD plan — the serving entry reads the memoized
    // signature artifact, whose plan is a checkpoint leaf
    val p = plan(Multimodal.sigBandPairs(
      Multimodal.audioSigCorpusBuild(spark, sf)))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"audio candidates must come from the banded equi-join:\n${p.take(800)}")
    assert(p.contains("BroadcastHashJoin"),
      s"the per-window threshold join must broadcast the 16-row side:\n${p.take(800)}")
  }

  test("ann_image_search: serve is a broadcast cell probe ranked by the bounded aggregate") {
    try {
      val p = plan(Similarity.annImageSearch(spark, sf))
      // probes ride a broadcast into their trained cells' members —
      // the image corpus must never shuffle for the serve
      assert(p.contains("BroadcastHashJoin"),
        s"the probe-cell join must broadcast the probe side:\n${p.take(800)}")
      assert(!p.contains("SortMergeJoin"),
        s"no sort-merge of the image corpus:\n${p.take(800)}")
      // ranking rides graft_topk (ObjectHashAggregate), not a window
      assert(p.contains("ObjectHashAggregate"),
        s"graft_topk must rank the serve:\n${p.take(800)}")
      assert(!p.contains("Window"), s"no rank window in the serve:\n${p.take(800)}")
    } finally Dedup.retireCaches()
  }

  test("mm_media_keep: signature passes fold map-side, thresholds broadcast, no pair joins") {
    // audit the BUILD plan — the serving entry memoizes one
    // materialization per corpus, so its own plan is a checkpoint leaf
    val p = plan(Multimodal.mediaKeepBuild(spark, sf))
    // the keep-list is grouping, not pairing: any nested-loop or
    // cartesian would mean an all-pairs path crept in
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"no pair joins in the keep-list:\n${p.take(800)}")
    assert(!p.contains("SortMergeJoin"),
      s"threshold joins must broadcast, never sort-merge a corpus side:\n${p.take(800)}")
    assert(p.contains("BroadcastHashJoin"),
      s"the dim/window threshold frames must arrive by broadcast:\n${p.take(800)}")
    // the final (modality, fingerprint) group must partial-aggregate
    // before its exchange (map-side combine on the count/min)
    assert(p.contains("partial_min") || p.contains("partial_count"),
      s"the keep fold must combine map-side:\n${p.take(800)}")
  }

  test("mm_media_keep_maintain: CDC merge — anti-join pass-through, no pair joins, no windows") {
    val p = plan(Multimodal.mediaKeepMaintain(spark, sf))
    Dedup.retireCaches()
    // the store's untouched groups ride an anti-join unchanged — the
    // CDC contract (the store is never shuffled beyond touched groups)
    assert(p.contains("LeftAnti"),
      s"untouched store rows must pass through an anti-join:\n${p.take(800)}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"no pair joins in the maintenance merge:\n${p.take(800)}")
    // group folds combine map-side; nothing ranks, nothing windows
    assert(p.contains("partial_min") || p.contains("partial_count"),
      s"the fingerprint folds must combine map-side:\n${p.take(800)}")
    assert(!p.contains("Window"), s"no windows in the merge:\n${p.take(800)}")
  }

  test("pack_media windows by shard, never a global single-partition sort") {
    val p = plan(operators.Sampling.packMedia(spark, sf))
    Dedup.retireCaches()
    assert(p.contains("hashpartitioning(shard"),
      s"permutation/prefix-sum/position windows must partition by shard:\n${p.take(800)}")
    assert(!p.contains("SinglePartition"),
      "a global packing window would serialize the export through one task")
  }

  test("ann_graph_layered: serve plan is checkpoint-cut and the rank window partitioned") {
    // the beam rounds execute eagerly behind localCheckpoint cuts, so
    // the FINAL plan must be a bounded checkpoint read + per-probe
    // top-k — if round lineage ever leaked into the serve plan (the
    // pointer-jump regression class), the ExistingRDD leaf disappears
    // and the join machinery shows up here
    try {
      val p = plan(Similarity.annGraphLayered(spark, sf))
      assert(p.contains("Scan ExistingRDD"),
        s"rounds must be checkpoint-cut out of the serve plan:\n${p.take(800)}")
      assert(!p.contains("Join") && !p.contains("CartesianProduct"),
        s"the serve tail is a window over the checkpoint, not a join:\n${p.take(800)}")
      assert(p.contains("WindowGroupLimit"),
        s"the top-k cut must push the group limit below the exchange:\n${p.take(800)}")
    } finally Dedup.retireCaches()
  }
}
