package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Graph analytics over the near-dup similarity graph (north star; the
  * reference has no graph operators — its closest surface is the
  * indexer's doc↔term incidence). The dedup family already builds a
  * real graph — verified ngram-Jaccard pairs ([[Dedup.ngramJaccard]])
  * — and labels its components ([[Dedup.clusters]]); this object adds
  * the ITERATIVE-SCORING workload class on the same edges. PageRank
  * over the duplication graph is the practical centrality for corpus
  * hygiene: a page whose near-duplicates are themselves widely
  * duplicated (template hubs, boilerplate families, SEO mirror rings)
  * outranks one with the same degree but peripheral neighbors, so the
  * score surfaces the template CORES that representative-per-cluster
  * dedup should keep (or drop wholesale) first.
  */
object Graph {

  /** Standard damping (Brin/Page). */
  val PrDamping = 0.85
  /** Teleport mass, written as the exact literal 0.15 so both engines
    * parse the identical double (1.0 − 0.85 in binary64 is NOT the
    * double nearest 0.15).
    */
  val PrResid = 0.15
  /** Fixed power-iteration rounds — determinism over adaptivity, the
    * [[KMeansCodebook.LloydIters]] contract.
    */
  val PrIters = 10

  private def r12(x: Double): Double =
    BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** `graph_pagerank`: damped PageRank over the symmetric near-dup
    * graph, [[PrIters]] fixed power-iteration rounds from a uniform
    * start. The graph has no dangling nodes by construction (symmetric
    * edges ⇒ every node has out-degree ≥ 1), so the update is exactly
    * pr′(v) = (1−d)/n + d·Σ_{u∼v} pr(u)/deg(u) and total mass stays 1
    * (spec-pinned).
    *
    * Determinism across engines — float summation order is the enemy:
    * each round's contributions pr(u)/deg(u) round to 12dp and sum as
    * DECIMAL (order-exact); the damped update then rounds back to 12dp.
    * Constants interpolate as exact literals shared with the oracle's
    * CTE chain, which replays the identical [[PrIters]] rounds.
    *
    * Scale shape: the loop runs over EDGE-INCIDENT nodes only (the
    * [[Dedup.clustersFromEdges]] decision — the dup graph is a tiny
    * fraction of the corpus; singletons' rank is the closed-form
    * teleport constant and needs no iteration). Each round is one
    * equi-join of the edge list against the node-sized rank frame plus
    * one combiner-friendly sum per destination; rank frames localCheckpoint
    * per round, so the plan stays flat at any round count (the
    * [[Bpe]] depth-probe contract). The driver sees only the node
    * COUNT, never node data.
    */
  def pageRank(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.ngramJaccard(spark, dir).select("doc_a", "doc_b")
    // pinned by the per-round join key at a size-adaptive partition
    // count ([[Kernels.sizedKeyedCache]]): the near-dup graph is a tiny
    // fraction of the corpus, and the plain cache ran every round's
    // join stage at the union's full width (2x default parallelism of
    // near-empty tasks, x10 rounds) — the loop's dominant cost at
    // local SF, a no-op re-layout at corpus scale
    val sym = Kernels.sizedKeyedCache(
      pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
        .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst"))),
      col("src"))
    // unit weights: pr·1/count is bit-equal to pr/deg
    val (pr, deg) = powerIteration(sym.withColumn("w", lit(1L)), PrIters,
      "graph_pagerank needs at least one near-dup edge")
    pr.join(deg, col("pid") === col("node"))
      .select(col("node").as("doc_id"), col("wd").as("deg"), col("pr").as("pagerank"))
      .orderBy("doc_id")
  }

  /** The damped power iteration of [[pageRank]] (unit weights) and
    * [[textRankOn]] over a pinned symmetric (src, dst, w) edge frame:
    * the weighted-degree frame (node, wd), a uniform start, then
    * `iters` rounds of pr′(v) = (1−d)/n + d·Σ_{u∼v} pr(u)·w/wd(u), each
    * contribution rounded to 12dp and summed as decimal. Returns the
    * final (pid, pr) and the degree frame; `empty` is the message of a
    * graph without edges.
    */
  private def powerIteration(sym: DataFrame, iters: Int,
      empty: String): (DataFrame, DataFrame) = {
    val deg = Kernels.trackedCheckpoint(
      sym.groupBy("src").agg(sum("w").as("wd"))
        .select(col("src").as("node"), col("wd")))
    val n = deg.count()
    require(n > 0, empty)
    val teleport = PrResid / n.toDouble
    // the rank frame carries its own key name (pid) so each round's
    // join against the static edge/degree frames can never alias
    var pr = Kernels.trackedCheckpoint(
      deg.select(col("node").as("pid"), lit(r12(1.0 / n.toDouble)).as("pr")))
    for (i <- 1 to iters) {
      val next = sym
        .join(pr, col("src") === col("pid"))
        .join(deg, col("src") === col("node"))
        .select(col("dst"),
          round(col("pr") * col("w") / col("wd"), 12)
            .cast("decimal(22,12)").as("c"))
        .groupBy("dst")
        .agg(sum("c").as("s"))
        .select(col("dst").as("pid"),
          round(lit(teleport) + lit(PrDamping) * col("s").cast("double"), 12)
            .as("pr"))
      // cut lineage every third round: enough to keep the plan flat at
      // any round count while not paying an eager checkpoint job per
      // round (on node-sized frames job launch, not compute, is what a
      // checkpoint costs)
      pr = if (i % 3 == 0 || i == iters) Kernels.trackedCheckpoint(next) else next
    }
    (pr, deg)
  }

  /** `graph_degrees`: the degree distribution of the near-dup graph —
    * how many nodes have each duplication degree. The one-line summary
    * a corpus-hygiene dashboard plots first: a heavy right tail means
    * template families, a spike at 1 means pairwise mirrors.
    *
    * Scale shape: one groupBy over the (corpus-tiny) edge list, one
    * over the node-sized degree frame — both combiner-friendly.
    */
  def degreeHistogram(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.ngramJaccard(spark, dir).select("doc_a", "doc_b")
    pairs.select(col("doc_a").as("doc_id"))
      .union(pairs.select(col("doc_b").as("doc_id")))
      .groupBy("doc_id").agg(count(lit(1)).as("deg"))
      .groupBy("deg").agg(count(lit(1)).as("n_nodes"))
      .orderBy("deg")
  }

  /** `graph_triangles`: per-node triangle count over the near-dup
    * graph — the local clustering signal that separates a TEMPLATE
    * CORE (every neighbor also duplicates every other: many
    * triangles) from a HUB-AND-SPOKE page (quoted by many unrelated
    * pages: high degree, no triangles). With [[pageRank]] and the
    * degree, this completes the standard node-feature triple for
    * corpus-hygiene triage.
    *
    * Scale shape — the classic wedge explosion is avoided by DEGREE
    * ORDERING (the Chiba–Nishizeki / Latapy method): each undirected
    * edge orients from its (deg, id)-smaller endpoint to the larger,
    * so every node's out-degree is O(√m) regardless of how large a
    * hub's raw degree is, and the wedge join enumerates Σ C(outdeg,2)
    * candidates instead of Σ C(deg,2) — the difference between
    * O(m^1.5) and O(n·Δ²) on a template mega-hub. Each triangle is
    * then found exactly once (at its ≺-smallest vertex). The oracle
    * replays the orientation-free `a<b<c` formulation, which counts
    * the identical triangle set — the orientation is a physical
    * optimization with no semantic surface.
    */
  def triangles(spark: SparkSession, dir: String): DataFrame =
    triangleCounts(Dedup.ngramJaccard(spark, dir).select("doc_a", "doc_b"))

  /** The degree-ordered triangle core over an arbitrary canonical
    * (doc_a < doc_b) edge frame — separated so the orientation
    * machinery is spec-testable on synthetic graphs with known
    * triangle counts.
    */
  private[graft] def triangleCounts(pairs: DataFrame): DataFrame = {
    val sym = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
    val deg = sym.groupBy("src").agg(count(lit(1)).as("deg"))
      .select(col("src").as("doc_id"), col("deg"))
    // orient by (deg, id): u → v iff (deg(u), u) < (deg(v), v)
    val oriented = Kernels.cacheTracked(sym
      .join(deg.select(col("doc_id").as("src"), col("deg").as("dsrc")), "src")
      .join(deg.select(col("doc_id").as("dst"), col("deg").as("ddst")), "dst")
      .filter(col("dsrc") < col("ddst") ||
        (col("dsrc") === col("ddst") && col("src") < col("dst")))
      .select(col("src").as("u"),
        struct(col("ddst").as("d"), col("dst").as("id")).as("v")))
    // wedges at the ≺-smallest vertex: pairs of out-neighbors of u,
    // canonically ordered so the closing edge probe is one equi-join
    // against the oriented list itself
    val wedges = oriented.as("e1")
      .join(oriented.select(col("u"), col("v").as("w")).as("e2"), "u")
      .filter(col("v.d") < col("w.d") ||
        (col("v.d") === col("w.d") && col("v.id") < col("w.id")))
      .select(col("u"), col("v.id").as("b"), col("w.id").as("c"))
    val tris = wedges
      .join(oriented.select(col("u").as("b"), col("v.id").as("c")),
        Seq("b", "c"), "left_semi")
    // the oriented cache retires with the harness's per-query
    // Kernels.retireCaches sweep (Bench/Verify call it after the action)
    tris.select(explode(array(col("u"), col("b"), col("c"))).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_tri"))
      .join(deg, Seq("doc_id"), "right_outer")
      .select(col("doc_id"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"))
      .orderBy("doc_id")
  }

  /** Neighbors per vector in the kNN graph. 5 is the UMAP/spectral
    * default regime: large enough to connect cluster interiors, small
    * enough that mutual edges stay intra-cluster.
    */
  val KnnK = 5

  /** `graph_knn`: the MUTUAL k-nearest-neighbor graph over the
    * embedding corpus — an edge (a, b) iff b is in a's top-[[KnnK]]
    * cosine neighbors AND a is in b's. The mutual-kNN graph is the
    * standard structure extraction from an embedding space (UMAP's
    * and spectral clustering's substrate): mutuality prunes the
    * asymmetric hub edges a plain kNN keeps, so surviving edges track
    * genuine local density.
    *
    * Scale shape: neighbor search runs WITHIN the trained, capped
    * k-means cells ([[Dedup.cappedCelledIndex]] — the SemDeDup
    * machinery), so candidate generation is Σ C(cap, 2) per cell,
    * never corpus-quadratic; the rank window partitions per vector
    * over its cell's candidates only. Mutuality is one self-semi-join
    * of the (corpus × k)-sized directed edge list. In-cell kNN is
    * approximate at cell boundaries exactly like [[Dedup.semanticNearDup]]
    * — the trained-structure trade, replayed by the oracle.
    */
  def mutualKnn(spark: SparkSession, dir: String): DataFrame =
    mutualKnnEdges(spark, dir).orderBy("vec_a", "vec_b")

  /** The mutual-kNN edge list materialized to a fingerprinted durable
    * artifact, one build per (corpus, JVM) — the production shape: a
    * kNN graph is built once and consumed by MANY analytics
    * (components, link prediction, clustering passes), so the
    * downstream queries read stored edges instead of re-running the
    * celled similarity join each. `graph_knn` itself keeps deriving
    * inline — it gates the construction.
    */
  private[graft] def ensureKnnEdges(spark: SparkSession, dir: String): String =
    Kernels.buildStore("graft-knn-edges", Kernels.inputKey(dir, "embeddings.parquet"))(
      mutualKnnEdges(spark, dir).write.mode("overwrite").parquet(_))

  private def mutualKnnEdges(spark: SparkSession, dir: String): DataFrame = {
    val idx = Kernels.cacheTracked(Dedup.cappedCelledIndex(spark, dir)
      .select("vec_id", "cluster", "sub", "v", "norm"))
    val knn = Kernels.cacheTracked(
      directedTopK(spark, idx).select("src", "dst", "sim"))
    knn
      .join(knn.select(col("dst").as("src"), col("src").as("dst")),
        Seq("src", "dst"), "left_semi")
      .filter(col("src") < col("dst"))
      .select(col("src").as("vec_a"), col("dst").as("vec_b"), col("sim"))
  }

  /** `graph_common_neighbors`: link prediction over the mutual-kNN
    * graph — for every NON-edge pair sharing ≥ 2 mutual neighbors,
    * the common-neighbor count and the Jaccard link score
    * |Γa∩Γb| / |Γa∪Γb|. These are exactly the pairs local density
    * implicates but the k-cut excluded (each is the other's (k+1)-th
    * neighbor, say) — the candidate list a second, targeted verify
    * pass or a cluster-merge step consumes.
    *
    * Scale shape: node degree in the mutual graph is ≤ [[KnnK]] BY
    * CONSTRUCTION, so wedge enumeration is ≤ C(k, 2) per node — the
    * hub explosion that makes common-neighbor joins quadratic on
    * power-law graphs structurally cannot happen here. The ≥ 2
    * support floor then prunes before the anti join.
    */
  def commonNeighbors(spark: SparkSession, dir: String): DataFrame = {
    val edges = Kernels.cacheTracked(
      graft.Tables.parquet(spark, ensureKnnEdges(spark, dir))
        .select("vec_a", "vec_b"))
    val sym = edges.select(col("vec_a").as("src"), col("vec_b").as("dst"))
      .union(edges.select(col("vec_b").as("src"), col("vec_a").as("dst")))
    val deg = sym.groupBy("src").agg(count(lit(1)).as("deg"))
    val wedges = sym.select(col("src"), col("dst").as("a"))
      .join(sym.select(col("src"), col("dst").as("b")), "src")
      .filter(col("a") < col("b"))
    wedges.groupBy("a", "b").agg(count(lit(1)).as("common"))
      .filter(col("common") >= 2)
      .join(edges, col("a") === col("vec_a") && col("b") === col("vec_b"),
        "left_anti")
      .join(deg.select(col("src").as("a"), col("deg").as("dega")), "a")
      .join(deg.select(col("src").as("b"), col("deg").as("degb")), "b")
      .select(col("a").as("vec_a"), col("b").as("vec_b"), col("common"),
        round(col("common") /
          (col("dega") + col("degb") - col("common")), 6).as("link_score"))
      .orderBy(col("common").desc, col("vec_a"), col("vec_b"))
  }

  /** `graph_knn_components`: connected components of the mutual-kNN
    * graph — the cluster extraction a kNN graph exists for (the
    * agglomerative step spectral/UMAP-style pipelines run on exactly
    * this structure). Vectors with no mutual neighbor stay singleton
    * clusters. Reuses the [[Dedup.clustersFromEdges]] hash-to-min
    * loop: O(log diameter) pointer-jump rounds over the EDGE-INCIDENT
    * nodes only, one shuffle join + combiner min per round, each
    * round's labels localCheckpoint'ed IN the loop so lineage stays
    * one round deep (the pointer jump references the previous round
    * four times, so anything short of a per-round cut grows the
    * logical plan geometrically — the round-9 lesson). The edge list
    * comes from the durable kNN-edge artifact — a parquet leaf, so an
    * iterative consumer can never re-execute the kNN candidate
    * machinery through its loop lineage (the `dedup_clusters` lesson,
    * measured 20× there), and the build is shared with every other
    * graph consumer.
    */
  def knnComponents(spark: SparkSession, dir: String): DataFrame = {
    // stored edges: a parquet leaf, so the loop's lineage never reaches
    // the kNN candidate machinery (and the build is shared with every
    // other graph consumer via the artifact memo)
    val edges = graft.Tables.parquet(spark, ensureKnnEdges(spark, dir))
      .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
    val docs = graft.Tables.embeddings(spark, dir)
      .select(col("vec_id").as("doc_id"))
    Dedup.clustersFromEdges(docs, edges)
      .select(col("doc_id").as("vec_id"), col("cluster"))
      .orderBy("vec_id")
  }

  /** The history side's directed in-cell top-k lists, materialized
    * once per corpus fingerprint — the stored state a production graph
    * index maintains in place ([[knnMaintain]] reads it; the
    * [[ensureKnnEdges]] serve contract). Rows: (cluster, sub, src,
    * dst, sim) — one row per directed neighbor, keyed by the cell so
    * the maintainer can carry untouched cells over by anti-join.
    *
    * NOTE: the `inc:` split filter runs AFTER [[Dedup.cappedCelledIndex]]
    * celling, so `sub` boundaries here reflect the batch-inclusive
    * snapshot (memo-keyed to the full corpus fingerprint) — see the
    * contract note on [[knnMaintain]].
    */
  private[graft] def ensureKnnDirectedHistory(
      spark: SparkSession, dir: String, thresh: String): String =
    Kernels.buildStore("graft-knn-hist", threshKey(dir, thresh))(
      directedTopK(spark,
        Dedup.cappedCelledIndex(spark, dir)
          .filter(Dedup.split(col("vec_id")) >= thresh)
          .select("vec_id", "cluster", "sub", "v", "norm"))
        .write.mode("overwrite").parquet(_))

  /** The embeddings' memo key with the history split threshold folded
    * into its name, so each threshold keeps its own store.
    */
  private def threshKey(dir: String, thresh: String): (String, String) = {
    val (table, fp) = Kernels.inputKey(dir, "embeddings.parquet")
    (s"$table|$thresh", fp)
  }

  /** Directed in-cell top-[[KnnK]] lists over an arbitrary celled
    * membership frame — the shared kernel of [[mutualKnnEdges]] (full
    * corpus), the history artifact, and the maintainer's touched-cell
    * recompute. Keeps (cluster, sub) on the output so consumers can
    * route by cell.
    */
  private[graft] def directedTopK(spark: SparkSession, members: DataFrame): DataFrame = {
    import graft.functions.VectorFunctions.dot
    members.as("a")
      .join(members.as("b"),
        col("a.cluster") === col("b.cluster") && col("a.sub") === col("b.sub") &&
          col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.cluster").as("cluster"), col("a.sub").as("sub"),
        col("a.vec_id").as("src"), col("b.vec_id").as("dst"),
        round(dot(spark, col("a.v"), col("b.v")) /
          (col("a.norm") * col("b.norm")), 6).as("sim"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("src").orderBy(col("sim").desc, col("dst"))))
      .filter(col("rnk") <= KnnK)
      .select("cluster", "sub", "src", "dst", "sim")
  }

  /** `graph_knn_maintain`: incremental maintenance of the mutual-kNN
    * graph under ingest — the FreshDiskANN-style insert recast in the
    * repo's maintained-store discipline. The history-only directed
    * top-k lists are a durable artifact ([[ensureKnnDirectedHistory]]);
    * an ingest batch (the standard `inc:` hash split) only lands in
    * some trained (cluster, sub) cells, so the maintainer recomputes
    * directed lists for the TOUCHED cells over their full membership
    * and carries every untouched cell's stored lists over verbatim
    * (one anti-join); mutuality is then the usual self-semi-join of
    * the merged lists. Because kNN candidates are generated strictly
    * IN-cell and both sides read the SAME celled snapshot, an
    * untouched cell's candidate set is identical with or without the
    * batch — so the maintained graph equals the one-shot full-corpus
    * build row for row, and `graph_knn`'s oracle text gates this
    * query too (the maintained == one-shot contract every store in
    * the repo honors; additionally spec-pinned with the touched-cell
    * fraction).
    *
    * Contract note — the history artifact is a batch-inclusive
    * SNAPSHOT PROJECTION, not a pre-batch store: [[Dedup.capCells]]
    * assigns `sub` by salted-rank over the FULL index (the artifact
    * memo is keyed to the whole `embeddings.parquet` fingerprint), and
    * [[ensureKnnDirectedHistory]] filters to history rows AFTER
    * celling. Where [[Dedup.SemCellCap]] binds, a genuinely
    * history-only store would shift sub boundaries once the batch
    * arrives, invalidating the untouched-cell carry-over. A production
    * maintainer picks one of two real contracts: (a) sticky `sub` =
    * pure hash of vec_id (boundaries never move; the cap becomes
    * approximate, ≤ cap·(1+ε) w.h.p.), or (b) exactly this snapshot
    * projection, re-celling (and re-listing shifted cells) on the
    * periodic full rebuild that every capped-cell index needs anyway.
    * This repo implements (b); the equality below is the contract (b)
    * guarantees.
    *
    * 100 TB shape: per ingest batch the similarity work is
    * Σ_touched C(cap, 2) — proportional to where the batch lands,
    * never corpus-sized; the untouched side is a stored-artifact scan
    * + anti-join on the (|cells|-bounded) touched-cell list.
    */
  def knnMaintain(spark: SparkSession, dir: String,
      thresh: String = Dedup.IncBatchThreshold): DataFrame =
    graft.Tables.parquet(spark, ensureMaintainedKnnEdges(spark, dir, thresh))
      .orderBy("vec_a", "vec_b")

  /** The maintained mutual-edge frame materialized to a fingerprinted
    * durable artifact, one MERGE per (corpus, thresh, JVM) — the
    * production contract the maintainer's docstring describes: an
    * index under ingest is maintained IN ITS STORE, and every consumer
    * (the gate query, the beam serve, future analytics) reads the
    * stored edges instead of re-running the touched-cell recompute.
    * Within a session this amortizes the merge across
    * `graph_knn_maintain` and `ann_graph_maintain` (each previously
    * paid it separately), and the parquet leaf gives the beam serve
    * the multi-reference property a live merge tree lacks (Catalyst
    * does not reuse exchanges for self-joined subtrees here —
    * measured 11.8 s vs 4.4 s at sf0.1 without a cut).
    */
  private[graft] def ensureMaintainedKnnEdges(spark: SparkSession, dir: String,
      thresh: String = Dedup.IncBatchThreshold): String =
    Kernels.buildStore("graft-knn-maint", threshKey(dir, thresh))(
      maintainedKnnEdges(spark, dir, thresh).write.mode("overwrite").parquet(_))

  /** The maintained mutual-edge frame without the output ordering —
    * the LIVE merge [[ensureMaintainedKnnEdges]] materializes (all
    * downstream consumers, including
    * [[Similarity.annGraphMaintain]]'s beam serve, read the artifact).
    */
  private[graft] def maintainedKnnEdges(spark: SparkSession, dir: String,
      thresh: String = Dedup.IncBatchThreshold): DataFrame = {
    val idx = Kernels.cacheTracked(Dedup.cappedCelledIndex(spark, dir)
      .select("vec_id", "cluster", "sub", "v", "norm"))
    val batchCells = idx.filter(Dedup.split(col("vec_id")) < thresh)
      .select("cluster", "sub").distinct()
    val hist = graft.Tables.parquet(spark, ensureKnnDirectedHistory(spark, dir, thresh))
    maintainedEdges(spark, idx, hist, batchCells)
  }

  /** The maintainer's merge core over explicit frames — carry
    * untouched cells' stored directed lists over verbatim, recompute
    * touched cells over their full membership, then the mutual
    * semi-join. Extracted so the spec can prove the MIXED merge on a
    * synthetic layout where touched and untouched cells coexist (the
    * gate corpus's ~62-member cells are all touched by the 5/16
    * production split, so the mix never binds there).
    */
  private[graft] def maintainedEdges(spark: SparkSession, idx: DataFrame,
      hist: DataFrame, batchCells: DataFrame): DataFrame =
    mutualFromDirected(maintainedLists(spark, idx, hist, batchCells))

  /** The directed lists after a batch touched `batchCells`: `lists`'
    * rows of untouched cells verbatim, touched cells recomputed over
    * their `members`.
    */
  private def maintainedLists(spark: SparkSession, members: DataFrame,
      lists: DataFrame, batchCells: DataFrame): DataFrame =
    lists.join(broadcast(batchCells), Seq("cluster", "sub"), "left_anti")
      .unionByName(directedTopK(spark,
        members.join(broadcast(batchCells), Seq("cluster", "sub"), "left_semi")))

  /** Mutual edges from a directed top-k list frame — the serve step
    * shared by the one-shot build, the batch maintainer, and the
    * streaming store ([[graft.streaming.DocStream.streamKnnMaintain]]).
    */
  private[graft] def mutualFromDirected(lists: DataFrame): DataFrame = {
    val knn = Kernels.cacheTracked(lists.select("src", "dst", "sim"))
    knn.join(knn.select(col("dst").as("src"), col("src").as("dst")),
        Seq("src", "dst"), "left_semi")
      .filter(col("src") < col("dst"))
      .select(col("src").as("vec_a"), col("dst").as("vec_b"), col("sim"))
  }

  /** One micro-batch of kNN-graph store maintenance — the streaming
    * form of [[knnMaintain]]'s touched-cell recompute
    * ([[maintainedLists]]) against a versioned directed-list store
    * ([[Store.next]] under batch `bid`, seeded by the history
    * artifact). Membership for the recompute is history ∪ every batch
    * vector SEEN so far (appended to the store's `seen` table), so a
    * cell touched by several batches converges to its full membership
    * at its last touch — which is why the drained store equals the
    * one-shot build (spec-pinned with a two-batch split).
    */
  private[graft] def appendBatchToKnn(batch: DataFrame, bid: Long, dir: String,
      storeRoot: String): Unit = {
    val spark = batch.sparkSession
    // function-scoped pin, NOT cacheTracked: this runs inside
    // foreachBatch on the STREAM-EXECUTION thread, whose per-thread
    // registry scope no query thread ever retires — a tracked pin here
    // would leave the corpus-sized celled index (full embedding
    // vectors) resident for the rest of the session. The index is
    // consumed entirely by this batch's two write actions, so its
    // lifetime IS the function body.
    val idx = Dedup.cappedCelledIndex(spark, dir)
      .select("vec_id", "cluster", "sub", "v", "norm").cache()
    try {
      val ids = batch.select("vec_id").distinct()
      Store.append(storeRoot, "seen", bid)(ids)
      val batchCells = idx.join(ids, Seq("vec_id"), "left_semi")
        .select("cluster", "sub").distinct()
      val members = idx.filter(!Dedup.isBatch(col("vec_id")))
        .unionByName(idx.join(Store.read(spark, storeRoot, "seen"), Seq("vec_id"), "left_semi"))
      Store.next(spark, storeRoot, "lists", bid)(prev =>
        maintainedLists(spark, members, prev.getOrElse(historyLists(spark, dir)), batchCells))
    } finally idx.unpersist(true)
  }

  /** The directed lists a [[appendBatchToKnn]] store at `storeRoot`
    * serves: its newest version, or the history artifact before the
    * first batch.
    */
  private[graft] def knnStoreLists(spark: SparkSession, dir: String,
      storeRoot: String): DataFrame =
    Store.latest(spark, storeRoot, "lists").getOrElse(historyLists(spark, dir))

  private def historyLists(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.parquet(spark, ensureKnnDirectedHistory(spark, dir, Dedup.IncBatchThreshold))

  /** Vocabulary cap for the co-occurrence graph: top terms by
    * document frequency. Inactive on this corpus (|vocab| = 31) but
    * load-bearing at 100 TB — it bounds the graph to C(cap, 2) edges
    * no matter how large the corpus vocabulary grows (the TextRank
    * content-word restriction, made deterministic).
    */
  val TextRankVocab = 1000
  /** TextRank iteration count — same fixed-rounds contract as
    * [[PrIters]].
    */
  val TrIters = 10

  /** `keywords_textrank`: TextRank (Mihalcea & Tarau 2004) keyword
    * scoring — weighted PageRank over the term co-occurrence graph,
    * where terms are connected iff they co-occur in a document and
    * the edge weight is the co-document count. The update is the
    * weighted-graph form pr′(v) = (1−d)/n + d·Σ_u w(u,v)/W(u)·pr(u)
    * with W(u) the weighted degree. High-rank terms are the corpus's
    * structural keywords: they co-occur broadly with OTHER
    * well-connected terms, not merely often (frequency is
    * [[TextAnalysis]]'s `vocab_top`; the two rankings disagree
    * exactly on boilerplate tokens that repeat in one template).
    *
    * Scale shape: one tokenize + distinct pass (the wc shuffle)
    * produces the (doc, term) incidence; the [[TextRankVocab]] df cap
    * bounds the vocabulary, so the co-occurrence aggregate and every
    * iteration run over vocab²-bounded frames — corpus size only
    * affects the ONE incidence scan. Same 12dp-decimal round
    * discipline as [[pageRank]], so the oracle's CTE chain replays
    * every iteration bit-for-bit.
    */
  def textRank(spark: SparkSession, dir: String): DataFrame =
    textRankOn(spark,
      graft.Tables.parquet(spark, ensureIncidence(spark, dir)),
      TextRankVocab)

  /** The distinct (doc_id, term) incidence materialized once per
    * corpus fingerprint — the [[ensureKnnEdges]] durable-artifact
    * pattern. [[textRankOn]] consumes the incidence three times (the
    * vocab-df aggregate and both sides of the co-occurrence self-join)
    * and Catalyst does not reuse exchanges across those subtrees, so
    * the inline form re-tokenized the corpus three times; an in-memory
    * pin of this token-sized frame measured 2× SLOWER at sf0.1
    * (reverted in 007fa92), while the parquet leaf gives all three
    * consumers a pre-tokenized columnar scan — the shape that wins at
    * 100× where three corpus tokenizes dominate. In production this is
    * the maintained `(doc, term)` incidence table every text-graph
    * analytic shares.
    */
  private[graft] def ensureIncidence(spark: SparkSession, dir: String): String =
    Kernels.buildStore("graft-tr-inc", Kernels.inputKey(dir, "documents.parquet"))(
      graft.Tables.documents(spark, dir)
        .select(col("doc_id"),
          explode(TextAnalysis.tokens(lower(col("text")))).as("term"))
        .distinct()
        .write.mode("overwrite").parquet(_))

  /** Cap-parameterized body of [[textRank]] over a prepared (doc_id,
    * term) incidence — the production query fixes cap =
    * [[TextRankVocab]], which is INACTIVE on the test corpus
    * (|vocab| = 31); `GraphSpec` drives this with a cap that BINDS on
    * a synthetic corpus to pin the cap's load-bearing contract: the
    * retained vocabulary is exactly the top-cap terms by (df, term)
    * and the edge set is C(cap, 2)-bounded no matter how many terms
    * the corpus holds.
    */
  private[graft] def textRankOn(
      spark: SparkSession, dt: DataFrame, vocabCap: Int): DataFrame = {
    val edges = cooccurrenceEdges(dt, vocabCap)
    // BOUND-derived keyed pin — the [[pageRank]] loop contract, but
    // with the width from the structural C(cap, 2) edge bound instead
    // of a measured count ([[Kernels.boundedKeyedCache]]): the
    // vocab-capped graph can never exceed cap·(cap−1) symmetric rows
    // at ANY corpus size, so the pin costs one materialization where
    // sizedKeyedCache's cache-wide → count → re-cache dance
    // materialized the expensive co-occurrence build twice (the r19
    // driver's measured 25% textrank regression).
    val sym = Kernels.boundedKeyedCache(
      edges.select(col("ta").as("src"), col("tb").as("dst"), col("w"))
        .union(edges.select(col("tb").as("src"), col("ta").as("dst"), col("w"))),
      col("src"), vocabCap.toLong * (vocabCap - 1L))
    val (pr, wdeg) = powerIteration(sym, TrIters,
      "keywords_textrank needs at least one co-occurring term pair")
    pr.join(wdeg, col("pid") === col("node"))
      .select(col("node").as("term"), col("wd").as("weighted_degree"),
        col("pr").as("textrank"))
      .orderBy(col("textrank").desc, col("term"))
  }

  /** The vocab-capped co-occurrence edge build over a prepared (doc_id,
    * term) incidence — extracted so the plan audit can pin that the
    * whole graph build (vocab df aggregate + both self-join sides)
    * reads the durable incidence artifact, never the text corpus.
    */
  private[graft] def cooccurrenceEdges(dt: DataFrame, vocabCap: Int): DataFrame = {
    val topVocab = dt.groupBy("term").agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("term")).limit(vocabCap)
      .select("term")
    val inc = dt.join(broadcast(topVocab), Seq("term"), "left_semi")
    inc.as("a")
      .join(inc.as("b"),
        col("a.doc_id") === col("b.doc_id") && col("a.term") < col("b.term"))
      .groupBy(col("a.term").as("ta"), col("b.term").as("tb"))
      .agg(count(lit(1)).as("w"))
  }
}
