package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import KMeansCodebook.{Books, Corpus}

/** Product quantization over the `embeddings` table (north star; the
  * reference has no similarity operators) — the memory-compression
  * half of large-scale ANN, complementing [[Similarity.annIvfKmeans]]
  * (which prunes WHICH vectors a probe touches, while PQ shrinks WHAT
  * each touched vector costs).
  *
  * The vector is split into [[SubDim]]-wide subspaces; each subspace
  * gets its own k-means codebook ([[PqK]] entries), trained by the one
  * exact-decimal Lloyd kernel of [[KMeansCodebook]] with the subspace
  * as its `ss` key; a vector is stored as M = dim/[[SubDim]] small
  * codes — here 4 × 3 bits against 64 × 4-byte floats, a ~85×
  * compression. Search is ASYMMETRIC distance computation (ADC): the
  * probe stays exact, its distance to every codebook entry of every
  * subspace is tabulated once (|probes| · M · [[PqK]] rows —
  * query-sized), and a candidate's approximate distance is the sum of
  * M table lookups on its codes.
  *
  * 100 TB shape: training and encoding are the [[KMeansCodebook]]
  * contract (the books in the task closure, map-only assignment, one
  * single-stage `treeAggregate` fold per Lloyd round — only books-sized
  * data ever reaches the driver). The ADC search
  * joins the corpus' code table against a BROADCAST distance table on
  * (subspace, code) — the corpus is never shuffled for the join, and a
  * row's M subspace entries are co-located (they come from the same
  * scanned row), so the map-side combine collapses them before the
  * per-probe rank exchange.
  *
  * Determinism: the kernel's — DECIMAL(18,9) coordinates, squared-L2
  * rounded to 6dp, argmin ties to the lowest cluster id, means re-fixed
  * to 6dp — so codes, distance tables and ADC sums replay bit-for-bit
  * in the DuckDB oracle's CTE chain. The corpus vectors are unit-norm,
  * making squared L2 (= 2 − 2·cos for unit vectors) rank exactly like
  * cosine: `PipelineSpec` pins ADC recall against the float
  * [[Similarity.annTopK]].
  */
object ProductQuant {

  /** Subspace width; M = dim / SubDim subspaces (64-dim corpus → 8). */
  val SubDim = 8
  /** Codebook entries per subspace. */
  val PqK: Int = 16
  /** Lloyd rounds after the deterministic first-[[PqK]]-vectors init. */
  val PqIters: Int = KMeansCodebook.LloydIters

  /** (vec_id, ss, v): each vector's M [[SubDim]]-wide slices, one
    * subspace each — a map-only transform; a row's slices stay in its
    * partition.
    */
  private def subBaseOf(base: DataFrame): DataFrame =
    base
      .select(col("vec_id"),
        // integer div: `size/16` via Column./ is DOUBLE division
        explode(expr(s"sequence(0, size(v) div $SubDim - 1)")).as("ss"),
        col("v"))
      .select(col("vec_id"), col("ss").cast("long").as("ss"),
        slice(col("v"), col("ss") * SubDim + 1, lit(SubDim)).as("v"))

  /** The corpus's per-subspace books, memoized per corpus. */
  private def books(corpus: Corpus): Books =
    KMeansCodebook.train("pq-books", corpus, PqK, subBaseOf)

  /** (vec_id, ss, code): every (vector, subspace) to its nearest entry. */
  private def encoded(vectors: DataFrame, books: Books): DataFrame =
    KMeansCodebook.assign(subBaseOf(vectors), books)
      .select(col("vec_id"), col("ss"), col("cluster").as("code"))

  /** The corpus's encoded form, cached until the next retire — under
    * [[books]]' memo key: one training and one encoding pass per corpus
    * regardless of entry point.
    */
  private def codes(corpus: Corpus): DataFrame =
    Kernels.memoUntilRetire("pq-codes", corpus.key)(
      encoded(corpus.vectors, books(corpus)))

  /** `embedding_pq`: the encoded corpus — M codes per vector. */
  def encode(spark: SparkSession, dir: String): DataFrame =
    codes(KMeansCodebook.embeddings(spark, dir)).orderBy("vec_id", "ss")

  /** The probes' ADC distance table (probe_id, ss, code, td): each
    * probe's exact-decimal distance to every entry of every subspace —
    * |probes| · M · [[PqK]] rows, query-sized, always broadcast by
    * consumers.
    */
  private def adcTable(probes: DataFrame, books: Books): DataFrame =
    KMeansCodebook.nearest(
        subBaseOf(probes.filter(col("vec_id") < Similarity.NumProbes)), books, Int.MaxValue)
      .select(col("vec_id").as("probe_id"), col("ss"), col("cluster").as("code"),
        col("d").as("td"))

  /** Folds (probe_id, vec_id, ss-level td rows) into the top-`k` ADC
    * frame (probe_id, neighbor_id, adist, rnk) — shared by the
    * full-corpus and cell-restricted searches. Ranking (adist ASC,
    * id ASC) rides the bounded `graft_topk` aggregate with the
    * DISTANCE NEGATED (score DESC ≡ distance ASC; the double negation
    * round-trips exactly, −(−x) = x in IEEE): the old `row_number`
    * window funneled every probe's scored candidates — the full code
    * table for [[annPq]], a probed-cell fraction for the IVFPQ family
    * — into ONE window partition and sorted there, the exact shape
    * that dies at 100 TB. The aggregate partial-reduces each map
    * task's slice to ≤ k entries per probe BEFORE the exchange, so
    * the shuffle carries at most k·|probes| rows whatever the corpus.
    */
  private def adcRank(joined: DataFrame, k: Int): DataFrame = {
    import graft.functions.TopKFunctions.topK
    val spark = joined.sparkSession
    joined
      .filter(col("vec_id") =!= col("probe_id"))
      .groupBy("probe_id", "vec_id")
      .agg(sum("td").as("adist_d"))
      .select(col("probe_id"), col("vec_id").as("neighbor_id"),
        col("adist_d").cast("double").as("adist"))
      .groupBy("probe_id")
      .agg(topK(spark, -col("adist"), col("neighbor_id"), lit(k)).as("top"))
      .select(col("probe_id"), posexplode(col("top")))
      .select(col("probe_id"), col("col.id").as("neighbor_id"),
        (-col("col.score")).as("adist"), (col("pos") + 1).cast("long").as("rnk"))
  }

  /** Per-probe ADC top-`k` (probe_id, neighbor_id, adist, rnk) over
    * the full code table. The per-probe distance table is query-sized
    * and BROADCAST; the corpus side contributes only its code rows.
    */
  private def adcRanked(corpus: Corpus, k: Int): DataFrame =
    adcRank(
      codes(corpus).join(broadcast(adcTable(corpus.scan, books(corpus))), Seq("ss", "code")),
      k)

  /** `ann_pq`: ADC top-k — exact probes against the quantized corpus.
    * Standalone ADC recall on this corpus is modest (the planted
    * neighbor gaps are smaller than the quantization distortion — see
    * the spec's measured numbers); the production query is
    * [[annPqRerank]], which uses ADC only as the cheap shortlist.
    */
  def annPq(spark: SparkSession, dir: String): DataFrame =
    adcRanked(KMeansCodebook.embeddings(spark, dir), Similarity.TopK)
      .orderBy("probe_id", "rnk")

  /** ADC shortlist width for the re-ranked query. */
  val Shortlist = 50

  /** `ann_pq_rerank`: the production PQ search — ADC prunes the corpus
    * to a [[Shortlist]]-deep candidate set per probe (touching only
    * code rows), then ONLY the shortlisted vectors' floats are fetched
    * for an exact cosine re-rank. The float fetch is a broadcast join
    * of the query-sized shortlist against the streamed corpus — the
    * expensive full-precision data is read for |probes|·[[Shortlist]]
    * rows, not the whole table. Recall is gated in the spec (measured
    * 0.88 at sf0.001 vs 0.22 for raw ADC).
    */
  def annPqRerank(spark: SparkSession, dir: String): DataFrame = {
    val corpus = KMeansCodebook.embeddings(spark, dir)
    rerankExact(corpus.scan,
      adcRanked(corpus, Shortlist).select("probe_id", "neighbor_id"))
  }

  /** Exact-cosine re-rank of a query-sized (probe_id, neighbor_id)
    * shortlist against a (vec_id, v) frame: only the shortlisted
    * vectors' floats are fetched (a join of the tiny shortlist against
    * the streamed corpus), so the full-precision read is
    * |probes|·shortlist rows, never the table.
    */
  private def rerankExact(scan: DataFrame, short: DataFrame): DataFrame = {
    import graft.functions.VectorFunctions.dot
    import graft.functions.TopKFunctions.topK
    val spark = scan.sparkSession
    val emb = Kernels.fanOut(scan)
      .withColumn("nrm", sqrt(dot(spark, col("v"), col("v"))))
    val probes = emb.filter(col("vec_id") < Similarity.NumProbes)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"), col("nrm").as("pn"))
    short
      .join(emb.select(col("vec_id").as("neighbor_id"), col("v").as("cv"),
        col("nrm").as("cn")), Seq("neighbor_id"))
      .join(broadcast(probes), Seq("probe_id"))
      .select(col("probe_id"), col("neighbor_id"),
        round(dot(spark, col("pv"), col("cv")) / (col("pn") * col("cn")), 6).as("sim"))
      // the input is already shortlist-bounded, but the graft_topk cut
      // keeps the whole PQ serve window-free (one plan-audit invariant
      // for the family instead of a bounded-window carve-out)
      .groupBy("probe_id")
      .agg(topK(spark, col("sim"), col("neighbor_id"), lit(Similarity.TopK)).as("top"))
      .select(col("probe_id"), posexplode(col("top")))
      .select(col("probe_id"), col("col.id").as("neighbor_id"),
        col("col.score").as("sim"), (col("pos") + 1).cast("long").as("rnk"))
      .orderBy("probe_id", "rnk")
  }

  /** The IVFPQ search body shared by the trained ([[annIvfPq]]) and
    * artifact-served ([[serveIndex]]) paths: candidates from the
    * probed cells' code rows, ADC sum over the broadcast distance
    * table, exact rerank of the shortlist over `scan`.
    */
  private def search(scan: DataFrame,
      celledCodes: DataFrame, pcells: DataFrame, adc: DataFrame): DataFrame =
    rerankExact(scan,
      adcRank(
        celledCodes
          .join(broadcast(pcells), col("cluster") === col("pcluster"))
          .join(broadcast(adc), Seq("probe_id", "ss", "code")), Shortlist)
        .select("probe_id", "neighbor_id"))

  /** `ann_ivf_pq`: the COMPLETE production ANN index shape — the
    * FAISS IVFPQ composition of the three pieces this suite ships
    * separately: the trained IVF cells prune WHICH vectors a probe
    * touches ([[KMeansCodebook]] — each probe searches its
    * [[Similarity.KmProbeCells]] nearest cells, ~1/4 of the corpus),
    * PQ codes shrink WHAT each touched vector costs (ADC over the
    * [[SubDim]]-subspace codebooks — code rows only, ~85× smaller
    * than floats), and the exact re-rank restores precision on the
    * [[Shortlist]]-deep survivors (full floats fetched for
    * |probes|·shortlist rows only). Cells and subspace codebooks are
    * the same Lloyd kernel, keyed by subspace.
    *
    * 100 TB shape: the stored index is the codes table WITH the
    * vector's cell id alongside (the one-time build join below — in
    * production codes are written partitioned by cell, so a probe
    * reads only its probed cells' files, [[buildIndex]]); the search
    * itself is two BROADCAST joins (probe cells, ADC table) + one
    * map-side-combined sum + a per-probe rank over candidates from 2
    * cells. Every stage replays engine-exactly (decimal distances,
    * lowest-id ties), so the composed index is oracle-gated end to
    * end; the spec pins recall vs the exact float top-k.
    */
  def annIvfPq(spark: SparkSession, dir: String): DataFrame =
    annIvfPq(spark, dir, Similarity.KmProbeCells)

  /** nprobe-parameterized [[annIvfPq]] — nprobe is THE recall/latency
    * knob of a served IVFPQ index: each probe searches its `nprobe`
    * nearest trained cells, so candidate cost scales ~nprobe/K of the
    * code table while recall rises toward the exhaustive-PQ ceiling.
    * The gated query fixes nprobe = [[Similarity.KmProbeCells]] = 2;
    * the spec pins the measured curve at sf0.001 vs the exact float
    * top-k — recall@nprobe=1: 0.78, @2: 0.82, @4: 0.86 — approaching
    * [[annPqRerank]]'s full-corpus 0.88 ceiling (past the point where
    * every true neighbor reaches the ADC shortlist, quantization
    * noise is the only remaining loss) — and asserts the curve is
    * non-decreasing, the production acceptance test for any nprobe
    * default. (Monotonicity is empirical, not structural: at fixed
    * [[Shortlist]] depth, extra cells' candidates can in principle
    * crowd a true neighbor out of the ADC shortlist; on this corpus
    * they don't, and the fixed data keeps the check deterministic.)
    */
  def annIvfPq(spark: SparkSession, dir: String, nprobe: Int): DataFrame = {
    val corpus = KMeansCodebook.embeddings(spark, dir)
    search(corpus.scan,
      codes(corpus)
        .join(KMeansCodebook.lastAssignment(corpus).select("vec_id", "cluster"), "vec_id"),
      KMeansCodebook.probeCells(corpus.scan, KMeansCodebook.codebook(corpus), nprobe),
      adcTable(corpus.scan, books(corpus)))
  }

  /** Materializes the COMPLETE durable IVF-PQ index of `corpus` under
    * `root` — the durable twin of the session memos, completing the
    * train-once/probe-many production story ([[Bpe.writeMergeTable]]'s
    * contract applied to the vector index):
    *
    *  - `root/coarse_codebook` and `root/pq_codebooks`: the trained
    *    cells and subspace books, [[KMeansCodebook.writeBooks]] tables
    *    (exact DECIMAL(18,9) coordinates, so a serving session's probe
    *    cells and ADC tables replay bit-for-bit);
    *  - `root/assignment`: every vector's cell id, PARTITIONED BY
    *    cluster;
    *  - `root/codes`: the encoded corpus (vec_id, ss, code) PARTITIONED
    *    BY its IVF cell — the production layout: a probe's ADC pass
    *    reads ONLY its probed cells' directories (static partition
    *    pruning, plan-audited), so at 100 TB the per-probe scan is
    *    nprobe/K of the code table, which is itself ~85× smaller than
    *    the float corpus.
    */
  private def buildIndex(spark: SparkSession, corpus: Corpus, root: String): Unit = {
    KMeansCodebook.writeBooks(spark, KMeansCodebook.codebook(corpus), s"$root/coarse_codebook")
    val cells = KMeansCodebook.lastAssignment(corpus).select("vec_id", "cluster")
    cells.write.mode("overwrite").partitionBy("cluster").parquet(s"$root/assignment")
    KMeansCodebook.writeBooks(spark, books(corpus), s"$root/pq_codebooks")
    codes(corpus).join(cells, "vec_id")
      .write.mode("overwrite").partitionBy("cluster").parquet(s"$root/codes")
  }

  /** The one IVF-PQ serve: `ann_ivf_pq` from [[buildIndex]] artifacts —
    * the production read path: NO training, NO session memo, no
    * dependence on the building session being alive. The coarse
    * codebook (K·dim rows) and PQ books (M·K·SubDim rows) are read from
    * the first root to the driver — bounded, index-metadata-sized, the
    * same closure-shipping contract as training — and the probed cell
    * ids (≤ nprobe·|probes| values) are pushed as a STATIC partition
    * filter on the celled code table, so the candidate scan reads only
    * the probed cells' directories (PartitionFilters in the plan,
    * audited). A `delta` is a second LAYER of the store (the
    * [[appendBatchToIndex]] rows over the immutable trained `root`):
    * its code rows union with the root's, which changes which files
    * hold a row, never the rows. Probes, ADC and rerank read
    * `corpus.scan`. Value-equal to the trained [[annIvfPq]] from a fresh
    * session (spec-pinned), because every stored coordinate is the
    * exact decimal the training kernels used.
    */
  private def serveIndex(spark: SparkSession, corpus: Corpus,
      root: String, delta: Option[String], nprobe: Int): DataFrame = {
    val pcells = KMeansCodebook.probeCells(corpus.scan,
      KMeansCodebook.readBooks(spark, s"$root/coarse_codebook"), nprobe)
    // probed cells: bounded driver-side collect (≤ K distinct values) —
    // the static filter is what turns "scan the code table" into "read
    // the probed cells' partition directories"
    val probed = pcells.select("pcluster").distinct().collect().map(_.getLong(0))
    // one read per layer, pruned per layer, then unioned by name
    val codes = (Tables.parquet(spark, s"$root/codes") +:
        delta.map(Store.read(spark, _, "codes")).toSeq)
      .map(_.filter(col("cluster").isin(probed: _*))
        .withColumn("cluster", col("cluster").cast("long"))
        .select("vec_id", "ss", "code", "cluster"))
      .reduce(_ unionByName _)
    search(corpus.scan, codes, pcells,
      adcTable(corpus.scan, KMeansCodebook.readBooks(spark, s"$root/pq_codebooks")))
  }

  /** Builds the COMPLETE durable index of the full corpus under a
    * corpus-fingerprinted root in the JVM temp dir and returns the
    * root, writing at most once per (corpus, JVM) — the gate-facing
    * wrapper that lets the `ann_ivf_pq_served` query exercise the
    * whole write-then-read artifact path end to end under the oracle.
    */
  def ensureIndexArtifact(spark: SparkSession, dir: String): String = {
    val corpus = KMeansCodebook.embeddings(spark, dir)
    Kernels.buildStore("graft-ann-index", corpus.key)(buildIndex(spark, corpus, _))
  }

  // -------------------------------------------------------------------
  // Index MAINTENANCE under ingest — the missing refresh path between
  // "train once, serve many" and "retrain per corpus release": new
  // vectors are assigned to the EXISTING trained cells and PQ-encoded
  // with the EXISTING books, and only their rows are appended to the
  // celled stores. The keep-list got exactly this in
  // Dedup.keepMaintain; the index now has its twin.
  //
  // EXACTNESS: given frozen codebooks, each vector's cell and codes are
  // independent of every other vector, so the maintained store EQUALS
  // the store of "train on history, encode the union corpus" — which
  // is what the oracle replays.

  /** History-corpus memo key — distinct from the full-table keys so
    * the history-trained codebooks never collide with the full-corpus
    * trained ones in the shared training memos.
    */
  private def maintKey(dir: String): (String, String) = {
    val ek = Kernels.inputKey(dir, "embeddings.parquet")
    (s"ann-maintain:${ek._1}", ek._2)
  }

  /** The history corpus (trains the maintained index) under the `inc:`
    * split, pinned per query thread.
    */
  private def history(spark: SparkSession, dir: String): Corpus = {
    def scan = KMeansCodebook.vectorsOf(Tables.embeddings(spark, dir))
      .filter(!Dedup.isBatch(col("vec_id")))
    new Corpus(maintKey(dir), scan, Kernels.cacheTracked(Kernels.fanOut(scan)))
  }

  /** One ingest batch's frozen-codebook append: codebooks are read from
    * `base` (the immutable trained artifact), the batch's rows are
    * appended under batch `bid` into the DELTA layer at `delta` (the
    * base is shared and never written; the serve path unions the
    * layers — the LSM shape the compaction pass later folds flat).
    * Batch vectors are assigned to the ARTIFACT coarse cells (the exact
    * decimals training used, so maintained assignment == one-shot
    * assignment bit-for-bit), PQ-encoded with the artifact books, and
    * only the batch's rows are appended into the celled layout.
    * Per-vector independent given frozen codebooks, so appends commute
    * — any micro-batching of the same rows builds the same store.
    */
  private[graft] def appendBatchToIndex(
      batch: DataFrame, bid: Long, base: String, delta: String): Unit = {
    val spark = batch.sparkSession
    val b = KMeansCodebook.vectorsOf(batch)
    val bAssign = Kernels.cut(KMeansCodebook
      .assign(KMeansCodebook.oneSpace(b),
        KMeansCodebook.readBooks(spark, s"$base/coarse_codebook"))
      .select(col("vec_id"), col("cluster"))) // consumed twice (write + codes join); batch-sized
    try {
      Store.append(delta, "assignment", bid, "cluster")(bAssign)
      Store.append(delta, "codes", bid, "cluster")(
        encoded(b, KMeansCodebook.readBooks(spark, s"$base/pq_codebooks"))
          .join(bAssign, "vec_id"))
    } finally {
      // both consumers are done — free the cut NOW: a long stream of
      // batches would otherwise stack one batch-sized frame per call
      Kernels.free(bAssign)
    }
  }

  /** Memoized HISTORY-ONLY artifact (trained stores, no batch rows) —
    * the immutable base layer the streaming maintainer layers per-call
    * deltas over. Built once per (corpus, JVM); never written again.
    */
  private[graft] def ensureHistoryArtifact(spark: SparkSession, dir: String): String =
    Kernels.buildStore("graft-ann-hist", maintKey(dir))(buildIndex(spark, history(spark, dir), _))

  /** [[annIvfPqFrom]] over a LAYERED store: codebooks and probe cells
    * from the immutable `base`, candidate codes from the UNION of the
    * base's and the delta's celled code tables. Row-identical to
    * serving a single merged store.
    */
  private[graft] def annIvfPqFromLayers(
      spark: SparkSession, dir: String, base: String, delta: String): DataFrame =
    serveIndex(spark, KMeansCodebook.embeddings(spark, dir), base, Some(delta),
      Similarity.KmProbeCells)

  /** The ingest batch's DELTA layer over the history-trained index
    * ([[ensureHistoryArtifact]]): [[appendBatchToIndex]] as batch 0.
    * Nothing is retrained; no history row is rewritten; per-ingest cost
    * is batch-sized map-only work plus a write of batch-sized
    * partitions — the 100 TB maintenance story.
    */
  private[graft] def ensureMaintainedDelta(spark: SparkSession, dir: String): String =
    Kernels.buildStore("graft-ann-maint", maintKey(dir))(appendBatchToIndex(
      Tables.embeddings(spark, dir).filter(Dedup.isBatch(col("vec_id"))), 0,
      ensureHistoryArtifact(spark, dir), _))

  /** A celled table of the maintained index: the base layer's rows
    * and the delta's.
    */
  private[graft] def maintainedTable(spark: SparkSession, dir: String, t: String): DataFrame =
    Tables.parquet(spark, s"${ensureHistoryArtifact(spark, dir)}/$t")
      .unionByName(Store.read(spark, ensureMaintainedDelta(spark, dir), t))

  /** Compacts the maintained layers into a self-contained index at
    * `croot` — the index's consolidation step: every ingest writes one
    * batch-sized file set into each touched cluster directory, so a
    * store under steady ingest accumulates files per-ingest forever
    * (the same small-files death the search postings had). The rewrite
    * repartitions each celled table on its partition column so every
    * cluster directory holds ONE file — bounding the store at
    * |clusters| files whatever the ingest cadence — while preserving
    * the cluster layout the serve path's static probed-cell pruning
    * rides. The two codebook tables are tiny single-file frames,
    * rewritten so the compacted root serves standalone. Rows move,
    * never change: served == maintained, same oracle.
    */
  private def compactIndexStore(spark: SparkSession, dir: String, croot: String): Unit = {
    Seq("assignment", "codes").foreach { t =>
      maintainedTable(spark, dir, t)
        .repartition(col("cluster"))
        .write.mode("overwrite").partitionBy("cluster").parquet(s"$croot/$t")
    }
    Seq("coarse_codebook", "pq_codebooks").foreach { t =>
      Tables.parquet(spark, s"${ensureHistoryArtifact(spark, dir)}/$t")
        .coalesce(1).write.mode("overwrite").parquet(s"$croot/$t")
    }
  }

  private[graft] def ensureCompactedIndex(spark: SparkSession, dir: String): String =
    Kernels.buildStore("graft-ann-compact", maintKey(dir))(compactIndexStore(spark, dir, _))

  /** `ann_ivf_pq_compact`: the probe batch served from the COMPACTED
    * maintained index — [[annIvfPqFrom]] unchanged against the
    * consolidated store, gated by the same oracle as the maintain
    * twins (compaction is invisible to the answer; the file-count
    * bound is `StoreCompactionSpec`'s job).
    */
  def annIvfPqCompact(spark: SparkSession, dir: String): DataFrame =
    annIvfPqFrom(spark, dir, ensureCompactedIndex(spark, dir))

  /** `ann_ivf_pq_maintain`: the probe batch served from the MAINTAINED
    * index — history-trained codebooks, batch rows in the
    * [[ensureMaintainedDelta]] layer, the layered serve (static
    * partition pruning over probed cells in both layers). The oracle
    * replays train-on-history + encode-the-union in SQL; maintained ==
    * that, exactly.
    */
  def annIvfPqMaintain(spark: SparkSession, dir: String): DataFrame =
    annIvfPqFromLayers(spark, dir, ensureHistoryArtifact(spark, dir),
      ensureMaintainedDelta(spark, dir))

  /** `ann_ivf_pq` served from the index artifact at `path`, with the
    * nprobe knob exposed — the serve-time recall/latency trade
    * ([[annIvfPq]]'s measured curve): a higher nprobe reads more cell
    * directories, nothing is retrained or rewritten.
    */
  def annIvfPqFrom(spark: SparkSession, dir: String, path: String,
      nprobe: Int = Similarity.KmProbeCells): DataFrame =
    serveIndex(spark, KMeansCodebook.embeddings(spark, dir), path, None, nprobe)

  // -------------------------------------------------------------------
  // FLAGSHIP #3 — `pipeline_index`: the corpus-to-index build+serve
  // chain a production vector store runs on every corpus release.

  /** Memo key for the keep-filtered corpus: distinct from the
    * full-table keys (so the two corpora never share a trained
    * codebook), fingerprinting BOTH inputs — the embeddings and the
    * documents the keep-list derives from.
    */
  private def pipeKey(dir: String): (String, String) = {
    val ek = Kernels.inputKey(dir, "embeddings.parquet")
    val dk = Kernels.inputKey(dir, "documents.parquet")
    (s"pipeline-index:${ek._1}", s"${ek._2}|${dk._2}")
  }

  /** The index pipeline's corpus: embeddings of the documents the
    * near-dup keep-list retains (vec_id ≡ doc_id in this schema) —
    * duplicates never enter the index, so a probe can't burn its
    * shortlist on n copies of one page. One broadcast-able semi-join
    * (the keep-list is representative-per-cluster sized); the corpus
    * side streams. Pinned until the next retire, and served from the
    * same pinned frame.
    */
  private def pipeline(spark: SparkSession, dir: String): Corpus = {
    def base = Kernels.memoUntilRetire("pipe-base", pipeKey(dir))(
      Kernels.fanOut(
        KMeansCodebook.vectorsOf(Tables.embeddings(spark, dir))
          .join(Dedup.keepIds(spark, dir).select(col("doc_id").as("vec_id")),
            Seq("vec_id"), "left_semi")))
    new Corpus(pipeKey(dir), base, base)
  }

  /** Builds the COMPLETE durable index over the keep-filtered corpus
    * ([[buildIndex]]) under a fingerprinted root, once per (corpus,
    * JVM); returns the root.
    */
  private[graft] def ensurePipelineArtifact(spark: SparkSession, dir: String): String = {
    val corpus = pipeline(spark, dir)
    Kernels.buildStore("graft-pipe-index", corpus.key)(buildIndex(spark, corpus, _))
  }

  /** `pipeline_index` — FLAGSHIP #3, the index release pipeline as ONE
    * declarative chain: near-dup keep-list → surviving embeddings →
    * trained coarse cells + PQ codebooks over THAT corpus → durable
    * parquet artifact ([[buildIndex]]) → one probe batch served FROM
    * the artifact ([[serveIndex]]: top-[[Similarity.TopK]] per
    * surviving probe, IVFPQ + exact rerank).
    *
    * Composition notes: stage 1 is [[Dedup.keepIds]] (the
    * representative set of the ngram-Jaccard near-dup components —
    * exactly what the durable keep-list artifact stores); training
    * reuses the Lloyd kernel verbatim on the filtered corpus (init =
    * first K/[[PqK]] SURVIVORS by id, the oracle's rank-form init);
    * serving reads coarse codebook and PQ books to the driver
    * (index-metadata-sized), probed cell ids as a static partition
    * filter on the celled code table, ADC + exact rerank against
    * surviving floats only.
    *
    * 100 TB shape: each stage is the production form already gated
    * separately — the keep-list is one edge-bucketed dedup pass, the
    * trainers move only codebook-sized data to the driver, the
    * artifact is written partitioned-by-cell so every future probe
    * batch reads nprobe/K of the code table — and the chain makes the
    * release invariant explicit: the index is rebuilt from survivors
    * only, train-once, served by readers that never retrain.
    */
  def pipelineIndex(spark: SparkSession, dir: String): DataFrame = {
    val corpus = pipeline(spark, dir)
    serveIndex(spark, corpus, ensurePipelineArtifact(spark, dir), None, Similarity.KmProbeCells)
  }
}
