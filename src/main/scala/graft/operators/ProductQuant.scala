package graft.operators

import java.math.{BigDecimal => JBig, RoundingMode}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables

/** Product quantization over the `embeddings` table (north star; the
  * reference has no similarity operators) — the memory-compression
  * half of large-scale ANN, complementing [[Similarity.annIvfKmeans]]
  * (which prunes WHICH vectors a probe touches, while PQ shrinks WHAT
  * each touched vector costs).
  *
  * The vector is split into [[SubDim]]-wide subspaces; each subspace
  * gets its own k-means codebook ([[PqK]] entries, trained with the
  * exact-decimal Lloyd kernel of [[KMeansCodebook]]); a vector is
  * stored as M = dim/[[SubDim]] small codes — here 4 × 3 bits against
  * 64 × 4-byte floats, a ~85× compression. Search is ASYMMETRIC
  * distance computation (ADC): the probe stays exact, its distance to
  * every codebook entry of every subspace is tabulated once
  * (|probes| · M · [[PqK]] rows — query-sized), and a candidate's
  * approximate distance is the sum of M table lookups on its codes.
  *
  * 100 TB shape: training and encoding are the [[KMeansCodebook]]
  * contract (map-only assignment with the codebooks in the task
  * closure, one combiner-friendly (subspace, cluster, dim) aggregate
  * per Lloyd round — only codebook-sized data ever reaches the
  * driver). The ADC search joins the corpus' code table against a
  * BROADCAST distance table on (subspace, code) — the corpus is never
  * shuffled for the join, and a row's M subspace entries are
  * co-located (they come from the same scanned row), so the map-side
  * combine collapses them before the per-probe rank exchange.
  *
  * Determinism: identical to [[KMeansCodebook]] — DECIMAL(18,9)
  * coordinates, squared-L2 rounded to 6dp, argmin ties to the lowest
  * cluster id, means re-fixed to 6dp — so codes, distance tables and
  * ADC sums replay bit-for-bit in the DuckDB oracle's CTE chain. The
  * corpus vectors are unit-norm, making squared L2 (= 2 − 2·cos for
  * unit vectors) rank exactly like cosine: `PipelineSpec` pins ADC
  * recall against the float [[Similarity.annTopK]].
  */
object ProductQuant {

  /** Subspace width; M = dim / SubDim subspaces (64-dim corpus → 8). */
  val SubDim = 8
  /** Codebook entries per subspace. */
  val PqK: Int = 16
  /** Lloyd rounds after the deterministic first-[[PqK]]-vectors init. */
  val PqIters: Int = KMeansCodebook.LloydIters

  private def dec9(d: Double): JBig =
    JBig.valueOf(d).setScale(9, RoundingMode.HALF_UP)

  /** codebooks per subspace: ss -> sorted (cluster, centroid coords). */
  private type PqBooks = Map[Long, Array[(Long, Array[JBig])]]

  /** (vec_id, ss, sub): each vector exploded into its M subvectors —
    * a map-only transform; a row's subvectors stay in its partition.
    */
  private def subBase(spark: SparkSession, dir: String): DataFrame =
    subBaseOf(Kernels.fanOut(
      Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))))

  /** [[subBase]] over an explicit (vec_id, v) corpus frame — the
    * keep-filtered [[pipelineIndex]] corpus enters here.
    */
  private def subBaseOf(base: DataFrame): DataFrame =
    base
      .select(col("vec_id"),
        // integer div: `size/16` via Column./ is DOUBLE division
        explode(expr(s"sequence(0, size(v) div $SubDim - 1)")).as("ss"),
        col("v"))
      .select(col("vec_id"), col("ss").cast("long").as("ss"),
        slice(col("v"), col("ss") * SubDim + 1, lit(SubDim)).as("sub"))

  /** Exact-decimal squared L2 between a dec9'd subvector and a
    * codebook centroid, rounded to 6dp (the argmin/table contract).
    */
  private def d6(xd: Array[JBig], cent: Array[JBig], id: Long): JBig = {
    require(xd.length == cent.length,
      s"vec_id=$id subvector dim ${xd.length} != codebook dim ${cent.length}")
    var s = JBig.ZERO
    var j = 0
    while (j < cent.length) {
      val diff = xd(j).subtract(cent(j))
      s = s.add(diff.multiply(diff))
      j += 1
    }
    s.setScale(6, RoundingMode.HALF_UP)
  }

  /** Map-only encoding pass: every (vector, subspace) to its nearest
    * codebook entry; the books ride the task closure (M·K·SubDim
    * values — corpus-size-independent).
    */
  private def assign(spark: SparkSession, base: DataFrame, books: PqBooks): DataFrame = {
    import spark.implicits._
    base.as[(Long, Long, Seq[Double])].mapPartitions { it =>
      it.map { case (id, ss, sub) =>
        val xd = sub.map(dec9).toArray
        var bestC = Long.MaxValue
        var bestD: JBig = null
        books(ss).foreach { case (c, cent) =>
          val d = d6(xd, cent, id)
          val cmp = if (bestD == null) -1 else d.compareTo(bestD)
          if (cmp < 0 || (cmp == 0 && c < bestC)) { bestD = d; bestC = c }
        }
        (id, ss, bestC, sub)
      }
    }.toDF("vec_id", "ss", "code", "sub")
  }

  /** One combiner-friendly (ss, code, dim) aggregate recomputing every
    * subspace codebook — M·K·SubDim output rows, never corpus-sized.
    */
  private def recompute(assigned: DataFrame): DataFrame =
    assigned
      .select(col("ss"), col("code"), posexplode(col("sub")).as(Seq("pos", "x")))
      .groupBy(col("ss"), col("code"), (col("pos") + 1).cast("long").as("dim"))
      .agg(count(lit(1)).as("n"), sum(col("x").cast("decimal(18,9)")).as("sx"))
      .select(col("ss"), col("code"), col("dim"),
        round(col("sx").cast("double") / col("n"), 6).as("c"))

  private def collectBooks(cent: DataFrame): PqBooks =
    cent.select("ss", "code", "dim", "c").collect()
      .groupBy(_.getLong(0))
      .map { case (ss, rows) =>
        ss -> rows.groupBy(_.getLong(1)).map { case (c, rs) =>
          (c, rs.sortBy(_.getLong(2)).map(r => dec9(r.getDouble(3))))
        }.toArray.sortBy(_._1)
      }

  // Trained books and the encoded corpus are memoized per input
  // fingerprint, mirroring KMeansCodebook's train-once contract; the
  // codes cache retires with Kernels.retireCaches.
  private def trainedBooks(spark: SparkSession, dir: String): PqBooks =
    trainedBooksOn(spark, Kernels.inputKey(dir, "embeddings.parquet"),
      subBase(spark, dir))

  /** The per-subspace Lloyd trainer over an explicit exploded corpus
    * (vec_id, ss, sub), memoized under `key`. Init is the first
    * [[PqK]] corpus vectors by `vec_id` (a distinct-TakeOrdered — the
    * id set is PqK values, driver-bounded), which on the dense-id full
    * table is exactly the old `vec_id < PqK` filter; on a
    * keep-filtered corpus it is the first PqK SURVIVORS, mirroring the
    * oracle's rank-form init CTE.
    */
  private[operators] def trainedBooksOn(
      spark: SparkSession, key: (String, String), base: => DataFrame): PqBooks =
    Kernels.memo("pq-books", key) {
      import spark.implicits._
      val b = base
      val initIds = b.select(col("vec_id")).distinct()
        .orderBy("vec_id").limit(PqK).as[Long].collect().toSeq
      var books: PqBooks = b.filter(col("vec_id").isin(initIds: _*))
        .as[(Long, Long, Seq[Double])].collect()
        .groupBy(_._2)
        .map { case (ss, rows) =>
          ss -> rows.map { case (id, _, sub) => (id, sub.map(dec9).toArray) }
            .sortBy(_._1)
        }
      for (_ <- 1 until PqIters)
        books = collectBooks(recompute(assign(spark, b, books)))
      books
    }

  /** Final encoded corpus (vec_id, ss, code), cached per input. */
  private def codesOf(spark: SparkSession, dir: String): DataFrame =
    codesOfOn(spark, Kernels.inputKey(dir, "embeddings.parquet"),
      subBase(spark, dir))

  /** [[codesOf]] for an explicit (key, exploded corpus) — shares
    * [[trainedBooksOn]]'s memo key: one training + one encoding pass
    * per corpus regardless of entry point.
    */
  private def codesOfOn(
      spark: SparkSession, key: (String, String), base: => DataFrame): DataFrame =
    Kernels.memoUntilRetire("pq-codes", key) {
      val b = base
      assign(spark, b, trainedBooksOn(spark, key, b))
        .select(col("vec_id"), col("ss"), col("code"))
    }

  /** `embedding_pq`: the encoded corpus — M codes per vector. */
  def encode(spark: SparkSession, dir: String): DataFrame =
    codesOf(spark, dir).orderBy("vec_id", "ss")

  /** The probes' ADC distance table (probe_id, ss, code, td): each
    * probe's exact-decimal distance to every codebook entry of every
    * subspace — |probes| · M · [[PqK]] rows, query-sized, always
    * broadcast by consumers.
    */
  private def adcTable(spark: SparkSession, dir: String): DataFrame =
    adcTableOf(spark, dir, trainedBooks(spark, dir))

  /** [[adcTable]] against EXPLICIT books — the serve path reads them
    * from a [[writeCodebooks]] artifact instead of retraining.
    */
  private def adcTableOf(
      spark: SparkSession, dir: String, books: PqBooks): DataFrame =
    adcTableFromBase(spark, subBase(spark, dir), books)

  /** [[adcTableOf]] with the probe universe passed as an exploded
    * corpus frame — the pipeline index tabulates only SURVIVING
    * probes' distances.
    */
  private def adcTableFromBase(
      spark: SparkSession, probeSubBase: DataFrame, books: PqBooks): DataFrame = {
    import spark.implicits._
    probeSubBase.filter(col("vec_id") < Similarity.NumProbes)
      .as[(Long, Long, Seq[Double])]
      .flatMap { case (id, ss, sub) =>
        val xd = sub.map(dec9).toArray
        books(ss).map { case (c, cent) => (id, ss, c, d6(xd, cent, id)) }
      }
      .toDF("probe_id", "ss", "code", "td")
  }

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
  private def adcRanked(spark: SparkSession, dir: String, k: Int): DataFrame =
    adcRank(
      codesOf(spark, dir)
        .join(broadcast(adcTable(spark, dir)), Seq("ss", "code")), k)

  /** `ann_pq`: ADC top-k — exact probes against the quantized corpus.
    * Standalone ADC recall on this corpus is modest (the planted
    * neighbor gaps are smaller than the quantization distortion — see
    * the spec's measured numbers); the production query is
    * [[annPqRerank]], which uses ADC only as the cheap shortlist.
    */
  def annPq(spark: SparkSession, dir: String): DataFrame =
    adcRanked(spark, dir, Similarity.TopK)
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
  def annPqRerank(spark: SparkSession, dir: String): DataFrame =
    rerankExact(spark, dir,
      adcRanked(spark, dir, Shortlist)
        .select("probe_id", "neighbor_id"))

  /** Exact-cosine re-rank of a query-sized (probe_id, neighbor_id)
    * shortlist: only the shortlisted vectors' floats are fetched (a
    * join of the tiny shortlist against the streamed corpus), so the
    * full-precision read is |probes|·shortlist rows, never the table.
    */
  private def rerankExact(
      spark: SparkSession, dir: String, short: DataFrame): DataFrame =
    rerankExactOn(spark,
      Kernels.fanOut(
        Tables.embeddings(spark, dir)
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))),
      short)

  /** [[rerankExact]] against an explicit (vec_id, v) corpus — the
    * pipeline index reranks within the surviving corpus only.
    */
  private def rerankExactOn(
      spark: SparkSession, base: DataFrame, short: DataFrame): DataFrame = {
    import graft.functions.VectorFunctions.dot
    import graft.functions.TopKFunctions.topK
    val emb = base
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

  /** `ann_ivf_pq`: the COMPLETE production ANN index shape — the
    * FAISS IVFPQ composition of the three pieces this suite ships
    * separately: the trained IVF cells prune WHICH vectors a probe
    * touches ([[KMeansCodebook]] — each probe searches its
    * [[Similarity.KmProbeCells]] nearest cells, ~1/4 of the corpus),
    * PQ codes shrink WHAT each touched vector costs (ADC over the
    * [[SubDim]]-subspace codebooks — code rows only, ~85× smaller
    * than floats), and the exact re-rank restores precision on the
    * [[Shortlist]]-deep survivors (full floats fetched for
    * |probes|·shortlist rows only).
    *
    * 100 TB shape: the stored index is the codes table WITH the
    * vector's cell id alongside (the one-time build join below — in
    * production codes are written partitioned by cell, so a probe
    * reads only its probed cells' files); the search itself is two
    * BROADCAST joins (probe cells, ADC table) + one map-side-combined
    * sum + a per-probe rank over candidates from 2 cells. Every stage
    * replays engine-exactly (decimal distances, lowest-id ties), so
    * the composed index is oracle-gated end to end; the spec pins
    * recall vs the exact float top-k.
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
    val celledCodes = codesOf(spark, dir)
      .join(KMeansCodebook.lastAssignment(spark, dir).select("vec_id", "cluster"),
        "vec_id")
    val pcells = KMeansCodebook.probeCells(
      spark, dir, Similarity.NumProbes, nprobe)
    ivfPqSearch(spark, dir, celledCodes, pcells, adcTable(spark, dir))
  }

  /** The IVFPQ search body shared by the trained ([[annIvfPq]]) and
    * artifact-served ([[annIvfPqFrom]]) paths: candidates from the
    * probed cells' code rows, ADC sum over the broadcast distance
    * table, exact rerank of the shortlist.
    */
  private def ivfPqSearch(spark: SparkSession, dir: String,
      celledCodes: DataFrame, pcells: DataFrame, adc: DataFrame): DataFrame =
    ivfPqSearchOn(spark,
      Kernels.fanOut(
        Tables.embeddings(spark, dir)
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))),
      celledCodes, pcells, adc)

  /** [[ivfPqSearch]] with the rerank corpus passed explicitly. */
  private def ivfPqSearchOn(spark: SparkSession, rerankBase: DataFrame,
      celledCodes: DataFrame, pcells: DataFrame, adc: DataFrame): DataFrame = {
    val short = adcRank(
      celledCodes
        .join(broadcast(pcells), col("cluster") === col("pcluster"))
        .join(broadcast(adc), Seq("probe_id", "ss", "code")), Shortlist)
      .select("probe_id", "neighbor_id")
    rerankExactOn(spark, rerankBase, short)
  }

  /** Materializes the PQ half of the ANN index to `path`, next to
    * [[KMeansCodebook.writeIndex]]'s coarse half — together they ARE
    * the durable index the `annIvfPq` docstring's production layout
    * describes, now built rather than merely documented:
    *
    *  - `path/pq_codebooks`: every subspace's K centroids as
    *    DECIMAL(18,9) (M·[[PqK]]·[[SubDim]] rows — exact coordinates,
    *    so a serving session's ADC tables replay bit-for-bit);
    *  - `path/codes`: the encoded corpus (vec_id, ss, code) written
    *    PARTITIONED BY its IVF cell — codes-partitioned-by-cell is the
    *    production layout: a probe's ADC pass reads ONLY its probed
    *    cells' directories (static partition pruning, plan-audited),
    *    so at 100 TB the per-probe scan is nprobe/K of the code table,
    *    which is itself ~85× smaller than the float corpus.
    */
  def writeCodebooks(spark: SparkSession, dir: String, path: String): Unit =
    writeCodebooksOn(spark, Kernels.inputKey(dir, "embeddings.parquet"),
      subBase(spark, dir),
      KMeansCodebook.lastAssignment(spark, dir), path)

  /** [[writeCodebooks]] for an explicit (key, exploded corpus, coarse
    * assignment) — the keep-filtered pipeline artifact's PQ half.
    */
  private def writeCodebooksOn(spark: SparkSession, key: (String, String),
      base: => DataFrame, coarseAssignment: DataFrame, path: String): Unit = {
    import spark.implicits._
    val b = base
    trainedBooksOn(spark, key, b).toSeq.flatMap { case (ss, entries) =>
        entries.toSeq.flatMap { case (c, coords) =>
          coords.toSeq.zipWithIndex.map { case (x, i) =>
            (ss, c, (i + 1).toLong, x.toPlainString) }
        }
      }
      .toDF("ss", "code", "dim", "c_str")
      .select(col("ss"), col("code"), col("dim"),
        col("c_str").cast("decimal(18,9)").as("c"))
      .coalesce(1).write.mode("overwrite").parquet(s"$path/pq_codebooks")
    codesOfOn(spark, key, b)
      .join(coarseAssignment.select("vec_id", "cluster"), "vec_id")
      .write.mode("overwrite").partitionBy("cluster").parquet(s"$path/codes")
  }

  /** Reads a [[writeCodebooks]] artifact back as DataFrames —
    * (pq_codebooks, celled codes) — from any session that can read the
    * path; the codes' partition column is re-cast to long so consumers
    * see the training-session schema.
    */
  def codebooksFrom(spark: SparkSession, path: String): (DataFrame, DataFrame) = (
    spark.read.parquet(s"$path/pq_codebooks").orderBy("ss", "code", "dim"),
    spark.read.parquet(s"$path/codes")
      .withColumn("cluster", col("cluster").cast("long")))

  /** The artifact's books in the in-memory form the ADC kernels
    * consume — exact scale-9 decimals, equal to the training session's
    * [[trainedBooks]] (DECIMAL(18,9) round-trips parquet exactly).
    */
  private def booksFromArtifact(spark: SparkSession, path: String): PqBooks =
    spark.read.parquet(s"$path/pq_codebooks")
      .select("ss", "code", "dim", "c").collect()
      .groupBy(_.getLong(0))
      .map { case (ss, rows) =>
        ss -> rows.groupBy(_.getLong(1)).map { case (c, rs) =>
          (c, rs.sortBy(_.getLong(2)).map(_.getDecimal(3).setScale(9)))
        }.toArray.sortBy(_._1)
      }

  /** `ann_ivf_pq` SERVED from a durable index artifact
    * ([[KMeansCodebook.writeIndex]] + [[writeCodebooks]] under one
    * root) — the production read path: NO training, NO session memo,
    * no dependence on the building session being alive. The serving
    * session reads the coarse codebook (K·dim rows) and PQ books
    * (M·K·SubDim rows) to the driver — bounded, index-metadata-sized,
    * the same closure-shipping contract as training — and the probed
    * cell ids (≤ nprobe·|probes| values) are pushed as a STATIC
    * partition filter on the celled code table, so the candidate scan
    * reads only the probed cells' directories (PartitionFilters in the
    * plan, audited). Value-equal to the trained [[annIvfPq]] from a
    * fresh session (spec-pinned), because every stored coordinate is
    * the exact decimal the training kernels used.
    */
  /** Builds the COMPLETE durable index (coarse + PQ halves) under a
    * corpus-fingerprinted root in the JVM temp dir and returns the
    * root, writing at most once per (corpus, JVM) — the gate-facing
    * wrapper that lets the `ann_ivf_pq_served` query exercise the
    * whole write-then-read artifact path end to end under the oracle.
    * Production pipelines call [[KMeansCodebook.writeIndex]] +
    * [[writeCodebooks]] directly with a real warehouse path.
    */
  def ensureIndexArtifact(spark: SparkSession, dir: String): String =
    Kernels.buildStore("graft-ann-index", Kernels.inputKey(dir, "embeddings.parquet")) {
      root =>
        KMeansCodebook.writeIndex(spark, dir, root)
        writeCodebooks(spark, dir, root)
    }

  // -------------------------------------------------------------------
  // Index MAINTENANCE under ingest — the missing refresh path between
  // "train once, serve many" and "retrain per corpus release": new
  // vectors are assigned to the EXISTING trained cells and PQ-encoded
  // with the EXISTING books, and only their rows are appended to the
  // celled stores. The keep-list got exactly this in
  // Dedup.keepMaintain; the index now has its twin.

  /** The history corpus (trains the index) under the `inc:` split. */
  private def histVecBase(spark: SparkSession, dir: String): DataFrame =
    Kernels.fanOut(
      Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .filter(!Dedup.isBatch(col("vec_id"))))

  /** History-corpus memo key — distinct from the full-table keys so
    * the history-trained codebooks never collide with the full-corpus
    * trained ones in the shared training memos.
    */
  private def maintKey(dir: String): (String, String) = {
    val ek = Kernels.inputKey(dir, "embeddings.parquet")
    (s"ann-maintain:${ek._1}", ek._2)
  }

  /** Builds the history-trained durable index, then MAINTAINS it with
    * the ingest batch: batch vectors are assigned to the frozen coarse
    * cells ([[KMeansCodebook.assign]] with the ARTIFACT codebook — the
    * exact decimals training used, so maintained assignment ==
    * one-shot assignment bit-for-bit), PQ-encoded with the artifact
    * books, and their (assignment, codes) rows APPENDED into the
    * celled parquet layout. Nothing is retrained; no history row is
    * rewritten; per-ingest cost is batch-sized map-only work plus an
    * append of batch-sized partitions — the 100 TB maintenance story.
    *
    * EXACTNESS: given frozen codebooks, each vector's cell and codes
    * are independent of every other vector, so the maintained store
    * EQUALS the store of "train on history, encode the union corpus"
    * — which is what the oracle replays.
    */
  /** Trains on the HISTORY slice and writes the full celled artifact
    * (cells, codebooks, history assignments + codes) to `root` — the
    * build half of maintenance, shared by the batch query and the
    * streaming twin.
    */
  private[graft] def writeHistoryTrainedIndex(
      spark: SparkSession, dir: String, root: String): Unit = {
    val key = maintKey(dir)
    val hb = Kernels.cacheTracked(histVecBase(spark, dir))
    KMeansCodebook.writeIndexOn(spark, key, hb, root)
    writeCodebooksOn(spark, key, subBaseOf(hb),
      KMeansCodebook.assignmentOn(spark, key, hb), root)
  }

  /** One ingest batch's frozen-codebook append into the maintained
    * store at `root`: assign to the ARTIFACT coarse cells (the exact
    * decimals training used, so maintained assignment == one-shot
    * assignment bit-for-bit), PQ-encode with the artifact books,
    * append only the batch's rows into the celled layout. Per-vector
    * independent given frozen codebooks, so appends commute — any
    * micro-batching of the same rows builds the same store.
    */
  private[graft] def appendBatchToIndex(batch: DataFrame, root: String): Unit =
    appendBatchToIndex(batch, root, root)

  /** The layered form: codebooks are read from `codebookRoot` (the
    * immutable trained BASE), rows are appended under `writeRoot` —
    * the same dir for in-place maintenance, a separate DELTA layer for
    * the streaming maintainer (the base is shared and never written;
    * the serve path unions the layers — the LSM shape the compaction
    * pass later folds flat).
    */
  private[graft] def appendBatchToIndex(
      batch: DataFrame, codebookRoot: String, writeRoot: String): Unit = {
    val spark = batch.sparkSession
    val b = batch
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val bAssign = KMeansCodebook
      .assign(spark, b, KMeansCodebook.codebookFromArtifact(spark, codebookRoot))
      .select(col("vec_id"), col("cluster"))
      .localCheckpoint() // consumed twice (write + codes join); batch-sized
    try {
      bAssign.write.mode("append").partitionBy("cluster")
        .parquet(s"$writeRoot/assignment")
      assign(spark, subBaseOf(b), booksFromArtifact(spark, codebookRoot))
        .select(col("vec_id"), col("ss"), col("code"))
        .join(bAssign, "vec_id")
        .write.mode("append").partitionBy("cluster").parquet(s"$writeRoot/codes")
    } finally {
      // both consumers are done — free the checkpoint blocks NOW
      // (Dataset.unpersist is a no-op on checkpoints; a long stream of
      // batches would otherwise stack one batch-sized frame per call)
      Kernels.checkpointRddId(bAssign)
        .foreach(Kernels.releaseCheckpoint(spark.sparkContext, _))
    }
  }

  /** Memoized HISTORY-ONLY artifact (trained stores, no batch rows) —
    * the immutable base layer the streaming maintainer layers per-call
    * deltas over. Built once per (corpus, JVM); never written again.
    */
  private[graft] def ensureHistoryArtifact(spark: SparkSession, dir: String): String =
    Kernels.buildStore("graft-ann-hist", maintKey(dir))(
      writeHistoryTrainedIndex(spark, dir, _))

  /** [[annIvfPqFrom]] over a LAYERED store: codebooks and probe cells
    * from the immutable `base`, candidate codes from the UNION of the
    * base's and the delta's celled code tables. Row-identical to
    * serving a single merged store — layering changes which files hold
    * a row, never the rows.
    */
  private[graft] def annIvfPqFromLayers(
      spark: SparkSession, dir: String, base: String, delta: String): DataFrame = {
    val cb = KMeansCodebook.codebookFromArtifact(spark, base)
    val pcells = KMeansCodebook.probeCellsOf(
      spark, dir, cb, Similarity.NumProbes, Similarity.KmProbeCells)
    val probed = pcells.select("pcluster").distinct().collect().map(_.getLong(0))
    // one read per layer (multi-root partition discovery conflicts),
    // pruned per layer, then unioned by name
    val codes = Seq(s"$base/codes", s"$delta/codes")
      .map(p => spark.read.parquet(p)
        .filter(col("cluster").isin(probed: _*))
        .withColumn("cluster", col("cluster").cast("long"))
        .select("vec_id", "ss", "code", "cluster"))
      .reduce(_ unionByName _)
    ivfPqSearch(spark, dir, codes, pcells,
      adcTableOf(spark, dir, booksFromArtifact(spark, base)))
  }

  private[graft] def ensureMaintainedArtifact(spark: SparkSession, dir: String): String =
    Kernels.buildStore("graft-ann-maint", maintKey(dir)) { root =>
      writeHistoryTrainedIndex(spark, dir, root)
      // --- the maintenance step: frozen-codebook ingest of the batch
      appendBatchToIndex(
        Tables.embeddings(spark, dir)
          .filter(Dedup.isBatch(col("vec_id"))), root)
    }

  /** Compacts a maintained celled artifact into a self-contained twin
    * at `root/compact` — the index's consolidation step: every ingest
    * appends one batch-sized file set into each touched cluster
    * directory, so a store under steady ingest accumulates files
    * per-ingest forever (the same small-files death the search
    * postings and sketch stores had). The rewrite repartitions each
    * celled table on its partition column so every cluster directory
    * holds ONE file — bounding the store at |clusters| files whatever
    * the ingest cadence — while preserving the cluster layout the
    * serve path's static probed-cell pruning rides. The two codebook
    * tables are tiny single-file frames, rewritten so the compacted
    * root serves standalone. Rows move, never change: served ==
    * maintained, same oracle.
    */
  private[graft] def compactIndexStore(spark: SparkSession, root: String): String = {
    val croot = s"$root/compact"
    Seq("assignment", "codes").foreach { t =>
      spark.read.parquet(s"$root/$t")
        .repartition(col("cluster"))
        .write.mode("overwrite").partitionBy("cluster").parquet(s"$croot/$t")
    }
    Seq("coarse_codebook", "pq_codebooks").foreach { t =>
      spark.read.parquet(s"$root/$t")
        .coalesce(1).write.mode("overwrite").parquet(s"$croot/$t")
    }
    croot
  }

  private[graft] def ensureCompactedIndex(spark: SparkSession, dir: String): String =
    Kernels.memo("ann-compact", maintKey(dir))(
      compactIndexStore(spark, ensureMaintainedArtifact(spark, dir)))

  /** `ann_ivf_pq_compact`: the probe batch served from the COMPACTED
    * maintained index — [[annIvfPqFrom]] unchanged against the
    * consolidated store, gated by the same oracle as the maintain
    * twins (compaction is invisible to the answer; the file-count
    * bound is `StoreCompactionSpec`'s job).
    */
  def annIvfPqCompact(spark: SparkSession, dir: String): DataFrame =
    annIvfPqFrom(spark, dir, ensureCompactedIndex(spark, dir))

  /** `ann_ivf_pq_maintain`: the probe batch served from the MAINTAINED
    * index — history-trained codebooks, batch rows appended by
    * [[ensureMaintainedArtifact]], the standard [[annIvfPqFrom]] serve
    * path (static partition pruning over probed cells) against the
    * union store. The oracle replays train-on-history +
    * encode-the-union in SQL; maintained == that, exactly.
    */
  def annIvfPqMaintain(spark: SparkSession, dir: String): DataFrame =
    annIvfPqFrom(spark, dir, ensureMaintainedArtifact(spark, dir))

  def annIvfPqFrom(spark: SparkSession, dir: String, path: String): DataFrame =
    annIvfPqFrom(spark, dir, path, Similarity.KmProbeCells)

  /** [[annIvfPqFrom]] with the nprobe knob exposed — the serve-time
    * recall/latency trade ([[annIvfPq]]'s measured curve): a higher
    * nprobe reads more cell directories, nothing is retrained or
    * rewritten.
    */
  def annIvfPqFrom(
      spark: SparkSession, dir: String, path: String, nprobe: Int): DataFrame = {
    val cb = KMeansCodebook.codebookFromArtifact(spark, path)
    val pcells = KMeansCodebook.probeCellsOf(
      spark, dir, cb, Similarity.NumProbes, nprobe)
    // probed cells: bounded driver-side collect (≤ K distinct values) —
    // the static filter is what turns "scan the code table" into "read
    // the probed cells' partition directories"
    val probed = pcells.select("pcluster").distinct().collect().map(_.getLong(0))
    val codes = spark.read.parquet(s"$path/codes")
      .filter(col("cluster").isin(probed: _*))
      .withColumn("cluster", col("cluster").cast("long"))
    ivfPqSearch(spark, dir, codes, pcells,
      adcTableOf(spark, dir, booksFromArtifact(spark, path)))
  }

  // -------------------------------------------------------------------
  // FLAGSHIP #3 — `pipeline_index`: the corpus-to-index build+serve
  // chain a production vector store runs on every corpus release.

  /** The index pipeline's corpus: embeddings of the documents the
    * near-dup keep-list retains (vec_id ≡ doc_id in this schema) —
    * duplicates never enter the index, so a probe can't burn its
    * shortlist on n copies of one page. One broadcast-able semi-join
    * (the keep-list is representative-per-cluster sized); the corpus
    * side streams.
    */
  private def pipeBase(spark: SparkSession, dir: String): DataFrame =
    Kernels.memoUntilRetire("pipe-base", pipeKey(dir))(
      Kernels.fanOut(
        Tables.embeddings(spark, dir)
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
          .join(Dedup.keepIds(spark, dir).select(col("doc_id").as("vec_id")),
            Seq("vec_id"), "left_semi")))

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

  /** Builds the COMPLETE durable index over the keep-filtered corpus
    * (coarse cells + assignment + PQ codebooks + celled codes — the
    * [[KMeansCodebook.writeIndex]]/[[writeCodebooks]] layout) under a
    * fingerprinted root, once per (corpus, JVM); returns the root.
    */
  private[graft] def ensurePipelineArtifact(spark: SparkSession, dir: String): String = {
    val key = pipeKey(dir)
    Kernels.buildStore("graft-pipe-index", key) { root =>
      val base = pipeBase(spark, dir)
      KMeansCodebook.writeIndexOn(spark, key, base, root)
      writeCodebooksOn(spark, key, subBaseOf(base),
        KMeansCodebook.assignmentOn(spark, key, base), root)
    }
  }

  /** `pipeline_index` — FLAGSHIP #3, the index release pipeline as ONE
    * declarative chain: near-dup keep-list → surviving embeddings →
    * trained coarse cells + PQ codebooks over THAT corpus → durable
    * parquet artifact ([[KMeansCodebook.writeIndex]] +
    * [[writeCodebooks]] layout under one root) → one probe batch
    * served FROM the artifact (top-[[Similarity.TopK]] per surviving
    * probe, IVFPQ + exact rerank).
    *
    * Composition notes: stage 1 is [[Dedup.keepIds]] (the
    * representative set of the ngram-Jaccard near-dup components —
    * exactly what the durable keep-list artifact stores); training
    * reuses the [[KMeansCodebook]]/[[trainedBooksOn]] kernels verbatim
    * on the filtered corpus (init = first K/[[PqK]] SURVIVORS by id,
    * the oracle's rank-form init); serving is the
    * [[annIvfPqFrom]] read path — coarse codebook and PQ books to the
    * driver (index-metadata-sized), probed cell ids as a static
    * partition filter on the celled code table, ADC + exact rerank
    * against surviving floats only.
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
    val root = ensurePipelineArtifact(spark, dir)
    val base = pipeBase(spark, dir)
    val cb = KMeansCodebook.codebookFromArtifact(spark, root)
    val pcells = KMeansCodebook.probeCellsFromBase(
      spark, base, cb, Similarity.NumProbes, Similarity.KmProbeCells)
    val probed = pcells.select("pcluster").distinct().collect().map(_.getLong(0))
    val codes = spark.read.parquet(s"$root/codes")
      .filter(col("cluster").isin(probed: _*))
      .withColumn("cluster", col("cluster").cast("long"))
    ivfPqSearchOn(spark, base, codes, pcells,
      adcTableFromBase(spark, subBaseOf(base), booksFromArtifact(spark, root)))
  }
}
