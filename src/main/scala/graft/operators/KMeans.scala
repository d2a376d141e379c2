package graft.operators

import java.math.{BigDecimal => JBig, RoundingMode}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Trained k-means codebook over the `embeddings` table (north star;
  * the reference has no similarity operators) — the real
  * codebook-training step that [[Similarity.annIvf]]'s static
  * sign-random-projection cells deliberately avoid, and the canonical
  * ITERATIVE Spark workload: Lloyd's algorithm, unrolled a fixed
  * number of rounds.
  *
  * Execution shape per Lloyd round — the MLlib `KMeans` shape:
  *  1. the K×dim codebook (tiny, fixed size) is COLLECTED to the
  *     driver and shipped inside the assignment task closure — the
  *     corpus itself never moves for assignment, which runs as a
  *     map-only typed kernel (argmin over K exact-decimal distances);
  *  2. centroid recomputation is one combiner-friendly aggregate on
  *     (cluster, dim): partial sums on the map side mean the exchange
  *     carries K·dim rows per map task, never a corpus-sized shuffle.
  * The only driver-side data is the codebook (K·dim values per round,
  * independent of corpus size) — the same contract as broadcasting
  * MLlib cluster centers; per-row work stays distributed.
  *
  * Determinism / oracle parity (the interesting part — a naive double
  * formulation is irreproducible because both the assignment argmin
  * and the centroid mean depend on float summation order):
  *  - init: centroids = the first [[K]] vectors by `vec_id` (no RNG);
  *  - coordinates are fixed to DECIMAL(18,9) (Spark's HALF_UP
  *    double→decimal cast == `BigDecimal.valueOf(d).setScale(9)`, both
  *    mirrored by DuckDB's cast), so squared-L2 distances are EXACT
  *    decimals — the argmin (rounded to 6dp, ties → lowest cluster id)
  *    is order-independent and engine-independent;
  *  - centroid means divide an exact decimal sum as double and round
  *    to 6dp (the [[Similarity.labelCentroids]] contract), then
  *    re-fix to DECIMAL(18,9) for the next round's distances.
  * The DuckDB oracle replays the identical [[LloydIters]]-round
  * computation as chained CTEs.
  */
object KMeansCodebook {

  val K = 8
  val LloydIters = 2 // assign+recompute rounds after init

  /** Spark's Cast(double → decimal(18,9)) semantics: shortest-repr
    * BigDecimal, HALF_UP at scale 9.
    */
  private def dec9(d: Double): JBig =
    JBig.valueOf(d).setScale(9, RoundingMode.HALF_UP)

  private[operators] type Codebook = Array[(Long, Array[JBig])]

  /** Map-only assignment: each vector to its nearest codebook entry by
    * exact-decimal squared L2, rounded to 6dp, ties to the lowest
    * cluster id. The codebook rides the task closure (K·dim values).
    */
  private[operators] def assign(spark: SparkSession, base: DataFrame, cb: Codebook): DataFrame = {
    import spark.implicits._
    base.as[(Long, Seq[Double])].mapPartitions { it =>
      it.map { case (id, v) =>
        val xd = new Array[JBig](v.length)
        var i = 0
        while (i < v.length) { xd(i) = dec9(v(i)); i += 1 }
        var bestC = Long.MaxValue
        var bestD: JBig = null
        cb.foreach { case (c, cent) =>
          // a ragged vector silently truncating the distance loop would
          // mask data corruption with a plausible-looking assignment
          require(xd.length == cent.length,
            s"vec_id=$id dim ${xd.length} != codebook dim ${cent.length}")
          var s = JBig.ZERO
          var j = 0
          val n = cent.length
          while (j < n) {
            val diff = xd(j).subtract(cent(j))
            s = s.add(diff.multiply(diff))
            j += 1
          }
          val d6 = s.setScale(6, RoundingMode.HALF_UP)
          val cmp = if (bestD == null) -1 else d6.compareTo(bestD)
          if (cmp < 0 || (cmp == 0 && c < bestC)) { bestD = d6; bestC = c }
        }
        (id, bestC, v)
      }
    }.toDF("vec_id", "cluster", "v")
  }

  /** One combiner-friendly aggregate: per-(cluster, dim) member count
    * and exact decimal coordinate sum; the mean divides as double and
    * rounds to 6dp (order-independent — see [[Similarity.labelCentroids]]).
    */
  private def recompute(assigned: DataFrame): DataFrame =
    assigned
      .select(col("cluster"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col("cluster"), (col("pos") + 1).cast("long").as("dim"))
      .agg(count(lit(1)).as("n_members"),
           sum(col("x").cast("decimal(18,9)")).as("sx"))
      .select(col("cluster"), col("dim"), col("n_members"),
        round(col("sx").cast("double") / col("n_members"), 6).as("c"))

  private def collectCodebook(cent: DataFrame): Codebook =
    cent.select("cluster", "dim", "c").collect()
      .groupBy(_.getLong(0))
      .map { case (c, rows) =>
        (c, rows.sortBy(_.getLong(1)).map(r => dec9(r.getDouble(2))))
      }
      .toArray.sortBy(_._1)

  // memoCache, not cacheTracked: this frame is only built (lazily, by
  // name) inside the globally-memoized trainedCodebookOn/assignmentOn
  // miss paths, which can fire on the STREAM-EXECUTION thread
  // (foreachBatch → appendBatchToKnn → cappedCelledIndex →
  // lastAssignment) — a thread whose per-thread registry scope no
  // query thread ever retires. Its lifetime is the memo's, exactly
  // like the assignment frame it feeds, so it drains globally with
  // its until-retire memo entry.
  private def embeddingBase(spark: SparkSession, dir: String): DataFrame =
    Kernels.memoCache(Kernels.fanOut(
      Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))))

  /** The Lloyd trainer over an EXPLICIT corpus frame (vec_id, v),
    * memoized under `key` — the full-table path and the keep-filtered
    * [[graft.operators.ProductQuant.pipelineIndex]] corpus share every
    * kernel; only the corpus (and so the memo key) differs. Init is
    * the first [[K]] corpus vectors by `vec_id` — a TakeOrdered, which
    * on the dense-id full table selects exactly the `vec_id < K` rows
    * the oracle's rank-form init CTE mirrors. `base` is by-name: it is
    * only built (and only registers its cache) on a memo miss.
    * Training is deterministic, so the codebook (K·dim values) is
    * memoized for the session — the train-once contract of a fitted
    * MLlib model.
    */
  private[operators] def trainedCodebookOn(
      spark: SparkSession, key: (String, String), base: => DataFrame): Codebook =
    Kernels.memo("kmeans-codebook", key) {
      import spark.implicits._
      val b = base
      var cb: Codebook = b.orderBy("vec_id").limit(K).as[(Long, Seq[Double])]
        .collect()
        .map { case (id, v) => (id, v.map(dec9).toArray) }
        .sortBy(_._1)
      for (_ <- 1 until LloydIters)
        cb = collectCodebook(recompute(assign(spark, b, cb)))
      cb
    }

  private def trainedCodebook(spark: SparkSession, dir: String): Codebook =
    trainedCodebookOn(spark, Kernels.inputKey(dir, "embeddings.parquet"),
      embeddingBase(spark, dir))

  /** Top-`nProbe` nearest codebook cells for each of the first
    * `nProbes` vectors — the probe-selection half of
    * [[Similarity.annIvfKmeans]]: the same exact-decimal distance and
    * lowest-cluster tie-break as [[assign]], keeping the `nProbe` best
    * cells instead of only the argmin. Probe count is query-sized, so
    * this is a filtered scan + tiny flatMap — no shuffle.
    */
  private[operators] def probeCells(
      spark: SparkSession, dir: String, nProbes: Int, nProbe: Int): DataFrame =
    probeCellsOf(spark, dir, trainedCodebook(spark, dir), nProbes, nProbe)

  /** [[probeCells]] against an EXPLICIT codebook — the serve path: a
    * consumer session reads the trained codebook from a [[writeIndex]]
    * artifact instead of retraining ([[codebookFromArtifact]]).
    */
  private[operators] def probeCellsOf(
      spark: SparkSession, dir: String, cb: Codebook,
      nProbes: Int, nProbe: Int): DataFrame =
    probeCellsFromBase(spark,
      Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v")),
      cb, nProbes, nProbe)

  /** [[probeCellsOf]] with the probe universe passed explicitly — the
    * keep-filtered pipeline index probes only SURVIVING vectors, so
    * its probe batch is `vec_id < nProbes` within its own corpus.
    */
  private[operators] def probeCellsFromBase(
      spark: SparkSession, probeBase: DataFrame, cb: Codebook,
      nProbes: Int, nProbe: Int): DataFrame = {
    import spark.implicits._
    probeBase
      .filter(col("vec_id") < nProbes)
      .as[(Long, Seq[Double])]
      .flatMap { case (id, v) =>
        val xd = v.map(dec9).toArray
        cb.map { case (c, cent) =>
          require(xd.length == cent.length,
            s"vec_id=$id dim ${xd.length} != codebook dim ${cent.length}")
          var s = JBig.ZERO
          var j = 0
          while (j < cent.length) {
            val diff = xd(j).subtract(cent(j))
            s = s.add(diff.multiply(diff))
            j += 1
          }
          (s.setScale(6, RoundingMode.HALF_UP), c)
        }.sortWith { case ((d1, c1), (d2, c2)) =>
          val cmp = d1.compareTo(d2); cmp < 0 || (cmp == 0 && c1 < c2)
        }.take(nProbe).map { case (_, c) => (id, c) }.toSeq
      }.toDF("probe_id", "pcluster")
  }

  /** Runs (or reuses) the Lloyd training and returns the FINAL
    * assignment frame (vec_id, cluster, v), cached — [[centroids]]
    * re-aggregates it, [[clusterBalancedSample]] samples it, and
    * [[Similarity.annIvfKmeans]] searches it as the IVF index.
    */
  private[graft] def lastAssignment(spark: SparkSession, dir: String): DataFrame =
    assignmentOn(spark, Kernels.inputKey(dir, "embeddings.parquet"),
      embeddingBase(spark, dir))

  /** [[lastAssignment]] over an explicit corpus frame, memoized under
    * `key` — shares [[trainedCodebookOn]]'s memo key so a corpus is
    * trained once and assigned once regardless of entry point. The
    * CACHED frame lives until the next Kernels.retireCaches, so a query
    * sequence of centroids-then-balanced-sample pays the distributed
    * assignment scan once, not per query.
    */
  private[operators] def assignmentOn(
      spark: SparkSession, key: (String, String), base: => DataFrame): DataFrame =
    Kernels.memoUntilRetire("kmeans-assign", key) {
      val b = base
      assign(spark, b, trainedCodebookOn(spark, key, b))
    }

  /** `kmeans_centroids`: the trained codebook after [[LloydIters]]
    * Lloyd rounds from the deterministic init, with each cluster's
    * final member count. A cluster that loses every member simply
    * drops out (deterministically — no re-seeding).
    */
  def centroids(spark: SparkSession, dir: String): DataFrame =
    recompute(lastAssignment(spark, dir)).orderBy("cluster", "dim")

  val BalancedQuota = 25

  /** `sample_cluster_balanced`: semantic-diversity curation — at most
    * [[BalancedQuota]] vectors per trained k-means cluster, selected
    * by the same salted-md5 rank as [[Sampling.stratifiedSample]] (so
    * selection is reproducible across engines/runs/cluster sizes).
    * Composes the trained codebook with quota sampling: where a plain
    * uniform sample mirrors the corpus' cluster skew, this caps every
    * semantic cluster at the quota.
    *
    * Scale: real k-means cells on real embeddings are SKEWED — a hot
    * cluster can hold most of the corpus, and a plain rank window
    * partitioned by cluster would funnel that whole membership into
    * one task to keep [[BalancedQuota]] rows. So the exact rank window
    * only ever sees a threshold-filtered frame: a bounded `graft_topk`
    * pass (map-side partial, ≤ quota entries per cluster before the
    * exchange) finds each cluster's quota-th smallest 52-bit hash
    * prefix, broadcasts it, and the inclusive prefix filter gates the
    * membership BEFORE the window — [[Sampling.stratifiedSample]]'s
    * lossless construction verbatim (truncation of md5 is monotone, so
    * `prefix ≤ threshold` keeps every row the full-hash rank would,
    * and the exact rank drops prefix-collision stragglers).
    */
  /** Materializes the trained IVF half of the ANN index to `path` —
    * the durable twin of the session memos, completing the
    * train-once/probe-many production story ([[graft.operators.Bpe.writeMergeTable]]'s
    * contract applied to the vector index):
    *
    *  - `path/coarse_codebook`: the K·dim trained centroids as
    *    DECIMAL(18,9) (the exact coordinates the assignment argmin
    *    uses, so a serving session reproduces distances bit-for-bit;
    *    K·dim rows — the single file is deliberate);
    *  - `path/assignment`: every vector's cell id, written PARTITIONED
    *    BY cluster — the IVF storage layout: a probe's candidate read
    *    touches only its probed cells' directories, so the scan cost
    *    scales with nprobe/K of the corpus, not the corpus.
    *
    * Production builds run this once per corpus build; every consumer
    * (a probe service, another JVM, tomorrow's session) reads the
    * artifact instead of retraining — `ann_ivf_pq` served from it in a
    * fresh session is value-equal (spec-pinned).
    */
  def writeIndex(spark: SparkSession, dir: String, path: String): Unit =
    writeIndexOn(spark, Kernels.inputKey(dir, "embeddings.parquet"),
      embeddingBase(spark, dir), path)

  /** [[writeIndex]] for an explicit (key, corpus) — the coarse half of
    * the keep-filtered [[graft.operators.ProductQuant.pipelineIndex]]
    * artifact writes through here.
    */
  private[operators] def writeIndexOn(spark: SparkSession,
      key: (String, String), base: => DataFrame, path: String): Unit = {
    import spark.implicits._
    val b = base
    val cb = trainedCodebookOn(spark, key, b)
    cb.toSeq.flatMap { case (c, coords) =>
        coords.zipWithIndex.map { case (x, i) => (c, (i + 1).toLong, x.toPlainString) }
      }
      .toDF("cluster", "dim", "c_str")
      .select(col("cluster"), col("dim"), col("c_str").cast("decimal(18,9)").as("c"))
      .coalesce(1).write.mode("overwrite").parquet(s"$path/coarse_codebook")
    assignmentOn(spark, key, b)
      .select(col("vec_id"), col("cluster"))
      .write.mode("overwrite").partitionBy("cluster").parquet(s"$path/assignment")
  }

  /** Reads a [[writeIndex]] artifact back as DataFrames — (codebook,
    * assignment), no training, no memo, serveable from any session
    * that can read the path. The assignment's partition column comes
    * back as the inferred partition type; it is re-cast to long so
    * consumers see the training-session schema.
    */
  def indexFrom(spark: SparkSession, path: String): (DataFrame, DataFrame) = (
    spark.read.parquet(s"$path/coarse_codebook").orderBy("cluster", "dim"),
    spark.read.parquet(s"$path/assignment")
      .withColumn("cluster", col("cluster").cast("long")))

  /** The artifact's codebook in the exact in-memory form the
    * assignment/probe kernels consume — scale-9 decimals, sorted by
    * cluster then dim. DECIMAL(18,9) round-trips parquet exactly, so
    * this equals the training session's [[trainedCodebook]].
    */
  private[operators] def codebookFromArtifact(
      spark: SparkSession, path: String): Codebook =
    spark.read.parquet(s"$path/coarse_codebook")
      .select("cluster", "dim", "c").collect()
      .groupBy(_.getLong(0))
      .map { case (c, rows) =>
        (c, rows.sortBy(_.getLong(1)).map(_.getDecimal(2).setScale(9)))
      }
      .toArray.sortBy(_._1)

  def clusterBalancedSample(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val assigned = lastAssignment(spark, dir)
      .select(col("vec_id"), col("cluster"),
        md5(concat(lit("cb:"), col("vec_id").cast("string"))).as("h"))
      .withColumn("hv", Sampling.hashPrefix52(col("h")))
    val thresholds = Sampling.prefixQuotaThresholds(
      spark, assigned, "cluster", col("vec_id"), BalancedQuota,
      exhaustive = false)
    val w = Window.partitionBy("cluster").orderBy(col("h"), col("vec_id"))
    assigned.join(broadcast(thresholds), "cluster")
      .filter(col("hv") <= col("hmax"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= BalancedQuota)
      .select(col("cluster"), col("vec_id"), col("rk"))
      .orderBy("cluster", "rk")
  }
}
