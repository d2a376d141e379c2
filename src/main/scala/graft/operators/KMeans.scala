package graft.operators

import java.math.{BigDecimal => JBig, RoundingMode}

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** The exact-decimal Lloyd kernel and the trained k-means codebook over
  * the `embeddings` table (north star; the reference has no similarity
  * operators) — the real codebook-training step that
  * [[Similarity.annIvf]]'s static sign-random-projection cells
  * deliberately avoid, and the canonical ITERATIVE Spark workload:
  * Lloyd's algorithm, unrolled a fixed number of rounds.
  *
  * The kernel is the only copy of the job. It trains, assigns and
  * measures over (vec_id, ss, v) rows, where `ss` names a subspace with
  * its own entries: k-means is the one-subspace case ([[oneSpace]]:
  * `ss` = 0 as a projected literal, the vector unsliced), and product
  * quantization ([[ProductQuant]]) passes each vector's subspace slices
  * — PQ is k-means run once per subspace.
  *
  * Execution shape per Lloyd round — the MLlib `KMeans` shape:
  *  1. the books (tiny, fixed size) are COLLECTED to the driver and
  *     shipped inside the task closure — the corpus itself never moves;
  *  2. a round is ONE single-stage fold job ([[lloydRound]]): each task
  *     assigns its rows by the same argmin [[assign]] uses and folds
  *     exact per-(ss, cluster) member counts and coordinate sums, and
  *     `treeAggregate` merges the books-sized partials on the driver —
  *     no Catalyst plan, exchange or codegen per round. At scale the
  *     fold adds a tree level, so the driver merges O(√partitions)
  *     partials, never a corpus-sized result.
  * The only driver-side data is the books (independent of corpus
  * size) — the same contract as broadcasting MLlib cluster centers;
  * per-row work stays distributed.
  *
  * Determinism / oracle parity (the interesting part — a naive double
  * formulation is irreproducible because both the assignment argmin
  * and the centroid mean depend on float summation order):
  *  - init: centroids = the first k vectors by `vec_id` (no RNG);
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
    * BigDecimal, HALF_UP at scale 9 — the one fix of every coordinate
    * the kernel compares (a stored DECIMAL(18,9) is already fixed).
    */
  private def dec9(d: JBig): JBig = d.setScale(9, RoundingMode.HALF_UP)
  private def dec9(d: Double): JBig = dec9(JBig.valueOf(d))

  /** Books per subspace: ss -> (cluster, fixed centroid coordinates),
    * sorted by cluster. A k-means codebook holds `ss` = 0 only.
    */
  private[operators] type Books = Map[Long, Array[(Long, Array[JBig])]]

  /** One corpus the kernel indexes. `key` names the memo entries of its
    * codebook, books, assignment and codes; `scan` is its unpinned
    * (vec_id, v) frame, which probes, ADC tables and reranks read (each
    * access reads the table again, which under the memoized schema of
    * `Tables.parquet` costs a file listing, not a job);
    * `vectors` is the frame training and assignment read, under the
    * corpus's own pin. `vectors` is built on first use, so a memo hit
    * pins nothing.
    */
  private[operators] final class Corpus(
      val key: (String, String), scanOf: => DataFrame, pinned: => DataFrame) {
    def scan: DataFrame = scanOf
    lazy val vectors: DataFrame = pinned
  }

  /** A table's (vec_id, v): its `embedding` column as array<double>. */
  private[operators] def vectorsOf(table: DataFrame): DataFrame =
    table.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))

  /** The full `embeddings` corpus, pinned with memoCache, not
    * cacheTracked: the pinned frame is only built inside the
    * globally-memoized train/assign miss paths, which can fire on the
    * STREAM-EXECUTION thread (foreachBatch → appendBatchToKnn →
    * cappedCelledIndex → lastAssignment) — a thread whose per-thread
    * registry scope no query thread ever retires. Its lifetime is the
    * memo's, exactly like the assignment frame it feeds, so it drains
    * globally with its until-retire memo entry.
    */
  private[operators] def embeddings(spark: SparkSession, dir: String): Corpus = {
    def scan = vectorsOf(Tables.embeddings(spark, dir))
    new Corpus(Kernels.inputKey(dir, "embeddings.parquet"), scan,
      Kernels.memoCache(Kernels.fanOut(scan)))
  }

  /** k-means rows: one subspace, `ss` = 0, the vector unsliced. */
  private[operators] def oneSpace(df: DataFrame): DataFrame = df.withColumn("ss", lit(0L))

  private def rowsOf(rows: DataFrame) = {
    val spark = rows.sparkSession
    import spark.implicits._
    rows.select("vec_id", "ss", "v").as[(Long, Long, Seq[Double])]
  }

  /** Exact-decimal squared L2 between a fixed vector and a centroid,
    * rounded to 6dp — the one distance of assignment, probe-cell
    * selection and ADC tables.
    */
  private def d6(xd: Array[JBig], cent: Array[JBig], id: Long): JBig = {
    // a ragged vector silently truncating the distance loop would mask
    // data corruption with a plausible-looking assignment
    require(xd.length == cent.length,
      s"vec_id=$id dim ${xd.length} != codebook dim ${cent.length}")
    var s = JBig.ZERO
    var j = 0
    while (j < cent.length) {
      val diff = xd(j).subtract(cent(j))
      s = s.add(diff.multiply(diff))
      j += 1
    }
    s.setScale(6, RoundingMode.HALF_UP)
  }

  /** The nearest of a subspace's `entries` to a fixed vector by [[d6]],
    * ties to the lowest cluster id — the one argmin of [[assign]] and
    * of every Lloyd round.
    */
  private def argmin(xd: Array[JBig], entries: Array[(Long, Array[JBig])], id: Long): Long = {
    var bestC = Long.MaxValue
    var bestD: JBig = null
    entries.foreach { case (c, cent) =>
      val d = d6(xd, cent, id)
      val cmp = if (bestD == null) -1 else d.compareTo(bestD)
      if (cmp < 0 || (cmp == 0 && c < bestC)) { bestD = d; bestC = c }
    }
    bestC
  }

  /** Map-only assignment (vec_id, ss, cluster, v): each row to its
    * subspace's nearest entry by [[argmin]]. The books ride the task
    * closure.
    */
  private[operators] def assign(rows: DataFrame, books: Books): DataFrame = {
    val spark = rows.sparkSession
    import spark.implicits._
    rowsOf(rows).mapPartitions { it =>
      it.map { case (id, ss, v) => (id, ss, argmin(v.map(x => dec9(x)).toArray, books(ss), id), v) }
    }.toDF("vec_id", "ss", "cluster", "v")
  }

  /** Each row's `keep` nearest entries of its subspace (vec_id, ss,
    * cluster, d), nearest first, ties to the lowest cluster id: probe
    * cells keep the nearest few, an ADC table keeps every entry. Probe
    * batches are query-sized, so this is a filtered scan and a tiny
    * flatMap — no shuffle.
    */
  private[operators] def nearest(rows: DataFrame, books: Books, keep: Int): DataFrame = {
    val spark = rows.sparkSession
    import spark.implicits._
    rowsOf(rows).flatMap { case (id, ss, v) =>
      val xd = v.map(x => dec9(x)).toArray
      books(ss).map { case (c, cent) => (d6(xd, cent, id), c) }
        .sortWith { case ((d1, c1), (d2, c2)) =>
          val cmp = d1.compareTo(d2); cmp < 0 || (cmp == 0 && c1 < c2)
        }
        .take(keep).map { case (d, c) => (id, ss, c, d) }
    }.toDF("vec_id", "ss", "cluster", "d")
  }

  /** One cluster's members in a Lloyd fold: how many, and the exact
    * sum of their fixed coordinates (decimal addition is exact, so the
    * sum is order-independent).
    */
  private final class Members(dim: Int) extends Serializable {
    var n = 0L
    val sx: Array[JBig] = Array.fill(dim)(JBig.ZERO)
    def add(k: Long, xs: Array[JBig]): Members = {
      n += k
      for (j <- sx.indices) sx(j) = sx(j).add(xs(j))
      this
    }
    /** Spark's `round(cast(sum as double) / n, 6)` per dim — `Decimal.toDouble`
      * is `BigDecimal.doubleValue` (see [[Similarity.labelCentroids]]).
      */
    def means: Array[Double] = sx.map(s => Kernels.r6(s.doubleValue / n))
  }

  /** One Lloyd round as ONE single-stage fold job: each row goes to its
    * subspace's nearest entry by [[argmin]], and each task folds the
    * per-(ss, cluster) [[Members]]; `treeAggregate` merges the
    * books-sized partials on the driver. Sorted by (ss, cluster); a
    * cluster no row chose is absent — it drops out.
    */
  private def lloydRound(rows: RDD[(Long, Long, Seq[Double])], books: Books)
      : Seq[((Long, Long), Members)] =
    rows.treeAggregate(mutable.HashMap.empty[(Long, Long), Members])(
      (acc, row) => {
        val (id, ss, v) = row
        val xd = v.map(x => dec9(x)).toArray
        acc.getOrElseUpdate((ss, argmin(xd, books(ss), id)), new Members(xd.length)).add(1, xd)
        acc
      },
      (a, b) => {
        b.foreach { case (k, m) => a(k) = a.get(k).fold(m)(_.add(m.n, m.sx)) }
        a
      })
      .toSeq.sortBy(_._1)

  /** Books from a [[lloydRound]]'s means, re-fixed to DECIMAL(18,9). */
  private def booksOf(round: Seq[((Long, Long), Members)]): Books =
    round.groupBy(_._1._1).map { case (ss, es) =>
      ss -> es.map { case ((_, c), m) => (c, m.means.map(x => dec9(x))) }.toArray
    }

  /** Books from (ss, cluster, dim, c) rows, `c` a trained double or a
    * stored DECIMAL(18,9).
    */
  private def collectBooks(cent: DataFrame): Books =
    cent.select("ss", "cluster", "dim", "c").collect()
      .groupBy(_.getLong(0))
      .map { case (ss, rows) =>
        ss -> rows.groupBy(_.getLong(1)).map { case (c, rs) =>
          (c, rs.sortBy(_.getLong(2)).map(_.get(3) match {
            case d: JBig => dec9(d)
            case d: Double => dec9(d)
          }))
        }.toArray.sortBy(_._1)
      }

  /** The Lloyd trainer over `split` of the corpus, memoized under
    * (`kind`, corpus key). Init is the first `k` corpus vectors by
    * `vec_id` — a TakeOrdered, which on the dense-id full table selects
    * exactly the `vec_id < k` rows the oracle's rank-form init CTE
    * mirrors, and on a keep-filtered corpus the first `k` SURVIVORS —
    * split like every other row. Training is deterministic, so the
    * books are memoized for the session — the train-once contract of a
    * fitted MLlib model.
    */
  private[operators] def train(kind: String, corpus: Corpus, k: Int,
      split: DataFrame => DataFrame): Books =
    Kernels.memo(kind, corpus.key) {
      var books = collectBooks(split(corpus.vectors.orderBy("vec_id").limit(k))
        .select(col("ss"), col("vec_id").as("cluster"),
          posexplode(col("v")).as(Seq("pos", "c")))
        .withColumn("dim", (col("pos") + 1).cast("long")))
      val rows = rowsOf(split(corpus.vectors)).rdd
      for (_ <- 1 until LloydIters)
        books = booksOf(lloydRound(rows, books))
      books
    }

  /** The corpus's trained k-means codebook. */
  private[operators] def codebook(corpus: Corpus): Books =
    train("kmeans-codebook", corpus, K, oneSpace)

  /** The corpus's FINAL assignment (vec_id, cluster, v), memoized under
    * the codebook's key, so a corpus is trained once and assigned once
    * regardless of entry point. The CACHED frame lives until the next
    * Kernels.retireCaches: [[clusterBalancedSample]] samples it and the
    * IVF searches search it, paying the distributed assignment scan
    * once, not per query.
    */
  private[operators] def lastAssignment(corpus: Corpus): DataFrame =
    Kernels.memoUntilRetire("kmeans-assign", corpus.key)(
      assign(oneSpace(corpus.vectors), codebook(corpus)).drop("ss"))

  /** [[lastAssignment]] of the full `embeddings` corpus. */
  private[graft] def lastAssignment(spark: SparkSession, dir: String): DataFrame =
    lastAssignment(embeddings(spark, dir))

  /** Top-`nProbe` nearest cells (probe_id, pcluster) of `cb` for each
    * probe (`vec_id` < [[Similarity.NumProbes]]) of a (vec_id, v) frame.
    */
  private[operators] def probeCells(probes: DataFrame, cb: Books, nProbe: Int): DataFrame =
    nearest(oneSpace(probes.filter(col("vec_id") < Similarity.NumProbes)), cb, nProbe)
      .select(col("vec_id").as("probe_id"), col("cluster").as("pcluster"))

  /** Writes books as one single-file (ss, cluster, dim, c) table with
    * `c` DECIMAL(18,9): the exact coordinates the kernel compares, so a
    * serving session reproduces every distance bit for bit.
    */
  private[operators] def writeBooks(spark: SparkSession, books: Books, path: String): Unit = {
    import spark.implicits._
    books.toSeq.flatMap { case (ss, entries) =>
        entries.toSeq.flatMap { case (c, coords) =>
          coords.toSeq.zipWithIndex.map { case (x, i) => (ss, c, (i + 1).toLong, x.toPlainString) }
        }
      }
      .toDF("ss", "cluster", "dim", "c_str")
      .select(col("ss"), col("cluster"), col("dim"), col("c_str").cast("decimal(18,9)").as("c"))
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** A [[writeBooks]] table back as books — no training, no memo.
    * DECIMAL(18,9) round-trips parquet exactly, so these equal the
    * training session's books.
    */
  private[operators] def readBooks(spark: SparkSession, path: String): Books =
    collectBooks(Tables.parquet(spark, path))

  /** `kmeans_centroids`: the trained codebook after [[LloydIters]]
    * Lloyd rounds from the deterministic init, with each cluster's
    * final member count — one [[lloydRound]] fold of the corpus scan
    * under the memoized codebook, sorted by (cluster, dim) on the
    * driver. A cluster that loses every member simply drops out
    * (deterministically — no re-seeding).
    */
  def centroids(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val corpus = embeddings(spark, dir)
    lloydRound(rowsOf(oneSpace(corpus.scan)).rdd, codebook(corpus))
      .flatMap { case ((_, c), m) =>
        m.means.zipWithIndex.map { case (x, j) => (c, (j + 1).toLong, m.n, x) }
      }
      .toDF("cluster", "dim", "n_members", "c")
  }

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
