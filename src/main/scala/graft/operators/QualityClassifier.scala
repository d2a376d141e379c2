package graft.operators

import java.math.{BigDecimal => JBig, RoundingMode}

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Trained linear quality classifier over the `documents` table — the
  * fastText-style cheap quality head real LLM-data pipelines run
  * (train a linear model on a labeled sample, score the whole corpus
  * map-only), completing the quality family whose other members are
  * all hand-crafted heuristics ([[TextAnalysis.qualityScore]],
  * surprisal, perplexity). Here the labels are a self-distillation of
  * the composite heuristic (y = 1 iff the 4dp quality score ≥ 0.5 —
  * the "distill the expensive judge into a linear head" pattern, with
  * the heuristic standing in for the judge), and the features are the
  * raw per-doc signals the heuristic is built from, so the trained
  * head demonstrably LEARNS (accuracy beats the base rate at every
  * tier — spec-pinned) without any RNG or external labels.
  *
  * Execution shape per training step — the [[KMeansCodebook]] Lloyd
  * idiom applied to batch gradient descent (MLlib's one
  * `treeAggregate` per iteration):
  *  1. the weight vector (5 doubles) rides the task closure;
  *  2. the step is ONE single-stage fold job over the cached feature
  *     frame: each task folds its rows' margin, residual and 5 exact
  *     gradient sums, and `treeAggregate` merges the 5-long partials
  *     on the driver — no Catalyst plan, exchange or codegen per step;
  *  3. the driver applies the update to the tiny weight vector.
  * Corpus never shuffles; per-step cost is one pass over 5 doubles ×
  * corpus. At 100 TB the trainer would subsample the label pass; the
  * scorer is embarrassingly parallel either way.
  *
  * Determinism / oracle parity (the [[KMeansCodebook]] contract,
  * applied to SGD):
  *  - features are 6dp-rounded doubles built from integer token/char
  *    counts via IEEE-exact ops (+ − × ÷ min max are exactly rounded,
  *    so both engines compute identical doubles bit-for-bit);
  *  - the margin z is the fixed left-associated dot product rounded
  *    to 6dp; the link is the HARD sigmoid (clamped linear,
  *    `clamp(0.25·z + 0.5, 0, 1)` — the piecewise-linear sigmoid
  *    quantized inference uses, fastText itself runs a clipped
  *    lookup-table sigmoid) so the whole forward pass stays inside
  *    exactly-rounded arithmetic: no `exp`, whose last-ulp behavior
  *    is engine-specific;
  *  - per-row gradient contributions round to 6dp and sum as
  *    DECIMAL(18,6) scaled integers — order-independent (integer
  *    addition is exact, and `Math.addExact` throws rather than wrap),
  *    and the sum stays far below 2^53 so the final cast to double is
  *    exact in both engines;
  *  - the update divides the decimal sum as double and re-rounds the
  *    weights to 6dp ([[KMeansCodebook]]'s centroid-mean contract);
  *  - class-imbalance is handled by 6dp-rounded inverse-frequency
  *    weights (the corpus is ~80/20, so an unweighted LPM would just
  *    learn the base rate).
  * The DuckDB oracle replays the identical [[Steps]]-step training as
  * chained CTEs; the scored twin and the artifact-served twin are
  * gated by the same differential.
  */
object QualityClassifier {
  import Kernels.r6

  /** Full-batch gradient steps. 8 steps takes the balanced accuracy
    * from the 0.5 coin to ~0.84-0.86 at every tier (plateau — the
    * features are 3 of the label's own components plus one distractor,
    * so the remaining error is the 4dp label-rounding fringe plus the
    * cap nonlinearities a linear head cannot express).
    */
  val Steps = 8

  /** Learning rate. The hard sigmoid's slope (0.25) stays INSIDE the
    * gradient (folded per-row, like the class weight), so this is the
    * plain SGD η; 4.0 converges monotonically where 8.0 oscillates
    * (measured on all three tiers).
    */
  val Eta = 4.0

  /** Hard-sigmoid clamp: p = 0 below −2, 1 above +2, linear between
    * (slope 0.25 crosses 0 and 1 exactly at ∓2).
    */
  val SigLo = -2.0
  val SigHi = 2.0

  /** Fixed feature centering — NOT a data-derived mean (that would be
    * another aggregate and another oracle CTE for no gate value); the
    * raw signals live in [0, 1], so a constant −0.5 shift puts the
    * zero-weight margin at the feature midpoint and roughly triples
    * the convergence rate (measured).
    */
  val Center = 0.5

  /** Per-doc features + label, all 6dp-rounded doubles:
    * x1 = length band − 0.5, x2 = type/token diversity − 0.5,
    * x3 = stopword score − 0.5 (the three [[TextAnalysis.qualityParts]]
    * signals), x4 = char-length band − 0.5 (a distractor the label
    * does NOT use — its trained weight staying small is part of the
    * convergence spec), y = 1 iff the composite 4dp quality ≥ 0.5.
    */
  private[graft] def featureFrame(spark: SparkSession, dir: String): DataFrame =
    featuresOf(Tables.documents(spark, dir))

  /** [[featureFrame]] over an arbitrary documents-shaped frame
    * (doc_id, text, n_chars) — shared with the STREAMING scorer,
    * whose micro-batches must compute bit-identical features.
    */
  private[graft] def featuresOf(documents: DataFrame): DataFrame = {
    val docs = documents
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"),
        col("n_chars"))
    val (lenScore, diversity, stopScore) = TextAnalysis.qualityParts(col("toks"))
    docs.select(
      col("doc_id"),
      round(lenScore - Center, 6).as("x1"),
      round(diversity - Center, 6).as("x2"),
      round(stopScore - Center, 6).as("x3"),
      round(least(col("n_chars").cast("double") / lit(2000.0), lit(1.0)) - Center, 6)
        .as("x4"),
      when(round((lenScore + diversity + stopScore) / lit(3.0), 4) >= 0.5, 1.0)
        .otherwise(0.0).as("y"))
  }

  /** The 6dp-rounded left-associated margin under explicit weights —
    * shared by both scorers so the association order (and so the exact
    * double) is defined once; the trainer's [[addGradient]] replays the
    * same IEEE operations in the same order.
    */
  private def marginOf(w: Array[Double]): Column =
    round(col("x1") * w(0) + col("x2") * w(1) + col("x3") * w(2) +
      col("x4") * w(3) + lit(w(4)), 6)

  /** Hard-sigmoid link over a margin column. */
  private def linkOf(z: Column): Column =
    when(z <= SigLo, 0.0).when(z >= SigHi, 1.0).otherwise(z * 0.25 + 0.5)

  /** One feature row's 5 gradient terms under `w`, added to `acc` as
    * DECIMAL(18,6) unscaled longs — the Spark expressions
    * `round(r * x, 6)` over [[marginOf]] and [[linkOf]], replayed in
    * the same IEEE order. A row with a NULL feature has a NULL margin,
    * so it adds nothing (it still counts in `n`); a row outside the
    * active band `SigLo < z < SigHi` adds zero (the hard sigmoid's
    * slope is 0 there).
    */
  private def addGradient(acc: Array[Long], r: Row, w: Array[Double],
      cwp: Double, cwn: Double): Array[Long] = {
    if (!(0 to 4).exists(r.isNullAt)) {
      val x = Array(r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3), 1.0)
      val y = r.getDouble(4)
      val z = r6(x(0) * w(0) + x(1) * w(1) + x(2) * w(2) + x(3) * w(3) + w(4))
      if (z > SigLo && z < SigHi) {
        val res = (z * 0.25 + 0.5 - y) * (if (y == 1.0) cwp else cwn)
        for (j <- 0 until 5)
          acc(j) = Math.addExact(acc(j),
            JBig.valueOf(r6(res * x(j))).setScale(6, RoundingMode.HALF_UP)
              .unscaledValue.longValueExact)
      }
    }
    acc
  }

  // Training is deterministic, so the trained head (5 doubles) is
  // memoized per input fingerprint for the session — the same
  // train-once/reuse contract as the k-means codebook memo. Plain
  // doubles: nothing here for retireCaches to kill, so the memo
  // legitimately amortizes across gate queries.
  /** Runs (or reuses) the [[Steps]]-step training and returns the
    * weight vector (w1..w4, bias): one fold of the cached feature
    * frame for `n` and the positive count, then one fold per step;
    * only 5-long partials ever reach the driver.
    */
  private[graft] def trainedWeights(spark: SparkSession, dir: String): Array[Double] =
    Kernels.memo("quality-weights", Kernels.inputKey(dir, "documents.parquet")) {
      val rows = Kernels.cacheTracked(featureFrame(spark, dir))
        .select("x1", "x2", "x3", "x4", "y").rdd
      // y is the 0/1 label, never NULL: its count of 1s is sum(y)
      val (n, nPos) = rows.treeAggregate((0L, 0L))(
        (c, r) => (c._1 + 1, if (r.getDouble(4) == 1.0) c._2 + 1 else c._2),
        (a, b) => (a._1 + b._1, a._2 + b._2))
      val npos = nPos.toDouble
      // a single-class (or empty) corpus has no decision boundary to
      // learn — loud beats a silently degenerate all-one head
      require(npos > 0 && npos < n,
        s"quality_classifier: empty or single-class labels (n=$n, npos=$npos)")
      val cwp = r6(n / (2.0 * npos))
      val cwn = r6(n / (2.0 * (n - npos)))
      var w = Array.fill(5)(0.0)
      for (_ <- 1 to Steps) {
        val wk = w
        val g = rows.treeAggregate(new Array[Long](5))(
          (acc, r) => addGradient(acc, r, wk, cwp, cwn),
          (a, b) => { for (j <- 0 until 5) a(j) = Math.addExact(a(j), b(j)); a })
        w = Array.tabulate(5)(j =>
          r6(w(j) - Eta * JBig.valueOf(g(j), 6).doubleValue / n))
      }
      w
    }

  private val FeatureNames =
    Seq("bias", "x1_len", "x2_diversity", "x3_stop", "x4_chars")

  /** `quality_classifier`: the trained head as (feature, weight) rows
    * — the model artifact itself is the gate surface, so the oracle's
    * CTE-replayed training must agree with the distributed trainer to
    * the last 6dp digit.
    */
  def classifier(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = trainedWeights(spark, dir)
    Seq(("bias", w(4)), ("x1_len", w(0)), ("x2_diversity", w(1)),
        ("x3_stop", w(2)), ("x4_chars", w(3)))
      .toDF("feature", "weight")
      .orderBy("feature")
  }

  /** The map-only scorer under explicit weights — shared by the
    * in-session scored query and the artifact-served twin.
    */
  private def scoreWith(spark: SparkSession, dir: String,
      w: Array[Double]): DataFrame = {
    // the score is emitted RAW, not re-rounded: p = 0.25·z + 0.5 over
    // the 6dp margin is IEEE-exact and bit-identical in both engines,
    // while round(p, 6) would land on true 7th-digit ties (0.25 × a
    // 6dp decimal ends in …25/…5/…75) where Spark's shortest-repr
    // HALF_UP and DuckDB's binary-value rounding disagree — measured:
    // one tie per ~few hundred docs flips the last digit. Rounds are
    // only safe where the value cannot sit on the tie (arbitrary
    // doubles) or the tie is decided in decimal on BOTH sides.
    scoreFrame(featureFrame(spark, dir), w).orderBy("doc_id")
  }

  /** The unordered scoring projection over a feature frame — shared
    * with the streaming twin (a streaming frame cannot sort; its
    * drain orders at the end).
    */
  private[graft] def scoreFrame(features: DataFrame, w: Array[Double]): DataFrame = {
    val z = marginOf(w)
    features
      .select(col("doc_id"), col("y").cast("long").as("label"),
        linkOf(z).as("score"))
      // coalesce to 0: a NULL score (null-text document outside the
      // gated corpora) must predict 0 like the oracle's CASE WHEN
      // score >= 0.5 THEN 1 ELSE 0, not propagate NULL (r18 advisory
      // — latent oracle divergence on nullable feeds)
      .withColumn("pred",
        coalesce((col("score") >= 0.5).cast("long"), lit(0L)))
  }

  /** `quality_classifier_scored`: the whole corpus through the trained
    * head — (doc_id, label, score, pred). Scoring is map-only (the
    * head rides the closure); at 100 TB this is the embarrassingly
    * parallel pass the trainer exists to enable.
    */
  def scored(spark: SparkSession, dir: String): DataFrame =
    scoreWith(spark, dir, trainedWeights(spark, dir))

  /** The trained head materialized to a fingerprinted durable
    * artifact — the production contract: train once, every scorer
    * (other sessions, the stream, downstream mixes) reads the stored
    * weights instead of retraining.
    */
  private[graft] def ensureWeightStore(spark: SparkSession, dir: String): String =
    Kernels.buildStore("graft-quality-head", Kernels.inputKey(dir, "documents.parquet")) {
      root =>
        import spark.implicits._
        val w = trainedWeights(spark, dir)
        FeatureNames.zip(Seq(w(4), w(0), w(1), w(2), w(3)))
          .toDF("feature", "weight")
          .write.mode("overwrite").parquet(root)
    }

  /** `quality_classifier_served`: scores from the STORED head — any
    * session that can read the artifact scores without retraining.
    * Value-equal to [[scored]] (the same oracle gates both).
    */
  def served(spark: SparkSession, dir: String): DataFrame =
    scoreWith(spark, dir, storedHead(spark, dir))

  /** The stored head loaded back as the trainer's weight layout —
    * shared by [[served]] and the streaming scorer (which freezes the
    * head once, before the stream starts).
    */
  private[graft] def storedHead(spark: SparkSession, dir: String): Array[Double] = {
    val stored = spark.read.parquet(ensureWeightStore(spark, dir))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    Array(stored("x1_len"), stored("x2_diversity"), stored("x3_stop"),
      stored("x4_chars"), stored("bias"))
  }
}
