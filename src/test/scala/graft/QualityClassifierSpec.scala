package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators._

/** The trained linear quality head: convergence (it must LEARN, not
  * echo the base rate), head shape, serve parity, and the map-only
  * scoring plan. Engine-independence of the training arithmetic is the
  * oracle gate's job (the DuckDB CTE chain replays all [[QualityClassifier.Steps]]
  * steps); these specs pin the semantics the oracle cannot see.
  */
class QualityClassifierSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = SparkTestSession.Sf

  test("training beats the base rate: accuracy and balanced accuracy floors") {
    val rows = QualityClassifier.scored(spark, sf)
      .select("label", "pred").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    Dedup.retireCaches()
    val n = rows.length
    val npos = rows.count(_._1 == 1L)
    val base = math.max(npos, n - npos).toDouble / n
    val acc = rows.count(r => r._1 == r._2).toDouble / n
    val tpr = rows.count(r => r._1 == 1L && r._2 == 1L).toDouble / npos
    val tnr = rows.count(r => r._1 == 0L && r._2 == 0L).toDouble / (n - npos)
    val bal = (tpr + tnr) / 2
    info(f"n=$n base=$base%.3f acc=$acc%.3f balanced=$bal%.3f")
    // the labels are ~80/20, so plain accuracy can hit ~0.81 by
    // predicting the majority class — the BALANCED floor is the one
    // that proves a learned boundary (majority-class balanced acc is
    // exactly 0.5). Measured at this tier: acc 0.862, balanced 0.837.
    assert(acc > base + 0.03,
      f"accuracy $acc%.3f must beat the base rate $base%.3f")
    assert(bal >= 0.80,
      f"balanced accuracy $bal%.3f collapsed toward the majority-class 0.5")
  }

  test("head shape: 5 finite weights, the label's own signals dominate the distractor") {
    val w = QualityClassifier.classifier(spark, sf).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    Dedup.retireCaches()
    assert(w.keySet == Set("bias", "x1_len", "x2_diversity", "x3_stop", "x4_chars"))
    assert(w.values.forall(v => !v.isNaN && !v.isInfinite))
    // x1/x3 are components of the label's threshold; x4 (char band) is
    // the distractor the label never reads — a sound trainer puts
    // clearly more mass on the real signals
    assert(math.abs(w("x1_len")) > math.abs(w("x4_chars")),
      s"length signal must outweigh the distractor: $w")
    assert(w.values.map(math.abs).max > 0.5, s"training never moved: $w")
  }

  test("served twin equals the in-session scored query bit-for-bit") {
    val scored = QualityClassifier.scored(spark, sf).collect().map(_.toSeq)
    val served = QualityClassifier.served(spark, sf).collect().map(_.toSeq)
    Dedup.retireCaches()
    assert(served.nonEmpty && scored.toSeq == served.toSeq,
      "artifact-served scores must equal in-session scores exactly")
  }

  test("streaming scorer drains to the batch scorer bit-for-bit") {
    // frozen head + shared feature/score expressions: however the
    // source micro-batches the corpus, the drained scores must equal
    // the batch pass exactly (stateless map — nothing to commute)
    val batch = QualityClassifier.scored(spark, sf).collect().map(_.toSeq)
    val streamed = graft.streaming.DocStream.streamQualityClassifier(spark, sf)
      .collect().map(_.toSeq)
    Dedup.retireCaches()
    assert(streamed.nonEmpty && batch.toSeq == streamed.toSeq,
      "drained stream scores must equal the batch scorer exactly")
  }

  test("scored predictions are consistent with the emitted score") {
    val bad = QualityClassifier.scored(spark, sf)
      .filter((col("score") >= 0.5) =!= (col("pred") === 1L)).count()
    Dedup.retireCaches()
    assert(bad == 0L, s"$bad rows with pred inconsistent with score")
  }

  test("exactness pin: the trained weights at every test tier, bit for bit") {
    // the DuckDB oracle is not in tier-1, so a last-ulp drift in the
    // trainer would pass every other spec here; these are the weights
    // the oracle-verified per-step aggregate trainer produced
    val pinned = Map(
      "sf0.001" -> Map("bias" -> 0.123749, "x1_len" -> 1.763196,
        "x2_diversity" -> -0.852346, "x3_stop" -> 1.553681, "x4_chars" -> 0.324085),
      "sf0.01" -> Map("bias" -> 0.148671, "x1_len" -> 1.810958,
        "x2_diversity" -> -0.882596, "x3_stop" -> 1.608328, "x4_chars" -> 0.283713),
      "sf0.1" -> Map("bias" -> 0.159575, "x1_len" -> 1.722244,
        "x2_diversity" -> -0.7755, "x3_stop" -> 1.731526, "x4_chars" -> 0.275179))
    for ((tier, want) <- pinned) {
      val got = QualityClassifier.classifier(spark, s"${new java.io.File(sf).getParent}/$tier")
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      Dedup.retireCaches()
      assert(got == want, s"$tier weights drifted: $got")
    }
  }

  /** The per-step Catalyst aggregate trainer, kept as the reference the
    * fold must reproduce: one `agg` per step with the weights as
    * literals, the per-row terms rounded to 6dp and summed as
    * DECIMAL(18,6).
    */
  private def aggregateTrainerWeights(dir: String): Array[Double] = {
    import QualityClassifier._
    def r6(d: Double) =
      java.math.BigDecimal.valueOf(d).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
    val f = QualityClassifier.featureFrame(spark, dir)
    val head = f.agg(count(lit(1)), sum(col("y"))).collect()(0)
    val (n, npos) = (head.getLong(0), head.getDouble(1))
    val (cwp, cwn) = (r6(n / (2.0 * npos)), r6(n / (2.0 * (n - npos))))
    var w = Array.fill(5)(0.0)
    for (_ <- 1 to Steps) {
      val z = round(col("x1") * w(0) + col("x2") * w(1) + col("x3") * w(2) +
        col("x4") * w(3) + lit(w(4)), 6)
      val p = when(z <= SigLo, 0.0).when(z >= SigHi, 1.0).otherwise(z * 0.25 + 0.5)
      val r = (p - col("y")) * when(col("y") === 1.0, cwp).otherwise(cwn)
      val active = z > SigLo && z < SigHi
      def g(x: org.apache.spark.sql.Column) = coalesce(
        sum(when(active, round(r * x, 6)).otherwise(0.0).cast("decimal(18,6)")),
        lit(java.math.BigDecimal.ZERO).cast("decimal(18,6)"))
      val row = f.agg(g(col("x1")), g(col("x2")), g(col("x3")), g(col("x4")),
        g(lit(1.0))).collect()(0)
      w = Array.tabulate(5)(j => r6(w(j) - Eta * row.getDecimal(j).doubleValue / n))
    }
    w
  }

  test("NULL- and empty-text docs: the fold trains what the per-step aggregate trains") {
    import spark.implicits._
    // a NULL text has NULL features: it counts in n and adds no
    // gradient; an empty text has all-zero signals and a 0 label
    val good = Seq(
      "the cat sat on the mat and it is a fine day for a walk in the park with the dog",
      "a history of the world in ten chapters is a book to read on the train and in bed",
      "the quick brown fox jumps over the lazy dog and it runs to the river in the dark",
      "it is the best of times and the worst of times for a tale of two cities to begin")
    val junk = Seq("buy now", "click click click click", "zz top zz top zz", "lorem")
    val texts: Seq[Option[String]] =
      Seq(None, Some("")) ++ (good ++ junk ++ good.map(_ + " again") ++ junk.map(_ + " now")).map(Some(_))
    val dir = SparkTestSession.tmpDir("graft-quality-nulls")
    val stage = SparkTestSession.tmpDir("graft-quality-nulls-stage").resolve("out")
    texts.zipWithIndex
      .map { case (t, i) => (i.toLong + 1, t, "en", "fixture", t.map(_.length.toLong)) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(stage.toString)
    val part = stage.toFile.listFiles
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .getOrElse(fail(s"no part file under $stage"))
    java.nio.file.Files.copy(part.toPath, dir.resolve("documents.parquet"))
    val feats = QualityClassifier.featureFrame(spark, dir.toString).collect()
    assert(feats.length == texts.length && feats.exists(r => (1 to 4).exists(r.isNullAt)),
      "the fixture must hold a NULL-feature row")
    val want = aggregateTrainerWeights(dir.toString)
    val got = QualityClassifier.trainedWeights(spark, dir.toString)
    Dedup.retireCaches()
    assert(got.toSeq == want.toSeq, s"fold ${got.toSeq} != aggregate ${want.toSeq}")
  }

  test("scoring plan is map-only: no join, no window, no corpus shuffle before the sort") {
    val p = QualityClassifier.scored(spark, sf)
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    Dedup.retireCaches()
    // the head rides the task closure: the only wide op is the output
    // ordering — at 100 TB the scorer is embarrassingly parallel
    assert(!p.contains("Join"), s"scoring must not join:\n${p.take(800)}")
    assert(!p.contains("windowspecdefinition"), "scoring carries no window")
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(exchanges <= 2, // tree + details sections of the one sort exchange
      s"only the output-sort exchange may appear, got $exchanges:\n${p.take(800)}")
  }
}
