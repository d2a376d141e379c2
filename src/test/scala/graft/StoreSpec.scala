package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators._
import graft.streaming.DocStream

/** Replay contract of the maintained stores: a `foreachBatch` body is
  * at-least-once, so each per-batch body fed the same batch id twice
  * must serve exactly the rows of a single feed, and a versioned
  * table's replayed batch must rewrite the version it wrote the first
  * time, not build on it.
  */
class StoreSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = SparkTestSession.Sf

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  /** Serves `serve` over a store fed `feed` once and over one fed it
    * twice under the same bid; both must agree and hold rows.
    */
  private def replaySafe(prefix: String)(feed: String => Unit)(serve: String => DataFrame): Unit = {
    val once = SparkTestSession.tmpDir(s"$prefix-once").toString
    val twice = SparkTestSession.tmpDir(s"$prefix-twice").toString
    feed(once)
    feed(twice)
    feed(twice)
    val (a, b) = try (rows(serve(once)), rows(serve(twice))) finally Dedup.retireCaches()
    assert(a.nonEmpty, s"$prefix: the single feed must serve rows")
    assert(b == a, s"$prefix: a replayed batch must serve the single feed's rows")
  }

  test("Store.next at a replayed bid rewrites that bid's version from the one before") {
    import spark.implicits._
    val root = SparkTestSession.tmpDir("graft-store-next").toString
    def step(bid: Long): Unit =
      Store.next(spark, root, "n", bid)(prev =>
        prev.map(_.select((col("n") + 1).as("n"))).getOrElse(Seq(1L).toDF("n")))
    step(0); step(1); step(1)
    assert(Store.latest(spark, root, "n").get.as[Long].collect().toSeq == Seq(2L),
      "the replayed batch 1 must build on version 0, not on its own first write")
    assert(new java.io.File(s"$root/n").list().count(_.startsWith("bid=")) == 2,
      "two batches keep two versions")
  }

  test("Store.append at a replayed bid replaces the batch's rows; read drops the bid") {
    import spark.implicits._
    val root = SparkTestSession.tmpDir("graft-store-append").toString
    Store.append(root, "t", 0, "p")(Seq((1L, "a"), (2L, "b")).toDF("x", "p"))
    Store.append(root, "t", 1, "p")(Seq((3L, "a")).toDF("x", "p"))
    Store.append(root, "t", 1, "p")(Seq((3L, "a")).toDF("x", "p"))
    val t = Store.read(spark, root, "t")
    assert(t.columns.toSeq == Seq("x", "p"), "the served frame carries no batch id")
    assert(rows(t) == Seq("[1,a]", "[2,b]", "[3,a]"))
    assert(rows(Store.read(spark, root, "t", after = 0)) == Seq("[3,a]"))
    assert(rows(Store.read(spark, root, "t", before = 1)) == Seq("[1,a]", "[2,b]"))
  }

  test("search store: a replayed batch serves the single feed's ranking") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    replaySafe("graft-replay-search")(DocStream.appendSearchBatch(docs, 0, _))(
      DocStream.serveBm25(spark, _))
  }

  test("ANN delta: a replayed batch serves the single feed's neighbors") {
    val base = ProductQuant.ensureHistoryArtifact(spark, sf)
    val batch = Tables.embeddings(spark, sf).filter(Dedup.isBatch(col("vec_id")))
    replaySafe("graft-replay-ann")(ProductQuant.appendBatchToIndex(batch, 0, base, _))(
      ProductQuant.annIvfPqFromLayers(spark, sf, base, _))
  }

  test("sketch store: a replayed batch serves the single feed's heavy hitters") {
    val events = Tables.events(spark, sf)
    replaySafe("graft-replay-sketch")(Sketches.appendCmsBatch(events, 0, _))(root =>
      Sketches.heavyHittersFromCms(spark, sf, Store.read(spark, root, "cms")))
  }

  test("kNN store: a replayed batch serves the single feed's mutual graph") {
    val batch = Tables.embeddings(spark, sf).select("vec_id")
      .filter(Dedup.isBatch(col("vec_id")))
    replaySafe("graft-replay-knn")(Graph.appendBatchToKnn(batch, 0, sf, _))(root =>
      Graph.mutualFromDirected(Graph.knnStoreLists(spark, sf, root)))
  }

  test("media keep store: a replayed batch serves the single feed's keep list") {
    val imgMu = Multimodal.historyImageMu(spark, sf)
    val audMu = Multimodal.historyMu(spark, sf, Multimodal.Audio)
    val vidMu = Multimodal.historyMu(spark, sf, Multimodal.Frame)
    def hist = Multimodal.mediaKeepHistoryStore(spark, sf, imgMu, audMu, vidMu)
    val sigs = Multimodal.mediaSigFrame(
      Multimodal.payloads(spark, sf, Dedup.isBatch(col("doc_id"))), imgMu, audMu, vidMu)
    replaySafe("graft-replay-keep")(DocStream.mergeKeepBatch(sigs, 0, _, hist))(root =>
      Store.latest(spark, root, "keep").get)
    // the store's answer is the batch twin's
    val root = SparkTestSession.tmpDir("graft-replay-keep-twin").toString
    DocStream.mergeKeepBatch(sigs, 0, root, hist)
    val (stored, twin) = try (rows(Store.latest(spark, root, "keep").get),
      rows(Multimodal.mediaKeepMaintain(spark, sf))) finally Dedup.retireCaches()
    assert(stored == twin, "one merged batch must equal mm_media_keep_maintain")
  }

  test("a warm stream_sketch_maintain reads its store with no schema build") {
    // the store records each table's written schema, so reading a
    // per-call store (a fresh path every call) infers nothing
    def schemaBuilds = Kernels.memoStats().get("parquet-schema").fold(0L)(_.builds)
    def run(): Unit =
      try graft.streaming.EventStream.streamSketchMaintain(spark, sf).collect()
      finally Dedup.retireCaches()
    run()
    val before = schemaBuilds
    run()
    assert(schemaBuilds == before, s"a warm call built ${schemaBuilds - before} parquet-schema entries")
  }
}
