package graft

import java.nio.file.Files

import org.json4s._
import org.json4s.jackson.JsonMethods.parse
import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private implicit val formats: Formats = DefaultFormats

  test("bench run: a ledger row per query, stream work attributed, cold >= value, drift against its own artifact") {
    val listeners = spark.streams.listListeners().toSeq
    val artifact = SparkTestSession.tmpDir("graft-bench").resolve("bench_full.json")
    val names = Seq("q1_pricing_summary", "stream_dedup")
    val line = Bench.run(spark, SparkTestSession.Sf, names, 2, artifact, write = true)
    val full = parse(Files.readString(artifact))
    for (n <- names; k <- Seq("jobs", "stages", "tasks")) {
      val row = full \ "layers" \ n
      assert((row \ k).extractOpt[Long].exists(_ >= 1), s"$n has no $k in its ledger row: $row")
    }
    // AQE runs q1's query stages from its pool: each must carry a plan
    // name, not the pool's call site
    val slowest = (full \ "layers" \ "q1_pricing_summary" \ "slowest").children
      .map(st => (st \ "stage").extract[String])
    assert(slowest.nonEmpty && !slowest.exists(_.contains("CompletableFuture")),
      s"a q1 stage is named after the AQE pool: $slowest")
    // the stream's micro-batches run on its own execution thread
    assert((full \ "layers" \ "stream_dedup" \ "batches").extractOpt[Long].exists(_ >= 1),
      s"no micro-batch attributed to stream_dedup: ${full \ "layers" \ "stream_dedup"}")
    val value = (full \ "value").extract[Double]
    assert((full \ "cold").extract[Double] >= value)
    // the stdout line is the driver contract: its head, keys and budget
    assert(line.startsWith("""{"metric":"total","value":""") && line.length <= 1500, line)
    val js = parse(line)
    assert(js.asInstanceOf[JObject].obj.map(_._1) ==
      List("metric", "value", "unit", "queries", "queries_n", "errors", "sf"), line)
    assert((js \ "value").extract[Double] == value)
    val again = parse(Bench.run(spark, SparkTestSession.Sf, names, 1, artifact, write = true))
    assert((again \ "drift_vs_prev" \ "prev_total").extractOpt[Double].contains(value), again)
    assert(spark.streams.listListeners().toSeq == listeners, "the ledger left a stream listener behind")
  }

  test("bench run: memo builds and hits per rep and over the run") {
    // a fresh copy of the embeddings is a fresh memo key: the first rep
    // trains the codebook, the second serves it from the memo
    val dir = SparkTestSession.tmpDir("graft-bench-memo")
    java.nio.file.Files.copy(java.nio.file.Path.of(s"${SparkTestSession.Sf}/embeddings.parquet"),
      dir.resolve("embeddings.parquet"))
    val artifact = dir.resolve("bench_full.json")
    Bench.run(spark, dir.toString, Seq("kmeans_centroids"), 2, artifact, write = true)
    val full = parse(Files.readString(artifact))
    val cb = full \ "memo" \ "kmeans-codebook"
    assert((cb \ "builds").extractOpt[Long].contains(1L), s"one codebook build per run: ${full \ "memo"}")
    assert((cb \ "hits").extractOpt[Long].exists(_ >= 1), s"the second rep must hit the memo: ${full \ "memo"}")
    val row = full \ "layers" \ "kmeans_centroids"
    assert(Seq("memo_hits", "memo_builds").forall(k => (row \ k).isInstanceOf[JObject]),
      s"the ledger row carries the rep's memo counts: $row")
  }
}
