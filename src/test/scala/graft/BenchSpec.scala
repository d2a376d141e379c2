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
}
