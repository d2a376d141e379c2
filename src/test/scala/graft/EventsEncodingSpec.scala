package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the events loader contract across every `ts` encoding the
  * driver has shipped in `events.parquet`:
  *
  *  - raw INT64 nanos (what `spark.sql.legacy.parquet.nanosAsLong`
  *    yields for parquet TIMESTAMP(NANOS) — round ≤5 testdata),
  *  - TIMESTAMP_MICROS isAdjustedToUTC=0 → TimestampNTZType (round 6
  *    testdata, which broke 9 batch queries loudly and 8 streaming
  *    queries silently),
  *  - TIMESTAMP_MICROS isAdjustedToUTC=1 → TimestampType.
  *
  * Both the batch loader (`Tables.events`) and the stream reader
  * (`EventStream.readEventsStream`) must yield a canonical TIMESTAMP
  * column with IDENTICAL micro-exact instants for all three flavors,
  * so a driver-side re-encode can never silently shift event time
  * again.
  */
class EventsEncodingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // Micro-precision instants, incl. non-zero sub-millisecond parts —
  // a ms-truncating reader would fail the exact-set compare.
  private val microsExpected =
    Seq(1700000000123456L, 1700000001000001L, 1700003600999999L)

  /** (event_id, us, user_id, event_type, value, props) seed rows. */
  private def base: DataFrame =
    microsExpected.zipWithIndex
      .map { case (us, i) => (i.toLong, us, (i % 2).toLong, "click", 1.5, "{}") }
      .toDF("event_id", "us", "user_id", "event_type", "value", "props")

  private val cols =
    Seq("event_id", "ts", "user_id", "event_type", "value", "props")

  /** Writes `df` as a SINGLE plain `events.parquet` file (the testdata
    * shape; the stream reader's pathGlobFilter matches the file name).
    */
  private def writeFlavor(df: DataFrame): String = {
    val dir = SparkTestSession.tmpDir("graft-enc")
    // stage OUTSIDE the flavor dir: the stream source lists the dir and
    // a stray non-partition subdirectory would break file discovery
    val stage = SparkTestSession.tmpDir("graft-enc-stage").resolve("out")
    val prev = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try df.coalesce(1).write.mode("overwrite").parquet(stage.toString)
    finally spark.conf.set("spark.sql.parquet.outputTimestampType", prev)
    val part = stage.toFile.listFiles
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .getOrElse(fail(s"no part file under $stage"))
    java.nio.file.Files.copy(part.toPath, dir.resolve("events.parquet"))
    dir.toString
  }

  private lazy val flavors: Map[String, String] = Map(
    // TIMESTAMP_MICROS isAdjustedToUTC=1 (instant semantics)
    "micros-ltz" -> writeFlavor(
      base.withColumn("ts", timestamp_micros(col("us"))).select(cols.map(col): _*)),
    // TIMESTAMP_MICROS isAdjustedToUTC=0 (wall-clock; session TZ is UTC)
    "micros-ntz" -> writeFlavor(
      base.withColumn("ts", timestamp_micros(col("us")).cast(TimestampNTZType))
        .select(cols.map(col): _*)),
    // raw INT64 nanos — the exact frame shape the nanosAsLong legacy
    // read of parquet TIMESTAMP(NANOS) produces (Spark can't WRITE
    // nanos, but the loader only ever sees the post-read LongType);
    // +789 sub-µs proves truncation, not rounding (DuckDB truncates).
    "nanos-long" -> writeFlavor(
      base.withColumn("ts", col("us") * 1000L + 789L).select(cols.map(col): _*)))

  private def collectedMicros(df: DataFrame): Seq[Long] =
    df.select(unix_micros(col("ts")).as("us")).as[Long].collect().sorted.toSeq

  for ((name, _) <- Seq("micros-ltz" -> (), "micros-ntz" -> (), "nanos-long" -> ())) {
    test(s"batch loader canonicalizes $name to exact micro instants") {
      val out = Tables.events(spark, flavors(name))
      assert(out.schema("ts").dataType === TimestampType)
      assert(collectedMicros(out) === microsExpected.sorted)
    }

    test(s"stream reader canonicalizes $name to exact micro instants") {
      val stream = graft.streaming.EventStream.readEventsStream(spark, flavors(name))
      assert(stream.schema("ts").dataType === TimestampType)
      val drained = graft.streaming.Streams.drain(stream.select(col("ts")), OutputMode.Append())
      assert(collectedMicros(drained) === microsExpected.sorted)
    }
  }
}
