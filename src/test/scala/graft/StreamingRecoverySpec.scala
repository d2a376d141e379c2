package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming checkpoint recovery — the Structured-Streaming twin of the
  * batch crash differential (`MapReduceSpec`'s first-attempt-throws
  * test): a stateful aggregation is STOPPED mid-input and restarted
  * against the same checkpoint; the restarted query must resume from
  * the persisted offsets+state, not reprocess, and the final result
  * must equal the batch aggregate over everything. This is the
  * fault-tolerance contract a production `writeStream` relies on
  * (driver loss, upgrade, rebalance): offsets and state live in the
  * checkpoint, not the process.
  */
class StreamingRecoverySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def tmpDir(prefix: String): Path = SparkTestSession.tmpDir(prefix)

  test("stateful aggregation resumes from checkpoint across a restart") {
    import spark.implicits._
    val in = tmpDir("graft-stream-in")
    val ckpt = tmpDir("graft-stream-ckpt")
    val schema = StructType(Seq(
      StructField("user_id", LongType), StructField("value", LongType)))

    def startQuery(name: String) = {
      val agg = spark.readStream.schema(schema)
        .option("pathGlobFilter", "*.parquet").parquet(in.toString)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n"), sum("value").as("total"))
      agg.writeStream.outputMode(OutputMode.Complete())
        .option("checkpointLocation", ckpt.toString)
        .format("memory").queryName(name).start()
    }

    // the file-stream source lists plain FILES (the testdata layout);
    // a Spark write creates a directory, so relocate its single part
    def writeFile(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val stage = tmpDir(s"graft-stage-$name")
      df.coalesce(1).write.mode("overwrite").parquet(stage.toString)
      import scala.jdk.CollectionConverters._
      val part = Files.list(stage).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.move(part, in.resolve(name))
    }

    val batchA = (1L to 40L).map(i => (i % 5, i)).toDF("user_id", "value")
    writeFile(batchA, "a.parquet")
    val q1 = startQuery("recovery_phase1")
    try q1.processAllAvailable() finally q1.stop()
    val afterA = spark.table("recovery_phase1").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n"), r.getAs[Long]("total"))).toSet

    // second tranche lands while no query is running (the "crash" window)
    val batchB = (41L to 100L).map(i => (i % 5, i)).toDF("user_id", "value")
    writeFile(batchB, "b.parquet")

    val q2 = startQuery("recovery_phase2")
    try q2.processAllAvailable() finally q2.stop()
    val afterB = spark.table("recovery_phase2").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n"), r.getAs[Long]("total"))).toSet

    // the restarted query consumed only tranche B (offsets from the
    // checkpoint) yet its totals include tranche A (state from the
    // checkpoint) — equal to the batch aggregate over everything
    val want = batchA.union(batchB).groupBy("user_id")
      .agg(count(lit(1)).as("n"), sum("value").as("total")).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n"), r.getAs[Long]("total"))).toSet
    assert(afterB == want, "restart must recover offsets AND state from the checkpoint")
    val wantA = batchA.groupBy("user_id")
      .agg(count(lit(1)).as("n"), sum("value").as("total")).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n"), r.getAs[Long]("total"))).toSet
    assert(afterA == wantA, "phase-1 canary: pre-crash state matches tranche A")
    assert(afterA != afterB, "tranche B must actually change the state")
  }

  test("stream-stream join buffers survive a checkpointed restart") {
    // the interval-join twin of the aggregation-recovery test: tranche A
    // is ONLY purchases (no matches emit), the query stops, tranche B is
    // ONLY errors — so every match the restarted query emits requires
    // the purchase-side join buffer recovered from the checkpoint, not
    // reprocessing (offsets say tranche A is consumed). This is the
    // contract stream_error_purchase{,_outer,_full} rely on in
    // production: join state lives in the state store, not the process.
    import spark.implicits._
    val in = tmpDir("graft-ssj-in")
    val ckpt = tmpDir("graft-ssj-ckpt")
    def writeFile(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val stage = tmpDir(s"graft-ssj-stage-$name")
      df.coalesce(1).write.mode("overwrite").parquet(stage.toString)
      import scala.jdk.CollectionConverters._
      val part = Files.list(stage).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.move(part, in.resolve(name))
    }
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("kind", StringType),
      StructField("user_id", LongType), StructField("ts", TimestampType)))
    def sides(df: org.apache.spark.sql.DataFrame) = {
      val errors = df.filter(col("kind") === "e")
        .select(col("id").as("error_id"), col("user_id"), col("ts").as("e_ts"))
      val purchases = df.filter(col("kind") === "p")
        .select(col("id").as("purchase_id"), col("user_id").as("p_user"),
          col("ts").as("p_ts"))
      (errors, purchases)
    }
    val joinCond =
      col("user_id") === col("p_user") &&
        col("p_ts") >= col("e_ts") - expr("INTERVAL 10 MINUTES") &&
        col("p_ts") < col("e_ts")
    // append-mode MEMORY sinks refuse checkpoint recovery; a restartable
    // stream needs a real sink — parquet files, as production would
    val out = tmpDir("graft-ssj-out")
    def startQuery() = {
      val src = spark.readStream.schema(schema)
        .option("pathGlobFilter", "*.parquet").parquet(in.toString)
      val (errors, purchases) = sides(src)
      errors.withWatermark("e_ts", "1 hour")
        .join(purchases.withWatermark("p_ts", "1 hour"), joinCond)
        .select("error_id", "purchase_id")
        .writeStream.outputMode(OutputMode.Append())
        .option("checkpointLocation", ckpt.toString)
        .format("parquet").option("path", out.toString).start()
    }
    val base = 1704067200L
    def t(min: Long) = new java.sql.Timestamp((base + min * 60) * 1000L)
    // two purchases per user, 4 min apart; the later error at +6 min
    // sees both inside its 10-minute lookback
    val purchases = (for { u <- 1L to 5L; i <- 0L to 1L }
      yield (u * 100 + i, "p", u, t(u + i * 4))).toDF("id", "kind", "user_id", "ts")
    writeFile(purchases, "a.parquet")
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()
    assert(spark.read.schema("error_id BIGINT, purchase_id BIGINT")
      .parquet(out.toString).count() == 0,
      "tranche A is purchases only — nothing can match yet")

    val errors = (1L to 5L).map(u => (u * 1000, "e", u, t(u + 6)))
      .toDF("id", "kind", "user_id", "ts")
    writeFile(errors, "b.parquet")
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()
    val got = spark.read.parquet(out.toString).collect()
      .map(r => (r.getAs[Long]("error_id"), r.getAs[Long]("purchase_id"))).toSet
    val (be, bp) = sides(purchases.unionByName(errors))
    val want = be.join(bp, joinCond).select("error_id", "purchase_id").collect()
      .map(r => (r.getAs[Long]("error_id"), r.getAs[Long]("purchase_id"))).toSet
    assert(want.size == 10, "test shape: each of 5 errors matches both purchases")
    assert(got == want,
      "restarted join must emit every cross-restart match from recovered state")
  }

  test("watermarked dedup state stays bounded while unbounded dedup's grows") {
    import spark.implicits._
    val in = tmpDir("graft-wmdedup-in")
    def writeFile(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val stage = tmpDir(s"graft-wmstage-$name")
      df.coalesce(1).write.mode("overwrite").parquet(stage.toString)
      import scala.jdk.CollectionConverters._
      val part = Files.list(stage).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.move(part, in.resolve(name))
    }
    val schema = StructType(Seq(
      StructField("k", StringType), StructField("ts", TimestampType)))
    def era(tag: String, hourOffset: Long) =
      (1 to 10).map(i => (s"$tag-$i",
        new java.sql.Timestamp((1704067200L + hourOffset * 3600 + i) * 1000L)))
        .toDF("k", "ts")
    // three eras, each 1 h apart; delay 10 min << era gap, so by the
    // time era C processes, the watermark has passed era A's (and then
    // era B's) event times + delay and their state rows are evicted
    def run(name: String, withinWatermark: Boolean): (Long, Long) = {
      val src = spark.readStream.schema(schema)
        .option("pathGlobFilter", "*.parquet")
        .option("maxFilesPerTrigger", "1") // one era per micro-batch, so the watermark advances between eras
        .parquet(in.toString)
        .withWatermark("ts", "10 minutes")
      val dedup =
        if (withinWatermark) src.dropDuplicatesWithinWatermark("k")
        else src.dropDuplicates("k")
      val q = dedup.select("k").writeStream
        .outputMode(OutputMode.Append()).format("memory").queryName(name).start()
      try {
        q.processAllAvailable() // sees whatever eras are on disk when called
        val rows = spark.table(name).count()
        val state = q.lastProgress.stateOperators(0).numRowsTotal
        (rows, state)
      } finally q.stop()
    }
    writeFile(era("a", 0), "a.parquet")
    writeFile(era("b", 1), "b.parquet")
    writeFile(era("c", 2), "c.parquet")
    // micro-batch split of the three files is not guaranteed, but the
    // LAST batch always carries era C, whose processing advances the
    // watermark past A's expiry — so bounded state must end < 30
    val (wmRows, wmState) = run("wm_dedup_bounded", withinWatermark = true)
    val (unRows, unState) = run("wm_dedup_unbounded", withinWatermark = false)
    assert(unState == 30L, s"unbounded dedup keeps every key forever, got $unState")
    assert(wmState < 30L, s"watermarked dedup must evict expired keys, got $wmState")
    assert(wmRows == 30L && unRows == 30L,
      "all 30 distinct keys emit exactly once either way (no dups in input)")
  }

  test("streaming writes the batch-equal result through a real file sink") {
    // the oracle gate drains through a memory sink (test harness); a
    // production stream writes FILES with a checkpoint. Same quality
    // stream, parquet sink + checkpoint, read the files back: rows must
    // equal the batch computation — closing the "memory sink is
    // test-only" caveat with the sink a deployment actually uses.
    val out = tmpDir("graft-fsink-out")
    val ckpt = tmpDir("graft-fsink-ckpt")
    val q = graft.streaming.DocStream.qualityStreamFrame(spark, SparkTestSession.Sf)
      .writeStream.outputMode(OutputMode.Append())
      .option("checkpointLocation", ckpt.toString)
      .format("parquet").option("path", out.toString)
      .start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.read.parquet(out.toString).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("quality"))).toSet
    val want = graft.operators.TextAnalysis.qualityScore(spark, SparkTestSession.Sf)
      .filter(col("quality") >= graft.streaming.DocStream.QualityThreshold)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("quality"))).toSet
    assert(got.nonEmpty && got == want,
      "file-sink streaming output must equal the batch quality gate")
  }

  test("full-outer sealing boundaries pinned row-exactly: inclusive left, strict right") {
    import spark.implicits._
    // The full-outer oracle's sealing horizons were originally derived
    // empirically; this frame pins them ROW-EXACTLY (one row at each
    // boundary, one 1 ms inside), so a Spark-version change to
    // interval-join state eviction fails this named test instead of an
    // opaque oracle hash. Writing it surfaced that the two horizons
    // differ in strictness: an error AT the watermark already emits
    // (left-null: e_ts <= wm, inclusive) while a purchase whose match
    // band closes AT the watermark stays pending (right-null:
    // p_ts + 10min < wm, strict) — the oracle encodes exactly this.
    val T = 1700007600000000L // µs; both side maxima → wm = T − 1h
    val wm = T - 3600L * 1000000L
    val tenMin = 600L * 1000000L
    val ms = 1000L
    val rows = Seq(
      // (event_id, us, user_id, event_type, value)
      (10L, wm, 1L, "error", 0.0),                    // e_ts == wm: sealed (inclusive)
      (11L, wm - ms, 2L, "error", 0.0),               // 1 ms inside: sealed
      (12L, wm - tenMin, 3L, "purchase", 5.0),        // p_ts+10min == wm: NOT sealed
      (13L, wm - tenMin - ms, 4L, "purchase", 7.0),   // 1 ms inside: sealed
      (98L, T, 98L, "error", 0.0),                    // clock: pins the error-side max
      (99L, T, 99L, "purchase", 9.0))                 // clock: pins the purchase-side max
      .toDF("event_id", "us", "user_id", "event_type", "value")
      .withColumn("ts", timestamp_micros(col("us")))
      .withColumn("props", lit("{}"))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    // single plain events.parquet file — the testdata/stream-reader shape
    val dir = tmpDir("graft-seal")
    val stage = tmpDir("graft-seal-stage").resolve("out")
    val prev = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try rows.coalesce(1).write.mode("overwrite").parquet(stage.toString)
    finally spark.conf.set("spark.sql.parquet.outputTimestampType", prev)
    import scala.jdk.CollectionConverters._
    val part = Files.list(stage).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.move(part, dir.resolve("events.parquet"))

    val got = graft.streaming.EventStream.errorPurchaseFullOuter(spark, dir.toString)
      .collect()
      .map(r => (Option(r.getAs[java.lang.Long]("error_id")).map(_.toLong),
        r.getAs[Long]("user_id"),
        Option(r.getAs[java.lang.Long]("purchase_id")).map(_.toLong)))
      .toSet
    // no user has both an error and a purchase, so every emitted row is
    // null-extended: the at-watermark error (inclusive left horizon),
    // both 1ms-inside rows, and NOT the at-boundary purchase (strict
    // right horizon) or the clock rows
    assert(got == Set(
      (Some(10L), 1L, None),
      (Some(11L), 2L, None),
      (None, 4L, Some(13L))),
      s"sealing boundary drifted, emitted: $got")
  }

  test("state-partition sizing follows key cardinality and never changes results") {
    import graft.streaming.{EventStream, Streams}
    // the sizing arithmetic: one store per TargetKeysPerStore keys,
    // clamped to [1, the session's batch parallelism] (4 in this suite)
    assert(EventStream.statePartitionsFor(spark, 1L) == 1)
    assert(EventStream.statePartitionsFor(spark, EventStream.TargetKeysPerStore) == 1)
    assert(EventStream.statePartitionsFor(spark, 2 * EventStream.TargetKeysPerStore) == 2)
    val batchDefault = spark.conf.get("spark.sql.shuffle.partitions").toInt
    assert(EventStream.statePartitionsFor(spark, 1000000L) == batchDefault,
      "state sizing must not exceed the session's compute parallelism")
    // result invariance across sizings: the SAME stateful drain at 1
    // store and at the clamp must emit identical aggregates — the
    // property that makes the partition count a pure perf knob
    def drain(expectedKeys: Long): Set[(Long, String, Long)] = {
      val agg = EventStream.readEventsStream(spark, SparkTestSession.Sf)
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      val (rows, progress) = withProgress(
        Streams.drain(agg, OutputMode.Complete(), Streams.stateWidth(spark, expectedKeys))
          .collect())
      // the width the drain's state operator actually ran at
      assert(progress.flatMap(_.stateOperators.map(_.numShufflePartitions)).toSet ==
        Set(EventStream.statePartitionsFor(spark, expectedKeys).toLong))
      rows.map(r => (r.getAs[java.sql.Timestamp]("hour").getTime,
        r.getAs[String]("event_type"), r.getAs[Long]("n"))).toSet
    }
    val small = drain(1L)
    val large = drain(1000000L)
    assert(small.nonEmpty && small == large,
      "stateful results must be invariant to the state-partition sizing")
  }

  test("rocksdb state store drains the same results as the in-memory provider") {
    import graft.streaming.{EventStream, Streams}
    // the 100 TB posture for streaming state: the in-memory
    // HDFS-backed provider holds every store's map on-heap — the
    // 128 GiB-VM shape; at production state sizes the spillable
    // RocksDB provider is the deployment config. The provider is a
    // pure storage swap: one drain under each must emit identical
    // rows (and rocksdb must actually be the provider in effect, not
    // a silently-ignored conf — its state operators report rocksdb
    // metrics).
    val key = "spark.sql.streaming.stateStore.providerClass"
    val rocks = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    def drain(provider: Option[String]): Set[(Long, String, Long)] = {
      val agg = EventStream.readEventsStream(spark, SparkTestSession.Sf)
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), approx_count_distinct("user_id").as("u"))
      val (rows, progress) = withProgress(
        Streams.drain(agg, OutputMode.Complete(), provider.map(key -> _).toMap).collect())
      import scala.jdk.CollectionConverters._
      val metrics = progress.flatMap(_.stateOperators.flatMap(_.customMetrics.keySet.asScala))
      assert(metrics.nonEmpty && metrics.exists(_.startsWith("rocksdb")) == provider.isDefined,
        s"provider $provider in effect? state metrics: ${metrics.distinct}")
      rows.map(r => (r.getAs[Row]("window").getAs[java.sql.Timestamp]("start").getTime,
        r.getAs[String]("event_type"), r.getAs[Long]("n"))).toSet
    }
    val saved = spark.conf.getOption(key)
    val mem = drain(None)
    val rdb = drain(Some(rocks))
    assert(spark.conf.getOption(key) == saved, "the drain must restore the provider conf")
    assert(mem.nonEmpty && mem == rdb,
      "the state-store provider must be a pure storage swap: identical drained rows")
  }

  /** Runs `body` with a listener on the session's stream queries and
    * returns its result with the progress every query it ran reported.
    * Listener events arrive asynchronously, and a query's progress
    * events precede its termination event, so waiting for every
    * started query to report termination collects them all.
    */
  private def withProgress[T](body: => T): (T, Seq[StreamingQueryProgress]) = {
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.SpanSugar._
    val started = new java.util.concurrent.atomic.AtomicInteger()
    val ended = new java.util.concurrent.atomic.AtomicInteger()
    val progress = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        started.incrementAndGet()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.add(e.progress)
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        ended.incrementAndGet()
    }
    spark.streams.addListener(listener)
    try {
      val out = body
      eventually(timeout(60.seconds), interval(50.millis)) {
        assert(started.get > 0 && ended.get == started.get)
      }
      import scala.jdk.CollectionConverters._
      (out, progress.asScala.toSeq)
    } finally spark.streams.removeListener(listener)
  }
}
