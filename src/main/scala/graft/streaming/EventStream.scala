package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Per-user running totals kept in the streaming state store (money in
  * integer cents: exact and independent of value arrival order).
  * Top-level so Catalyst-generated code can reach the accessors.
  */
case class UserTotals(user_id: Long, n_events: Long, value_cents: Long)

/** A session emitted by the streaming sessionizer (timestamps as raw
  * µs — converted outside the state function). Top-level for codegen.
  */
case class ClosedSession(user_id: Long, session_seq: Long, n_events: Long,
                         start_us: Long, end_us: Long, value_cents: Long)

/** The per-user state: sessions emitted so far + the open tail. */
case class OpenSession(start_us: Long, end_us: Long, n_events: Long, cents: Long)
case class SessState(emitted: Long, open: Option[OpenSession])

/** Per-type KMV sketch state: rows processed (monotone, for final-row
  * selection in the gate) + the bounded bottom-k (hash, user) entries.
  */
case class KmvSketch(n_rows: Long, entries: List[(Long, Long)])
case class KmvEstimate(event_type: String, n_rows: Long, est_users: Long)

/** Structured Streaming twins of the batch event analytics.
  *
  * The reference is strictly batch (SURVEY.md §2.5: no streaming), so
  * these are north-star capability extensions: the same queries
  * declared over `readStream`, runnable unchanged against a live file/
  * Kafka source. For the oracle gate each runs against the static
  * events parquet via the file stream source and drains through
  * [[Streams]], which returns the memory-sink rows — the memory sink is
  * test-only; production would `writeStream` to a real sink. Results
  * are identical to the batch twins (same partial-agg + shuffle plan
  * per micro-batch, state store between batches).
  */
object EventStream {

  /** Stream twin of [[graft.Tables.events]]: a file stream source needs
    * its schema up front, so probe the parquet footer for the actual
    * `ts` encoding (raw nanos long / TIMESTAMP_NTZ micros / TIMESTAMP
    * micros — the driver has regenerated the file across all three) and
    * normalize through the SAME type dispatch as the batch loader. A
    * hardcoded schema here once turned a driver-side nanos→micros
    * re-encode into silently-1000×-early event times (every window,
    * watermark and session gap wrong, no error) — the footer probe +
    * shared normalizer is the fix, pinned by `EventsEncodingSpec`.
    */
  private[graft] def readEventsStream(spark: SparkSession, dir: String): DataFrame = {
    val tsType = graft.Tables.eventsRawTsType(spark, dir)
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", tsType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    graft.Tables.normalizeEventTs(
      spark.readStream
        .schema(schema)
        .option("pathGlobFilter", "events.parquet") // file source needs a dir
        .parquet(dir))
  }

  /** Target state-store keys per stateful shuffle partition. Each
    * partition owns a state-store instance with per-batch checkpoint
    * I/O, so the partition count should follow state CARDINALITY, not
    * the batch shuffle default — the knob production turns is this
    * per-store key budget, with partitions = |keys| / budget.
    *
    * 64 — re-settled by measurement after r19 raised it to 256 on a
    * checkpoint-I/O dissection: the driver's r19 bench showed the
    * whole streaming family uniformly ~5% under the round's drift
    * line at 256, and the r20 re-measurement under driver conditions
    * (3 cold A/B pairs over all 32 stream queries, `local[32]`,
    * sf0.1, fresh JVM per run) confirmed it — every 64-budget run
    * beat every 256-budget run (74.7/77.0/76.9 s vs 78.5/79.3/77.3 s;
    * median per-query ratio 1.036 against 256). The extra store width
    * at 64 costs per-batch checkpoint I/O that parallel commits on
    * idle cores absorb, while fewer/larger stores serialize the
    * commit path the drain actually waits on. The budget errs low;
    * the clamp below still caps partitions at the session's
    * parallelism, and at production key cardinalities the quotient —
    * not the budget — is what sizes the state layout.
    */
  val TargetKeysPerStore = 64L

  /** Expected state keys for this suite's queries (event types ×
    * hours, user ids, session keys — a few hundred at every SF the
    * gate runs): |keys|/[[TargetKeysPerStore]] → 8 partitions at the
    * default budget, where the 32-partition batch default was pure
    * fixed overhead (~4× the useful work at sf0.1).
    */
  val ExpectedStateKeys = 512L

  /** State sizing for the STREAM-STREAM interval joins: each join
    * partition carries FOUR state stores (key-to-count and
    * key-with-index per side), so the per-partition fixed cost is ~4×
    * a windowed agg's and the same key count wants fewer partitions —
    * the per-user band rows are a few hundred at gate SFs. Measured
    * (best-of-2 warm, sf0.1): 8 partitions ≈ 2.9 s, 4 ≈ 2.2 s,
    * 2 ≈ 2.1 s per drain; 4 keeps headroom for band growth.
    */
  val JoinBandKeys = 256L

  /** partitions = ceil(expectedKeys / [[TargetKeysPerStore]]), clamped
    * to [1, the session's batch shuffle parallelism] — state sizing
    * should never EXCEED the compute parallelism the session asked for.
    */
  private[graft] def statePartitionsFor(spark: SparkSession, expectedKeys: Long): Int = {
    val batchDefault = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val wanted = math.ceil(expectedKeys.toDouble / TargetKeysPerStore).toInt
    math.max(1, math.min(batchDefault, wanted))
  }

  /** Streaming hourly rollup, complete mode (the streaming twin of
    * Events.hourlyRollup — same result set once drained).
    */
  def hourlyRollup(spark: SparkSession, dir: String): DataFrame = {
    val agg = readEventsStream(spark, dir)
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
           sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
    Streams.drain(agg, OutputMode.Complete(), Streams.stateWidth(spark))
      .orderBy("hour", "event_type")
  }

  /** Arbitrary stateful aggregation with `mapGroupsWithState`: running
    * per-user totals kept in the state store across micro-batches.
    * Emits the updated state per user per batch.
    */
  def userTotals(spark: SparkSession, dir: String): DataFrame = {
    implicit val rowEnc: Encoder[(Long, Long, Double)] =
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaDouble)
    implicit val keyEnc: Encoder[Long] = Encoders.scalaLong
    implicit val outEnc: Encoder[UserTotals] = Encoders.product[UserTotals]
    val updateFn = (userId: Long, rows: Iterator[(Long, Long, Double)],
                    state: GroupState[UserTotals]) => {
      val prev = state.getOption.getOrElse(UserTotals(userId, 0L, 0L))
      var n = prev.n_events
      var cents = prev.value_cents
      rows.foreach { case (_, _, v) => n += 1; cents += math.round(v * 100) }
      val next = UserTotals(userId, n, cents)
      state.update(next)
      next
    }
    val out = readEventsStream(spark, dir)
      .select(col("user_id"), col("event_id"), col("value"))
      .as[(Long, Long, Double)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(updateFn)
    val drained = Streams.drain(out, OutputMode.Update(), Streams.stateWidth(spark))
    // Update mode emits one row per user per batch; the final state per
    // user is the row with the highest n_events (monotone within a user).
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("n_events").desc)
    drained
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("user_id", "n_events", "value_cents")
      .orderBy("user_id")
  }

  /** Event-time sessionization with `flatMapGroupsWithState`: sessions
    * close after a 30-minute silence; completed sessions are emitted
    * as soon as a later event proves the gap, the trailing open
    * session stays in the state store awaiting more data (so for a
    * static input the result is the batch sessionization minus each
    * user's final open session — exactly what a live pipeline would
    * have emitted so far). Money in integer cents, as in
    * [[userTotals]].
    */
  /** `stream_session_window`: per-user gap sessions via the BUILT-IN
    * `session_window` aggregation — the declarative complement to
    * [[sessionizeStream]]'s hand-rolled `mapGroupsWithState`. Spark
    * merges windows whose events fall strictly inside `last + gap`
    * (end-exclusive), so an exactly-30-minute gap STARTS a session
    * here, whereas the batch lag()-formulation breaks only at
    * `gap > 30 min` — the oracle encodes the `>=` rule and seals
    * emission at `session_end + delay <= max event time`, the same
    * watermark model `stream_windowed` proves. State is bounded: a
    * session evicts once the watermark passes its end, which is THE
    * reason this shape survives unbounded ingest while a global batch
    * sessionize over all history cannot.
    */
  def sessionWindows(spark: SparkSession, dir: String): DataFrame = {
    val agg = readEventsStream(spark, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("session_value"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"), col("session_value"))
    Streams.drain(agg, OutputMode.Append(), Streams.stateWidth(spark))
      .orderBy("user_id", "session_start")
  }

  def sessionizeStream(spark: SparkSession, dir: String): DataFrame = {
    implicit val inEnc: Encoder[(Long, Long, Long, Double)] =
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaDouble)
    implicit val keyEnc: Encoder[Long] = Encoders.scalaLong
    implicit val outEnc: Encoder[ClosedSession] = Encoders.product[ClosedSession]
    implicit val stEnc: Encoder[SessState] = Encoders.product[SessState]
    val gapUs = 30L * 60 * 1000000
    val fn = (userId: Long,
              rows: Iterator[(Long, Long, Long, Double)], // user, event_id, ts_us, value
              state: GroupState[SessState]) => {
      val st0 = state.getOption.getOrElse(SessState(0L, None))
      // event-time order within the batch; ties broken by event_id
      val evs = rows.toArray.sortBy(r => (r._3, r._2))
      var sessions = List.empty[OpenSession]
      var open: Option[OpenSession] = st0.open
      evs.foreach { case (_, _, ts, v) =>
        val cents = math.round(v * 100)
        open = open match {
          case Some(o) if ts - o.end_us <= gapUs =>
            Some(o.copy(end_us = ts, n_events = o.n_events + 1, cents = o.cents + cents))
          case Some(closed) =>
            sessions = closed :: sessions
            Some(OpenSession(ts, ts, 1L, cents))
          case None => Some(OpenSession(ts, ts, 1L, cents))
        }
      }
      val closedInOrder = sessions.reverse
      state.update(SessState(st0.emitted + closedInOrder.length, open))
      // emit timestamps as raw µs; converted to timestamps outside the
      // state function (java.sql.Timestamp would truncate to ms)
      closedInOrder.zipWithIndex.iterator.map { case (s, idx) =>
        ClosedSession(userId, st0.emitted + idx + 1, s.n_events, s.start_us, s.end_us, s.cents)
      }
    }
    val out = readEventsStream(spark, dir)
      .select(col("user_id"), col("event_id"),
              unix_micros(col("ts")).as("ts_us"), col("value"))
      .as[(Long, Long, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout)(fn)
    Streams.drain(out, OutputMode.Append(), Streams.stateWidth(spark))
      .select(col("user_id"), col("session_seq"), col("n_events"),
              expr("timestamp_micros(start_us)").as("session_start"),
              expr("timestamp_micros(end_us)").as("session_end"),
              col("value_cents"))
      .orderBy("user_id", "session_seq")
  }

  /** Watermarked tumbling-window counts in append mode: only windows
    * sealed by the 1-hour watermark are emitted, so the result is the
    * hourly rollup minus the trailing unsealed windows — deterministic
    * for a static input.
    */
  def windowedCounts(spark: SparkSession, dir: String): DataFrame = {
    val agg = readEventsStream(spark, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("hour"), col("event_type"), col("n_events"))
    Streams.drain(agg, OutputMode.Append(), Streams.stateWidth(spark))
      .orderBy("hour", "event_type")
  }

  /** Ranks kept per finalized window by [[trendingTopK]]. */
  val TrendK = 3

  /** `stream_topk`: trending event types — the top-[[TrendK]] types of
    * each watermark-FINALIZED hour window. The streaming half is the
    * bounded-state windowed count (watermark evicts each window's
    * state once it seals); the per-window rank runs DOWNSTREAM of the
    * append stream, over the emitted |windows × types| rows — in
    * production that is a foreachBatch/serving-store step, here the
    * drained sink table. Ranking inside the stream itself would need
    * complete mode (unbounded result re-emission); splitting
    * count-then-rank keeps state and output both bounded while
    * emitting each window's leaderboard exactly once.
    */
  def trendingTopK(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val agg = readEventsStream(spark, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("hour"), col("event_type"), col("n_events"))
    Streams.drain(agg, OutputMode.Append(), Streams.stateWidth(spark))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("hour").orderBy(col("n_events").desc, col("event_type")))
        .cast("long"))
      .filter(col("rnk") <= TrendK)
      .orderBy("hour", "rnk")
  }

  /** `stream_ohlc`: the streaming twin of [[graft.operators.Events.ohlcResample]]
    * — per-(type, hour) candles in append mode. Every component is a
    * partial-aggregable monoid (count, min, max, `min_by`/`max_by`
    * over the padded (epoch_us, event_id) composite), so the state
    * store holds ONE row per open window per type and the watermark
    * evicts it at seal time — the same bounded-state contract as the
    * windowed counts, extended to picked-value aggregates. Oracle =
    * the batch candles restricted to the watermark-sealed horizon.
    */
  def ohlcStream(spark: SparkSession, dir: String): DataFrame = {
    val ord = concat(
      lpad(unix_micros(col("ts")).cast("string"), 20, "0"),
      lpad(col("event_id").cast("string"), 12, "0"))
    val agg = readEventsStream(spark, dir)
      .select(col("ts"), col("event_type"), col("value"), ord.as("ord"))
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        expr("min_by(value, ord)").as("open"),
        max("value").as("high"),
        min("value").as("low"),
        expr("max_by(value, ord)").as("close"))
      .select(col("window.start").as("hour"), col("event_type"),
        col("n_events"), col("open"), col("high"), col("low"), col("close"))
    Streams.drain(agg, OutputMode.Append(), Streams.stateWidth(spark))
      .orderBy("event_type", "hour")
  }

  /** STREAM-STREAM interval join: each error event joined to the same
    * user's purchases in the 10 minutes strictly before it, both sides
    * watermarked. The time band is expressed directly on the two
    * event-time columns so Spark recognizes a time-interval join and
    * EVICTS state past `watermark + interval` — the state store holds
    * a bounded sliding band of each side, the requirement for an
    * unbounded a-joins-b pipeline (an unconstrained condition would
    * buffer both streams forever). Inner join in append mode emits
    * each match exactly once; on a drained static input the result
    * equals the batch interval join, which is the oracle.
    */
  def errorPurchaseJoin(spark: SparkSession, dir: String): DataFrame = {
    val errors = readEventsStream(spark, dir)
      .filter(col("event_type") === "error")
      .select(col("event_id").as("error_id"), col("user_id"), col("ts").as("e_ts"))
      .withWatermark("e_ts", "1 hour")
    val purchases = readEventsStream(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
              col("ts").as("p_ts"), col("value").as("p_value"))
      .withWatermark("p_ts", "1 hour")
    val joined = errors.join(purchases,
      col("user_id") === col("p_user") &&
        col("p_ts") >= col("e_ts") - expr("INTERVAL 10 MINUTES") &&
        col("p_ts") < col("e_ts"))
      .select(col("error_id"), col("user_id"), col("purchase_id"),
        col("p_value").cast("decimal(18,2)").cast("double").as("purchase_value"))
    Streams.drain(joined, OutputMode.Append(),
      Streams.stateWidth(spark, JoinBandKeys))
      .orderBy("error_id", "purchase_id")
  }

  /** `stream_error_purchase_outer`: the LEFT OUTER stream-stream
    * interval join — same bounded time-band as the inner twin, plus
    * the "errors with NO preceding purchase" rows a funnel/alerting
    * consumer actually wants. Outer semantics are where streaming
    * departs from batch: a match emits immediately, but a
    * null-extended row can only emit once the WATERMARK proves no
    * future purchase can still arrive for that error (right-side
    * event time < e_ts exhausted ⇔ watermark ≥ e_ts), i.e. at state
    * eviction. Errors inside the final watermark band stay pending
    * forever on a drained static input, so the oracle restricts the
    * UNMATCHED branch to the sealed horizon while keeping every
    * matched row — exactly the rows the drain emits.
    */
  def errorPurchaseLeftOuter(spark: SparkSession, dir: String): DataFrame = {
    val errors = readEventsStream(spark, dir)
      .filter(col("event_type") === "error")
      .select(col("event_id").as("error_id"), col("user_id"), col("ts").as("e_ts"))
      .withWatermark("e_ts", "1 hour")
    val purchases = readEventsStream(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
              col("ts").as("p_ts"), col("value").as("p_value"))
      .withWatermark("p_ts", "1 hour")
    val joined = errors.join(purchases,
      col("user_id") === col("p_user") &&
        col("p_ts") >= col("e_ts") - expr("INTERVAL 10 MINUTES") &&
        col("p_ts") < col("e_ts"), "left_outer")
      .select(col("error_id"), col("user_id"), col("purchase_id"),
        col("p_value").cast("decimal(18,2)").cast("double").as("purchase_value"))
    Streams.drain(joined, OutputMode.Append(),
      Streams.stateWidth(spark, JoinBandKeys))
      .orderBy("error_id", "purchase_id")
  }

  /** `stream_error_purchase_full`: the FULL OUTER stream-stream
    * interval join — both unmatched sides survive: errors with no
    * preceding purchase (the alerting view) AND purchases followed by
    * no error (the healthy-cohort view), in one pass over both
    * streams. Emission timing is side-specific because the state the
    * watermark must exhaust differs: a LEFT null-row needs no purchase
    * in [e_ts − 10 min, e_ts) possible ⇔ wm ≥ e_ts (the left-outer
    * rule); a RIGHT null-row needs no error in (p_ts, p_ts + 10 min]
    * possible ⇔ wm > p_ts + 10 min. The oracle encodes both sealed
    * horizons over the drained static input (boundaries verified
    * empirically at sf0.001 and sf0.01, like the left-outer twin);
    * state stays the same bounded sliding band as the inner join.
    */
  def errorPurchaseFullOuter(spark: SparkSession, dir: String): DataFrame = {
    val errors = readEventsStream(spark, dir)
      .filter(col("event_type") === "error")
      .select(col("event_id").as("error_id"), col("user_id"), col("ts").as("e_ts"))
      .withWatermark("e_ts", "1 hour")
    val purchases = readEventsStream(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
              col("ts").as("p_ts"), col("value").as("p_value"))
      .withWatermark("p_ts", "1 hour")
    val joined = errors.join(purchases,
      col("user_id") === col("p_user") &&
        col("p_ts") >= col("e_ts") - expr("INTERVAL 10 MINUTES") &&
        col("p_ts") < col("e_ts"), "full_outer")
      .select(col("error_id"),
        coalesce(col("user_id"), col("p_user")).as("user_id"),
        col("purchase_id"),
        col("p_value").cast("decimal(18,2)").cast("double").as("purchase_value"))
    Streams.drain(joined, OutputMode.Append(),
      Streams.stateWidth(spark, JoinBandKeys))
      .orderBy("error_id", "purchase_id")
  }

  /** Streaming cardinality sketch: per-type distinct-user estimates on
    * continuous ingest, state BOUNDED at k (hash, user) entries per
    * type no matter how many events arrive — the streaming twin of
    * [[graft.operators.Sketches.approxDistinctUsers]], and the state
    * shape `approx_count_distinct` can't offer differentially (its HLL
    * is engine-private; this bottom-k is md5-deterministic, so the
    * streamed estimate equals the batch/oracle estimate exactly).
    * Bottom-k sets merge losslessly, so per-batch incremental updates
    * converge to the same sketch as one pass over the full history —
    * arrival order and batch boundaries don't matter.
    */
  def approxUsersStream(spark: SparkSession, dir: String): DataFrame = {
    val k = graft.operators.Sketches.KmvK
    implicit val inEnc: Encoder[(String, Long, Long)] =
      Encoders.tuple(Encoders.STRING, Encoders.scalaLong, Encoders.scalaLong)
    implicit val keyEnc: Encoder[String] = Encoders.STRING
    implicit val outEnc: Encoder[KmvEstimate] = Encoders.product[KmvEstimate]
    implicit val stEnc: Encoder[KmvSketch] = Encoders.product[KmvSketch]
    val fn = (tpe: String, rows: Iterator[(String, Long, Long)],
              state: GroupState[KmvSketch]) => {
      val st0 = state.getOption.getOrElse(KmvSketch(0L, Nil))
      var entries = st0.entries
      var n = st0.n_rows
      val ord = Ordering.Tuple2[Long, Long]
      rows.foreach { case (_, h, user) =>
        n += 1
        val e = (h, user)
        // steady-state cheap reject: once the sketch is full, anything
        // at or above the current k-th minimum can't change it —
        // skip the contains scan + re-sort (>= also drops duplicates
        // of the k-th entry itself)
        val full = entries.lengthCompare(k) >= 0
        if (!(full && ord.gteq(e, entries.last)) && !entries.contains(e)) {
          val merged = (e :: entries).sortBy(identity)
          entries = if (merged.lengthCompare(k) > 0) merged.take(k) else merged
        }
      }
      state.update(KmvSketch(n, entries))
      val est =
        if (entries.length < k) entries.length.toLong
        else math.round((k - 1) * 4294967296.0 / math.max(entries.last._1, 1L))
      KmvEstimate(tpe, n, est)
    }
    val h = conv(substring(md5(concat(lit("kmv:"), col("user_id").cast("string"))), 1, 8),
                 16, 10).cast("long")
    val out = readEventsStream(spark, dir)
      .select(col("event_type"), h.as("h"), col("user_id"))
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(fn)
    val drained = Streams.drain(out, OutputMode.Update(), Streams.stateWidth(spark))
    // Update mode emits one row per type per batch; the final state is
    // the row with the highest n_rows (strictly monotone within a key).
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy(col("n_rows").desc)
    drained
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("event_type", "est_users")
      .orderBy("event_type")
  }

  /** `stream_heavy_hitters`: the COUNT-MIN sketch maintained on a
    * stream — the frequency companion to [[approxUsersStream]]'s
    * cardinality sketch, closing the last batch-only sketch shape.
    * The counter grid is a plain streaming aggregation over the
    * (row, bucket) coordinates: CM counters merge by ADDITION, which
    * is exactly what incremental state-store aggregation does, so the
    * state is the bounded [[graft.operators.Sketches.CmsRows]]×
    * [[graft.operators.Sketches.CmsWidth]] = 256-cell grid however
    * many events arrive, and the drained grid equals the one-pass
    * batch grid REGARDLESS of micro-batch boundaries (associative +
    * commutative merge — the [[approxUsersStream]] convergence
    * contract). The candidate probe + top-k cut run DOWNSTREAM of the
    * stream over the 256-row grid (in production: the serving-store
    * step, as [[trendingTopK]]'s rank) — estimate-only, the
    * [[graft.operators.Sketches.heavyHittersServe]] production shape,
    * whose oracle gates this twin too.
    */
  def streamHeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sketches
    val grid = readEventsStream(spark, dir)
      .select(explode(Sketches.rowBuckets(col("user_id"))).as("rb"))
      .groupBy(col("rb.j").as("j"), col("rb.b").as("b"))
      .agg(count(lit(1)).as("cnt"))
    // Complete mode re-emits the whole (≤256-row) grid per batch; the
    // drained table is the final full-history sketch
    Sketches.probeSketchTopK(spark, dir,
      Streams.drain(grid, OutputMode.Complete(), Streams.stateWidth(spark)))
  }

  /** `stream_sketch_maintain`: the DURABLE-store twin of
    * [[streamHeavyHitters]] — where that query keeps the grid as
    * streaming state, this one maintains the on-disk daily sketch
    * store under streaming ingest: each micro-batch builds its own
    * per-day partial grids (bounded: ≤ 256 counters per day touched)
    * and APPENDS them as day-partitioned rows. A day split across
    * micro-batches leaves several partial rows per (day, j, b) — the
    * serve-time merge sums cells anyway, and counter addition is
    * associative over ANY partition of the events, so the drained
    * store serves exactly the one-shot grid and shares its oracle.
    * Completes the lifecycle grid: every durable store (postings,
    * sketches, ANN index, keep-list) now has batch AND streaming
    * maintenance.
    */
  def streamSketchMaintain(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Kernels, Sketches}
    val tmp = java.nio.file.Files.createTempDirectory("graft-stream-sketch")
    // per-call store: ingest + serve run inside the finally so a
    // failure anywhere never leaks the dir; the serve result is an
    // eager checkpoint leaf with no dependency on the deleted store
    try {
      Streams.drainBatches(readEventsStream(spark, dir).select(col("ts"), col("user_id"))) {
        (batch, _) =>
          Sketches.dailyCmsGridsOf(batch)
            .write.mode("append").partitionBy("day").parquet(s"$tmp/cms")
      }
      val merged = spark.read.parquet(s"$tmp/cms")
        .groupBy("j", "b").agg(sum("cnt").as("cnt"))
      graft.operators.Kernels.trackedCheckpoint(
        Sketches.probeSketchTopK(spark, dir, merged))
    } finally Kernels.rmTree(tmp.toFile)
  }
}
