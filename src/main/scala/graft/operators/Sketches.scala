package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Approximate-aggregate sketches (north star; SURVEY §2.5 notes the
  * reference has no approx aggregates).
  *
  * Built-in sketches (`approx_count_distinct`'s HLL++, DuckDB's
  * `approx_distinct`) are engine-specific — their estimates can't be
  * differentially tested. This KMV (k-minimum-values / bottom-k)
  * sketch is deterministic by construction: the "random" permutation
  * is md5, so Spark and the oracle compute the SAME estimate
  * bit-for-bit, giving an approx-distinct operator that still passes
  * an exact hash-match gate. Estimator (Bar-Yossef et al. 2002): with
  * h_k the k-th smallest of the distinct values' 32-bit hashes,
  * |D| ≈ (k−1)·2^32 / h_k; exact when a group has < k distinct values.
  */
object Sketches {

  val KmvK = 32
  private val HashSpace = 4294967296.0 // 2^32

  /** The shared KMV permutation: md5 of the salted user id, first 8 hex
    * chars as a 32-bit integer. Every sketch variant (batch, merge,
    * streaming) and every oracle MUST use exactly this hash — the
    * differential gate rests on all copies computing the same estimate.
    */
  private[graft] def kmvHash(user: Column): Column =
    conv(substring(md5(concat(lit("kmv:"), user.cast("string"))), 1, 8), 16, 10)
      .cast("long")

  /** The shared estimator: exact below k (the sketch holds every
    * distinct value), else (k−1)·2^32 / h_k with h_k read from the
    * bottom-k array (stored as score = −h).
    */
  private def kmvEstimate(mins: Column, nDistinct: Column): Column = {
    val hk = -element_at(mins, KmvK).getField("score")
    when(nDistinct < KmvK, nDistinct.cast("double"))
      .otherwise(round(lit((KmvK - 1) * HashSpace) / greatest(hk, lit(1.0)), 0))
      .cast("long")
  }

  /** `events_approx_users`: estimated vs exact distinct users per
    * event type, with the sketch's relative error — the operator a
    * 100 TB pipeline runs to size dedup/join strategies before paying
    * for them.
    *
    * Scale shape: the one full shuffle is the (event_type, user_id)
    * distinct (map-side partial); the bottom-k itself is the bounded
    * [[graft.functions.TopKByScore]] aggregate (score = −hash), so its
    * exchange carries ≤ k rows per (group, map task) — the sketch
    * never materializes a per-group sort the way a window row_number
    * would. (The exact count rides the same aggregate for the error
    * column; a production sketch would drop it and be fully bounded.)
    */
  def approxDistinctUsers(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TopKFunctions.topK
    Tables.events(spark, dir)
      .select(col("event_type"), col("user_id")).distinct()
      .select(col("event_type"), col("user_id"), kmvHash(col("user_id")).as("h"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("exact_users"),
           topK(spark, -col("h").cast("double"), col("user_id"), lit(KmvK)).as("mins"))
      .select(col("event_type"), col("exact_users"),
        kmvEstimate(col("mins"), col("exact_users")).as("est_users"))
      .select(col("event_type"), col("exact_users"), col("est_users"),
        round(abs(col("est_users").cast("double") - col("exact_users")) /
          col("exact_users"), 4).as("rel_err"))
      .orderBy("event_type")
  }

  /** `events_approx_users_union`: global distinct-user estimate from
    * MERGED per-type sketches — the mergeability property that makes
    * sketches distributable. Bottom-k sketches merge exactly: the
    * bottom-k of a union is the bottom-k of the concatenated per-part
    * bottom-k's (each with duplicates collapsed), so the merged
    * estimate EQUALS the estimate a single sketch of the whole stream
    * would produce — which is what the oracle computes directly. The
    * merge input is |types|·k rows, driver-independent and tiny.
    */
  def approxUsersUnion(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TopKFunctions.topK
    val d = Tables.events(spark, dir)
      .select(col("event_type"), col("user_id")).distinct()
      .select(col("event_type"), col("user_id"), kmvHash(col("user_id")).as("h"))
    // per-type sketches (the "partitions" being merged)
    val perType = d.groupBy("event_type")
      .agg(topK(spark, -col("h").cast("double"), col("user_id"), lit(KmvK)).as("mins"))
    // exact global count rides the same lazy plan (error column only) —
    // a 1-row aggregate cross-joined onto the 1-row merged sketch
    val exact = d.select(col("user_id")).distinct()
      .agg(count(lit(1)).as("exact_users"))
    val merged = perType
      .select(explode(col("mins")).as("m"))
      .select((-col("m.score")).as("h"), col("m.id").as("user_id"))
      .distinct() // the same user may sit in several per-type sketches
      .agg(topK(spark, -col("h").cast("double"), col("user_id"), lit(KmvK)).as("mins"),
           count(lit(1)).as("n_merged"))
    merged.crossJoin(exact)
      .select(col("exact_users"),
        kmvEstimate(col("mins"), col("n_merged")).as("est_users"))
      .select(col("exact_users"), col("est_users"),
        round(abs(col("est_users").cast("double") - col("exact_users")) /
          col("exact_users"), 4).as("rel_err"))
  }

  val HistBins = 256

  /** `events_approx_quantiles`: quantile estimates from an equi-width
    * histogram sketch — the bounded-state companion to the EXACT
    * [[Events.valueQuantiles]] (whose `percentile` materializes every
    * group value). State per group is [[HistBins]] counters however
    * large the group; counters partial-aggregate map-side and merge by
    * addition, the distributed-sketch contract. Like the KMV sketch,
    * the estimator is fully deterministic (bin edges from exact
    * min/max, integer cumulative counts, one closed-form interpolation
    * per point), so the approximation itself hash-matches the oracle —
    * `approx_percentile`'s t-digest could not be differentially
    * tested. Estimate = right edge of the first bin whose cumulative
    * count reaches ceil(p·n) — within one bin width of the order
    * statistic at that rank ((mx−mn)/256, emitted as `max_err`; a
    * rank-interpolating definition like R-7 can sit further away in a
    * sparse tail, a definition difference rather than sketch error).
    */
  def approxQuantilesHist(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select(col("event_type"), col("value"))
    val stats = ev.groupBy("event_type")
      .agg(min("value").as("mn"), max("value").as("mx"), count(lit(1)).as("n"))
    val binned = ev.join(broadcast(stats), Seq("event_type"))
      .select(col("event_type"), col("n"), col("mn"), col("mx"),
        when(col("mx") > col("mn"),
          least(lit(HistBins - 1L),
            floor((col("value") - col("mn")) / (col("mx") - col("mn")) * HistBins)))
          .otherwise(lit(0L)).as("bin"))
    val cum = binned
      .groupBy(col("event_type"), col("n"), col("mn"), col("mx"), col("bin"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("cum",
        sum(col("cnt")).over(Window.partitionBy("event_type").orderBy("bin")))
    def bq(p: Double, name: String) =
      min(when(col("cum") >= ceil(lit(p) * col("n")), col("bin"))).as(name)
    def est(b: String) =
      round(col("mn") + (col(b) + 1) * (col("mx") - col("mn")) / HistBins, 4)
    cum
      .groupBy(col("event_type"), col("n"), col("mn"), col("mx"))
      .agg(bq(0.5, "b50"), bq(0.9, "b90"), bq(0.99, "b99"))
      .select(col("event_type"), col("n").as("n_events"),
        est("b50").as("p50_est"), est("b90").as("p90_est"), est("b99").as("p99_est"),
        round((col("mx") - col("mn")) / HistBins, 4).as("max_err"))
      .orderBy("event_type")
  }

  /** Count-min rows / buckets: 4 independent md5 hash rows × 64
    * counters — 256 integers of state however many events arrive, the
    * ε=e/w, δ=e^−d point of Cormode & Muthukrishnan 2005.
    */
  val CmsRows = 4
  val CmsWidth = 64L
  val HeavyHittersK = 20

  /** Row-j bucket of a user id: md5("cms<j>:" + id), first 8 hex chars
    * as a 32-bit int, mod width — the same deterministic-permutation
    * trick as [[kmvHash]], replayed verbatim by the oracle.
    */
  private def cmsBucket(j: Int, user: Column): Column =
    pmod(conv(substring(md5(concat(lit(s"cms$j:"), user.cast("string"))), 1, 8), 16, 10)
      .cast("long"), lit(CmsWidth))

  /** All [[CmsRows]] (row, bucket) coordinates of a key — shared by
    * the batch build, the probe, and the streaming twin's build.
    */
  private[graft] def rowBuckets(user: Column): Column = array(
    (0 until CmsRows).map(j => struct(lit(j).as("j"), cmsBucket(j, user).as("b"))): _*)

  /** The batch-built counter grid (j, b, cnt) — ≤ 256 rows. */
  private[graft] def cmsGrid(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir).select("user_id")
      .select(explode(rowBuckets(col("user_id"))).as("rb"))
      .groupBy(col("rb.j").as("j"), col("rb.b").as("b"))
      .agg(count(lit(1)).as("cnt"))

  /** Probe a prebuilt CM grid with every candidate key and keep the
    * top-[[HeavyHittersK]] by estimate — the SERVING half, shared by
    * [[heavyHittersServe]] and the streaming twin's downstream step
    * ([[graft.streaming.EventStream.streamHeavyHitters]]). Estimate
    * only: no exact counts anywhere — the shape that runs at 100 TB.
    */
  private[graft] def probeSketchTopK(
      spark: SparkSession, dir: String, sketch: DataFrame): DataFrame =
    Tables.events(spark, dir).select("user_id").distinct()
      .select(col("user_id"), explode(rowBuckets(col("user_id"))).as("rb"))
      .join(broadcast(sketch),
        col("rb.j") === col("j") && col("rb.b") === col("b"))
      .groupBy("user_id")
      .agg(min("cnt").as("est_cnt"))
      .orderBy(col("est_cnt").desc, col("user_id"))
      .limit(HeavyHittersK)
      // rank the K survivors WITHOUT a window: the post-limit frame is
      // HeavyHittersK rows, collapsed to one sorted array whose
      // position IS the rank — no single-partition WindowExec at all
      .agg(sort_array(collect_list(struct(
        (-col("est_cnt")).as("neg"), col("user_id")))).as("xs"))
      .select(posexplode(col("xs")).as(Seq("pos", "x")))
      .select((col("pos") + 1).cast("long").as("rnk"),
        col("x.user_id").as("user_id"), (-col("x.neg")).as("est_cnt"))
      .orderBy("rnk")

  /** `events_heavy_hitters_serve`: the PRODUCTION heavy-hitters query —
    * estimate-only. [[heavyHitters]]'s `exact_cnt` / `never_under`
    * columns are DIFFERENTIAL-GATE artifacts (they exist so the oracle
    * can pin the one-sided-error invariant); at scale the exact
    * per-key count is precisely the aggregation the sketch exists to
    * avoid, so the serving query drops that branch entirely: build the
    * 256-counter grid in one pass, probe candidates, keep the top-k.
    * Spec-asserted est-identical to the gated query's estimates, and
    * oracle-gated on its own (the same CTE chain minus the exact
    * columns).
    */
  def heavyHittersServe(spark: SparkSession, dir: String): DataFrame =
    probeSketchTopK(spark, dir, cmsGrid(spark, dir))

  /** `events_heavy_hitters`: top-[[HeavyHittersK]] users by COUNT-MIN
    * estimated event count — the frequency-sketch companion to the
    * KMV cardinality and histogram quantile sketches, completing the
    * family (cardinality / quantiles / frequency).
    *
    * Sketch shape at 100 TB: the build is ONE pass over events that
    * partial-aggregates map-side into [[CmsRows]]·[[CmsWidth]] = 256
    * counters — the exchange carries ≤ 256 rows per map task and the
    * sketch itself broadcasts everywhere (CM sketches also merge by
    * cell-wise addition, so per-shard sketches combine losslessly —
    * same distributive contract the KMV union query demonstrates).
    * The probe side enumerates candidate keys (here: every distinct
    * user, with its exact count riding along as the differential
    * column; a 100 TB run feeds per-partition local heavy hitters
    * instead — the sketch answers any candidate set after one build).
    * est = min over rows of the key's bucket counter, which can only
    * OVER-estimate (collisions add, never subtract) — the `never_under`
    * verdict pins that invariant into the hash gate exactly like the
    * GK rank-error verdicts. The top-k cut is orderBy+limit
    * (TakeOrderedAndProject: per-partition heaps, no global sort); the
    * rank window then sees only the K survivors. Like every sketch
    * here, the md5 permutations make the estimate itself engine-exact,
    * so the approximation hash-matches the oracle rather than being
    * rows-only-checked.
    *
    * NOTE: `exact_cnt` and `never_under` are DIFFERENTIAL-GATE
    * artifacts — the exact per-key count is the very aggregation the
    * sketch avoids at 100 TB. The production query is
    * [[heavyHittersServe]], which drops that branch; this gated form
    * exists to pin the sketch's one-sided error against the oracle.
    */
  def heavyHitters(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select("user_id")
    val sketch = cmsGrid(spark, dir)
    val users = ev.groupBy("user_id").agg(count(lit(1)).as("exact_cnt"))
    val est = users
      .select(col("user_id"), col("exact_cnt"),
        explode(rowBuckets(col("user_id"))).as("rb"))
      .join(broadcast(sketch),
        col("rb.j") === col("j") && col("rb.b") === col("b"))
      .groupBy("user_id", "exact_cnt")
      .agg(min("cnt").as("est_cnt"))
    // top-k FIRST (orderBy+limit plans as TakeOrderedAndProject — per-
    // partition heaps, never a full sort), THEN rank the K survivors:
    // the rank window runs on a K-row frame instead of dragging every
    // distinct key to one partition
    est
      .orderBy(col("est_cnt").desc, col("user_id"))
      .limit(HeavyHittersK)
      // rank via sorted-array position, not a window (probeSketchTopK's
      // pattern): K-row bound by construction, zero WindowExec
      .agg(sort_array(collect_list(struct((-col("est_cnt")).as("neg"),
        col("user_id"), col("exact_cnt")))).as("xs"))
      .select(posexplode(col("xs")).as(Seq("pos", "x")))
      .select((col("pos") + 1).cast("long").as("rnk"),
        col("x.user_id").as("user_id"), (-col("x.neg")).as("est_cnt"),
        col("x.exact_cnt").as("exact_cnt"),
        (-col("x.neg") >= col("x.exact_cnt")).cast("long").as("never_under"))
      .orderBy("rnk")
  }

  // -------------------------------------------------------------------
  // Durable daily sketch store: the production shape for sketches at
  // 100 TB — build one bounded sketch PER DAY as data lands, persist
  // it, answer global questions by MERGING stored sketches (CM grids
  // merge by cell-wise addition, bottom-k sketches by union + re-cut;
  // both merges are LOSSLESS, so the served answer equals a one-shot
  // global sketch exactly). History is never rescanned: day N+1 adds
  // one day-sized build, and the serve path reads |days| × bounded-
  // size rows however large the corpus grows.

  /** Per-day CM counter grids — ≤ 256 counters per day regardless of
    * that day's event count, partial-aggregated map-side.
    */
  private[graft] def dailyCmsGrids(spark: SparkSession, dir: String): DataFrame =
    dailyCmsGridsOf(Tables.events(spark, dir))

  /** The per-day grid build over ANY events-shaped frame — the
    * day-sliced form is what the maintenance twin appends per ingest
    * day.
    */
  private[graft] def dailyCmsGridsOf(events: DataFrame): DataFrame =
    events
      .select(to_date(col("ts")).as("day"), col("user_id"))
      .select(col("day"), explode(rowBuckets(col("user_id"))).as("rb"))
      .groupBy(col("day"), col("rb.j").as("j"), col("rb.b").as("b"))
      .agg(count(lit(1)).as("cnt"))

  /** Per-day KMV bottom-k sketches — one ≤ k-entry array per day. */
  private[graft] def dailyKmvSketches(spark: SparkSession, dir: String): DataFrame =
    dailyKmvSketchesOf(Tables.events(spark, dir))

  private[graft] def dailyKmvSketchesOf(events: DataFrame): DataFrame = {
    import graft.functions.TopKFunctions.topK
    val spark = events.sparkSession
    events
      .select(to_date(col("ts")).as("day"), col("user_id")).distinct()
      .select(col("day"), col("user_id"), kmvHash(col("user_id")).as("h"))
      .groupBy("day")
      .agg(topK(spark, -col("h").cast("double"), col("user_id"), lit(KmvK)).as("mins"))
  }

  /** Materializes both sketch families to `path`, the CM grids
    * partitioned by day — the layout under which "ingest day N+1"
    * is one new partition write and a global question never touches
    * raw history.
    */
  def writeSketchStore(spark: SparkSession, dir: String, path: String): Unit = {
    dailyCmsGrids(spark, dir)
      .write.mode("overwrite").partitionBy("day").parquet(s"$path/cms")
    dailyKmvSketches(spark, dir)
      .write.mode("overwrite").parquet(s"$path/kmv")
  }

  /** Store root under a fingerprinted temp dir, built once per
    * (corpus, JVM) — the gate-facing wrapper (production calls
    * [[writeSketchStore]] with a warehouse path).
    */
  def ensureSketchStore(spark: SparkSession, dir: String): String =
    Kernels.buildStore("graft-sketch-store", Kernels.inputKey(dir, "events.parquet"))(
      writeSketchStore(spark, dir, _))

  /** `events_heavy_hitters_daily`: heavy hitters served from the
    * stored per-day CM grids — cell-wise addition reassembles the
    * global 256-counter grid, then the shared probe/cut runs
    * unchanged. Counter addition is associative and the day
    * partition covers every event exactly once, so the merged grid
    * EQUALS the one-shot grid and the answer hash-matches
    * [[heavyHittersServe]]'s oracle (spec-pinned too).
    */
  def heavyHittersDaily(spark: SparkSession, dir: String): DataFrame =
    heavyHittersFromCms(spark, dir, Tables.parquet(spark, s"${ensureSketchStore(spark, dir)}/cms"))

  /** Shared CM serve body: cell-wise addition over the stored `grids`
    * reassembles the global grid, then the shared probe/cut runs
    * unchanged — one implementation behind the daily, compacted,
    * maintained and stream-maintained serve twins.
    */
  private[graft] def heavyHittersFromCms(
      spark: SparkSession, dir: String, grids: DataFrame): DataFrame =
    probeSketchTopK(spark, dir, grids.groupBy("j", "b").agg(sum("cnt").as("cnt")))

  /** Shared KMV serve body: union the stored per-unit bottom-k
    * `sketches` (collapsing users seen in several units), re-cut to
    * the global bottom-k, estimate. The exact count rides for the
    * gate's `rel_err` column only.
    */
  private def approxUsersFromKmv(
      spark: SparkSession, dir: String, sketches: DataFrame): DataFrame = {
    import graft.functions.TopKFunctions.topK
    val merged = sketches
      .select(explode(col("mins")).as("m"))
      .select((-col("m.score")).as("h"), col("m.id").as("user_id"))
      .distinct()
      .agg(topK(spark, -col("h").cast("double"), col("user_id"), lit(KmvK)).as("mins"),
           count(lit(1)).as("n_merged"))
    val exact = Tables.events(spark, dir).select("user_id").distinct()
      .agg(count(lit(1)).as("exact_users"))
    merged.crossJoin(exact)
      .select(col("exact_users"),
        kmvEstimate(col("mins"), col("n_merged")).as("est_users"))
      .select(col("exact_users"), col("est_users"),
        round(abs(col("est_users").cast("double") - col("exact_users")) /
          col("exact_users"), 4).as("rel_err"))
  }

  /** `events_approx_users_daily`: the global distinct-user estimate
    * from the stored per-day KMV sketches — union the stored bottom-k
    * entries (collapsing users seen on several days), re-cut to the
    * bottom-k, estimate. Lossless for the same reason as
    * [[approxUsersUnion]]: the global bottom-k survives inside the
    * concatenation of per-day bottom-k's. Same output contract, same
    * oracle. The exact count rides along for the `rel_err` gate
    * column only — production drops it and reads NOTHING but the
    * store.
    */
  def approxUsersDaily(spark: SparkSession, dir: String): DataFrame =
    approxUsersFromKmv(spark, dir, Tables.parquet(spark, s"${ensureSketchStore(spark, dir)}/kmv"))

  // -------------------------------------------------------------------
  // Store MAINTENANCE — the docstring's "ingest day N+1 is one new
  // partition write" claim, made real and gate-checked: the store is
  // first built over the HISTORY days in one pass, then each remaining
  // day arrives as its own ingest — a day-sized build appended as new
  // day partitions, history never rescanned. Per-day builds are
  // day-local (the grid and the bottom-k read only that day's events),
  // so the maintained store equals the one-shot daily store
  // table-for-table and the serve twins share the daily oracles.

  /** Number of trailing days treated as incrementally-ingested. */
  private[graft] val IngestTailDays = 5

  /** Builds the daily store at `path` incrementally: one history
    * build as batch 0, then one day-sized append per ingest-tail day,
    * tail day i as batch i ([[Store.append]]). The day
    * list is a driver-side collect, and its bound is the CALENDAR,
    * not the data: one row per distinct event day, so a decade of
    * history is < 4,000 values no matter how many events each day
    * holds — and the list exists to drive control flow (one ingest
    * WRITE JOB per tail day), which is inherently driver-side; a join
    * cannot sequence jobs. The serve path reads the same bound.
    */
  private[graft] def writeMaintainedSketchStore(
      spark: SparkSession, dir: String, path: String): Unit = {
    val ev = Tables.events(spark, dir)
    val days = ev.select(to_date(col("ts")).as("day")).distinct()
      .orderBy("day").collect().map(_.getDate(0))
    require(days.length > IngestTailDays, s"need > $IngestTailDays days")
    val cut = days(days.length - IngestTailDays - 1)
    def ingest(bid: Long, events: DataFrame): Unit = {
      appendCmsBatch(events, bid, path)
      Store.append(path, "kmv", bid)(dailyKmvSketchesOf(events))
    }
    ingest(0, ev.filter(to_date(col("ts")) <= lit(cut)))
    // the ingest step: ONE day's events in, one day partition out
    days.filter(_.after(cut)).zipWithIndex.foreach { case (d, i) =>
      ingest(i + 1, ev.filter(to_date(col("ts")) === lit(d)))
    }
  }

  /** One ingest batch's per-day CM grids, appended under batch `bid`
    * into the `cms` table at `root` — the per-batch body of the
    * maintained store and of its stream twin.
    */
  private[graft] def appendCmsBatch(events: DataFrame, bid: Long, root: String): Unit =
    Store.append(root, "cms", bid, "day")(dailyCmsGridsOf(events))

  private[graft] def ensureMaintainedSketchStore(
      spark: SparkSession, dir: String): String =
    Kernels.buildStore("graft-sketch-maint", Kernels.inputKey(dir, "events.parquet"))(
      writeMaintainedSketchStore(spark, dir, _))

  /** `events_heavy_hitters_maintain`: heavy hitters served from the
    * INCREMENTALLY-built store — same merge + probe as
    * [[heavyHittersDaily]], same oracle; the store behind it was
    * built day-appends-only past the history cut.
    */
  def heavyHittersMaintain(spark: SparkSession, dir: String): DataFrame =
    heavyHittersFromCms(spark, dir,
      Store.read(spark, ensureMaintainedSketchStore(spark, dir), "cms"))

  /** `events_approx_users_maintain`: the global distinct estimate from
    * the incrementally-built store's per-day KMV sketches — the
    * [[approxUsersDaily]] union + re-cut + estimate over the
    * maintained `kmv` table; same oracle (the maintained store equals
    * the one-shot store table-for-table).
    */
  def approxUsersMaintain(spark: SparkSession, dir: String): DataFrame =
    approxUsersFromKmv(spark, dir,
      Store.read(spark, ensureMaintainedSketchStore(spark, dir), "kmv"))

  // -------------------------------------------------------------------
  // Store COMPACTION — the consolidation step an append-only store
  // needs in production: per-day partitions accumulate forever (10
  // years of ingest = 3650 day-partitions, each holding small files
  // from its own write), so periodically the store is rolled up into
  // coarser units. For sketches the rollup is not a file rewrite but a
  // SKETCH MERGE: CM grids add cell-wise, bottom-k sketches union +
  // re-cut — both lossless, so a store compacted day→week (or →month)
  // serves bit-identical answers from |weeks| partitions instead of
  // |days|. The same `hhServeSql` / `kmvUnionSql` oracle texts gate
  // the compacted serve paths, which is the losslessness proof.

  /** Rolls the daily store at `root` up into an ISO-week store at
    * `root/compact`: CM grids merge by cell-wise counter addition
    * (groupBy week,j,b), KMV sketches by union + re-cut to bottom-k.
    * Each week partition is written as ONE file (a week's grid is
    * ≤ 256 rows, its KMV sketch one row — consolidation is the point),
    * so the compacted store holds |weeks| files however many daily
    * append files accumulated. Returns the compacted root.
    *
    * Losslessness: counter addition is associative (day→week→global
    * equals day→global), and the global bottom-k survives inside the
    * union of per-week bottom-k's because each week's cut only drops
    * hashes that lose to k smaller hashes ALSO in that week — which
    * are in the union too. The `n_merged` tie-break in
    * [[kmvEstimate]] is likewise unaffected: it only matters below
    * k entries, where no cut is active at any granularity.
    */
  def compactSketchStore(spark: SparkSession, root: String): String = {
    import graft.functions.TopKFunctions.topK
    val croot = s"$root/compact"
    Tables.parquet(spark, s"$root/cms")
      .withColumn("week", date_trunc("week", col("day")).cast("date"))
      .groupBy("week", "j", "b").agg(sum("cnt").as("cnt"))
      .repartition(col("week"))
      .write.mode("overwrite").partitionBy("week").parquet(s"$croot/cms")
    Tables.parquet(spark, s"$root/kmv")
      .withColumn("week", date_trunc("week", col("day")).cast("date"))
      .select(col("week"), explode(col("mins")).as("m"))
      .select(col("week"), (-col("m.score")).as("h"), col("m.id").as("user_id"))
      .distinct() // a user's hash may sit in several day sketches
      .groupBy("week")
      .agg(topK(spark, -col("h").cast("double"), col("user_id"), lit(KmvK)).as("mins"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$croot/kmv")
    croot
  }

  /** The compacted store root for `dir` — daily store built (or
    * memo-hit) first, then compacted once per (corpus, JVM).
    */
  private[graft] def ensureCompactedStore(spark: SparkSession, dir: String): String =
    Kernels.memo("sketch-compact", Kernels.inputKey(dir, "events.parquet"))(
      compactSketchStore(spark, ensureSketchStore(spark, dir)))

  /** `events_heavy_hitters_compact`: heavy hitters served from the
    * COMPACTED (weekly) store — cell-wise addition over |weeks| grids
    * reassembles the same global grid the daily path builds, so the
    * answer (and its `hhServeSql` oracle) is unchanged while the
    * store behind it shrank from |days| partitions of appended small
    * files to one file per week.
    */
  def heavyHittersCompact(spark: SparkSession, dir: String): DataFrame =
    heavyHittersFromCms(spark, dir, Tables.parquet(spark, s"${ensureCompactedStore(spark, dir)}/cms"))

  /** `events_approx_users_compact`: the global distinct estimate from
    * the compacted weekly KMV sketches — same union + re-cut +
    * estimate as [[approxUsersDaily]], reading |weeks| rows instead
    * of |days|. Exact columns ride for the gate only.
    */
  def approxUsersCompact(spark: SparkSession, dir: String): DataFrame =
    approxUsersFromKmv(spark, dir, Tables.parquet(spark, s"${ensureCompactedStore(spark, dir)}/kmv"))
}
