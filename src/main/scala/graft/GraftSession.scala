package graft

import org.apache.spark.sql.SparkSession

/** The single SparkSession.Builder every graft entry point starts
  * from. The settings here are CORRECTNESS-BEARING, not tuning:
  *
  *  - `spark.sql.legacy.parquet.nanosAsLong` — round ≤5 testdata ships
  *    `events.ts` as parquet TIMESTAMP(NANOS), which Spark 4 refuses
  *    to read without this flag; [[Tables.normalizeEventTs]] then
  *    dispatches on the loaded type. An entry point built without the
  *    flag throws at read time on nanos data (the failure mode a
  *    round-6 driver re-encode exposed).
  *  - session timezone pinned UTC — the NTZ-encoding normalization and
  *    every date_trunc/window boundary depend on it matching DuckDB.
  *  - `graft.GraftExtensions` — registers the codegen'd SQL functions
  *    (graft_dot, graft_overlap, graft_topk) queries assume exist, and
  *    the exact-decimal optimizer rule. The rule is result-identical to
  *    Spark's decimal casts, products and sums, so it is not a knob:
  *    only the time a money query takes depends on it.
  *
  * Every `main` runs on [[deployment]] and wraps each query in
  * [[step]]; tests and the benchmark harness build through [[builder]]
  * with their own master. Building a raw `SparkSession.builder()`
  * instead is how one of the three flags gets forgotten (this helper
  * exists because a doc note alone only guards humans who read it).
  */
object GraftSession {
  def builder(master: String, shufflePartitions: String): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      // Let AQE re-optimize CACHED plan materialization too (default
      // false): cache materialization otherwise runs its exchanges at
      // the literal shuffle-partition conf with no coalescing, so every
      // iterative loop that caches its per-round frame (connected
      // components, pagerank, textrank) ran near-empty full-width
      // stages per round. Result-identical — only the cached layout's
      // partition count changes; the explicit repartition(n, key) pins
      // (sizedKeyedCache slim layouts, loop edge caches) carry an
      // explicit count and are never AQE-coalesced. Measured (r19):
      // graph_knn_components −30-39%, total −7% over the six
      // loop-bound queries, at both A/B pairs.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")

  /** The session every `main` runs on: `local[$SPARK_GRAFT_CPUS]` with
    * as many shuffle partitions, WARN logging, and a size-BASED
    * broadcast decision sized for the deployment: its executors
    * comfortably hold a 64 MB build side, while fact tables at the
    * target scale still exceed it and shuffle. (The default 10 MB
    * static threshold compares Spark's in-memory size ESTIMATE, which
    * for the sf0.1 orders scan sits just above 10 MB — a 2.7 MB parquet
    * file was shuffling both facts.)
    */
  def deployment(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val broadcastBytes = (64 * 1024 * 1024).toString
    val spark = builder(s"local[$cpus]", cpus)
      .config("spark.sql.autoBroadcastJoinThreshold", broadcastBytes)
      .config("spark.sql.adaptive.autoBroadcastJoinThreshold", broadcastBytes)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** One query of a `main`'s loop: runs `body`, and on a throw reports
    * `[tool] query failed: <class>: <message>` to stderr and returns
    * None, so one failing query never ends the run. Either way it then
    * retires the query's caches — dedup builders pin SF-sized frames
    * that must not outlive their query (leaking them taxed the whole
    * bench tail 2-4x) — and runs a driver GC, because ContextCleaner
    * only reaps dead broadcast and shuffle state on driver GC and a
    * large heap may never collect in a whole run (the accumulated dead
    * blocks squeezed execution memory up to 8x on late queries).
    */
  def step[T](tool: String, query: String)(body: => T): Option[T] =
    try Some(body)
    catch {
      case e: Throwable =>
        System.err.println(s"[$tool] $query failed: ${e.getClass.getName}: ${e.getMessage}")
        None
    } finally {
      graft.operators.Dedup.retireCaches()
      System.gc()
    }
}
