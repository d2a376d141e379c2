package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

/** The one place an operator runs a stream to completion. Every stream
  * operator in this package builds its frame and hands it here; the
  * drain owns everything the run leaves behind, so re-running a query,
  * or running two at once, changes nothing:
  *
  *  - the query starts on the CALLER's session (its listeners see the
  *    query's progress), with a checkpoint dir created per drain and
  *    deleted on every exit path;
  *  - the conf overrides it is given (state-store width, hash joins in
  *    micro-batch plans) are set before `start()` — batch 0 plans at
  *    launch — and restored after `stop()`, to the pre-drain value or
  *    to unset, all under ONE lock. Overrides are session-wide while
  *    they hold, so drains take the lock one at a time: a second drain
  *    never starts under the first one's overrides or restores the
  *    session to them. A non-stream query running beside a drain still
  *    plans under its overrides — Spark has no per-query SQL conf;
  *  - every sink is `foreachBatch`. A result drain writes each batch
  *    into a [[graft.operators.Kernels.scopedStore]] dir and returns a
  *    scan of it, so the rows live in files, never in driver memory.
  *    The dir, like a per-call store an operator keeps there, lives
  *    until the calling thread's next `retireCaches()`: consume the
  *    frame before that retire.
  *
  * Every drain is an `AvailableNow` run on a finite source, awaited to
  * its own end: the stream form is the production shape, the drain is
  * how the oracle gate reads it.
  */
object Streams {

  /** Override that sizes the drain's state stores to `expectedKeys`
    * ([[EventStream.statePartitionsFor]]). Read under the drain lock,
    * so the base parallelism is never another drain's override.
    */
  def stateWidth(spark: SparkSession,
                 expectedKeys: Long = EventStream.ExpectedStateKeys): Map[String, String] =
    synchronized {
      Map("spark.sql.shuffle.partitions" ->
        EventStream.statePartitionsFor(spark, expectedKeys).toString)
    }

  /** Override for drains whose micro-batches join a batch against a
    * static store: micro-batch plans get no AQE, and the static planner
    * picks SortMergeJoin, which sorts the store side on every batch;
    * hash joins keep the same exchanges and drop the sorts.
    */
  val HashJoins: Map[String, String] = Map("spark.sql.join.preferSortMergeJoin" -> "false")

  /** Drains `ds` in `mode` into a scoped parquet dir and returns a
    * scan of it: Append and Update batches append, as a memory sink
    * would keep them, and each Complete batch overwrites the last.
    */
  def drain(ds: Dataset[_], mode: OutputMode,
            confs: Map[String, String] = Map.empty): DataFrame = {
    val root = graft.operators.Kernels.scopedStore("graft-stream-result")
    val save = if (mode == OutputMode.Complete()) SaveMode.Overwrite else SaveMode.Append
    drainBatches(ds.toDF(), confs, mode)((batch, _) => batch.write.mode(save).parquet(root))
    ds.sparkSession.read.schema(ds.schema).parquet(root)
  }

  /** Drains `df` in `mode` through `f`, once per micro-batch with the
    * batch id. `f` runs on the stream-execution thread, in the CALLER's
    * [[graft.operators.Kernels]] scope: what a body caches or cuts
    * belongs to the calling query and its retire frees it. A body that
    * frees its work per batch wraps it in `Kernels.releasing`.
    */
  def drainBatches(df: DataFrame, confs: Map[String, String] = Map.empty,
                   mode: OutputMode = OutputMode.Append())(
      f: (DataFrame, Long) => Unit): Unit = {
    val spark = df.sparkSession
    val ckpt = java.nio.file.Files.createTempDirectory("graft-drain")
    try synchronized {
      val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
      try {
        confs.foreach { case (k, v) => spark.conf.set(k, v) }
        // the query ends by itself once the source is drained; a stop
        // while its thread winds down cancels a finished job group
        val q = df.writeStream.outputMode(mode)
          .foreachBatch(graft.operators.Kernels.inCallerScope(f))
          .trigger(Trigger.AvailableNow())
          .option("checkpointLocation", ckpt.toString).start()
        try q.awaitTermination() finally if (q.isActive) q.stop()
      } finally saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    } finally graft.operators.Kernels.rmTree(ckpt.toFile)
  }
}
