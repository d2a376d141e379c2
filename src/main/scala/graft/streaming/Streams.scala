package graft.streaming

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode}

/** The one place an operator runs a stream to completion. Every stream
  * operator in this package builds its frame and hands it here; the
  * drain owns everything the run leaves behind, so re-running a query,
  * or running two at once, changes nothing:
  *
  *  - the query starts on the CALLER's session (its listeners see the
  *    query's progress) under a unique sink name, with a checkpoint dir
  *    created per drain and deleted on every exit path;
  *  - the conf overrides it is given (state-store width, hash joins in
  *    micro-batch plans) are set before `start()` — batch 0 plans at
  *    launch — and restored after `stop()`, to the pre-drain value or
  *    to unset, all under ONE lock. Overrides are session-wide while
  *    they hold, so drains take the lock one at a time: a second drain
  *    never starts under the first one's overrides or restores the
  *    session to them. A non-stream query running beside a drain still
  *    plans under its overrides — Spark has no per-query SQL conf;
  *  - a memory-sink drain resolves its sink table and drops the view
  *    before returning; the resolved frame keeps reading the sink's
  *    rows, and they go when the frame does.
  *
  * Every drain is `processAllAvailable` on a finite source: the stream
  * form is the production shape, the drain is how the oracle gate reads
  * it.
  */
object Streams {

  private val sinkIds = new AtomicLong()

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

  /** Drains `ds` into a memory sink in `mode` and returns the sink's
    * rows as a frame with no view behind it.
    */
  def drain(ds: Dataset[_], mode: OutputMode,
            confs: Map[String, String] = Map.empty): DataFrame = {
    val sink = s"graft_drain_${sinkIds.incrementAndGet()}"
    try {
      run(ds.writeStream.outputMode(mode).format("memory").queryName(sink),
        ds.sparkSession, confs)
      ds.sparkSession.table(sink)
    } finally ds.sparkSession.catalog.dropTempView(sink)
  }

  /** Drains `df` in append mode through `f`, once per micro-batch with
    * the batch id. `f` runs on the stream-execution thread.
    */
  def drainBatches(df: DataFrame, confs: Map[String, String] = Map.empty)(
      f: (DataFrame, Long) => Unit): Unit =
    run(df.writeStream.outputMode(OutputMode.Append()).foreachBatch(f),
      df.sparkSession, confs)

  private def run(writer: DataStreamWriter[_], spark: SparkSession,
                  confs: Map[String, String]): Unit = {
    val ckpt = java.nio.file.Files.createTempDirectory("graft-drain")
    try synchronized {
      val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
      try {
        confs.foreach { case (k, v) => spark.conf.set(k, v) }
        val q = writer.option("checkpointLocation", ckpt.toString).start()
        try q.processAllAvailable() finally q.stop()
      } finally saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    } finally graft.operators.Kernels.rmTree(ckpt.toFile)
  }
}
