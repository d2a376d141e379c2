package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Relational

/** Streaming change-data-capture maintenance (north star — the
  * reference is strictly batch, SURVEY.md §2.5): the per-micro-batch
  * half of [[graft.operators.Relational.cdcMerge]]. A production ingest
  * does not re-merge the whole change log nightly; it applies each
  * arriving batch of change events to the maintained table as it
  * lands. Same harness contract as [[EventStream]]: file-stream source
  * over the static parquet, drained through [[Streams.drainBatches]]
  * for the oracle gate only.
  */
object ChangeStream {

  /** One micro-batch of maintenance: compact the batch to its latest
    * change per key (the window runs on a BOUNDED batch, never on the
    * stream), then resolve against the store version-guarded — an
    * incoming change wins iff its version exceeds the stored one, and
    * a winning delete stays as a TOMBSTONE row rather than vanishing.
    * Guard + tombstones make the merge ORDER-ROBUST: any partition of
    * the change log into micro-batches, applied in any order, reaches
    * the same final store as the global latest-wins batch merge (a
    * naive apply-in-arrival-order store would let a stale v1 update
    * resurrect a key whose v2 delete landed in an earlier batch).
    *
    * Scale note: maintaining the store as a bare DataFrame makes each
    * batch a full-outer join against the whole store — honest here,
    * wrong at 100 TB. Production swaps exactly this step for a
    * MERGE-supporting table format (Delta/Iceberg), where the same
    * version-guarded resolve rewrites only the files containing
    * changed keys; the guard logic — the part this operator
    * contributes — transfers unchanged.
    */
  private[graft] def mergeBatch(target: DataFrame, batch: DataFrame): DataFrame = {
    val w = Window.partitionBy("o_orderkey").orderBy(col("v").desc)
    val latest = batch.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
    target.as("t").join(latest.as("c"), Seq("o_orderkey"), "full_outer")
      .select(col("o_orderkey"),
        when(col("c.v").isNotNull && (col("t.v").isNull || col("c.v") > col("t.v")),
          struct(col("c.v").as("v"), col("c.op").as("op"),
            col("c.c_custkey").as("o_custkey"),
            col("c.c_totalprice").as("o_totalprice"), lit("cdc").as("src")))
          .otherwise(struct(col("t.v"), col("t.op"), col("t.o_custkey"),
            col("t.o_totalprice"), col("t.src"))).as("r"))
      .select(col("o_orderkey"), col("r.v").as("v"), col("r.op").as("op"),
        col("r.o_custkey").as("o_custkey"),
        col("r.o_totalprice").as("o_totalprice"), col("r.src").as("src"))
  }

  /** The base table lifted into store shape: version 0 (any change
    * outranks it), op "B", provenance "base".
    */
  private[graft] def baseStore(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.orders(spark, dir)
      .select(col("o_orderkey"), lit(0L).as("v"), lit("B").as("op"),
        col("o_custkey"), col("o_totalprice"), lit("base").as("src"))

  /** Tombstones drop at read time; they must stay IN the store. */
  private[graft] def finish(target: DataFrame): DataFrame =
    target.filter(col("op") =!= "D")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"), col("src"))
      .orderBy("o_orderkey")

  /** `stream_cdc_merge`: the change log streams in and each micro-batch
    * is merged into the maintained store by [[mergeBatch]]; the final
    * store (minus tombstones) must equal the one-shot batch
    * [[graft.operators.Relational.cdcMerge]] — same oracle. The store
    * is `localCheckpoint`ed after every batch: lineage stays one batch
    * deep instead of growing by a full merge plan per micro-batch (the
    * streaming analogue of the dedup-clusters loop fix, SURVEY §2.8).
    */
  def streamCdcMerge(spark: SparkSession, dir: String): DataFrame = {
    var target = graft.operators.Kernels.trackedCheckpoint(baseStore(spark, dir))
    val changes = Relational.cdcChangeLog(graft.Tables.stream(spark, dir, "orders"))
    // the merge's exchanges are batch-sized: give them the state width
    Streams.drainBatches(changes, Streams.stateWidth(spark)) { (batch, _) =>
      // the new store materializes eagerly FROM the old one, so the
      // previous batch's checkpoint blocks can be freed right after
      // (unpersist is a no-op on checkpoints — free by RDD id).
      // Plain localCheckpoint here: foreachBatch runs on the
      // stream-execution thread, and the tracked-cache registry is
      // scoped per thread — the QUERY thread adopts the final
      // store below so its retireCaches frees it.
      val prevId = graft.operators.Kernels.checkpointRddId(target)
      target = mergeBatch(target, batch).localCheckpoint()
      prevId.foreach(graft.operators.Kernels
        .releaseCheckpoint(spark.sparkContext, _))
    }
    finish(graft.operators.Kernels.adoptCheckpoint(target))
  }
}
