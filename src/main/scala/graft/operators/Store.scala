package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{LongType, StructType}

import graft.Tables

/** The on-disk layout of every table written after its build. Rows sit
  * under `root/table/bid=<n>`, keyed by the batch that wrote them, so a
  * re-executed batch (`foreachBatch` is at-least-once) rewrites its own
  * rows instead of adding a second copy. An appended table holds each
  * batch's rows, history rows included (a batch twin's history is bid
  * 0: partition discovery rejects leaves at mixed depths); a versioned
  * table holds the whole version after each batch. The bid comes from
  * `foreachBatch` or from the batch twin's ingest ordinal, so this
  * object holds no counter and no lock. Served frames carry no bid.
  */
object Store {

  private def dir(root: String, table: String): String = s"$root/$table"

  private def bidDir(root: String, table: String, bid: Long): String =
    s"${dir(root, table)}/bid=$bid"

  /** Writes `frame` as batch `bid`'s rows of `table`, partitioned by
    * `partitionBy` under the bid, replacing any rows the bid had.
    */
  def append(root: String, table: String, bid: Long, partitionBy: String*)(
      frame: DataFrame): Unit =
    frame.write.mode("overwrite").partitionBy(partitionBy: _*)
      .parquet(bidDir(root, table, bid))

  /** The rows of `table` from the batches with bids strictly between
    * `after` and `before`; its partition columns stay prunable. A
    * caller that knows the `schema` its batches were written with (the
    * batch frame's) passes it, and the read runs no footer-read job;
    * otherwise the path's schema is inferred once ([[Tables.parquet]]).
    */
  def read(spark: SparkSession, root: String, table: String,
      after: Long = Long.MinValue, before: Long = Long.MaxValue,
      schema: Option[StructType] = None): DataFrame = {
    val path = dir(root, table)
    val all = schema.fold(Tables.parquet(spark, path))(s =>
      spark.read.schema(s.add("bid", LongType)).parquet(path))
    all.filter(all("bid") > after && all("bid") < before).drop("bid")
  }

  private def bids(root: String, table: String): Seq[Long] =
    Option(new java.io.File(dir(root, table)).list()).toSeq.flatten
      .collect { case n if n.startsWith("bid=") => n.stripPrefix("bid=").toLong }
      .sorted

  /** Writes the version of `table` after batch `bid`: `f` of the newest
    * version below `bid` (None before the first), so a replayed bid
    * rewrites the version its first run wrote.
    */
  def next(spark: SparkSession, root: String, table: String, bid: Long)(
      f: Option[DataFrame] => DataFrame): Unit = {
    val prev = bids(root, table).filter(_ < bid).lastOption
      .map(b => Tables.parquet(spark, bidDir(root, table, b)))
    f(prev).write.mode("overwrite").parquet(bidDir(root, table, bid))
  }

  /** The newest version of `table`, or None before the first batch. */
  def latest(spark: SparkSession, root: String, table: String): Option[DataFrame] =
    bids(root, table).lastOption.map(b => Tables.parquet(spark, bidDir(root, table, b)))

  /** Compacts an appended `table` to `f` of its rows: written to a `_c`
    * sibling under the newest bid, then swapped into the table's place,
    * so later batches append beside it. Run it between drains: a replay
    * of the newest bid would replace every compacted row. `schema` is
    * [[read]]'s.
    */
  def rewrite(spark: SparkSession, root: String, table: String,
      schema: Option[StructType] = None)(f: DataFrame => DataFrame): Unit = {
    val staged = s"${dir(root, table)}_c"
    f(read(spark, root, table, schema = schema)).write.mode("overwrite")
      .parquet(s"$staged/bid=${bids(root, table).last}")
    Kernels.rmTree(new java.io.File(dir(root, table)))
    require(new java.io.File(staged).renameTo(new java.io.File(dir(root, table))),
      s"compaction swap failed for $table")
  }
}
