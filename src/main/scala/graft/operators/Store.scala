package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StructType}

/** The on-disk layout of every table written after its build. Rows sit
  * under `root/table/bid=<n>`, keyed by the batch that wrote them, so a
  * re-executed batch (`foreachBatch` is at-least-once) rewrites its own
  * rows instead of adding a second copy. An appended table holds each
  * batch's rows, history rows included (a batch twin's history is bid
  * 0: partition discovery rejects leaves at mixed depths); a versioned
  * table holds the whole version after each batch. The bid comes from
  * `foreachBatch` or from the batch twin's ingest ordinal, so this
  * object holds no counter and no lock. Served frames carry no bid.
  *
  * Every write records the table's schema beside its rows (a `_`-named
  * file, which parquet readers skip), and every read hands it to the
  * reader, so no store read runs a footer-read job.
  */
object Store {

  private def dir(root: String, table: String): String = s"$root/$table"

  private def bidDir(root: String, table: String, bid: Long): String =
    s"${dir(root, table)}/bid=$bid"

  private def schemaFile(tableDir: String): java.nio.file.Path =
    java.nio.file.Path.of(tableDir, "_schema.json")

  /** Writes `frame` to `path` and records its schema in `tableDir`. */
  private def write(frame: DataFrame, tableDir: String, path: String,
      partitionBy: String*): Unit = {
    frame.write.mode("overwrite").partitionBy(partitionBy: _*).parquet(path)
    val staged = java.nio.file.Path.of(tableDir, "_schema.json.tmp")
    java.nio.file.Files.writeString(staged, frame.schema.json)
    java.nio.file.Files.move(staged, schemaFile(tableDir),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** `path` read under the schema recorded in `tableDir`. */
  private def scan(spark: SparkSession, tableDir: String, path: String,
      extra: StructType => StructType = identity): DataFrame = {
    val schema = DataType.fromJson(java.nio.file.Files.readString(schemaFile(tableDir)))
    spark.read.schema(extra(schema.asInstanceOf[StructType])).parquet(path)
  }

  /** Writes `frame` as batch `bid`'s rows of `table`, partitioned by
    * `partitionBy` under the bid, replacing any rows the bid had.
    */
  def append(root: String, table: String, bid: Long, partitionBy: String*)(
      frame: DataFrame): Unit =
    write(frame, dir(root, table), bidDir(root, table, bid), partitionBy: _*)

  /** The rows of `table` from the batches with bids strictly between
    * `after` and `before`; its partition columns stay prunable. The bid
    * is typed as partition discovery types it, an int while every bid
    * fits one: the optimizer then folds an open bound away, where a
    * long bid keeps it as a filter whose estimate changes later join
    * choices (measured: 7 more stages in `stream_media_keep_neardup`).
    */
  def read(spark: SparkSession, root: String, table: String,
      after: Long = Long.MinValue, before: Long = Long.MaxValue): DataFrame = {
    val bidType = if (bids(root, table).forall(_.isValidInt)) IntegerType else LongType
    val all = scan(spark, dir(root, table), dir(root, table), _.add("bid", bidType))
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
      .map(b => scan(spark, dir(root, table), bidDir(root, table, b)))
    write(f(prev), dir(root, table), bidDir(root, table, bid))
  }

  /** The newest version of `table`, or None before the first batch. */
  def latest(spark: SparkSession, root: String, table: String): Option[DataFrame] =
    bids(root, table).lastOption.map(b => scan(spark, dir(root, table), bidDir(root, table, b)))

  /** Compacts an appended `table` to `f` of its rows: written to a `_c`
    * sibling under the newest bid, then swapped into the table's place,
    * so later batches append beside it. Run it between drains: a replay
    * of the newest bid would replace every compacted row.
    */
  def rewrite(spark: SparkSession, root: String, table: String)(
      f: DataFrame => DataFrame): Unit = {
    val staged = s"${dir(root, table)}_c"
    write(f(read(spark, root, table)), staged, s"$staged/bid=${bids(root, table).last}")
    Kernels.rmTree(new java.io.File(dir(root, table)))
    require(new java.io.File(staged).renameTo(new java.io.File(dir(root, table))),
      s"compaction swap failed for $table")
  }
}
