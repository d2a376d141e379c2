package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

import graft.operators.Kernels

/** Loaders for the driver-generated parquet testdata (TESTDATA.md).
  * [[parquet]] is also the one read of every store and artifact path.
  *
  * All queries take the scale-factor directory as a parameter so the same
  * code runs on sf0.001 (smoke), sf0.01 (oracle), sf0.1 (bench) — and, at
  * production scale, on any parquet-backed table location. Reads go through
  * [[parquet]], a file-source read, so Catalyst gets column pruning and
  * filter pushdown at the scan (verified in specs via
  * `.explain("formatted")`: `PushedFilters` / `ReadSchema`).
  *
  * A parquet read with no schema infers one, and the inference is a
  * one-task job that reads a footer before the query's own jobs — on
  * every read, since file sources keep no schema between reads. So each
  * path's schema is inferred once per process and memoized (memo kind
  * `parquet-schema`), then handed to the reader. The memo is keyed on
  * the path's file stamp ([[Kernels.inputKey]]: name, length and mtime
  * of every file under it), so a table rewritten in place infers again,
  * and on the session confs that change what inference returns, so two
  * sessions that read one file differently each get their own schema.
  *
  * One source, one body: [[stream]] is the only stream source. It reads
  * a table under that same memoized schema, so no stream operator keeps
  * a hand-written schema, and each stream twin runs its batch
  * operator's body over it — the batch query over the static split,
  * the stream over the micro-batches.
  */
object Tables {
  /** The confs that change an inferred parquet schema: the eight
    * `ParquetToSparkSchemaConverter` reads, schema merging (which
    * footers are read) and partition-column type inference.
    */
  private val SchemaConfs = {
    import org.apache.spark.sql.internal.SQLConf._
    Seq(PARQUET_BINARY_AS_STRING, PARQUET_INT96_AS_TIMESTAMP, CASE_SENSITIVE,
      PARQUET_INFER_TIMESTAMP_NTZ_ENABLED, LEGACY_PARQUET_NANOS_AS_LONG,
      PARQUET_FIELD_ID_READ_ENABLED, PARQUET_IGNORE_VARIANT_ANNOTATION,
      PARQUET_READER_RESPECT_UNKNOWN_TYPE_ANNOTATION, PARQUET_SCHEMA_MERGING_ENABLED,
      PARTITION_COLUMN_TYPE_INFERENCE).map(_.key)
  }

  /** The memoized schema of one parquet path. */
  private def schemaOf(spark: SparkSession, path: String): StructType = {
    val (name, stamp) = Kernels.inputKey(path)
    val confs = SchemaConfs.map(k => s"$k=${spark.conf.getOption(k).getOrElse("")}")
    Kernels.memo("parquet-schema", (name, (stamp +: confs).mkString("|"))) {
      spark.read.parquet(path).schema
    }
  }

  /** `spark.read.parquet(path)` under the path's memoized schema: a warm
    * read lists the files and runs no job.
    */
  def parquet(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(schemaOf(spark, path)).parquet(path)

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, s"$dir/$name.parquet")

  /** The one stream source: `spark.readStream` over table `name` of
    * `dir` under the same memoized schema as its batch read, so a
    * stream sees exactly the columns and types [[table]] does (a file
    * stream source needs its schema up front). `files` points the
    * source at other (dir, glob) files holding the table's rows, and
    * `filesPerTrigger` caps the files per micro-batch — a spec drives a
    * multi-file copy of a table one file per trigger.
    */
  def stream(spark: SparkSession, dir: String, name: String,
             files: Option[(String, String)] = None,
             filesPerTrigger: Option[Int] = None): DataFrame = {
    val (src, glob) = files.getOrElse((dir, s"$name.parquet"))
    val reader = spark.readStream.schema(schemaOf(spark, s"$dir/$name.parquet"))
      .option("pathGlobFilter", glob) // a file stream source reads a dir
    filesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n.toString))
    reader.parquet(src)
  }

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  /** The driver regenerates `events.parquet` between rounds and has
    * shipped `ts` in several encodings; [[normalizeEventTs]] dispatches
    * on the LOADED type so every downstream `unix_micros(ts)` call site
    * sees one canonical TIMESTAMP (µs instants, session TZ pinned UTC):
    *
    *  - `LongType`: parquet TIMESTAMP(NANOS), which Spark 4 only reads
    *    under `spark.sql.legacy.parquet.nanosAsLong` (set at SESSION
    *    construction — Bench/Verify/tests all do) as a raw nanos long;
    *    truncate to µs exactly like DuckDB's reader, keeping the oracle
    *    in lockstep. Integer `div`, not `/` — nanos exceed 2^53 so
    *    double math would lose precision.
    *  - `TimestampNTZType`: parquet TIMESTAMP_MICROS isAdjustedToUTC=0.
    *    Under the pinned-UTC session, `cast(TimestampType)` preserves
    *    the stored micro-instant bit-for-bit (the cast reinterprets the
    *    wall clock in the session zone = UTC), and DuckDB reads the
    *    same file as a naive timestamp — identical instants both sides.
    *  - `TimestampType`: TIMESTAMP_MICROS isAdjustedToUTC=1 —
    *    already canonical, pass through.
    */
  private[graft] def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case LongType         => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _                => df
    }

  def events(s: SparkSession, d: String): DataFrame =
    normalizeEventTs(table(s, d, "events"))
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
