package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Encoder, Encoders}

import graft.Tables

/** The record type of the reference engine: an unordered multiset of
  * string key/value pairs (reference `mr/worker.go:27-30`).
  */
case class KeyValue(key: String, value: String)

/** The reference's generic MapReduce surface, Spark-native.
  *
  * Reference contract (SURVEY.md §2.3): `mapf(name, contents) ->
  * [(k,v)]` (a UDTF) and `reducef(key, values) -> value` (a UDAF), run
  * as scan → flatMap → hash-shuffle on key → per-key grouping → reduce
  * (`mr/worker.go:50-51,58-174`). Here the shuffle, grouping, retries,
  * barriers and heartbeats (§2.2) are all Spark's; only the two user
  * functions remain.
  *
  * Two execution shapes:
  *  - [[MapReduce.run]]: `groupByKey.mapGroups` — the literal contract,
  *    reducef sees every value of a key (arbitrary order, like the
  *    reference, which only guarantees key grouping — SURVEY.md §5).
  *  - [[MapReduce.runCombining]]: an [[Aggregator]] with a user monoid,
  *    for commutative/associative reducefs (wc). This adds the map-side
  *    combine the reference lacks (SURVEY.md §2.1 "no combiner") — at
  *    100 TB the shuffle carries |keys| rows per partition instead of
  *    |records|, which is the difference between a working job and a
  *    dead one.
  */
object MapReduce {

  /** Literal reference semantics. `reducef` receives all values of one
    * key; value order is unspecified, so order-sensitive reducefs must
    * sort internally (exactly what the reference apps do,
    * `mrapps/indexer.go:37`).
    */
  def run(
      input: Dataset[(String, String)],
      mapf: (String, String) => IterableOnce[KeyValue],
      reducef: (String, Seq[String]) => String): Dataset[KeyValue] = {
    implicit val kvEnc: Encoder[KeyValue] = Encoders.product[KeyValue]
    implicit val strEnc: Encoder[String] = Encoders.STRING
    input
      .flatMap { case (name, contents) => mapf(name, contents).iterator.toSeq }
      .groupByKey(_.key)
      .mapGroups((k, vs) => KeyValue(k, reducef(k, vs.map(_.value).toSeq)))
  }

  /** Combining variant for monoidal reducefs: `merge` must be
    * commutative + associative; `finish` renders the accumulator. Spark
    * runs partial aggregation before the exchange.
    */
  def runCombining[B: Encoder](
      input: Dataset[(String, String)],
      mapf: (String, String) => IterableOnce[KeyValue],
      zero: B,
      lift: String => B,
      merge: (B, B) => B,
      finish: B => String): Dataset[KeyValue] = {
    implicit val kvEnc: Encoder[KeyValue] = Encoders.product[KeyValue]
    implicit val strEnc: Encoder[String] = Encoders.STRING
    val agg = new MonoidAggregator[B](zero, lift, merge, finish)
    input
      .flatMap { case (name, contents) => mapf(name, contents).iterator.toSeq }
      .groupByKey(_.key)
      .agg(agg.toColumn.name("value"))
      .map { case (k, v) => KeyValue(k, v) }
  }

  private class MonoidAggregator[B](
      z: B, liftF: String => B, mergeF: (B, B) => B, finishF: B => String)(
      implicit bEnc: Encoder[B])
    extends Aggregator[KeyValue, B, String] {
    def zero: B = z
    def reduce(b: B, kv: KeyValue): B = mergeF(b, liftF(kv.value))
    def merge(a: B, b: B): B = mergeF(a, b)
    def finish(b: B): String = finishF(b)
    def bufferEncoder: Encoder[B] = bEnc
    def outputEncoder: Encoder[String] = Encoders.STRING
  }

  /** Adapter: the `documents` table as the reference's input shape —
    * one (name, contents) pair per document (doc_id plays the filename
    * role; FIXTURES.md §2).
    */
  def documentsAsInput(spark: SparkSession, dir: String): Dataset[(String, String)] = {
    implicit val tupEnc: Encoder[(String, String)] =
      Encoders.tuple(Encoders.STRING, Encoders.STRING)
    Kernels.fanOut(
      Tables.documents(spark, dir)
        .select(col("doc_id").cast("string"), col("text"))) // one split per map task, not one file
      .as[(String, String)]
  }
}

/** The reference's shipped applications (SURVEY.md §2.4) on the generic
  * surface, run over the documents table.
  */
object MRApps {
  import MapReduce._

  /** Word count (`mrapps/wc.go:21-44`): mapf emits (word,"1") per
    * occurrence; reducef counts.
    */
  def wc(spark: SparkSession, dir: String): DataFrame = {
    val out = run(
      documentsAsInput(spark, dir),
      mapf = (_, contents) =>
        contents.split("[^\\p{L}]+").iterator.filter(_.nonEmpty)
          .map(w => KeyValue(w, "1")),
      reducef = (_, values) => values.length.toString)
    out.toDF("key", "value").orderBy("key")
  }

  /** Word count on the combining variant: same mapf, but the count
    * monoid runs map-side before the shuffle — identical results, the
    * shuffle carries |vocabulary| rows instead of |occurrences|.
    */
  def wcCombining(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val out = runCombining[Long](
      documentsAsInput(spark, dir),
      mapf = (_, contents) =>
        contents.split("[^\\p{L}]+").iterator.filter(_.nonEmpty)
          .map(w => KeyValue(w, "1")).toSeq,
      zero = 0L, lift = _ => 1L, merge = _ + _, finish = _.toString)
    out.toDF("key", "value").orderBy("key")
  }

  /** Inverted index (`mrapps/indexer.go:20-39`): mapf emits (word, doc)
    * once per distinct word per doc; reducef renders
    * `"N doc1,doc2,..."` over the sorted doc list.
    */
  def indexer(spark: SparkSession, dir: String): DataFrame = {
    val out = run(
      documentsAsInput(spark, dir),
      mapf = (name, contents) =>
        contents.split("[^\\p{L}]+").iterator.filter(_.nonEmpty)
          .toSet[String].map(w => KeyValue(w, name)),
      reducef = (_, values) =>
        s"${values.length} ${values.sorted.mkString(",")}")
    out.toDF("key", "value").orderBy("key")
  }

  /** Late-binding user-logic surface — the reference's headline feature
    * is loading `Map`/`Reduce` symbols from a user plugin at runtime
    * (`main/mrworker.go:36-55`, `main/mrsequential.go:93-110`). The
    * Spark-native analogue: user functions REGISTERED into the SQL
    * session at runtime via `spark.udf.register` — mapf as a UDF
    * returning `array<struct<key,value>>` exploded with LATERAL VIEW,
    * reducef as a UDF over the grouped value list — so a `spark.sql`
    * user runs a custom map/reduce WITHOUT recompiling the engine (the
    * registered functions can come from any jar on the session
    * classpath, the moral equivalent of the reference's `.so` plugin).
    */
  def sqlWordCount(spark: SparkSession, dir: String): DataFrame = {
    spark.udf.register("graft_mapf_wc",
      (name: String, contents: String) =>
        contents.split("[^\\p{L}]+").iterator.filter(_.nonEmpty)
          .map(w => KeyValue(w, "1")).toSeq)
    spark.udf.register("graft_reducef_count",
      (values: Seq[String]) => values.length.toString)
    Kernels.sqlOver(spark, "mr_input" -> Tables.documents(spark, dir)
        .select(col("doc_id").cast("string").as("name"), col("text").as("contents"))) { v =>
      s"""SELECT kv.key AS key, graft_reducef_count(collect_list(kv.value)) AS value
         |FROM ${v("mr_input")} LATERAL VIEW explode(graft_mapf_wc(name, contents)) t AS kv
         |GROUP BY kv.key ORDER BY key""".stripMargin
    }
  }

  val GrepPattern = "data"

  /** Distributed grep — the canonical MapReduce example from the
    * original paper that the reference's app set omits: mapf emits
    * (doc, count) for documents containing the pattern; reducef passes
    * the single value through (grep's reduce is identity). The match
    * runs map-side so only hit documents shuffle.
    *
    * The pattern is a LITERAL substring, counted non-overlapping
    * left-to-right with plain indexOf — deliberately no regex: the
    * oracle must count identically, and Java and RE2 regex dialects
    * diverge on real grep patterns (lookbehind, possessives), while
    * string-length arithmetic is dialect-free on both engines. The
    * `require` keeps the literal safe to inline into the oracle SQL.
    */
  def grep(spark: SparkSession, dir: String): DataFrame = {
    require(GrepPattern.nonEmpty && !GrepPattern.contains("'"),
      "grep pattern must be a non-empty literal without quotes (it is inlined into oracle SQL)")
    val out = run(
      documentsAsInput(spark, dir),
      mapf = (name, contents) => {
        var n = 0
        var i = contents.indexOf(GrepPattern)
        while (i >= 0) { n += 1; i = contents.indexOf(GrepPattern, i + GrepPattern.length) }
        if (n > 0) Seq(KeyValue(name, n.toString)) else Seq.empty
      },
      reducef = (_, values) => values.mkString(","))
    out.toDF("key", "value").orderBy("key")
  }

  /** The crash/nocrash app's aggregation shape (`mrapps/nocrash.go`):
    * per input, four constant keys; reducef joins sorted values with
    * spaces. (The crash injection itself tests the *scheduler*, which
    * is Spark's — SURVEY.md §2.2.)
    */
  def crashShape(spark: SparkSession, dir: String): DataFrame = {
    val out = run(
      documentsAsInput(spark, dir),
      mapf = (name, contents) => Seq(
        KeyValue("a", name),
        KeyValue("b", name.length.toString),
        KeyValue("c", contents.length.toString),
        KeyValue("d", "xyzzy")),
      reducef = (_, values) => values.sorted.mkString(" "))
    out.toDF("key", "value").orderBy("key")
  }
}
