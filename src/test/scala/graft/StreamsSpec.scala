package graft

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, udf}
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup
import graft.streaming.{ChangeStream, DocStream, EventStream, Streams}

/** The drain helper's isolation contract: a drain leaves nothing behind
  * once its query retires, and no other drain can see it. Two runs of
  * one stream operator at the same time, and a third on its own, must
  * agree; after the retire the session reads its pre-run confs, holds
  * no temp views and runs no queries, and no drain checkpoint dir or
  * scoped stream dir is left — also when a drain fails midway.
  */
class StreamsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val overridden =
    Seq("spark.sql.shuffle.partitions", "spark.sql.join.preferSortMergeJoin")

  private val pid = ProcessHandle.current().pid()

  /** Drain checkpoint dirs and this JVM's scoped stream dirs. */
  private def drainDirs(): Set[String] =
    Option(new java.io.File(System.getProperty("java.io.tmpdir")).list())
      .map(_.filter(n => n.startsWith("graft-drain") ||
        n.startsWith("graft-stream-") && n.endsWith(s"-p$pid")).toSet)
      .getOrElse(Set.empty)

  private def tempViews(): Set[String] =
    spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet

  private def persistentRdds(): Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Runs `body` and retires, then checks the session is as `body`
    * found it.
    */
  private def leavesNoTrace[T](body: => T): T = {
    val confs = overridden.map(k => k -> spark.conf.getOption(k))
    val views = tempViews()
    val dirs = drainDirs()
    val rdds = persistentRdds()
    val out = try body finally Dedup.retireCaches()
    for ((k, v) <- confs)
      assert(spark.conf.getOption(k) == v, s"$k must read its pre-drain value")
    assert(tempViews() == views, "a drain must leave no temp view")
    assert(spark.streams.active.isEmpty, "a drain must stop its query")
    assert(drainDirs().subsetOf(dirs),
      s"the retire must leave no checkpoint or scoped dir: ${drainDirs() -- dirs}")
    assert(persistentRdds().subsetOf(rdds),
      s"the retire must free every cut and cache: ${persistentRdds() -- rdds}")
    out
  }

  /** The stream operators whose frames read a scoped dir. */
  private val scopedOps = Seq[(String, (org.apache.spark.sql.SparkSession, String) => DataFrame)](
    "stream_user_totals" -> EventStream.userTotals,
    "stream_hourly" -> EventStream.hourlyRollup,
    "stream_bm25_index" -> DocStream.streamSearchIndex,
    "stream_bm25_compact" -> DocStream.streamSearchIndexCompacted,
    "stream_ann_maintain" -> DocStream.streamAnnMaintain,
    "stream_sketch_maintain" -> EventStream.streamSketchMaintain,
    "stream_knn_maintain" -> DocStream.streamKnnMaintain,
    "stream_media_keep" -> DocStream.streamMediaKeep,
    "stream_media_keep_neardup" -> DocStream.streamMediaKeepNearDup)

  test("concurrent drains of one operator agree with a drain on its own") {
    def rows(): Set[Row] =
      EventStream.sessionizeStream(spark, SparkTestSession.Sf).collect().toSet
    leavesNoTrace {
      // each query retires on its own thread, as a main's step does
      val together = Seq.fill(2)(Future { try rows() finally Dedup.retireCaches() })
        .map(Await.result(_, 10.minutes))
      val alone = rows()
      assert(alone.nonEmpty)
      assert(together.forall(_ == alone),
        "a concurrent run must not change the operator's answer")
    }
  }

  test("a drain whose batch body throws still restores the session") {
    leavesNoTrace {
      val err = intercept[Exception] {
        Streams.drainBatches(EventStream.readEventsStream(spark, SparkTestSession.Sf),
            Streams.stateWidth(spark, 1L) ++ Streams.HashJoins) { (_, _) =>
          throw new IllegalStateException("batch body failed")
        }
      }
      assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
        .exists(e => String.valueOf(e.getMessage).contains("batch body failed")))
      // a result drain whose rows fail has already made its scoped dir
      val boom = udf((_: Long) => (throw new IllegalStateException("row failed")): Long)
      intercept[Exception] {
        Streams.drain(EventStream.readEventsStream(spark, SparkTestSession.Sf)
          .select(boom(col("user_id"))), OutputMode.Append())
      }
    }
  }

  test("Update, Complete and per-call store frames read stable rows until the retire deletes their dir") {
    def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq
    for ((name, op) <- scopedOps) {
      val before = drainDirs()
      val df = op(spark, SparkTestSession.Sf)
      val own = drainDirs() -- before
      assert(own.nonEmpty, s"$name keeps its rows in no scoped dir")
      val first = rows(df)
      assert(first.nonEmpty && rows(df) == first, s"$name must read the same rows twice")
      Dedup.retireCaches()
      assert((drainDirs() intersect own).isEmpty, s"the retire must delete $name's dir")
    }
  }

  test("a warm second run and its retire leave no persistent RDD") {
    // the cold run builds the session memos, whose cuts and caches
    // outlive the query by design; a warm run builds none, so after
    // its retire every block it cut or cached must be gone
    for ((name, op) <- scopedOps :+ ("stream_cdc_merge" -> ChangeStream.streamCdcMerge _)) {
      try op(spark, SparkTestSession.Sf).collect() finally Dedup.retireCaches()
      withClue(s"$name: ")(leavesNoTrace(op(spark, SparkTestSession.Sf).collect()))
    }
  }
}
