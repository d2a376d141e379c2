package graft

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{EventStream, Streams}

/** The drain helper's isolation contract: a drain leaves nothing behind
  * and no other drain can see it. Two runs of one stream operator at
  * the same time, and a third on its own, must agree; afterwards the
  * session reads its pre-run confs, holds no sink views and runs no
  * queries, and no drain checkpoint dir is left — also when a drain
  * fails midway.
  */
class StreamsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val overridden =
    Seq("spark.sql.shuffle.partitions", "spark.sql.join.preferSortMergeJoin")

  private def drainDirs(): Set[String] =
    Option(new java.io.File(System.getProperty("java.io.tmpdir")).list())
      .map(_.filter(_.startsWith("graft-drain")).toSet).getOrElse(Set.empty)

  private def tempViews(): Set[String] =
    spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet

  /** Runs `body`, then checks the session is as `body` found it. */
  private def leavesNoTrace[T](body: => T): T = {
    val confs = overridden.map(k => k -> spark.conf.getOption(k))
    val views = tempViews()
    val dirs = drainDirs()
    val out = body
    for ((k, v) <- confs)
      assert(spark.conf.getOption(k) == v, s"$k must read its pre-drain value")
    assert(tempViews() == views, "a drain must drop its sink view")
    assert(spark.streams.active.isEmpty, "a drain must stop its query")
    assert(drainDirs().subsetOf(dirs), "a drain must delete its checkpoint dir")
    out
  }

  test("concurrent drains of one operator agree with a drain on its own") {
    def rows(): Set[Row] =
      EventStream.sessionizeStream(spark, SparkTestSession.Sf).collect().toSet
    leavesNoTrace {
      val together = Seq.fill(2)(Future(rows())).map(Await.result(_, 10.minutes))
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
    }
  }
}
