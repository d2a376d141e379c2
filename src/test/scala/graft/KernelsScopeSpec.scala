package graft

import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Kernels

/** The thread-scoped tracked-cache registry contract: one query's
  * mid-flight retire (the [[graft.operators.Dedup]] splitState
  * pattern) must not drop a CONCURRENT query's pinned frames or
  * tracked checkpoint blocks. Round-11 verdict flagged the previous
  * registry as registry-global — correct under the sequential
  * Bench/Verify harness but a footgun for any concurrent-query
  * session; this spec pins the fixed scoping.
  */
class KernelsScopeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("one thread's retireCaches leaves a concurrent thread's pins alone") {
    import spark.implicits._
    val sc = spark.sparkContext

    @volatile var otherCache: org.apache.spark.sql.DataFrame = null
    @volatile var otherCkptId: Option[Int] = None
    val otherPinned = new java.util.concurrent.CountDownLatch(1)
    val mayRetire = new java.util.concurrent.CountDownLatch(1)
    val otherDone = new java.util.concurrent.CountDownLatch(1)
    @volatile var otherFailure: Throwable = null

    val other = new Thread(() => {
      try {
        // "query B": pin a cache and a tracked checkpoint, execute
        val df = Kernels.cacheTracked((1 to 100).toDF("x"))
        assert(df.count() == 100)
        val ck = Kernels.trackedCheckpoint((1 to 50).toDF("y"))
        assert(ck.count() == 50)
        otherCache = df
        otherCkptId = Kernels.checkpointRddId(ck)
        otherPinned.countDown()
        mayRetire.await() // hold the pins across A's retire
        Kernels.retireCaches() // B's own retire drains B's scope
      } catch { case t: Throwable => otherFailure = t }
      finally otherDone.countDown()
    })
    other.start()
    otherPinned.await()

    // "query A" on this thread: pin, execute, retire mid-session
    val mine = Kernels.cacheTracked((1 to 10).toDF("z"))
    assert(mine.count() == 10)
    Kernels.retireCaches()
    assert(mine.storageLevel == StorageLevel.NONE,
      "A's retire must drop A's own cache")

    // B's pins must have survived A's retire
    assert(otherCache.storageLevel != StorageLevel.NONE,
      "A's retire dropped B's pinned cache — registry scope leaked")
    assert(otherCkptId.exists(id => sc.getPersistentRDDs.contains(id)),
      "A's retire freed B's tracked checkpoint blocks")

    mayRetire.countDown()
    otherDone.await()
    assert(otherFailure == null, s"concurrent query failed: $otherFailure")
    assert(otherCache.storageLevel == StorageLevel.NONE,
      "B's own retire must drop B's cache")
    assert(otherCkptId.forall(id => !sc.getPersistentRDDs.contains(id)),
      "B's own retire must free B's checkpoint blocks")
  }

  test("a memo cache created on a foreign thread drains on any thread's retire") {
    import spark.implicits._
    // the stream_knn_maintain shape: a session memo (k-means
    // assignment, PQ codes) is CREATED inside foreachBatch on the
    // stream-execution thread, whose per-thread scope nothing ever
    // retires. Memo-lifetime pins must therefore live in the global
    // memo registry: the next retire from ANY thread drops the cache
    // together with the memo-invalidation hooks — otherwise clearing
    // the memo orphans the pinned blocks for the rest of the session.
    @volatile var memoDf: org.apache.spark.sql.DataFrame = null
    val t = new Thread(() => {
      memoDf = Kernels.memoCache((1 to 100).toDF("m"))
      assert(memoDf.count() == 100)
    })
    t.start(); t.join()
    assert(memoDf.storageLevel != StorageLevel.NONE)
    Kernels.retireCaches() // a query thread's ordinary retire
    assert(memoDf.storageLevel == StorageLevel.NONE,
      "memo cache built on the stream thread survived the query thread's retire")
  }

  test("a dead thread's unretired pins drain on the next retire from any thread") {
    import spark.implicits._
    val sc = spark.sparkContext
    // a convention violation: a short-lived thread pins a tracked
    // cache and a checkpoint but dies WITHOUT calling retireCaches
    // (the leak class the round-13 advisory named — a pool worker or
    // stream thread using cacheTracked instead of memoCache). The
    // backstop registry (scopes held strongly, threads weakly — a
    // collected Thread must never expunge its undrained scope's
    // pinned-frame list) must reclaim both on the next retire
    // from a live thread, while live threads' pins stay pinned (the
    // concurrency spec above).
    @volatile var deadCache: org.apache.spark.sql.DataFrame = null
    @volatile var deadCkptId: Option[Int] = None
    val t = new Thread(() => {
      val df = Kernels.cacheTracked((1 to 64).toDF("d"))
      assert(df.count() == 64)
      val ck = Kernels.trackedCheckpoint((1 to 32).toDF("e"))
      assert(ck.count() == 32)
      deadCache = df
      deadCkptId = Kernels.checkpointRddId(ck)
    })
    t.start(); t.join()
    assert(deadCache.storageLevel != StorageLevel.NONE,
      "the dead thread's pin should still be resident before any retire")
    Kernels.retireCaches() // an ordinary retire on a live thread
    assert(deadCache.storageLevel == StorageLevel.NONE,
      "a dead thread's orphaned cache must drain on the next retire")
    assert(deadCkptId.forall(id => !sc.getPersistentRDDs.contains(id)),
      "a dead thread's orphaned checkpoint blocks must drain on the next retire")
  }

  // ---- the memo registry (Kernels.memo / memoUntilRetire) ----

  /** Runs `f` on a fresh thread and reports whether it returned within
    * `ms` — a blocked memo call shows as false instead of hanging.
    */
  private def returnsWithin(ms: Long)(f: => Unit): Boolean = {
    val t = new Thread(() => f)
    t.start(); t.join(ms)
    !t.isAlive
  }

  test("memo: one key on two threads builds once") {
    val builds = new java.util.concurrent.atomic.AtomicInteger()
    val started = new java.util.concurrent.CountDownLatch(1)
    val finish = new java.util.concurrent.CountDownLatch(1)
    def build(): String = {
      builds.incrementAndGet(); started.countDown(); finish.await(); "built"
    }
    val results = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val first = new Thread(() => { results.add(Kernels.memo("spec-once", ("k", "fp"))(build())); () })
    first.start()
    started.await()
    val second = new Thread(() => { results.add(Kernels.memo("spec-once", ("k", "fp"))(build())); () })
    second.start()
    // hold the first build until the second caller waits on the same slot
    val deadline = System.nanoTime() + 10e9.toLong
    while (second.getState != Thread.State.BLOCKED && System.nanoTime() < deadline)
      Thread.sleep(5)
    assert(second.getState == Thread.State.BLOCKED, "the second caller must wait on the build")
    finish.countDown()
    first.join(); second.join()
    assert(builds.get == 1, s"one key built ${builds.get} times")
    assert(results.toArray.toSeq == Seq("built", "built"))
  }

  test("memo: a build in flight blocks neither other keys nor retireCaches") {
    val started = new java.util.concurrent.CountDownLatch(1)
    val finish = new java.util.concurrent.CountDownLatch(1)
    val slow = new Thread(() => {
      Kernels.memo("spec-slow", ("a", "fp")) { started.countDown(); finish.await(); "a" }
      ()
    })
    slow.start()
    started.await()
    try {
      assert(returnsWithin(10000)(Kernels.memo("spec-other", ("b", "fp"))("b")),
        "another key waited on an unrelated build")
      assert(returnsWithin(10000)(Kernels.retireCaches()),
        "retireCaches waited on a memo build")
    } finally finish.countDown()
    slow.join()
  }

  test("memo: a new fingerprint frees the old value's checkpoint blocks") {
    import spark.implicits._
    val sc = spark.sparkContext
    val v1 = Kernels.memo("spec-ckpt", ("t", "fp1"))((1 to 10).toDF("x").localCheckpoint())
    val id1 = Kernels.checkpointRddId(v1)
    assert(id1.exists(sc.getPersistentRDDs.contains), "the memoized checkpoint must be live")
    // the same fingerprint is a hit
    val hit = Kernels.memo[org.apache.spark.sql.DataFrame]("spec-ckpt", ("t", "fp1"))(
      fail("a hit must not build"))
    assert(hit eq v1)
    val v2 = Kernels.memo("spec-ckpt", ("t", "fp2"))((1 to 20).toDF("x").localCheckpoint())
    assert(v2.count() == 20)
    assert(id1.forall(id => !sc.getPersistentRDDs.contains(id)),
      "the superseded value's checkpoint blocks must be freed")
    // a driver value in turn supersedes v2, freeing its blocks too
    val id2 = Kernels.checkpointRddId(v2)
    Kernels.memo[AnyRef]("spec-ckpt", ("t", "fp3"))("driver value")
    assert(id2.forall(id => !sc.getPersistentRDDs.contains(id)))
  }

  test("memo: a build that throws is retried by the next call") {
    var builds = 0
    intercept[IllegalStateException] {
      Kernels.memo[String]("spec-throw", ("k", "fp")) { builds += 1; throw new IllegalStateException("boom") }
    }
    assert(Kernels.memo("spec-throw", ("k", "fp")) { builds += 1; "ok" } == "ok")
    assert(Kernels.memo("spec-throw", ("k", "fp")) { builds += 1; "again" } == "ok")
    assert(builds == 2)
  }

  test("memo: retireCaches drops memoUntilRetire entries and keeps memo entries") {
    import spark.implicits._
    var frames, values = 0
    def frame() = Kernels.memoUntilRetire("spec-retire", ("k", "fp")) {
      frames += 1; (1 to 5).toDF("x")
    }
    def value() = Kernels.memo("spec-keep", ("k", "fp")) { values += 1; "kept" }
    val pinned = frame()
    assert(pinned.count() == 5 && pinned.storageLevel != StorageLevel.NONE)
    frame(); value(); value()
    assert(frames == 1 && values == 1)
    Kernels.retireCaches()
    assert(pinned.storageLevel == StorageLevel.NONE, "the until-retire frame must be unpersisted")
    frame(); value()
    assert(frames == 2, "retireCaches must drop the until-retire entry")
    assert(values == 1, "retireCaches must keep the session memo")
    Kernels.retireCaches()
  }

  test("loopCheckpoint severs inherited plan statistics and tracks the persisted blocks") {
    import spark.implicits._
    val sc = spark.sparkContext
    // a self-join whose ESTIMATED stats a plain localCheckpoint would
    // inherit onto the new leaf (the compounding that melted the
    // 20+-round component loops — see Kernels.loopCheckpoint)
    val df = (1 to 100).toDF("x")
    val joined = df.as("a")
      .join(df.withColumnRenamed("x", "y").as("b"), $"x" === $"y")
      .select($"x")
    val plain = Kernels.trackedCheckpoint((1 to 100).toDF("x"))
    val (reset, id) = Kernels.loopCheckpoint(joined)
    // severed: the re-wrapped frame's leaf carries the session DEFAULT
    // size, not the join's product estimate
    val resetStats = reset.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(resetStats == BigInt(spark.sessionState.conf.defaultSizeInBytes),
      s"loopCheckpoint leaf must reset to defaultSizeInBytes, got $resetStats")
    // values ride through the re-wrap unchanged
    assert(reset.count() == 100)
    // the PERSISTED checkpoint id is returned (the wrapper's own leaf
    // is the unpersisted Row conversion) and its blocks are live...
    assert(id.exists(i => sc.getPersistentRDDs.contains(i)),
      "loopCheckpoint must return the persisted checkpoint RDD id")
    // ...until released by id, the loop's per-round discipline
    id.foreach(Kernels.releaseCheckpoint(sc, _))
    assert(id.forall(i => !sc.getPersistentRDDs.contains(i)))
    assert(plain.count() == 100)
    Kernels.retireCaches()
  }

  test("loopCheckpoint coverage audit: every data-dependent-round loop severs stats") {
    // The stats-compounding pathology (Kernels.loopCheckpoint) was
    // found at round ~20 of a convergence loop — nothing structural
    // stops a NEW loop from reintroducing it with a plain
    // trackedCheckpoint/localCheckpoint, so this audit pins the
    // source: a data-dependent-round loop (the `while (changed …)`
    // fixpoint shape) may exist only where the round cut goes through
    // Kernels.loopCheckpoint. Bounded-round loops (beam search,
    // PageRank's fixed iterations) may keep trackedCheckpoint — a
    // handful of stat inheritances is harmless; it is the UNBOUNDED
    // self-joining fixpoint that squares sizeInBytes to astronomical
    // BigInts. A new convergence loop must either route through
    // Dedup.clustersFromEdges or adopt loopCheckpoint and extend the
    // allowlist here.
    import scala.jdk.CollectionConverters._
    val files = java.nio.file.Files.walk(java.nio.file.Path.of("src/main/scala/graft"))
      .iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    val loopFiles = files.filter(p =>
      java.nio.file.Files.readString(p).contains("while (changed"))
    assert(loopFiles.map(_.getFileName.toString).toSet == Set("Dedup.scala"),
      s"unexpected data-dependent convergence loop in ${loopFiles.map(_.getFileName)} — " +
        "route it through Kernels.loopCheckpoint and extend this allowlist")
    loopFiles.foreach { p =>
      val s = java.nio.file.Files.readString(p)
      assert(s.contains("Kernels.loopCheckpoint"),
        s"$p: the convergence loop must cut rounds with Kernels.loopCheckpoint")
    }
  }

  test("a dedup operator leaves the caller's pins on its thread alone") {
    import spark.implicits._
    // no operator retires on entry: a frame the caller pinned before the
    // call is part of the caller's query and stays cached through the
    // operator's build and action, until the caller's own retire
    val mine = Kernels.cacheTracked((1 to 10).toDF("z"))
    assert(mine.count() == 10)
    graft.operators.Dedup.minHashLsh(spark, SparkTestSession.Sf).count()
    assert(mine.storageLevel != StorageLevel.NONE,
      "Dedup.minHashLsh unpersisted a frame its caller pinned")
    Kernels.retireCaches()
    assert(mine.storageLevel == StorageLevel.NONE, "the caller's retire must drop its pin")
  }

  test("retire drops the memo entries of the scoped dirs it deletes") {
    // stream_bm25_index reads its per-call store through Tables.parquet,
    // which memoizes each path's schema; the retire that deletes the
    // store's dir must take those entries with it
    def entries = Kernels.memoNames("parquet-schema")
      .filter(_.contains("/graft-stream-index-")).toSet
    val before = entries
    for (call <- 1 to 2) {
      graft.streaming.DocStream.streamSearchIndex(spark, SparkTestSession.Sf).collect()
      val live = entries -- before
      assert(live.nonEmpty, s"call $call read no store path through the schema memo")
      Kernels.retireCaches()
      assert((entries & live).isEmpty,
        s"call $call's retire left memo entries of its deleted dir: ${entries & live}")
    }
  }

  test("bloom sizing clamps to the session's runtime maxNumBits") {
    import graft.functions.BloomFunctions
    val maxBits = spark.conf
      .get("spark.sql.optimizer.runtime.bloomFilter.maxNumBits").toLong
    // a store above ~9.2M keys at fpp 0.03 computes more bits than the
    // aggregate accepts — unclamped, BloomFilterAggregate fails analysis
    assert(BloomFunctions.optimalNumOfBits(20_000_000L, 0.03) > maxBits)
    assert(BloomFunctions.clampedNumOfBits(spark, 20_000_000L, 0.03) == maxBits)
    // small stores keep their optimal sizing
    assert(BloomFunctions.clampedNumOfBits(spark, 1000L, 0.03) ==
      BloomFunctions.optimalNumOfBits(1000L, 0.03))
    // and a clamped build still constructs a VALID filter end to end
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val store = (1 to 100).map(i => s"fp$i").toDF("fp")
    val bf = store.agg(BloomFunctions.bloomAgg(spark, col("fp"), 100L, 0.03))
      .head.getAs[Array[Byte]](0)
    val hits = store.filter(BloomFunctions.mightContain(spark, lit(bf), col("fp"))).count()
    assert(hits == 100, "a bloom filter must never reject its own keys")
  }
}
