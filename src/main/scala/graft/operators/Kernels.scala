package graft.operators

import org.apache.spark.sql.Dataset

/** Shared helpers for the typed per-partition kernels. */
private[graft] object Kernels {

  /** Spark `round(double, 6)` semantics on the driver or in a typed
    * kernel: shortest-repr BigDecimal, HALF_UP at scale 6 (== DuckDB
    * `round(x, 6)`).
    */
  def r6(d: Double): Double =
    java.math.BigDecimal.valueOf(d).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue

  /** Fan a narrow input out to cluster parallelism — but ONLY when the
    * scan arrived under-partitioned (the local testdata is one parquet
    * file per table, which Spark reads as a single split at small SF).
    * At 100 TB the scan already yields thousands of splits and an
    * unconditional `repartition` would insert a gratuitous full shuffle
    * of the corpus before map-only work; this no-ops there.
    *
    * Caveat: the partition COUNT is a proxy, not a row-distribution
    * guarantee — a parquet file byte-split into >= p ranges but holding
    * a single row group still lands every row in one task. That window
    * is narrow (files between ~4x the open-cost and one row-group
    * size); inputs at the target scale have many row groups per file
    * and pass through untouched, which is the case this guard is for.
    */
  def fanOut[T](ds: Dataset[T]): Dataset[T] = {
    val p = ds.sparkSession.sparkContext.defaultParallelism
    if (ds.rdd.getNumPartitions < p) ds.repartition(p) else ds
  }

  // Tracked-cache registry, scoped PER CALLING THREAD (≈ per query:
  // every query builds its pipeline, runs its action and retires on
  // one thread — Verify/Bench/the streaming wrappers all do). The
  // scope boundary is what makes mid-query retires safe under
  // concurrency: Dedup.splitState drains ITS OWN loop's caches between
  // building the base state and the merge; with a global registry that
  // drop would unpersist a concurrently-running query's pinned frames.
  // Contract per scope unchanged: BUILD one pipeline, EXECUTE its
  // action, then retire (Bench/Verify call Dedup.retireCaches after
  // every query).
  private final class Scope {
    val caches =
      scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.DataFrame]
    val checkpointIds =
      scala.collection.mutable.Map.empty[Int, org.apache.spark.SparkContext]
    val dirs = scala.collection.mutable.ArrayBuffer.empty[String]
  }

  // Every live scope is ALSO tracked globally so retireCaches can
  // drain scopes whose thread has terminated. The thread-scoped
  // contract is enforced by convention plus one spec; this is the
  // self-healing backstop for the one convention-violation class that
  // would otherwise pin frames for the whole session: a cacheTracked
  // call on a short-lived thread (a pool worker, a stream-execution
  // thread) that never calls retireCaches itself. The SCOPE is held
  // STRONGLY and only the Thread weakly — a WeakHashMap[Thread, Scope]
  // would silently expunge an orphaned scope once its dead Thread
  // object is collected, losing the pinned-frame list BEFORE any
  // retire could drain it (the one failure the backstop exists for).
  // An entry leaves the registry only through drainScope.
  private val allScopes = scala.collection.mutable.ArrayBuffer
    .empty[(java.lang.ref.WeakReference[Thread], Scope)]

  private val scope: ThreadLocal[Scope] =
    ThreadLocal.withInitial { () =>
      val s = new Scope
      allScopes.synchronized {
        allScopes += ((new java.lang.ref.WeakReference(Thread.currentThread()), s))
      }
      s
    }

  def cacheTracked(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val s = scope.get
    // every Scope mutation and the cross-thread drain synchronize on
    // the Scope itself: !t.isAlive alone gives no happens-before edge
    // with the dead thread's writes (unlike join), so an unsynchronized
    // drain could read a stale caches buffer
    s.synchronized { s.caches += df }
    df.cache()
  }

  // Memo-LIFETIME caches live in one GLOBAL registry, not a thread
  // scope: until-retire memos (the k-means assignment, PQ codes, the
  // pipeline base) deliberately outlive a single query, and the memo
  // may be CREATED on a thread no query ever retires (a `foreachBatch`
  // body runs on the stream-execution thread). The memo entries are
  // global too; the backing caches must drain with them, or dropping
  // the entry orphans SF-sized pinned blocks for the rest of the
  // session. A memo and its cache die together on EVERY retire, from
  // any thread.
  private val memoCaches =
    scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.DataFrame]

  /** Cache a frame whose lifetime is a session MEMO's, not the calling
    * thread's scope — drained globally by [[retireCaches]] together
    * with the [[memoUntilRetire]] entries.
    */
  def memoCache(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    memoCaches.synchronized { memoCaches += df }
    df.cache()
  }

  /** Cache an iterative loop's STATIC side (edge lists, rank-loop
    * inputs) pre-partitioned by its per-round join key at a
    * SIZE-ADAPTIVE partition count. Two properties every loop needs
    * from its pinned frame, both consequences of a cached side's
    * outputPartitioning being taken as-is (never AQE-coalesced, never
    * re-planned):
    *
    *  1. partitioned BY THE JOIN KEY, so the per-round equi-join never
    *     re-exchanges the static side — the shuffle runs once here
    *     instead of once per round (exchange reuse across rounds'
    *     separate jobs does not exist);
    *  2. partition count derived from the ROW COUNT (~`rowsPer` rows
    *     per partition), so a tiny blast-radius graph does not run
    *     `defaultParallelism` near-empty tasks per stage per round —
    *     measured as the dominant cost of every loop-bound query at
    *     local SF (guide §2: derive partitioning from input size, not
    *     a constant tuned for either deployment). At corpus scale
    *     ceil(n/rowsPer) grows with the data, so the pinned width is
    *     size-proportional at every deployment.
    *
    * The count runs on an AQE-sized layout-free counting cache (one
    * cheap cached pass — 1-2 tasks for a blast-radius graph); the
    * keyed pin is one edge-sized shuffle paid once, built from the
    * counting cache's blocks.
    */
  def sizedKeyedCache(df: org.apache.spark.sql.DataFrame,
      key: org.apache.spark.sql.Column,
      rowsPer: Long = 2000000L): org.apache.spark.sql.DataFrame = {
    // The COUNTING cache is layout-free (no repartition): with
    // cached-plan AQE enabled (GraftSession) its materialization is
    // AQE-sized, so a blast-radius edge frame counts in 1-2 tasks
    // where the r19 shape first pinned an EXPLICIT full-width keyed
    // layout just to count it — 32 near-empty materialization tasks
    // plus a second keyed shuffle on every tiny maintain/stream merge.
    // Only the FINAL layout needs the explicit keyed pin (a count-less
    // repartition(key) is AQE-rewritable and the materialized layout
    // could silently stop being hash(key, n) — the CC-loop plan audit
    // caught exactly that); it builds from the counting cache's
    // blocks, which then release.
    val src = cacheTracked(df)
    val n = src.count()
    val targetP = math.max(1L, (n + rowsPer - 1) / rowsPer)
      .min(Int.MaxValue.toLong).toInt
    val pinned = cacheTracked(src.repartition(targetP, key))
    pinned.count() // materialize before dropping the counting cache
    src.unpersist(true)
    pinned
  }

  /** [[sizedKeyedCache]] for loop-static sides whose row count has a
    * STRUCTURAL upper bound known before execution (e.g. a vocab-capped
    * co-occurrence graph is C(cap, 2)-bounded at any corpus size): the
    * keyed layout's width derives from the bound, so the pin costs ONE
    * cache materialization — no wide layout, no count job, no
    * re-cache. [[sizedKeyedCache]] pays cache-wide → count → re-cache
    * because it cannot know the count; when the caller can bound it,
    * that whole dance is overhead (the r19 driver measured
    * keywords_textrank 25% slower on it while the same pin left
    * pagerank flat — the textrank edge build is the expensive
    * upstream that got materialized twice). The explicit partition
    * count keeps the layout AQE-stable like every other keyed pin.
    */
  def boundedKeyedCache(df: org.apache.spark.sql.DataFrame,
      key: org.apache.spark.sql.Column,
      boundRows: Long,
      rowsPer: Long = 2000000L): org.apache.spark.sql.DataFrame = {
    val targetP = math.max(1L, (boundRows + rowsPer - 1) / rowsPer)
      .min(Int.MaxValue.toLong).toInt
    cacheTracked(df.repartition(targetP, key))
  }

  /** [[sizedKeyedCache]] for loop-static sides that are CHEAP TO COUNT
    * uncached (a parquet leaf or a column-pruned projection of one):
    * the row count runs on the source frame directly — column-pruned
    * to nothing by the optimizer — so only ONE layout is ever cached
    * and materialized, where [[sizedKeyedCache]] must first pin the
    * full-width layout to count it. The pinned layout is additionally
    * SORTED within partitions by the key: a cached frame's
    * outputOrdering is taken as-is like its partitioning, so every
    * round's sort-merge join against it skips BOTH the exchange and
    * the sort — without this, a 1-partition keyed cache re-sorts the
    * whole static side inside every round's join (measured: the beam
    * family regressed +15-30% on the unsorted keyed pin before this).
    */
  def sizedKeyedCacheSorted(df: org.apache.spark.sql.DataFrame,
      key: org.apache.spark.sql.Column,
      rowsPer: Long = 2000000L): org.apache.spark.sql.DataFrame = {
    val n = df.count()
    val targetP = math.max(1L, (n + rowsPer - 1) / rowsPer)
      .min(Int.MaxValue.toLong).toInt
    val pinned = cacheTracked(
      df.repartition(targetP, key).sortWithinPartitions(key))
    pinned.count() // materialize once; rounds read the pinned layout
    pinned
  }

  /** Drain ONLY the calling thread's scope — the per-micro-batch free
    * for `foreachBatch` bodies: a stream-execution thread accumulates
    * tracked caches and checkpoint ids (e.g. the label-maintenance
    * component loop's rounds) for the WHOLE drain otherwise, since the
    * dead-thread backstop only reclaims them on a later retire from
    * another thread. Unlike [[retireCaches]] this touches neither the
    * global memo caches nor the [[memoUntilRetire]] entries — the
    * stream's seeded history memos must survive the batch.
    */
  def drainThreadScope(): Unit = drainScope(scope.get)

  /** Drain the CALLING THREAD's scope: blocking-unpersist its tracked
    * caches and checkpoint blocks, then drop every built
    * [[memoUntilRetire]] entry with the global memo caches. Those stay
    * global because a memo dropped spuriously just rebuilds, while a
    * memo OUTLIVING its cache silently recomputes uncached every use —
    * the cheap direction is over-clearing. Another thread's pinned
    * frames are never touched.
    */
  def retireCaches(): Unit = {
    drainScope(scope.get)
    // backstop: drain scopes whose owning thread has DIED (isAlive
    // false) or been collected (weak ref cleared) without retiring — a
    // convention violation this registry self-heals, the way the old
    // global registry did on the next retire from any thread. The
    // scope reference is strong, so a collected Thread never takes its
    // undrained scope with it. Live threads' scopes are never touched
    // — mid-query pins on concurrent threads stay pinned.
    allScopes.synchronized {
      val dead = allScopes.filter { case (ref, _) =>
        val t = ref.get(); t == null || !t.isAlive
      }
      dead.foreach { case (_, s) => drainScope(s) }
      allScopes --= dead
    }
    // until-retire entries leave before their caches drain — both are
    // global, and one without the other either orphans pinned blocks or
    // leaves a memo of unpersisted frames. An entry still building is
    // kept: its build registers its cache after this drain (a build may
    // itself retire, as Dedup's pair build does).
    memos.synchronized {
      memos.filterInPlace { case (_, s) => !s.untilRetire || s.value == null }
    }
    memoCaches.synchronized {
      memoCaches.foreach(_.unpersist(true))
      memoCaches.clear()
    }
  }

  /** Blocking-unpersist one scope's tracked caches and checkpoint
    * blocks, and delete its [[scopedStore]] dirs together with the memo
    * entries keyed on a path under them (a `parquet-schema` entry of a
    * deleted dir could never hit again). Async unpersist would leave
    * SF-sized blocks resident while the NEXT query runs, defeating the
    * point of retiring them.
    */
  private def drainScope(s: Scope): Unit = s.synchronized {
    s.caches.foreach(_.unpersist(true))
    s.caches.clear()
    s.checkpointIds.foreach { case (id, sc) =>
      sc.getPersistentRDDs.get(id).foreach(_.unpersist(true))
    }
    s.checkpointIds.clear()
    s.dirs.foreach { d =>
      tempStores.synchronized { tempStores -= d }
      rmTree(new java.io.File(d))
      memos.synchronized {
        memos.filterInPlace { case ((_, name), _) => name != d && !name.startsWith(s"$d/") }
      }
    }
    s.dirs.clear()
  }

  private val scopedIds = new java.util.concurrent.atomic.AtomicLong()

  /** A fresh dir under java.io.tmpdir that lives until the calling
    * thread's next retire: it is registered in the thread's scope, so
    * [[retireCaches]] (or the dead-thread backstop) deletes it, and
    * through [[registerTempStore]] (pid suffix, process-exit cleanup,
    * dead-sibling sweep). A stream drain writes its result here and a
    * per-call stream store keeps its state here, so the frames they
    * return read these files lazily until the query retires.
    */
  def scopedStore(prefix: String): String = {
    val root = registerTempStore(
      s"${System.getProperty("java.io.tmpdir")}/$prefix-${scopedIds.incrementAndGet()}")
    // a crashed JVM that had this pid may have left the same name
    rmTree(new java.io.File(root))
    java.nio.file.Files.createDirectories(java.nio.file.Path.of(root))
    val s = scope.get
    s.synchronized { s.dirs += root }
    root
  }

  // ---- checkpoint-block bookkeeping ----
  // localCheckpoint persistence is RDD-level: Dataset.unpersist is a
  // NO-OP on a checkpointed frame (the CacheManager has no entry).
  // Loops that checkpoint per round free the PREVIOUS round by RDD id
  // as they go; each query's last live checkpoints register in its
  // thread scope so retireCaches frees them deterministically instead
  // of leaving node-sized MEMORY_AND_DISK blocks to ContextCleaner GC.

  /** The checkpoint RDD id read directly from the checkpointed frame's
    * own plan leaf — precise attribution. (A persistent-RDD-registry
    * diff around the checkpoint misattributes any concurrent persist
    * in the session, and freeing a misattributed CHECKPOINT is
    * unrecoverable data loss: there is no lineage to recompute.)
    */
  def checkpointRddId(df: Dataset[_]): Option[Int] =
    df.queryExecution.analyzed.collectFirst {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
    }

  /** Eager localCheckpoint whose blocks [[retireCaches]] will free. */
  def trackedCheckpoint(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val ck = df.localCheckpoint()
    checkpointRddId(ck).foreach { id =>
      val s = scope.get
      s.synchronized { s.checkpointIds(id) = ck.sparkSession.sparkContext }
    }
    ck
  }

  /** [[trackedCheckpoint]] for UNBOUNDED-round iterative loops, with
    * the inherited plan STATISTICS severed. Spark 4's `localCheckpoint`
    * copies the child plan's ESTIMATED statistics onto the new
    * `LogicalRDD` leaf (`LogicalRDD.rewriteStatsAndConstraints`), so a
    * loop that joins its own previous checkpoint compounds the
    * `sizeInBytes` estimate every round — each round's self-join
    * SQUARES it, the next checkpoint inherits the square, and by round
    * ~20 the BigInt carries millions of digits: the driver burns
    * minutes per round just COMPUTING and MULTIPLYING statistics
    * (measured on the media near-dup components at sf0.1:
    * 0.6 s/round at round 12 → 43 s at round 21 → 167 s at round 22,
    * main thread pinned in `BigInteger.multiplyToomCook3`).
    * Re-wrapping the checkpointed RDD in a fresh DataFrame resets the
    * leaf to `defaultSizeInBytes`, so round estimates stay flat.
    * Bounded-round loops (beam search, PageRank) keep the plain
    * [[trackedCheckpoint]] — a handful of compoundings is harmless and
    * the inherited sizes can inform broadcast choices; in the
    * label-propagation loops the node-sized frame's Row round-trip is
    * noise next to a single stats pass.
    *
    * Returns the frame AND the PERSISTED checkpoint RDD id (the
    * re-wrap's own plan leaf is the unpersisted Row conversion, so
    * [[checkpointRddId]] on the returned frame would misattribute —
    * callers release rounds by this id).
    *
    * `eager = false` marks the checkpoint LAZILY: the blocks persist
    * when the caller's next action computes the frame, fusing the
    * round's materialization into that action — one Spark job per
    * round instead of two (the component loop's convergence count is
    * exactly such an action and scans every partition, so the
    * materialization is still complete and the lineage still
    * truncates). Callers whose next touch might be PARTIAL (a
    * take/limit) must keep `eager = true` or the unscanned partitions
    * stay unmaterialized.
    */
  def loopCheckpoint(df: org.apache.spark.sql.DataFrame, eager: Boolean = true)
      : (org.apache.spark.sql.DataFrame, Option[Int]) = {
    val ck = df.localCheckpoint(eager)
    val id = checkpointRddId(ck)
    id.foreach { i =>
      val s = scope.get
      s.synchronized { s.checkpointIds(i) = ck.sparkSession.sparkContext }
    }
    (ck.sparkSession.createDataFrame(ck.rdd, ck.schema), id)
  }

  /** Free one checkpoint's blocks by id (no-op if already gone). */
  def releaseCheckpoint(sc: org.apache.spark.SparkContext, id: Int): Unit = {
    sc.getPersistentRDDs.get(id).foreach(_.unpersist(true))
    val s = scope.get
    s.synchronized { s.checkpointIds.remove(id) }
    ()
  }

  /** Register an ALREADY-checkpointed frame's blocks in the CALLING
    * thread's scope — for stores built on another thread (e.g. inside
    * `foreachBatch`, which runs on the stream-execution thread) whose
    * lifetime belongs to the query thread that will retire them. The
    * builder thread uses a plain `localCheckpoint` and the query
    * thread adopts the final artifact.
    */
  def adoptCheckpoint(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    checkpointRddId(df).foreach { id =>
      val s = scope.get
      s.synchronized { s.checkpointIds(id) = df.sparkSession.sparkContext }
    }
    df
  }

  // ---- the memo registry ----
  // Every per-corpus product an operator reuses across queries (trained
  // books, checkpointed signature frames, durable store roots) lives in
  // ONE registry keyed (kind, key._1); the entry holds the input
  // fingerprint key._2. The registry lock only looks up or replaces a
  // slot; the build runs under the slot's own monitor, so two callers
  // of one key build once, while callers of other keys — and
  // retireCaches — never wait on a build.

  /** One memo entry: the fingerprint it serves and its value, null until
    * built. A build that throws leaves it null, so the next caller
    * builds again with its own closure.
    */
  private final class MemoSlot(val fp: String, val untilRetire: Boolean) {
    @volatile var value: AnyRef = null
  }

  private val memos = scala.collection.mutable.Map.empty[(String, String), MemoSlot]

  /** The names (key._1) of one memo kind's live entries. */
  private[graft] def memoNames(kind: String): Seq[String] =
    memos.synchronized { memos.keys.collect { case (`kind`, name) => name }.toSeq }

  /** The Datasets a memo value holds: itself, or a tuple's elements. */
  private def datasetsOf(v: AnyRef): Seq[Dataset[_]] = v match {
    case d: Dataset[_] => Seq(d)
    case p: Product => p.productIterator.collect { case d: Dataset[_] => d }.toSeq
    case _ => Nil
  }

  // a value whose frames belong to a stopped context can never be
  // served again (checkpoint blocks die with their context)
  private def stopped(s: MemoSlot): Boolean =
    datasetsOf(s.value).exists(_.sparkSession.sparkContext.isStopped)

  /** Free a superseded value's blocks: a checkpointed frame by its own
    * RDD id (a deeper LogicalRDD leaf belongs to another memo), a
    * cached one by unpersist. Driver values and store roots only leave
    * the map.
    */
  private def release(v: AnyRef): Unit = datasetsOf(v).foreach { d =>
    d.queryExecution.analyzed match {
      case r: org.apache.spark.sql.execution.LogicalRDD =>
        d.sparkSession.sparkContext.getPersistentRDDs.get(r.rdd.id)
          .foreach(_.unpersist(true))
      case _ => d.unpersist(true)
    }
  }

  /** Session-lifetime memo of `build` under `key` = (name, fingerprint),
    * e.g. [[inputKey]]. A new fingerprint for the same (kind, name)
    * replaces the entry and frees the old value's blocks.
    */
  def memo[T <: AnyRef](kind: String, key: (String, String))(build: => T): T =
    memoIn(kind, key, untilRetire = false)(build)

  /** [[memo]] for a frame pinned with [[memoCache]]: every
    * [[retireCaches]] drops the entry together with its cache.
    */
  def memoUntilRetire(kind: String, key: (String, String))(
      build: => org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    memoIn(kind, key, untilRetire = true)(memoCache(build))

  /** One memo kind's hits, builds and summed build seconds since the
    * JVM started.
    */
  final case class MemoStat(hits: Long, builds: Long, buildSec: Double)

  // concurrent counters per kind, so counting takes no lock beside
  // the slot's own
  private final class MemoCounter {
    val hits, builds, buildNs = new java.util.concurrent.atomic.LongAdder()
  }

  private val memoCounts =
    new java.util.concurrent.ConcurrentHashMap[String, MemoCounter]()

  private def memoCounter(kind: String): MemoCounter =
    memoCounts.computeIfAbsent(kind, _ => new MemoCounter)

  /** A snapshot of every memo kind's [[MemoStat]] — [[memo]],
    * [[memoUntilRetire]] and [[buildStore]] all count here.
    */
  def memoStats(): Map[String, MemoStat] = {
    import scala.jdk.CollectionConverters._
    memoCounts.asScala.map { case (kind, c) =>
      kind -> MemoStat(c.hits.sum, c.builds.sum, c.buildNs.sum / 1e9)
    }.toMap
  }

  private def memoIn[T <: AnyRef](kind: String, key: (String, String),
      untilRetire: Boolean)(build: => T): T = {
    val (slot, superseded) = memos.synchronized {
      memos.get((kind, key._1)) match {
        case Some(s) if s.fp == key._2 && !stopped(s) => (s, None)
        case old =>
          val s = new MemoSlot(key._2, untilRetire)
          memos((kind, key._1)) = s
          (s, old.filterNot(stopped).flatMap(o => Option(o.value)))
      }
    }
    superseded.foreach(release)
    slot.synchronized {
      val c = memoCounter(kind)
      if (slot.value != null) c.hits.increment()
      else {
        val t0 = System.nanoTime()
        slot.value = build
        c.builds.increment()
        c.buildNs.add(System.nanoTime() - t0)
      }
      slot.value.asInstanceOf[T]
    }
  }

  // Fingerprinted durable-store dirs under java.io.tmpdir (ANN index,
  // search postings, sketch store, …) are deliberately
  // SESSION-independent — any session in the JVM may serve them — so
  // the only safe lifetime boundary is the process: one shutdown hook
  // deletes every registered root at JVM exit. Without this, each gate
  // or spec run leaves its stores on disk forever (the BPE-memo-leak
  // habit, disk edition). Deterministic (fingerprinted) names keep the
  // WITHIN-run footprint bounded either way; this bounds the
  // across-run footprint to zero.
  private val tempStores = scala.collection.mutable.Set.empty[String]
  private lazy val storeCleanupHook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteTempStores()))

  /** Derive, register, build and memoize ONE fingerprinted store root —
    * every `ensure*Store` is this plus its key and write body: the root
    * name is `prefix-md5(key)[0,12)` under java.io.tmpdir, registered
    * through [[registerTempStore]] (pid suffix, process-exit cleanup,
    * dead-sibling sweep), and `write` runs against it once per
    * (prefix, key) — the root is [[memo]]ized under kind `prefix`.
    */
  def buildStore(prefix: String, key: (String, String))(write: String => Unit): String =
    memo(prefix, key) {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"${key._1}|${key._2}".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(12)
      val root = registerTempStore(
        s"${System.getProperty("java.io.tmpdir")}/$prefix-$h")
      // the one-shot build cost lands on whichever query touches the
      // store first (alphabetical in the bench), masquerading as that
      // query's regression — mark it so bench_full.json's phases map
      // separates build from serve mechanically (r18 verdict #1). Unlike
      // the operator phase marks (seconds since operator t0), a
      // `store:<prefix>` mark is the build's own DURATION.
      val t0 = System.nanoTime()
      write(root)
      phaseMark(s"store:$prefix", (System.nanoTime() - t0) / 1e9)
      root
    }

  def registerTempStore(path: String): String = tempStores.synchronized {
    storeCleanupHook
    // process-unique suffix: fingerprinted store names are deterministic
    // and java.io.tmpdir is machine-shared, so two concurrent JVMs on
    // the same corpus would otherwise resolve the SAME directory — the
    // first to exit deletes it from under the other's memo, and two
    // memo-missing JVMs could interleave writes. The pid keeps the
    // within-process memo contract (deterministic per corpus) and makes
    // the shutdown hook own-stores-only by construction.
    val owned = s"$path-p${ProcessHandle.current().pid()}"
    sweepDeadSiblings(path)
    tempStores += owned
    owned
  }

  /** Reclaim CRASHED processes' stores: the pid suffix means a JVM that
    * died before its shutdown hook leaves `…-p<pid>` orphans no later
    * run would ever resolve (each process mints a fresh suffix). At
    * registration, delete same-fingerprint siblings whose pid is no
    * longer alive — dead-owner dirs are unreachable garbage by
    * construction, and live owners are never touched.
    */
  private def sweepDeadSiblings(path: String): Unit = {
    val self = ProcessHandle.current().pid()
    val base = new java.io.File(path)
    val prefix = base.getName + "-p"
    Option(base.getParentFile).flatMap(d => Option(d.listFiles())).foreach {
      _.foreach { f =>
        if (f.getName.startsWith(prefix)) {
          // Try-guarded parse: a digit string beyond Long range (a
          // crafted or corrupted sibling name) is NOT a pid suffix —
          // skip it rather than throw out of store registration
          val dead = scala.util.Try {
            val pid = f.getName.stripPrefix(prefix).toLong
            pid != self &&
              ProcessHandle.of(pid).map[Boolean](!_.isAlive).orElse(true)
          }.getOrElse(false)
          if (dead) rmTree(f)
        }
      }
    }
  }

  /** Recursive delete — the ONE implementation every temp-store
    * cleanup path shares (shutdown hook, [[scopedStore]] dirs).
    */
  private[graft] def rmTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmTree))
    f.delete(); ()
  }

  private[graft] def deleteTempStores(): Unit = tempStores.synchronized {
    tempStores.foreach(p => rmTree(new java.io.File(p)))
    tempStores.clear()
  }

  // Lightweight phase-timing log: long-running operators mark named
  // phases (seconds since the operator's own t0) on whatever thread
  // runs them; Bench resets before each timed rep and drains after,
  // publishing the marks of each query's BEST rep into
  // bench_full.json's "phases" map — so stage-level drift across
  // rounds is as mechanical as drift_vs_prev; every rep's marks also
  // go to its stderr ledger line.
  private val phaseMarks =
    scala.collection.mutable.ArrayBuffer.empty[(String, Double)]

  def phaseReset(): Unit = phaseMarks.synchronized { phaseMarks.clear() }

  def phaseMark(tag: String, sec: Double): Unit =
    phaseMarks.synchronized { phaseMarks += ((tag, sec)); () }

  def phaseDrain(): Seq[(String, Double)] =
    phaseMarks.synchronized { val s = phaseMarks.toList; phaseMarks.clear(); s }

  /** A t0-bound marker: records seconds-since-creation under `tag` and
    * returns the value. One helper instead of a hand-rolled closure per
    * marked operator.
    */
  def phaseMarker(): String => Double = {
    val t0 = System.nanoTime()
    tag => {
      val t = (System.nanoTime() - t0) / 1e9
      phaseMark(tag, t)
      t
    }
  }

  private val viewIds = new java.util.concurrent.atomic.AtomicLong()

  /** Runs `query` over `tables` registered as temp views for this call
    * only: each under a unique name (`query` gets the name → view map),
    * all dropped before returning. The caller's own views of the same
    * names stay untouched, and two concurrent calls never read each
    * other's tables. `spark.sql` resolves the views while they exist;
    * the returned frame keeps evaluating after the drop.
    */
  def sqlOver(spark: org.apache.spark.sql.SparkSession,
      tables: (String, org.apache.spark.sql.DataFrame)*)(
      query: Map[String, String] => String): org.apache.spark.sql.DataFrame = {
    val id = viewIds.incrementAndGet()
    val views = tables.map { case (name, _) => name -> s"graft_${name}_$id" }.toMap
    try {
      tables.foreach { case (name, df) => df.createTempView(views(name)) }
      spark.sql(query(views))
    } finally views.values.foreach(spark.catalog.dropTempView)
  }

  /** [[memo]] key for session-lifetime per-corpus products (trained
    * codebooks, materialized keep-lists): the input TABLE's path PLUS a
    * cheap recursive (name, length, mtime) listing of it, so
    * regenerating the data under the same path within a JVM session
    * replaces the memo instead of silently serving a stale product.
    * Naming the table, not only the dir, keeps two tables' products of
    * one kind (the embeddings and the image codebook) from replacing
    * each other.
    */
  def inputKey(dir: String, table: String): (String, String) = inputKey(s"$dir/$table")

  /** [[inputKey]] of one parquet path, a file or a directory tree. */
  def inputKey(path: String): (String, String) = {
    def walk(f: java.io.File): Seq[String] =
      if (f.isDirectory) f.listFiles().sortBy(_.getName).toSeq.flatMap(walk)
      else Seq(s"${f.getName}:${f.length}:${f.lastModified}")
    (path, walk(new java.io.File(path)).mkString("|"))
  }
}
