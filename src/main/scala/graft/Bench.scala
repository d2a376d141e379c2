package graft

import java.nio.file.{Files, Path, Paths}
import java.util.UUID
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.LongAdder

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, parse, render}

import graft.operators.Kernels

/** The full-suite benchmark: times every query, prints one JSON line
  * to stdout and writes every detail to `bench_full.json`. */
object Bench {
  private implicit val formats: Formats = DefaultFormats

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // optional comma-separated name filter for local perf iteration
    // (unset → the full driver-contract run)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt.max(1)
    val names = SparkEntry.queries.keys.toSeq.sorted.filter(n => only.forall(_.contains(n)))
    val spark = GraftSession.deployment()
    // a FILTERED run must not clobber the full-run artifact
    println(run(spark, sfDir, names, reps, Paths.get("bench_full.json"), write = only.isEmpty))
    spark.stop()
  }

  /** Runs `names` for `reps` interleaved reps and returns the stdout
    * line. `artifact` is the previous run's `bench_full.json`, read for
    * `drift_vs_prev` before this run overwrites it (when `write`).
    */
  def run(spark: SparkSession, sfDir: String, names: Seq[String], reps: Int,
      artifact: Path, write: Boolean): String = {
    // The previous artifact's per-query ratios separate host-VM drift
    // from structural regressions mechanically (this host has drifted
    // ±16% between rounds on untouched queries). Its total rides along
    // so drift_vs_prev names what it compared against.
    val prev = if (!Files.exists(artifact)) None else try {
      val js = parse(Files.readString(artifact))
      Some(((js \ "value").extract[Double], (js \ "queries").extract[Map[String, Double]]))
    } catch {
      case e: Exception =>
        System.err.println(s"[bench] $artifact unreadable, no drift_vs_prev: ${e.getMessage}")
        None
    }
    val times = mutable.Map.empty[String, Double] // best rep
    val first = mutable.Map.empty[String, Double] // first successful rep
    // the BEST rep's phase marks (only operators that call
    // Kernels.phaseMark emit any) and ledger row
    val phases = mutable.Map.empty[String, Seq[(String, Double)]]
    val layers = mutable.Map.empty[String, JValue]
    // one-shot durable-store builds (`store:` marks), kept across ALL
    // reps: a store builds once per session, almost always in a query's
    // FIRST rep, which is rarely its best. Tag → (first toucher, sec).
    val stores = mutable.Map.empty[String, (String, Double)]
    val failed = mutable.SortedSet.empty[String]
    val ledger = new Ledger(spark)
    // memo hits and builds per kind: per rep in its ledger row, and over
    // the whole run in the artifact's "memo" map (a memo builds once per
    // session, so only the run total puts its build beside its hits)
    val memoAtStart = Kernels.memoStats()
    def timedRun(name: String): Unit = {
      Kernels.phaseReset()
      val memo0 = Kernels.memoStats()
      val token = ledger.open(name)
      val t0 = System.nanoTime()
      // A failed rep does NOT update the per-query min: a crashing query
      // must not masquerade as a fast one. It lands in "errors" instead.
      val dt = GraftSession.step("bench", name) {
        SparkEntry.queries(name)(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      }
      val memo = memoMoved(memo0, Kernels.memoStats())
      val row = JObject(ledger.close(token).obj ++ List(
        "memo_hits" -> JObject(memo.map { case (k, d) => k -> JLong(d.hits) }),
        "memo_builds" -> JObject(memo.map { case (k, d) => k -> JLong(d.builds) })))
      val marks = Kernels.phaseDrain()
      System.err.println(s"[bench] $name ${dt.fold("failed")(d => f"$d%.3fs")} phases: " +
        marks.map { case (t, s) => f"$t=$s%.2f" }.mkString(" ") + s" ledger: ${compact(render(row))}")
      dt match {
        case None => failed += name
        case Some(d) =>
          marks.filter(_._1.startsWith("store:")).foreach { case (tag, sec) =>
            if (!stores.contains(tag)) stores(tag) = (name, sec)
          }
          first.getOrElseUpdate(name, d)
          if (d < times.getOrElse(name, Double.MaxValue)) {
            times(name) = d
            layers(name) = row
            // a new best rep replaces the marks even with none, so no
            // slower rep's marks are published beside this time
            if (marks.nonEmpty) phases(name) = marks else phases.remove(name)
          }
      }
    }
    try {
      // Best-of-N per query with the reps INTERLEAVED (all queries once,
      // then again): the host VM intermittently stalls for tens of
      // seconds; interleaved, a stall lands on different queries each
      // rep and the per-query min measures the engine, not the host.
      for (_ <- 0 until reps; name <- names) timedRun(name)
      // Stability pass: a stall that lands on EVERY rep of a query
      // leaves a min far above the engine's floor (the same operator
      // has measured 5s and 37s with identical code). Heavy queries get
      // up to 2 extra reps, stopping once a rep no longer improves the
      // floor by >20%.
      for (name <- names if times.get(name).exists(_ > 2.5)) {
        var improved = true
        var extra = 0
        while (improved && extra < 2) {
          val before = times(name)
          timedRun(name)
          improved = times(name) < before * 0.8
          extra += 1
        }
      }
    } finally ledger.detach()

    // times and ratios carry 3 decimals
    def dec(d: Double): JValue = JDecimal(BigDecimal(d).setScale(3, BigDecimal.RoundingMode.HALF_UP))
    def obj[V](kvs: Iterable[(String, V)])(f: V => JValue): JObject =
      JObject(kvs.toList.sortBy(_._1).map { case (k, v) => k -> f(v) })
    val total = times.values.sum
    // Queries that never succeeded appear ONLY in "errors" — a sentinel
    // in the timings map would poison min/sum across reps.
    val errors: JField = "errors" -> JArray(failed.filterNot(times.contains).toList.map(JString(_)))
    // median new/old ratio over the common >=0.3s queries: robust to
    // the handful of queries a change actually moves
    val ratios = times.toSeq.flatMap { case (n, t) =>
      prev.flatMap(_._2.get(n)).filter(_ >= 0.3).map(t / _)
    }.sorted
    val drift: List[JField] = prev.toList.map { case (prevTotal, _) =>
      val median = ratios.lift(ratios.length / 2).map { hi =>
        if (ratios.length % 2 == 1) hi else (ratios(ratios.length / 2 - 1) + hi) / 2
      }
      "drift_vs_prev" -> JObject(median.map(m => "median_ratio" -> dec(m)).toList ++
        List("n" -> JInt(ratios.length), "prev_total" -> dec(prevTotal)))
    }
    val head: List[JField] = List("metric" -> JString("total"), "value" -> dec(total), "unit" -> JString("sec"))
    val tail = (errors :: drift) :+ ("sf" -> JString(sfDir))
    if (write) try {
      val full = JObject(head ++ List(
        "cold" -> dec(first.values.sum),
        "queries" -> obj(times)(dec),
        "phases" -> obj(phases)(ms => JObject(ms.toList.map { case (t, s) => t -> dec(s) })),
        "stores" -> obj(stores) { case (q, s) => JObject("query" -> JString(q), "sec" -> dec(s)) },
        "memo" -> JObject(memoMoved(memoAtStart, Kernels.memoStats()).map { case (k, d) =>
          k -> JObject("hits" -> JLong(d.hits), "builds" -> JLong(d.builds), "build_s" -> dec(d.buildSec))
        }),
        "layers" -> obj(layers)(identity)) ++ tail)
      Files.writeString(artifact, compact(render(full)))
    } catch { case e: Exception => System.err.println(s"[bench] $artifact write failed: ${e.getMessage}") }
    // The harness that consumes the stdout line captures only the LAST
    // ~2000 characters of the run's output (rounds 4-5 lost their
    // parsed result to a full timing map), so the line carries the
    // total plus as many of the SLOWEST queries as fit 1500 chars, and
    // "queries_n" makes the truncation explicit.
    def line(qs: Seq[String]): String = compact(render(JObject(head ++ List(
      "queries" -> JObject(qs.toList.map(n => n -> dec(times(n)))),
      "queries_n" -> JInt(times.size)) ++ tail)))
    val bySlowest = times.toSeq.sortBy { case (n, t) => (-t, n) }.map(_._1)
    line(bySlowest.foldLeft(Vector.empty[String]) { (in, n) =>
      if (line(in :+ n).length <= 1500) in :+ n else in
    })
  }

  /** The memo kinds hit or built between two [[Kernels.memoStats]]
    * snapshots, by kind, with the counts and build seconds in between.
    */
  private def memoMoved(before: Map[String, Kernels.MemoStat],
      after: Map[String, Kernels.MemoStat]): List[(String, Kernels.MemoStat)] =
    after.toList.sortBy(_._1).map { case (k, a) =>
      val b = before.getOrElse(k, Kernels.MemoStat(0, 0, 0.0))
      k -> Kernels.MemoStat(a.hits - b.hits, a.builds - b.builds, a.buildSec - b.buildSec)
    }.filter { case (_, d) => d.hits + d.builds > 0 }
}

/** Per-query layer ledger from Spark's own listeners, attached for one
  * [[Bench.run]]: a `SparkListener` (jobs, stages, tasks, summed stage
  * ms, input, shuffle and spill bytes, the 5 slowest stages), a
  * `QueryExecutionListener` (Catalyst phase ms) and a
  * `StreamingQueryListener` (micro-batches, state rows, commit ms).
  *
  * Attribution: [[open]] puts a per-rep token in a local property, so
  * every job the rep submits carries it — a stream's micro-batch jobs
  * too, because the stream execution thread inherits the starting
  * thread's local properties (the job group cannot serve: a stream
  * replaces it with its run id). Stages and tasks follow their job, and
  * micro-batches the rep that started their stream. A `QueryExecution`
  * carries no job property, so Catalyst phases go by the rep's time
  * window, which holds because Bench runs one rep at a time. State is
  * in concurrent maps: events arrive on the listener bus threads.
  */
private final class Ledger(spark: SparkSession) {
  private val Key = "graft.bench.rep"
  private val Flush = "/flush"
  private val sc = spark.sparkContext
  private var reps = 0L
  private val counts = new ConcurrentHashMap[String, ConcurrentHashMap[String, LongAdder]]()
  private val stages = new ConcurrentHashMap[String, ConcurrentLinkedQueue[(Long, Int, String)]]()
  private val stageOf, flushJobs = new ConcurrentHashMap[Int, String]()
  @volatile private var window: (String, Long) = null // open rep, its start ms
  private val runOf = new ConcurrentHashMap[UUID, String]()
  private val stateRows = new ConcurrentHashMap[UUID, Long]()
  private val running = ConcurrentHashMap.newKeySet[UUID]()
  private val flushed = ConcurrentHashMap.newKeySet[String]()

  private def add(token: String, key: String, v: Long): Unit =
    counts.computeIfAbsent(token, _ => new ConcurrentHashMap[String, LongAdder]())
      .computeIfAbsent(key, _ => new LongAdder()).add(v)

  private val jobs = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(Key))).foreach { t =>
        if (t.endsWith(Flush)) flushJobs.put(e.jobId, t)
        else {
          add(t, "jobs", 1)
          e.stageIds.foreach(stageOf.put(_, t))
        }
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(flushJobs.remove(e.jobId)).foreach(flushed.add)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageOf.get(e.stageInfo.stageId)).foreach { t =>
        val si = e.stageInfo
        val ms = (for (a <- si.submissionTime; b <- si.completionTime) yield b - a).getOrElse(0L)
        // AQE submits its query stages from a pool thread, so the call
        // site names the pool (`withThreadLocalCaptured`), not the query:
        // name such a stage by the plan scope of its last RDD instead
        val name =
          if (!si.name.contains("withThreadLocalCaptured")) si.name
          else si.rddInfos.maxByOption(_.id).flatMap(_.scope).fold(si.name)(_.name)
        add(t, "stages", 1)
        add(t, "stage_ms", ms)
        stages.computeIfAbsent(t, _ => new ConcurrentLinkedQueue()).add((ms, si.numTasks, name))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageOf.get(e.stageId)).foreach { t =>
        add(t, "tasks", 1)
        Option(e.taskMetrics).foreach { m =>
          add(t, "input_bytes", m.inputMetrics.bytesRead)
          add(t, "shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
          add(t, "shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
          add(t, "spill_bytes", m.diskBytesSpilled)
        }
      }
  }

  private val plans = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val (w, phases) = (window, qe.tracker.phases)
      if (w != null && phases.nonEmpty && phases.values.map(_.startTimeMs).min >= w._2)
        phases.foreach { case (phase, p) => add(w._1, s"${phase}_ms", p.durationMs) }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  private val streams = new StreamingQueryListener {
    import StreamingQueryListener._
    // delivered synchronously on the stream execution thread
    override def onQueryStarted(e: QueryStartedEvent): Unit =
      Option(sc.getLocalProperty(Key)).foreach { t => runOf.put(e.runId, t); running.add(e.runId) }
    override def onQueryProgress(e: QueryProgressEvent): Unit =
      Option(runOf.get(e.progress.runId)).foreach { t =>
        add(t, "batches", 1)
        add(t, "commit_ms", e.progress.stateOperators.map(_.commitTimeMs).sum)
        stateRows.put(e.progress.runId, e.progress.stateOperators.map(_.numRowsTotal).sum)
      }
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
      running.remove(e.runId)
  }

  sc.addSparkListener(jobs)
  spark.listenerManager.register(plans)
  spark.streams.addListener(streams)

  def detach(): Unit = {
    spark.streams.removeListener(streams)
    spark.listenerManager.unregister(plans)
    sc.removeSparkListener(jobs)
  }

  /** Starts attributing this thread's work to a new rep of `query`. */
  def open(query: String): String = {
    reps += 1
    val token = s"$query#$reps"
    sc.setLocalProperty(Key, token)
    window = (token, System.currentTimeMillis())
    token
  }

  /** Ends the rep and returns its row, once the listener bus has
    * delivered every event of it: a marker job runs through the same
    * queue, and every stream the rep started has reported its end.
    */
  def close(token: String): JObject = {
    sc.setLocalProperty(Key, token + Flush)
    try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(Key, null)
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    def runs = runOf.asScala.collect { case (r, `token`) => r }.toList
    while (!(flushed.contains(token + Flush) && !runs.exists(running.contains)) &&
        System.nanoTime() < deadline)
      Thread.sleep(1)
    flushed.remove(token + Flush)
    window = null
    if (runs.nonEmpty) add(token, "state_rows", runs.flatMap(r => Option(stateRows.remove(r))).sum)
    Seq[ConcurrentHashMap[_, String]](stageOf, runOf).foreach(_.values.removeIf(_ == token))
    val c = Option(counts.remove(token)).map(_.asScala.toList.map { case (k, v) => k -> v.sum })
    val slowest = Option(stages.remove(token)).toList.flatMap(_.asScala).sortBy(-_._1).take(5)
    JObject(c.getOrElse(Nil).sortBy(_._1).map { case (k, v) => k -> JLong(v) } ++
      List("slowest" -> JArray(slowest.map { case (ms, n, name) =>
        JObject("stage" -> JString(name), "ms" -> JLong(ms), "tasks" -> JInt(n))
      })))
  }
}
