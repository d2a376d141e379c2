package graft.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Per-query layer ledger from Spark's public listeners: a
  * `SparkListener` (jobs, stages, tasks), a `QueryExecutionListener`
  * (Catalyst phase times) and a `StreamingQueryListener` (micro-batch
  * progress). Listeners are attached only for traced passes.
  *
  * Attribution: the client runs one query at a time, so every query
  * owns a wall-clock window. A job belongs to the query whose job group
  * it carries (the harness sets one per query); a job without it — a
  * stream execution sets its own group, the run id — belongs to the
  * window its submission time falls in. Catalyst phases go by the
  * window of their first phase start, stream progress by the query
  * that was running when the stream started.
  */
final class Tracer(spark: SparkSession) {
  @volatile var current: String = null
  private val windows = mutable.ArrayBuffer.empty[(String, Long, Long)]

  // raw events, resolved to queries in ledger()
  private val stageJob = mutable.Map.empty[Int, Int]
  private val jobTimes = mutable.Map.empty[Int, (Option[String], Long)]
  private val stages = mutable.ArrayBuffer.empty[StageInfo]
  private val tasks = mutable.ArrayBuffer.empty[(Int, SparkListenerTaskEnd)]
  private val phases = mutable.ArrayBuffer.empty[Map[String, (Long, Long)]]
  private val streamQuery = mutable.Map.empty[java.util.UUID, String]
  private val progress = mutable.ArrayBuffer.empty[(String, org.apache.spark.sql.streaming.StreamingQueryProgress)]
  private var streamsStarted = 0
  private var streamsEnded = 0
  private var drainSeen = Set.empty[String]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      jobTimes(e.jobId) = (group, e.time)
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobTimes.get(e.jobId).flatMap(_._1).filter(_.startsWith(Tracer.DrainGroup))
        .foreach(g => drainSeen += g)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized { stages += e.stageInfo }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Tracer.this.synchronized { tasks += ((e.stageId, e)) }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = Tracer.this.synchronized {
      phases += qe.tracker.phases.map { case (k, p) => k -> ((p.startTimeMs, p.endTimeMs)) }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      Tracer.this.synchronized { streamsStarted += 1; Option(current).foreach(streamQuery(e.runId) = _) }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized { progress += ((streamQuery.getOrElse(e.progress.runId, null), e.progress)) }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      Tracer.this.synchronized { streamsEnded += 1 }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Detach after the asynchronous listener bus has delivered every
    * event of the pass: a marker job runs through the same queue, and
    * every started stream must have reported its termination.
    */
  def detach(n: Int): Unit = {
    val sc = spark.sparkContext
    val group = s"${Tracer.DrainGroup}$n"
    sc.setJobGroup(group, group, interruptOnCancel = false)
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    def delivered = synchronized(drainSeen(group) && streamsEnded >= streamsStarted)
    while (!delivered && System.nanoTime() < deadline) Thread.sleep(5)
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(qeListener)
    sc.removeSparkListener(sparkListener)
  }

  def window(id: String, startMs: Long, endMs: Long): Unit = synchronized { windows += ((id, startMs, endMs)) }

  private def byTime(t: Long): Option[String] =
    windows.find { case (_, a, b) => a <= t && t <= b }.map(_._1)

  /** Layer metrics per query id, plus the events no query window
    * claimed under the key "". */
  def ledger(): Map[String, Map[String, Double]] = synchronized {
    val ids = windows.map(_._1).toSet
    val acc = mutable.Map.empty[String, mutable.Map[String, Double]]
    def add(q: String, k: String, v: Double): Unit = {
      val m = acc.getOrElseUpdate(if (q == null) "" else q, mutable.Map.empty)
      m(k) = m.getOrElse(k, 0.0) + v
    }
    // the drain markers are the harness's own jobs: no query's, and not unclaimed
    val jobs = jobTimes.filterNot(_._2._1.exists(_.startsWith(Tracer.DrainGroup)))
    val jobQuery = jobs.map {
      case (j, (Some(g), _)) if ids(g) => j -> g
      case (j, (_, t)) => j -> byTime(t).orNull
    }
    val stageQuery = stageJob.collect { case (s, j) if jobQuery.contains(j) => s -> jobQuery(j) }
    jobQuery.values.foreach(add(_, "spark.jobs", 1))
    val mb = 1024.0 * 1024.0
    val busy = mutable.Map.empty[String, mutable.ArrayBuffer[(Long, Long)]]
    stages.filter(s => stageQuery.contains(s.stageId)).foreach { s =>
      val q = stageQuery(s.stageId)
      add(q, "spark.stages", 1)
      for (a <- s.submissionTime; b <- s.completionTime) {
        add(q, "spark.stage_busy_s", (b - a) / 1e3)
        if (q != null) busy.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += ((a, b))
      }
    }
    tasks.filter(t => stageQuery.contains(t._1)).foreach { case (stageId, e) =>
      val q = stageQuery(stageId)
      add(q, "spark.tasks", 1)
      if (e.reason != org.apache.spark.Success) add(q, "spark.failed_tasks", 1)
      Option(e.taskMetrics).foreach { m =>
        val records = m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead +
          m.outputMetrics.recordsWritten + m.shuffleWriteMetrics.recordsWritten
        if (records == 0) add(q, "spark.empty_tasks", 1)
        add(q, "spark.task_run_s", m.executorRunTime / 1e3)
        add(q, "spark.input_mb", m.inputMetrics.bytesRead / mb)
        add(q, "spark.input_records", m.inputMetrics.recordsRead.toDouble)
        add(q, "spark.shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / mb)
        add(q, "spark.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / mb)
        add(q, "spark.spill_mb", m.diskBytesSpilled / mb)
      }
    }
    phases.foreach { ph =>
      val q = if (ph.isEmpty) null else byTime(ph.values.map(_._1).min).orNull
      Seq("analysis", "optimization", "planning").foreach { k =>
        ph.get(k).foreach { case (a, b) => add(q, s"spark.${k}_s", (b - a) / 1e3) }
      }
    }
    progress.foreach { case (q0, p) =>
      val q = Option(q0).orElse(scala.util.Try(byTime(java.time.Instant.parse(p.timestamp).toEpochMilli))
        .toOption.flatten).orNull
      add(q, "streaming.batches", 1)
      add(q, "streaming.batch_s", p.batchDuration / 1e3)
      Option(p.durationMs.get("addBatch")).foreach(v => add(q, "streaming.add_batch_s", v / 1e3))
      p.stateOperators.foreach(o => add(q, "streaming.state_commit_s", o.commitTimeMs / 1e3))
    }
    // state rows: the size of each stream's state at its LAST batch
    progress.groupBy(_._2.runId).values.foreach { ps =>
      val (q, last) = ps.maxBy(_._2.batchId)
      add(q, "streaming.state_rows", last.stateOperators.map(_.numRowsTotal).sum.toDouble)
    }
    // the part of each query window no stage of the query was running in
    windows.foreach { case (id, a, b) =>
      val iv = busy.getOrElse(id, mutable.ArrayBuffer.empty).map { case (x, y) => (x max a, y min b) }
        .filter { case (x, y) => y > x }.sortBy(_._1)
      var covered = 0L; var end = Long.MinValue
      iv.foreach { case (x, y) =>
        if (x > end) { covered += y - x; end = y }
        else if (y > end) { covered += y - end; end = y }
      }
      add(id, "spark.driver_gap_s", (b - a - covered) / 1e3)
    }
    acc.map { case (k, v) => k -> v.toMap }.toMap
  }
}

object Tracer {
  val DrainGroup = "perfbench-drain-"
}
