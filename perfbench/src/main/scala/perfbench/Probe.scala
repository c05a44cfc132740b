package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** One recorded span: `traceId` is the query or micro-batch it belongs to. */
final case class Span(id: Int, name: String, parent: Int, traceId: String,
                      startMs: Long, endMs: Long)

/** Cumulative executor-side counters; phases are measured as the
  * difference of two snapshots taken with the listener bus drained. */
final case class Counters(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0, failedTasks: Long = 0,
    cpuNs: Long = 0, runMs: Long = 0, gcMs: Long = 0,
    shuffleRead: Long = 0, shuffleWrite: Long = 0, spill: Long = 0,
    inputBytes: Long = 0, inputRows: Long = 0, scanTasks: Long = 0,
    skewSum: Double = 0, skewStages: Long = 0) {
  def -(o: Counters): Counters = Counters(
    jobs - o.jobs, stages - o.stages, tasks - o.tasks,
    failedTasks - o.failedTasks, cpuNs - o.cpuNs, runMs - o.runMs,
    gcMs - o.gcMs, shuffleRead - o.shuffleRead,
    shuffleWrite - o.shuffleWrite, spill - o.spill,
    inputBytes - o.inputBytes, inputRows - o.inputRows,
    scanTasks - o.scanTasks, skewSum - o.skewSum, skewStages - o.skewStages)
  def +(o: Counters): Counters = Counters(
    jobs + o.jobs, stages + o.stages, tasks + o.tasks,
    failedTasks + o.failedTasks, cpuNs + o.cpuNs, runMs + o.runMs,
    gcMs + o.gcMs, shuffleRead + o.shuffleRead,
    shuffleWrite + o.shuffleWrite, spill + o.spill,
    inputBytes + o.inputBytes, inputRows + o.inputRows,
    scanTasks + o.scanTasks, skewSum + o.skewSum, skewStages + o.skewStages)
}

/** A parquet write command seen by the QueryExecutionListener. */
final case class WriteEvent(path: String, ms: Double, files: Long,
                            bytes: Long, rows: Long)

object Plans {
  /** Physical operators whose counts make up the plan-shape ledger. */
  val ops: Seq[(String, String)] = Seq(
    "exchanges" -> "ShuffleExchangeExec", "smj" -> "SortMergeJoinExec",
    "shj" -> "ShuffledHashJoinExec", "bhj" -> "BroadcastHashJoinExec",
    "windows" -> "WindowExec", "obj_hash_aggs" -> "ObjectHashAggregateExec",
    "sort_aggs" -> "SortAggregateExec", "inmem_scans" -> "InMemoryTableScanExec",
    "generates" -> "GenerateExec")

  /** Every node of a physical plan, through adaptive wrappers, query
    * stages and subqueries. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  def counts(p: SparkPlan): Map[String, Long] = {
    val names = nodes(p).map(_.getClass.getSimpleName)
    ops.map { case (k, cls) => k -> names.count(_ == cls).toLong }.toMap
  }

  def add(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] =
    ops.map { case (k, _) => k -> (a.getOrElse(k, 0L) + b.getOrElse(k, 0L)) }.toMap
}

/** Listeners and span recorder for one run. Listeners stay registered for
  * the whole run; `traced` switches the per-task, per-plan and span
  * recording on for the units the traced run measures, so the untraced
  * units of the same run price the tracing itself. `tracedRun` makes the
  * write listener record parquet writes in every unit of a traced run
  * (set-up writes included); an untraced run records none. */
final class Probe(spark: SparkSession, tracedRun: Boolean) {
  private val sc: SparkContext = spark.sparkContext
  @volatile var traced = false
  /** Span id new jobs are parented to (set by the workload thread). */
  @volatile var current: Int = -1
  @volatile var currentTrace: String = ""

  private var counters = Counters()
  private val stageTasks = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  // job id -> (span id, parent span id, trace id, start ms)
  private val jobSpans = mutable.Map.empty[Int, (Int, Int, String, Long)]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  private val writes = mutable.ArrayBuffer.empty[WriteEvent]
  private var noopPlan: Map[String, Long] = Map.empty
  private var writePlans: Map[String, Long] = Map.empty

  def newSpanId(): Int = synchronized { nextId += 1; nextId }

  def record(id: Int, name: String, parent: Int, trace: String,
             startMs: Long, endMs: Long): Unit = if (traced) synchronized {
    spans += Span(id, name, parent, trace, startMs, endMs)
  }

  /** Run `body` as a span; returns its result and duration in seconds. */
  def span[T](name: String, trace: String)(body: => T): (T, Double) = {
    val id = newSpanId()
    val parent = current
    val saved = currentTrace
    current = id; currentTrace = trace
    val t0 = System.nanoTime(); val w0 = System.currentTimeMillis()
    try {
      val r = body
      (r, (System.nanoTime() - t0) / 1e9)
    } finally {
      record(id, name, parent, trace, w0, System.currentTimeMillis())
      current = parent; currentTrace = saved
    }
  }

  def drain(): Unit = org.apache.spark.perfbench.Bus.drain(sc)
  def snapshot(): Counters = { drain(); synchronized(counters) }
  def takeWrites(): Seq[WriteEvent] = { drain(); synchronized {
    val w = writes.toList; writes.clear(); w } }
  def lastNoopPlan(): Map[String, Long] = { drain(); synchronized(noopPlan) }
  /** Operator counts summed over the parquet writes since the last call. */
  def takeWritePlans(): Map[String, Long] = { drain(); synchronized {
    val p = writePlans; writePlans = Map.empty; p } }
  def allSpans: Seq[Span] = synchronized(spans.toList)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Probe.this.synchronized {
      counters = counters.copy(jobs = counters.jobs + 1)
      if (traced) {
        // parented to the phase the driver is in when the job is submitted
        jobSpans(e.jobId) = (newSpanId(), current, currentTrace, e.time)
        e.stageIds.foreach(s => stageJob(s) = e.jobId)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Probe.this.synchronized {
      jobSpans.remove(e.jobId).foreach { case (id, parent, trace, t0) =>
        record(id, "job", parent, trace, t0, e.time)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Probe.this.synchronized {
        val info = e.stageInfo
        counters = counters.copy(stages = counters.stages + 1)
        stageTasks.remove(info.stageId).foreach { d =>
          if (d.size >= 2) {
            val sorted = d.sorted
            val med = math.max(1L, sorted(sorted.size / 2))
            counters = counters.copy(skewSum = counters.skewSum + sorted.last.toDouble / med,
              skewStages = counters.skewStages + 1)
          }
        }
        for (job <- stageJob.remove(info.stageId); (jid, _, trace, _) <- jobSpans.get(job);
             t0 <- info.submissionTime; t1 <- info.completionTime) {
          record(newSpanId(), "stage", jid, trace, t0, t1)
        }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Probe.this.synchronized {
      val m = e.taskMetrics
      val ok = e.taskInfo.successful
      var c = counters.copy(tasks = counters.tasks + 1,
        failedTasks = counters.failedTasks + (if (ok) 0 else 1))
      if (m != null) {
        val in = m.inputMetrics
        c = c.copy(inputBytes = c.inputBytes + in.bytesRead,
          inputRows = c.inputRows + in.recordsRead,
          scanTasks = c.scanTasks + (if (in.recordsRead > 0) 1 else 0))
        if (traced) {
          c = c.copy(cpuNs = c.cpuNs + m.executorCpuTime,
            runMs = c.runMs + m.executorRunTime, gcMs = c.gcMs + m.jvmGCTime,
            shuffleRead = c.shuffleRead + m.shuffleReadMetrics.totalBytesRead,
            shuffleWrite = c.shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
            spill = c.spill + m.memoryBytesSpilled + m.diskBytesSpilled)
          stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
            e.taskInfo.duration
        }
      }
      counters = c
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (tracedRun) {
        val ns = Plans.nodes(qe.executedPlan)
        val fsWrites = ns.collect { case w: DataWritingCommandExec => w.cmd }
          .collect { case c: InsertIntoHadoopFsRelationCommand => c }
        Probe.this.synchronized {
          fsWrites.foreach { c =>
            def m(k: String) = c.metrics.get(k).map(_.value).getOrElse(0L)
            writes += WriteEvent(c.outputPath.toString, durationNs / 1e6,
              m("numFiles"), m("numOutputBytes"), m("numOutputRows"))
            // the listener runs just after the write returns: its span ends now
            val end = System.currentTimeMillis()
            record(newSpanId(), "sink_write", current, currentTrace,
              end - durationNs / 1000000, end)
          }
          if (traced) {
            // DataSource V2 writes in this harness are the noop sink only
            if (ns.exists(_.getClass.getSimpleName.matches("(AppendData|OverwriteByExpression)Exec")))
              noopPlan = Plans.counts(qe.executedPlan)
            if (fsWrites.nonEmpty)
              writePlans = Plans.add(writePlans, Plans.counts(qe.executedPlan))
          }
        }
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  sc.addSparkListener(sparkListener)
  spark.listenerManager.register(qeListener)

  def close(): Unit = {
    drain()
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
  }
}
