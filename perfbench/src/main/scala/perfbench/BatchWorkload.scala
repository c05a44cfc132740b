package perfbench

import graft.SparkEntry
import org.apache.spark.sql.DataFrame
import scala.collection.mutable.ArrayBuffer

/** Closed-loop batch workload: one client issues the workload's queries
  * one at a time through `SparkEntry.queries`, a pass at a time, in an
  * order the seed permutes per pass.
  *
  * Each query is split into the three layers of its wall time:
  * build (the operator call, including the eager jobs it runs), plan
  * (forcing `queryExecution.executedPlan`) and exec (a `noop` write, which
  * materialises every row without sink I/O).
  *
  * Set-up is a first-use pass on a fresh warehouse root: it builds the
  * at-rest tables `Warehouse.tableOnce` keeps, applies the append, update
  * and purge verbs for the first time, and warms codegen and the JIT. It
  * runs [[SetupReps]] times, each on its own root; the first writes every
  * result to parquet for the oracle check. Timed passes reuse the last
  * set-up root, so they measure the warm path.
  */
object BatchWorkload {
  val SetupReps = 3

  final case class QueryRun(name: String, build: Double, plan: Double,
                            exec: Double, wall: Double, buildJobs: Long,
                            execC: Counters, all: Counters, leaked: Int,
                            storage: Long, planOps: Map[String, Long])

  def run(ctx: Ctx, names: Seq[String]): Result = {
    import ctx.{spark, probe}
    val rng = new scala.util.Random(ctx.seed)
    val fns = names.map(n => n -> SparkEntry.queries(n)).toMap
    val results = s"${ctx.work}/results"
    var attempted = 0L
    var failed = 0L

    def query(name: String, sink: (String, DataFrame) => Unit,
              traced: Boolean): QueryRun = {
      def snap() = if (traced) probe.snapshot() else Counters()
      attempted += 1
      var build, plan, exec = 0.0
      var c0, c1, c2 = Counters()
      val (ok, wall) = probe.span("query", name) {
        try {
          c0 = snap()
          val (df, tb) = probe.span("build", name)(fns(name)(spark, ctx.data))
          build = tb
          c1 = snap()
          plan = probe.span("plan", name)(df.queryExecution.executedPlan)._2
          exec = probe.span("exec", name)(sink(name, df))._2
          c2 = snap()
          true
        } catch {
          case e: Throwable =>
            System.err.println(s"[perfbench] $name failed: $e")
            false
        }
      }
      if (!ok) failed += 1
      val sc = spark.sparkContext
      val leaked = sc.getPersistentRDDs.size
      val storage = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
      val ops = if (traced) probe.lastNoopPlan() else Map.empty[String, Long]
      // query-scoped cleanup, as the engine's own bench does between queries
      sc.getPersistentRDDs.values.foreach(_.unpersist(true))
      graft.core.EngineCache.releaseAll()
      spark.catalog.clearCache()
      QueryRun(name, build, plan, exec, wall, (c1 - c0).jobs, c2 - c1, c2 - c0,
        leaked, storage, ops)
    }

    val noop: (String, DataFrame) => Unit =
      (_, df) => df.write.format("noop").mode("overwrite").save()
    val toParquet: (String, DataFrame) => Unit =
      (n, df) => df.coalesce(1).write.mode("overwrite").parquet(s"$results/$n")

    /** One pass in seed order; returns its query runs and the rows its
      * scans read. */
    def pass(sink: (String, DataFrame) => Unit, traced: Boolean): (Seq[QueryRun], Long) = {
      val order = rng.shuffle(names)
      val c0 = probe.snapshot()
      probe.traced = traced
      val runs = probe.span("pass", "pass")(order.map(q => query(q, sink, traced)))._1
      probe.traced = false
      (runs, (probe.snapshot() - c0).inputRows)
    }

    // ---- set-up: first use on a fresh warehouse root, SetupReps times
    val setup = (1 to SetupReps).map { r =>
      spark.conf.set("graft.warehouse.dir", s"${ctx.work}/warehouse-$r")
      val runs = pass(if (r == 1) toParquet else noop, traced = false)._1
      Heap.collect()
      runs.map(_.wall).sum
    }
    val firstUseWrites = probe.takeWrites().filter(_.path.contains("/warehouse-"))
    Oracle.writeOracles(results, names)

    // ---- timed passes on the warm root, after one untimed pass on it
    pass(noop, traced = false)
    Heap.collect()
    val passes = ArrayBuffer.empty[(Boolean, Seq[QueryRun], Long)]
    val heap = ArrayBuffer.empty[Double]
    // a traced run alternates traced and untraced passes, so it needs two
    val minPasses = if (ctx.trace) 2 else 1
    val deadline = System.nanoTime() + (ctx.seconds * 1e9).toLong
    while (passes.size < minPasses || System.nanoTime() < deadline) {
      val traced = ctx.trace && passes.size % 2 == 0
      val (runs, rows) = pass(noop, traced)
      passes += ((traced, runs, rows))
      heap += Heap.collect()
    }

    val untraced = passes.filterNot(_._1).map(_._2).toSeq
    val tracedRuns = passes.filter(_._1).map(_._2).toSeq
    val passTimes = untraced.map(_.map(_.wall).sum)
    val perQuery = names.map(n => n -> Stats.median(
      untraced.flatMap(_.filter(_.name == n).map(_.wall))))
    val inputRows = passes.filterNot(_._1).map(_._3.toDouble).toSeq

    val endToEnd = Map(
      "pass_s" -> Stats.median(passTimes),
      "unit_geomean_ms" -> Stats.geomean(perQuery.map(_._2 * 1000)),
      // the median query's median: a median over all executions would
      // jump between queries with the parity of the pass count
      "unit_p50_ms" -> Stats.median(perQuery.map(_._2 * 1000)),
      "rows_per_s" -> Stats.median(untraced.indices.map(i => inputRows(i) / passTimes(i))),
      "setup_s" -> Stats.median(setup),
      "heap_peak_mb" -> heap.max)

    val layers = if (tracedRuns.isEmpty) Map.empty[String, Double] else {
      def perPass(f: Seq[QueryRun] => Double) = Stats.mean(tracedRuns.map(f).toSeq)
      def sumC(f: QueryRun => Counters) = (r: Seq[QueryRun]) =>
        r.map(f).foldLeft(Counters())(_ + _)
      val ex = tracedRuns.map(sumC(_.execC))
      val al = tracedRuns.map(sumC(_.all))
      def exM(f: Counters => Double) = Stats.mean(ex.map(f).toSeq)
      def alM(f: Counters => Double) = Stats.mean(al.map(f).toSeq)
      val execS = perPass(_.map(_.exec).sum)
      val wall = perPass(_.map(_.wall).sum)
      val ops = Plans.ops.map { case (k, _) =>
        s"plans.$k" -> perPass(_.map(_.planOps.getOrElse(k, 0L).toDouble).sum) }
      Map(
        "operators.build_s" -> perPass(_.map(_.build).sum),
        "operators.build_jobs" -> perPass(_.map(_.buildJobs.toDouble).sum),
        "operators.build_share" -> perPass(_.map(_.build).sum) / wall,
        "plans.plan_s" -> perPass(_.map(_.plan).sum),
        "exec.exec_s" -> execS,
        "exec.jobs" -> exM(_.jobs.toDouble),
        "exec.stages" -> exM(_.stages.toDouble),
        "exec.tasks" -> exM(_.tasks.toDouble),
        "exec.cpu_s" -> exM(_.cpuNs / 1e9),
        "exec.run_s" -> exM(_.runMs / 1e3),
        "exec.gc_s" -> exM(_.gcMs / 1e3),
        "exec.core_util" -> exM(_.cpuNs / 1e9) / (execS * ctx.cores),
        "exec.shuffle_read_bytes" -> exM(_.shuffleRead.toDouble),
        "exec.shuffle_write_bytes" -> exM(_.shuffleWrite.toDouble),
        "exec.spill_bytes" -> exM(_.spill.toDouble),
        "exec.task_skew" -> exM(c => if (c.skewStages == 0) 1.0 else c.skewSum / c.skewStages),
        "exec.failed_tasks" -> exM(_.failedTasks.toDouble),
        "sources.input_bytes" -> alM(_.inputBytes.toDouble),
        "sources.input_rows" -> alM(_.inputRows.toDouble),
        "sources.scan_tasks" -> alM(_.scanTasks.toDouble),
        "cache.leaked_rdds" -> perPass(_.map(_.leaked.toDouble).sum),
        "cache.storage_peak_bytes" -> tracedRuns.flatten.map(_.storage.toDouble).max,
        // warehouse writes happen on first use, so they are counted over
        // the set-up passes, per pass
        "warehouse.write_s" -> firstUseWrites.map(_.ms).sum / 1e3 / SetupReps,
        "warehouse.bytes_written" -> firstUseWrites.map(_.bytes.toDouble).sum / SetupReps,
        "warehouse.files_written" -> firstUseWrites.map(_.files.toDouble).sum / SetupReps,
        "trace.overhead_frac" -> (Stats.median(tracedRuns.map(_.map(_.wall).sum).toSeq) /
          Stats.median(passTimes) - 1.0)
      ) ++ ops
    }

    val ledger = names.map { n =>
      val rs = tracedRuns.flatten.filter(_.name == n)
      val r = rs.headOption
      Map(
        "query" -> n,
        "build_s" -> Stats.median(rs.map(_.build).toSeq),
        "plan_s" -> Stats.median(rs.map(_.plan).toSeq),
        "exec_s" -> Stats.median(rs.map(_.exec).toSeq),
        "wall_s" -> Stats.median(rs.map(_.wall).toSeq),
        // share of the query's wall time its three layers account for
        "layer_coverage" -> Stats.median(rs.map(q => (q.build + q.plan + q.exec) / q.wall).toSeq),
        "build_jobs" -> r.map(_.buildJobs).getOrElse(0L),
        "exec_jobs" -> r.map(_.execC.jobs).getOrElse(0L),
        "leaked_rdds" -> r.map(_.leaked).getOrElse(0),
        "plan_ops" -> r.map(_.planOps).getOrElse(Map.empty))
    }
    Result(endToEnd, layers, attempted, failed, Some(results),
      extra = Map("ledger" -> ledger, "passes" -> passes.size,
        "query_median_s" -> perQuery.toMap,
        "setup_samples_s" -> setup, "pass_samples_s" -> passTimes))
  }
}
