package perfbench

import graft.core.Tables
import graft.streaming.{Archive, IngestPipeline, Telemetry}
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** A Kafka-shaped record, the archive's input schema. */
final case class KMsg(key: Array[Byte], value: Array[Byte], topic: String,
                      partition: Int, offset: Long, timestamp: java.sql.Timestamp)

/** Closed-loop stream workloads: one client adds one micro-batch to a
  * memory source and waits until the query has committed it before adding
  * the next, so each batch's latency runs from `addData` to commit.
  *
  * Set-up builds the inputs (and, for ingest, the frozen at-rest state)
  * and starts the query on fresh output and checkpoint directories; for
  * the archive it also commits the first batch. It runs three times; the
  * third query is kept and measured, after some untimed warm-up batches.
  */
object StreamWorkloads {
  val SetupReps = 3

  final case class BatchRun(id: Long, latencyMs: Double, traced: Boolean,
                            c: Counters, planOps: Map[String, Long],
                            writes: Seq[WriteEvent])

  /** Deliver batches after `warm` untimed ones until `seconds` have been
    * measured and at least `least` batches have run; timed batch `i` is
    * traced when `tracedAt(i)`. `planOf` gives the operator counts of the
    * batch just committed; `heap` collects the heap after GC every ten
    * batches and at the end. */
  private def closedLoop[A](ctx: Ctx, src: MemoryStream[A], q: StreamingQuery,
                            warm: Int, batchOf: Long => Seq[A], firstBatch: Long,
                            planOf: () => Map[String, Long], seconds: Double,
                            least: Int, tracedAt: Int => Boolean,
                            heap: ArrayBuffer[Double]): (Seq[BatchRun], Long) = {
    import ctx.probe
    val runs = ArrayBuffer.empty[BatchRun]
    var b = firstBatch
    def one(traced: Boolean): BatchRun = {
      val data = batchOf(b)
      val c0 = if (traced) probe.snapshot() else Counters()
      if (traced) { probe.takeWrites(); probe.takeWritePlans() }
      probe.traced = traced
      val (_, s) = probe.span("microbatch", s"batch-$b") {
        src.addData(data: _*)
        q.processAllAvailable()
      }
      val run = if (!traced) BatchRun(b, s * 1e3, traced, Counters(), Map.empty, Nil)
      else {
        val c1 = probe.snapshot()
        BatchRun(b, s * 1e3, traced, c1 - c0, planOf(), probe.takeWrites())
      }
      probe.traced = false
      b += 1
      run
    }
    (1 to warm).foreach(_ => one(traced = false))
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    while (runs.size < least || System.nanoTime() < deadline) {
      runs += one(tracedAt(runs.size))
      if (runs.size % 10 == 0) heap += Heap.collect()
    }
    heap += Heap.collect()
    (runs.toSeq, b)
  }

  private def progressOf(q: StreamingQuery, ids: Set[Long]) =
    q.recentProgress.filter(p => ids.contains(p.batchId))

  private def dirStats(root: String): (Long, Long) = {
    val p = java.nio.file.Paths.get(root)
    if (!java.nio.file.Files.exists(p)) (0L, 0L)
    else {
      val files = java.nio.file.Files.walk(p).iterator().asScala
        .filter(f => java.nio.file.Files.isRegularFile(f) &&
          f.getFileName.toString.endsWith(".parquet")).toSeq
      (files.size.toLong, files.map(f => java.nio.file.Files.size(f)).sum)
    }
  }

  /** The archive's end-to-end and common layer metrics, from its timed
    * batches. `passBatches` micro-batches make one replay of the events,
    * timed at the mean batch latency; `telemetry` holds the Telemetry
    * lines reported while the timed batches ran. */
  private def common(ctx: Ctx, runs: Seq[BatchRun], setup: Seq[Double],
                     heap: Double, rowsPerBatch: Double, passBatches: Int,
                     q: StreamingQuery, telemetry: Seq[String])
      : (Map[String, Double], Map[String, Double]) = {
    val plain = runs.filterNot(_.traced)
    val lat = plain.map(_.latencyMs)
    val endToEnd = Map(
      "pass_s" -> Stats.mean(lat) * passBatches / 1e3,
      "unit_geomean_ms" -> Stats.geomean(lat),
      "unit_p50_ms" -> Stats.median(lat),
      "rows_per_s" -> rowsPerBatch / (Stats.median(lat) / 1e3),
      "setup_s" -> Stats.median(setup),
      "heap_peak_mb" -> heap)
    val traced = runs.filter(_.traced)
    if (traced.isEmpty) return (endToEnd, Map.empty)
    val prog = progressOf(q, traced.map(_.id).toSet)
    def dur(keys: String*) = Stats.mean(prog.map(p =>
      keys.map(k => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)).sum).toSeq)
    def cm(f: Counters => Double) = Stats.mean(traced.map(r => f(r.c)))
    val execS = dur("addBatch") / 1e3
    val tLat = traced.map(_.latencyMs)
    // a memory source builds its batch in no measurable time; what the
    // driver spends outside the trigger (polling for data, starting the
    // batch) is the stream's construction cost
    val outsideTriggerMs = Stats.mean(traced.map { r =>
      r.latencyMs - prog.find(_.batchId == r.id)
        .flatMap(p => Option(p.durationMs.get("triggerExecution"))).map(_.doubleValue).getOrElse(0.0)
    })
    // Telemetry's batch_duration_ms, one timer line per batch, against the
    // latency the client saw for the same batches
    val telMs = telemetry.collect {
      case l if l.contains(".batch_duration_ms:") =>
        l.substring(l.lastIndexOf(':') + 1, l.lastIndexOf('|')).toDouble
    }
    val telRatio = if (telMs.isEmpty) 0.0
      else Stats.median(telMs) / Stats.median(runs.map(_.latencyMs))
    val layers = Map(
      "operators.build_s" -> outsideTriggerMs / 1e3,
      "operators.build_jobs" -> 0.0,
      "operators.build_share" -> outsideTriggerMs / Stats.mean(tLat),
      "plans.plan_s" -> dur("queryPlanning") / 1e3,
      "exec.exec_s" -> execS,
      "exec.jobs" -> cm(_.jobs.toDouble),
      "exec.stages" -> cm(_.stages.toDouble),
      "exec.tasks" -> cm(_.tasks.toDouble),
      "exec.cpu_s" -> cm(_.cpuNs / 1e9),
      "exec.run_s" -> cm(_.runMs / 1e3),
      "exec.gc_s" -> cm(_.gcMs / 1e3),
      "exec.core_util" -> cm(_.cpuNs / 1e9) / (Stats.mean(tLat) / 1e3 * ctx.cores),
      "exec.shuffle_read_bytes" -> cm(_.shuffleRead.toDouble),
      "exec.shuffle_write_bytes" -> cm(_.shuffleWrite.toDouble),
      "exec.spill_bytes" -> cm(_.spill.toDouble),
      "exec.task_skew" -> cm(c => if (c.skewStages == 0) 1.0 else c.skewSum / c.skewStages),
      "exec.failed_tasks" -> cm(_.failedTasks.toDouble),
      "sources.input_bytes" -> cm(_.inputBytes.toDouble),
      "sources.input_rows" -> cm(_.inputRows.toDouble),
      "sources.scan_tasks" -> cm(_.scanTasks.toDouble),
      "cache.leaked_rdds" -> ctx.spark.sparkContext.getPersistentRDDs.size.toDouble,
      "cache.storage_peak_bytes" -> ctx.spark.sparkContext.getRDDStorageInfo
        .map(i => i.memSize + i.diskSize).sum.toDouble,
      "telemetry.batch_ms_ratio" -> telRatio,
      "trace.overhead_frac" -> (Stats.median(tLat) / Stats.median(lat) - 1.0)
    ) ++ Plans.ops.map { case (k, _) =>
      s"plans.$k" -> Stats.mean(traced.map(_.planOps.getOrElse(k, 0L).toDouble)) }
    (endToEnd, layers)
  }

  // ------------------------------------------------------------ archive

  /** Records per micro-batch. */
  val ArchiveBatch = 1000

  /** The stream workload: the events archived through `Archive.start`,
    * and in a traced run also the [[ingest]] edge. */
  val stream: Ctx => Result = { ctx =>
    import ctx.spark
    import spark.implicits._
    implicit val sqlc: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rng = new scala.util.Random(ctx.seed)
    val telemetry = ArrayBuffer.empty[String]
    val tel = Telemetry.attach(spark, "perfbench", l => telemetry.synchronized(telemetry += l))
    // events as Kafka records: topic = event_type, partition = user_id mod 4,
    // offset = running count within (topic, partition) in event_id order
    def buildRecords(): Array[KMsg] = {
      val rows = Tables.load(spark, ctx.data, "events").orderBy("event_id")
        .select(col("event_type"), (col("user_id") % 4).cast("int"),
          col("user_id").cast("string"), to_json(struct(col("*"))), col("ts"))
        .as[(String, Int, String, String, java.sql.Timestamp)].collect()
      val next = scala.collection.mutable.Map.empty[(String, Int), Long]
      rows.map { case (t, p, k, v, ts) =>
        val o = next.getOrElse((t, p), 0L); next((t, p)) = o + 1
        KMsg(k.getBytes("UTF-8"), v.getBytes("UTF-8"), t, p, o, ts)
      }
    }
    var records: Array[KMsg] = Array.empty
    lazy val perTp = records.groupBy(m => (m.topic, m.partition)).map { case (k, v) => k -> v.length.toLong }
    // batch b is the next ArchiveBatch records of an endless replay whose
    // offsets continue from one replay to the next; the seed permutes the
    // record order inside each batch
    def batchOf(b: Long): Seq[KMsg] = {
      val n = records.length
      val batch = (0 until ArchiveBatch).map { j =>
        val g = b * ArchiveBatch + j
        val r = g / n
        val m = records((g % n).toInt)
        m.copy(offset = m.offset + r * perTp((m.topic, m.partition)))
      }
      rng.shuffle(batch)
    }
    def start(rep: Int): (MemoryStream[KMsg], StreamingQuery, String) = {
      val dir = s"${ctx.work}/archive-$rep"
      val src = MemoryStream[KMsg]
      val q = Archive.start(src.toDF(), Archive.ArchiveConfig(s"$dir/out", s"$dir/ckpt",
        rotationInterval = "0 seconds", queryName = Some(s"archive$rep")))
      (src, q, dir)
    }
    val setup = ArrayBuffer.empty[Double]
    var live: (MemoryStream[KMsg], StreamingQuery, String) = null
    (1 to SetupReps).foreach { rep =>
      val t0 = System.nanoTime()
      records = buildRecords()
      val s = start(rep)
      s._1.addData(batchOf(0): _*)
      s._2.processAllAvailable()
      setup += (System.nanoTime() - t0) / 1e9
      if (rep < SetupReps) s._2.stop() else live = s
    }
    val (src, q, dir) = live
    val heap = ArrayBuffer.empty[Double]
    val filesBefore = dirStats(s"$dir/out")
    val tel0 = telemetry.synchronized(telemetry.size)
    // a traced run alternates traced and untraced batches, so it needs two
    val (runs, delivered) = closedLoop(ctx, src, q, warm = 3, batchOf, firstBatch = 1,
      () => Plans.counts(q.asInstanceOf[StreamingQueryWrapper]
        .streamingQuery.lastExecution.executedPlan),
      ctx.seconds, least = if (ctx.trace) 2 else 1, i => ctx.trace && i % 2 == 0, heap)
    ctx.probe.drain()
    val filesAfter = dirStats(s"$dir/out")
    val (e2e, common0) = common(ctx, runs, setup.toSeq, heap.max, ArchiveBatch,
      math.max(1, records.length / ArchiveBatch), q,
      telemetry.synchronized(telemetry.drop(tel0).toList))
    q.stop()
    spark.streams.removeListener(tel)

    // correctness: the archive holds exactly the delivered records, and
    // every (topic, partition) has offsets 0..n-1 with no duplicates
    val expected = (0L until delivered).flatMap(batchOf)
      .map(m => (m.topic, m.partition, m.offset, new String(m.value, "UTF-8"))).toDF(
        "topic", "partition", "offset", "v")
    val got = Archive.readArchive(spark, s"$dir/out")
      .select(col("topic"), col("partition"), col("offset"), col("value").cast("string").as("v"))
    val missing = expected.exceptAll(got).count()
    val extra = got.exceptAll(expected).count()
    val badOffsets = got.groupBy("topic", "partition")
      .agg(min("offset").as("lo"), max("offset").as("hi"),
        count(lit(1)).as("n"), countDistinct("offset").as("d"))
      .filter(col("lo") =!= 0 || col("hi") =!= col("n") - 1 || col("d") =!= col("n"))
      .count()
    val ok = missing == 0 && extra == 0 && badOffsets == 0
    if (!ok) System.err.println(
      s"[perfbench] archive check: missing=$missing extra=$extra bad_offsets=$badOffsets")

    val timedIds = runs.filter(_.traced).map(_.id).toSet
    val prog = progressOf(q, timedIds)
    def durMs(k: String) = Stats.mean(prog.map(p =>
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)).toSeq)
    // batch 0 was committed in set-up, before the first listing
    val listed = math.max(1L, delivered - 1)
    val (ingestLayers, ingested, ingestBad) =
      if (ctx.trace) ingest(ctx) else (Map.empty[String, Double], 0L, 0L)
    val layers = if (!ctx.trace) Map.empty[String, Double] else common0 ++ ingestLayers ++ Map(
      "archive.add_batch_ms" -> durMs("addBatch"),
      "archive.wal_commit_ms" -> durMs("walCommit"),
      "archive.commit_offsets_ms" -> durMs("commitOffsets"),
      "archive.query_planning_ms" -> durMs("queryPlanning"),
      "archive.files_per_batch" -> (filesAfter._1 - filesBefore._1).toDouble / listed,
      "archive.bytes_per_batch" -> (filesAfter._2 - filesBefore._2).toDouble / listed,
      "archive.latency_slope_ms_per_batch" -> Stats.slope(runs.map(_.latencyMs)))
    Result(e2e, layers, attempted = delivered + ingested,
      failed = (if (ok) 0 else 1) + ingestBad, oracleDir = None,
      extra = Map("batches" -> delivered, "latencies_ms" -> runs.map(_.latencyMs),
        "setup_samples_s" -> setup.toSeq))
  }

  // ------------------------------------------------------------- ingest

  val IdStride = 10000000L
  type Doc = (Long, String, String, Long)

  /** The ingest edge, run in traced stream runs only: frozen at-rest
    * state from the 19 other sources, the held-out source replayed
    * through `IngestPipeline.start` under fresh ids per batch, one warm-up
    * batch, then one traced batch. Returns its layer metrics, batches
    * delivered and batches whose funnel row is wrong. */
  def ingest(ctx: Ctx): (Map[String, Double], Long, Long) = {
    import ctx.spark
    import spark.implicits._
    implicit val sqlc: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.operators.{LlmQueries, StatsOps}
    val rng = new scala.util.Random(ctx.seed)
    spark.conf.set("graft.warehouse.dir", s"${ctx.work}/warehouse-ingest")
    val dir = s"${ctx.work}/ingest"
    ctx.probe.takeWrites()
    val t0 = System.nanoTime()
    val d = Tables.load(spark, ctx.data, "documents")
    val grams = LlmQueries.corpusGramsAtRest(spark, ctx.data)
      .transform(graft.core.EngineCache.persisted)
    val sig = graft.llm.Dedup.signatureFrame(
      d.filter(col("source") =!= LlmQueries.BatchSource), "doc_id", "text",
      LlmQueries.WordShingleN, LlmQueries.MinhashK)
      .transform(graft.core.EngineCache.persisted)
    grams.count(); sig.count() // materialised here, not in the first batch
    val weights = StatsOps.trainedClsWeights(d.select("doc_id", "text", "lang", "n_chars"))
    val docs = d.filter(col("source") === LlmQueries.BatchSource)
      .select("doc_id", "text", "lang", "n_chars").orderBy("doc_id").as[Doc].collect()
    def docsDf(ds: Seq[Doc]) = ds.toDF("doc_id", "text", "lang", "n_chars")
    // the score floor is frozen before the stream starts, as in the spec
    // of the composed pipeline: the 40th percentile of the held-out batch
    val pre = StatsOps.scoreWithWeights(docsDf(docs.toSeq), weights)
      .select("score").as[Double].collect().sorted
    val cfg = IngestPipeline.Config(weights, pre(pre.length * 2 / 5),
      LlmQueries.WordShingleN, LlmQueries.MinhashK, LlmQueries.MinhashBands,
      LlmQueries.MinhashTau)
    val src = MemoryStream[Doc]
    val q = IngestPipeline.start(src.toDF().toDF("doc_id", "text", "lang", "n_chars"),
      grams, sig, cfg, s"$dir/out", s"$dir/ckpt")
    val setupS = (System.nanoTime() - t0) / 1e9
    // the gram table is published through the warehouse on first use
    val published = ctx.probe.takeWrites().filter(_.path.contains("/warehouse-ingest"))
    def batchOf(b: Long): Seq[Doc] =
      rng.shuffle(docs.toSeq).map(x => x.copy(_1 = x._1 + (b + 1) * IdStride))
    val (runs, delivered) = closedLoop(ctx, src, q, warm = 1, batchOf, firstBatch = 0,
      () => ctx.probe.takeWritePlans(), seconds = 0, least = 1, _ => true,
      ArrayBuffer.empty[Double])
    q.stop()

    // correctness: every batch's funnel row equals the one-shot chain's
    val want = IngestPipeline.chainOf(docsDf(docs.toSeq), grams, sig, cfg)
      .funnel.collect().map(_.toSeq).toSeq
    val landed = spark.read.parquet(s"$dir/out/funnel")
    val runCol = landed.columns.indexOf("batch_run")
    val got = landed.collect().map(_.toSeq.zipWithIndex.filter(_._2 != runCol).map(_._1))
    val bad = got.count(r => !want.contains(r)) + math.abs(delivered - got.length)
    if (bad != 0) System.err.println(s"[perfbench] ingest funnel check: $bad of " +
      s"${got.length} wrong; want ${want.map(_.mkString(",")).mkString(";")}")
    graft.core.EngineCache.releaseAll()

    val stages = Seq("scores", "clean", "spans", "neardup", "postings", "doclen", "funnel")
    val r = runs.head
    def wrote(stage: String) = r.writes.filter(_.path.contains(s"/out/$stage/batch_run="))
    val layers = Map(
      "warehouse.write_s" -> published.map(_.ms).sum / 1e3,
      "warehouse.bytes_written" -> published.map(_.bytes.toDouble).sum,
      "warehouse.files_written" -> published.map(_.files.toDouble).sum,
      "ingest.setup_s" -> setupS,
      "ingest.microbatch_ms" -> r.latencyMs,
      "ingest.docs_per_s" -> docs.length / (r.latencyMs / 1e3),
      "ingest.jobs_per_batch" -> r.c.jobs.toDouble,
      "ingest.cpu_s_per_batch" -> r.c.cpuNs / 1e9,
      "ingest.core_util" -> r.c.cpuNs / 1e9 / (r.latencyMs / 1e3 * ctx.cores)
    ) ++ stages.flatMap { s =>
      Seq(s"ingest.land_ms.$s" -> wrote(s).map(_.ms).sum,
        s"ingest.rows.$s" -> wrote(s).map(_.rows.toDouble).sum)
    }
    (layers, delivered, bad.toLong)
  }
}
