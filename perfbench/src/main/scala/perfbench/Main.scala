package perfbench

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** What every workload is given. */
final case class Ctx(spark: SparkSession, probe: Probe, data: String,
                     work: String, seed: Long, seconds: Double,
                     trace: Boolean, cores: Int)

/** A workload's outcome. `endToEnd` comes from untraced units, `layers`
  * from traced ones; `oracleDir` holds results the caller still compares
  * with their oracles. */
final case class Result(endToEnd: Map[String, Double],
                        layers: Map[String, Double], attempted: Long,
                        failed: Long, oracleDir: Option[String],
                        extra: Map[String, Any])

object Heap {
  /** Heap in use right after a full collection, in MB. Collects twice:
    * the first collection lets Spark's ContextCleaner drop the blocks of
    * newly unreachable RDDs and broadcasts, the second frees them. */
  def collect(): Double = {
    System.gc()
    Thread.sleep(100)
    System.gc()
    val m = java.lang.management.ManagementFactory.getMemoryMXBean
    m.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }
}

object Oracle {
  /** The DuckDB oracle SQL of `names`, next to their result parquet. */
  def writeOracles(dir: String, names: Seq[String]): Unit = {
    Files.createDirectories(Paths.get(dir))
    val sql = names.map(n => n -> graft.SparkEntry.oracleSql(n)).toMap
    Files.writeString(Paths.get(s"$dir/oracle_sql.json"), Stats.json(sql))
  }
}

/** Host-calibration controls, run in every invocation: a fixed lineitem
  * scan through Spark and a fixed single-threaded CPU kernel, each the
  * median of three, so numbers from different hosts can be normalised. */
object Calib {
  def run(spark: SparkSession, data: String): Map[String, Double] = {
    def med3(f: => Unit): Double = Stats.median((1 to 3).map { _ =>
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 })
    val scan = med3 {
      spark.read.parquet(s"$data/lineitem.parquet")
        .selectExpr("sum(l_extendedprice * (1 - l_discount))", "count(*)").collect()
    }
    val cpu = med3 {
      var h = 0x9E3779B97F4A7C15L
      var i = 0
      while (i < 50000000) { h = (h ^ (h >>> 31)) * 0xBF58476D1CE4E5B9L + i; i += 1 }
      if (h == 42L) System.err.println("")
    }
    Map("calib.scan_s" -> scan, "calib.cpu_s" -> cpu)
  }
}

/** Entry point: `perfbench.Main --workload W --seed N --seconds S
  * --trace 0|1 --data DIR --work DIR --out FILE`. Writes one JSON record
  * to FILE; run.py turns it into the benchmark's result line. */
object Main {
  val cores = 4
  val workloads: Map[String, Ctx => Result] = Map(
    // one build-bound query (PageRank: a persist-and-count barrier per
    // round) and two execution-bound ones (scan + aggregate; joins)
    "batch" -> (c => BatchWorkload.run(c, Seq(
      "q104_pagerank", "q01_agg_summary", "q115_triangles"))),
    "stream" -> StreamWorkloads.stream)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opts("workload")
    val work = opts("work")
    val spark = graft.core.GraftSession.tune(
      SparkSession.builder().master(s"local[$cores]").appName("perfbench"), cores)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("graft.warehouse.dir", s"$work/warehouse-0")
      // every timed micro-batch's progress must still be readable at the end
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val trace = opts("trace") == "1"
    val probe = new Probe(spark, trace)
    val ctx = Ctx(spark, probe, opts("data"), work, opts("seed").toLong,
      opts("seconds").toDouble, trace, cores)
    val result = workloads(name)(ctx)
    val calib = Calib.run(spark, ctx.data)
    probe.close()
    val spans = probe.allSpans.map(s => Map("id" -> s.id, "name" -> s.name,
      "parent" -> s.parent, "trace" -> s.traceId, "start_ms" -> s.startMs,
      "end_ms" -> s.endMs))
    val record = Map(
      "workload" -> name, "seed" -> ctx.seed, "trace" -> ctx.trace,
      "end_to_end" -> result.endToEnd,
      "layers" -> (result.layers ++ (if (ctx.trace) calib else Map.empty)),
      "attempted" -> result.attempted, "failed" -> result.failed,
      "oracle_dir" -> result.oracleDir, "extra" -> result.extra,
      "spans" -> spans)
    Files.writeString(Paths.get(opts("out")), Stats.json(record))
    spark.stop()
  }
}
