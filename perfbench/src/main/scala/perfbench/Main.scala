package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** What one run was asked to do. */
final case class Ctx(workload: String, seed: Long, seconds: Double, trace: Boolean,
                     tiny: Boolean, data: String, work: String, spansOut: Option[String],
                     expectedFingerprints: Map[String, String], cpus: Int)

/** What one run measured: end-to-end metrics (untraced passes), per-layer
  * metrics (traced run only), operation counts and run details. */
final case class Result(endToEnd: Map[String, Double], layers: Map[String, Double],
                        attempted: Long, failed: Long, failures: Seq[String],
                        details: Map[String, Any])

object Stats {
  /** Linear-interpolated quantile; NaN for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.floor.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

/** Benchmark harness entry point; `perfbench/run.py` builds and launches it.
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --data <sfDir> --work <dir> --out <result.json>
  *                  [--expected <fingerprints.json>] [--tiny 1]
  */
object Main {
  val workloads = Seq("query_mix", "cdc_stream")

  def session(cpus: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** A warm session: built, and for the query workload every table's
    * footer read once (the stream reads none of them). */
  def warmSession(ctx: Ctx): SparkSession = {
    val s = session(ctx.cpus, ctx.work)
    if (ctx.workload == "query_mix") graft.sources.Tables.names.foreach { t =>
      graft.sources.Tables.load(s, ctx.data, t).limit(1).count()
    }
    s
  }

  /** CPU seconds this process has used (all threads). */
  def processCpuS(): Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case _ => Double.NaN
  }

  /** (busy, steal) jiffies of the whole machine, from /proc/stat. */
  private def cpuTicks(): (Long, Long) =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)
      (f.take(3).sum + f.slice(5, 7).sum, if (f.length > 7) f(7) else 0L)
    } catch { case _: Exception => (0L, 0L) }

  private def loadTriple(): Seq[Double] =
    try Files.readString(Paths.get("/proc/loadavg")).split(' ').take(3).map(_.toDouble).toSeq
    catch { case _: Exception => Seq(ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage) }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cpus = Runtime.getRuntime.availableProcessors()
    val data = a("data")
    val work = a("work")
    val workload = a("workload")
    require(workloads.contains(workload), s"unknown workload '$workload' (one of ${workloads.mkString(", ")})")
    val expected: Map[String, String] = a.get("expected").filter(p => Files.exists(Paths.get(p)))
      .map(p => """"([^"]+)"\s*:\s*"([^"]+)"""".r.findAllMatchIn(Files.readString(Paths.get(p)))
        .map(m => m.group(1) -> m.group(2)).toMap)
      .getOrElse(Map.empty)
    val ctx = Ctx(workload, a("seed").toLong, a("seconds").toDouble, a("trace") == "1",
      a.get("tiny").contains("1"), data, work, a.get("spans"), expected, cpus)
    val loadBefore = loadTriple()
    val ticksBefore = cpuTicks()

    // Inputs are drawn from the seed before any timing (the cdc envelope
    // stream; the query orders come from the same seed inside the loop).
    val cdcInputs = if (workload == "cdc_stream") Some(Cdc.inputs(ctx)) else None

    // Set-up, several times: JVM start (first time) or the previous stop, to
    // a warm session plus the workload's fixtures; the last one is kept.
    // The stream's set-up takes about a second and a half after the first,
    // the query workload's (ten tables' footers) about three.
    val reps = if (ctx.tiny) 2 else if (workload == "cdc_stream") 4 else 3
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    var setupTimes = Vector[Double]()
    var spark: SparkSession = null
    var fixture: Option[Cdc.Fixture] = None
    for (i <- 1 to reps) {
      val t0 = if (i == 1) jvmStart else System.currentTimeMillis().toDouble
      spark = warmSession(ctx)
      fixture = cdcInputs.map(in => Cdc.fixture(spark, ctx, in))
      setupTimes :+= (System.currentTimeMillis() - t0) / 1e3
      if (i < reps) {
        fixture.foreach(_.close())
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
    }

    val res = try (fixture match {
      case Some(f) => Cdc.run(ctx, spark, f)
      case None    => Queries.run(ctx, spark)
    }) finally {
      fixture.foreach(_.close())
    }
    val loadAfter = loadTriple()
    val ticksAfter = cpuTicks()
    val steal = ticksAfter._2 - ticksBefore._2
    val busy = ticksAfter._1 - ticksBefore._1
    spark.stop()

    val e2e = res.endToEnd + ("setup_s" -> Stats.quantile(setupTimes, 0.5))
    val rt = Runtime.getRuntime
    val out = Map(
      "correct" -> (res.failed == 0),
      "attempted" -> res.attempted,
      "failed" -> res.failed,
      "end_to_end" -> e2e,
      "per_layer" -> res.layers,
      "failures" -> res.failures.take(20),
      "conditions" -> (Map(
        "workload" -> workload, "seed" -> ctx.seed, "seconds" -> ctx.seconds,
        "trace" -> ctx.trace, "tiny" -> ctx.tiny, "nproc" -> cpus,
        "load_1_5_15_before" -> loadBefore, "load_1_5_15_after" -> loadAfter,
        "heap_max_mb" -> rt.maxMemory / 1048576, "sf_dir" -> data,
        "setup_runs_s" -> setupTimes,
        "steal_share" -> (if (busy + steal > 0) steal.toDouble / (busy + steal) else 0.0),
        "process_cpu_s" -> processCpuS(), "spark_version" -> spark.version) ++ res.details))
    Files.writeString(Paths.get(a("out")), Json.render(out))
  }
}
