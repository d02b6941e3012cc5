package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}

import graft.KafkaBrokerStub
import graft.etl.{CommuteValidation, SportPipeline}
import graft.gen.ActivityGen
import graft.sources.{KafkaLiteOffset, Sources, TxnTable}
import graft.streaming.{CdcIngest, TxnSink}

/** The reference pipeline as an open-loop stream: Debezium envelopes on a
  * single-partition topic of the in-process broker → `kafka-lite` →
  * `CdcIngest.parseEnvelope` → `TxnSink.ingest` (ProcessingTime(0)) →
  * `TxnTable`, with a closed-loop refresher rebuilding `final` and the bonus
  * totals from the live snapshot, back to back, while events arrive.
  *
  * Phase 1 drains a backlog in rounds: the first round is preloaded before
  * the stream starts, each later one appended at once while it idles
  * (per-row cost); phase 2 sends events
  * at a fixed rate, each due at a seeded time, and times every event from
  * its due time to the end of the micro-batch that commits it. */
object Cdc {
  val Topic = "cdc"

  final case class Inputs(backlog: Array[Array[Byte]], live: Array[Array[Byte]],
                          dueMs: Array[Double], rate: Double)

  final class Fixture(val inputs: Inputs, val broker: KafkaBrokerStub,
                      val employees: DataFrame, val validations: DataFrame) {
    def close(): Unit = {
      broker.close()
      employees.unpersist()
      validations.unpersist()
    }
  }

  /** The envelope stream, drawn from the seed: content, the ~5% of
    * non-insert envelopes (which P4 drops) and the arrival jitter. */
  def inputs(ctx: Ctx): Inputs = {
    val rng = new Random(ctx.seed)
    val (backlogN, rate) = if (ctx.tiny) (2000, 200.0) else (60000, 2000.0)
    val liveN = (rate * ctx.seconds).toInt
    val base = 1704067200000000L // 2024-01-01 UTC, epoch µs
    def envelope(id: Int): Array[Byte] = {
      val json = rng.nextDouble() match {
        case u if u < 0.03 => s"""{"payload": {"before": {"id": $id}, "after": null, "op": "d"}}"""
        case u if u < 0.05 => s"""{"payload": {"op": "t"}}"""
        case _ =>
          val sport = ActivityGen.SportTypes(rng.nextInt(ActivityGen.SportTypes.size))
          val dist = if (rng.nextDouble() < 0.3) "null" else (500 + rng.nextInt(40000)).toString
          val comment = if (rng.nextDouble() < 0.71) "null"
            else Json.quote(ActivityGen.Comments(rng.nextInt(ActivityGen.Comments.size)))
          val us = base + (rng.nextDouble() * 366 * 86400).toLong * 1000000L
          s"""{"payload": {"after": {"id": $id, "id_employee": ${1 + rng.nextInt(161)}, """ +
            s""""start_datetime": $us, "sport_type": ${Json.quote(sport)}, "distance": $dist, """ +
            s""""activity_duration": ${600 + rng.nextInt(7200)}, "comment": $comment}}, "op": "c"}"""
      }
      json.getBytes(UTF_8)
    }
    val backlog = Array.tabulate(backlogN)(i => envelope(i + 1))
    val live = Array.tabulate(liveN)(i => envelope(backlogN + i + 1))
    // due time: the fixed-rate slot plus up to 2 ms of jitter, in send order
    val due = Array.tabulate(liveN)(i => i * 1000.0 / rate + rng.nextDouble() * 2.0).sorted
    Inputs(backlog, live, due, rate)
  }

  /** Backlog rounds of phase 1. */
  val DrainRounds = 4

  /** Untimed refreshes between the phases: the first few refreshes are
    * still being compiled (2.3–2.8 s each at 4 cores, then about 1 s). */
  val WarmupRefreshes = 2

  private def rounds(in: Inputs): Seq[Array[Array[Byte]]] =
    in.backlog.grouped(in.backlog.length / DrainRounds).toSeq

  private def publish(broker: KafkaBrokerStub, envelopes: Array[Array[Byte]]): Unit =
    envelopes.grouped(1000).foreach { chunk =>
      broker.append(Topic, 0, chunk.toSeq.map(v => (0L, null: Array[Byte], v)))
    }

  /** Set-up: the broker with the first backlog round preloaded, and the
    * cached dims. */
  def fixture(spark: SparkSession, ctx: Ctx, in: Inputs): Fixture = {
    val broker = new KafkaBrokerStub
    publish(broker, rounds(in).head)
    val emp = ActivityGen.employees(spark).cache()
    val vals = CommuteValidation.validate(emp).cache()
    emp.count(); vals.count()
    new Fixture(in, broker, emp, vals)
  }

  private final case class Batch(id: Long, start: Long, end: Long, startMs: Double,
                                 commitMs: Double, rows: Long, durations: Map[String, Double],
                                 lag: Long)

  private def offset(json: String): Long =
    Option(json).map(j => KafkaLiteOffset.fromJson(j).offsets.getOrElse(0, 0L)).getOrElse(0L)

  def run(ctx: Ctx, spark: SparkSession, f: Fixture): Result = {
    val in = f.inputs
    val backlogN = in.backlog.length.toLong
    val total = backlogN + in.live.length
    val dir = Files.createTempDirectory(Paths.get(ctx.work), "cdc")
    val table = s"$dir/activities"
    val tracer = if (ctx.trace) Some(new Tracer(spark)) else None
    val failures = ArrayBuffer[String]()

    // Every micro-batch's progress: its offset range, the end of its
    // trigger (the commit), its phase durations and the topic's lag then.
    val batches = new ConcurrentLinkedQueue[Batch]()
    @volatile var committed = 0L
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val src = p.sources.headOption
        val start = src.map(s => offset(s.startOffset)).getOrElse(0L)
        val end = src.map(s => offset(s.endOffset)).getOrElse(0L)
        if (end > start) {
          val d = p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }.toMap
          val startMs = Instant.parse(p.timestamp).toEpochMilli.toDouble
          batches.add(Batch(p.batchId, start, end, startMs,
            startMs + d.getOrElse("triggerExecution", 0.0), p.numInputRows, d,
            f.broker.logEnd(Topic, 0) - end))
          committed = math.max(committed, end)
        }
      }
    }
    spark.streams.addListener(listener)
    tracer.foreach(_.attach())

    def await(target: Long, timeoutS: Double): Boolean = {
      val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
      while (committed < target && System.nanoTime() < deadline) Thread.sleep(5)
      committed >= target
    }

    // phase 1: drain the backlog round by round (the first was preloaded)
    val parsed = CdcIngest.parseEnvelope(
      Sources.kafkaLiteStream(spark, s"${f.broker.host}:${f.broker.port}", Topic))
    val t0 = System.currentTimeMillis().toDouble
    val query = TxnSink.ingest(parsed, table, s"$dir/ckpt", appId = "perfbench",
      trigger = Trigger.ProcessingTime(0))
    var drainS = Double.NaN
    val roundS = ArrayBuffer[Double]()
    var liveDue = Array.emptyDoubleArray
    var lateMax = 0.0
    val refreshes = ArrayBuffer[(Double, Double)]() // (read ms, exec ms)
    var attempted = total
    var failed = 0L
    try {
      // drain time of a round: from its start to the commit that covers it
      def drained(end: Long, from: Double): Double =
        (batches.asScala.filter(_.end >= end).map(_.commitMs).minOption
          .getOrElse(Double.NaN) - from) / 1e3
      var end = 0L
      rounds(in).zipWithIndex.foreach { case (round, r) =>
        val from = if (r == 0) t0 else System.currentTimeMillis().toDouble
        if (r > 0) publish(f.broker, round)
        end += round.length
        if (!await(end, 120)) failures += s"backlog not drained: $committed of $end"
        if (r == 0) drainS = drained(end, from) else roundS += drained(end, from)
      }

      (1 to (if (ctx.tiny) 0 else WarmupRefreshes)).foreach { _ =>
        attempted += 1
        try refresh(spark, f, table, tracer)
        catch { case NonFatal(e) => failed += 1; failures += s"refresh: ${e.getMessage}" }
      }

      // phase 2: the open-loop generator and the refresher
      val startNs = System.nanoTime()
      val startWall = System.currentTimeMillis().toDouble
      liveDue = in.dueMs.map(startWall + _)
      @volatile var generating = true
      // The reader is a closed loop: one refresh right after another keeps
      // its load on the stream the same through the whole phase (periodic
      // refreshes split the batches into contended and quiet ones, and the
      // latency median then jumps between the two).
      val refresher = new Thread(() => {
        while (generating) {
          attempted += 1
          try refreshes += refresh(spark, f, table, tracer)
          catch { case NonFatal(e) => failed += 1; failures += s"refresh: ${e.getMessage}" }
        }
      }, "perfbench-refresher")
      refresher.start()
      var i = 0
      while (i < in.live.length) {
        val nowMs = (System.nanoTime() - startNs) / 1e6
        var j = i
        while (j < in.live.length && in.dueMs(j) <= nowMs) j += 1
        if (j > i) {
          f.broker.append(Topic, 0, (i until j).map(k =>
            (liveDue(k).toLong, null: Array[Byte], in.live(k))))
          lateMax = math.max(lateMax, nowMs - in.dueMs(i))
          i = j
        } else Thread.sleep(0, 500000)
      }
      generating = false
      refresher.join()
      if (!await(total, 60)) failures += s"stream not drained: $committed of $total"
    } finally query.stop()
    tracer.foreach(_.detach())
    spark.streams.removeListener(listener)
    failed += total - math.min(committed, total)

    // Output check, outside the timed window: the table equals the parse
    // of the same envelopes read as a static batch, and `final` over it
    // equals SportPipeline.run over that recompute.
    val static = CdcIngest.parseEnvelope(spark.createDataset(
      (in.backlog ++ in.live).toSeq.map(new String(_, UTF_8)))(Encoders.STRING).toDF("value"))
    val snapshot = TxnTable.read(spark, table).select(static.columns.map(col).toIndexedSeq: _*)
    def check(what: String, got: DataFrame, want: DataFrame): Unit = {
      attempted += 1
      val (g, w) = (Queries.fingerprint(got), Queries.fingerprint(want))
      if (g != w) { failed += 1; failures += s"$what: table $g, batch recompute $w" }
    }
    check("table", snapshot, static)
    check("final", SportPipeline.run(f.employees, f.validations, snapshot),
      SportPipeline.run(f.employees, f.validations, static))

    val all = batches.asScala.toSeq.sortBy(_.id)
    val live = all.filter(_.end > backlogN)
    val lat = live.flatMap { b =>
      (math.max(b.start, backlogN) until b.end).map(o => b.commitMs - liveDue((o - backlogN).toInt))
    }
    val refreshS = refreshes.map { case (r, x) => (r + x) / 1e3 }.toSeq
    val e2e = Map(
      "ops_per_s" -> in.live.length / ((live.map(_.commitMs).maxOption
        .getOrElse(Double.NaN) - liveDue.headOption.getOrElse(Double.NaN)) / 1e3),
      "latency_ms" -> Stats.quantile(lat, 0.5),
      "tail_latency_ms" -> Stats.quantile(lat, 0.99),
      "pass_s" -> Stats.quantile(refreshS, 0.5))

    val layers = tracer.map { t =>
      val (spans, orphans) = batchSpans(t, all)
      ctx.spansOut.foreach(Tracer.write(_, spans))
      def p50(k: String) = Stats.quantile(live.map(_.durations.getOrElse(k, 0.0)), 0.5)
      val log = listFiles(Paths.get(table, "_txn_log")) ++ listFiles(Paths.get(table, "_delta_log"))
      val data = dataFiles(Paths.get(table))
      val commits = listFiles(Paths.get(table, "_txn_log")).count(_.toString.endsWith(".json"))
      val k = total / 1000.0
      val ss = t.streamScope
      val infos = spark.sparkContext.getRDDStorageInfo
      Map(
        "cold_s" -> drainS,
        "streaming.drain_eps" -> (backlogN / DrainRounds) / Stats.quantile(roundS.toSeq, 0.5),
        "kafka_lite.latest_offset_ms" -> p50("latestOffset"),
        "kafka_lite.fetch_calls" -> f.broker.fetchCalls.toDouble,
        "kafka_lite.lag_events_max" -> live.map(_.lag.toDouble).maxOption.getOrElse(0.0),
        "streaming.add_batch_ms" -> p50("addBatch"),
        "streaming.query_planning_ms" -> p50("queryPlanning"),
        "streaming.wal_commit_ms" -> p50("walCommit"),
        "streaming.commit_offsets_ms" -> p50("commitOffsets"),
        "streaming.batches" -> all.size.toDouble,
        "streaming.rows_per_batch_p50" -> Stats.quantile(live.map(_.rows.toDouble), 0.5),
        "txn.checkpoint_commits" ->
          listFiles(Paths.get(table, "_txn_log")).count(_.toString.endsWith(".ckpt")).toDouble,
        "txn.commits_per_1k_events" -> commits / k,
        "txn.log_bytes_per_1k_events" -> log.map(Files.size(_).toDouble).sum / k,
        "txn.data_files_per_1k_events" -> data.size / k,
        "txn.data_bytes_per_event" -> data.map(Files.size(_).toDouble).sum / total,
        "txn.read_ms" -> Stats.quantile(refreshes.map(_._1).toSeq, 0.5),
        "etl.refresh_exec_ms" -> Stats.quantile(refreshes.map(_._2).toSeq, 0.5),
        "gen.late_ms_max" -> lateMax,
        "spark.jobs" -> ss.jobs.toDouble,
        "spark.stages" -> ss.stages.toDouble,
        "spark.tasks" -> ss.tasks.toDouble,
        "spark.exec_ms" -> ss.execMs,
        "spark.executor_cpu_ms" -> ss.cpuMs,
        "spark.shuffle_read_bytes" -> ss.shuffleRead.toDouble,
        "spark.shuffle_write_bytes" -> ss.shuffleWrite.toDouble,
        "spark.spill_bytes" -> ss.spill.toDouble,
        "spark.input_bytes" -> ss.input.toDouble,
        "spark.output_bytes" -> ss.output.toDouble,
        "spark.output_records" -> ss.outputRecords.toDouble,
        "storage.blocks" -> infos.map(_.numCachedPartitions.toDouble).sum,
        "storage.mb" -> infos.map(i => (i.memSize + i.diskSize) / 1e6).sum,
        "artifacts.live_dirs" -> graft.Artifacts.liveDirs.toDouble,
        "trace.spans" -> spans.size.toDouble,
        "trace.orphans" -> orphans.toDouble) ++
        // per-query layers: the stream makes no SparkEntry call and releases
        // no transient checkpoints; its planning is streaming.query_planning_ms
        Seq("operators.construct_ms", "materialize.construct_jobs", "catalyst.plan_ms",
          "spark.driver_gap_ms", "materialize.release_ms").map(_ -> 0.0)
    }.getOrElse(Map.empty)

    Result(e2e, layers, attempted, failed, failures.toSeq, Map(
      "backlog_events" -> backlogN, "drain_rounds" -> DrainRounds,
      "drain_round_s" -> (drainS +: roundS.toSeq), "live_events" -> in.live.length,
      "live_rate_eps" -> in.rate, "live_phase_s" -> ctx.seconds,
      "refreshes" -> refreshes.size, "refresh_s" -> refreshS,
      "latency_p90_ms" -> Stats.quantile(lat, 0.9),
      "micro_batches" -> all.size, "gen_late_ms_max" -> lateMax))
  }

  /** One `final` rebuild from the live snapshot: the `TxnTable.read` fold,
    * then `SportPipeline.run` and the bonus totals executed. */
  private def refresh(spark: SparkSession, f: Fixture, table: String,
                      tracer: Option[Tracer]): (Double, Double) = {
    def timed[T](body: => T): (T, Double) = {
      val t0 = System.nanoTime(); val v = body; (v, (System.nanoTime() - t0) / 1e6)
    }
    def exec(snap: DataFrame): Unit = {
      val fin = SportPipeline.run(f.employees, f.validations, snap)
      fin.collect()
      SportPipeline.salaryTotals(fin).collect()
    }
    tracer match {
      case Some(t) =>
        val scope = new Counters
        t.span("refresh", t.rootId, scope) { r =>
          val (snap, readMs) = timed(t.span("read", r, scope)(_ => TxnTable.read(spark, table)))
          val (_, execMs) = timed(t.span("exec", r, scope)(_ => exec(snap)))
          (readMs, execMs)
        }
      case None =>
        val (snap, readMs) = timed(TxnTable.read(spark, table))
        val (_, execMs) = timed(exec(snap))
        (readMs, execMs)
    }
  }

  /** Micro-batch spans and their `durationMs` phases, laid out in the
    * order MicroBatchExecution runs them, added to the trace. */
  private def batchSpans(t: Tracer, all: Seq[Batch]): (Seq[Span], Int) = {
    val order = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch",
      "commitOffsets")
    all.foreach { b =>
      val id = s"batch-${b.id}"
      t.closed(id, t.rootId, "micro-batch", b.startMs, b.commitMs)
      var at = b.startMs
      order.foreach { k =>
        b.durations.get(k).foreach { d =>
          t.closed(t.freshId("d"), id, k, at, at + d)
          at += d
        }
      }
    }
    t.finish()
  }

  /** The table's parquet data files (its version directories), not its logs. */
  private def dataFiles(table: Path): Seq[Path] = {
    val s = Files.walk(table)
    try s.iterator().asScala.filter { p =>
      val r = table.relativize(p).toString
      Files.isRegularFile(p) && r.endsWith(".parquet") && !r.startsWith("_")
    }.toVector finally s.close()
  }

  private def listFiles(d: Path): Seq[Path] =
    if (!Files.isDirectory(d)) Nil
    else {
      val s = Files.list(d)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toVector finally s.close()
    }
}
