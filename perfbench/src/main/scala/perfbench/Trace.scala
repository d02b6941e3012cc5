package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval: its name, start and end (epoch ms), and the span
  * that caused it. */
final case class Span(id: String, parent: String, name: String, start: Double, end: Double)

/** Work the engine did for one scope (a query or a refresh), summed from
  * Spark's listener events. */
final class Counters {
  var jobs, stages, tasks, constructJobs = 0L
  var execMs, planMs, cpuMs = 0.0
  var shuffleRead, shuffleWrite, spill, input, output, outputRecords = 0L
}

/** In-memory span recorder plus the listeners that feed it. The harness
  * opens spans around its own calls into the engine. Spark jobs and their
  * stage metrics attach to the span open on the submitting thread (the
  * `perfbench.span` local property; streaming jobs to their micro-batch);
  * Catalyst planning phases attach by time to the enclosing top-level span.
  * Nothing is written until the run ends. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val seq = new AtomicLong
  private val spans = ArrayBuffer[Span]()
  private val names = new ConcurrentHashMap[String, String]()
  private val scopes = new ConcurrentHashMap[String, Counters]()
  // top-level spans that own planning phases: id -> (start, end or +inf)
  private val tops = new ConcurrentHashMap[String, (Double, Double)]()
  private val jobs = new ConcurrentHashMap[Int, (String, Double, Counters)]()
  private val stageScope = new ConcurrentHashMap[Int, Counters]()
  @volatile private var attached = false

  val rootId = "run"
  /** Streaming jobs count here; their batch span exists only once the
    * batch's progress event arrives. */
  val streamScope = new Counters
  private val t0 = now()

  def now(): Double = System.currentTimeMillis().toDouble
  def freshId(prefix: String): String = s"$prefix${seq.incrementAndGet()}"
  private def record(s: Span): Unit = spans.synchronized(spans += s)

  /** Run `body` (given the new span's id) as a span under `parent`. Jobs it
    * submits from this thread become children and count into `scope`; a
    * `top` span also owns the planning phases that start inside it. */
  def span[T](name: String, parent: String, scope: Counters, top: Boolean = false)
             (body: String => T): T = {
    val id = freshId("s")
    names.put(id, name)
    scopes.put(id, scope)
    val prev = sc.getLocalProperty("perfbench.span")
    sc.setLocalProperty("perfbench.span", id)
    val start = now()
    if (top) tops.put(id, (start, Double.MaxValue))
    try body(id)
    finally {
      sc.setLocalProperty("perfbench.span", prev)
      val end = now()
      if (top) tops.put(id, (start, end))
      record(Span(id, parent, name, start, end))
    }
  }

  /** A span whose interval is already known (micro-batch phases). */
  def closed(id: String, parent: String, name: String, start: Double, end: Double): Unit =
    record(Span(id, parent, name, start, end))

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = guard {
      val props = Option(e.properties)
      val parent = props.flatMap(p => Option(p.getProperty("perfbench.span")))
        .orElse(props.flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
          .map(b => s"batch-$b"))
        .getOrElse(rootId)
      val scope = Option(scopes.get(parent)).getOrElse(streamScope)
      e.stageInfos.foreach(si => stageScope.put(si.stageId, scope))
      jobs.put(e.jobId, (parent, e.time.toDouble, scope))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = guard {
      Option(jobs.remove(e.jobId)).foreach { case (parent, start, scope) =>
        record(Span(s"job-${e.jobId}", parent, "job", start, e.time.toDouble))
        scope.synchronized {
          scope.jobs += 1
          scope.execMs += e.time - start
          if (names.get(parent) == "construct") scope.constructJobs += 1
        }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = guard {
      val si = e.stageInfo
      Option(stageScope.remove(si.stageId)).foreach { scope =>
        val m = si.taskMetrics
        scope.synchronized {
          scope.stages += 1
          scope.tasks += si.numTasks
          if (m != null) {
            scope.cpuMs += m.executorCpuTime / 1e6
            scope.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            scope.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            scope.spill += m.memoryBytesSpilled + m.diskBytesSpilled
            scope.input += m.inputMetrics.bytesRead
            scope.output += m.outputMetrics.bytesWritten
            scope.outputRecords += m.outputMetrics.recordsWritten
          }
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      guard(planned(qe))
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      guard(planned(qe))
  }

  /** Analysis, optimization and planning of one executed plan, as children
    * of the top-level span whose interval holds them. */
  private def planned(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    Seq("analysis", "optimization", "planning").foreach { p =>
      phases.get(p).foreach { ph =>
        val at = ph.startTimeMs.toDouble
        tops.asScala.collectFirst { case (id, (s, e)) if s <= at && at <= e => id }
          .foreach { id =>
            record(Span(freshId("p"), id, s"plan:$p", at, ph.endTimeMs.toDouble))
            val scope = scopes.get(id)
            scope.synchronized(scope.planMs += ph.durationMs)
          }
      }
    }
  }

  def attach(): Unit = if (!attached) {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    attached = true
  }

  /** Deliver every queued event, then stop listening. */
  def detach(): Unit = if (attached) {
    drain()
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    attached = false
  }

  def drain(): Unit = org.apache.spark.GraftListenerDrain.drain(sc, 5000L)

  /** Every span under one run root. A span whose parent was never recorded
    * (a job of a micro-batch that reported no progress) moves to the root
    * and is counted as an orphan. */
  def finish(): (Seq[Span], Int) = {
    val all = spans.synchronized(spans.toVector)
    val root = Span(rootId, "", "run", t0, (all.map(_.end) :+ now()).max)
    val ids = all.map(_.id).toSet + rootId
    val orphans = all.count(s => !ids.contains(s.parent))
    (root +: all.map(s => if (ids.contains(s.parent)) s else s.copy(parent = rootId)), orphans)
  }

  private def guard(body: => Unit): Unit =
    try body catch { case NonFatal(e) => System.err.println(s"[perfbench] trace listener: $e") }
}

object Tracer {
  def write(path: String, spans: Seq[Span]): Unit = {
    val rows = spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "start_ms" -> s.start, "end_ms" -> s.end))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), Json.render(rows))
  }
}
