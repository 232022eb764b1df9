package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on
  * the same base as the millisecond timestamps Spark puts in its events.
  */
object Clock {
  private val wall0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = wall0 + (System.nanoTime() - nano0) / 1e6
}

object Stats {
  /** Linear-interpolated percentile of an ascending array, `p` in [0, 1]. */
  def pct(sorted: Array[Double], p: Double): Double =
    if (sorted.isEmpty) Double.NaN
    else {
      val x = p * (sorted.length - 1)
      val lo = x.floor.toInt
      val hi = math.min(lo + 1, sorted.length - 1)
      sorted(lo) + (sorted(hi) - sorted(lo)) * (x - lo)
    }

  def median(xs: Iterable[Double]): Double = pct(xs.toArray.sorted, 0.5)

  /** The wanted tail percentile if at least ten samples lie beyond it,
    * else the highest whole percentile that has ten beyond it. Returns
    * (percentile in [0, 1], value).
    */
  def tail(sorted: Array[Double], wanted: Double): (Double, Double) = {
    val supported = ((1.0 - 10.0 / sorted.length) * 100).floor / 100
    val p = math.max(0.5, math.min(wanted, supported))
    (p, pct(sorted, p))
  }
}

/** One traced interval. `trace` groups the spans of one batch or request;
  * `depth` orders layers from the client (0) inwards.
  */
final case class Span(trace: String, layer: String, name: String, depth: Int, startMs: Double, endMs: Double) {
  def ms: Double = endMs - startMs
}

/** In-memory span store: spans are appended during the run and written
  * out after the clock stops.
  */
final class Tracer(val on: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  val overheadNs = new AtomicLong()

  def add(s: Span): Unit = if (on) spans.add(s)

  def time[T](trace: String, layer: String, name: String, depth: Int)(body: => T): T =
    if (!on) body
    else {
      val t0 = Clock.nowMs
      try body
      finally {
        val c0 = System.nanoTime()
        spans.add(Span(trace, layer, name, depth, t0, Clock.nowMs))
        overheadNs.addAndGet(System.nanoTime() - c0)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq
}

object Spans {
  /** Spark event times are whole milliseconds. */
  private val SlackMs = 2.0

  /** Self time per layer: each span's duration minus the part of it its
    * children cover, summed over the layer's spans. A span's parent is
    * the smallest span of a lower depth that contains it, looked for in
    * its own trace and among the client-side spans.
    */
  def selfMs(spans: Seq[Span]): Map[String, Double] = {
    val ss = spans.filter(_.ms >= 0).toIndexedSeq
    def contains(p: Int, c: Int) = {
      val (a, b) = (ss(p), ss(c))
      a.depth < b.depth && a.startMs - SlackMs <= b.startMs && b.endMs <= a.endMs + SlackMs
    }
    val byTrace = ss.indices.groupBy(ss(_).trace)
    // Generator offers are leaves: too short to contain anything.
    val roots = ss.indices.filter(i => ss(i).depth <= 1 && ss(i).layer != "sources")
    val children = ss.indices.groupBy { c =>
      (byTrace(ss(c).trace).iterator ++ roots.iterator).filter(contains(_, c))
        .minByOption(p => (ss(p).ms, -ss(p).depth)).getOrElse(-1)
    }
    ss.indices.groupMapReduce(ss(_).layer)(i => ss(i).ms - covered(ss(i), children.getOrElse(i, Nil).map(ss)))(_ + _)
  }

  /** Length of the union of `kids`' intervals, clipped to `p`. */
  private def covered(p: Span, kids: Seq[Span]): Double = {
    val iv = kids.map(c => (math.max(c.startMs, p.startMs), math.min(c.endMs, p.endMs)))
      .filter(c => c._2 > c._1).sortBy(_._1)
    var (total, end) = (0.0, Double.NegativeInfinity)
    iv.foreach { case (s, e) =>
      total += math.max(0.0, e - math.max(s, end))
      end = math.max(end, e)
    }
    total
  }

  def write(file: java.io.File, spans: Seq[Span]): Unit = {
    val w = new java.io.PrintWriter(file, "UTF-8")
    try spans.sortBy(_.startMs).foreach { s =>
      w.println(f"""{"trace":"${s.trace}","layer":"${s.layer}","name":"${s.name}","start_ms":${s.startMs}%.3f,"end_ms":${s.endMs}%.3f}""")
    } finally w.close()
  }
}

/** Streaming progress, collected through a listener so no batch is lost
  * (`query.recentProgress` keeps only the last 100).
  */
final class ProgressLog extends StreamingQueryListener {
  private val byQuery = new ConcurrentHashMap[String, ConcurrentLinkedQueue[StreamingQueryProgress]]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val q = byQuery.computeIfAbsent(ProgressLog.name(e.progress), _ => new ConcurrentLinkedQueue())
    q.add(e.progress)
    synchronized(notifyAll())
  }

  def all: Seq[StreamingQueryProgress] = byQuery.values.asScala.toSeq.flatMap(_.asScala)

  def of(name: String): Seq[StreamingQueryProgress] =
    Option(byQuery.get(name)).map(_.asScala.toSeq).getOrElse(Seq.empty)

  /** Commit time (epoch ms) of the batch of query `name` whose end
    * offset first reaches `offset`, waiting up to `timeoutMs`.
    */
  def awaitCommit(name: String, offset: Long, timeoutMs: Long): Double = {
    val deadline = System.currentTimeMillis() + timeoutMs
    def found = of(name).find(p => ProgressLog.endOffset(p) >= offset).map(ProgressLog.commitMs)
    synchronized {
      var hit = found
      while (hit.isEmpty) {
        val left = deadline - System.currentTimeMillis()
        if (left <= 0) throw new IllegalStateException(s"query $name did not reach offset $offset")
        wait(math.min(left, 50L))
        hit = found
      }
      hit.get
    }
  }
}

object ProgressLog {
  /** The query's name, or its id when it was started without one. */
  def name(p: StreamingQueryProgress): String = Option(p.name).getOrElse(p.id.toString)
  def startMs(p: StreamingQueryProgress): Double = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
  def commitMs(p: StreamingQueryProgress): Double = startMs(p) + dur(p, "triggerExecution")
  def dur(p: StreamingQueryProgress, phase: String): Double =
    Option(p.durationMs.get(phase)).map(_.doubleValue).getOrElse(0.0)
  def startOffset(p: StreamingQueryProgress): Long =
    Option(p.sources.head.startOffset).filter(_ != "null").map(_.trim.toLong).getOrElse(0L)
  def endOffset(p: StreamingQueryProgress): Long =
    Option(p.sources.head.endOffset).map(_.trim.toLong).getOrElse(0L)

  /** Order in which a micro-batch runs its progress phases. */
  val Phases = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")

  /** A batch span and its phase spans laid end to end from its start. */
  def spans(p: StreamingQueryProgress): Seq[Span] = {
    val trace = s"${p.id}/b${p.batchId}"
    val s0 = startMs(p)
    val batch = Span(trace, "streaming", "batch", 2, s0, commitMs(p))
    var t = s0
    batch +: Phases.filter(p.durationMs.containsKey).map { ph =>
      val sp = Span(trace, "streaming", ph, 3, t, t + dur(p, ph))
      t = sp.endMs
      sp
    }
  }
}

/** One finished task's counters. */
final case class TaskRec(
    endMs: Double, runMs: Long, cpuNs: Long, gcMs: Long, shuffleWrite: Long, shuffleRead: Long,
    spill: Long, recordsRead: Long, bytesWritten: Long)

/** One finished query execution: planning phase times, execution time
  * and what its file scans read.
  */
final case class QeRec(
    endMs: Double, phaseMs: Map[String, Double], executeMs: Double,
    scanFiles: Long, scanBytes: Long, scanRows: Long)

/** Task, stage and query-execution records, from Spark's public
  * listeners. Registered only in traced runs; the records are filtered
  * to the measured window when the run ends.
  */
final class ExecProbe(tracer: Tracer) extends SparkListener with QueryExecutionListener {
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  val executions = new ConcurrentLinkedQueue[QeRec]()
  private val stageTrace = new ConcurrentHashMap[Int, String]()

  private def charged[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally tracer.overheadNs.addAndGet(System.nanoTime() - t0)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = charged {
    val props = Option(e.properties)
    val trace = props.flatMap(p => Option(p.getProperty(ExecProbe.TraceKey)))
      .orElse(props.flatMap { p =>
        for (b <- Option(p.getProperty("streaming.sql.batchId"));
             q <- Option(p.getProperty("sql.streaming.queryId"))) yield s"$q/b$b"
      }).getOrElse("")
    e.stageIds.foreach(s => stageTrace.put(s, trace))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = charged {
    val i = e.stageInfo
    for (s <- i.submissionTime; c <- i.completionTime)
      tracer.add(Span(stageTrace.getOrDefault(i.stageId, ""), "exec", s"stage${i.stageId}", 5, s.toDouble, c.toDouble))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = charged {
    val m = e.taskMetrics
    if (m != null)
      tasks.add(TaskRec(
        e.taskInfo.finishTime.toDouble, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.recordsRead,
        m.outputMetrics.bytesWritten))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = charged {
    val phases = qe.tracker.phases.map { case (name, ph) =>
      if (name != "parsing")
        tracer.add(Span("", "plans", name, 4, ph.startTimeMs.toDouble, ph.endTimeMs.toDouble))
      name -> (ph.endTimeMs - ph.startTimeMs).toDouble
    }
    val scans = ExecProbe.walk(qe.executedPlan).collect { case f: FileSourceScanExec =>
      def metric(k: String) = f.metrics.get(k).map(_.value).getOrElse(0L)
      (metric("numFiles"), metric("filesSize"), metric("numOutputRows"))
    }
    executions.add(QeRec(Clock.nowMs, phases, durationNs / 1e6,
      scans.map(_._1).sum, scans.map(_._2).sum, scans.map(_._3).sum))
  }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}

object ExecProbe {
  /** Local property naming the request a job belongs to. */
  val TraceKey = "perfbench.trace"

  /** Every node of an executed plan, through AQE roots and query stages. */
  def walk(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case _: ReusedExchangeExec => Seq.empty
      case o => o.children
    }
    p +: kids.flatMap(walk)
  }
}

/** 1-minute load average at start, maximum and end of the run. */
final class LoadMonitor extends Thread("perfbench-load") {
  private def load(): Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.split(" ")(0).toDouble
    catch { case _: Exception => Double.NaN }
  val atStart: Double = load()
  @volatile var max: Double = atStart
  @volatile var last: Double = atStart
  @volatile private var running = true
  setDaemon(true)
  override def run(): Unit =
    while (running) {
      last = load()
      if (last > max) max = last
      try Thread.sleep(250) catch { case _: InterruptedException => () }
    }
  def finish(): Double = {
    running = false
    interrupt()
    join()
    last = load()
    max = math.max(max, last)
    last
  }
}

/** The listeners of one Spark session. */
final class Probes(val spark: SparkSession, val tracer: Tracer) {
  val progress = new ProgressLog
  val exec: Option[ExecProbe] = if (tracer.on) Some(new ExecProbe(tracer)) else None
  spark.streams.addListener(progress)
  exec.foreach { p =>
    spark.sparkContext.addSparkListener(p)
    spark.listenerManager.register(p)
  }

  /** Runs `body` with its jobs tagged as request `trace`. */
  def request[T](trace: String, layer: String, name: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setLocalProperty(ExecProbe.TraceKey, trace)
    try tracer.time(trace, layer, name, 1)(body)
    finally sc.setLocalProperty(ExecProbe.TraceKey, null)
  }

  def detach(): Unit = {
    spark.streams.removeListener(progress)
    exec.foreach { p =>
      spark.sparkContext.removeSparkListener(p)
      spark.listenerManager.unregister(p)
    }
  }
}
