package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** What a workload hands back: operation counts, the end-to-end figures
  * and the per-layer counters only it can see.
  */
final case class Outcome(
    attempted: Long,
    failed: Long,
    /** What went wrong, for the log; at most a few lines. */
    failures: Seq[String],
    throughputPerS: Double,
    latencyMs: Array[Double],
    tailWanted: Double,
    setupS: Seq[Double],
    /** The same figures under the names a user of this workload knows. */
    names: Names,
    layers: Map[String, Double],
)

final case class Names(throughput: (String, String), p50: String, tail: String)

final class Ctx(
    val seed: Long,
    val seconds: Int,
    val work: File,
    val tracer: Tracer,
    var spark: SparkSession,
    var probes: Probes,
) {
  def traced: Boolean = tracer.on
  def dir(name: String): String = {
    val d = new File(work, name)
    d.mkdirs()
    d.getAbsolutePath
  }

  /** Restarts Spark on `cores` cores (the single-core baseline). */
  def restart(cores: Int): Unit = {
    probes.detach()
    spark.stop()
    spark = Main.session(cores, work)
    probes = new Probes(spark, tracer)
  }

  /** The measured window, in epoch ms; per-layer figures cover only it. */
  var clockStartMs = 0.0
  var clockEndMs = 0.0
  def measure[T](body: => T): T = {
    Main.log("set-up done; clock starts")
    clockStartMs = Clock.nowMs
    try body
    finally {
      clockEndMs = Clock.nowMs
      Main.log("clock stops")
    }
  }
  def inClock(ms: Double): Boolean = ms >= clockStartMs && ms <= clockEndMs

  private var cleanupErrors = 0
  def cleanupErrorCount: Int = cleanupErrors

  /** Best-effort cleanup after the clock stops: an error is logged and
    * counted as run health, never as a failed operation.
    */
  def cleanup(what: String)(body: => Unit): Unit =
    try body
    catch {
      case e: Exception =>
        cleanupErrors += 1
        System.err.println(s"[perfbench] cleanup of $what failed: $e")
    }

  def deleteTree(path: String): Unit = cleanup(path) {
    val root = new File(path).toPath
    if (java.nio.file.Files.exists(root))
      java.nio.file.Files.walk(root).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.delete(p))
  }
}

/** Entry point: `perfbench.Main --workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir>`. Prints the workload's figures by name,
  * then one JSON line; exits 1 if any output was wrong.
  */
object Main {
  private val started = System.nanoTime()

  /** A progress line on stderr, stamped with seconds since JVM start. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench] +${(System.nanoTime() - started) / 1e9}%.1fs $msg")

  val Workloads: Map[String, Ctx => Outcome] = Map(
    "flow_ingest" -> FlowIngest.run,
    "trend_dashboard" -> TrendDashboard.run,
    "doc_dedup_stream" -> DocDedupStream.run,
  )

  def session(cores: Int, work: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def arg(args: Array[String], k: String): String = {
    val i = args.indexOf(s"--$k")
    if (i < 0 || i + 1 >= args.length) throw new IllegalArgumentException(s"missing --$k")
    args(i + 1)
  }

  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  def main(args: Array[String]): Unit =
    try bench(args)
    catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] run failed: $e")
        e.printStackTrace()
        System.exit(2)
    }

  private def bench(args: Array[String]): Unit = {
    val workload = arg(args, "workload")
    val run = Workloads.getOrElse(workload, throw new IllegalArgumentException(s"unknown workload $workload"))
    val seed = arg(args, "seed").toLong
    val seconds = arg(args, "seconds").toInt
    val traced = arg(args, "trace") == "1"
    val work = new File(arg(args, "work"))
    val load = new LoadMonitor
    load.start()
    val tracer = new Tracer(traced)
    val spark = session(4, work)
    val ctx = new Ctx(seed, seconds, work, tracer, spark, new Probes(spark, tracer))
    log("session ready")
    val o = run(ctx)
    log("workload done")
    val rss = peakRssMb()
    val layers =
      if (!traced) Map.empty[String, Double]
      else {
        val l = Layers.collect(ctx, o)
        if (workload == "flow_ingest") l ++ FlowIngest.singleCoreBaseline(ctx, o.throughputPerS) else l
      }
    ctx.probes.detach()
    ctx.spark.stop()
    load.finish()
    log("session stopped")

    val failed = o.failed
    val sorted = o.latencyMs.sorted
    val p50 = Stats.pct(sorted, 0.5)
    val (tp, tail) = Stats.tail(sorted, o.tailWanted)
    val tailName = if (tp == o.tailWanted) o.names.tail else s"${o.names.tail} (as p${(tp * 100).round})"
    val setup = Stats.median(o.setupS)
    o.failures.take(20).foreach(f => println(s"FAILED: $f"))
    val lines = Seq(
      (o.names.throughput._1, o.throughputPerS, o.names.throughput._2),
      (o.names.p50, p50, "ms"),
      (tailName, tail, "ms"),
      ("setup_s", setup, "s"),
      ("error_rate", failed.toDouble / o.attempted, s"ratio ($failed of ${o.attempted} operations)"),
      ("peak_rss_mb", rss, "MiB"),
    )
    lines.foreach { case (n, v, u) => println(f"$n%-28s ${num(v)}%s $u") }
    println(s"latency samples: ${sorted.length}; p${(tp * 100).round} is the highest percentile with at least " +
      s"10 samples beyond it up to the p${(o.tailWanted * 100).round} wanted; setup runs: " +
      o.setupS.map(s => f"$s%.3f").mkString(", "))
    println(f"health: load1 start ${load.atStart}%.2f max ${load.max}%.2f end ${load.last}%.2f; " +
      s"cleanup errors ${ctx.cleanupErrorCount}")

    val metrics: Seq[(String, Double, String)] =
      if (!traced)
        Seq(
          ("throughput_per_s", o.throughputPerS, "1/s"),
          ("latency_p50_ms", p50, "ms"),
          ("latency_tail_ms", tail, "ms"),
          ("setup_s", setup, "s"),
          ("peak_rss_mb", rss, "MiB"),
        )
      else {
        val all = layers ++ Map(
          "trace.throughput_per_s" -> o.throughputPerS,
          "trace.latency_p50_ms" -> p50,
          "trace.latency_tail_ms" -> tail,
          "trace.setup_s" -> setup,
          "health.load1_start" -> load.atStart,
          "health.load1_max" -> load.max,
          "health.load1_end" -> load.last,
          "health.cleanup_errors" -> ctx.cleanupErrorCount.toDouble,
        )
        Layers.Units.map { case (n, u) => (n, all.getOrElse(n, 0.0), u) }
      }
    val body = metrics.map { case (n, v, u) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ")
    println(s"""{"correct": ${failed == 0}, "attempted": ${o.attempted}, "failed": $failed, "metrics": {$body}}""")
    System.out.flush()
    System.exit(if (failed == 0) 0 else 1)
  }
}
