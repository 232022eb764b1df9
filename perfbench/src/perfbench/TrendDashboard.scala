package perfbench

import java.time.{LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, to_timestamp}
import org.apache.spark.sql.streaming.Trigger

import graft.Tables
import graft.operators.NetflowOps
import graft.sources.FlowGen
import graft.streaming.NetflowStreams

/** `trend_dashboard`: set-up lands seeded flows through the product's own
  * store sink; then one closed-loop client, the dashboard's HTTP handler,
  * cycles a fixed query mix with seeded host and range parameters over
  * the stored data. Every answer is checked against plain Scala over the
  * same flows after the clock stops.
  */
object TrendDashboard {
  val Flows = 100000
  val SetupRuns = 3
  /** One cycle of the mix. Two of five requests are the flagship access
    * trend, so the median falls inside its cluster of latencies.
    */
  val Mix = Seq("access_trend", "window_series", "access_trend", "fan_out", "tick_tail")
  /** Cycles of the mix in the measured phase: a fixed request count, so
    * the reported tail percentile is the same on every run.
    */
  def cycles(seconds: Int): Int = math.max(2, seconds / 2)
  /** Range width of each request kind, in flows (one flow per 100 ms). */
  val Width = Map(
    "access_trend" -> Flows / 2, "window_series" -> 3600, "fan_out" -> 3000, "tick_tail" -> 600)

  final case class Req(kind: String, host: String, lo: Int, hi: Int)

  /** The seeded flows as the generator renders them, for the reference. */
  final class Flows(seed: Long) {
    private def str(f: String, i: Int) = FlowGen.field(f, seed, i).toString
    val ts: Array[String] = Array.tabulate(Flows)(str("timestamp_start", _))
    val src: Array[String] = Array.tabulate(Flows)(str("ip_src", _))
    val dst: Array[String] = Array.tabulate(Flows)(str("ip_dst", _))
    val port: Array[Int] = Array.tabulate(Flows)(FlowGen.field("port_dst", seed, _).asInstanceOf[Int])
    val bytes: Array[Long] = Array.tabulate(Flows)(FlowGen.field("bytes", seed, _).asInstanceOf[Long])
    val packets: Array[Long] = Array.tabulate(Flows)(FlowGen.field("packets", seed, _).asInstanceOf[Long])
  }

  def request(rnd: scala.util.Random, f: Flows, kind: String): Req = {
    val w = Width(kind)
    val lo = rnd.nextInt(Flows - w)
    val j = lo + rnd.nextInt(w)
    Req(kind, if (rnd.nextBoolean()) f.dst(j) else f.src(j), lo, lo + w - 1)
  }

  /** The request as the dashboard issues it: a public NetflowOps call
    * over the store (timed as plan building), then the collect.
    */
  def query(store: DataFrame, f: Flows, r: Req): DataFrame = {
    val (lo, hi) = (f.ts(r.lo), f.ts(r.hi))
    def ranged(c: String) = store.filter(NetflowOps.rangeFilter(col(c), lo, hi))
    r.kind match {
      case "access_trend" => NetflowOps.accessTrend(store, r.host, lo, hi)
      case "window_series" =>
        NetflowOps.flowWindowAgg(
          ranged("timestamp").withColumn("ts", to_timestamp(col("timestamp"), NetflowStreams.TimestampFormat)),
          col("ts"), Seq.empty)
          .select(col("window.start"), col("bytes"), col("packets"))
      case "fan_out" =>
        NetflowOps.fanOutProfile(ranged("timestamp").withColumn("day", NetflowOps.day(col("timestamp"))), 3)
      case "tick_tail" => NetflowOps.tick(ranged("timestamp_arrival"))
    }
  }

  private val Fmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")

  /** Plain-Scala answer to `r`, rendered like the collected rows. */
  def reference(f: Flows, r: Req): Seq[Seq[Any]] = {
    val idx = r.lo to r.hi
    r.kind match {
      case "access_trend" =>
        idx.groupBy(i => f.ts(i).substring(0, 10)).toSeq.sortBy(_._1).map { case (day, is) =>
          def s(p: Int => Boolean, v: Array[Long]) = is.filter(p).map(v(_)).sum
          val in = (i: Int) => f.dst(i) == r.host
          val out = (i: Int) => f.src(i) == r.host
          Seq(day, s(in, f.bytes), s(in, f.packets), s(out, f.bytes), s(out, f.packets))
        }
      case "window_series" =>
        idx.groupBy { i =>
          val ms = LocalDateTime.parse(f.ts(i), Fmt).toInstant(ZoneOffset.UTC).toEpochMilli
          ms - Math.floorMod(ms, 10000L)
        }.toSeq.sortBy(_._1).map { case (w, is) => Seq(w, is.map(f.bytes(_)).sum, is.map(f.packets(_)).sum) }
      case "fan_out" =>
        idx.groupBy(i => (f.ts(i).substring(0, 10), f.src(i))).toSeq.sortBy(_._1).map { case ((d, s), is) =>
          val ports = is.map(f.port(_)).distinct.length.toLong
          Seq(d, s, is.length.toLong, ports, is.map(f.dst(_)).distinct.length.toLong, ports >= 3)
        }
      case "tick_tail" =>
        idx.map(i => Seq(f.ts(i).substring(11, 19), f.bytes(i))).sortBy(s => (s(0).toString, s(1).toString))
    }
  }

  /** Collected rows in the reference's shape; unordered results sorted. */
  def rendered(kind: String, rows: Array[Row]): Seq[Seq[Any]] = kind match {
    case "window_series" =>
      rows.toSeq.map(r => Seq(r.getTimestamp(0).getTime, r.getLong(1), r.getLong(2))).sortBy(_.head.asInstanceOf[Long])
    case "tick_tail" =>
      rows.toSeq.map(r => Seq(r.getString(0), r.getLong(1))).sortBy(s => (s(0).toString, s(1).toString))
    case _ => rows.toSeq.map(_.toSeq)
  }

  def run(ctx: Ctx): Outcome = {
    val f = new Flows(ctx.seed)
    val records = FlowIngest.rows(ctx.seed, 0, Flows)
    // Set-up: land the flows through the store sink, from a fresh store each time.
    val setups = (1 to SetupRuns).map { r =>
      val tag = s"dash$r"
      RecordLog.create(tag, FlowGen.JsonSchema, Flows).append(records.iterator)
      val dir = ctx.dir(s"store_$tag")
      val t0 = Clock.nowMs
      NetflowStreams
        .storeSink(
          NetflowOps.parseRawNetflow(RecordLog.stream(ctx.spark, tag, FlowIngest.MaxRowsPerBatch)),
          s"$dir/flows.parquet", ctx.dir(s"ckpt_$tag"), Trigger.AvailableNow())
        .queryName(s"land_$tag")
        .start()
        .awaitTermination()
      val s = (Clock.nowMs - t0) / 1000
      RecordLog.drop(tag)
      (dir, s)
    }
    val storeDir = setups.last._1
    val rnd = new scala.util.Random(ctx.seed)
    val done = ArrayBuffer[(Req, Array[Row], Double, Double)]() // request, rows, latency ms, build ms

    def issue(r: Req): Unit = {
      val trace = s"req${done.length}"
      val t0 = Clock.nowMs
      var buildMs = 0.0
      val rows = ctx.probes.request(trace, "client", r.kind) {
        val df = ctx.tracer.time(trace, "plans", "build", 4) {
          val df = query(Tables.table(ctx.spark, storeDir, "flows"), f, r)
          buildMs = Clock.nowMs - t0
          df
        }
        df.collect()
      }
      done += ((r, rows, Clock.nowMs - t0, buildMs))
    }
    Mix.foreach(k => issue(request(rnd, f, k))) // warm-up cycle, checked but not timed
    val warm = done.length
    val elapsedS = ctx.measure {
      val t0 = Clock.nowMs
      (0 until cycles(ctx.seconds)).foreach(_ => Mix.foreach(k => issue(request(rnd, f, k))))
      (Clock.nowMs - t0) / 1000
    }

    var failed = 0L
    val failures = ArrayBuffer[String]()
    done.foreach { case (r, rows, _, _) =>
      if (rendered(r.kind, rows) != reference(f, r)) {
        failed += 1
        if (failures.length < 10) failures += s"$r: ${rows.length} rows differ from the reference"
      }
    }
    val timed = done.drop(warm)
    val layers =
      if (!ctx.traced) Map.empty[String, Double]
      else {
        val (files, bytes) = Layers.files(storeDir)
        Map(
          "tables.store_files" -> files,
          "tables.store_bytes" -> bytes,
          "plans.build_ms" -> timed.map(_._4).sum / timed.length,
        )
      }
    val resultRows = timed.map(_._2.length.toLong).sum
    setups.foreach { case (dir, _) => ctx.deleteTree(dir) }
    (1 to SetupRuns).foreach(r => ctx.deleteTree(ctx.dir(s"ckpt_dash$r")))
    println(s"requests: ${timed.length} in ${elapsedS}s, ${resultRows} result rows; " +
      Mix.distinct.map(k => f"$k ${Stats.median(timed.filter(_._1.kind == k).map(_._3))}%.1f ms").mkString(", "))
    Outcome(
      attempted = done.length,
      failed = failed,
      failures = failures.toSeq,
      throughputPerS = timed.length / elapsedS,
      latencyMs = timed.map(_._3).toArray,
      tailWanted = 0.95,
      setupS = setups.map(_._2),
      names = Names(("queries_per_s", "queries/s"), "query_latency_p50_ms", "query_latency_p95_ms"),
      layers = layers ++ Map("tables.result_rows" -> resultRows.toDouble),
    )
  }
}
