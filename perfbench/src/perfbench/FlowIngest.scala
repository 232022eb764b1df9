package perfbench

import java.time.{LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.functions.{col, count, lit, sum}
import org.apache.spark.sql.streaming.Trigger

import graft.Tables
import graft.operators.NetflowOps
import graft.sources.FlowGen
import graft.streaming.NetflowStreams

/** `flow_ingest`: pmacct purge records go through the reference's Path 1
  * as two streaming queries over one record log: parse → store sink, and
  * parse → 10 s event-time window. An open-loop generator thread offers
  * records at a fixed rate well below capacity and stamps each with its
  * due time; latency runs from that due time to the commit of the store
  * batch that holds the record. A second phase appends a fixed backlog
  * at once and times how fast both queries drain it.
  */
object FlowIngest {
  val RatePerS = 20000
  val MaxRowsPerBatch = 100000
  val WarmRows = 10000
  val SetupRuns = 3
  val TickMs = 2.0
  val TimeoutMs = 90000L
  def fixedRows(seconds: Int): Int = (RatePerS * seconds * 0.8).toInt
  def backlogRows(seconds: Int): Int = 25000 * seconds

  private def row(seed: Long, i: Long): InternalRow =
    new GenericInternalRow(Array[Any](FlowGen.jsonValue(seed, i)))

  /** Records [from, until), generated on four threads before the clock starts. */
  def rows(seed: Long, from: Int, until: Int): Array[InternalRow] = {
    val out = new Array[InternalRow](until - from)
    val threads = (0 until 4).map { t =>
      new Thread(() => {
        var i = from + t
        while (i < until) { out(i - from) = row(seed, i); i += 4 }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    out
  }

  /** The two streaming queries of one pipeline instance. */
  final class Pipeline(ctx: Ctx, val tag: String) {
    val storeDir: String = ctx.dir(s"store_$tag")
    val storeName = s"store_$tag"
    val windowName = s"window_$tag"
    private val checkpoints = Seq(ctx.dir(s"ckpt_$storeName"), ctx.dir(s"ckpt_$windowName"))
    val windows = new ConcurrentHashMap[Long, (Long, Long)]()
    private def parsed: DataFrame =
      NetflowOps.parseRawNetflow(RecordLog.stream(ctx.spark, tag, MaxRowsPerBatch))
    val store = NetflowStreams
      .storeSink(parsed, s"$storeDir/flows.parquet", checkpoints(0), Trigger.ProcessingTime(0))
      .queryName(storeName)
      .start()
    val window = NetflowStreams.windowedBytes(parsed)
      .writeStream
      .queryName(windowName)
      .outputMode("update")
      .trigger(Trigger.ProcessingTime(0))
      .option("checkpointLocation", checkpoints(1))
      .foreachBatch { (df: DataFrame, _: Long) =>
        df.collect().foreach(r => windows.put(r.getTimestamp(0).getTime, (r.getLong(1), r.getLong(2))))
      }
      .start()

    /** Latest commit time of the two queries' batches reaching `offset`. */
    def awaitBoth(offset: Long): Double =
      math.max(
        ctx.probes.progress.awaitCommit(storeName, offset, TimeoutMs),
        ctx.probes.progress.awaitCommit(windowName, offset, TimeoutMs))

    def stop(): Unit = { store.stop(); window.stop() }

    /** Drops the log and removes the store and checkpoints, best effort. */
    def remove(): Unit = {
      RecordLog.drop(tag)
      (storeDir +: checkpoints).foreach(ctx.deleteTree)
    }
  }

  /** Starts a pipeline on a fresh log and waits until the warm-up records
    * are committed by both queries. Returns the pipeline, its log and the
    * set-up time in seconds.
    */
  private def setUp(ctx: Ctx, tag: String, warm: Array[InternalRow], capacity: Int)
      : (Pipeline, RecordLog, Double) = {
    val log = RecordLog.create(tag, FlowGen.JsonSchema, capacity)
    val t0 = Clock.nowMs
    val p = new Pipeline(ctx, tag)
    log.append(warm.iterator)
    p.awaitBoth(warm.length)
    (p, log, (Clock.nowMs - t0) / 1000)
  }

  /** Open-loop offer of records [from, from + n) at `RatePerS`. */
  final class Generator(ctx: Ctx, log: RecordLog, from: Int, n: Int) extends Thread("perfbench-generator") {
    @volatile var t0Ms = 0.0
    val offers = ArrayBuffer[(Double, Int)]() // (time appended, log size after)
    var lateMaxMs = 0.0
    def dueMs(i: Int): Double = t0Ms + (i - from) * 1000.0 / RatePerS
    override def run(): Unit = {
      t0Ms = Clock.nowMs
      var next = from
      while (next < from + n) {
        val due = math.min(from + n, from + ((Clock.nowMs - t0Ms) * RatePerS / 1000).toInt + 1)
        if (due > next) {
          val lo = next
          ctx.tracer.time("generator", "sources", "offer", 1) {
            log.append(Iterator.range(lo, due).map(i => row(ctx.seed, i)))
          }
          val now = Clock.nowMs
          lateMaxMs = math.max(lateMaxMs, now - dueMs(lo))
          offers += ((now, due))
          next = due
        }
        val waitMs = math.max(TickMs, dueMs(next) - Clock.nowMs)
        LockSupport.parkNanos((waitMs * 1e6).toLong)
      }
    }
  }

  def run(ctx: Ctx): Outcome = {
    val seed = ctx.seed
    val fixed = fixedRows(ctx.seconds)
    val backlog = backlogRows(ctx.seconds)
    val total = WarmRows + fixed + backlog
    val warm = rows(seed, 0, WarmRows)
    val setups = (1 to SetupRuns).map { r =>
      val last = r == SetupRuns
      val s = setUp(ctx, s"flows$r", warm, if (last) total else WarmRows)
      if (!last) s._1.stop()
      s
    }
    val (pipe, log, _) = setups.last
    val drain = rows(seed, WarmRows + fixed, total)

    val gen = new Generator(ctx, log, WarmRows, fixed)
    val drainS = ctx.measure {
      gen.start()
      gen.join()
      pipe.awaitBoth(WarmRows + fixed)
      val d0 = Clock.nowMs
      ctx.tracer.time("drain", "sources", "offer", 1)(log.append(drain.iterator))
      (pipe.awaitBoth(total) - d0) / 1000
    }
    pipe.stop()

    // Latency of each fixed-rate record: due time → commit of its store batch.
    val latency = new Array[Double](fixed)
    var backlogMax = 0
    val storeProgress = ctx.probes.progress.of(pipe.storeName)
    storeProgress.foreach { p =>
      val (s, e) = (ProgressLog.startOffset(p).toInt, ProgressLog.endOffset(p).toInt)
      val commit = ProgressLog.commitMs(p)
      (math.max(s, WarmRows) until math.min(e, WarmRows + fixed)).foreach { i =>
        latency(i - WarmRows) = commit - gen.dueMs(i)
      }
      if (e > WarmRows && s < WarmRows + fixed) {
        val offered = gen.offers.takeWhile(_._1 <= commit).lastOption.map(_._2).getOrElse(WarmRows)
        backlogMax = math.max(backlogMax, offered - e)
      }
    }

    // Correctness: the store and the window totals against the records offered.
    val failures = ArrayBuffer[String]()
    var failed = 0L
    val stored = Tables.table(ctx.spark, pipe.storeDir, "flows")
      .agg(count(lit(1)), sum(col("bytes"))).head()
    val fmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")
    var bytes = 0L
    val expected = scala.collection.mutable.HashMap[Long, (Long, Long)]()
    (0 until total).foreach { i =>
      val b = FlowGen.field("bytes", seed, i).asInstanceOf[Long]
      val p = FlowGen.field("packets", seed, i).asInstanceOf[Long]
      val ts = LocalDateTime.parse(FlowGen.field("timestamp_start", seed, i).toString, fmt)
      val ms = ts.toInstant(ZoneOffset.UTC).toEpochMilli
      val w = ms - Math.floorMod(ms, 10000L)
      val (wb, wp) = expected.getOrElse(w, (0L, 0L))
      expected(w) = (wb + b, wp + p)
      bytes += b
    }
    if (stored.getLong(0) != total) {
      failed += math.abs(stored.getLong(0) - total)
      failures += s"store holds ${stored.getLong(0)} rows, $total offered"
    } else if (stored.getLong(1) != bytes) {
      failed += 1
      failures += s"store byte sum ${stored.getLong(1)}, offered $bytes"
    }
    val got = pipe.windows.asScala
    (expected.keySet ++ got.keySet).foreach { w =>
      if (expected.get(w) != got.get(w)) {
        failed += 1
        if (failures.length < 10) failures += s"window $w: got ${got.get(w)}, expected ${expected.get(w)}"
      }
    }

    val layers =
      if (!ctx.traced) Map.empty[String, Double]
      else {
        val (files, fileBytes) = Layers.files(pipe.storeDir)
        Layers.streaming(ctx, Seq(pipe.storeName, pipe.windowName)) ++ Map(
          "sources.rows_offered" -> (fixed + backlog).toDouble,
          "sources.backlog_rows_max" -> backlogMax.toDouble,
          "sources.generator_late_ms_max" -> gen.lateMaxMs,
          "tables.store_files" -> files,
          "tables.store_bytes" -> fileBytes,
        )
      }
    println(f"generator: ${fixed} records at $RatePerS/s, late by at most ${gen.lateMaxMs}%.2f ms; " +
      s"backlog at most $backlogMax rows; drain of $backlog rows took ${drainS}s")

    setups.foreach(_._1.remove())
    Outcome(
      attempted = total + expected.size,
      failed = failed,
      failures = failures.toSeq,
      throughputPerS = backlog / drainS,
      latencyMs = latency,
      tailWanted = 0.99,
      setupS = setups.map(_._3),
      names = Names(("ingest_rows_per_s", "rows/s"), "ingest_latency_p50_ms", "ingest_latency_p99_ms"),
      layers = layers,
    )
  }

  /** The drain phase again on one core, for `streaming.speedup_vs_1core`. */
  def singleCoreBaseline(ctx: Ctx, rate4: Double): Map[String, Double] = {
    ctx.restart(1)
    val backlog = backlogRows(ctx.seconds)
    val (p, log, _) = setUp(ctx, "flows1core", rows(ctx.seed, 0, WarmRows), WarmRows + backlog)
    val drain = rows(ctx.seed, WarmRows, WarmRows + backlog)
    val d0 = Clock.nowMs
    log.append(drain.iterator)
    val rate1 = backlog / ((p.awaitBoth(WarmRows + backlog) - d0) / 1000)
    p.stop()
    p.remove()
    println(f"single-core drain: $rate1%.0f rows/s against $rate4%.0f rows/s on four cores")
    Map("streaming.speedup_vs_1core" -> rate4 / rate1)
  }
}
