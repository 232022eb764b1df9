package perfbench

import scala.jdk.CollectionConverters._

/** The per-layer metrics of a traced run. Every workload reports every
  * name; a layer a workload does not touch reads 0, which is the
  * "predicted no change" side of the mapping in perfbench/README.md.
  */
object Layers {
  val Units: Seq[(String, String)] = Seq(
    "sources.rows_offered" -> "count",
    "sources.backlog_rows_max" -> "count",
    "sources.generator_late_ms_max" -> "ms",
    "streaming.batches" -> "count",
    "streaming.batch_ms_p50" -> "ms",
    "streaming.add_batch_ms" -> "ms",
    "streaming.query_planning_ms" -> "ms",
    "streaming.wal_commit_ms" -> "ms",
    "streaming.commit_offsets_ms" -> "ms",
    "streaming.latest_offset_ms" -> "ms",
    "streaming.state_commit_ms" -> "ms",
    "streaming.state_rows" -> "count",
    "streaming.state_bytes" -> "bytes",
    "streaming.rows_dropped_by_watermark" -> "count",
    "streaming.speedup_vs_1core" -> "ratio",
    "exec.tasks" -> "count",
    "exec.task_run_ms" -> "ms",
    "exec.task_cpu_ms" -> "ms",
    "exec.gc_ms" -> "ms",
    "exec.core_busy_ratio" -> "ratio",
    "exec.shuffle_write_bytes" -> "bytes",
    "exec.shuffle_read_bytes" -> "bytes",
    "exec.spill_bytes" -> "bytes",
    "exec.records_read" -> "count",
    "tables.store_files" -> "count",
    "tables.store_bytes" -> "bytes",
    "tables.bytes_written" -> "bytes",
    "tables.scan_files" -> "count",
    "tables.scan_bytes" -> "bytes",
    "tables.scan_rows" -> "count",
    "tables.rows_per_result_row" -> "ratio",
    "plans.build_ms" -> "ms",
    "plans.analysis_ms" -> "ms",
    "plans.optimization_ms" -> "ms",
    "plans.planning_ms" -> "ms",
    "plans.execute_ms" -> "ms",
    "lsh_index.ingest_batch_ms_p50" -> "ms",
    "lsh_index.candidate_pairs" -> "count",
    "lsh_index.verified_pairs" -> "count",
    "lsh_index.verify_hit_ratio" -> "ratio",
    "lsh_index.files" -> "count",
    "lsh_index.max_files_per_bucket" -> "count",
    "lsh_index.bytes" -> "bytes",
    "lsh_index.dup_recall" -> "ratio",
    "self_ms.client" -> "ms",
    "self_ms.sources" -> "ms",
    "self_ms.streaming" -> "ms",
    "self_ms.plans" -> "ms",
    "self_ms.exec" -> "ms",
    "self_ms.lsh_index" -> "ms",
    "trace.spans" -> "count",
    "trace.overhead_ms" -> "ms",
    "trace.throughput_per_s" -> "1/s",
    "trace.latency_p50_ms" -> "ms",
    "trace.latency_tail_ms" -> "ms",
    "trace.setup_s" -> "s",
    "health.load1_start" -> "load",
    "health.load1_max" -> "load",
    "health.load1_end" -> "load",
    "health.cleanup_errors" -> "count",
  )

  /** Streaming metrics over the progress of the named queries. Phase
    * times are means per batch; state figures are the last batch's.
    */
  def streaming(ctx: Ctx, queries: Seq[String]): Map[String, Double] = {
    val ps = queries.flatMap(ctx.probes.progress.of).filter(p => ctx.inClock(ProgressLog.startMs(p)))
    if (ps.isEmpty) Map.empty
    else {
      def mean(phase: String) = ps.map(ProgressLog.dur(_, phase)).sum / ps.length
      val last = queries.flatMap(q => ps.filter(ProgressLog.name(_) == q).lastOption)
      val ops = ps.flatMap(_.stateOperators)
      Map(
        "streaming.batches" -> ps.length.toDouble,
        "streaming.batch_ms_p50" -> Stats.median(ps.map(ProgressLog.dur(_, "triggerExecution"))),
        "streaming.add_batch_ms" -> mean("addBatch"),
        "streaming.query_planning_ms" -> mean("queryPlanning"),
        "streaming.wal_commit_ms" -> mean("walCommit"),
        "streaming.commit_offsets_ms" -> mean("commitOffsets"),
        "streaming.latest_offset_ms" -> mean("latestOffset"),
        "streaming.state_commit_ms" -> ops.map(_.commitTimeMs.toDouble).sum / ps.length,
        "streaming.state_rows" -> last.flatMap(_.stateOperators).map(_.numRowsTotal.toDouble).sum,
        "streaming.state_bytes" -> last.flatMap(_.stateOperators).map(_.memoryUsedBytes.toDouble).sum,
        "streaming.rows_dropped_by_watermark" -> ops.map(_.numRowsDroppedByWatermark.toDouble).sum,
      )
    }
  }

  /** Bytes and file count of the parquet files under `dir`. */
  def files(dir: String): (Double, Double) = {
    val root = new java.io.File(dir).toPath
    if (!java.nio.file.Files.exists(root)) (0.0, 0.0)
    else {
      val fs = java.nio.file.Files.walk(root).iterator().asScala
        .filter(p => p.toString.endsWith(".parquet")).map(_.toFile.length).toSeq
      (fs.length.toDouble, fs.sum.toDouble)
    }
  }

  /** Counters every workload shares over the measured window: task
    * metrics, query executions and their scans, and the self time of
    * each layer over the recorded spans.
    */
  def collect(ctx: Ctx, o: Outcome): Map[String, Double] = {
    val e = ctx.probes.exec.get
    val wallMs = ctx.clockEndMs - ctx.clockStartMs
    val ts = e.tasks.asScala.filter(t => ctx.inClock(t.endMs)).toSeq
    val qs = e.executions.asScala.filter(q => ctx.inClock(q.endMs)).toSeq
    def tsum(f: TaskRec => Long) = ts.map(f).sum.toDouble
    def qmean(f: QeRec => Double) = if (qs.isEmpty) 0.0 else qs.map(f).sum / qs.length
    val spans = (ctx.tracer.all ++ ctx.probes.progress.all.flatMap(ProgressLog.spans))
      .filter(s => ctx.inClock(s.startMs))
    val generic = Map(
      "exec.tasks" -> ts.length.toDouble,
      "exec.task_run_ms" -> tsum(_.runMs),
      "exec.task_cpu_ms" -> tsum(_.cpuNs) / 1e6,
      "exec.gc_ms" -> tsum(_.gcMs),
      "exec.core_busy_ratio" -> tsum(_.runMs) / (wallMs * ctx.spark.sparkContext.defaultParallelism),
      "exec.shuffle_write_bytes" -> tsum(_.shuffleWrite),
      "exec.shuffle_read_bytes" -> tsum(_.shuffleRead),
      "exec.spill_bytes" -> tsum(_.spill),
      "exec.records_read" -> tsum(_.recordsRead),
      "tables.bytes_written" -> tsum(_.bytesWritten),
      "tables.scan_files" -> qs.map(_.scanFiles).sum.toDouble,
      "tables.scan_bytes" -> qs.map(_.scanBytes).sum.toDouble,
      "tables.scan_rows" -> qs.map(_.scanRows).sum.toDouble,
      "plans.analysis_ms" -> qmean(_.phaseMs.getOrElse("analysis", 0.0)),
      "plans.optimization_ms" -> qmean(_.phaseMs.getOrElse("optimization", 0.0)),
      "plans.planning_ms" -> qmean(_.phaseMs.getOrElse("planning", 0.0)),
      "plans.execute_ms" -> qmean(_.executeMs),
      "trace.spans" -> spans.length.toDouble,
      "trace.overhead_ms" -> ctx.tracer.overheadNs.get / 1e6,
    ) ++ Spans.selfMs(spans).map { case (layer, ms) => s"self_ms.$layer" -> ms }
    val file = new java.io.File(ctx.work.getParentFile, s"${ctx.work.getName}.spans.jsonl")
    Spans.write(file, spans)
    println(s"spans: ${spans.length} written to $file")
    val perResult = o.layers.get("tables.result_rows").map(r => "tables.rows_per_result_row" ->
      generic("tables.scan_rows") / math.max(1.0, r))
    generic ++ o.layers ++ perResult
  }
}
