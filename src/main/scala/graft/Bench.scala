package graft
import org.apache.spark.sql.SparkSession
object Bench {

  /** Sum of "shuffle bytes written" over every ShuffleExchange in an
    * EXECUTED plan — the SQLMetric accumulators are final once the
    * action completes. The walk unwraps AQE roots and query stages
    * (both hide their physical plan off the child list) and does NOT
    * descend into ReusedExchangeExec (the original exchange appears —
    * and is counted — elsewhere in the tree).
    */
  private def shuffleBytesOf(qe: org.apache.spark.sql.execution.QueryExecution): Long = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
    def walk(p: SparkPlan): Seq[SparkPlan] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case s: QueryStageExec => Seq(s.plan)
        case _: ReusedExchangeExec => Seq.empty
        case o => o.children
      }
      p +: kids.flatMap(walk)
    }
    try
      walk(qe.executedPlan)
        .collect { case e: ShuffleExchangeLike => e }
        .map(e => e.metrics.get("shuffleBytesWritten").map(_.value).getOrElse(0L))
        .sum
    catch { case _: Throwable => 0L }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Warm pass on the smallest SF: triggers classloading, whole-stage
    // codegen compilation, and JIT for every query shape so the timings
    // below measure steady-state query cost, not first-call overhead
    // (cold-vs-warm differs 3-6× per query).
    val warmOnly = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val warmDir = "/root/testdata/sf0.001"
    if (new java.io.File(warmDir).isDirectory) {
      SparkEntry.queries.toSeq.sortBy(_._1)
        .filter { case (n, _) => warmOnly.forall(_.contains(n)) }
        .foreach { case (_, fn) =>
          try fn(spark, warmDir).count()
          catch { case _: Throwable => () }
        }
    }
    // Build the shared persisted indexes for the TIMED dataset here, in
    // the un-timed setup phase: otherwise the one-time corpus build
    // lands in the first indexed query's rep-1 (min-of-2 hides it from
    // the min, but it pollutes the spread and the load window).
    try Registry.prepareSharedArtifacts(spark, sfDir)
    catch { case e: Throwable => System.err.println(s"[bench] index prebuild FAILED: $e") }
    // n=2 per query, report the min: a single contended sample on a
    // shared driver machine otherwise dominates the total (a 2-table
    // union was once measured 50× its steady-state). min-of-2 is the
    // standard de-noising for wall-clock microbenchmarks — contention
    // only ever adds time. The max rides along into the JSON ("spread")
    // for every shown query, so rep-to-rep contention is visible to
    // the round-over-round comparison instead of guessed at.
    //
    // min-of-2 alone is NOT contention-proof: back-to-back reps share
    // the same host-noise window (round 4: four queries' both reps fell
    // in two neighbor-contention windows and 198 s of noise entered the
    // official total). Two fixes below: (a) outliers — min > 10× the
    // suite median — get up to 2 extra reps AFTER the whole first pass,
    // time-shifted out of any first-pass contention window; (b)
    // /proc/loadavg is sampled around every rep and published as
    // "load":[start,max,end] so a contended run carries its own
    // adjudication evidence (this host idles ~0; neighbor noise shows
    // as load ≳ 2 with no local process).
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt
    def loadField(i: Int): Double =
      try {
        val src = scala.io.Source.fromFile("/proc/loadavg")
        try src.mkString.split(" ")(i).toDouble
        finally src.close()
      } catch { case _: Throwable => -1.0 }
    def loadavg(): Double = loadField(0)
    def load5(): Double = loadField(1)
    var load0 = loadavg()
    var loadMax = load0
    // Per-query shuffle bytes (directive: distinguish "slower because
    // loaded" from "slower because a plan grew an Exchange" round over
    // round): a QueryExecutionListener adds up shuffleBytesWritten over
    // EVERY action a query runs (some queries localCheckpoint or build
    // artifacts — multiple QEs per rep). The listener bus is async, so
    // each rep waits for a short event-quiescence window AFTER its
    // timing stops — the wait never enters the measured seconds.
    val shufBytes = new java.util.concurrent.atomic.AtomicLong(0)
    val qeGen = new java.util.concurrent.atomic.AtomicLong(0)
    spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(
          funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long,
      ): Unit = { shufBytes.addAndGet(shuffleBytesOf(qe)); qeGen.incrementAndGet() }
      override def onFailure(
          funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception,
      ): Unit = qeGen.incrementAndGet()
    })
    def quiesce(maxMs: Int = 500): Unit = {
      var last = qeGen.get; var quietMs = 0; var waitedMs = 0
      while (quietMs < 20 && waitedMs < maxMs) {
        Thread.sleep(5); waitedMs += 5
        val g = qeGen.get
        if (g == last) quietMs += 5 else { last = g; quietMs = 0 }
      }
    }
    // One rep: sentinel -1 on failure — a failing query must never
    // produce a plausible-looking benchmark number. Returns
    // (seconds, shuffle MB).
    def rep(
        name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
    ): (Double, Long) = {
      quiesce() // drain the PREVIOUS query's stragglers off this rep's ledger
      val b0 = shufBytes.get
      val t0 = System.nanoTime()
      val ok =
        try { fn(spark, sfDir).count(); true }
        catch { case e: Throwable => System.err.println(s"[bench] $name FAILED: $e"); false }
      val sec = (System.nanoTime() - t0) / 1e9
      loadMax = math.max(loadMax, loadavg())
      quiesce()
      val mb = (shufBytes.get - b0) >> 20
      (if (ok) sec else -1.0, mb)
    }
    // Dev-only iteration filter: SPARK_GRAFT_BENCH_ONLY="q1_agg,nf_burst"
    // times just those queries (empty value → none, streams only). The
    // driver never sets it, so official runs always cover the full
    // registry.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // One UNTIMED warm-up rep per query at the TIMED sf before its timed
    // reps: the sf0.001 warm pass above covers classloading/codegen/JIT
    // but not the timed dataset's page cache or the per-query scratch
    // indexes, and recurring 5-20× cold-rep blowups in the recorded
    // spreads (e.g. dd_index_pairs_capped [1.50, 21.42]) showed min-of-2
    // was spending one of its two reps absorbing cold starts. The warm
    // rep's time and shuffle delta are discarded (loadavg sampling still
    // runs — load during the warm rep is real bench-window load).
    val warmReps = sys.env.getOrElse("SPARK_GRAFT_BENCH_WARM", "1").toInt
    // Quiet-window gate on the TIMED pass: every driver bench window
    // r11–r14 carried neighbor contamination (loadMax 7.8–10.2, spreads
    // to 6.5×) that the min-of-2/re-measure machinery then had to
    // adjudicate. Cheaper to not start dirty: wait (bounded) until the
    // 1-min loadavg drops under the gate before the first timed rep —
    // this also lets the bench's OWN setup load (warm pass + index
    // prebuild above) decay out of the 1-min average, so the published
    // load window reflects the timed pass alone. What was seen and how
    // long the gate held are logged and published ("gated" in the JSON)
    // so a still-contaminated run carries the evidence either way.
    // The gate checks BOTH the 1-min and 5-min averages (round-16
    // lesson: load1 had decayed under the gate while load5 still read
    // 4.5 — the box was busy moments earlier and the driver window
    // drifted ~15% above the quiet reps). The 5-min average includes
    // this bench's OWN setup (warm pass + index prebuild above), so its
    // gate is a LOOSER multiple of the 1-min gate rather than equal to
    // it — a fully quiet host after a busy setup should not burn the
    // whole wait budget; what was seen is published either way.
    val gateLoad = sys.env.getOrElse("SPARK_GRAFT_BENCH_GATE_LOAD", "3.0").toDouble
    val gateLoad5 = sys.env.getOrElse("SPARK_GRAFT_BENCH_GATE_LOAD5", (gateLoad * 1.5).toString).toDouble
    val gateMaxSec = sys.env.getOrElse("SPARK_GRAFT_BENCH_GATE_SEC", "300").toInt
    var gatedSec = 0
    while ((loadavg() >= gateLoad || load5() >= gateLoad5) && gatedSec < gateMaxSec) {
      if (gatedSec == 0)
        System.err.println(
          f"[bench] gating timed pass: load1 ${loadavg()}%.2f / load5 ${load5()}%.2f vs gates $gateLoad%.1f / $gateLoad5%.1f (max wait $gateMaxSec s)")
      Thread.sleep(10000)
      gatedSec += 10
    }
    if (gatedSec > 0)
      System.err.println(
        f"[bench] gated $gatedSec s; starting timed pass at load1 ${loadavg()}%.2f / load5 ${load5()}%.2f")
    // Re-baseline the published load window at the gate's release: the
    // pre-gate sample included the bench's own setup (and whatever the
    // gate waited out) — the evidence readers need is the TIMED pass's.
    load0 = loadavg()
    loadMax = load0
    val load5Start = load5()
    val firstPass = ordered.map { case (name, fn) =>
      (1 to warmReps).foreach(_ => rep(name, fn))
      (name, fn, (1 to reps).map(_ => rep(name, fn)))
    }
    val goodMins = firstPass.flatMap { case (_, _, ts) =>
      val g = ts.map(_._1).filter(_ >= 0); if (g.nonEmpty) Some(g.min) else None
    }.sorted
    val median = if (goodMins.nonEmpty) goodMins(goodMins.size / 2) else 0.0
    val outlierCut = math.max(10 * median, 2.0)
    // Re-measurement is bounded: the adaptive pass may not turn a noisy
    // host into an unbounded bench.
    var extraBudget = sys.env.getOrElse("SPARK_GRAFT_BENCH_EXTRA_SEC", "180").toDouble
    var remeasured = 0
    val results = firstPass.map { case (name, fn, times0) =>
      var times = times0
      var extra = 0
      def goodMin = { val g = times.map(_._1).filter(_ >= 0); if (g.nonEmpty) g.min else -1.0 }
      while (extra < 2 && goodMin > outlierCut && extraBudget > 0) {
        System.err.println(
          f"[bench] $name%-22s min $goodMin%.2f s > ${outlierCut}%.2f s cut — re-measuring (load ${loadavg()}%.2f)",
        )
        val t = rep(name, fn)
        extraBudget -= math.abs(t._1)
        times = times :+ t
        extra += 1
      }
      if (extra > 0) remeasured += 1
      val good = times.map(_._1).filter(_ >= 0)
      val sec = if (good.nonEmpty) good.min else -1.0
      val secMax = if (good.nonEmpty) good.max else -1.0
      // Shuffle volume is deterministic per query; MIN across successful
      // reps is the robust pick — the known slippage mode is a prior
      // rep's listener events draining past the 500 ms quiesce cap INTO
      // the next rep's delta, which inflates (never deflates) it, so max
      // would report the contaminated rep.
      val okShuf = times.filter(_._1 >= 0).map(_._2)
      val shufMb = if (okShuf.nonEmpty) okShuf.min else times.map(_._2).max
      System.err.println(
        f"[bench] $name%-22s $sec%8.2f s  $shufMb%6d MB shuffled  (min of ${times.map(t => f"${t._1}%.2f").mkString("/")})",
      )
      (name, sec, secMax, shufMb)
    }
    val loadEnd = loadavg()
    // Stateful-streaming throughput smoke: FlowGen AvailableNow →
    // transformWithState running totals / session-window aggregation.
    // Per-operator rows/s go into the JSON ("stream") so streaming
    // throughput is machine-comparable round over round like the query
    // times; the [bench-stream] stderr lines remain for eyeballing.
    val streamRates = streamingSmoke(spark, sfDir)
    // One machine-readable line. The driver keeps only the LAST ~2.5 kB
    // of process output — shared with sbt's banner/[success] lines — so:
    // per-query times round to ms, at most 40 (the slowest) queries are
    // shown, and the shown map is serialized FASTEST-FIRST so that when
    // the head of the line falls out of the capture window the surviving
    // tail still carries the slowest (headline) queries, the spread of
    // the top offenders, and the total. The total always covers every
    // query regardless of what is shown.
    def r3(v: Double): String = if (v < 0) "-1" else f"$v%.3f"
    val failed = results.collect { case (k, v, _, _) if v < 0 => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = results.map(_._2).filter(_ >= 0).sum
    // Per-family subtotals (nf/q/dd/sim/tx/mm; TPC-H q1..q22 fold into
    // "q"): the shown-query list truncates to the slowest ~40, so a
    // family-wide drift (e.g. every tx_search_* doubling at once) would
    // otherwise vanish below the cutoff. Subtotals cover EVERY query.
    def familyOf(name: String): String = {
      val p = name.takeWhile(_ != '_')
      if (p.matches("q\\d+")) "q" else p
    }
    val families = results.filter(_._2 >= 0).groupBy { case (n, _, _, _) => familyOf(n) }
      .toSeq.sortBy(_._1)
      .map { case (f, rs) => "\"" + f + "\":" + r3(rs.map(_._2).sum) }
      .mkString("{", ",", "}")
    // Family shuffle volume (MB, every query) + per-query shuffle MB for
    // the shown list: the round-over-round tiebreaker between "loaded
    // host" and "plan regressed to an extra Exchange".
    val famShuf = results.filter(_._2 >= 0).groupBy { case (n, _, _, _) => familyOf(n) }
      .toSeq.sortBy(_._1)
      .map { case (f, rs) => "\"" + f + "\":" + rs.map(_._4).sum }
      .mkString("{", ",", "}")
    val bySlowest = results.sortBy { case (_, v, _, _) => -v }
    // Spread covers EVERY shown query (not just the slowest 8) so the
    // round-over-round comparison can separate noise from regression
    // per query; "load" is the [start, max, end] 1-min loadavg evidence.
    def line(shown: Seq[(String, Double, Double, Long)], omitted: Int): String = {
      val qs = shown.map { case (k, v, _, _) => "\"" + k + "\":" + r3(v) }
        .mkString("{", ",", "}")
      val spread = shown.sortBy { case (_, v, _, _) => -v }.map { case (k, lo, hi, _) =>
        "\"" + k + "\":[" + r3(lo) + "," + r3(hi) + "]"
      }.mkString("{", ",", "}")
      val shuf = shown.sortBy { case (_, v, _, _) => -v }.map { case (k, _, _, mb) =>
        "\"" + k + "\":" + mb
      }.mkString("{", ",", "}")
      val load = s"[${r3(load0)},${r3(loadMax)},${r3(loadEnd)}]"
      val stream = streamRates.map { case (k, v) =>
        "\"" + k + "\":" + (if (v < 0) "-1" else f"$v%.0f")
      }.mkString("{", ",", "}")
      s"""{"metric":"total","unit":"sec","sf":"$sfDir","n":$reps,"queries":$qs,"omitted":$omitted,"failed":$failed,"spread":$spread,"shuffle_mb":$shuf,"families_shuffle_mb":$famShuf,"load":$load,"load5":${r3(load5Start)},"gated":$gatedSec,"remeasured":$remeasured,"families":$families,"stream":$stream,"value":${r3(total)}}"""
    }
    val budget = 1800 // bytes; leaves room for sbt's banner + [success] lines
    var keep = math.min(40, results.size)
    def shown(k: Int) = bySlowest.take(k).sortBy(_._2) // fastest-first serialization
    while (keep > 1 && line(shown(keep), results.size - keep).length > budget)
      keep -= 1
    println(line(shown(keep), results.size - keep))
    // Full per-query dump for the min-of-reps composite
    // (tools/bench_composite.py): the stdout line truncates to the
    // slowest ~40 queries to fit the driver's capture window, but a
    // noise-proof composite needs EVERY query's time from every rep.
    // Official reps set SPARK_GRAFT_BENCH_DUMP to a file path; the
    // stdout contract is unchanged.
    sys.env.get("SPARK_GRAFT_BENCH_DUMP").foreach { path =>
      val qs = results.sortBy(_._1).map { case (k, v, hi, mb) =>
        "\"" + k + "\":{\"sec\":" + r3(v) + ",\"max\":" + r3(hi) + ",\"shuffle_mb\":" + mb + "}"
      }.mkString("{", ",", "}")
      val stream = streamRates.map { case (k, v) =>
        "\"" + k + "\":" + (if (v < 0) "-1" else f"$v%.0f")
      }.mkString("{", ",", "}")
      val load = s"[${r3(load0)},${r3(loadMax)},${r3(loadEnd)}]"
      val json =
        s"""{"sf":"$sfDir","n":$reps,"failed":$failed,"load":$load,"load5":${r3(load5Start)},"gated":$gatedSec,"remeasured":$remeasured,"families":$families,"stream":$stream,"total":${r3(total)},"queries":$qs}"""
      java.nio.file.Files.write(
        java.nio.file.Paths.get(path), json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      System.err.println(s"[bench] full per-query dump → $path")
    }
    spark.stop()
  }

  /** Runs the stateful streaming edges over a finite FlowGen input and
    * prints one `[bench-stream]` line per operator to stderr: rows in,
    * wall seconds, input rows/s. Each pipeline runs once over a small
    * warm input first (cold-start profiling, round 5: the FIRST
    * transformWithState query pays ~7 s of one-time codegen + RocksDB
    * JNI load — 18k rows/s cold vs 51k warm for the identical run), so
    * the timed pass measures steady state like the batch bench's warm
    * pass does. The dominant steady-state cost is the PER-MICRO-BATCH
    * fixed overhead (~0.7–0.9 s per batch: state-store commit +
    * checkpoint per partition — 200k rows measured 72k rows/s at 1
    * batch, 14.6k at 16 batches), which is the provider floor, not the
    * processor: sizing micro-batches is the scale lever. Failures are
    * reported, never fatal — the batch bench line must still be
    * produced. Returns (name, input rows/s) per operator, -1 on
    * failure, for the JSON's "stream" field.
    */
  private def streamingSmoke(spark: SparkSession, sfDir: String): Seq[(String, Double)] = {
    val rows = sys.env.getOrElse("SPARK_GRAFT_STREAM_ROWS", "200000").toInt
    val warmRows = 5000
    val fmt = classOf[graft.sources.FlowGen].getName
    val rates = scala.collection.mutable.Buffer[(String, Double)]()
    // Temp checkpoint dirs are deleted after each run — a bench session
    // makes dozens of runs and must not accumulate them. Best-effort: an
    // IO error is logged per path and never propagates, so a cleanup
    // failure can neither mark a good run FAILED nor abort later runs.
    def rmTree(path: String): Unit =
      try {
        import scala.jdk.CollectionConverters._
        val root = java.nio.file.Paths.get(path)
        if (java.nio.file.Files.exists(root))
          java.nio.file.Files.walk(root).iterator().asScala.toSeq.reverse
            .foreach(p => java.nio.file.Files.deleteIfExists(p))
      } catch {
        // Files.walk's iterator wraps IO errors in UncheckedIOException.
        case e @ (_: java.io.IOException | _: java.io.UncheckedIOException) =>
          System.err.println(s"[bench-stream] cleanup of $path failed: $e")
      }
    // Stream lambdas REGISTER their checkpoint dirs here instead of
    // deleting inline; [[timedN]] flushes after the clock stops, so the
    // deletion cost never lands in a reported rows/s figure.
    val pendingRm = scala.collection.mutable.Buffer[String]()
    def rmLater(path: String): Unit = pendingRm += path
    def flushRm(): Unit = try pendingRm.foreach(rmTree) finally pendingRm.clear()
    def timedN(name: String, warmN: Int, n: Int)(run: Int => Long): Unit =
      try {
        run(warmN)
        flushRm()
        val t0 = System.nanoTime()
        val outRows = run(n)
        val sec = (System.nanoTime() - t0) / 1e9
        // Deferred checkpoint cleanup runs OUTSIDE the timed window (it
        // previously ran inside each stream lambda — walking a RocksDB
        // checkpoint tree is filesystem work, not stream throughput).
        flushRm()
        System.err.println(
          f"[bench-stream] $name%-18s in=$n out=$outRows $sec%7.2f s  ${n / sec}%10.0f rows/s",
        )
        rates += name -> n / sec
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench-stream] $name FAILED: $e")
          flushRm()
          rates += name -> -1.0
      }
    def timed(name: String)(run: Int => Long): Unit = timedN(name, warmRows, rows)(run)
    def flowGen(emit: String, n: Int) = spark.readStream.format(fmt)
      .option("rows", n).option("rowsPerBatch", n / 4)
      .option("seed", 11).option("emit", emit).load()

    timed("running_totals") { n =>
      import spark.implicits._
      val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
      spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
      )
      try {
        val ckpt = java.nio.file.Files.createTempDirectory("bench_tws").toFile.getAbsolutePath
        val in = graft.operators.NetflowOps.parseRawNetflow(flowGen("json", n))
          .select($"ip_src", $"bytes").as[(String, Long)]
        val q = graft.streaming.RunningTotals.runningBytes(in)
          .toDF("host", "total_bytes")
          .writeStream.format("noop").outputMode("update")
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        val out = q.recentProgress.map(_.sink.numOutputRows).filter(_ > 0).sum
        rmLater(ckpt)
        out
      } finally {
        prev match {
          case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
          case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        }
      }
    }

    timed("burst_peaks") { n =>
      import spark.implicits._
      import org.apache.spark.sql.functions._
      val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
      spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
      )
      try {
        val ckpt = java.nio.file.Files.createTempDirectory("bench_burst").toFile.getAbsolutePath
        val in = graft.operators.NetflowOps.parseRawNetflow(flowGen("json", n))
          .select(
            xxhash64(col("ip_src")).as("userId"),
            col("bytes").cast("long").as("id"),
            unix_micros(to_timestamp(col("timestamp"))).as("tsMicros"),
          ).as[graft.streaming.BurstEvent]
        val q = graft.streaming.BurstStream.peaks(in)
          .toDF()
          .writeStream.format("noop").outputMode("update")
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        val out = q.recentProgress.map(_.sink.numOutputRows).filter(_ > 0).sum
        rmLater(ckpt)
        out
      } finally {
        prev match {
          case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
          case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        }
      }
    }

    timed("session_window") { n =>
      import org.apache.spark.sql.functions._
      val ckpt = java.nio.file.Files.createTempDirectory("bench_sess").toFile.getAbsolutePath
      val curated = graft.operators.NetflowOps.parseRawNetflow(flowGen("json", n))
        .withColumn("ts", to_timestamp(col("timestamp")))
        .withWatermark("ts", "30 seconds")
      val agg = curated
        .groupBy(session_window(col("ts"), "30 seconds"), col("ip_src"))
        .agg(sum(col("bytes")).as("bytes"), count(lit(1)).as("n_flows"))
      val q = agg.writeStream.format("noop").outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val out = q.recentProgress.map(_.sink.numOutputRows).filter(_ > 0).sum
      rmLater(ckpt)
      out
    }

    // The heaviest streaming face: continuous media ingest dedup — per
    // micro-batch container decode + dHash fingerprint + bucketed
    // candidate join against the index-so-far + index-grow appends
    // (MediaIndexOps.dedupBatchAndGrow per micro-batch). Rows/s here is
    // dominated by the per-batch FIXED cost (two localCheckpoints + two
    // saveAsTable appends + ledger writes per batch), which is exactly
    // the number a capacity plan needs: batch sizing is the scale lever,
    // same as the transformWithState smokes. The index is grown from
    // EMPTY so the run measures the full ingest path, not a warm-read
    // shortcut.
    val mediaRows = sys.env.getOrElse("SPARK_GRAFT_MEDIA_ROWS", "6000").toInt
    val mediaGen = new java.util.concurrent.atomic.AtomicLong(0)
    timedN("media_dedup", warmN = 600, n = mediaRows) { n =>
      import org.apache.spark.sql.functions.col
      import spark.implicits._
      val prefix = s"benchmedia${mediaGen.incrementAndGet()}"
      Seq("fps", "chunks").foreach(t => spark.sql(s"DROP TABLE IF EXISTS ${prefix}_$t"))
      val media = graft.operators.MultimodalOps
        .encodeMedia(Tables.documents(spark, sfDir).orderBy("doc_id").limit(n))
        .select(col("doc_id"), col("media_type"), col("payload"))
      val arrivals = media.as[(Long, String, Array[Byte])].collect().sortBy(_._1)
      // Empty seed index: the stream's state starts from nothing.
      graft.operators.MediaIndexOps.writeIndex(
        media.filter(col("doc_id") < 0),
        regions = 49, blockBands = 6, buckets = 8, prefix = prefix)
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val in = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, String, Array[Byte])]
      var dupRows = 0L
      val ckpt = java.nio.file.Files.createTempDirectory("bench_media").toFile.getAbsolutePath
      val q = graft.operators.IndexCatalog.stream(
        in.toDF().toDF("doc_id", "media_type", "payload"), ckpt) { (batch, _) =>
        dupRows += graft.operators.MediaIndexOps.dedupBatchAndGrow(
          spark, prefix, batch, regions = 49, blockBands = 6, maxHamming = 5).count()
      }
      try arrivals.grouped(math.max(1, arrivals.length / 4)).foreach { w =>
        in.addData(w.toSeq); q.processAllAvailable()
      } finally { q.stop(); rmLater(ckpt) }
      Seq("fps", "chunks").foreach(t => spark.sql(s"DROP TABLE IF EXISTS ${prefix}_$t"))
      graft.operators.IndexCatalog.dropLedger(spark, prefix)
      dupRows
    }

    // The TEXT counterpart: continuous MinHash-LSH ingest dedup
    // (LshIndexOps.streamingDedup) — per micro-batch shingle→signature→
    // band pass + banded candidate join against the index-so-far +
    // exact-Jaccard verify + index-grow appends, from an empty index.
    // Same per-batch fixed-cost profile as media_dedup; together they
    // cover both index-growing streaming faces.
    val textRows = sys.env.getOrElse("SPARK_GRAFT_TEXT_ROWS", "4000").toInt
    timedN("text_dedup", warmN = 400, n = textRows) { n =>
      import org.apache.spark.sql.functions.col
      import spark.implicits._
      val prefix = s"benchtext${mediaGen.incrementAndGet()}"
      Seq("docs", "bands").foreach(t => spark.sql(s"DROP TABLE IF EXISTS ${prefix}_$t"))
      val docs = Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("text")).orderBy("doc_id").limit(n)
      val arrivals = docs.as[(Long, String)].collect().sortBy(_._1)
      graft.operators.LshIndexOps.writeIndex(
        docs.filter(col("doc_id") < 0),
        n = 3, k = 32, bands = 8, buckets = 8, prefix = prefix)
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
      var dupRows = 0L
      val ckpt = java.nio.file.Files.createTempDirectory("bench_text").toFile.getAbsolutePath
      val q = graft.operators.LshIndexOps.streamingDedup(
        spark, prefix, in.toDF().toDF("doc_id", "text"),
        n = 3, k = 32, bands = 8, buckets = 8, threshold = 0.8, checkpoint = ckpt,
        onDups = (d, _) => dupRows += d.count())
      try arrivals.grouped(math.max(1, arrivals.length / 4)).foreach { w =>
        in.addData(w.toSeq); q.processAllAvailable()
      } finally { q.stop(); rmLater(ckpt) }
      Seq("docs", "bands").foreach(t => spark.sql(s"DROP TABLE IF EXISTS ${prefix}_$t"))
      graft.operators.IndexCatalog.dropLedger(spark, prefix)
      dupRows
    }

    // The READ-ONLY streaming face: the upload-time blocklist screen
    // (MediaIndexOps.frameMatchAgainstIndex per micro-batch) — arriving
    // videos fingerprint per frame and match against the STORED image
    // index; no appends, no ledger, batches independent. The blocklist
    // index is the shared artifact prepareSharedArtifacts already built
    // (a blocklist pre-exists its screen — building it here would time
    // the wrong thing), so rows/s here is the pure screen cost:
    // per-batch decode + frame fingerprints + the banded join against
    // bucketed storage. This is the capacity number the upload pipeline
    // plans against. Default stays under the sf0.1 video count (1666) so
    // the reported rows/s divides by the rows actually streamed.
    val screenRows = sys.env.getOrElse("SPARK_GRAFT_SCREEN_ROWS", "1500").toInt
    timedN("frame_match", warmN = 150, n = screenRows) { n =>
      import org.apache.spark.sql.functions.col
      import spark.implicits._
      val pre = MultimodalQueries.fullMediaIndex(spark, sfDir, "image")
      val vids = graft.operators.MultimodalOps
        .encodeMedia(Tables.documents(spark, sfDir))
        .filter(col("media_type") === "video")
        .orderBy("doc_id").limit(n)
        .select(col("doc_id"), col("media_type"), col("payload"))
      val arrivals = vids.as[(Long, String, Array[Byte])].collect().sortBy(_._1)
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val in = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, String, Array[Byte])]
      var matchRows = 0L
      val ckpt = java.nio.file.Files.createTempDirectory("bench_screen").toFile.getAbsolutePath
      val q = graft.operators.IndexCatalog.stream(
        in.toDF().toDF("doc_id", "media_type", "payload"), ckpt) { (batch, _) =>
        matchRows += graft.operators.MediaIndexOps.frameMatchAgainstIndex(
          spark, pre, batch, regions = 49, blockBands = 6, maxHamming = 5).count()
      }
      try arrivals.grouped(math.max(1, arrivals.length / 4)).foreach { w =>
        in.addData(w.toSeq); q.processAllAvailable()
      } finally { q.stop(); rmLater(ckpt) }
      matchRows
    }

    // Vector-index streaming ingest (VectorIndexOps.ingestBatch):
    // micro-batch = intent/commit append against the FROZEN stored
    // codebook. The index is seeded once outside the timing (an index
    // pre-exists its ingest stream); each run streams a fresh disjoint
    // vec_id range in 4 waves from a fresh checkpoint (the ledger keys
    // batches by query id, so no earlier run's batches alias these),
    // so rows/s is the steady-state ingest cost — the
    // per-batch argmin assign + two bucketed appends + ledger round
    // trips, the capacity number a continuous embedding pipeline plans
    // against.
    val vecRows = sys.env.getOrElse("SPARK_GRAFT_VEC_ROWS", "2000").toInt
    locally {
      import org.apache.spark.sql.functions.col
      import spark.implicits._
      // appId-keyed temp DB (like every scratch index): a raw name in
      // the default DB would collide with a prior JVM's orphaned
      // warehouse directory (LOCATION_ALREADY_EXISTS).
      val pre = Tables.tempIndexDb(spark, "bench", "vecingest")
      Seq("codebook", "vectors", "cellstats", "tombstones")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS ${pre}_$t"))
      val emb = Tables.embeddings(spark, sfDir)
      graft.operators.VectorIndexOps.writeIndex(
        emb, dim = 64, isSeed = col("vec_id") < 8, iters = 2, buckets = 8, prefix = pre)
      // A BOUNDED driver-side sample for row synthesis (cycled modulo
      // its length) — collecting the whole embeddings table would scale
      // the driver heap with the SF for no benchmarking gain.
      val base = emb.select("vec_id", "embedding").as[(Long, Array[Float])]
        .sort("vec_id").take(4096)
      val idGen = new java.util.concurrent.atomic.AtomicLong(1000000L)
      def ingestRun(n: Int, waves: Int): Long = {
        val off = idGen.getAndAdd(n.toLong)
        val rows = (0 until n).map(i => (off + i, base(i % base.length)._2))
        implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
        val in = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(Long, Array[Float])]
        val ckpt = java.nio.file.Files.createTempDirectory("bench_vecing").toFile.getAbsolutePath
        val q = graft.operators.IndexCatalog.stream(
          in.toDF().toDF("vec_id", "embedding"), ckpt)(
          graft.operators.VectorIndexOps.ingestBatch(spark, pre, _, _))
        try rows.grouped(math.max(1, rows.length / waves)).foreach { w =>
          in.addData(w); q.processAllAvailable()
        } finally { q.stop(); rmLater(ckpt) }
        spark.table(s"${pre}_vectors").count()
      }
      timedN("vector_ingest", warmN = 500, n = vecRows)(ingestRun(_, waves = 4))
      // The batch-size scaling point: the same ingest at ~20k vectors
      // per micro-batch. The per-batch FIXED cost (ledger round trips +
      // two bucketed appends + checkpoint commit) is the floor the
      // small-batch face pays 4×; one large batch amortizes it, so
      // rows/s here demonstrates micro-batch sizing as the scale lever
      // a continuous embedding pipeline actually pulls.
      val vecRows20k = sys.env.getOrElse("SPARK_GRAFT_VEC20K_ROWS", "20000").toInt
      timedN("vector_ingest_b20k", warmN = 2000, n = vecRows20k)(ingestRun(_, waves = 1))
    }

    // Search-index streaming ingest (SearchIndexOps.indexBatch):
    // micro-batch = doc-level replay guard + four ledgered bucketed
    // appends (postings/lexicon/meta/docs). Seeded once outside the timing
    // from the corpus (an index pre-exists its ingest stream); each run
    // streams a fresh disjoint doc_id range in 4 waves with texts
    // cycled from a bounded corpus sample, against a dropped ledger +
    // fresh checkpoint, so rows/s is the steady-state indexing cost a
    // continuous document pipeline plans against.
    val searchRows = sys.env.getOrElse("SPARK_GRAFT_SEARCH_ROWS", "4000").toInt
    locally {
      import org.apache.spark.sql.functions.col
      import spark.implicits._
      val pre = Tables.tempIndexDb(spark, "bench", "searchingest")
      Seq("postings", "lexicon", "meta", "docs")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS ${pre}_$t"))
      val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
      graft.operators.SearchIndexOps.writeIndex(docs, buckets = 8, prefix = pre)
      val base = docs.as[(Long, String)].sort("doc_id").take(1024)
      val idGen = new java.util.concurrent.atomic.AtomicLong(1000000L)
      timedN("search_ingest", warmN = 400, n = searchRows) { n =>
        val off = idGen.getAndAdd(n.toLong)
        val rows = (0 until n).map(i => (off + i, base(i % base.length)._2))
        graft.operators.IndexCatalog.dropLedger(spark, pre)
        implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
        val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
        val ckpt = java.nio.file.Files.createTempDirectory("bench_searching").toFile.getAbsolutePath
        val q = graft.operators.IndexCatalog.stream(in.toDF().toDF("doc_id", "text"), ckpt)(
          (batch, _) => graft.operators.SearchIndexOps.indexBatch(spark, pre, batch))
        try rows.grouped(math.max(1, rows.length / 4)).foreach { w =>
          in.addData(w); q.processAllAvailable()
        } finally { q.stop(); rmLater(ckpt) }
        spark.table(s"${pre}_docs").count()
      }
    }
    rates.toSeq
  }
}
