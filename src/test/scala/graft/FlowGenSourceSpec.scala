package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.sources.FlowGen

/** The custom DataSource V2: deterministic batch reads, column pruning
  * reaching the reader, micro-batch streaming emitting exactly the batch
  * content in rowsPerBatch slices.
  */
class FlowGenSourceSpec extends SparkSpec {
  import spark.implicits._

  private val fmt = classOf[FlowGen].getName

  test("batch reads are deterministic and schema-complete") {
    val a = spark.read.format(fmt).option("rows", 1000).option("seed", 7).load()
    assert(a.schema == FlowGen.Schema)
    assert(a.count() == 1000)
    val b = spark.read.format(fmt).option("rows", 1000).option("seed", 7).load()
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    // A different seed is a different corpus.
    val c = spark.read.format(fmt).option("rows", 1000).option("seed", 8).load()
    assert(c.exceptAll(a).count() > 0)
    // Generated values look like the reference's purge records.
    val row = a.orderBy("timestamp_start").head()
    assert(row.getAs[String]("ip_src").startsWith("10."))
    assert(row.getAs[String]("timestamp_start").startsWith("2019-11-11 06:18:00."))
    assert(Set("tcp", "udp", "icmp")(a.select("ip_proto").distinct().as[String].collect().min))
  }

  test("column pruning reaches the scan (unprojected fields are not generated)") {
    val pruned = spark.read.format(fmt).option("rows", 10).load().select("bytes")
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("cols=bytes"), s"pruned schema not pushed:\n$scan")
    assert(pruned.as[Long].collect().forall(b => b >= 64 && b < 64 + 1400))
  }

  test("micro-batch streaming emits exactly the batch content in offset slices") {
    // rowsPerBatch deliberately differs from the source's default (100):
    // DSv2 hands getTable the original-case option keys, and a missed
    // case-normalization silently falls back to the default — the exact
    // batch-count assertion below catches that (2 batches, not 3).
    val stream = spark.readStream
      .format(fmt)
      .option("rows", 250)
      .option("rowsPerBatch", 125) // exactly 2 triggers: 125 + 125
      .option("seed", 7)
      .load()
    val q = stream.writeStream
      .format("memory").queryName("flowgen_stream").outputMode("append")
      .option(
        "checkpointLocation",
        Files.createTempDirectory("flowgen_ckpt").toFile.getAbsolutePath,
      )
      .start()
    try {
      q.processAllAvailable()
      assert(q.exception.isEmpty, s"query failed: ${q.exception}")
      val streamed = spark.table("flowgen_stream")
      val batch = spark.read.format(fmt).option("rows", 250).option("seed", 7).load()
      assert(streamed.count() == 250)
      assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
      assert(
        q.recentProgress.count(_.numInputRows > 0) == 2,
        s"expected exactly 2 data batches (rowsPerBatch not honored?): " +
          q.recentProgress.map(_.numInputRows).mkString(","),
      )
    } finally q.stop()
  }

  test("emit=json feeds the reference parse pipeline end-to-end (the Kafka path, sans broker)") {
    val raw = spark.read.format(fmt)
      .option("rows", 500).option("seed", 7).option("emit", "json").load()
    assert(raw.schema.fieldNames.toSeq == Seq("value"))
    // P2: the reference's from_json projection over the Kafka value.
    val parsed = graft.operators.NetflowOps.parseRawNetflow(raw)
      .select(
        col("ip_src"), col("bytes"), col("protocol"),
        col("timestamp").as("timestamp_start"), col("port_dst"),
      )
    val structured = spark.read.format(fmt)
      .option("rows", 500).option("seed", 7).load()
      .select(
        col("ip_src"), col("bytes"), col("ip_proto").as("protocol"),
        col("timestamp_start"), col("port_dst"),
      )
    assert(parsed.exceptAll(structured).isEmpty && structured.exceptAll(parsed).isEmpty)
  }

  test("full reference pipeline e2e: FlowGen json → parse → windowed agg → store sink") {
    // The entire reference path with the custom source standing in for
    // Kafka: raw value stream → P2 parse/projection → watermarked 10 s
    // tumbling bytes aggregation → idempotent partitioned store sink —
    // then the landed parquet is compared against the identical batch
    // computation (T5 batch/stream unification).
    import org.apache.spark.sql.streaming.Trigger
    val base = Files.createTempDirectory("flowgen_e2e").toFile.getAbsolutePath
    val raw = spark.readStream.format(fmt)
      .option("rows", 600).option("rowsPerBatch", 200)
      .option("seed", 7).option("emit", "json")
      .load()
    val curated = graft.operators.NetflowOps.parseRawNetflow(raw)
    val windowed = curated
      .withColumn("ts", to_timestamp(col("timestamp")))
      .withWatermark("ts", "30 seconds")
      .groupBy(window(col("ts"), "10 seconds"), col("protocol"))
      .agg(sum(col("bytes")).as("bytes"))
      .select(col("window.start").as("win_start"), col("protocol"), col("bytes"))
    // AvailableNow works because FlowGenStream implements
    // SupportsTriggerAvailableNow: the source drains in rowsPerBatch
    // slices (a plain MicroBatchStream would be snapshot once by the
    // wrapper) and the trailing no-data batch flushes every
    // watermark-closed window before termination.
    val q = graft.streaming.NetflowStreams
      .storeSink(windowed, s"$base/out", s"$base/ckpt", Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000), "AvailableNow query did not terminate")
    assert(q.exception.isEmpty, s"query failed: ${q.exception}")

    val landed = spark.read.parquet(s"$base/out")
      .select("win_start", "protocol", "bytes")
    val batchEquiv = graft.operators.NetflowOps
      .parseRawNetflow(
        spark.read.format(fmt).option("rows", 600).option("seed", 7)
          .option("emit", "json").load(),
      )
      .withColumn("ts", to_timestamp(col("timestamp")))
      .groupBy(window(col("ts"), "10 seconds"), col("protocol"))
      .agg(sum(col("bytes")).as("bytes"))
      .select(col("window.start").as("win_start"), col("protocol"), col("bytes"))
    // AvailableNow + watermark: only windows the final watermark passed
    // have been emitted — landed must be a subset that covers all but
    // the tail window(s), and every landed row must match batch exactly.
    assert(landed.count() > 0)
    assert(landed.exceptAll(batchEquiv).isEmpty, "landed rows must match the batch computation")
  }

  test("a restarted stream resumes from the checkpoint without duplicating rows") {
    // T8 for the custom source: latestOffset(start, limit) is a pure
    // function of the start offset, so a second run over the SAME
    // checkpoint continues where the first stopped — total content must
    // equal the batch read exactly (no gaps, no duplicates).
    val base = Files.createTempDirectory("flowgen_restart").toFile.getAbsolutePath
    def startQuery() = graft.streaming.NetflowStreams
      .storeSink(
        spark.readStream
          .format(fmt)
          .option("rows", 300).option("rowsPerBatch", 100).option("seed", 11)
          .load(),
        s"$base/out", s"$base/ckpt", org.apache.spark.sql.streaming.Trigger.ProcessingTime(0),
      )
      .start()

    // Run 1: let at least one batch commit, then stop mid-stream.
    val q1 = startQuery()
    try {
      eventually(q1.recentProgress.exists(_.numInputRows > 0), 60000)
    } finally q1.stop()
    // Run 2: same checkpoint drains the rest.
    val q2 = startQuery()
    try q2.processAllAvailable()
    finally q2.stop()

    val landed = spark.read.parquet(s"$base/out").drop("batch_id")
    val batch = spark.read.format(fmt).option("rows", 300).option("seed", 11).load()
    assert(landed.count() == 300, s"expected 300 rows, got ${landed.count()}")
    assert(landed.exceptAll(batch).isEmpty && batch.exceptAll(landed).isEmpty)
  }

  private def eventually(cond: => Boolean, timeoutMs: Long): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!cond && System.currentTimeMillis() < deadline) Thread.sleep(100)
    assert(cond, "condition not met within timeout")
  }

  test("engine operators compose over the source unchanged") {
    val flows = spark.read.format(fmt).option("rows", 2000).load()
    val byProto = flows
      .groupBy("ip_proto")
      .agg(count(lit(1)).as("n"), sum("bytes").as("total_bytes"))
      .as[(String, Long, Long)].collect().map { case (k, n, b) => k -> ((n, b)) }.toMap
    assert(byProto.keySet == Set("tcp", "udp", "icmp"))
    assert(byProto.values.map(_._1).sum == 2000)
  }
}
