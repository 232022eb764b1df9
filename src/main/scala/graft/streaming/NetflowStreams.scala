package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.operators.NetflowOps
import graft.schemas.Schemas

/** Structured Streaming edges of the engine (SURVEY.md §2.1/§2.4,
  * §7.2 M3). All *transforms* live in [[graft.operators.NetflowOps]] as
  * pure `DataFrame => DataFrame` functions — the reference's own
  * batch/stream unification argument (README.md:192-193) — so this file
  * only holds sources, sinks, and trigger/watermark policy. The Kafka
  * edge (source S1/S4, re-publish K2) is outside this build: it has no
  * Kafka connector, so Kafka-shaped input is parsed from its `value`
  * bytes ([[parseKafkaNetflow]]) whatever delivered it.
  *
  * Fixes over the reference, by design rather than patching:
  *   - K1/K3 (per-partition / per-row MongoClient): `foreachBatch` with
  *     a columnar datasource write — connection pooling and batching
  *     belong to the connector, executors write in parallel.
  *   - T6 (no late-data story): event-time windows carry a watermark.
  */
object NetflowStreams {

  /** S2 — streaming JSON file source: explicit schema (required by SS),
    * `multiLine` + `maxFilesPerTrigger` exactly as the reference
    * configures it (README.md:226-234).
    */
  def jsonFileSource(
      spark: SparkSession,
      dir: String,
      schema: StructType = Schemas.tsharkPacket,
      maxFilesPerTrigger: Int = 1,
      multiLine: Boolean = true,
  ): DataFrame =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .option("multiLine", multiLine)
      .json(dir)

  /** Kafka bytes → curated 9-field frame (P1∘P2). Works identically on
    * batch and streaming inputs.
    */
  def parseKafkaNetflow(kafkaFrame: DataFrame): DataFrame =
    NetflowOps.parseRawNetflow(NetflowOps.kafkaValue(kafkaFrame))

  /** tshark JSON → 7 flat columns + event-time (P3∘P4). */
  def parseTshark(raw: DataFrame): DataFrame =
    NetflowOps
      .extractTsharkLeaves(raw)
      .withColumn("datetime", NetflowOps.epochStringToTimestamp(col("timestamp")))

  /** K1/K3 fix — store sink: land each micro-batch in a columnar table
    * via foreachBatch (partition-parallel writes, connector-managed
    * connections). 10-second processing-time trigger per the reference
    * (README.md:302-305). Writes are IDEMPOTENT under batch replay:
    * batch `n` is written in overwrite mode straight into its own
    * `path/batch_id=n` directory, so a batch re-run after a
    * crash-before-checkpoint (its commit log entry missing) replaces
    * exactly that directory instead of appending duplicates
    * (effectively-once), and never touches another batch's files.
    * Readers of `path` discover `batch_id` as an int partition column.
    * A batch with no rows still leaves its directory, holding one
    * schema-only parquet file.
    *
    * The batch's one partition is known before it writes, so the
    * directory is written directly, not through `partitionBy`: a
    * dynamic partition overwrite costs per-row partition projections, a
    * `.spark-staging-*` directory, its commit rename and the forked
    * `chmod`s of the extra directories (SCALE.md, streaming section).
    *
    * Per-batch pipeline metrics (row count, total bytes) ride along as
    * observed metrics — zero extra passes, surfaced through each
    * StreamingQueryProgress.
    */
  def storeSink(
      curated: DataFrame,
      path: String,
      checkpoint: String,
      trigger: Trigger = Trigger.ProcessingTime("10 seconds"),
  ): DataStreamWriter[org.apache.spark.sql.Row] =
    curated
      .observe("store_metrics", count(lit(1)).as("rows"), sum(col("bytes")).as("bytes"))
      .writeStream
      .outputMode("append")
      .trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.write.mode("overwrite").parquet(s"$path/batch_id=$batchId")
      }

  /** The curated-record timestamp format (README.md:105). Rows whose
    * timestamp does not parse become NULL event time and are excluded
    * from event-time operators — by SQL semantics, not silently: the
    * store sink's observed row/byte metrics vs the windowed totals
    * surface the discrepancy.
    */
  val TimestampFormat = "yyyy-MM-dd HH:mm:ss.SSSSSS"

  /** String timestamp → event-time column + watermark (shared edge of
    * every event-time operator here).
    */
  private def withEventTime(curated: DataFrame, watermark: String): DataFrame =
    curated
      .withColumn("ts", to_timestamp(col("timestamp"), TimestampFormat))
      .withWatermark("ts", watermark)

  /** A3/S5 internalized — the 10-second flow aggregation the reference
    * outsourced to pmacct, as an event-time windowed agg with a
    * watermark for late data (T6; the reference has none). The
    * aggregation body is `NetflowOps.flowWindowAgg` — the same pure
    * transform whose batch twin is the oracle-checked `nf_window_10s`.
    */
  def windowedBytes(curated: DataFrame, watermark: String = "30 seconds"): DataFrame =
    NetflowOps
      .flowWindowAgg(withEventTime(curated, watermark), col("ts"), Seq.empty)
      .select(col("window.start").as("window_start"), col("bytes"), col("packets"))

  /** Stream-stream interval join: pair each flow A→B with the reverse
    * flow B→A that starts within `window` after it — the bidirectional
    * request/response matching a netflow analyzer needs. Both sides are
    * watermarked so the join state is bounded: rows older than the
    * watermark minus the interval are evicted. The equi-part of the
    * condition (the symmetric 4-tuple) keys the shuffle; the time bound
    * prunes state.
    */
  /** `joinType` extends the pairing to outer semantics: "left_outer"
    * emits unanswered forward flows with NULL reverse columns once the
    * watermark passes their match window — the "requests that never got
    * a response" stream. Outer stream-stream joins require exactly the
    * watermark + interval bound this operator already carries; state
    * eviction is unchanged.
    */
  def pairBidirectionalFlows(
      curated: DataFrame,
      window: String = "10 seconds",
      joinType: String = "inner",
  ): DataFrame =
    NetflowOps
      .stitchBidirectional(
        withEventTime(curated, window)
          .select("ip_src", "ip_dst", "port_src", "port_dst", "bytes", "ts"),
        window,
        joinType,
      )
      .select(
        col("f_ip_src").as("f_src"), col("f_ip_dst").as("f_dst"),
        col("f_port_src").as("f_psrc"), col("f_port_dst").as("f_pdst"),
        col("f_bytes"), col("f_ts"),
        col("r_ip_src").as("r_src"), col("r_ip_dst").as("r_dst"),
        col("r_port_src").as("r_psrc"), col("r_port_dst").as("r_pdst"),
        col("r_bytes"), col("r_ts"),
      )

  /** Streaming exact dedup with bounded state: duplicates of the key
    * columns arriving within the watermark delay are dropped; state for
    * keys older than the watermark is evicted, so memory is bounded by
    * the delay window, not the stream length. The streaming twin of
    * `DedupOps.exactDedup` for at-least-once upstreams (the reference's
    * Kafka receiver path, T8, can re-deliver flow records on recovery).
    */
  def dedupStream(df: DataFrame, keys: Seq[String], eventTimeCol: String, delay: String): DataFrame =
    df.withWatermark(eventTimeCol, delay).dropDuplicatesWithinWatermark(keys)

  /** Streaming fan-out (port-scan) profile — the streaming twin of
    * [[NetflowOps.fanOutProfile]]'s distinct-port count: chained
    * stateful operators in append mode — per-day dedup of
    * (day, ip_src, port_dst) within the watermark horizon, then a
    * per-(day, ip_src) count of the survivors. Distinctness state and
    * window state are both evicted past the watermark, so memory is
    * bounded by the horizon, not the stream length; a re-delivered
    * flow inside the horizon cannot double-count its port (the
    * at-least-once upstream discipline of [[dedupStream]]). When the
    * data is in-horizon — re-deliveries land within the delay, nothing
    * arrives later than it — the emitted counts equal the batch
    * profile's `n_ports` exactly (StreamingSpec pins it against
    * [[NetflowOps.fanOutProfile]]); each day's row emits once the
    * watermark passes the day's end.
    *
    * Expects `ip_src, port_dst, ts` (event time).
    */
  def fanOutStream(flows: DataFrame, watermark: String = "1 day"): DataFrame =
    flows
      .withWatermark("ts", watermark)
      .withColumn("day", date_trunc("DAY", col("ts")))
      .dropDuplicatesWithinWatermark(Seq("day", "ip_src", "port_dst"))
      .groupBy(window(col("ts"), "1 day"), col("ip_src"))
      .agg(count(lit(1)).as("n_ports"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd").as("day"),
        col("ip_src"),
        col("n_ports"),
      )

  /** Memory-sink runner for tests/dev: processes all available input
    * (Trigger.AvailableNow — deterministic over finite input, T3's
    * modern one-time trigger) and returns the finished query.
    */
  def runToMemory(df: DataFrame, name: String, outputMode: String = "append"): StreamingQuery = {
    val q = df.writeStream
      .format("memory")
      .queryName(name)
      .outputMode(outputMode)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    q
  }
}
